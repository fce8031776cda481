package graft

import org.apache.spark.sql.SparkSession

import graft.ingest.{Bronze, Manifest}
import graft.model.Schemas

/** Unified CLI (SURVEY §7.1 `cli/Main`): one entry point over the
  * library's operational surfaces.
  *
  * {{{
  *   graft.Main inventory <sfDir>             run every query, print row counts
  *   graft.Main ingest <entity> <json> <lake> bronze→silver ingest + manifest
  *   graft.Main clone <lake> <campaignId> <idPrefix> <ingestDate>
  *                                            GET→sanitize→POST: clone a
  *                                            campaign hierarchy back into
  *                                            the lake (A7 round-trip)
  *   graft.Main verify <sfDir> <outDir>       correctness dump (Verify.main)
  *   graft.Main bench                         benchmark JSON line (Bench.main)
  *   graft.Main audit [sfDir]                 plan assertions (PlanAudit.main)
  * }}}
  */
object Main {

  /** The one SparkSession factory: every main and the test suites
    * build their session here. `cores` sets both `local[n]` and the
    * shuffle partition count; it defaults to `SPARK_GRAFT_CPUS`, else
    * the JVM's available processors. [[ExtraConf]] applies over the
    * shared conf block.
    */
  private[graft] def session(
      cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = ExtraConf(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietNoise()
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "inventory" :: sfDir :: Nil =>
      val spark = session()
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        println(s"[inventory] $name: ${fn(spark, sfDir).count()} rows")
      }
      spark.stop()

    case "ingest" :: entity :: json :: lake :: Nil =>
      val spark = session()
      // table names are the plural forms Inspector.fromLake / clone read
      val (schema, silver, table) = entity match {
        case "campaign" => (Schemas.campaign, Bronze.campaignSilver _, "campaigns")
        case "ad_set" => (Schemas.adSet, Bronze.adSetSilver _, "ad_sets")
        case "ad" => (Schemas.ad, Bronze.adSilver _, "ads")
        case "insights" => (Schemas.insights, Bronze.insightsSilver _, "insights")
        case other => sys.error(s"unknown entity '$other' (campaign|ad_set|ad|insights)")
      }
      // tag the quarantine slice with the BATCH IDENTITY (the input
      // file's CANONICAL path — `data/b.json`, `./data/b.json` and the
      // absolute spelling all resolve to one tag), not the wall-clock
      // day: a replay of the same file then overwrites its own slice
      // even when run on a later calendar day (ADVICE r6 #4), while
      // distinct input files keep distinct slices
      val batchTag = {
        val file = new java.io.File(json)
        val base = file.getName.replaceAll("[^A-Za-z0-9._-]", "_")
        s"$base-${Hashing.md5hex(file.getCanonicalPath).take(8)}"
      }
      val clean = Bronze.quarantine(
        Bronze.readJson(spark, json, schema), lake, entity,
        batchTag = Some(batchTag))
      val out = silver(clean)
        .withColumn("ingest_date", org.apache.spark.sql.functions.current_date())
      // manifest records THIS batch's row count, not the cumulative
      // table size after the dynamic-partition overwrite
      val rows = out.count()
      Bronze.writePartitioned(out, s"$lake/$table")
      val manifest = Manifest.record(out, s"$lake/$table", entity, rows)
      println(s"[ingest] $entity: $rows rows -> $lake/$table ($manifest)")
      spark.stop()

    case "clone" :: lake :: campaignId :: idPrefix :: ingestDate :: Nil =>
      val spark = session()
      def tb(n: String) = spark.read.parquet(s"$lake/$n")
      val cloned = graft.queries.Cloner.cloneCampaign(
        tb("campaigns"), tb("ad_sets"), tb("ads"), campaignId, idPrefix,
        newName = org.apache.spark.sql.functions.lit(null))
      graft.queries.Cloner.appendToLake(cloned, lake, ingestDate)
      println(s"[clone] $campaignId -> $idPrefix$campaignId appended at $ingestDate")
      spark.stop()

    case "verify" :: rest => Verify.main(rest.toArray)
    case "bench" :: Nil => Bench.main(Array.empty)
    case "audit" :: rest => PlanAudit.main(rest.toArray)
    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage: inventory <sfDir> | ingest <entity> <json> <lake> |
           |       clone <lake> <campaignId> <idPrefix> <ingestDate> |
           |       verify <sfDir> <outDir> | bench | audit [sfDir]""".stripMargin)
      sys.exit(2)
  }
}
