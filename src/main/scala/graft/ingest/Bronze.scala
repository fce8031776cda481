package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Sanitize
import graft.model.Schemas

/** Bronze → silver ingest of the ad-entity lake.
  *
  * Mirrors the reference's landing semantics (A5:
  * `output/<date>/<entity>_<account>.json`, whole-file overwrite,
  * src/utils/storage.py:9-16) on a Spark-native layout:
  * date-partitioned Parquet with dynamic partition overwrite, which is
  * the same per-day idempotency contract the reference gets from
  * overwriting the day's file.
  *
  * Bronze is permissive schema-on-read (the lake is RAW JSON with "no
  * schema version management", docs/technical-spec.md:85-88): rows
  * that don't parse land in `_corrupt_record` instead of failing the
  * job. Silver applies the sanitize layer (budgets → minor-unit longs
  * with mutual exclusion, timestamps → UTC, ids stay strings).
  */
object Bronze {

  /** Read one entity's raw JSON (array-of-objects or JSONL) into
    * bronze with its declared schema + corrupt-record capture.
    */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", StringType)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("multiLine", "true") // reference lands JSON arrays per file
      .json(path)
  }

  /** Quarantine split: rows whose raw JSON failed the declared schema
    * (non-null `_corrupt_record`) are appended verbatim to
    * `<lake>/_quarantine/<entity>/` for replay after a schema fix, and
    * only clean rows flow on to the silver builders. The reference
    * logs-and-skips malformed entries (B5 guards,
    * main_extractor.py:102-104); a lake additionally needs the
    * replayable audit trail — silently dropping the `_corrupt_record`
    * column would let half-null rows masquerade as data.
    *
    * The bad-row probe is `head(1)` (first-row short-circuit), not a
    * count; the quarantine write is only the bad sliver. With a
    * `batchTag` (the ingest CLI derives one from the batch file's
    * canonical path) the sliver lands in a
    * tag-scoped subdirectory in OVERWRITE mode, so re-running the same
    * batch — the advertised recovery path — replaces its quarantine
    * slice instead of appending duplicate corrupt rows that a later
    * replay would process twice. Without a tag the write appends
    * (ad-hoc/one-shot callers).
    * The bronze frame is persisted for the split (Spark disallows
    * corrupt-column-only queries straight off a raw JSON scan — and
    * the caller's silver pass reuses the parse anyway), released after
    * the caller's first action via [[graft.Caching.withPersistedThrough]]:
    * the bad-row probe and write are actions on the cached frame too,
    * and releasing after the first of them let the write and the
    * caller's first action race the asynchronous unpersist onto the
    * raw scan, which Spark rejects.
    */
  def quarantine(bronze: DataFrame, lake: String, entity: String,
      batchTag: Option[String] = None): DataFrame =
    graft.Caching.withPersistedThrough(bronze) { b =>
      val bad = b.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw"))
      if (bad.head(1).nonEmpty) batchTag match {
        case Some(tag) =>
          bad.write.mode("overwrite")
            .parquet(s"$lake/_quarantine/$entity/batch=$tag")
        case None =>
          bad.write.mode("append").parquet(s"$lake/_quarantine/$entity")
      }
      b.filter(col("_corrupt_record").isNull)
    }

  /** Write a bronze/silver table date-partitioned, idempotent per day
    * (dynamic partition overwrite ≈ the reference's whole-file
    * overwrite A5).
    */
  def writePartitioned(df: DataFrame, path: String, dateCol: String = "ingest_date"): Unit = {
    df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write.mode("overwrite").partitionBy(dateCol).parquet(path)
  }

  /** Write a silver table bucketed (+sorted) on its join key: two
    * tables bucketed the same way join with NO exchange — the
    * co-located-join layout for the fact⋈fact paths that would
    * otherwise shuffle at every query (SCALE.md "Joins"). External
    * table so the files live in the lake, not the warehouse.
    */
  def writeBucketed(df: DataFrame, table: String, path: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Apply a per-column rule only when the column exists — the
    * reference's `if field_name not in values: continue` pattern
    * (api_helpers.py:220-236 and friends); a silver builder then
    * accepts any bronze subset without failing analysis.
    */
  private def whenPresent(df: DataFrame, c: String)(f: Column => Column): DataFrame =
    if (df.columns.contains(c)) df.withColumn(c, f(col(c))) else df

  /** campaign silver: sanitize budgets (G1/G2/G3), timestamps (G7),
    * stop_time policy (G10), account id (G26). Ids remain strings
    * (G11 exclusion).
    */
  def campaignSilver(bronze: DataFrame): DataFrame = {
    val (daily, lifetime) =
      Sanitize.budgetMutualExclusion(col("daily_budget"), col("lifetime_budget"))
    bronze
      .filter(col("id").isNotNull) // B5 guard: skip records lacking id
      .withColumn("account_id", Sanitize.normalizeAccountId(col("account_id")))
      .withColumn("daily_budget", daily)
      .withColumn("lifetime_budget", lifetime)
      .withColumn("spend_cap", Sanitize.normalizeSpendCap(col("spend_cap")))
      .withColumn("start_time", Sanitize.parseDatetime(col("start_time")))
      .transform(Sanitize.normalizeEntityTimes(_, "campaign")) // G10: stop_time
      .withColumn("created_time", Sanitize.parseDatetime(col("created_time")))
      .withColumn("updated_time", Sanitize.parseDatetime(col("updated_time")))
      .withColumn("special_ad_categories",
        coalesce(col("special_ad_categories"), array().cast(ArrayType(StringType))))
      .transform(Sanitize.normalizeBrandSafetyLists) // G6
      .transform(Sanitize.sanitizeNested) // G12: promoted_object etc.
      .drop("_corrupt_record")
  }

  /** ad_set silver — the reference's richest entity:
    *  - B5 id guards (id AND the campaign FK, main_extractor.py:102-104),
    *  - G26 account id, G1/G2 budget mutual exclusion, G1 bid_amount,
    *  - G10 adset time policy: `end_time` AND `stop_time`
    *    normalize-or-drop (api_helpers.py:220-236),
    *  - G23 targeting wiring: struct passes, JSON-string parses, junk
    *    nulls (pages/4_AdSet_Creator.py:83-102),
    *  - G6 brand-safety list normalize.
    * Column rules apply only where the column exists, so schema-drifted
    * bronzes (a missing optional field) still silver cleanly.
    */
  def adSetSilver(bronze: DataFrame): DataFrame = {
    val guarded = bronze
      .filter(col("id").isNotNull)
      .filter(col("campaign_id").isNotNull)
    val budgeted =
      if (Seq("daily_budget", "lifetime_budget").forall(guarded.columns.contains)) {
        val (daily, lifetime) =
          Sanitize.budgetMutualExclusion(col("daily_budget"), col("lifetime_budget"))
        guarded.withColumn("daily_budget", daily).withColumn("lifetime_budget", lifetime)
      } else guarded
    val typed = Seq(
      "account_id" -> Sanitize.normalizeAccountId _,
      "bid_amount" -> Sanitize.parsePositiveAmount _,
      "budget_remaining" -> ((c: Column) => c.try_cast(LongType)),
      "start_time" -> Sanitize.parseDatetime _,
      "created_time" -> Sanitize.parseDatetime _,
      "updated_time" -> Sanitize.parseDatetime _
    ).foldLeft(budgeted) { case (df, (name, rule)) => whenPresent(df, name)(rule) }
    typed
      .transform(Sanitize.normalizeEntityTimes(_, "adset")) // G10
      .transform(Sanitize.normalizeTargeting(_,
        Schemas.adSet("targeting").dataType.asInstanceOf[StructType])) // G23
      .transform(Sanitize.normalizeBrandSafetyLists) // G6
      .transform(Sanitize.sanitizeNested) // G12: promoted_object, targeting
      .drop("_corrupt_record")
  }

  /** ad silver: flatten the nested `creative{id}` projection to a flat
    * FK column (main_extractor.py:386-395).
    */
  def adSilver(bronze: DataFrame): DataFrame =
    bronze
      .filter(col("id").isNotNull)
      .withColumn("creative_id", col("creative.id"))
      .drop("creative", "_corrupt_record")
      .withColumn("created_time", Sanitize.parseDatetime(col("created_time")))
      .withColumn("updated_time", Sanitize.parseDatetime(col("updated_time")))

  /** creative silver: the reference fetches creatives one distinct id
    * at a time and keeps the LAST payload per id — a dict overwrite
    * (api_extractor.py:139-173). Batch re-expression: keyed keep-latest
    * when the lake carries a fetch-version column (E4, one shuffle on
    * id), plain id-dedup otherwise. Name unescapes (G13); the nested
    * `object_story_spec` takes the G12 recursive sanitize, same as the
    * campaign/ad_set payload structs.
    */
  def creativeSilver(bronze: DataFrame, version: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val guarded = bronze.filter(col("id").isNotNull)
    val deduped = version.filter(guarded.columns.contains) match {
      case Some(v) =>
        val w = Window.partitionBy(col("id")).orderBy(col(v).desc)
        guarded.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None =>
        // no version column: the survivor must still be DETERMINISTIC
        // (dropDuplicates keeps whichever row a partition delivers
        // first — two runs of the same ingest could emit different
        // silver rows). Rank on the full serialized payload: arbitrary
        // but total and reproducible on any partitioning.
        val w = Window.partitionBy(col("id"))
          .orderBy(to_json(struct(guarded.columns.toIndexedSeq.map(col): _*)).desc)
        guarded.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
    }
    deduped
      .transform(df => whenPresent(df, "name")(
        graft.expressions.UnicodeUnescape.unicodeUnescape))
      .transform(Sanitize.sanitizeNested) // G12: object_story_spec
      .drop("_corrupt_record")
  }

  /** D5 "missing creatives" audit: distinct creative FKs on ads with
    * no fetched creative row (the reference's `missing` list,
    * api_extractor.py:144-159) — an anti join, never a collect.
    */
  def missingCreatives(ads: DataFrame, creatives: DataFrame): DataFrame =
    ads.select(col("creative_id"))
      .filter(col("creative_id").isNotNull).distinct()
      .join(creatives.select(col("id").as("creative_id")),
        Seq("creative_id"), "left_anti")

  /** pixel silver (get_pixels.py:21-36): id guard, G13 name unescape,
    * G7 `last_fired_time` parse (normalize-or-null).
    */
  def pixelSilver(bronze: DataFrame): DataFrame =
    bronze
      .filter(col("id").isNotNull)
      .transform(df => whenPresent(df, "name")(
        graft.expressions.UnicodeUnescape.unicodeUnescape))
      .transform(df => whenPresent(df, "last_fired_time")(Sanitize.parseDatetime))
      .drop("_corrupt_record")

  /** insights silver: string measures → typed (spend double, counts
    * long), keys/dates kept; `actions[]` stays array-of-struct for the
    * breakdown aggregation (D4).
    */
  def insightsSilver(bronze: DataFrame): DataFrame = {
    val longCols = Seq("impressions", "reach", "clicks", "unique_clicks",
      "inline_link_clicks", "inline_post_engagement")
    val typed = longCols.foldLeft(bronze) { (df, c) =>
      df.withColumn(c, col(c).try_cast(LongType))
    }
    typed
      .withColumn("spend", col("spend").try_cast(DoubleType))
      .withColumn("frequency", col("frequency").try_cast(DoubleType))
      .withColumn("date_start", col("date_start").cast(DateType))
      .withColumn("date_stop", col("date_stop").cast(DateType))
      .drop("_corrupt_record")
  }
}

/** Incremental (daily) semantics: watermark filter + keep-latest
  * upsert — H1/H5 (main_extractor.py:42-51 + per-file overwrite).
  */
object Incremental {

  /** B3: `updated_time > watermark` — at scan time this pushes to the
    * source as a predicate (streaming twin: `withWatermark`).
    */
  def updatedSince(df: DataFrame, watermark: Column): DataFrame =
    df.filter(col("updated_time") > watermark)

  /** H5: merge a fresh batch into the existing table keeping the
    * newest row per id (the reference's overwrite-by-file upsert,
    * expressed as a keyed dedup that scales: one shuffle on the key).
    */
  def upsertKeepLatest(existing: DataFrame, fresh: DataFrame,
      key: String = "id", version: String = "updated_time"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(version).desc)
    existing.unionByName(fresh, allowMissingColumns = true)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
