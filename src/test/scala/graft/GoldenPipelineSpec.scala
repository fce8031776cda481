package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Bronze, Incremental}
import graft.model.Schemas
import graft.queries.{Insights, Inspector}

/** Golden ad-domain pipeline (SURVEY §5.2.6 / FIXTURES §B): bronze
  * JSON fixtures → silver sanitize → inspector report / insights
  * aggregates, compared against checked-in expectations.
  */
class GoldenPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name.json").getPath

  private lazy val campaigns =
    Bronze.campaignSilver(Bronze.readJson(spark, fixture("campaigns"), Schemas.campaign))
  private lazy val adSets =
    Bronze.adSetSilver(Bronze.readJson(spark, fixture("ad_sets"), Schemas.adSet))
  private lazy val ads =
    Bronze.adSilver(Bronze.readJson(spark, fixture("ads"), Schemas.ad))
  private lazy val creatives =
    Bronze.creativeSilver(Bronze.readJson(spark, fixture("creatives"), Schemas.creative))
  private lazy val pixels =
    Bronze.pixelSilver(Bronze.readJson(spark, fixture("pixels"), Schemas.pixel))
  private lazy val insights =
    Bronze.insightsSilver(Bronze.readJson(spark, fixture("insights"), Schemas.insights))

  test("campaign silver: budgets sanitized with mutual exclusion") {
    val rows = campaigns.orderBy("id")
      .select("id", "daily_budget", "lifetime_budget", "spend_cap", "account_id")
      .collect()
    // C1: daily wins, spend_cap '0' -> unset, account prefixed
    assert(rows(0).getLong(1) == 150000L && rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(0).getString(4) == "act_123456789")
    // C2: daily '0' invalid -> lifetime kept, spend_cap '' -> unset
    assert(rows(1).isNullAt(1) && rows(1).getLong(2) == 900000L && rows(1).isNullAt(3))
  }

  test("ad_set silver: budgets, G10 end_time policy, targeting, account id") {
    val rows = adSets.orderBy("id")
      .withColumn("end_time_s", date_format(col("end_time"), "yyyy-MM-dd HH:mm:ss"))
      .collect()
    val as1 = rows(0)
    assert(as1.getString(as1.fieldIndex("account_id")) == "act_123456789")
    // budget mutual exclusion: daily wins
    assert(as1.getLong(as1.fieldIndex("daily_budget")) == 50000L)
    assert(as1.isNullAt(as1.fieldIndex("lifetime_budget")))
    // G10: empty end_time is dropped (null), not an empty string
    assert(as1.isNullAt(as1.fieldIndex("end_time")))
    assert(as1.getLong(as1.fieldIndex("budget_remaining")) == 12345L)
    assert(as1.isNullAt(as1.fieldIndex("bid_amount")))
    // typed targeting passes through intact
    val t1 = as1.getStruct(as1.fieldIndex("targeting"))
    assert(t1.getLong(t1.fieldIndex("age_min")) == 25L)
    val as2 = rows(1)
    assert(as2.isNullAt(as2.fieldIndex("daily_budget")))
    assert(as2.getLong(as2.fieldIndex("lifetime_budget")) == 300000L)
    // G10: parseable end_time normalizes to a UTC timestamp
    assert(as2.getString(as2.fieldIndex("end_time_s")) == "2025-09-30 00:00:00")
    assert(as2.getLong(as2.fieldIndex("bid_amount")) == 120L)
  }

  test("ad_set silver parses a JSON-string targeting column (G23 drift)") {
    import spark.implicits._
    val drifted = Seq(
      ("as_x", "c_1", """{"geo_locations":{"countries":["TW"]},"age_min":30,"age_max":50}"""),
      ("as_y", "c_1", "not json"),
      ("as_z", null, """{"age_min":1}""")).toDF("id", "campaign_id", "targeting")
    val rows = Bronze.adSetSilver(drifted).orderBy("id").collect()
    assert(rows.length == 2) // null campaign_id FK is guarded out (B5)
    val t = rows(0).getStruct(rows(0).fieldIndex("targeting"))
    assert(t.getLong(t.fieldIndex("age_min")) == 30L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("targeting"))) // junk -> null
  }

  test("ad_set silver applies G12 inside promoted_object (nested unescape)") {
    import spark.implicits._
    // literal é sequence embedded in the nested value (the JSON
    // \\ keeps it from being decoded by the JSON parser itself)
    val drifted = Seq(
      ("as_n", "c_1", """{"pixel_id":"55","custom_event_type":"caf\\u00e9_evt"}"""))
      .toDF("id", "campaign_id", "po")
      .withColumn("promoted_object",
        from_json(col("po"), Schemas.adSet("promoted_object").dataType))
      .drop("po")
    val r = Bronze.adSetSilver(drifted).head()
    val po = r.getStruct(r.fieldIndex("promoted_object"))
    assert(po.getString(po.fieldIndex("pixel_id")) == "55") // id untouched
    assert(po.getString(po.fieldIndex("custom_event_type")) == "café_evt")
  }

  test("ad silver: nested creative{id} flattened to creative_id FK") {
    val m = ads.select("id", "creative_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("120200000000201") == "9900001")
    assert(m("120200000000203") == "9900001")
    assert(!ads.columns.contains("creative"))
  }

  test("creative silver: keep-latest per id when a fetch version exists") {
    import spark.implicits._
    val refetched = Seq(
      ("cr_1", "old \\u540d\\u7a31", 1L), // escaped unicode name
      ("cr_1", "new", 2L),
      ("cr_2", "only", 1L),
      (null, "no id", 9L)).toDF("id", "name", "fetch_ts")
    val rows = Bronze.creativeSilver(refetched, version = Some("fetch_ts"))
      .orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("cr_1", "cr_2")) // id guard + dedup
    assert(rows(0).getString(1) == "new") // last fetch wins (E4)
    // without a version column the survivor must still be DETERMINISTIC:
    // the full-payload ordering picks the same row on every run and on
    // any partitioning (dropDuplicates' arbitrary pick would not)
    val unversioned = refetched.drop("fetch_ts")
    val run1 = Bronze.creativeSilver(unversioned)
      .orderBy("id").collect().map(_.getString(1)).toSeq
    val run2 = Bronze.creativeSilver(unversioned.repartition(7))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(run1.length == 2 && run1 == run2,
      "survivor identity must not depend on partitioning")
  }

  test("creative silver: G13 name unescape + G12 inside object_story_spec") {
    val byId = creatives.orderBy("id").collect()
    assert(byId.length == 3)
    val spec = byId(0).getStruct(byId(0).fieldIndex("object_story_spec"))
    val link = spec.getStruct(spec.fieldIndex("link_data"))
    assert(link.getString(link.fieldIndex("message")) == "買一送一")
  }

  test("pixel silver: last_fired_time parses, null passes, id guarded") {
    val rows = pixels.orderBy("id").collect()
    assert(rows.length == 2)
    val fired = rows(0).getTimestamp(rows(0).fieldIndex("last_fired_time"))
    assert(fired != null && fired.toInstant.toString == "2025-09-18T09:59:59Z")
    assert(rows(1).isNullAt(rows(1).fieldIndex("last_fired_time")))
  }

  test("missing-creatives audit lists unfetched FKs via anti join (D5)") {
    val missing = Bronze.missingCreatives(ads, creatives).collect()
    assert(missing.map(_.getString(0)).toSeq == Seq("9900099"))
  }

  test("inspector report matches golden JSON") {
    val report = Inspector.report(campaigns, adSets, ads, creatives, pixels,
      accountId = "act_123456789", campaignId = "120200000000001")
    val got = report.toJSON.collect().mkString("\n")
    val goldenPath = getClass.getResource("/fixtures/inspector_golden.json")
    if (goldenPath == null) {
      // first run: print so the golden can be reviewed + checked in
      fail(s"golden missing; got:\n$got")
    }
    val golden = new String(
      goldenPath.openStream().readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
    assert(got.trim == golden)
  }

  test("insights summary: grouped sums + null-safe ratios") {
    val s = Insights.summary(insights, "adset_id").orderBy("adset_id", "date_start").collect()
    // adset 101, 2025-09-18: spend 173.45, impr 14000, clicks 330, reach 10500
    val r0 = s(0)
    assert(math.abs(r0.getDouble(r0.fieldIndex("spend")) - 173.45) < 1e-9)
    assert(r0.getLong(r0.fieldIndex("impressions")) == 14000L)
    assert(math.abs(r0.getDouble(r0.fieldIndex("cpm")) - 173.45 * 1000 / 14000) < 1e-9)
    // adset 102, 2025-09-19: reach 0 / clicks 0 -> frequency/cpc NULL;
    // ctr's denominator is impressions (6000) so it is 0, not null
    val r1 = s(1)
    assert(r1.isNullAt(r1.fieldIndex("frequency")))
    assert(r1.isNullAt(r1.fieldIndex("cpc")))
    assert(r1.getDouble(r1.fieldIndex("ctr")) == 0.0)
  }

  test("insights rollup covers all levels in one pass") {
    val levels = Insights.levelRollup(insights)
      .groupBy("level").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(levels("ad") == 3)      // 3 distinct ads
    assert(levels("adset") == 2)   // 2 adsets
    assert(levels("campaign") == 1)
    assert(levels("account") == 1) // grand total
  }

  test("insights action breakdown: explode + cost per action") {
    val b = Insights.actionBreakdown(insights).orderBy("action_type").collect()
    val link = b.find(_.getString(0) == "link_click").get
    assert(link.getDouble(1) == 330.0) // 250 + 80
    val purchase = b.find(_.getString(0) == "purchase").get
    assert(purchase.getDouble(1) == 15.0) // 12 + 3
    assert(math.abs(purchase.getDouble(3) - (123.45 + 75.50) / 15.0) < 1e-9)
  }

  test("incremental upsert keeps the latest row per id") {
    import spark.implicits._
    val existing = Seq(
      ("c1", "2025-01-01 00:00:00", "old"),
      ("c2", "2025-01-02 00:00:00", "keep")).toDF("id", "updated_time", "v")
    val fresh = Seq(
      ("c1", "2025-02-01 00:00:00", "new"),
      ("c3", "2025-02-02 00:00:00", "insert")).toDF("id", "updated_time", "v")
    val merged = Incremental.upsertKeepLatest(existing, fresh)
      .orderBy("id").collect().map(r => r.getString(0) -> r.getString(2))
    assert(merged.toSeq == Seq("c1" -> "new", "c2" -> "keep", "c3" -> "insert"))
  }

  test("watermark filter only passes rows updated since") {
    val since = Incremental.updatedSince(
      campaigns, lit("2025-09-18 10:30:00").cast("timestamp"))
    assert(since.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("120200000000002"))
  }

  test("schema registry exposes zh_tw display labels (G24)") {
    assert(Schemas.label(Schemas.campaign, "daily_budget").contains("單日預算 (daily_budget)"))
    assert(Schemas.label(Schemas.campaign, "buying_type").isEmpty)
  }

  test("quarantine routes malformed JSON to the audit sink, clean rows flow on") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-quarantine")
    val lake = Files.createTempDirectory("graft-quarantine-lake").toString
    Files.write(dir.resolve("good.json"),
      """[{"id": "c1", "name": "OK", "status": "ACTIVE"}]""".getBytes("UTF-8"))
    Files.write(dir.resolve("bad.json"),
      """[{"id": "c2", "name": "BROKEN""".getBytes("UTF-8")) // truncated
    val bronze = Bronze.readJson(spark, dir.toString, Schemas.campaign)
    val clean = Bronze.quarantine(bronze, lake, "campaign")
    assert(clean.count() == 1)
    assert(clean.select("id").collect().map(_.getString(0)).toSeq == Seq("c1"))
    val quarantined = spark.read.parquet(s"$lake/_quarantine/campaign")
    assert(quarantined.count() == 1)
    assert(quarantined.select("raw").collect()(0).getString(0).contains("BROKEN"))
    // an all-clean batch must not touch the quarantine sink again
    val cleanOnly = Bronze.quarantine(
      Bronze.readJson(spark, dir.resolve("good.json").toString, Schemas.campaign),
      lake, "campaign")
    assert(cleanOnly.count() == 1)
    assert(spark.read.parquet(s"$lake/_quarantine/campaign").count() == 1)
  }

  test("writePartitioned scopes dynamic partition overwrite to its own " +
      "write: the caller's session conf is unchanged and a later static " +
      "overwrite replaces the whole table") {
    val s = spark.newSession()
    import s.implicits._
    val before = s.conf.getAll
    val lake = java.nio.file.Files.createTempDirectory("graft-bronze-conf")
      .toString + "/t"
    Bronze.writePartitioned(Seq(("a", "d1"), ("b", "d2")).toDF("id", "day"),
      lake, "day")
    // a dynamic overwrite of d2 alone keeps d1
    Bronze.writePartitioned(Seq(("c", "d2")).toDF("id", "day"), lake, "day")
    assert(s.read.parquet(lake).as[(String, String)].collect().toSet ==
      Set(("a", "d1"), ("c", "d2")))
    val after = s.conf.getAll
    assert(after == before, "no conf key leaks out of the call: " +
      s"added ${after.toSet diff before.toSet}, lost ${before.toSet diff after.toSet}")
    // the caller's own static overwrite replaces every partition
    Seq(("z", "d3")).toDF("id", "day").write.mode("overwrite")
      .partitionBy("day").parquet(lake)
    assert(s.read.parquet(lake).as[(String, String)].collect().toSet ==
      Set(("z", "d3")))
  }
}
