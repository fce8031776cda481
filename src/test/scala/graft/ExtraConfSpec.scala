package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_EXTRA_CONF` parsing: every entry point's session runs
  * through [[ExtraConf]], so a mis-split pair would silently change
  * the config of every run. Pure string tests; no session needed.
  */
class ExtraConfSpec extends AnyFunSuite {

  test("the ';' form keeps commas inside a value") {
    val rules = "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates," +
      "org.apache.spark.sql.catalyst.optimizer.ColumnPruning"
    assert(ExtraConf.parse(
      s"spark.sql.optimizer.excludedRules=$rules; spark.sql.adaptive.enabled=false") ==
      Seq("spark.sql.optimizer.excludedRules" -> rules,
        "spark.sql.adaptive.enabled" -> "false"))
  }

  test("the ',' form splits on commas") {
    assert(ExtraConf.parse("a.b=1, c.d = two ,e=x=y") ==
      Seq("a.b" -> "1", "c.d" -> "two", "e" -> "x=y"))
  }

  test("blank entries are dropped") {
    assert(ExtraConf.parse(";a=1;; ;b=2;") == Seq("a" -> "1", "b" -> "2"))
    assert(ExtraConf.parse(",a=1,,") == Seq("a" -> "1"))
    assert(ExtraConf.parse("  ").isEmpty)
  }

  test("an entry without '=' is rejected, naming the entry") {
    val e = intercept[IllegalArgumentException](
      ExtraConf.parse("a=1;spark.sql.adaptive.enabled"))
    assert(e.getMessage.contains(
      "SPARK_GRAFT_EXTRA_CONF entry 'spark.sql.adaptive.enabled' has no '='"),
      e.getMessage)
  }
}
