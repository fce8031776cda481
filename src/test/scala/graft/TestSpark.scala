package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (JVM-wide). */
object TestSpark {
  lazy val spark: SparkSession = Main.session(cores = 4)

  val sf0001 = "/root/testdata/sf0.001"
}
