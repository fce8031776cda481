package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped conf overrides. A setting changed for one block —
  * a micro-batch's shuffle width, a probe's AQE advisory size, a key's
  * ANN routing limit — must not outlive the block: a leaked value
  * changes the plans of the caller's later, unrelated queries on the
  * same session.
  */
object SessionConf {

  /** Run `body` with every `key -> value` set on `spark`'s conf, then
    * restore each key's previous value, or unset it if it had none.
    * "Had none" is read from `getAll`, the explicitly set keys:
    * `getOption` returns a registered key's default, and restoring that
    * would leave the key explicitly set.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val set = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
