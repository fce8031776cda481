package graft

import org.apache.spark.sql.SparkSession

/** The `SPARK_GRAFT_EXTRA_CONF` A/B knob, applied by the one session
  * factory [[Main.session]] so every entry point honors it: extra Spark
  * confs applied over the harness defaults so a plan experiment (e.g.
  * AQE coalescing off on the candidate exchanges) runs under exactly
  * the config being benched.
  *
  * Pairs are separated by ';' when the string contains one, else ','
  * (back-compat with the r12 syntax). The ';' form exists because conf
  * VALUES can legally contain commas — `spark.sql.optimizer.excludedRules`
  * with several rule names, `extraJavaOptions` — and the comma split
  * silently truncated them at the first comma (ADVICE r13). Every
  * parsed pair is echoed to stderr so a mangled conf is visible in the
  * bench log instead of silently benching a different config.
  */
object ExtraConf {

  /** Parse the env knob into (key, value) pairs. */
  def parse(raw: String): Seq[(String, String)] = {
    val sep = if (raw.contains(';')) ';' else ','
    raw.split(sep).toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      require(kv.contains("="),
        s"SPARK_GRAFT_EXTRA_CONF entry '$kv' has no '=' (pairs are " +
          "k=v separated by ';' — or ',' when no value needs one)")
      val Array(k, v) = kv.split("=", 2)
      (k.trim, v.trim)
    }
  }

  /** Apply the env knob (if set) to a session builder, echoing the
    * parsed pairs.
    */
  def apply(builder: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { raw =>
      parse(raw).foreach { case (k, v) =>
        System.err.println(s"[extra-conf] $k=$v")
        builder.config(k, v)
      }
    }
    builder
  }
}
