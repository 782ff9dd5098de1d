package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Every entry point —
  * Bench, Verify, Profile, Explain, ScaleUp, EntrySmoke and the test
  * harness — gets the same engine: the [[GraftExtensions]] functions,
  * `local[cpus]` with one shuffle partition per core, no UI, the UTC
  * session zone (independent of how the JVM was launched) and ERROR
  * logging. A conf only one caller needs is passed as `extraConf`. */
object Sessions {
  /** Cores for the command-line mains: `SPARK_GRAFT_CPUS`, default 32. */
  def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int, extraConf: (String, String)*): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(extraConf.toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
