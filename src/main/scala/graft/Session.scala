package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory: every main and the test suite build
  * their session here, so the settings cannot drift between them. */
object Session {
  /** `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the engine's SQL extensions
    * ([[graft.sql.GraftSqlExtensions]]: parser, rules, functions), UTC
    * session time, AQE on, no UI, and one shuffle partition per core.
    * `conf` entries are applied last, so they add settings (a warehouse
    * dir) or override these. Spark keeps one default session per JVM:
    * a later call returns that same session with its extensions
    * installed once; the runtime SQL settings of the later call
    * (shuffle partitions included) are applied to it, the rest are
    * ignored. */
  def local(
      cpus: Int = defaultCpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
