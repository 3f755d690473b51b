package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine session is built. Every entry point (Verify,
  * GenScale, the test fixture) takes its session from [[local]], so the
  * conf the queries rely on cannot drift between copies:
  *   - `local[cores]` with one shuffle partition per core;
  *   - UTC session time zone (the oracle's and the fixtures' zone);
  *   - `nanosAsLong`, which `Tables.events` needs to read the legacy
  *     TIMESTAMP(NANOS) fixtures;
  *   - no Spark UI.
  * It installs no session extension: queries register their native
  * functions through `CosineSim.register`, the same path on every session. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A local session on `cores` threads; `conf` is applied on top. */
  def local(cores: Int = defaultCores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
