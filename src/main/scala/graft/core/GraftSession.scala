package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine — the only place a `SparkSession`
  * is built. Every main and test suite goes through [[builder]], so
  * every run sees the same semantics.
  *
  * The reference builds one tiny session per Airflow task
  * (`src/helpers.py:197-225`: local[1], 512 MB, shuffle.partitions=2).
  * We instead size for the actual hardware and let AQE adapt partition
  * counts at runtime — the static `shuffle.partitions` is only the
  * pre-AQE upper bound. Session timezone is pinned UTC exactly like the
  * reference (`src/format_flights.py:138`, `tests/conftest.py:20`) so
  * epoch→timestamp conversions agree across engines, and ANSI mode is
  * off: the reference is PySpark pre-ANSI, where an invalid cast gives
  * NULL instead of throwing.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every core
    * the JVM sees. */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
    .filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's session settings on an unbuilt builder; callers may
    * chain more settings before `getOrCreate()`. */
  def builder(cores: Int = defaultCores, appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** Build (or reuse) a local session with the engine's settings. */
  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = builder(cores, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
