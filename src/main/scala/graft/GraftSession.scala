package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: the configuration every graft
  * deployment wants — shuffle partitions sized to the cluster rather than
  * the 200 default, UTC, and the engine's custom SQL functions registered.
  * AQE (runtime re-planning, skew-join splitting) is Spark's default. */
object GraftSession {
  def create(master: String = "local[*]", shufflePartitions: Int = 32,
             appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    register(s)
    s
  }

  /** Register graft's SQL functions on an externally-built session. */
  def register(s: SparkSession): Unit = {
    // Engine-wide contract: timestamps are UTC wall clock. The testdata's
    // TIMESTAMP_NTZ columns are normalized via session-zone casts, so a
    // host-local zone on an externally-built session would shift every
    // window boundary and date comparison.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    graft.expressions.RollingHash.register(s)
    graft.expressions.DotProduct.register(s)
    graft.functions.SqlFunctions.register(s)
  }
}
