package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration shared by every main and test
  * suite, so the bench, the correctness dump and the test gate all run
  * the engine the same way. */
object GraftSession {

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` with one shuffle partition per core, UTC session
    * time zone, UI off, simple plan descriptions and WARN logging.
    *
    * @param raisedAggFallback raise objectHashAggregate's sort-based
    *   fallback threshold to 5,000,000 (the per-point top-k aggregation
    *   paths want it). ScalingBench passes `false`: its doc synthesis at
    *   high replication (collect_list per doc) relies on the early
    *   sort-based fallback to bound memory.
    */
  def create(cores: Int = envCores, raisedAggFallback: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // simple (one-line) plan descriptions for listener events: the
      // default formatted mode re-renders the full plan on every AQE
      // stage update — driver-side time that scales with plan size
      .config("spark.sql.ui.explainMode", "simple")
    if (raisedAggFallback)
      b.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` on a fresh session, then stops it and clears the active
    * and default sessions so the next `create` builds a new one. */
  def withSession[T](cores: Int = envCores, raisedAggFallback: Boolean = true)
                    (f: SparkSession => T): T = {
    val s = create(cores, raisedAggFallback)
    try f(s)
    finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
