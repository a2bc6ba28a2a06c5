package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every entry point (Main, TaskCli, Bench,
  * Verify) and the test suites build their local session here, so the
  * oracle checks the same physical plan that the bench times and that
  * production runs.
  */
object GraftSession {

  /** Post-shuffle coalescing floor. AQE's default 1 MB minPartitionSize
    * sizes partitions by BYTES, but the state-fold and codec stages are
    * CPU-dense per byte: a 15 MB shuffle coalesced to 11 tasks leaves
    * most of the cores idle for the most expensive stages once a box has
    * more than 11 of them. 256 KB lets parallelismFirst (default on)
    * actually reach the core count. Tuned on the sf0.1 Bench queries; a
    * CDC micro-batch's small shuffles also split into more tasks under
    * it (never more than the shuffle partitions, i.e. the cores). With
    * both plan settings, perfbench's `cdc_pg_zipf` and `redis_psync` on
    * a 4-vCPU VM kept rows/s and setup time within run-to-run noise,
    * and `redis_psync` wrote 0.75% more bytes per row.
    */
  val MinPartitionSize = "256k"

  /** Broadcast-join ceiling (Spark's default is 10 MB). */
  val BroadcastThreshold = "64MB"

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[n]` session with `n` shuffle partitions. */
  def build(appName: String, n: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a loaded box (or a long GC pause on a busy executor) must not
      // tear the session down: the local heartbeat shares one JVM, so
      // an expiry is always a false positive here — seen once when a
      // concurrent DuckDB sweep starved the driver for >120s
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinPartitionSize)
      .config("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
