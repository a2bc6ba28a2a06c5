package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The replication benchmark's JVM side: set up Spark the way the task
  * CLI does, drain one workload repeatedly for the requested seconds,
  * gate every drain's output, and write one JSON result to `--out`.
  *
  * {{{
  * Main --workload cdc_pg_zipf --seed 1 --seconds 10 --trace 0
  *      --work <dir> --out <file> [--data <sf dir>]
  * }}}
  */
object Main {

  /** Set-up passes per run; `setup_s` is their median. */
  val SetupPasses = 3

  /** Timed drains per run at the least, however long they take: the
    * first timed drain can still run slow, and a median of three drains
    * does not move with it.
    */
  val MinDrains = 3

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val nproc = Runtime.getRuntime.availableProcessors()

    val workload: Workload = name match {
      case "snapshot_sf05" =>
        new SnapshotWorkload(args("data"), work, nproc)
      case "cdc_pg_zipf" => new CdcWorkload(40000, 8000, nproc, work)
      case "redis_psync" => new RedisWorkload(20000, 20000, 5000, work)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val genStart = System.currentTimeMillis()
    workload.prepare(seed)
    val genMs = System.currentTimeMillis() - genStart

    // set-up, several times: Spark session, function registration, and
    // one full-size drain, so the JIT and Spark's code caches have settled
    // before timing starts. The first pass counts from JVM start (minus
    // input generation); later passes restart the session. Set-up drains
    // are gated like timed ones but not reported.
    val setups = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[Rep]
    var spark: SparkSession = null
    (0 until SetupPasses).foreach { i =>
      val t0 = System.currentTimeMillis()
      if (spark != null) { spark.stop(); SparkSession.clearDefaultSession() }
      spark = session(nproc, work)
      graft.functions.GraftFunctions.register(spark)
      warm += workload.runOnce(spark,
        new Tracer(spark.sparkContext, enabled = false), i)
      val end = System.currentTimeMillis()
      setups += (if (i == 0) end - jvmStartMs - genMs else end - t0) / 1000.0
    }
    val listener = new LayerListener
    if (traced) spark.sparkContext.addSparkListener(listener)

    val plain = new Tracer(spark.sparkContext, enabled = false)
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    val reps = mutable.ArrayBuffer.empty[(Boolean, Rep)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = warm.size
    // traced runs alternate traced and plain drains, so the tracing
    // overhead is measured within one process
    while (reps.size < MinDrains || System.nanoTime() < deadline) {
      val useTrace = traced && i % 2 == 1
      tracer.currentRun = i
      reps += useTrace -> workload.runOnce(spark,
        if (useTrace) tracer else plain, i)
      i += 1
    }

    val out = new StringBuilder
    val all = reps.map(_._2)
    val attempted = (all ++ warm).map(_.checked).sum
    val failedUnits = (all ++ warm).map(_.failed).sum
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(all.toSeq, setups.toSeq)
      else {
        workload match {
          case c: CdcWorkload if c.lastShipped.size == 2 &&
              c.lastShipped(true) != c.lastShipped(false) =>
            throw new IllegalStateException(
              "traced CDC replay shipped different output than CdcTask.run")
          case _ => ()
        }
        listener.settle()
        Layers.metrics(tracer, listener, warm.size,
          warm.map(false -> _).toSeq ++ reps)
      }
    val info = Map(
      "setup_passes_s" -> setups.map(fmt).mkString("[", ",", "]"),
      "drains" -> reps.size.toString,
      "first_batch_s" -> fmt(median(all.map(_.firstS).toSeq)),
      "drain_s" -> all.map(r => fmt(r.wallS + r.catchupS)).mkString("[", ",", "]"),
      "batch_p50_ms" -> fmt(pct(all.flatMap(_.batchIntervalsMs).toSeq, 0.5)),
      "batch_p90_ms" -> fmt(pct(all.flatMap(_.batchIntervalsMs).toSeq, 0.9)),
      "batch_samples" -> all.map(_.batchIntervalsMs.size).sum.toString,
      "catchup_s" -> fmt(median(all.map(_.catchupS).toSeq)),
      "failed_fraction" -> fmt(failedUnits.toDouble / math.max(1L, attempted)),
      "jvm" -> q(System.getProperty("java.version")),
      "spark" -> q(spark.version),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "nproc" -> nproc.toString)
    out.append("{\"attempted\":").append(attempted)
      .append(",\"failed\":").append(failedUnits)
      .append(",\"metrics\":{")
      .append(metrics.map { case (k, v, u) =>
        s"${q(k)}:{\"value\":${fmt(v)},\"unit\":${q(u)}}"
      }.mkString(","))
      .append("},\"info\":{")
      .append(info.map { case (k, v) => s"${q(k)}:$v" }.mkString(","))
      .append("}}")
    graft.infra.Fs.writeString(args("out"), out.toString)
    spark.stop()
  }

  def session(nproc: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def endToEnd(reps: Seq[Rep], setups: Seq[Double])
      : Seq[(String, Double, String)] = Seq(
    ("setup_s", median(setups), "s"),
    ("rows_per_s", median(reps.map(r => r.units / r.wallS)), "rows/s"),
    ("out_bytes_per_row",
      median(reps.map(r => r.outBytes.toDouble / math.max(1L, r.outRows))),
      "B/row"))

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (NaN when empty). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v)
      .round(new java.math.MathContext(10)).toPlainString

  def q(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""
}
