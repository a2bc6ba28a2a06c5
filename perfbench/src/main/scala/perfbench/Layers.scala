package perfbench

import scala.collection.mutable

/** Per-layer numbers of the traced drains. Each layer's `busy_s` is the
  * self time of the bench spans around its calls; inside a CDC `batch`
  * span (one `shipBatch`), stages that write shuffle count as `compact`,
  * the other stages as `apply`, and the rest of the span is
  * `batch.driver_s`. The root span's self time is `trace.unattributed_s`,
  * so the busy times plus that remainder sum to `trace.wall_s`.
  */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    "transport.busy_s" -> "s", "transport.bytes" -> "B",
    "transport.segments" -> "count",
    "decode.busy_s" -> "s", "decode.cpu_s" -> "s", "decode.bytes_in" -> "B",
    "decode.events_out" -> "count",
    "route.busy_s" -> "s", "route.events_in" -> "count",
    "route.events_out" -> "count",
    "batch.count" -> "count", "batch.driver_s" -> "s",
    "batch.jobs" -> "count",
    "compact.busy_s" -> "s", "compact.cpu_s" -> "s",
    "compact.rows_in" -> "count", "compact.rows_out" -> "count",
    "compact.shuffle_write_bytes" -> "B", "compact.fetch_wait_s" -> "s",
    "apply.busy_s" -> "s", "apply.cpu_s" -> "s", "apply.gc_s" -> "s",
    "apply.rows" -> "count", "apply.bytes_out" -> "B",
    "apply.puts" -> "count", "apply.put_s" -> "s",
    "apply.spill_bytes" -> "B",
    "merge.busy_s" -> "s", "merge.cpu_s" -> "s", "merge.gc_s" -> "s",
    "merge.ops_in" -> "count", "merge.base_keys_in" -> "count",
    "merge.keys_out" -> "count", "merge.tombstone_keys" -> "count",
    "merge.shuffle_write_bytes" -> "B", "merge.spill_bytes" -> "B",
    "merge.fetch_wait_s" -> "s", "merge.max_task_s" -> "s",
    "publish.busy_s" -> "s", "publish.bytes_out" -> "B",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count",
    "jvm.peak_heap_mb" -> "MB", "jvm.gc_s" -> "s",
    "trace.overhead_frac" -> "ratio", "trace.unattributed_s" -> "s",
    "trace.wall_s" -> "s")

  /** Busy-time metrics that partition a traced drain's wall time. */
  val BusyNames: Seq[String] = Seq("transport.busy_s", "decode.busy_s",
    "route.busy_s", "batch.driver_s", "compact.busy_s", "apply.busy_s",
    "merge.busy_s", "publish.busy_s", "trace.unattributed_s")

  /** Layer of one stage, given the name of the span that submitted it. */
  def stageLayer(span: String, a: LayerListener.StageAgg): String =
    if (span == "batch")
      if (a.shuffleWriteBytes > 0) "compact" else "apply"
    else span

  /** Metrics of one traced drain (run id `run`). */
  def ofRun(tr: Tracer, listener: LayerListener, run: Int, rep: Rep)
      : Map[String, Double] = {
    import LayerListener.unionMs
    val spans = tr.all.filter(_.runId == run)
    val byId = spans.map(s => s.id -> s).toMap
    val stages = listener.stages.filter(a => byId.contains(a.spanId))
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def iv(xs: Seq[LayerListener.StageAgg]) = xs.map(a => (a.submitMs, a.completeMs))

    spans.foreach { s =>
      val self = tr.selfNs(s) / 1e9
      if (s.parent == 0) {
        m("trace.unattributed_s") += self
        m("trace.wall_s") += s.durNs / 1e9
      } else if (s.name == "batch") {
        val mine = stages.filter(_.spanId == s.id)
        val all = unionMs(iv(mine)) / 1e3
        val comp = unionMs(iv(mine.filter(stageLayer("batch", _) == "compact"))) / 1e3
        m("compact.busy_s") += comp
        m("apply.busy_s") += all - comp
        m("batch.driver_s") += self - all
      } else m(s"${s.name}.busy_s") += self
      if (s.name == "decode") m("decode.cpu_s") += s.cpuNs / 1e9
    }
    stages.foreach { a =>
      val l = stageLayer(byId(a.spanId).name, a)
      m(s"$l.cpu_s") += a.cpuNs / 1e9
      m(s"$l.gc_s") += a.gcMs / 1e3
      m(s"$l.shuffle_write_bytes") += a.shuffleWriteBytes.toDouble
      m(s"$l.spill_bytes") += a.spillBytes.toDouble
      m(s"$l.fetch_wait_s") += a.fetchWaitMs / 1e3
      m(s"$l.max_task_s") = math.max(m(s"$l.max_task_s"), a.maxTaskMs / 1e3)
      m("spark.tasks") += a.tasks.toDouble
      m("spark.failed_tasks") += a.failedTasks.toDouble
    }
    val jobs = listener.jobSpans.filter { case (_, sid) => byId.contains(sid) }
    m("spark.jobs") = jobs.size.toDouble
    m("batch.jobs") = jobs.count { case (_, sid) => byId(sid).name == "batch" }
      .toDouble
    rep.counts.foreach { case (k, v) => m(k) = v }
    m.toMap
  }

  /** `reps(i)` is run id i, traced or not; the first `warm` are the
    * set-up drains.
    */
  def metrics(tr: Tracer, listener: LayerListener, warm: Int,
      reps: Seq[(Boolean, Rep)]): Seq[(String, Double, String)] = {
    val runs = reps.zipWithIndex.collect { case ((true, rep), i) =>
      ofRun(tr, listener, i, rep)
    }
    runs.foreach { r =>
      val sum = BusyNames.map(r.getOrElse(_, 0.0)).sum
      require(math.abs(sum - r("trace.wall_s")) < 1e-6,
        s"layer times $sum do not add up to wall ${r("trace.wall_s")}")
    }
    def wall(traced: Boolean) = Main.median(reps.drop(warm)
      .collect { case (t, r) if t == traced => r.wallS + r.catchupS })
    val overhead = wall(true) / wall(false) - 1.0
    import java.lang.management.{ManagementFactory => mx}
    val heapPeak = mx.getMemoryPoolMXBeans.toArray.collect {
      case p: java.lang.management.MemoryPoolMXBean
          if p.getType == java.lang.management.MemoryType.HEAP =>
        p.getPeakUsage.getUsed
    }.sum
    val gc = mx.getGarbageCollectorMXBeans.toArray.collect {
      case g: java.lang.management.GarbageCollectorMXBean =>
        g.getCollectionTime
    }.sum
    Names.map { case (n, u) =>
      val v = n match {
        case "trace.overhead_frac" => overhead
        case "jvm.peak_heap_mb" => heapPeak / 1048576.0
        case "jvm.gc_s" => gc / 1e3
        case _ => Main.median(runs.map(_.getOrElse(n, 0.0)))
      }
      (n, v, u)
    }
  }
}
