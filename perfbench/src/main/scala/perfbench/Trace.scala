package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the bench around each call it makes into a layer.
  * Kept in memory and summarised when the run ends. Entering a span also
  * sets the `graft.layer` local property, so every Spark job the call
  * submits carries the layer tag to [[LayerListener]].
  *
  * A disabled tracer runs the body and records nothing, which is how the
  * untraced run calls the same code.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0

  def all: Seq[Span] = spans.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0),
        name, currentRun, System.nanoTime(), System.currentTimeMillis())
      spans += s
      val prev = sc.getLocalProperty(LayerProp)
      val prevSpan = sc.getLocalProperty(SpanProp)
      stack = s :: stack
      sc.setLocalProperty(LayerProp, name)
      sc.setLocalProperty(SpanProp, s.id.toString)
      val cpu0 = threadCpu()
      try body
      finally {
        s.cpuNs = threadCpu() - cpu0
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(LayerProp, prev)
        sc.setLocalProperty(SpanProp, prevSpan)
      }
    }

  /** Run id stamped on new spans (one id per drain). */
  var currentRun = 0

  /** Self time of a span: its duration minus what its children cover. */
  def selfNs(s: Span): Long =
    s.durNs - spans.iterator.filter(_.parent == s.id).map(_.durNs).sum
}

object Tracer {
  val LayerProp = "graft.layer"
  /** Id of the innermost bench span, so stages nest under it. */
  val SpanProp = "perfbench.span"

  final class Span(val id: Int, val parent: Int, val name: String,
      val runId: Int, val startNs: Long, val startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    var cpuNs: Long = 0L
    def durNs: Long = endNs - startNs
  }

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean

  def threadCpu(): Long = threads.getCurrentThreadCpuTime
}

/** Task metrics of every stage, tagged with the `graft.layer` local
  * property the submitting thread had set. Stage wall intervals are kept
  * so a span's time can be split into stage time and driver time.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val byStage = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val jobToSpan = mutable.LinkedHashMap.empty[Int, Int]

  @volatile private var lastEventNs = System.nanoTime()

  def stages: Seq[StageAgg] = synchronized(byStage.values.toSeq)

  /** Wait until the (asynchronous) listener bus has delivered the events
    * of every stage this listener saw start.
    */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val until = System.nanoTime() + timeoutMs * 1000000L
    def quiet = System.nanoTime() - lastEventNs > 200000000L &&
      stages.forall(_.completeMs > 0)
    while (!quiet && System.nanoTime() < until) Thread.sleep(20)
  }

  /** Job id -> id of the span that submitted it. */
  def jobSpans: Seq[(Int, Int)] = synchronized(jobToSpan.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized {
    lastEventNs = System.nanoTime()
      jobToSpan(e.jobId) = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .flatMap(_.toIntOption).getOrElse(0)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
    lastEventNs = System.nanoTime()
      def prop(k: String) = Option(e.properties)
        .flatMap(p => Option(p.getProperty(k)))
      val a = byStage.getOrElseUpdate(e.stageInfo.stageId,
        new StageAgg(e.stageInfo.stageId))
      a.layer = prop(Tracer.LayerProp).getOrElse("")
      a.spanId = prop(Tracer.SpanProp).flatMap(_.toIntOption).getOrElse(0)
      a.submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
    lastEventNs = System.nanoTime()
      byStage.get(e.stageInfo.stageId).foreach { a =>
        a.completeMs =
          e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val a = byStage.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
    a.maxTaskMs = math.max(a.maxTaskMs, dur)
  }
}

object LayerListener {
  final class StageAgg(val stageId: Int) {
    var layer = ""
    var spanId = 0
    var submitMs = 0L
    var completeMs = 0L
    var tasks = 0L
    var failedTasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var maxTaskMs = 0L
  }

  /** Total length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
