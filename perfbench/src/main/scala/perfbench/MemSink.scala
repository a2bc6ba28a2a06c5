package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sinks.StreamLoadSink
import graft.streaming.CdcTask

/** In-memory stream-load warehouse. `put` runs inside Spark tasks, so the
  * record lives in this object (never serialized into a closure) and the
  * factory handed to `CdcTask` only carries its arguments.
  */
object MemSink {

  final case class Put(batchId: Long, table: String, op: String,
      lines: Seq[String], bytes: Long, putNs: Long, atNs: Long)

  private val puts = new java.util.concurrent.ConcurrentLinkedQueue[Put]()

  def reset(): Unit = puts.clear()
  def all: Seq[Put] = puts.asScala.toSeq

  final class Sink(table: String, batchId: Long, op: String)
      extends StreamLoadSink.PayloadSink {
    override def put(lines: Seq[String]): Unit = {
      val t0 = System.nanoTime()
      var bytes = 0L
      lines.foreach(l => bytes += l.getBytes(UTF_8).length + 1)
      val t1 = System.nanoTime()
      puts.add(Put(batchId, table, op, lines, bytes, t1 - t0, t1))
      ()
    }
  }

  val factory: CdcTask.SinkFactory =
    (schema, tb, batchId, op) => new Sink(s"$schema.$tb", batchId, op)

  /** Completion time of each batch: its last put. */
  def batchDone(ps: Seq[Put]): Seq[(Long, Long)] =
    ps.groupBy(_.batchId).map { case (b, xs) => b -> xs.map(_.atNs).max }
      .toSeq.sortBy(_._1)

  /** Order-free view of what was shipped: (batch, table, op) -> lines. */
  def shipped(ps: Seq[Put]): Map[(Long, String, String), Seq[String]] =
    ps.groupBy(p => (p.batchId, p.table, p.op))
      .map { case (k, xs) => k -> xs.flatMap(_.lines).sorted }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Fold shipped lines to the final per-key state of each table: the
    * row from the latest (batch, `_graft_version`) wins, and a row whose
    * `_graft_is_deleted` is 1 removes the key.
    */
  def fold(ps: Seq[Put], keyCol: String)
      : Map[String, Map[String, Map[String, String]]] = {
    val latest = mutable.HashMap.empty[(String, String),
      ((Long, Long), Option[Map[String, String]])]
    ps.foreach { p =>
      p.lines.foreach { line =>
        val n = mapper.readTree(line)
        val row = n.fields().asScala.collect {
          case e if !e.getKey.startsWith("_graft_") =>
            e.getKey -> e.getValue.asText()
        }.toMap
        val ver = (p.batchId, n.get(StreamLoadSink.VersionCol).asLong())
        val k = (p.table, row(keyCol))
        val img =
          if (n.get(StreamLoadSink.IsDeletedCol).asInt() == 1) None
          else Some(row)
        if (latest.get(k).forall(x => Ordering[(Long, Long)].lt(x._1, ver)))
          latest(k) = (ver, img)
      }
    }
    latest.toSeq.collect { case ((t, k), (_, Some(img))) => (t, k, img) }
      .groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(x => x._2 -> x._3).toMap }
  }
}
