package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Analytics-sink write model for StarRocks / Doris / ClickHouse —
  * the reference's stream-load sinkers
  * (/root/reference/dt-connector/src/sinker/starrocks/starrocks_sinker.rs:
  * 28-169, clickhouse_sinker.rs:18-114): soft delete via a sign column
  * plus a monotonically increasing version column, so the target's
  * ReplacingMergeTree / primary-key model resolves the final row state.
  *
  * The Spark-side contract is a pure DataFrame transform (adds the two
  * columns); payload rendering batches rows to JSON per partition. The
  * HTTP PUT itself (Stream Load / INSERT FORMAT JSON) is a per-partition
  * side effect behind `PayloadSink`, injectable for tests — there is no
  * live warehouse in this environment.
  */
object StreamLoadSink {

  final val IsDeletedCol = "_graft_is_deleted"
  final val VersionCol = "_graft_version"

  /** Annotate a change batch with sign + version columns. `version` must
    * be monotone per key across batches; CDC uses the event position —
    * here any strictly increasing per-key column works.
    */
  def withSignColumns(df: DataFrame, rowType: Column,
      version: Column): DataFrame =
    df.select(col("*") +: signColumns(rowType, version): _*)

  /** The two annotation columns, named, for projections that build the
    * payload struct themselves.
    */
  def signColumns(rowType: Column, version: Column): Seq[Column] =
    Seq(when(rowType === "delete", lit(1)).otherwise(lit(0))
      .as(IsDeletedCol), version.as(VersionCol))

  /** Render one partition's rows as a JSON-lines payload (the stream-load
    * body). Uses to_json on a struct of all columns — codegen, no UDF.
    */
  def jsonPayload(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("payload"))

  trait PayloadSink {
    /** PUT one payload chunk (e.g. HTTP stream load); throw to retry. */
    def put(lines: Seq[String]): Unit
  }

  /** Ship a batch: render JSON, group into chunks per partition
    * bounded by BOTH row count and payload bytes, push each chunk. The
    * single-sink form of [[shipRouted]].
    */
  def ship(df: DataFrame, sinkFactory: () => PayloadSink,
      batchRows: Int = 10000,
      batchBytes: Long = Long.MaxValue): Unit =
    shipRouted(jsonPayload(df).select(lit(0), col("payload")),
      _ => sinkFactory(), batchRows, batchBytes)

  /** Ship rendered lines to several sinks in one job: `lines` holds
    * (sink index: int, JSON line: string). Inside each partition one
    * sink per index is built on its first line, and each sink chunks
    * its own lines, so its chunk counter (and with it the stream-load
    * label) is shared by every source that routes to it.
    *
    * The byte bound is the reference's `batch_memory_mb`
    * (sinker_config.rs): a row-count cap alone lets a batch of wide
    * rows (long text columns, big JSON) blow the stream-load request
    * body — at 100 TB the row-width distribution is exactly the thing
    * you don't control. A single over-wide row still ships alone (the
    * cap flushes BEFORE adding, never splits a row).
    */
  def shipRouted(lines: DataFrame, sinkFor: Int => PayloadSink,
      batchRows: Int = 10000,
      batchBytes: Long = Long.MaxValue): Unit =
    lines.foreachPartition {
      it: Iterator[org.apache.spark.sql.Row] =>
        val open = scala.collection.mutable.HashMap.empty[Int, Chunker]
        it.foreach { r =>
          open.getOrElseUpdate(r.getInt(0),
            new Chunker(sinkFor(r.getInt(0)), batchRows, batchBytes))
            .add(r.getString(1))
        }
        open.toSeq.sortBy(_._1).foreach(_._2.flush())
    }

  /** One sink's pending chunk within a partition. */
  private final class Chunker(sink: PayloadSink, batchRows: Int,
      batchBytes: Long) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    private var bytes = 0L

    def add(line: String): Unit = {
      // Cap on the ENCODED size: the request body ships UTF-8, so
      // counting UTF-16 chars undercounts CJK/emoji text by up to
      // ~3-4x and defeats the memory cap.
      val lineBytes =
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      if (buf.size >= batchRows ||
        (buf.nonEmpty && bytes + lineBytes > batchBytes)) flush()
      buf += line
      bytes += lineBytes
    }

    def flush(): Unit = if (buf.nonEmpty) {
      sink.put(buf.toSeq); buf.clear(); bytes = 0L
    }
  }
}
