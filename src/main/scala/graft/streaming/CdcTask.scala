package graft.streaming

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StringType, StructField, StructType}

import graft.config.TaskConfig
import graft.infra.{Heartbeat, Monitoring}
import graft.model.{ChangeEvent, Position}
import graft.operators.Compaction
import graft.sinks.StreamLoadSink
import graft.sources.{DbResumer, PgOutput, PgSlotLifecycle}

/** The composed PG→warehouse CDC task — the reference's flagship
  * pg→starrocks story (docs/en/cdc/, wired in
  * /root/reference/dt-task/src/task_runner.rs:153-263 as
  * extractor→pipeline→parallelizer→sinker): slot lifecycle plan →
  * pgoutput v2 stream decode → per-transaction batching → batch-wide
  * compaction → stream-load ship, with resume positions, heartbeats,
  * and monitor counters recorded at every batch boundary.
  *
  * The PG socket answers (slot status, publication existence, the framed
  * COPY-BOTH byte stream) arrive as [[PgAnswers]] — the one transport
  * seam, same pattern as the sink appliers' `StatementSink`. Everything
  * downstream of the bytes is the product: decode, transaction
  * accounting, resume arithmetic, compaction, payload shipping.
  *
  * Batches break only at transaction boundaries (the reference drains
  * whole txns into a batch before sinking — base_pipeline.rs:96-191), so
  * a recorded position is always a commit end and a restart never
  * replays half a transaction. Each batch is one DataFrame across all
  * of its tables: one batch-wide compaction, then one ship job that
  * routes every line to its destination table's sink (the reference's
  * one merge and parallel sink per drained batch, rdb_merger.rs). At
  * cluster scale the same [[shipBatch]] body runs as the
  * `foreachBatch` of the [[graft.sources.ChangelogSource]] DSv2 stream;
  * this orchestrator is the single-stream task form with explicit
  * position bookkeeping.
  */
object CdcTask {

  /** What a live replication session would answer — injected so the
    * composition is drivable without a server. `consistentPoint` is the
    * LSN a CREATE_REPLICATION_SLOT returned (used when the plan creates
    * the slot and no recorded position exists — the
    * snapshot-then-CDC handoff point, docs/en/tutorial/
    * snapshot_and_cdc_without_data_loss.md).
    */
  final case class PgAnswers(
      slotStatus: PgSlotLifecycle.SlotStatus,
      pubExists: Boolean,
      walStream: Array[Byte],
      consistentPoint: String = "")

  final case class BatchReport(batchId: Long, tables: Seq[String],
      rows: Long, commitLsn: String)

  final case class RunReport(
      plan: PgSlotLifecycle.Plan,
      startLsn: String,
      sessionSql: Seq[String],
      replicationSql: String,
      batches: Seq[BatchReport],
      rowsShipped: Long,
      eventsSkipped: Long,
      eventsFiltered: Long,
      endLsn: String)

  /** The LSN streaming starts from: a recovered task position wins over
    * the lifecycle plan (a restart resumes where it stopped; the plan's
    * answer covers first start / recreated slots — reference
    * resumer-before-config precedence, task_runner.rs fetch of the
    * position store ahead of prepare_slot).
    */
  def resolveStartLsn(plan: PgSlotLifecycle.Plan,
      recovered: Option[Position],
      consistentPoint: String = ""): String =
    recovered.collect { case Position.PgCdc(lsn) => lsn }
      .orElse(plan.startLsn.filter(_.nonEmpty))
      .orElse(Option(consistentPoint).filter(_.nonEmpty))
      .getOrElse("0/0")

  /** Group decoded events into transactions by their COMMIT ORDINAL
    * (the decoder tags each event with the index of the commit that
    * owns it) and attach each transaction's own commit end —
    * `commitEnds(k)` is exactly the k-th commit in stream order.
    * Grouping by the events' position values instead would merge the
    * first replayed transaction into its successor whenever a restart
    * resumes exactly at that transaction's commit end (both then carry
    * the resume LSN as their position).
    */
  private def txnGroups(events: Seq[(Int, ChangeEvent)],
      commitEnds: IndexedSeq[String]): Seq[(String, Seq[ChangeEvent])] =
    events.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, evs) =>
      val end =
        if (k < commitEnds.size) commitEnds(k)
        else evs.last._2.positionValue
      (end, evs.map(_._2))
    }

  /** Fold transactions into ship batches: accumulate whole txns until
    * `batchSize` rows, never splitting one (reference batch drain
    * semantics). Returns (commitLsn, events) per batch.
    */
  private def toBatches(txns: Seq[(String, Seq[ChangeEvent])],
      batchSize: Int): Seq[(String, Seq[ChangeEvent])] = {
    val out = Seq.newBuilder[(String, Seq[ChangeEvent])]
    var acc = Seq.newBuilder[ChangeEvent]
    var n = 0
    var lsn = ""
    txns.foreach { case (end, evs) =>
      acc ++= evs; n += evs.size; lsn = end
      if (n >= batchSize) {
        out += ((lsn, acc.result())); acc = Seq.newBuilder; n = 0
      }
    }
    if (n > 0) out += ((lsn, acc.result()))
    out.result()
  }

  /** Sink factory: (schema, tb, batchId, op) — `op` is "" for
    * upsert/soft-delete batches and "delete" for hard-delete batches
    * (the stream-load `columns: __op='delete'` header,
    * starrocks_sinker.rs:233-277).
    */
  type SinkFactory =
    (String, String, Long, String) => StreamLoadSink.PayloadSink

  /** One source table of a batch: the wire columns it ships, its key
    * columns, and where the router sends both.
    */
  private final case class TablePlan(cols: Seq[String], keys: Seq[String],
      routedCols: Seq[String], dest: (String, String))

  /** The batch frame: `_t` source-table ordinal, `_k` key values (null
    * when any is null — compaction's serial lane), `_v` kept wire
    * columns in wire order, `row_type`, and the batch-global `_seq`.
    */
  private val BatchSchema = StructType(Seq(
    StructField("_t", IntegerType, nullable = false),
    StructField("_k", ArrayType(StringType)),
    StructField("_v", ArrayType(StringType)),
    StructField("row_type", StringType),
    StructField("_seq", LongType, nullable = false)))

  /** Ship one batch as one frame, whatever the number of tables in it
    * (the reference merges a drained batch once and sinks it in
    * parallel — rdb_merger.rs:17-143): one compaction over
    * (`_t`, `_k`) to final per-key state, then one ship job that
    * renders each table's sign+version-annotated JSON line in its
    * routed column names and sends it to the sink of its
    * (destination table, op). Returns events shipped per destination
    * table.
    */
  def shipBatch(spark: SparkSession, task: TaskConfig.Task,
      batchId: Long, events: Seq[ChangeEvent],
      relCols: Map[(String, String), Seq[String]],
      relKeys: Map[(String, String), Seq[String]],
      sinkFor: SinkFactory)
      : Map[(String, String), Long] = {
    if (events.isEmpty) return Map.empty
    val tables = events.iterator.map(e => (e.schema, e.tb)).distinct
      .toVector
    val plans = tables.map { case (s, tb) =>
      val wireCols = relCols.getOrElse((s, tb), events
        .find(e => e.schema == s && e.tb == tb).get
        .keyImage.keys.toSeq.sorted)
      val keys = task.keysByTable.get(tb)
        .orElse(relKeys.get((s, tb)).filter(_.nonEmpty))
        .getOrElse(wireCols.take(1))
      // ignore_cols applies to the CDC lane too (the same json:
      // filter config as snapshot) — key columns never drop
      val ignored = task.ignoreColsByTable.getOrElse((s, tb), Nil)
      val cols = wireCols.filter(c =>
        keys.contains(c) || !ignored.contains(c))
      TablePlan(cols, keys,
        cols.map(c => task.router.routeColumn(s, tb, c)),
        task.router.routeTable(s, tb))
    }
    val ordinal = tables.zipWithIndex.toMap
    val rows = events.iterator.zipWithIndex.map { case (e, i) =>
      val t = ordinal((e.schema, e.tb))
      val img = if (e.rowType == "delete") e.before else e.after
      val k = plans(t).keys.map(c => img.get(c).orNull)
      Row(t, if (k.contains(null)) null else k,
        plans(t).cols.map(c => img.get(c).orNull), e.rowType, i.toLong)
    }.toVector
    // partitions follow [pipeline] parallel_size (bounded by the row
    // count); after compaction every partition ships through its own
    // payload sinks
    val slices = math.max(1,
      math.min(task.parallelism, rows.size / 100 + 1))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, slices), BatchSchema)
    val compacted = Compaction.compact(df, Seq("_t", "_k"),
      Seq("_seq"), col("row_type"))

    // hard delete: deletes ship as their own PUTs under
    // `__op='delete'`, upserts raw — no sign/version columns (the table
    // has no soft-delete sign). Compaction leaves at most one action
    // per key, so the two PUT groups never race on a key.
    val hardDelete = task.sink.hardDelete
    val ops = if (hardDelete) Seq("", "delete") else Seq("")
    // one sink per (destination, op): sources that tb_map routes to
    // one target share its chunk counter, so their labels never collide
    val sinks = plans.map(_.dest).distinct
      .flatMap { case (s, tb) => ops.map(op => (s, tb, op)) }.toVector
    val sinkIndex = sinks.zipWithIndex.toMap
    def byTable(f: TablePlan => Column): Column =
      plans.indices.tail.foldLeft(when(col("_t") === 0, f(plans.head))) {
        (c, t) => c.when(col("_t") === t, f(plans(t)))
      }
    def sinkOf(op: String): Column = byTable(p =>
      lit(sinkIndex((p.dest._1, p.dest._2, op))))
    val sinkCol =
      if (hardDelete) when(col("row_type") === "delete", sinkOf("delete"))
        .otherwise(sinkOf(""))
      else sinkOf("")
    val signCols =
      if (hardDelete) Nil
      else StreamLoadSink.signColumns(col("row_type"), col("_seq"))
    val lineCol = byTable(p => to_json(struct(
      p.routedCols.zipWithIndex.map { case (c, j) =>
        col("_v").getItem(j).as(c)
      } ++ signCols: _*)))
    val batchBytes = task.sink.batchMemoryMb
      .map(_.toLong * 1024 * 1024).getOrElse(Long.MaxValue)
    StreamLoadSink.shipRouted(compacted.select(sinkCol, lineCol),
      i => {
        val (s, tb, op) = sinks(i)
        sinkFor(s, tb, batchId, op)
      },
      task.batchSize, batchBytes)

    events.groupMapReduce(e => plans(ordinal((e.schema, e.tb))).dest)(
      _ => 1L)(_ + _)
  }

  /** Run the task end-to-end over one captured stream. */
  def run(spark: SparkSession, task: TaskConfig.Task,
      answers: PgAnswers,
      sinkFor: SinkFactory,
      resumer: DbResumer.Dual,
      heartbeat: Option[Heartbeat.Emitter] = None,
      monitors: Option[Monitoring.PipelineMonitors] = None,
      // [pipeline] max_rps — the reference governor awaited between
      // batch applies; None/unlimited skips the gate entirely
      limiter: Option[graft.infra.RateLimiter] = None,
      // [extractor]/[sinker] max_mbps — the companion BYTE governor
      // (limiter_config.rs RateLimiterConfig carries both); gated on
      // each batch's estimated payload bytes
      byteLimiter: Option[graft.infra.RateLimiter] = None)
      : RunReport = {
    val slotCfg = task.slot.getOrElse(throw new IllegalArgumentException(
      "cdc task needs [extractor] slot_name"))

    // 1. slot lifecycle: what to execute, where the slot says to start
    val plan =
      PgSlotLifecycle.plan(slotCfg, answers.slotStatus, answers.pubExists)
    val startLsn =
      resolveStartLsn(plan, resumer.resumeCdc, answers.consistentPoint)
    val replicationSql = PgSlotLifecycle.startReplicationSql(
      slotCfg.slotName, startLsn,
      PgSlotLifecycle.publicationName(slotCfg), slotCfg.streaming)

    // 2. decode the stream; remember each relation's wire column order
    //    and replica-identity key columns (pgoutput is self-describing)
    val msgs = PgOutput.decodeCopyStream(answers.walStream)
    val relCols = msgs.collect { case (_, r: PgOutput.Relation) =>
      (r.namespace, r.name) -> r.columns.map(_.name)
    }.toMap
    val relKeys = msgs.collect { case (_, r: PgOutput.Relation) =>
      (r.namespace, r.name) -> r.columns.filter(_.keyPart).map(_.name)
    }.toMap
    // indexed once: txnGroups looks up one commit end per transaction
    val commitEnds = msgs.collect {
      case (_, c: PgOutput.Commit) => PgOutput.renderLsn(c.endLsn)
      case (_, sc: PgOutput.StreamCommit) => PgOutput.renderLsn(sc.endLsn)
    }.toVector
    val all = PgOutput.toChangeEventsIndexed(msgs, startLsn)

    // 3. pre-seek at transaction granularity: a replayed transaction is
    //    already shipped iff its commit end is at or behind the resume
    //    position (positions only ever record commit boundaries)
    val startCmp = PgSlotLifecycle.parseLsn(
      if (startLsn.contains("/")) startLsn else "0/0")
    val (freshTxns, skippedTxns) = txnGroups(all, commitEnds)
      .partition { case (end, _) =>
        PgSlotLifecycle.parseLsn(end) > startCmp
      }
    val skipped = skippedTxns.map(_._2.size.toLong).sum
    monitors.foreach(_.extractor.addBatchCounter(
      Monitoring.ExtractedRecords,
      freshTxns.map(_._2.size.toLong).sum, 1L): Unit)

    // 4. row-level filter (schema/tb admission + event types); a txn
    //    filtered to nothing drops — the next batch's commit end covers
    //    its position
    val filteredTxns = freshTxns.map { case (end, evs) =>
      (end, evs.filter(e =>
        task.filter.allowTable(e.schema, e.tb) &&
          task.filter.allowEvent(e.rowType)))
    }

    // 4b. [processor] lua_code_file: the user's VERBATIM Lua runs per
    //     row between filtering and batching — the reference pipeline
    //     position (lua_processor.rs); a blanked row_type drops the
    //     event, and a txn processed to nothing drops like a filtered
    //     one (the next batch's commit end covers its position)
    val admittedTxns = (task.luaCodeFile match {
      case None => filteredTxns
      case Some(f) =>
        val t = graft.transform.LuaScript.rowTransform(
          graft.infra.Fs.readString(f))
        filteredTxns.map { case (end, evs) =>
          (end, evs.flatMap(t(_)))
        }
    }).filter(_._2.nonEmpty)

    // 5. txn-aligned batches → compact → ship → record position
    val batches = toBatches(admittedTxns, task.batchSize)
    val reports = batches.zipWithIndex.map { case ((lsn, evs), i) =>
      // rate governor: block until this batch's rows fit the budget
      // (reference base_pipeline awaits the limiter before sinking);
      // a batch larger than one second's quota drains the bucket in
      // capacity-sized steps across refill intervals
      def drain(l: graft.infra.RateLimiter, units: Long): Unit = {
        var remaining = units
        while (remaining > 0) {
          val step = math.min(remaining, l.capacity)
          l.acquire(step): Unit
          remaining -= step
        }
      }
      limiter.filterNot(_.unlimited)
        .foreach(drain(_, evs.size.toLong))
      // byte budget: estimated from the row images (the payload the
      // sink will serialize); same capacity-stepped drain
      byteLimiter.filterNot(_.unlimited).foreach { l =>
        val bytes = evs.iterator.map { e =>
          (e.before.iterator ++ e.after.iterator).map { case (k, v) =>
            k.length + (if (v == null) 4 else v.length)
          }.sum.toLong
        }.sum
        drain(l, math.max(1L, bytes))
      }
      val t0 = System.nanoTime()
      val shipped =
        shipBatch(spark, task, i.toLong, evs, relCols, relKeys, sinkFor)
      monitors.foreach { m =>
        m.sinker.addCounter(Monitoring.RtPerQuery,
          (System.nanoTime() - t0) / 1000000L)
        m.sinker
          .addBatchCounter(Monitoring.RecordCount, evs.size.toLong, 1L)
          .addBatchCounter(Monitoring.SinkedRecordTotal,
            evs.size.toLong, 1L): Unit
      }
      resumer.recordCdc(Position.PgCdc(lsn))
      heartbeat.foreach(_.maybeBeat(Heartbeat.Positions(
        receivedSegment = commitEnds.lastOption.getOrElse(lsn),
        receivedSeq = i.toLong, receivedTs = "",
        flushedSegment = lsn, flushedSeq = i.toLong,
        flushedTs = "")): Unit)
      BatchReport(i.toLong,
        shipped.keys.map { case (s, t) => s"$s.$t" }.toSeq.sorted,
        evs.size.toLong, lsn)
    }

    RunReport(plan, startLsn, PgSlotLifecycle.sessionSetupSql,
      replicationSql, reports,
      rowsShipped = reports.map(_.rows).sum,
      eventsSkipped = skipped,
      eventsFiltered = freshTxns.map(_._2.size.toLong).sum -
        admittedTxns.map(_._2.size.toLong).sum,
      endLsn = commitEnds.lastOption.getOrElse(startLsn))
  }
}
