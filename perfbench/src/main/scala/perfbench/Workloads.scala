package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{LiveCdc, TaskConfig, TaskRunner}
import graft.infra.{ConsumedLedger, Fs}
import graft.model.{ChangeEvent, Position}
import graft.operators.{RedisLanding, RedisStateOps}
import graft.sinks.{LandedTable, TieredLog}
import graft.sources.{DbResumer, PgOutput, PgSlotLifecycle, SnapshotResumer}
import graft.streaming.CdcTask
import graft.transport.{FsSegmentStore, PumpPositions, RedisReplicationPump}

/** One drain's outcome. `units` are the workload's input units; `checked`
  * and `failed` count what the correctness gate compared. `counts` holds
  * the per-layer work counts the bench can see from outside.
  */
final case class Rep(units: Long, wallS: Double, firstS: Double,
    outBytes: Long, outRows: Long, checked: Long, failed: Long,
    batchIntervalsMs: Seq[Double] = Nil, catchupS: Double = 0.0,
    counts: Map[String, Double] = Map.empty)

trait Workload {
  /** Untimed: build this seed's inputs (cached generation is excluded
    * from set-up time).
    */
  def prepare(seed: Long): Unit
  /** One full drain from a fresh task dir, sink and position store. */
  def runOnce(spark: SparkSession, tr: Tracer, rep: Int): Rep
}

/** The correctness gate: every key either side has is one checked unit,
  * and a key whose value differs (or is missing on one side) fails.
  */
object Gate {
  def compare[K, V](want: Map[K, V], got: Map[K, V]): (Long, Long) = {
    val keys = want.keySet ++ got.keySet
    (keys.size.toLong, keys.count(k => want.get(k) != got.get(k)).toLong)
  }

  /** (table, key) -> row view of a per-table state. */
  def byKey[V](st: Map[String, Map[String, V]]): Map[(String, String), V] =
    st.toSeq.flatMap { case (t, rows) =>
      rows.map { case (k, v) => (t, k) -> v }
    }.toMap
}

object Workload {
  def secs(ns: Long): Double = ns / 1e9

  /** Wall time until `path` first exists, polled from a daemon thread. */
  final class FirstSeen(path: String, t0: Long) {
    @volatile private var at = 0L
    @volatile private var stop = false
    private val th = new Thread(() => {
      val p = java.nio.file.Paths.get(path)
      while (!stop && at == 0L) {
        if (java.nio.file.Files.exists(p)) at = System.nanoTime()
        else Thread.sleep(1)
      }
    })
    th.setDaemon(true)
    th.start()
    def seconds(): Double = {
      stop = true; th.join()
      if (at == 0L) Double.NaN else secs(at - t0)
    }
  }

  /** Bytes of the regular files under `dir` whose relative path passes
    * `keep`.
    */
  def dirBytes(dir: String, keep: String => Boolean): Long = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && keep(p.relativize(f).toString))
        .map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  def rm(dir: String): Unit = if (Fs.exists(dir)) Fs.delete(dir)

  /** Distinct parquet data files only (no `_delta`/staging/hidden dirs). */
  def flatFaceBytes(table: String): Long =
    dirBytes(table, rel => !rel.contains('/') && rel.endsWith(".parquet"))
}

// ---------------------------------------------------------------- snapshot

/** `snapshot_sf05`: an INI snapshot task over the generated sf tables
  * (several files per table) into a parquet sink. The generator (run.py)
  * leaves `expected_counts.txt` with the routed row count per table.
  */
final class SnapshotWorkload(dataDir: String, workDir: String, nproc: Int)
    extends Workload {
  import Workload._

  private def ini(sink: String): String =
    s"""[extractor]
       |extract_type=snapshot
       |url=$dataDir
       |parallel_size=$nproc
       |partition_cols=json:[{"db":"app","tb":"part","partition_col":"p_partkey"}]
       |
       |[filter]
       |do_tbs=lineitem,orders,customer,part
       |where_conditions=json:[{"db":"app","tb":"orders","condition":"o_totalprice > 50000"}]
       |ignore_cols=json:[{"db":"app","tb":"lineitem","ignore_cols":["l_comment"]}]
       |
       |[router]
       |db_map=app:dw
       |tb_map=app.customer:dw.clients
       |col_map=app.part.p_name:part_name
       |
       |[sinker]
       |url=$sink
       |""".stripMargin

  private lazy val expected: Map[String, Long] =
    Fs.readLines(s"$dataDir/expected_counts.txt").filter(_.nonEmpty)
      .map { l => val Array(t, n) = l.split("\\s+"); t -> n.toLong }.toMap

  override def prepare(seed: Long): Unit = expected: Unit

  override def runOnce(spark: SparkSession, tr: Tracer, rep: Int): Rep = {
    val sink = s"$workDir/snap-out-$rep"
    rm(sink)
    val task = TaskConfig.fromIni(ini(sink))
    val units = TaskRunner.units(task)
    val (s0, t0) = task.router.routeTable(units.head._1, units.head._2)
    val t0ns = System.nanoTime()
    val first = new FirstSeen(s"$sink/$s0.$t0/_SUCCESS", t0ns)
    val results =
      if (!tr.enabled) TaskRunner.runSnapshot(spark, task)
      else tr.span("run") {
        units.map { case (s, t) =>
          tr.span("apply")(TaskRunner.snapshotTable(spark, task, s, t))
        }
      }
    val wall = secs(System.nanoTime() - t0ns)
    val firstS = first.seconds()
    val rows = results.map(_.rows).sum
    val failed = results.count(r => !expected.get(r.dstTable).contains(r.rows)) +
      expected.keySet.count(t => !results.exists(_.dstTable == t))
    val bytes = dirBytes(sink, _.endsWith(".parquet"))
    // keep the last drain's output for the content check in run.py
    if (rep > 0) rm(s"$workDir/snap-out-${rep - 1}")
    Rep(rows, wall, firstS, bytes, rows, expected.size.toLong, failed,
      counts = Map("apply.rows" -> rows.toDouble,
        "apply.bytes_out" -> bytes.toDouble))
  }
}

// ---------------------------------------------------------------- pg cdc

/** `cdc_pg_zipf`: a whole pgoutput capture through `CdcTask.run` into the
  * in-memory stream-load sink. The traced drain replays the same public
  * steps one by one so each gets its own span.
  */
final class CdcWorkload(events: Int, keys: Int, nproc: Int,
    workDir: String) extends Workload {
  import Workload._

  val ini: String =
    s"""[extractor]
       |extract_type=cdc
       |slot_name=perfbench_slot
       |streaming_txns=true
       |batch_size=10000
       |parallel_size=$nproc
       |
       |[filter]
       |do_dbs=public
       |ignore_tbs=public.audit_log
       |do_events=insert,update,delete
       |
       |[router]
       |db_map=public:dw
       |tb_map=public.users:dw.members
       |
       |[sinker]
       |url=http://127.0.0.1:9/unused
       |""".stripMargin

  private val task = TaskConfig.fromIni(ini)
  private var capture: PgCapture.Capture = _

  override def prepare(seed: Long): Unit =
    capture = PgCapture.generate(seed, events, keys)


  /** Expected sink state: routed tables, admitted relations only. */
  lazy val expectedRouted
      : Map[String, Map[String, Map[String, String]]] =
    capture.expected.collect {
      case ((s, t), rows) if task.filter.allowTable(s, t) =>
        val (rs, rt) = task.router.routeTable(s, t)
        s"$rs.$rt" -> rows.map { case (k, row) =>
          k -> row.map { case (c, v) => task.router.routeColumn(s, t, c) -> v }
        }
    }

  /** Shipped output of the last untraced and traced drains. */
  var lastShipped = Map.empty[Boolean, Map[(Long, String, String), Seq[String]]]

  override def runOnce(spark: SparkSession, tr: Tracer, rep: Int): Rep = {
    MemSink.reset()
    val resumer = CdcWorkload.freshResumer(workDir)
    val t0 = System.nanoTime()
    val counts =
      if (!tr.enabled) {
        val r = CdcTask.run(spark, task, CdcTask.PgAnswers(
          PgSlotLifecycle.SlotStatus(exists = false), pubExists = false,
          walStream = capture.bytes), MemSink.factory, resumer)
        Map("batch.count" -> r.batches.size.toDouble)
      } else tr.span("run")(replay(spark, tr, resumer))
    val wall = secs(System.nanoTime() - t0)
    val puts = MemSink.all
    val done = MemSink.batchDone(puts)
    val firstPut = puts.filter(_.batchId == 0L).map(_.atNs).min
    val intervals = done.map(_._2).sliding(2).collect {
      case Seq(a, b) => (b - a) / 1e6
    }.toSeq
    lastShipped += tr.enabled -> MemSink.shipped(puts)
    // gate: the folded sink equals the generator's per-key state
    val (checked, failed) =
      Gate.compare(Gate.byKey(expectedRouted), Gate.byKey(MemSink.fold(puts, "id")))
    val bytes = puts.map(_.bytes).sum
    val lines = puts.map(_.lines.size.toLong).sum
    Rep(capture.events, wall, secs(firstPut - t0), bytes, lines, checked,
      failed, intervals, counts = counts ++ Map(
        "apply.puts" -> puts.size.toDouble,
        "apply.put_s" -> secs(puts.map(_.putNs).sum),
        "apply.rows" -> lines.toDouble,
        "apply.bytes_out" -> bytes.toDouble,
        "compact.rows_out" -> lines.toDouble,
        "decode.bytes_in" -> capture.bytes.length.toDouble))
  }

  /** `CdcTask.run`'s steps with a span around each call into a layer.
    * Transaction grouping and batching are private to `CdcTask`, so
    * they are restated here; the drain must ship the same bytes as the
    * untraced `CdcTask.run` (checked by the traced run and the tests).
    */
  def replay(spark: SparkSession, tr: Tracer, resumer: DbResumer.Dual)
      : Map[String, Double] = {
    val slotCfg = task.slot.get
    val (startLsn, msgs, all) = tr.span("decode") {
      val plan = PgSlotLifecycle.plan(slotCfg,
        PgSlotLifecycle.SlotStatus(exists = false), pubExists = false)
      val startLsn = CdcTask.resolveStartLsn(plan, resumer.resumeCdc, "")
      val msgs = PgOutput.decodeCopyStream(capture.bytes)
      (startLsn, msgs, PgOutput.toChangeEventsIndexed(msgs, startLsn))
    }
    val (relCols, relKeys, batches, admitted) = tr.span("batch") {
      val relCols = msgs.collect { case (_, r: PgOutput.Relation) =>
        (r.namespace, r.name) -> r.columns.map(_.name)
      }.toMap
      val relKeys = msgs.collect { case (_, r: PgOutput.Relation) =>
        (r.namespace, r.name) -> r.columns.filter(_.keyPart).map(_.name)
      }.toMap
      val commitEnds = msgs.collect {
        case (_, c: PgOutput.Commit) => PgOutput.renderLsn(c.endLsn)
        case (_, sc: PgOutput.StreamCommit) => PgOutput.renderLsn(sc.endLsn)
      }
      val startCmp = PgSlotLifecycle.parseLsn(
        if (startLsn.contains("/")) startLsn else "0/0")
      val fresh = CdcWorkload.txnGroups(all, commitEnds)
        .filter { case (end, _) => PgSlotLifecycle.parseLsn(end) > startCmp }
      val admitted = tr.span("route") {
        fresh.map { case (end, evs) =>
          (end, evs.filter(e => task.filter.allowTable(e.schema, e.tb) &&
            task.filter.allowEvent(e.rowType)))
        }.filter(_._2.nonEmpty)
      }
      (relCols, relKeys, CdcWorkload.toBatches(admitted, task.batchSize),
        admitted)
    }
    batches.zipWithIndex.foreach { case ((lsn, evs), i) =>
      tr.span("batch") {
        CdcTask.shipBatch(spark, task, i.toLong, evs, relCols, relKeys,
          MemSink.factory)
        resumer.recordCdc(Position.PgCdc(lsn))
      }
    }
    val in = all.size.toDouble
    val out = admitted.map(_._2.size.toLong).sum.toDouble
    Map("batch.count" -> batches.size.toDouble,
      "decode.events_out" -> in, "route.events_in" -> in,
      "route.events_out" -> out, "compact.rows_in" -> out)
  }
}

object CdcWorkload {
  /** In-memory position table (the db resumer's SQL seam). */
  final class MemStore extends DbResumer.SqlExec {
    val rows = mutable.LinkedHashMap[(String, String, String), String]()
    def execute(sql: String, binds: Seq[String]): Unit =
      if (sql.startsWith("INSERT INTO")) {
        val Seq(task, tpe, key, data) = binds
        rows.update((task, tpe, key), data)
      } else if (sql.startsWith("DELETE FROM"))
        rows.filterInPlace { case ((t, _, _), _) => t != binds.head }: Unit
    def query(sql: String, binds: Seq[String]): Seq[Seq[String]] =
      rows.collect { case ((t, tpe, key), data) if t == binds.head =>
        Seq(tpe, key, data)
      }.toSeq
  }

  /** A fresh position store, so no drain resumes past shipped work. */
  def freshResumer(workDir: String): DbResumer.Dual = {
    val store = new MemStore
    Fs.mkdirs(workDir)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(workDir), "resume").toString
    val rec = new DbResumer.Recorder("perfbench", store,
      DbResumer.MySqlDialect)
    rec.init(isInit = false)
    new DbResumer.Dual(new SnapshotResumer(dir), rec,
      () => new DbResumer.Recovery("perfbench", store))
  }

  def txnGroups(events: Seq[(Int, ChangeEvent)],
      commitEnds: Seq[String]): Seq[(String, Seq[ChangeEvent])] =
    events.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, evs) =>
      val end =
        if (k < commitEnds.size) commitEnds(k) else evs.last._2.positionValue
      (end, evs.map(_._2))
    }

  def toBatches(txns: Seq[(String, Seq[ChangeEvent])],
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
}

// ---------------------------------------------------------------- redis

/** `redis_psync`: two drain-once sessions through `LiveCdc.run` on one
  * task dir — a full resync, then a partial resync tail.
  */
final class RedisWorkload(rdbKeys: Int, tail1: Int, tail2: Int,
    workDir: String) extends Workload {
  import Workload._

  private def ini(sink: String): String =
    s"""[extractor]
       |db_type=redis
       |extract_type=cdc
       |url=redis://127.0.0.1:6379
       |
       |[sinker]
       |url=$sink
       |""".stripMargin

  var capture: RedisCapture.Capture = _

  override def prepare(seed: Long): Unit =
    capture = RedisCapture.generate(seed, rdbKeys, tail1, tail2)

  /** Published face: state key -> payload. */
  def face(spark: SparkSession, sink: String): Map[String, String] =
    spark.read.parquet(s"$sink/redis.state").select("key", "payload")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  override def runOnce(spark: SparkSession, tr: Tracer, rep: Int): Rep = {
    val dir = s"$workDir/redis-$rep"
    rm(dir)
    val sink = s"$dir/sink"
    val taskDir = s"$dir/task"
    val task = TaskConfig.fromIni(ini(sink))
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def drain(d: RedisCapture.Drain): (Double, Double) = {
      val wire = new ArrayWire(d.reply)
      val t0 = System.nanoTime()
      val first = new FirstSeen(s"$sink/redis.snapshot", t0)
      if (!tr.enabled) {
        val r = LiveCdc.run(spark, task, taskDir,
          dialOverride = Some(() => wire))
        val t = r.tables.toMap
        counts("landed.snap") += t("redis.snapshot")
        counts("landed.cmd") += t("redis.commands")
      } else {
        counts("merge.base_keys_in") +=
          LandedTable.readBase(spark, s"$sink/redis.state")
            .map(_.count().toDouble).getOrElse(0.0)
        tr.span("run")(replay(spark, tr, task, taskDir, wire, counts))
      }
      val wall = secs(System.nanoTime() - t0)
      (wall, first.seconds())
    }

    val (wall1, first1) = drain(capture.drain1)
    val (c1, f1) = Gate.compare(capture.expected1, face(spark, sink))
    val (wall2, _) = drain(capture.drain2)
    val got = face(spark, sink)
    val (c2, f2) = Gate.compare(capture.expected2, got)
    val units = capture.drain1.rdbEntries + capture.drain1.commands
    val landed = counts("landed.snap") + counts("landed.cmd")
    // the landed counts must match what the generator served
    val countFail =
      if (tr.enabled || landed == units + capture.drain2.commands) 0L
      else 1L
    val faceBytes = flatFaceBytes(s"$sink/redis.state")
    if (tr.enabled) {
      val base = LandedTable.readBase(spark, s"$sink/redis.state")
        .map(_.count()).getOrElse(0L)
      counts("merge.keys_out") = base.toDouble
      counts("merge.tombstone_keys") = (base - got.size).toDouble
      counts("publish.bytes_out") = faceBytes.toDouble
      counts("transport.segments") =
        Fs.listNames(s"$taskDir/capture").count(_.endsWith(".log")).toDouble
    }
    if (rep > 0) rm(s"$workDir/redis-${rep - 1}")
    Rep(units, wall1, first1, faceBytes, got.size.toLong,
      c1 + c2 + 1, f1 + f2 + countFail, catchupS = wall2,
      counts = counts.toMap.filter(_._1.contains('.')) ++ Map(
        "transport.bytes" ->
          (capture.drain1.captureBytes + capture.drain2.captureBytes).toDouble,
        "decode.bytes_in" ->
          (capture.drain1.captureBytes + capture.drain2.captureBytes).toDouble))
  }

  /** `LiveCdc.runRedis` and its lander's finish pass, step by step with
    * a span around each call into a layer.
    */
  private def replay(spark: SparkSession, tr: Tracer,
      task: TaskConfig.Task, taskDir: String, wire: ArrayWire,
      counts: mutable.Map[String, Double]): Unit = {
    val captureDir = s"$taskDir/capture"
    val store = new FsSegmentStore(captureDir)
    tr.span("transport") {
      val persisted = PumpPositions.read(taskDir)
      val pump = new RedisReplicationPump(RedisReplicationPump.Config(
        replId = persisted.getOrElse("repl_id", ""),
        replOffset = persisted.get("repl_offset").flatMap(_.toLongOption)
          .getOrElse(0L),
        startDb = persisted.get("select_db").flatMap(_.toLongOption)
          .getOrElse(0L),
        maxSegmentSecs = task.source.maxSegmentSecs), store, () => wire)
      try pump.runSession() catch {
        case _: java.io.IOException if pump.bytesCaptured > 0 => 0L
      }
      store.publishAll()
      pump.markAllPublished()
      PumpPositions.write(taskDir, Map(
        "repl_id" -> pump.position._1,
        "repl_offset" -> pump.position._2.toString,
        "select_db" -> pump.publishedDb.toString))
    }
    val sink = task.sinkDir
    val stateTable = s"$sink/redis.state"
    val ledger = new ConsumedLedger(taskDir)
    val fresh = store.names.filterNot(ledger.contains).sorted
    val staging = s"$sink/_redis-landing"
    tr.span("decode") {
      val obs = Observation()
      RedisLanding.decodeAll(spark, captureDir, fresh)
        .observe(obs,
          coalesce(sum(when(col("face") === "snap", 1L).otherwise(0L)),
            lit(0L)).as("snap"),
          coalesce(sum(when(col("face") === "cmd", 1L).otherwise(0L)),
            lit(0L)).as("cmd"),
          coalesce(sum(when(col("face") === "op", 1L).otherwise(0L)),
            lit(0L)).as("op"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("face", "seg").parquet(staging)
      val m = obs.get
      val snap = m("snap").asInstanceOf[Long]
      val cmd = m("cmd").asInstanceOf[Long]
      counts("landed.snap") += snap
      counts("landed.cmd") += cmd
      counts("decode.events_out") += snap + cmd
      counts("merge.ops_in") += m("op").asInstanceOf[Long]
    }
    tr.span("apply") {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName
      val nextDelta = math.max(
        LandedTable.deltaIds(stateTable).maxOption.getOrElse(0L),
        LandedTable.committedBase(stateTable).map(_._1).getOrElse(0L)) + 1L
      var adopted = 0
      fresh.foreach { seg =>
        val e = escapePathName(seg)
        Seq("snap" -> "redis.snapshot", "cmd" -> "redis.commands").foreach {
          case (f, t) =>
            val src = s"$staging/face=$f/seg=$e"
            val dst = s"$sink/$t/seg=$e"
            if (Fs.exists(src)) {
              if (Fs.exists(dst)) Fs.delete(dst)
              Fs.mkdirs(s"$sink/$t")
              require(Fs.rename(src, dst), s"rename $src -> $dst")
            }
        }
        val src = s"$staging/face=op/seg=$e"
        if (Fs.exists(src)) {
          if (adopted == 0) LandedTable.adoptDelta(src, stateTable, nextDelta)
          else LandedTable.foldDelta(src, stateTable, nextDelta, adopted)
          adopted += 1
        }
      }
      Fs.delete(staging)
      fresh.foreach(ledger.mark)
    }
    LandedTable.deltaIds(stateTable).lastOption.foreach { last =>
      tr.span("merge")(LandedTable.compactTo(spark, stateTable, last,
        RedisStateOps.Merger))
      tr.span("publish")(LandedTable.publishFlat(spark, stateTable,
        RedisStateOps.Merger))
    }
    tr.span("merge") {
      LandedTable.readBase(spark, stateTable).foreach(_.count())
      if (Fs.exists(stateTable)) spark.read.parquet(stateTable).count()
    }
    tr.span("apply") {
      TieredLog.fold(spark, s"$sink/redis.snapshot",
        foldable = ledger.contains)
      TieredLog.fold(spark, s"$sink/redis.commands",
        foldable = ledger.contains)
    }
  }
}
