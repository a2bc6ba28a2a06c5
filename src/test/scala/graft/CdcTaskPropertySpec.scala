package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.config.TaskConfig
import graft.model.{ChangeEvent, Position}
import graft.sinks.StreamLoadSink
import graft.sources.{DbResumer, PgOutputWriter, SnapshotResumer}
import graft.streaming.CdcTask

/** The resume property the CDC task promises: for EVERY batch-boundary
  * position it ever records, a restart seeded with that position ships
  * exactly the transactions committed after it — nothing lost, nothing
  * duplicated, at transaction granularity. Holds for arbitrary
  * transaction streams mixing plain and v2-streamed transactions.
  * And the one-frame ship of a multi-table batch: the lines it sends
  * to each (destination, op) equal an independent per-table fold, and
  * more tables never mean more Spark jobs.
  * (Raw ScalaCheck generators under fixed seeds — the scalatest bridge
  * isn't in the offline cache.)
  */
class CdcTaskPropertySpec extends SparkSuite {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("gen failed"))

  // one transaction: 1-4 events over a 6-key pool, maybe v2-streamed
  private val txnGen = for {
    n <- Gen.choose(1, 4)
    events <- Gen.listOfN(n, for {
      key <- Gen.choose(1, 6)
      kind <- Gen.oneOf("insert", "update", "delete")
    } yield (key, kind))
    streamed <- Gen.oneOf(true, false)
  } yield (events, streamed)

  private val streamGen = Gen.listOfN(9, txnGen)

  private def buildWal(txns: Seq[(Seq[(Int, String)], Boolean)])
      : Array[Byte] = {
    val w = new PgOutputWriter()
    w.relation(5L, "public", "orders_cdc", 'd', Seq(
      graft.sources.PgOutput.RelColumn("id", keyPart = true, 20, -1),
      graft.sources.PgOutput.RelColumn("v", keyPart = false, 25, -1)))
    var lsn = 0x20000000L
    txns.zipWithIndex.foreach { case ((events, streamed), i) =>
      val xid = 500L + i
      def emit(): Unit = events.zipWithIndex.foreach {
        case ((key, kind), j) =>
          kind match {
            case "insert" =>
              w.insert(5L, Array(key.toString, s"v$i-$j"))
            case "update" =>
              w.update(5L, None, None, Array(key.toString, s"u$i-$j"))
            case "delete" =>
              w.delete(5L, 'K', Array(key.toString, null))
          }
      }
      if (streamed) {
        w.streamStart(xid, firstSegment = true)
        emit()
        w.streamStop()
        w.streamCommit(xid, lsn + 0x80, lsn + 0x100, 1000L * i)
      } else {
        w.begin(lsn + 0x80, 1000L * i, xid)
        emit()
        w.commit(lsn + 0x80, lsn + 0x100, 1000L * i)
      }
      lsn += 0x100
    }
    w.bytes()
  }

  private def ini(batchSize: Int): String =
    s"""[extractor]
       |extract_type=cdc
       |slot_name=prop_slot
       |batch_size=$batchSize
       |id_cols=orders_cdc:id
       |
       |[filter]
       |do_dbs=public
       |
       |[sinker]
       |url=http://127.0.0.1:0
       |""".stripMargin

  private def runFrom(task: TaskConfig.Task, wal: Array[Byte],
      seedPos: Option[String]): (CdcTask.RunReport, Long) = {
    val store = new mutable.LinkedHashMap[String, String]()
    val exec = new DbResumer.SqlExec {
      def execute(sql: String, binds: Seq[String]): Unit =
        if (sql.startsWith("INSERT INTO"))
          store(binds(2)) = binds(3)
      def query(sql: String, binds: Seq[String]): Seq[Seq[String]] =
        store.map { case (k, v) => Seq("CdcDoing", k, v) }.toSeq
    }
    seedPos.foreach(p => store("default_key") =
      DbResumer.renderPosition(Position.PgCdc(p)))
    val rec = new DbResumer.Recorder("prop", exec,
      DbResumer.MySqlDialect)
    val dual = new DbResumer.Dual(
      new SnapshotResumer(java.nio.file.Files
        .createTempDirectory("cdc-prop").toString),
      rec, () => new DbResumer.Recovery("prop", exec))
    CdcTaskPropertySpec.count.set(0L)
    val report = CdcTask.run(spark, task,
      CdcTask.PgAnswers(
        graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
        pubExists = false, walStream = wal),
      (_, _, _, _) => new CdcTaskPropertySpec.CountSink, dual)
    (report, CdcTaskPropertySpec.count.get())
  }

  test("every recorded batch boundary is an exactly-once restart " +
      "point, for arbitrary txn streams and batch sizes") {
    Seq(11L, 23L, 47L).foreach { seed =>
      Seq(1, 3, 7).foreach { batchSize =>
        val txns = sample(streamGen, seed)
        val wal = buildWal(txns)
        val task = TaskConfig.fromIni(ini(batchSize))
        val total = txns.map(_._1.size.toLong).sum

        val (full, _) = runFrom(task, wal, None)
        assert(full.rowsShipped == total,
          s"seed=$seed bs=$batchSize full run")
        assert(full.eventsSkipped == 0L)
        // batch sizes respect the txn-aligned accumulation rule
        assert(full.batches.forall(b => b.rows >= 1))

        // restart from EVERY recorded boundary: the shipped suffix and
        // skipped prefix partition the stream exactly
        full.batches.foreach { b =>
          val prefix = full.batches
            .takeWhile(_.batchId <= b.batchId).map(_.rows).sum
          val (resumed, _) =
            runFrom(task, wal, Some(b.commitLsn))
          assert(resumed.startLsn == b.commitLsn)
          assert(resumed.eventsSkipped == prefix,
            s"seed=$seed bs=$batchSize from=${b.commitLsn}")
          assert(resumed.rowsShipped == total - prefix)
          // and the re-run's own boundaries continue the original's
          assert(resumed.batches.map(_.rows).sum ==
            total - prefix)
        }
      }
    }
  }

  // ---- one frame per batch over several relations -------------------

  /** Wire columns per relation; `t_c` has no replica-identity key and
    * takes `id` from `id_cols`.
    */
  private val relCols = Map(
    ("public", "t_a") -> Seq("id", "v", "w"),
    ("public", "t_b") -> Seq("k1", "k2", "name"),
    ("public", "t_c") -> Seq("id", "payload"),
    ("public", "t_d") -> Seq("id", "v"))
  private val relKeys = Map(
    ("public", "t_a") -> Seq("id"),
    ("public", "t_b") -> Seq("k1", "k2"),
    ("public", "t_c") -> Seq.empty[String],
    ("public", "t_d") -> Seq("id"))

  /** What the task below must ship per source table, stated by hand:
    * (source column -> shipped name, key columns, destination). `t_a`
    * ignores `w` (and lists its key `id`, which stays), `t_b` renames
    * `name`, and `t_d` is routed onto `t_a`'s target.
    */
  private val shape = Map(
    "t_a" -> ((Seq("id" -> "id", "v" -> "v"), Seq("id"), "dw.t_a")),
    "t_b" -> ((Seq("k1" -> "k1", "k2" -> "k2", "name" -> "full_name"),
      Seq("k1", "k2"), "dw.t_b")),
    "t_c" -> ((Seq("id" -> "id", "payload" -> "payload"), Seq("id"),
      "dw.t_c")),
    "t_d" -> ((Seq("id" -> "id", "v" -> "v"), Seq("id"), "dw.t_a")))

  private def multiIni(hardDelete: Boolean): String =
    s"""[extractor]
       |extract_type=cdc
       |slot_name=multi_slot
       |parallel_size=3
       |id_cols=t_c:id
       |
       |[filter]
       |do_dbs=public
       |ignore_cols=json:[{"db":"public","tb":"t_a","ignore_cols":["w","id"]}]
       |
       |[router]
       |db_map=public:dw
       |tb_map=public.t_d:dw.t_a
       |col_map=public.t_b.name:full_name
       |
       |[sinker]
       |url=http://127.0.0.1:0
       |batch_size=4
       |hard_delete=$hardDelete
       |""".stripMargin

  // small key pools so compaction folds; NULL keys take the serial lane
  private val keyGen = Gen.frequency(
    1 -> Gen.const(null: String), 6 -> Gen.choose(1, 4).map(_.toString))
  private val valueGen = Gen.frequency(
    1 -> Gen.const(null: String), 1 -> Gen.const("q\"ü\\"),
    5 -> Gen.alphaNumStr.map(_.take(6)))
  private val eventGen = for {
    rel <- Gen.oneOf(relCols.keys.toSeq.sorted)
    kind <- Gen.oneOf("insert", "update", "delete")
    keys <- Gen.listOfN(2, keyGen)
    vals <- Gen.listOfN(3, valueGen)
  } yield {
    val keyCols = shape(rel._2)._2
    val img = relCols(rel).zipWithIndex.map { case (c, j) =>
      c -> (if (keyCols.contains(c)) keys(keyCols.indexOf(c)) else vals(j))
    }.toMap
    ChangeEvent(rel._1, rel._2, 0L, kind,
      before = if (kind == "insert") Map.empty else img,
      after = if (kind == "delete") Map.empty else img,
      positionKind = "", positionValue = "", originNode = "")
  }

  /** The per-table fold on the driver: per key the last event wins, a
    * NULL-keyed event ships as itself, every line rendered by Jackson.
    */
  private def fold(events: Seq[ChangeEvent], hardDelete: Boolean)
      : Map[(String, String), Seq[String]] = {
    val mapper = new ObjectMapper()
    val out = mutable.Map.empty[(String, String), Vector[String]]
      .withDefaultValue(Vector.empty)
    events.zipWithIndex.groupBy(_._1.tb).foreach { case (tb, evs) =>
      val (cols, keys, dest) = shape(tb)
      def img(e: ChangeEvent) =
        if (e.rowType == "delete") e.before else e.after
      val (serial, mergeable) =
        evs.partition { case (e, _) => keys.exists(img(e)(_) == null) }
      val last = mergeable.groupBy { case (e, _) => keys.map(img(e)) }
        .values.map(_.maxBy(_._2))
      (serial ++ last).foreach { case (e, seq) =>
        val row = new java.util.LinkedHashMap[String, Any]()
        cols.foreach { case (c, name) =>
          Option(img(e)(c)).foreach(row.put(name, _))
        }
        if (!hardDelete) {
          row.put(StreamLoadSink.IsDeletedCol,
            if (e.rowType == "delete") 1 else 0)
          row.put(StreamLoadSink.VersionCol, seq.toLong)
        }
        val op = if (hardDelete && e.rowType == "delete") "delete" else ""
        out((dest, op)) :+= mapper.writeValueAsString(row)
      }
    }
    out.toMap.map { case (k, v) => k -> v.sorted }
  }

  private def shipped(task: TaskConfig.Task, events: Seq[ChangeEvent])
      : (Map[(String, String), Long], Map[(String, String), Seq[String]]) = {
    CdcTaskPropertySpec.lines.clear()
    val counts = CdcTask.shipBatch(spark, task, 0L, events, relCols,
      relKeys, (s, tb, _, op) => new CdcTaskPropertySpec.LineSink(
        s"$s.$tb", op))
    (counts, CdcTaskPropertySpec.lines.asScala.toSeq
      .groupMap(l => (l._1, l._2))(_._3).map { case (k, v) =>
        k -> v.sorted
      })
  }

  test("one frame per batch ships, per (destination, op), exactly the " +
      "lines of an independent per-table fold") {
    Seq(false, true).foreach { hardDelete =>
      val task = TaskConfig.fromIni(multiIni(hardDelete))
      Seq(5L, 17L, 29L).foreach { seed =>
        val events = sample(Gen.listOfN(60, eventGen), seed)
        val (counts, lines) = shipped(task, events)
        assert(lines == fold(events, hardDelete),
          s"seed=$seed hard_delete=$hardDelete")
        assert(counts.map { case ((s, t), n) => s"$s.$t" -> n } ==
          events.groupMapReduce(e => shape(e.tb)._3)(_ => 1L)(_ + _))
      }
    }
  }

  test("a batch over 150 tables renders every table's lines in one " +
      "projection") {
    val task = TaskConfig.fromIni(multiIni(hardDelete = false))
    val wide = (0 until 150).map(t => ("public", f"w$t%03d"))
    val events = wide.flatMap { case (s, tb) =>
      Seq("1", "2").map(k => ChangeEvent(s, tb, 0L, "insert", Map.empty,
        Map("id" -> k, s"c_$tb" -> s"$tb-$k"), "", "", ""))
    }
    CdcTaskPropertySpec.lines.clear()
    val counts = CdcTask.shipBatch(spark, task, 0L, events,
      wide.map(r => r -> Seq("id", s"c_${r._2}")).toMap, Map.empty,
      (s, tb, _, op) =>
        new CdcTaskPropertySpec.LineSink(s"$s.$tb", op))
    assert(counts == wide.map { case (_, tb) => ("dw", tb) -> 2L }.toMap)
    val byDest = CdcTaskPropertySpec.lines.asScala.toSeq.groupMap(_._1)(_._3)
    assert(byDest.keySet == wide.map { case (_, tb) => s"dw.$tb" }.toSet)
    wide.foreach { case (_, tb) =>
      assert(byDest(s"dw.$tb").sorted == Seq("1", "2").map(k =>
        s"""{"id":"$k","c_$tb":"$tb-$k","_graft_is_deleted":0,""" +
          s""""_graft_version":${events.indexWhere(e =>
            e.tb == tb && e.after("id") == k)}}"""))
    }
  }

  test("a 3-table batch submits no more Spark jobs than a 1-table batch") {
    val task = TaskConfig.fromIni(multiIni(hardDelete = false))
    val events = sample(Gen.listOfN(60, eventGen), 41L)
    val one = events.filter(_.tb == "t_a")
    val three = events.filter(e => Set("t_a", "t_b", "t_c")(e.tb))
    assert(three.map(_.tb).distinct.size == 3)
    val tagged = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("graft.test.batch"))).foreach { tag =>
          tagged.computeIfAbsent(tag,
            _ => new java.util.concurrent.atomic.AtomicInteger())
            .incrementAndGet(): Unit
        }
    }
    def jobs(tag: String): Int =
      Option(tagged.get(tag)).map(_.get()).getOrElse(0)
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq("one" -> one, "three" -> three).foreach { case (tag, evs) =>
        spark.sparkContext.setLocalProperty("graft.test.batch", tag)
        try shipped(task, evs)
        finally spark.sparkContext.setLocalProperty("graft.test.batch", null)
      }
      // listener delivery is async: wait for the counts to go stable
      var last = -1
      while (jobs("one") + jobs("three") != last) {
        last = jobs("one") + jobs("three"); Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs("one") > 0)
    assert(jobs("three") <= jobs("one"),
      s"3 tables took ${jobs("three")} jobs, 1 table ${jobs("one")}")
  }
}

object CdcTaskPropertySpec {
  val count = new java.util.concurrent.atomic.AtomicLong(0L)
  /** (destination, op, line) of every put by a [[LineSink]]. */
  val lines =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()

  final class LineSink(dest: String, op: String)
      extends StreamLoadSink.PayloadSink with Serializable {
    override def put(ls: Seq[String]): Unit =
      ls.foreach(l => lines.add((dest, op, l)): Unit)
  }

  final class CountSink extends StreamLoadSink.PayloadSink
      with Serializable {
    override def put(lines: Seq[String]): Unit = {
      count.addAndGet(lines.size.toLong): Unit
    }
  }
}
