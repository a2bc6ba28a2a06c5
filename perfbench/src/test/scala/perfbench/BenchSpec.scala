package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{RedisPsync, RedisRdb}

/** The bench's own generators, doubles, gates and trace accounting. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def sha(bs: Array[Byte]*): String = {
    val md = MessageDigest.getInstance("SHA-256")
    bs.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("perfbench-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val tmp =
    java.nio.file.Files.createTempDirectory("perfbench-spec").toString

  override def afterAll(): Unit = {
    spark.stop()
    graft.infra.Fs.delete(tmp)
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(tmp), "w").toString

  test("pgoutput capture: same seed, same bytes; state equals an " +
      "independent decode") {
    val a = PgCapture.generate(7L, 20000, 500)
    assert(sha(a.bytes) == sha(PgCapture.generate(7L, 20000, 500).bytes))
    assert(sha(a.bytes) != sha(PgCapture.generate(8L, 20000, 500).bytes))
    assert(a.events == 20000L && a.streamedTxns > 0 && a.keepalives > 0)
    def nonEmpty(s: PgCapture.State) = s.filter(_._2.nonEmpty)
    assert(nonEmpty(PgCapture.decodeState(a.bytes)) == nonEmpty(a.expected))
  }

  test("RDB writer round-trips 6-, 14- and 32-bit lengths") {
    val w = new RdbWriter
    w.selectDb(0)
    w.string("short", "x" * 10)
    w.string("mid", "y" * 300)
    w.string("long", "z" * 20000)
    w.list("wide", (0 until 70).map(_.toString))
    val got = RedisRdb.parse(w.finish())
    assert(got.filter(_.valueType == "string").map(e => e.key -> e.value.length)
      .toMap == Map("short" -> 10, "mid" -> 300, "long" -> 20000))
    assert(got.filter(_.key == "wide").map(_.value) == (0 until 70).map(_.toString))
  }

  test("redis capture: same seed, same bytes; RDB and RESP tail decode " +
      "independently to what the generator served") {
    val c = RedisCapture.generate(3L, 2000, 3000, 800)
    val again = RedisCapture.generate(3L, 2000, 3000, 800)
    assert(sha(c.drain1.reply, c.drain2.reply) ==
      sha(again.drain1.reply, again.drain2.reply))
    assert(sha(c.drain1.reply) != sha(RedisCapture.generate(4L, 2000, 3000, 800)
      .drain1.reply))
    assert(RedisCapture.rdbState(c.rdb) == c.rdbExpected)
    assert(c.rdbExpected.size == 2000)
    def commands(d: RedisCapture.Drain) = {
      val handshake = "+PONG\r\n+OK\r\n".length
      RedisPsync.streamCommands(new java.io.ByteArrayInputStream(
        d.reply, handshake, d.reply.length - handshake)).map(_._1).toSeq
    }
    val tail2 = commands(c.drain2)
    assert(commands(c.drain1).size.toLong == c.drain1.commands)
    assert(tail2.size.toLong == c.drain2.commands)
    val hot = tail2.count(_.lift(1).contains(RedisCapture.HotKey))
    assert(hot > tail2.size / 20 && hot < tail2.size / 5)
    assert(!tail2.exists(a => a.head.toUpperCase.contains("EXPIRE")))
  }

  test("the array wire reads in order and ends in EOF") {
    val w = new ArrayWire("abcdef".getBytes("UTF-8"))
    assert(new String(w.read(2), "UTF-8") == "ab")
    assert(new String(w.readSome(10), "UTF-8") == "cdef")
    assert(intercept[java.io.EOFException](w.read(1)) != null)
    assert(w.eofNs > 0L)
  }

  test("cdc drain: untraced and traced ship identical bytes, the gate " +
      "passes, and a corrupted expected state fails it") {
    val w = new CdcWorkload(12000, 800, 2, tmpDir())
    w.prepare(5L)
    val plain = w.runOnce(spark, new Tracer(spark.sparkContext, false), 0)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, true)
    tracer.currentRun = 1
    val traced = w.runOnce(spark, tracer, 1)
    listener.settle()
    spark.sparkContext.removeSparkListener(listener)
    assert(plain.failed == 0L && traced.failed == 0L && plain.checked > 0L)
    assert(w.lastShipped(true) == w.lastShipped(false))

    // the gate is live: change one expected row
    val shipped = MemSink.fold(MemSink.all, "id")
    val (t, rows) = w.expectedRouted.head
    val (k, row) = rows.head
    val corrupted = w.expectedRouted.updated(t,
      rows.updated(k, row.updated("id", "not-" + row("id"))))
    assert(Gate.compare(Gate.byKey(w.expectedRouted), Gate.byKey(shipped))._2 == 0L)
    assert(Gate.compare(Gate.byKey(corrupted), Gate.byKey(shipped))._2 == 1L)

    // per-layer accounting covers the wall time and names the layers
    val m = Layers.metrics(tracer, listener, 0, Seq(false -> plain, true -> traced))
      .map(x => x._1 -> x._2).toMap
    assert(Layers.Names.map(_._1).forall(m.contains))
    Seq("decode.busy_s", "route.busy_s", "batch.driver_s", "compact.busy_s",
      "apply.busy_s", "batch.count", "batch.jobs", "apply.puts",
      "compact.shuffle_write_bytes").foreach(n => assert(m(n) > 0.0, n))
    assert(math.abs(Layers.BusyNames.map(m).sum - m("trace.wall_s")) < 1e-6)
  }

  test("redis drains: the face matches the model, traced or not, and a " +
      "corrupted expected face fails the gate") {
    val w = new RedisWorkload(1500, 1500, 400, tmpDir())
    w.prepare(9L)
    val plain = w.runOnce(spark, new Tracer(spark.sparkContext, false), 0)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, true)
    tracer.currentRun = 1
    val traced = w.runOnce(spark, tracer, 1)
    listener.settle()
    spark.sparkContext.removeSparkListener(listener)
    assert(plain.failed == 0L && traced.failed == 0L)
    assert(plain.checked > 1500L)

    val want = w.capture.expected2
    val (k, v) = want.head
    assert(Gate.compare(want.updated(k, v + " "), want)._2 == 1L)
    assert(Gate.compare(want - k, want)._2 == 1L)

    val m = Layers.metrics(tracer, listener, 0, Seq(false -> plain, true -> traced))
      .map(x => x._1 -> x._2).toMap
    Seq("transport.busy_s", "transport.bytes", "transport.segments",
      "decode.busy_s", "decode.events_out", "merge.busy_s", "merge.cpu_s",
      "merge.ops_in", "merge.keys_out", "publish.busy_s",
      "publish.bytes_out").foreach(n => assert(m(n) > 0.0, n))
    assert(math.abs(Layers.BusyNames.map(m).sum - m("trace.wall_s")) < 1e-6)
  }
}
