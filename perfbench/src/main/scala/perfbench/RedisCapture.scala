package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.transport.{RedisReplicationPump, Wire}

/** RDB writer with the full length encoding (6-bit, 14-bit and 32-bit
  * lengths), so values and collections of any size round-trip. Types:
  * string (0), list (1), set (2), hash (4) and zset with binary scores (5).
  */
final class RdbWriter {
  private val out = new java.io.ByteArrayOutputStream()
  out.write("REDIS0011".getBytes(UTF_8))

  private def u8(b: Int): Unit = out.write(b & 0xff)

  def length(n: Long): Unit =
    if (n < 64) u8(n.toInt)
    else if (n < 16384) { u8(0x40 | (n >> 8).toInt); u8(n.toInt) }
    else if (n <= 0xffffffffL) {
      u8(0x80); (3 to 0 by -1).foreach(i => u8((n >> (8 * i)).toInt))
    } else {
      u8(0x81); (7 to 0 by -1).foreach(i => u8((n >> (8 * i)).toInt))
    }

  def str(s: String): Unit = {
    val b = s.getBytes(UTF_8)
    length(b.length.toLong); out.write(b)
  }

  def selectDb(db: Long): Unit = { u8(0xfe); length(db) }

  def string(key: String, v: String): Unit = { u8(0); str(key); str(v) }

  def list(key: String, vs: Seq[String]): Unit = {
    u8(1); str(key); length(vs.size.toLong); vs.foreach(str)
  }

  def set(key: String, ms: Iterable[String]): Unit = {
    u8(2); str(key); length(ms.size.toLong); ms.foreach(str)
  }

  def hash(key: String, fvs: Iterable[(String, String)]): Unit = {
    u8(4); str(key); length(fvs.size.toLong)
    fvs.foreach { case (f, v) => str(f); str(v) }
  }

  def zset(key: String, ms: Iterable[(String, Long)]): Unit = {
    u8(5); str(key); length(ms.size.toLong)
    ms.foreach { case (m, s) =>
      str(m)
      val bits = java.lang.Double.doubleToLongBits(s.toDouble)
      (0 until 8).foreach(i => u8((bits >> (8 * i)).toInt))
    }
  }

  /** EOF opcode plus an (unchecked) zero checksum. */
  def finish(): Array[Byte] = {
    u8(0xff); out.write(new Array[Byte](8)); out.toByteArray
  }
}

/** A `Wire` over one pre-built reply stream. Reads are O(bytes read);
  * writes (the replica's AUTH/PING/REPLCONF/PSYNC/ACK) are dropped. The
  * end of the buffer reads as a peer close, which ends a drain-once
  * session. The first-read and end-of-stream times bound the transport
  * phase.
  */
final class ArrayWire(bytes: Array[Byte]) extends Wire {
  private var pos = 0
  @volatile var firstReadNs = 0L
  @volatile var eofNs = 0L

  private def eof(): Nothing = {
    if (eofNs == 0L) eofNs = System.nanoTime()
    throw new java.io.EOFException("served stream drained")
  }

  override def read(n: Int): Array[Byte] = {
    if (firstReadNs == 0L) firstReadNs = System.nanoTime()
    if (pos + n > bytes.length) eof()
    val b = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
    pos += n
    b
  }

  override def readSome(max: Int): Array[Byte] = {
    if (pos >= bytes.length) eof()
    read(math.min(max, bytes.length - pos))
  }

  override def write(b: Array[Byte]): Unit = ()
  override def close(): Unit = ()
}

/** Seeded PSYNC capture for the `redis_psync` workload: drain 1 is a
  * `+FULLRESYNC` with an RDB of most keys and a command tail; drain 2 is a
  * `+CONTINUE` with a shorter tail where about a tenth of the commands hit
  * one hot hash. Commands stay type-correct against the generator's own
  * model, and none depends on the wall clock (no EXPIRE family), so the
  * model's final state is the exact expected state face.
  */
object RedisCapture {

  /** Model value of one key. */
  sealed trait V
  final case class Str(v: String) extends V
  final case class HashV(m: mutable.TreeMap[String, String]) extends V
  final case class ListV(l: mutable.ArrayBuffer[String]) extends V
  final case class SetV(s: mutable.TreeSet[String]) extends V
  final case class ZSetV(z: mutable.TreeMap[String, Long]) extends V

  final case class Drain(reply: Array[Byte], captureBytes: Long,
      rdbEntries: Long, commands: Long)

  final case class Capture(drain1: Drain, drain2: Drain,
      rdb: Array[Byte], rdbExpected: Map[String, String],
      expected1: Map[String, String], expected2: Map[String, String])

  val HotKey = "h:hot"
  private val ReplId = "5e0b" * 10

  private def ascii(s: String) = s.getBytes(UTF_8)

  def generate(seed: Long, rdbKeys: Int, tail1: Int, tail2: Int)
      : Capture = {
    val r = new java.util.Random(seed)
    val model = mutable.HashMap.empty[String, V]
    def member() = s"m${r.nextInt(40)}"
    def field() = s"f${r.nextInt(24)}"
    def value() = s"v${r.nextInt(1000000)}"

    // RDB: every key type, collections of 1..8 elements
    val rdb = new RdbWriter
    rdb.selectDb(0)
    var entries = 0L
    (0 until rdbKeys).foreach { i =>
      val n = 1 + r.nextInt(8)
      r.nextInt(10) match {
        case 0 | 1 | 2 | 3 =>
          val v = value(); rdb.string(s"s:$i", v); model(s"s:$i") = Str(v)
          entries += 1
        case 4 | 5 =>
          val m = mutable.TreeMap.from((0 until n).map(_ => field() -> value()))
          rdb.hash(s"h:$i", m); model(s"h:$i") = HashV(m); entries += m.size
        case 6 | 7 =>
          val l = mutable.ArrayBuffer.fill(n)(value())
          rdb.list(s"l:$i", l.toSeq); model(s"l:$i") = ListV(l)
          entries += l.size
        case 8 =>
          val s = mutable.TreeSet.from((0 until n).map(_ => member()))
          rdb.set(s"e:$i", s); model(s"e:$i") = SetV(s); entries += s.size
        case _ =>
          val z = mutable.TreeMap.from(
            (0 until n).map(_ => member() -> r.nextInt(1000).toLong))
          rdb.zset(s"z:$i", z); model(s"z:$i") = ZSetV(z); entries += z.size
      }
    }
    val rdbBytes = rdb.finish()
    val rdbExpected = render(model)

    // one type-correct command against the model; `hot` pins the key
    def command(keySpace: Int, hot: Boolean): Seq[String] = {
      val key =
        if (hot) HotKey
        else {
          val i = r.nextInt(keySpace)
          model.get(s"s:$i").map(_ => s"s:$i").getOrElse(
            Seq("s:", "h:", "l:", "e:", "z:").map(_ + i)
              .find(model.contains)
              .getOrElse(Seq("s:", "h:", "l:", "e:", "z:")(r.nextInt(5)) + i))
        }
      val roll = r.nextInt(10)
      (model.get(key), key.take(2)) match {
        case (Some(_), _) if roll == 0 && !hot =>
          model.remove(key); Seq("DEL", key)
        case (_, "s:") =>
          val v = value(); model(key) = Str(v); Seq("SET", key, v)
        case (cur, "h:") =>
          val m = cur.collect { case HashV(m) => m }
            .getOrElse(mutable.TreeMap.empty[String, String])
          if (m.nonEmpty && roll < 3 && !hot) {
            val f = m.keys.toSeq(r.nextInt(m.size))
            m.remove(f); if (m.isEmpty) model.remove(key)
            Seq("HDEL", key, f)
          } else {
            val f = field(); val v = value()
            m(f) = v; model(key) = HashV(m); Seq("HSET", key, f, v)
          }
        case (cur, "l:") =>
          val l = cur.collect { case ListV(l) => l }
            .getOrElse(mutable.ArrayBuffer.empty[String])
          val v = value(); model(key) = ListV(l)
          if (roll < 5) { l.append(v); Seq("RPUSH", key, v) }
          else { l.prepend(v); Seq("LPUSH", key, v) }
        case (cur, "e:") =>
          val s = cur.collect { case SetV(s) => s }
            .getOrElse(mutable.TreeSet.empty[String])
          if (s.nonEmpty && roll < 4) {
            val m = s.toSeq(r.nextInt(s.size))
            s.remove(m); if (s.isEmpty) model.remove(key)
            Seq("SREM", key, m)
          } else {
            val m = member(); s.add(m); model(key) = SetV(s)
            Seq("SADD", key, m)
          }
        case (cur, _) =>
          val z = cur.collect { case ZSetV(z) => z }
            .getOrElse(mutable.TreeMap.empty[String, Long])
          if (z.nonEmpty && roll < 4) {
            val m = z.keys.toSeq(r.nextInt(z.size))
            z.remove(m); if (z.isEmpty) model.remove(key)
            Seq("ZREM", key, m)
          } else {
            val m = member(); val s = r.nextInt(1000).toLong
            z(m) = s; model(key) = ZSetV(z)
            Seq("ZADD", key, s.toString, m)
          }
      }
    }

    def tail(n: Int, hotShare: Double): (Array[Byte], Long) = {
      val out = new java.io.ByteArrayOutputStream()
      var cmds = 0L
      def emit(args: String*): Unit = {
        out.write(RedisReplicationPump.cmd(args: _*)); cmds += 1
      }
      emit("SELECT", "0")
      (0 until n).foreach { i =>
        // new keys extend the key space past the RDB's
        emit(command(rdbKeys + rdbKeys / 10, r.nextDouble() < hotShare): _*)
        if (i % 5000 == 4999) emit("PING")
      }
      (out.toByteArray, cmds)
    }

    val handshake = ascii("+PONG\r\n+OK\r\n")
    val (t1, c1) = tail(tail1, 0.0)
    val expected1 = render(model)
    val reply1 = concat(handshake,
      ascii(s"+FULLRESYNC $ReplId 0\r\n"),
      ascii(s"$$${rdbBytes.length}\r\n"), rdbBytes, t1)
    val (t2, c2) = tail(tail2, 0.1)
    val reply2 = concat(handshake, ascii(s"+CONTINUE $ReplId\r\n"), t2)
    Capture(
      Drain(reply1, reply1.length - handshake.length, entries, c1),
      Drain(reply2, reply2.length - handshake.length, 0L, c2),
      rdbBytes, rdbExpected, expected1, render(model))
  }

  private def concat(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(p => out.write(p))
    out.toByteArray
  }

  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** The state-face payload of one model value: type tag, then
    * [field, value] pairs sorted by field (lists by zero-padded index).
    */
  def payload(v: V): String = {
    def face(t: String, e: Iterable[(String, String)]): String =
      e.map { case (f, x) => s"[${jstr(f)},${jstr(x)}]" }
        .mkString(s"""{"t":${jstr(t)},"e":[""", ",", "]}")
    v match {
      case Str(s) => face("string", Seq("" -> s))
      case HashV(m) => face("hash", m)
      case ListV(l) => face("list", l.zipWithIndex.map { case (x, i) =>
        f"$i%06d" -> x })
      case SetV(s) => face("set", s.toSeq.map(_ -> ""))
      case ZSetV(z) => face("zset", z.toSeq.map { case (m, s) =>
        m -> s.toString })
    }
  }

  /** Expected flat face: state key (`<db>\u0000<key>`) -> payload. */
  def render(model: collection.Map[String, V]): Map[String, String] =
    model.iterator.map { case (k, v) => s"0\u0000$k" -> payload(v) }.toMap

  /** Final state by an independent decode of an RDB image. */
  def rdbState(rdb: Array[Byte]): Map[String, String] = {
    val m = mutable.HashMap.empty[String, V]
    graft.sources.RedisRdb.parse(rdb).foreach { e =>
      (e.valueType, m.get(e.key)) match {
        case ("string", _) => m(e.key) = Str(e.value)
        case ("hash", Some(HashV(h))) => h(e.field) = e.value
        case ("hash", _) => m(e.key) = HashV(mutable.TreeMap(e.field -> e.value))
        case ("list", Some(ListV(l))) => l.append(e.value)
        case ("list", _) => m(e.key) = ListV(mutable.ArrayBuffer(e.value))
        case ("set", Some(SetV(s))) => s.add(e.field)
        case ("set", _) => m(e.key) = SetV(mutable.TreeSet(e.field))
        case ("zset", Some(ZSetV(z))) => z(e.field) = e.value.toLong
        case (_, _) => m(e.key) = ZSetV(mutable.TreeMap(e.field -> e.value.toLong))
      }
    }
    render(m)
  }
}
