package perfbench

import scala.collection.mutable

import graft.sources.{PgOutput, PgOutputWriter}

/** Seeded pgoutput v2 capture for the `cdc_pg_zipf` workload.
  *
  * Four relations; each change picks a relation and a Zipf(1.1) key. A
  * live key gets a delete one time in ten and an update otherwise, a key
  * that is not live gets an insert, so the stream stays valid; at the
  * bench's sizes that is about 27/66/7 insert/update/delete, with the
  * updates piling onto hot keys. About one transaction in forty is
  * streamed in protocol-v2 segments, and a keepalive frame follows every
  * hundredth transaction. The generator keeps the final per-key state it
  * expects, keyed by source (schema, table).
  */
object PgCapture {

  final case class Rel(id: Long, schema: String, name: String,
      cols: Seq[String], weight: Double)

  val Rels: Seq[Rel] = Seq(
    Rel(16401L, "public", "orders",
      Seq("id", "customer_id", "amount", "status", "note"), 0.35),
    Rel(16402L, "public", "order_items",
      Seq("id", "order_id", "sku", "qty", "price"), 0.35),
    Rel(16403L, "public", "users",
      Seq("id", "name", "email", "tier"), 0.2),
    Rel(16404L, "public", "audit_log",
      Seq("id", "actor", "action"), 0.1))

  /** Final state per source (schema, table): key -> column -> value. */
  type State = Map[(String, String), Map[String, Map[String, String]]]

  final case class Capture(bytes: Array[Byte], events: Long,
      streamedTxns: Int, keepalives: Int, expected: State)

  private val Words = Array("alpha", "bravo", "delta", "echo", "kilo",
    "lima", "mike", "oscar", "papa", "romeo", "sierra", "tango")
  private val Statuses = Array("new", "paid", "shipped", "closed")

  /** Zipf(s) over ranks 1..n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val a = new Array[Double](n)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += 1.0 / math.pow(k + 1.0, s); a(k) = acc; k += 1 }
      a
    }
    def sample(r: java.util.Random): Int = {
      val u = r.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1) + 1
    }
  }

  def generate(seed: Long, events: Int, keys: Int): Capture = {
    val r = new java.util.Random(seed)
    val zipf = new Zipf(keys, 1.1)
    val w = new PgOutputWriter()
    Rels.foreach { rel =>
      w.relation(rel.id, rel.schema, rel.name, 'd', rel.cols.zipWithIndex
        .map { case (c, i) =>
          PgOutput.RelColumn(c, keyPart = i == 0, if (i == 0) 20 else 25, -1)
        })
    }
    val live = Rels.map(_ => mutable.HashMap.empty[String, Array[String]])
    val cum = Rels.scanLeft(0.0)(_ + _.weight).tail

    def word(): String = Words(r.nextInt(Words.length))
    def row(rel: Int, key: String): Array[String] = rel match {
      case 0 => Array(key, r.nextInt(100000).toString,
        s"${r.nextInt(100000)}.${r.nextInt(90) + 10}",
        Statuses(r.nextInt(Statuses.length)),
        Seq.fill(1 + r.nextInt(4))(word()).mkString(" "))
      case 1 => Array(key, r.nextInt(1000000).toString,
        s"SKU-${r.nextInt(50000)}", (1 + r.nextInt(20)).toString,
        s"${r.nextInt(5000)}.${r.nextInt(90) + 10}")
      case 2 => Array(key, s"${word()} ${word()}",
        s"${word()}${r.nextInt(10000)}@example.com",
        Statuses(r.nextInt(Statuses.length)))
      case _ => Array(key, word(), word())
    }

    var emitted = 0
    var txns = 0
    var streamed = 0
    var keepalives = 0
    var lsn = 0x20000000L
    var xid = 1000L
    while (emitted < events) {
      val size = math.min(1 + r.nextInt(8), events - emitted)
      val isStreamed = r.nextInt(40) == 0
      xid += 1
      val micros = 1700000000000000L + txns * 1000L
      if (isStreamed) w.streamStart(xid, firstSegment = true)
      else w.begin(lsn + 0x40, micros, xid)
      var i = 0
      while (i < size) {
        // a streamed txn spans two segments, split mid-transaction
        if (isStreamed && i == size / 2 && i > 0) {
          w.streamStop(); w.streamStart(xid, firstSegment = false)
        }
        val u = r.nextDouble() * cum.last
        val rel = cum.indexWhere(u < _)
        val key = zipf.sample(r).toString
        val state = live(rel)
        val op = r.nextDouble()
        val relId = Rels(rel).id
        if (state.contains(key) && op >= 0.9) {
          w.delete(relId, 'K',
            key +: Array.fill[String](Rels(rel).cols.size - 1)(null))
          state.remove(key)
        } else if (state.contains(key)) {
          val v = row(rel, key)
          w.update(relId, None, None, v)
          state(key) = v
        } else {
          val v = row(rel, key)
          w.insert(relId, v)
          state(key) = v
        }
        i += 1
      }
      if (isStreamed) {
        w.streamStop()
        w.streamCommit(xid, lsn + 0x40, lsn + 0x80, micros)
        streamed += 1
      } else w.commit(lsn + 0x40, lsn + 0x80, micros)
      lsn += 0x100
      emitted += size
      txns += 1
      if (txns % 100 == 0) { w.keepalive(replyRequested = false); keepalives += 1 }
    }
    val expected: State = Rels.zip(live).map { case (rel, st) =>
      (rel.schema, rel.name) -> st.map { case (k, v) =>
        k -> rel.cols.zip(v).toMap
      }.toMap
    }.toMap
    Capture(w.bytes(), emitted.toLong, streamed, keepalives, expected)
  }

  /** Final state by an independent decode of the capture bytes. */
  def decodeState(bytes: Array[Byte]): State = {
    val st = mutable.HashMap.empty[(String, String),
      mutable.HashMap[String, Map[String, String]]]
    PgOutput.decodeFile(bytes).foreach { e =>
      val t = st.getOrElseUpdate((e.schema, e.tb), mutable.HashMap.empty)
      if (e.rowType == "delete") t.remove(e.before("id"))
      else t(e.after("id")) = e.after
    }
    st.map { case (k, v) => k -> v.toMap }.toMap
  }
}
