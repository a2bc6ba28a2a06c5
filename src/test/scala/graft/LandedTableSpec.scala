package graft

import org.apache.spark.sql.functions._

import graft.infra.Fs
import graft.sinks.LandedTable

/** The live-CDC landed-table LSM layout: O(batch) triggers, rename
  * commits, crash-at-any-point readability, and the flat published
  * face — the contract the previous full-rewrite lander violated
  * (per-trigger work was O(state), and its delete-then-rename swap
  * had a no-table crash window).
  */
class LandedTableSpec extends SparkSuite {

  private def delta(batchId: Long, rows: (String, String, String)*) = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((rt, k, v), i) =>
      (batchId, batchId * 1000L + i, rt, k, v)
    }.toDF("bseq", "seq", "row_type", "key", "payload")
  }

  private def state(table: String): Map[String, String] =
    LandedTable.read(spark, table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("deltas accumulate, merges fold tombstones, reads see " +
      "last-writer-wins at every point") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(
      delta(0L, ("insert", "1", "a"), ("insert", "2", "b")), t, 0L)
    assert(state(t) == Map("1" -> "a", "2" -> "b"))
    LandedTable.writeDelta(
      delta(1L, ("insert", "1", "a2"), ("delete", "2", "b")), t, 1L)
    assert(state(t) == Map("1" -> "a2"))
    LandedTable.compactTo(spark, t, 1L)
    // merged: tombstone folded away, deltas swept, one committed base
    assert(state(t) == Map("1" -> "a2"))
    assert(LandedTable.deltaIds(t).isEmpty)
    assert(LandedTable.committedBase(t).map(_._1).contains(1L))
    // post-merge deltas layer on top of the base
    LandedTable.writeDelta(
      delta(2L, ("insert", "3", "c"), ("delete", "1", "")), t, 2L)
    assert(state(t) == Map("3" -> "c"))
  }

  test("a checkpoint-replayed batch overwrites its delta instead of " +
      "duplicating (idempotent landing)") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(delta(0L, ("insert", "1", "a")), t, 0L)
    LandedTable.writeDelta(delta(0L, ("insert", "1", "a")), t, 0L)
    assert(LandedTable.read(spark, t).count() == 1L)
  }

  test("per-trigger write volume is O(batch), not O(landed state)") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    // a big committed base…
    import spark.implicits._
    val big = (0 until 100000).map(i =>
      (0L, i.toLong, "insert", s"k$i", "v" * 20))
      .toDF("bseq", "seq", "row_type", "key", "payload")
    LandedTable.writeDelta(big, t, 0L)
    LandedTable.compactTo(spark, t, 0L)
    val baseBytes = dirBytes(LandedTable.committedBase(t).get._2)
    // …then a 10-row trigger: the bytes written are the delta alone
    LandedTable.writeDelta(delta(1L, (0 until 10).map(i =>
      ("insert", s"k$i", "x")): _*), t, 1L)
    val written = dirBytes(s"$t/_delta")
    assert(written > 0)
    assert(written < baseBytes / 20,
      s"trigger wrote $written bytes against a $baseBytes-byte base")
    // and the base was NOT rewritten by the trigger
    assert(LandedTable.committedBase(t).map(_._1).contains(0L))
    assert(state(t).get("k5").contains("x"))
    assert(state(t).get("k99999").contains("v" * 20))
  }

  test("a crash between stage and commit leaves the previous state " +
      "readable; the next merge sweeps the stage and completes") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(delta(0L, ("insert", "1", "a")), t, 0L)
    LandedTable.compactTo(spark, t, 0L)
    LandedTable.writeDelta(delta(1L, ("insert", "2", "b")), t, 1L)
    // plant a crashed merge: a fully-written stage that never renamed
    delta(1L, ("insert", "99", "GHOST")).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$t/_stage-00000001")
    // the stage is invisible to readers — previous state intact
    assert(state(t) == Map("1" -> "a", "2" -> "b"))
    // the next merge sweeps it and commits the real state
    LandedTable.compactTo(spark, t, 1L)
    assert(state(t) == Map("1" -> "a", "2" -> "b"))
    assert(Fs.listNames(t).forall(!_.startsWith("_stage-")))
    assert(LandedTable.committedBase(t).map(_._1).contains(1L))
  }

  test("publishFlat refreshes the plain-parquet face; a lost flat " +
      "copy re-publishes from the committed state") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(
      delta(0L, ("insert", "1", "a"), ("insert", "2", "b")), t, 0L)
    LandedTable.writeDelta(delta(1L, ("delete", "2", "b")), t, 1L)
    LandedTable.publishFlat(spark, t)
    val flat = spark.read.parquet(t).collect()
      .map(r => r.getAs[String]("key")).toSet
    assert(flat == Set("1"))
    // simulate a crash that wiped the derived flat copy mid-publish
    Fs.listNames(t).filter(n => !n.startsWith("_"))
      .foreach(n => Fs.delete(s"$t/$n"))
    LandedTable.publishFlat(spark, t)
    assert(spark.read.parquet(t).collect()
      .map(_.getAs[String]("key")).toSet == Set("1"))
  }

  test("a poll with no outstanding deltas is a plain base scan — no " +
      "shuffle, no recompaction (round-12 verdict Wrong #1)") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(
      delta(0L, ("insert", "1", "a"), ("insert", "2", "b")), t, 0L)
    LandedTable.compactTo(spark, t, 0L)
    val df = LandedTable.read(spark, t)
    assert(df.inputFiles.forall(_.contains("/_base-")),
      s"poll read outside the base: ${df.inputFiles.toSeq}")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"a no-delta poll shuffled:\n$plan")
    assert(state(t) == Map("1" -> "a", "2" -> "b"))
  }

  test("a poll with newer deltas anti-joins the BROADCAST delta keys " +
      "against the base — the base side is never shuffled") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(
      delta(0L, ("insert", "1", "a"), ("insert", "2", "b")), t, 0L)
    LandedTable.compactTo(spark, t, 0L)
    LandedTable.writeDelta(
      delta(1L, ("insert", "1", "a2"), ("delete", "2", ""),
        ("insert", "3", "c")), t, 1L)
    val df = LandedTable.read(spark, t)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"),
      s"expected a broadcast anti-join merge:\n$plan")
    assert(state(t) == Map("1" -> "a2", "3" -> "c"))
  }

  test("past the broadcast budget the delta-key anti-join falls back " +
      "to a shuffle instead of collecting the key set onto the driver") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(
      delta(0L, ("insert", "1", "a"), ("insert", "2", "b")), t, 0L)
    LandedTable.compactTo(spark, t, 0L)
    LandedTable.writeDelta(
      delta(1L, ("insert", "1", "a2"), ("insert", "3", "c")), t, 1L)
    // a 1-byte budget forces the drain-once-catch-up posture: the
    // delta range is "too big to broadcast". Past the budget the
    // merge drops the broadcast() HINT — planner choice reverts to
    // Spark's own size estimate, so disable auto-broadcast here to
    // observe the unforced plan (at real catch-up sizes the estimate
    // itself exceeds autoBroadcastJoinThreshold)
    // save and restore the threshold: unsetting it would drop the
    // shared session's setting back to Spark's default for every
    // later suite
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("graft.landed.broadcast_delta_bytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = LandedTable.read(spark, t)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"expected the shuffle fallback past the budget:\n$plan")
      assert(plan.contains("LeftAnti"), s"still an anti-join:\n$plan")
      assert(state(t) == Map("1" -> "a2", "2" -> "b", "3" -> "c"))
      // merging through the fallback commits the same state
      LandedTable.compactTo(spark, t, 1L)
      assert(state(t) == Map("1" -> "a2", "2" -> "b", "3" -> "c"))
    } finally {
      spark.conf.unset("graft.landed.broadcast_delta_bytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
    }
  }

  test("a pre-round-13 base written with the full delta schema still " +
      "reads and merges (projection migration)") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    // plant an old-format base: 5-column rows, tombstones folded
    delta(0L, ("insert", "1", "a"), ("insert", "2", "b")).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$t/_base-00000000")
    assert(state(t) == Map("1" -> "a", "2" -> "b"))
    LandedTable.writeDelta(delta(1L, ("delete", "1", "")), t, 1L)
    assert(state(t) == Map("2" -> "b"))
    LandedTable.compactTo(spark, t, 1L)
    assert(state(t) == Map("2" -> "b"))
  }

  test("after a cadence merge publishFlat is a byte copy of the base " +
      "— flat face readable, (key, payload) schema, stage swept") {
    val t = java.nio.file.Files
      .createTempDirectory("landed").toString + "/app.t"
    LandedTable.writeDelta(
      delta(0L, ("insert", "1", "a"), ("insert", "2", "b")), t, 0L)
    LandedTable.writeDelta(delta(1L, ("delete", "2", "")), t, 1L)
    LandedTable.compactTo(spark, t, 1L)
    LandedTable.publishFlat(spark, t)
    val flat = spark.read.parquet(t)
    assert(flat.columns.toSeq == Seq("key", "payload"))
    assert(flat.collect().map(r => r.getString(0) -> r.getString(1))
      .toMap == Map("1" -> "a"))
    assert(!Fs.exists(s"$t/_pubstage"))
    // the flat part files are byte-identical to the base's
    val basePath = LandedTable.committedBase(t).get._2
    val baseParts = Fs.listNames(basePath)
      .filter(n => n.startsWith("part-")).sorted
    val flatParts = Fs.listNames(t)
      .filter(n => n.startsWith("part-")).sorted
    assert(baseParts == flatParts)
    assert(baseParts.forall(n =>
      java.util.Arrays.equals(Fs.readAllBytes(s"$basePath/$n"),
        Fs.readAllBytes(s"$t/$n"))))
  }

  private def dirBytes(dir: String): Long =
    Fs.listNames(dir).map { n =>
      val p = s"$dir/$n"
      if (Fs.isDirectory(p)) dirBytes(p) else Fs.size(p)
    }.sum
}
