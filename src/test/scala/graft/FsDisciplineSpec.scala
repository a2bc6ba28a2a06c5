package graft

import org.scalatest.funsuite.AnyFunSuite

/** Object-store path discipline: every TASK-PATH filesystem touch in
  * src/main must go through the Hadoop FileSystem API
  * ([[graft.infra.Fs]] or a direct `getFileSystem`), because on a real
  * deployment capture dirs, check-log dirs, lake roots, and sink
  * artifact dirs are s3a://…/hdfs:// URIs that `java.io.File` /
  * `java.nio.file.Files` silently treat as missing. Local-JVM APIs are
  * allowed ONLY in the files whitelisted below, each with a reason the
  * path is provably process-local.
  *
  * This spec greps the source tree at test time, so a new local-FS
  * call in a task-path file fails CI until it is either converted or
  * consciously whitelisted here with a reason.
  */
class FsDisciplineSpec extends AnyFunSuite {

  /** Files allowed to touch the local filesystem directly, and why.
    * "Driver-local" means the path is created and consumed by the same
    * JVM process by design — never handed to executors, never a
    * cluster URI.
    */
  private val whitelist: Map[String, String] = Map(
    "Main.scala" ->
      "driver demo main: writes its own local output dirs",
    "Verify.scala" ->
      "driver gate main: local outDir contract with the test driver",
    "Bench.scala" ->
      "driver bench main: local result JSON",
    "TaskCli.scala" ->
      "CLI entry: local task dirs on the operator's machine",
    "config/TaskConfig.scala" ->
      ("task .ini parsing: config files are local to the submitter; " +
        "relative lua_code_file resolves against the config's dir"),
    "config/TaskManager.scala" ->
      ("driver-local task state dir (status/pid/log files of THIS " +
        "process's supervised tasks); capture reads go through Fs"),
    "sources/SnapshotResumer.scala" ->
      ("process-local progress files; the durable recovery path is " +
        "the database-table store (DbResumer), like the reference"),
    "sources/DbResumer.scala" ->
      ("FileStore is the explicitly-local position cache beside the " +
        "database recorder (resume_from_log), reference semantics"),
    "infra/Subscription.scala" ->
      ("HTTP subscription spool: served from THIS process's disk by " +
        "the embedded server — local by design"),
    "infra/Fs.scala" ->
      "the façade itself (doc comment mentions the forbidden APIs)",
    "transport/SegmentStore.scala" ->
      ("in-flight segment spool is a process-local temp file by " +
        "design (s3a has no append); the PUBLISHED path goes " +
        "through Fs"))

  import FsDisciplineSpec.{code, mainSources}

  test("local-FS APIs appear only in whitelisted driver-local files") {
    val offenders = mainSources.flatMap { f =>
      val rel = f.getPath.replace("src/main/scala/graft/", "")
      val text = code(f)
      val hits = Seq("java.io.File", "java.nio.file.")
        .filter(text.contains)
      if (hits.isEmpty || whitelist.contains(rel)) None
      else Some(s"$rel uses ${hits.mkString(",")} — convert to " +
        "graft.infra.Fs or whitelist with a reason")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every whitelisted file exists") {
    // a stale exemption must not outlive its file: a new file at the
    // same path would inherit the exemption unreviewed
    val stale = whitelist.keys.filterNot(rel =>
      new java.io.File(s"src/main/scala/graft/$rel").isFile)
    assert(stale.isEmpty, s"whitelisted but missing: ${stale.mkString(", ")}")
  }

  test("task-path modules are fully on the Hadoop FS API") {
    // the modules a cluster deployment reads/writes remotely: every
    // one must be absent from the whitelist AND clean of local APIs
    val taskPathModules = Seq(
      "sources/ChangelogSource.scala", // executor-side segment reads
      "infra/CheckLogs.scala",         // check_log_dir artifacts
      "streaming/InlineCdcCheck.scala",// checkLogDir snapshots
      "infra/Precheck.scala",          // source dir probes
      "sinks/LakeSink.scala",          // lake root staging
      "sources/LakeSource.scala",      // lake read-back
      "config/TaskRunner.scala",       // capture/sink/catalog paths
      "sources/WarcSource.scala")      // crawl segment ingestion
    taskPathModules.foreach { rel =>
      assert(!whitelist.contains(rel), s"$rel must not be whitelisted")
      val text = code(new java.io.File(s"src/main/scala/graft/$rel"))
      Seq("java.io.File", "java.nio.file.").foreach { api =>
        assert(!text.contains(api), s"$rel still uses $api")
      }
    }
  }

  test("Fs round-trips bytes, lines, listings, and existence through " +
      "the Hadoop API") {
    import graft.infra.Fs
    val dir = java.nio.file.Files
      .createTempDirectory("fs-discipline").toString
    assert(!Fs.exists(s"$dir/missing"))
    assert(Fs.listNames(s"$dir/missing-dir").isEmpty)
    Fs.mkdirs(s"$dir/sub")
    assert(Fs.isDirectory(s"$dir/sub"))
    Fs.writeString(s"$dir/sub/a.log", "one\ntwo\nthree")
    assert(Fs.exists(s"$dir/sub/a.log"))
    assert(!Fs.isDirectory(s"$dir/sub/a.log"))
    assert(Fs.readString(s"$dir/sub/a.log") == "one\ntwo\nthree")
    assert(Fs.readLines(s"$dir/sub/a.log") == Seq("one", "two", "three"))
    assert(Fs.size(s"$dir/sub/a.log") == 13L)
    val head = Fs.readHead(s"$dir/sub/a.log", 4)
    assert(new String(head, "UTF-8") == "one\n")
    // readHead beyond EOF returns the short file, no exception
    assert(Fs.readHead(s"$dir/sub/a.log", 1000).length == 13)
    Fs.write(s"$dir/sub/b.bin", Array[Byte](1, 2, 3))
    assert(Fs.readAllBytes(s"$dir/sub/b.bin").toSeq == Seq[Byte](1, 2, 3))
    assert(Fs.listNames(s"$dir/sub").sorted == Seq("a.log", "b.bin"))
    assert(Fs.fileName(s"$dir/sub/a.log") == "a.log")
    Fs.delete(s"$dir/sub/b.bin")
    assert(!Fs.exists(s"$dir/sub/b.bin"))
    // overwrite is create-truncate, not append
    Fs.writeString(s"$dir/sub/a.log", "x")
    assert(Fs.readString(s"$dir/sub/a.log") == "x")
  }
}

object FsDisciplineSpec {

  /** Every Scala file under src/main. */
  def mainSources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  /** A source file's text without line comments and scaladoc, so prose
    * mentions of a forbidden API don't count.
    */
  def code(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .linesIterator
      .filterNot(l => l.trim.startsWith("//") ||
        l.trim.startsWith("*") || l.trim.startsWith("/*"))
      .mkString("\n")
}
