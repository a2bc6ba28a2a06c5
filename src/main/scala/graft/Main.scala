package graft

import graft.config.{TaskConfig, TaskRunner}
import graft.infra.Monitoring

/** CLI entry — the reference's dt-main
  * (/root/reference/dt-main/src/main.rs:34-68): precheck the task config,
  * then run it. Usage: runMain graft.Main <task_config.ini> [--precheck]
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Main <task_config.ini> [--precheck] [--then <cdc.ini>]")
    val configPath = java.nio.file.Paths.get(args(0))
    val configText = java.nio.file.Files.readString(configPath)
    val task = TaskConfig.fromIni(configText,
      Option(configPath.toAbsolutePath.getParent))
    val spark = GraftSession.build("graft-task")
    // [metrics] section → monitors + /metrics server, the reference's
    // prometheus exposition loop (dumped per task step + at exit)
    // counter window from [pipeline] counter_time_window_secs
    // (defaulting to checkpoint_interval_secs, config.md:298)
    val monitors = Monitoring.PipelineMonitors("graft-task",
      windowSecs = task.counterTimeWindowSecs.toLong,
      maxSubCount = task.counterMaxSubCount)
    val kind = task.extractType match {
      case TaskConfig.SnapshotExtract | TaskConfig.CurationExtract |
          TaskConfig.LoaderExtract | TaskConfig.WarcExtract |
          TaskConfig.JsonlExtract =>
        "snapshot"
      case TaskConfig.CdcExtract | TaskConfig.CurationStreamExtract =>
        "cdc"
      case _ => "check"
    }
    val registry = task.metrics.map { mc =>
      new Monitoring.PrometheusRegistry(mc.labels)
        .registerStandard(Some(kind))
    }
    val server = task.metrics.flatMap { mc =>
      registry.map { reg =>
        val s = new Monitoring.MetricsServer(() => reg.exposition,
          mc.httpHost, mc.httpPort)
        println(s"[metrics] serving /metrics on " +
          s"${mc.httpHost}:${s.boundPort}")
        s
      }
    }
    def publish(extra: Map[String, Long] = Map.empty): Unit =
      registry.foreach { reg =>
        reg.setAll(Monitoring.TaskMetrics.calc(monitors.roles) ++ extra)
      }
    try {
      // sources that are not the parquet table catalog the precheck
      // battery reads: arriving-document dirs, check logs, catalog
      // fixtures, RDB dumps, captured keyspaces, slot layouts, lake
      // staging roots
      val nonCatalog: Set[TaskConfig.ExtractType] = Set(
        TaskConfig.CurationStreamExtract, TaskConfig.CheckLogExtract,
        TaskConfig.StructExtract, TaskConfig.SnapshotFileExtract,
        TaskConfig.ScanExtract, TaskConfig.ReshardExtract,
        TaskConfig.FoxlakeS3Extract)
      val checks =
        if (nonCatalog(task.extractType)) Nil
        else TaskRunner.precheck(spark, task)
      checks.foreach(c =>
        println(s"[precheck] ${c.item} ${if (c.ok) "OK" else "FAIL"} ${c.detail}"))
      if (args.contains("--precheck")) return
      require(checks.filter(_.item == "source_readable").forall(_.ok),
        "precheck failed: source not readable")
      // `snapshot.ini --then cdc.ini`: the tutorial's serial
      // snapshot-then-CDC migration (snapshot_and_cdc_without_data_loss
      // .md) through streaming/FullSyncTask — shared position store,
      // slot fence before the copy, CDC from the consistent point
      val thenIdx = args.indexOf("--then")
      if (thenIdx >= 0 && task.extractType == TaskConfig.SnapshotExtract) {
        val cdcPath = java.nio.file.Paths.get(args(thenIdx + 1))
        val cdcTask = TaskConfig.fromIni(
          java.nio.file.Files.readString(cdcPath),
          Option(cdcPath.toAbsolutePath.getParent))
        require(cdcTask.walCapture.isDefined && cdcTask.slot.isDefined,
          "--then config needs [extractor] wal_capture= and slot_name=")
        val capture = cdcTask.walCapture.get
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(capture))
        val posPath =
          cdcTask.positionStore.getOrElse(s"$capture.positions")
        val store = new graft.sources.DbResumer.FileStore(posPath)
        val rec = new graft.sources.DbResumer.Recorder(args(0), store,
          graft.sources.DbResumer.MySqlDialect)
        rec.init(isInit = false)
        val resumer = new graft.sources.DbResumer.Dual(
          new graft.sources.SnapshotResumer(s"$posPath.d"), rec,
          () => new graft.sources.DbResumer.Recovery(args(0), store))
        val uri = java.net.URI.create(cdcTask.sinkDir)
        val r = graft.streaming.FullSyncTask.run(spark, task, cdcTask,
          graft.streaming.CdcTask.PgAnswers(
            graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
            pubExists = false, walStream = bytes),
          (db, tb, batchId, op) =>
            new graft.sinks.StreamLoadHttp.HttpPayloadSink(
              graft.sinks.StreamLoadHttp.Config(uri.getHost,
                uri.getPort, db, tb, cdcTask.sinkUser,
                cdcTask.sinkPassword,
                hardDelete = cdcTask.sink.hardDelete), batchId, op),
          resumer, Some(monitors))
        r.slotPlan.statements.foreach(s => println(s"[slot] $s"))
        r.snapshot.foreach(t => println(
          s"[snapshot] ${t.schema}.${t.tb} -> ${t.dstTable} " +
            s"rows=${t.rows}"))
        r.snapshotSkipped.foreach(t =>
          println(s"[snapshot] $t already finished, skipped"))
        println(s"[cdc] start_lsn=${r.cdc.startLsn} " +
          s"shipped=${r.cdc.rowsShipped} " +
          s"skipped=${r.cdc.eventsSkipped} end=${r.cdc.endLsn}")
        publish()
        monitors.flushLines().foreach(l => println(s"[monitor] $l"))
        println("task finished")
        return
      }
      task.extractType match {
        case TaskConfig.SnapshotExtract
            if task.checker.exists(_.enable) =>
          // the reference's check-task shape: extract_type=snapshot +
          // an enabled [checker] section — the snapshot extractor
          // feeds the checker sinker (dt-tests check/basic_test
          // task_config.ini), so this runs the check flow, not a copy
          val results = TaskRunner.runCheck(spark, task)
          results.foreach { case (tb, counts) =>
            println(s"[check] $tb ${counts.map { case (k, v) =>
              s"$k=$v" }.mkString(" ")}")
            monitors.checker
              .addBatchCounter(Monitoring.RecordCount,
                counts.values.sum, 1L)
              .addBatchCounter(Monitoring.CheckerMissCount,
                counts.getOrElse("MISS", 0L), 1L)
              .addBatchCounter(Monitoring.CheckerDiffCount,
                counts.getOrElse("DIFF", 0L), 1L): Unit
          }
          publish()
        case TaskConfig.SnapshotExtract
            if task.pipelineType == "http_server" =>
          // HttpServerPipeline swap: stage every admitted table into
          // the spool and serve it over the subscription endpoints
          // until the consumer acks everything (or the serve timeout)
          val (sub, results) = TaskRunner.stageSnapshot(spark, task)
          results.foreach { r =>
            println(s"[snapshot] ${r.schema}.${r.tb} staged -> " +
              s"${r.dstTable} rows=${r.rows}")
            monitors.extractor
              .addBatchCounter(Monitoring.ExtractedRecords, r.rows, 1L)
          }
          val srv = new graft.infra.SubscriptionServer(spark, sub,
            task.httpHost, task.httpPort)
          try {
            println(s"[pipeline] serving subscription on " +
              s"${task.httpHost}:${srv.boundPort}")
            publish()
            val lastOffset = sub.offsets().lastOption.getOrElse(-1L)
            val deadline = System.nanoTime() +
              task.serveTimeoutSecs * 1000000000L
            while (sub.acked() < lastOffset &&
                System.nanoTime() < deadline) Thread.sleep(100L)
            println(if (sub.acked() >= lastOffset)
              s"[pipeline] all ${results.size} batches acked"
            else s"[pipeline] serve timeout, acked=${sub.acked()} " +
              s"of $lastOffset — spool retained")
          } finally srv.stop()
        case TaskConfig.SnapshotExtract =>
          val results = TaskRunner.runSnapshot(spark, task)
          var finished = 0L
          results.foreach { r =>
            println(s"[snapshot] ${r.schema}.${r.tb} -> ${r.dstTable} " +
              s"rows=${r.rows}")
            monitors.extractor
              .addBatchCounter(Monitoring.ExtractedRecords, r.rows, 1L)
              .addBatchCounter(Monitoring.RecordCount, r.rows, 1L)
            monitors.sinker
              .addBatchCounter(Monitoring.RecordCount, r.rows, 1L)
              .addBatchCounter(Monitoring.SinkedRecordTotal, r.rows, 1L)
            finished += 1
            publish(Monitoring.TaskMetrics
              .progress(results.size.toLong, finished)
              .map("progress" -> _).toMap)
          }
        case TaskConfig.CheckExtract =>
          val results = TaskRunner.runCheck(spark, task)
          results.foreach { case (tb, counts) =>
            println(s"[check] $tb ${counts.map { case (k, v) =>
              s"$k=$v" }.mkString(" ")}")
            monitors.checker
              .addBatchCounter(Monitoring.RecordCount,
                counts.values.sum, 1L)
              .addBatchCounter(Monitoring.CheckerMissCount,
                counts.getOrElse("MISS", 0L), 1L)
              .addBatchCounter(Monitoring.CheckerDiffCount,
                counts.getOrElse("DIFF", 0L), 1L)
            publish()
          }
        case TaskConfig.CurationExtract =>
          val s = TaskRunner.runCuration(spark, task)
          println(s"[curation] docs=${s.nDocs} kept=${s.nKept} " +
            s.reasons.toSeq.sortBy(_._1).map { case (k, v) =>
              s"$k=$v" }.mkString(" "))
          monitors.extractor
            .addBatchCounter(Monitoring.ExtractedRecords, s.nDocs, 1L)
          monitors.sinker
            .addBatchCounter(Monitoring.SinkedRecordTotal, s.nKept, 1L)
          publish()
        case TaskConfig.LoaderExtract =>
          val s = TaskRunner.runLoader(spark, task)
          println(s"[loader] docs=${s.nDocs} shards=${s.nShards} " +
            s"windows=${s.nWindows} tokens=${s.totalTokens}")
          monitors.extractor
            .addBatchCounter(Monitoring.ExtractedRecords, s.nDocs, 1L)
          monitors.sinker
            .addBatchCounter(Monitoring.SinkedRecordTotal, s.nDocs, 1L)
          publish()
        case TaskConfig.CurationStreamExtract =>
          val bloom = task.benchmarkDir.map(bd =>
            graft.operators.CurationOps.benchmarkBloomFromDir(spark, bd))
          val r = graft.streaming.StreamingCuration.drain(spark,
            task.sourceDir, task.sinkDir, benchmarkBloom = bloom)
          println(s"[curation_stream] in=${r.docsIn} " +
            s"quality_dropped=${r.qualityDropped} " +
            s"contam_dropped=${r.contamDropped} " +
            s"exact_dropped=${r.exactDropped} " +
            s"neardup_flagged=${r.nearDupFlagged} kept=${r.kept}")
          monitors.extractor
            .addBatchCounter(Monitoring.ExtractedRecords, r.docsIn, 1L)
          monitors.pipeline.addBatchCounter(Monitoring.FilteredRecords,
            r.qualityDropped + r.contamDropped + r.exactDropped +
              r.nearDupFlagged, 1L)
          monitors.sinker
            .addBatchCounter(Monitoring.SinkedRecordTotal, r.kept, 1L)
          publish()
        case TaskConfig.WarcExtract =>
          val s = TaskRunner.runWarc(spark, task)
          println(s"[warc] docs=${s.nDocs} " +
            s.records.toSeq.sorted.map { case (k, v) => s"$k=$v" }
              .mkString(" "))
          monitors.extractor.addBatchCounter(
            Monitoring.ExtractedRecords,
            s.records.values.sum, 1L)
          monitors.sinker
            .addBatchCounter(Monitoring.SinkedRecordTotal, s.nDocs, 1L)
          publish()
        case TaskConfig.JsonlExtract =>
          val s = TaskRunner.runJsonl(spark, task)
          println(s"[jsonl] docs=${s.nDocs} bad_lines=${s.nBadLines} " +
            s"with_url=${s.withUrl}")
          monitors.extractor.addBatchCounter(
            Monitoring.ExtractedRecords, s.nDocs + s.nBadLines, 1L)
          monitors.pipeline.addBatchCounter(
            Monitoring.FilteredRecords, s.nBadLines, 1L)
          monitors.sinker
            .addBatchCounter(Monitoring.SinkedRecordTotal, s.nDocs, 1L)
          publish()
        case TaskConfig.CheckLogExtract =>
          val results = TaskRunner.runCheckLogReplay(spark, task)
          results.foreach { case (tb, n) =>
            println(s"[check_log] $tb revise_statements=$n")
            monitors.checker
              .addBatchCounter(Monitoring.RecordCount, n, 1L)
          }
          publish()
        case TaskConfig.StructExtract =>
          val results = TaskRunner.runStruct(spark, task)
          results.foreach { case (tb, stmts) =>
            println(s"[struct] $tb statements=${stmts.size}")
            stmts.foreach(s => println(s"[struct][sql] $s"))
          }
          monitors.extractor.addBatchCounter(
            Monitoring.ExtractedRecords, results.size.toLong, 1L)
          publish()
        case TaskConfig.SnapshotFileExtract =>
          val r = TaskRunner.runSnapshotFile(spark, task)
          println(s"[snapshot_file] ${r.dstTable} rows=${r.rows}")
          monitors.extractor
            .addBatchCounter(Monitoring.ExtractedRecords, r.rows, 1L)
          monitors.sinker
            .addBatchCounter(Monitoring.SinkedRecordTotal, r.rows, 1L)
          publish()
        case TaskConfig.ScanExtract =>
          val report = TaskRunner.runScan(spark, task)
          val n = report.count()
          println(s"[scan] ${task.statisticType} report_rows=$n")
          monitors.extractor
            .addBatchCounter(Monitoring.ExtractedRecords, n, 1L)
          publish()
        case TaskConfig.ReshardExtract =>
          val plan = TaskRunner.runReshard(spark, task)
          val n = plan.count()
          println(s"[reshard] planned_moves=$n")
          plan.collect().foreach(m => println(s"[reshard][move] " +
            s"slots ${m.getInt(0)}-${m.getInt(1)} " +
            s"${m.getString(2)} -> ${m.getString(3)}"))
          publish()
        case TaskConfig.FoxlakeS3Extract =>
          val results = TaskRunner.runFoxlakeS3(spark, task)
          results.foreach { r =>
            println(s"[foxlake_s3] ${r.schema}.${r.tb} -> " +
              s"${r.dstTable} rows=${r.rows}")
            monitors.extractor
              .addBatchCounter(Monitoring.ExtractedRecords, r.rows, 1L)
            monitors.sinker
              .addBatchCounter(Monitoring.SinkedRecordTotal, r.rows, 1L)
          }
          publish()
        case TaskConfig.SnapshotAndCdcExtract =>
          // the one-INI serial migration (the reference's
          // snapshot_and_cdc): same FullSyncTask drive as the two-file
          // `--then` form, with this config serving both phases
          require(task.walCapture.isDefined && task.slot.isDefined,
            "snapshot_and_cdc needs [extractor] wal_capture= and " +
              "slot_name=")
          val capture = task.walCapture.get
          val bytes = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(capture))
          val posPath =
            task.positionStore.getOrElse(s"$capture.positions")
          val store = new graft.sources.DbResumer.FileStore(posPath)
          val rec = new graft.sources.DbResumer.Recorder(args(0),
            store, graft.sources.DbResumer.MySqlDialect)
          rec.init(isInit = false)
          val resumer = new graft.sources.DbResumer.Dual(
            new graft.sources.SnapshotResumer(s"$posPath.d"), rec,
            () => new graft.sources.DbResumer.Recovery(args(0), store))
          val uri = java.net.URI.create(task.sinkDir)
          val r = graft.streaming.FullSyncTask.run(spark, task, task,
            graft.streaming.CdcTask.PgAnswers(
              graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
              pubExists = false, walStream = bytes),
            (db, tb, batchId, op) =>
              new graft.sinks.StreamLoadHttp.HttpPayloadSink(
                graft.sinks.StreamLoadHttp.Config(uri.getHost,
                  uri.getPort, db, tb, task.sinkUser,
                  task.sinkPassword,
                  hardDelete = task.sink.hardDelete), batchId, op),
            resumer, Some(monitors))
          r.slotPlan.statements.foreach(s => println(s"[slot] $s"))
          r.snapshot.foreach(t => println(
            s"[snapshot] ${t.schema}.${t.tb} -> ${t.dstTable} " +
              s"rows=${t.rows}"))
          r.snapshotSkipped.foreach(t =>
            println(s"[snapshot] $t already finished, skipped"))
          println(s"[cdc] start_lsn=${r.cdc.startLsn} " +
            s"shipped=${r.cdc.rowsShipped} " +
            s"skipped=${r.cdc.eventsSkipped} end=${r.cdc.endLsn}")
          publish()
        case TaskConfig.CdcExtract if task.sinkType == "sql" =>
          // sink_type=sql: literal (optionally reversed) statement log
          val n = TaskRunner.runSqlSink(spark, task)
          println(s"[sql] ${task.sinkDir}/sql.log statements=$n" +
            (if (task.sink.sqlReverse) " (reversed)" else ""))
          publish()
        case TaskConfig.CdcExtract =>
          (task.walCapture, task.slot) match {
            case (Some(capture), Some(_)) =>
              // the composed pg→warehouse CDC story: slot plan →
              // pgoutput decode → compaction → stream-load HTTP, with
              // positions in the file-backed store (restart-safe)
              val bytes = java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(capture))
              val posPath = task.positionStore
                .getOrElse(s"$capture.positions")
              val store = new graft.sources.DbResumer.FileStore(posPath)
              val rec = new graft.sources.DbResumer.Recorder(
                args(0), store, graft.sources.DbResumer.MySqlDialect)
              rec.init(isInit = false)
              val resumer = new graft.sources.DbResumer.Dual(
                new graft.sources.SnapshotResumer(s"$posPath.d"), rec,
                () => new graft.sources.DbResumer.Recovery(
                  args(0), store))
              val uri = java.net.URI.create(task.sinkDir)
              val report = graft.streaming.CdcTask.run(spark, task,
                graft.streaming.CdcTask.PgAnswers(
                  graft.sources.PgSlotLifecycle.SlotStatus(
                    exists = false),
                  pubExists = false, walStream = bytes),
                sinkFor = (db, tb, batchId, op) =>
                  new graft.sinks.StreamLoadHttp.HttpPayloadSink(
                    graft.sinks.StreamLoadHttp.Config(uri.getHost,
                      uri.getPort, db, tb, task.sinkUser,
                      task.sinkPassword,
                      hardDelete = task.sink.hardDelete),
                    batchId, op),
                resumer = resumer, monitors = Some(monitors),
                limiter = task.maxRps.map(r =>
                  new graft.infra.RateLimiter(r)),
                byteLimiter = task.sink.maxMbps
                  .orElse(task.source.maxMbps)
                  .map(m => new graft.infra.RateLimiter(
                    m * 1024L * 1024L)))
              report.plan.statements
                .foreach(s => println(s"[cdc][slot] $s"))
              println(s"[cdc] start_lsn=${report.startLsn} " +
                s"replication=${report.replicationSql}")
              report.batches.foreach(b => println(s"[cdc] batch " +
                s"${b.batchId} rows=${b.rows} -> " +
                s"${b.tables.mkString(",")} @ ${b.commitLsn}"))
              println(s"[cdc] shipped=${report.rowsShipped} " +
                s"skipped=${report.eventsSkipped} " +
                s"end=${report.endLsn}")
              publish()
            case _ =>
              Monitoring.attach(spark, monitors)
              println("[cdc] provide [extractor] wal_capture= and " +
                "slot_name= to drain a captured stream; live sources " +
                "plug in via sources/ChangelogSource")
          }
      }
      monitors.flushLines().foreach(l => println(s"[monitor] $l"))
      println("task finished")
    } finally {
      server.foreach(_.stop())
      spark.stop()
    }
  }
}
