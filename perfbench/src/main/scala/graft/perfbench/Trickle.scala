package graft.perfbench

import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.{IceLite, IceLiteTable}
import graft.model.LogRecord
import graft.stream.{CdcConfig, CdcJob, ReplayOracle}
import graft.util.Fs
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions.{col, input_file_name, max}
import org.apache.spark.sql.streaming.Trigger
import Common._

/** The production streaming path: `CdcJob.stream` on a processing-time
  * trigger while an open-loop generator thread moves small
  * whole-transaction log segments into the watched directory at a fixed
  * offered rate. Lag runs from a segment's due time to the first
  * committed table version whose watermark covers the segment's max
  * LSN, read afterwards from the version files.
  */
object Trickle {

  /** Offered load: `ratePerS` segments of `txPerSeg` transactions each,
    * against a trigger every `triggerMs`. Set on the commit that defined
    * the benchmark so the stream is busy a third to half of the time on
    * a 4-core box and the backlog stays flat; at that load, lag is mostly
    * the wait for the next trigger plus one batch, not queueing, so it
    * moves with the engine without swinging with small slowdowns. A 12 s
    * run commits three or four batches, under the eight that trip a
    * compaction fold, so the reads afterwards see short delta chains.
    */
  final case class Size(nDocs: Int, buckets: Int, txPerSeg: Int, ratePerS: Double, triggerMs: Long,
      filesPerTrigger: Int, lookups: Int, scans: Int)

  def sizeFor(toy: Boolean): Size =
    if (toy) Size(nDocs = 2000, buckets = 4, txPerSeg = 16, ratePerS = 2.0, triggerMs = 2000,
      filesPerTrigger = 8, lookups = 12, scans = 2)
    else Size(nDocs = 20000, buckets = 8, txPerSeg = 16, ratePerS = 2.0, triggerMs = 4000,
      filesPerTrigger = 12, lookups = 12, scans = 2)

  def run(ctx: Ctx, res: Result): Unit = {
    val sz = sizeFor(ctx.toy)
    val nSeg = math.max(4, (ctx.seconds * sz.ratePerS).round.toInt)
    val cfg = ChangeLogConfig(seed = ctx.seed, nDocs = sz.nDocs, nTx = (nSeg + 2L) * sz.txPerSeg,
      maxOpsPerTx = 16, interleave = 16, zipfAlpha = 1.5)
    val t = ctx.trace
    val base = s"${ctx.scratch}/trickle"
    val staged = s"$base/staged"
    val watched = s"$base/log"
    val setup0 = now()
    val spark = session(ctx.cores, ctx.scratch, aqe = false)
    t.attach(spark)
    val sc = spark.sparkContext
    note("session up")
    // one file per segment, each holding whole interleave groups; two
    // extra segments are for the warm-up
    val segMax: Seq[(String, Long)] = t.span("setup.inputs", "setup", sc) {
      ChangeLogGen.stageBatchFiles(spark,
        (0 until nSeg + 2).map(i => (i.toLong * sz.txPerSeg until (i + 1L) * sz.txPerSeg)
          .flatMap(tx => ChangeLogGen.txRecords(cfg, tx))), staged)
      note("log written")
      res.info("inputs") = Inputs.fingerprint(spark, staged)
      res.info("session") = sessionConf(spark)
      spark.read.schema(LogRecord.schema).parquet(staged)
        .groupBy(input_file_name().as("f")).agg(max(col("lsn")).as("m")).collect()
        .map(r => new java.net.URI(r.getString(0)).getPath -> r.getLong(1)).sortBy(_._2).toSeq
    }
    val (warmSegs, segs) = segMax.splitAt(2)
    // warm-up on a throwaway table: the apply path's JIT and codegen
    t.span("setup.warm", "setup", sc) {
      val w = CdcConfig(staged, s"$base/warm", s"$base/warm-ck", numBuckets = sz.buckets)
      val wt = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(), w, ChangeLogGen.snapshotLsn)
      warmSegs.zipWithIndex.foreach { case ((f, _), i) =>
        CdcJob.processBatch(wt, Catchup.readLog(spark, f), i.toLong)
      }
      Catchup.scan(wt); wt.lookup(Seq(ChangeLogGen.docId(0))).collect()
    }
    note("warm")
    val initial = ChangeLogGen.initialTable(spark, cfg).collect().map(d => d.doc_id -> d).toMap
    val cdc = CdcConfig(watched, s"$base/table", s"$base/ckpt", numBuckets = sz.buckets,
      maxFilesPerTrigger = sz.filesPerTrigger, asyncCompaction = true)
    Files.createDirectories(Paths.get(watched))
    val snap0 = now()
    val table = t.span("snapshot", "stream", sc)(CdcJob.snapshot(spark,
      ChangeLogGen.initialTable(spark, cfg).toDF(), cdc, ChangeLogGen.snapshotLsn))
    val snapMs = (now() - snap0) * 1000
    HeapPeak.checkpoint()
    val setupS = now() - setup0

    // ---- measured: open-loop generator against the live stream ----
    val gc0 = Trace.gcMs
    val cg0 = Trace.codegen
    val cpu0 = cpuS()
    val q = t.tagged(sc, "stream")(CdcJob.stream(spark, table, cdc,
      Trigger.ProcessingTime(sz.triggerMs)))
    val periodMs = 1000.0 / sz.ratePerS
    // processing-time triggers fire on multiples of the interval since
    // the epoch: start half an arrival period after one, so every run sees the
    // same phase between arrivals and triggers
    val start = (System.currentTimeMillis() / sz.triggerMs + 2) * sz.triggerMs + (periodMs / 2).round
    val due = segs.indices.map(i => start + (i * periodMs).round)
    val moved = new Array[Long](segs.size)
    val gen = new Thread(() => segs.zipWithIndex.foreach { case ((f, _), i) =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Files.move(Paths.get(f), Paths.get(watched, Paths.get(f).getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
      moved(i) = System.currentTimeMillis()
    }, "perfbench-generator")
    gen.start()
    gen.join()
    note("generator done")
    val lastLsn = segs.last._2
    val deadline = System.currentTimeMillis() + 60000
    while (table.refresh().summary.watermarkCommit < lastLsn && q.exception.isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    val busyMs = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum
    val triggers = q.recentProgress.count(_.numInputRows > 0)
    val cpuStream = cpuS() - cpu0
    q.stop()
    quiesce(table)
    val cg1 = Trace.codegen
    val gc1 = Trace.gcMs
    q.exception.foreach(e => throw e)
    table.refresh()
    HeapPeak.checkpoint()
    note(s"stream stopped after $triggers triggers with data, busy $busyMs ms")

    // lag: due time -> first version whose watermark covers the segment
    val versions = IceLite.retainedVersions(table.root).map { v =>
      val f = IceLite.versionFile(table.root, v)
      (Files.getLastModifiedTime(f).toMillis, IceLite.readSnapshotFile(table.root, v))
    }.sortBy(_._1)
    val committedAt = segs.map { case (_, m) =>
      versions.find(_._2.summary.watermarkCommit >= m).map(_._1).getOrElse(Long.MaxValue)
    }
    val lagMs = segs.indices.map(i => (committedAt(i) - due(i)).toDouble)
    val uncommitted = committedAt.count(_ == Long.MaxValue)
    val backlog = due.map(d => due.indices.count(i => due(i) <= d && committedAt(i) > d))

    val scanS = (1 to sz.scans).map { _ =>
      val a = now(); t.span("scan", "stream", sc)(Catchup.scan(table)); now() - a
    }
    val rnd = new scala.util.Random(ctx.seed)
    val keys = initial.keys.toSeq.sorted
    val lookupMs = Seq.fill(sz.lookups)(keys(rnd.nextInt(keys.size))).map { k =>
      val a = now(); t.span("lookup", "stream", sc)(table.lookup(Seq(k)).collect()); (now() - a) * 1000
    }

    // correctness: the whole table against ReplayOracle over every
    // record the generator delivered, and one lineage file per batch
    import spark.implicits._
    val (expected, actual) = t.span("check", "stream", sc) {
      val recs = spark.read.schema(LogRecord.schema).parquet(watched).as[LogRecord].collect().toSeq
      if (ctx.corrupt == "table") Inputs.corrupt(table, keys.head, Long.MaxValue / 4)
      (ReplayOracle.replay(initial, recs), Inputs.tokensOf(table.read()))
    }
    res.check("trickle.oracle_full", uncommitted == 0 && Inputs.sameTokens(expected, actual),
      s"${expected.size} keys vs ReplayOracle, $uncommitted segments never committed")
    if (ctx.corrupt == "lineage") {
      val f = Fs.listDir(Paths.get(table.lineagePath)).head
      Files.copy(f, f.resolveSibling(f.getFileName.toString.replace(".jsonl", "-dup.jsonl")))
    }
    val (lineageOk, lineageDetail) = lineageOnce(table)
    res.check("trickle.lineage_once", lineageOk, lineageDetail)
    val snapAll = snapMs +:
      t.span("snapshot.extra", "stream", sc)(extraSnapshots(spark, cfg, base, sz.buckets, 1))
    HeapPeak.checkpoint()
    spark.stop()
    note("checks done")

    res.attempted += segs.size + lookupMs.size
    res.failed += uncommitted
    val (tailV, tailP, tailN) = tail(lagMs)
    res.metric("setup_s", setupS, "s")
    res.metric("work_p50_ms", median(lagMs), "ms")
    res.metric("work_tail_ms", tailV, "ms")
    // the whole offered stream: first arrival due -> last one committed
    res.metric("work_total_s", (committedAt.max - due.head) / 1000.0, "s")
    res.metric("work_cpu_s", cpuStream, "s")
    res.info("work_tail_percentile") = tailP
    res.info("work_samples") = tailN
    val half = lagMs.size / 2
    res.info("trickle") = Map(
      "lag_p50_ms" -> median(lagMs), "lag_tail_ms" -> tailV,
      "lag_first_half_p50_ms" -> median(lagMs.take(half)),
      "lag_second_half_p50_ms" -> median(lagMs.drop(half)),
      "offered_segments_per_s" -> sz.ratePerS, "tx_per_segment" -> sz.txPerSeg,
      "trigger_ms" -> sz.triggerMs, "segments" -> segs.size, "triggers_with_data" -> triggers,
      "busy_share" -> busyMs / (due.last - due.head + periodMs), "busy_s" -> busyMs / 1000,
      "backlog_max" -> backlog.max,
      "snapshot_rows_per_s" -> sz.nDocs / (median(snapAll) / 1000),
      "scan_s" -> median(scanS), "lookup_p50_ms" -> median(lookupMs),
      "lookup_tail_ms" -> tail(lookupMs)._1, "lookup_tail_percentile" -> tail(lookupMs)._2,
      "lookup_samples" -> lookupMs.size)
    if (t.enabled) {
      val applyJobs = t.synchronized(t.jobs.values.filter(j => j.endMs >= 0 && !j.maintenance &&
        j.span == "stream" && j.streamBatch >= 0).toSeq)
      val addBatch = t.synchronized(t.progress.filter(_.rows > 0)
        .map(p => p.batchId -> p.durations.getOrElse("addBatch", 0L).toDouble).toMap)
      val units = applyJobs.groupBy(_.streamBatch).toSeq.flatMap { case (b, js) =>
        addBatch.get(b).map { wall =>
          val s = Span(-1, "batch", -1, "stream", js.map(_.startMs).min,
            js.map(_.startMs).min + wall.toLong)
          (wall, js, t.uncoveredMs(s, js))
        }
      }
      Layers.apply(t, res, units)
      Layers.snapshot(t, res, t.spansNamed("snapshot", "stream"))
      Layers.table(res, table, Layers.writtenBytes(t))
      Layers.maintenance(t, res, 0.0)
      Layers.reads(t, res, t.spansNamed("scan", "stream"), t.spansNamed("lookup", "stream"))
      Layers.streaming(t, res)
      res.layer("trickle.generator_late_ms", segs.indices.map(i => (moved(i) - due(i)).toDouble).max, "ms")
      res.layer("trickle.backlog_max", backlog.max.toDouble, "count")
      res.layer("codegen.compiles", (cg1._1 - cg0._1).toDouble, "count")
      res.layer("codegen.compile_ms_approx", cg1._2 - cg0._2, "ms")
      res.layer("jvm.gc_ms", (gc1 - gc0).toDouble, "ms")
    }
  }

  /** Wait until no new version has been committed for a second (a
    * background fold the stopped stream left running has finished).
    */
  private def quiesce(table: IceLiteTable): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    var last = -1L
    while (table.refresh().snapshotId != last && System.currentTimeMillis() < deadline) {
      last = table.current.snapshotId
      Thread.sleep(1000)
    }
  }

  /** Every apply commit (a version whose change manifest is non-empty)
    * has exactly one lineage file, and no lineage file names another
    * batch.
    */
  def lineageOnce(table: IceLiteTable): (Boolean, String) = {
    val applied = IceLite.retainedVersions(table.root)
      .map(v => IceLite.readSnapshotFile(table.root, v))
      .filter(_.changed.nonEmpty).map(_.summary.batchId)
    val files = Fs.listDir(Paths.get(table.lineagePath)).map(_.getFileName.toString)
      .filter(n => n.startsWith("batch-") && n.endsWith(".jsonl"))
      .map(n => n.stripPrefix("batch-").take(8).toLong)
    val perBatch = files.groupBy(identity).map { case (b, fs) => b -> fs.size }
    val ok = applied.nonEmpty && applied.distinct.size == applied.size &&
      perBatch.keySet == applied.toSet && perBatch.values.forall(_ == 1)
    (ok, s"${applied.size} apply commits, ${files.size} lineage files")
  }
}
