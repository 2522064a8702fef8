package graft.perfbench

import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.{IceLiteTable, Maintenance}
import graft.model.LogRecord
import graft.stream.{CdcConfig, CdcJob, MergeApply}
import graft.util.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{aggregate, col, count, lit, size, sum}
import Common._

/** Bulk backlog replay: snapshot a Zipf-skewed table, then apply a
  * pre-generated log in large batches through `CdcJob.processBatch`
  * with the compaction daemon on, at local[4]; then the first batches
  * of the same log again at local[1] on a fresh table (the 1 -> 4 core
  * scaling pair, same inputs on both sides). Eight batches bring every
  * bucket's delta chain to the fold threshold after the last one, so
  * the daemon folds exactly once, inside the drain, and the reads see a
  * fully compacted table on every run.
  */
object Catchup {

  final case class Size(nDocs: Int, buckets: Int, nTx: Long, batches: Int, c1Batches: Int,
      lookups: Int, scans: Int)

  def sizeFor(toy: Boolean): Size =
    if (toy) Size(nDocs = 2000, buckets = 4, nTx = 400, batches = 3, c1Batches = 1,
      lookups = 12, scans = 2)
    else Size(nDocs = 20000, buckets = 8, nTx = 10672, batches = 8, c1Batches = 1,
      lookups = 24, scans = 5)

  def logConfig(seed: Long, s: Size): ChangeLogConfig =
    ChangeLogConfig(seed = seed, nDocs = s.nDocs, nTx = s.nTx, maxOpsPerTx = 16,
      interleave = 16, zipfAlpha = 1.5)

  /** One pass on a fresh table: its batch walls (ms), snapshot wall
    * (ms), first batch -> drained (s), drain wall (ms), events applied
    * and the snapshot id each batch committed.
    */
  final case class Pass(table: IceLiteTable, batchMs: Seq[Double], snapshotMs: Double,
      catchupS: Double, drainMs: Double, events: Long, snapshotIds: Seq[Long])

  def run(ctx: Ctx, res: Result): Unit = {
    val sz = sizeFor(ctx.toy)
    val cfg = logConfig(ctx.seed, sz)
    val t = ctx.trace
    val base = s"${ctx.scratch}/catchup"
    val logDir = s"$base/log"
    val setup0 = now()
    var spark = session(ctx.cores, ctx.scratch, aqe = false)
    t.attach(spark)
    note("session up")
    val sc = spark.sparkContext
    val (logFiles, sample, expected) = t.span("setup.inputs", "setup", sc) {
      ChangeLogGen.writeLog(spark, cfg, logDir, sz.batches)
      note("log written")
      res.info("inputs") = Inputs.fingerprint(spark, logDir)
      res.info("session") = sessionConf(spark)
      val sample = Inputs.sampleKeys(spark, logDir, cfg, ctx.seed)
      (Fs.listParquet(logDir).sorted, sample, Inputs.oracle(spark, logDir, cfg, sample))
    }
    note("oracle ready")
    // warm-up on a throwaway table: JIT, codegen and file caches
    t.span("setup.warm", "setup", sc) {
      val w = CdcConfig(logDir, s"$base/warm", s"$base/warm-ck", numBuckets = sz.buckets,
        broadcastAssembly = true)
      val wt = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(), w, ChangeLogGen.snapshotLsn)
      CdcJob.processBatch(wt, readLog(spark, logFiles.head), 0L, broadcastAssembly = true)
      scan(wt); sample.take(5).foreach(k => wt.lookup(Seq(k)).collect())
      Fs.deleteRecursively(w.tableRoot)
    }
    val setupS = now() - setup0
    note("warm")
    HeapPeak.checkpoint()

    // ---- measured: the local[4] catch-up pass ----
    val gc0 = Trace.gcMs
    val cg0 = Trace.codegen
    val cpu0 = cpuS()
    val p4 = pass(ctx, spark, cfg, base, "c4", logFiles.take(sz.batches), sz.buckets)
    val cpuPass = cpuS() - cpu0
    val t4 = p4.table
    val walls4 = p4.batchMs
    t4.refresh()
    val scanS = (1 to sz.scans).map { _ =>
      val a = now(); t.span("scan", "c4", spark.sparkContext)(scan(t4)); now() - a
    }
    val rnd = new scala.util.Random(ctx.seed)
    val lookupKeys = Seq.fill(sz.lookups)(sample(rnd.nextInt(sample.size)))
    val lookupMs = lookupKeys.map { k =>
      val a = now(); t.span("lookup", "c4", spark.sparkContext)(t4.lookup(Seq(k)).collect()); (now() - a) * 1000
    }
    if (ctx.corrupt == "table") Inputs.corrupt(t4, sample.head, logFiles.size.toLong)
    res.check("catchup.oracle_sample",
      t.span("check", "c4", sc)(Inputs.sameTokens(expected, Inputs.tokensOf(t4.lookup(sample)))),
      s"${sample.size} keys vs ReplayOracle")
    note("c4 reads and oracle check done")
    val fp4 = t.span("check", "c4", sc)(
      Inputs.contentFingerprint(t4.readAt(p4.snapshotIds(sz.c1Batches - 1))))
    val snapMs = p4.snapshotMs +:
      t.span("snapshot.extra", "c4", sc)(extraSnapshots(spark, cfg, base, sz.buckets, 1))
    val cg1 = Trace.codegen
    val gc1 = Trace.gcMs
    HeapPeak.checkpoint()
    spark.stop()

    // ---- measured: the same first batches at local[1] ----
    spark = session(1, ctx.scratch, aqe = false)
    t.attach(spark)
    val p1 = pass(ctx, spark, cfg, base, "c1", logFiles.take(sz.c1Batches), sz.buckets)
    val walls1 = p1.batchMs
    if (ctx.corrupt == "fingerprint") Inputs.corrupt(p1.table, sample.head, sz.c1Batches.toLong)
    val fp1 = t.span("check", "c1", spark.sparkContext)(Inputs.contentFingerprint(p1.table.read()))
    note("c1 done")
    res.check("catchup.fingerprint_1_vs_4", fp1 == fp4, s"local[1]=$fp1 local[4]=$fp4")
    HeapPeak.checkpoint()
    spark.stop()

    val scaling = walls1.sum / walls4.take(sz.c1Batches).sum / ctx.cores
    res.attempted += walls4.size + walls1.size + lookupMs.size
    val (tailV, tailP, tailN) = tail(walls4)
    res.metric("setup_s", setupS, "s")
    res.metric("work_p50_ms", median(walls4), "ms")
    res.metric("work_tail_ms", tailV, "ms")
    res.metric("work_total_s", p4.catchupS, "s")
    res.metric("work_cpu_s", cpuPass, "s")
    res.info("work_tail_percentile") = tailP
    res.info("work_samples") = tailN
    res.info("catchup") = Map(
      "apply_events_per_s" -> p4.events / (walls4.sum / 1000),
      "scaling_eff_1to4" -> scaling,
      "catchup_s" -> p4.catchupS,
      "snapshot_rows_per_s" -> sz.nDocs / (median(snapMs) / 1000),
      "scan_s" -> median(scanS), "lookup_p50_ms" -> median(lookupMs),
      "lookup_tail_ms" -> tail(lookupMs)._1, "lookup_tail_percentile" -> tail(lookupMs)._2,
      "lookup_samples" -> lookupMs.size,
      "batches_c4" -> walls4.size, "batches_c1" -> walls1.size,
      "events_c4" -> p4.events)
    if (t.enabled) {
      val units = t.spansNamed("batch", "c4").map { s =>
        val js = t.jobsOf(Set(s.id)); (s.wallMs, js, t.uncoveredMs(s, js))
      }
      Layers.apply(t, res, units)
      Layers.snapshot(t, res, t.spansNamed("snapshot", "c4"))
      Layers.table(res, t4, Layers.writtenBytes(t))
      Layers.maintenance(t, res, p4.drainMs)
      Layers.reads(t, res, t.spansNamed("scan", "c4"), t.spansNamed("lookup", "c4"))
      res.layer("codegen.compiles", (cg1._1 - cg0._1).toDouble, "count")
      res.layer("codegen.compile_ms_approx", cg1._2 - cg0._2, "ms")
      res.layer("jvm.gc_ms", (gc1 - gc0).toDouble, "ms")
    }
  }

  def readLog(spark: SparkSession, file: String): DataFrame =
    spark.read.schema(LogRecord.schema).parquet(file)

  /** Full read consumed as an aggregate over the token arrays. */
  def scan(t: IceLiteTable): Unit =
    t.read().agg(count(lit(1)), sum(size(col("tokens"))),
      sum(aggregate(col("tokens"), lit(0L), (a, x) => a + x))).collect()

  /** One pass on a fresh table: snapshot, one batch per log file, drain. */
  private def pass(ctx: Ctx, spark: SparkSession, cfg: ChangeLogConfig, base: String, run: String,
      files: Seq[String], buckets: Int): Pass = {
    val t = ctx.trace
    val sc = spark.sparkContext
    val cdc = CdcConfig(s"$base/log", s"$base/table-$run", s"$base/ckpt-$run",
      numBuckets = buckets, broadcastAssembly = true, asyncCompaction = true)
    val s0 = now()
    val table = t.span("snapshot", run, sc)(CdcJob.snapshot(spark,
      ChangeLogGen.initialTable(spark, cfg).toDF(), cdc, ChangeLogGen.snapshotLsn))
    val snapMs = (now() - s0) * 1000
    val daemon = new Maintenance.CompactionDaemon(table, MergeApply.maxDeltaChain)
    val c0 = now()
    var events = 0L
    val ids = Seq.newBuilder[Long]
    val walls = files.zipWithIndex.map { case (f, i) =>
      val raw = readLog(spark, f)
      val a = now()
      val st = t.span("batch", run, sc)(CdcJob.processBatch(table, raw, i.toLong,
        broadcastAssembly = true, inlineCompact = false))
      val ms = (now() - a) * 1000
      note(f"$run batch $i: ${st.events} events, $ms%.0f ms")
      require(st.committed, s"batch $i did not commit")
      events += st.events
      ids += st.snapshotId
      daemon.poke()
      ms
    }
    val d0 = now()
    t.span("drain", run, sc)(daemon.drain())
    daemon.close()
    val drainMs = (now() - d0) * 1000
    Pass(table, walls, snapMs, now() - c0, drainMs, events, ids.result())
  }
}
