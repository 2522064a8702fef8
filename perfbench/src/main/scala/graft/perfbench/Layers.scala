package graft.perfbench

import Common.median

/** Per-layer metrics computed from a run's trace. Every workload
  * reports the same names; a layer the workload does not exercise
  * reads 0. Walls are medians per call; counts are totals over the
  * measured pass unless the name says otherwise.
  */
object Layers {

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  private def isScan(n: String) = n.contains("Scan") && !n.contains("LocalTableScan")
  private def isAgg(n: String) = n.endsWith("Aggregate")
  private def isWrite(n: String) = n == "Execute InsertIntoHadoopFsRelationCommand"

  /** Apply-path layers from a set of apply units; each unit is one
    * batch's (wall ms, jobs of that batch, wall not covered by a job).
    */
  def apply(t: Trace, r: Result, units: Seq[(Double, Seq[JobRec], Double)]): Unit = {
    val jobs = units.flatMap(_._2)
    val stages = t.stagesOf(jobs)
    val plans = t.plansOf(jobs)
    val scans = plans.flatMap(_.nodes).filter(n => isScan(n._1))
    r.layer("log_scan.rows", scans.map(_._2.getOrElse("number of output rows", 0L)).sum.toDouble, "count")
    r.layer("log_scan.bytes", scans.map(_._2.getOrElse("size of files read", 0L)).sum.toDouble, "bytes")
    r.layer("log_scan.time_ms", scans.map(_._2.getOrElse("scan time", 0L)).sum.toDouble, "ms")
    r.layer("txassembler.broadcast_build_ms",
      t.nodeMetric(plans, _.contains("BroadcastExchange"), "time to build").toDouble, "ms")
    r.layer("txassembler.broadcast_bytes",
      t.nodeMetric(plans, _.contains("BroadcastExchange"), "data size").toDouble, "bytes")
    r.layer("mergeapply.exchange.bytes", stages.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    r.layer("mergeapply.exchange.records", stages.map(_.shuffleWriteRecords).sum.toDouble, "count")
    r.layer("mergeapply.exchange.write_ms", stages.map(_.shuffleWriteNs).sum / 1e6, "ms")
    r.layer("mergeapply.exchange.fetch_wait_ms", stages.map(_.fetchWaitMs).sum.toDouble, "ms")
    r.layer("mergeapply.lww.agg_ms", t.nodeMetric(plans, isAgg, "time in aggregation build").toDouble, "ms")
    r.layer("mergeapply.lww.spill_bytes",
      (t.nodeMetric(plans, isAgg, "spill size") + stages.map(_.spillBytes).sum).toDouble, "bytes")
    val stageIds = jobs.flatMap(_.stageIds).distinct
    val skews = stageIds.flatMap { id =>
      t.synchronized(t.taskRuns.get(id).map(_.toSeq)).filter(_.size > 1).map { rs =>
        rs.max.toDouble / math.max(1.0, median(rs.map(_.toDouble)))
      }
    }
    r.layer("mergeapply.reduce.task_skew", med(skews), "ratio")
    r.layer("mergeapply.write.files", t.nodeMetric(plans, isWrite, "number of written files").toDouble, "count")
    r.layer("mergeapply.write.bytes", t.nodeMetric(plans, isWrite, "written output").toDouble, "bytes")
    r.layer("mergeapply.write.task_commit_ms", t.nodeMetric(plans, isWrite, "task commit time").toDouble, "ms")
    r.layer("mergeapply.write.job_commit_ms", t.nodeMetric(plans, isWrite, "job commit time").toDouble, "ms")
    r.layer("mergeapply.apply.wall_ms", med(units.map(_._1)), "ms")
    r.layer("mergeapply.apply.spark_jobs", med(units.map(_._2.size.toDouble)), "count")
    r.layer("mergeapply.apply.driver_serial_ms", med(units.map(_._3)), "ms")
  }

  /** Snapshot layer: the CdcJob.snapshot spans. */
  def snapshot(t: Trace, r: Result, spans: Seq[Span]): Unit = {
    val jobs = t.jobsOf(spans.map(_.id).toSet)
    r.layer("cdcjob.snapshot.wall_ms", med(spans.map(_.wallMs)), "ms")
    r.layer("cdcjob.snapshot.bytes",
      t.nodeMetric(t.plansOf(jobs), isWrite, "written output").toDouble / math.max(1, spans.size), "bytes")
  }

  /** Table metadata read straight from the table directory. */
  def table(r: Result, tab: graft.icelite.IceLiteTable, writtenBytes: Double): Unit = {
    import java.nio.file.{Files, Paths}
    val root = tab.root
    val snap = tab.refresh()
    val meta = graft.util.Fs.listDir(graft.icelite.IceLite.metaDir(root))
      .filter(_.getFileName.toString.endsWith(".json"))
    val chains = snap.buckets.map(b => snap.deltas.getOrElse(b, Nil).size.toDouble)
    val liveBytes = snap.allFiles.map { f =>
      val p = Paths.get(if (f.startsWith("/")) f else s"$root/$f")
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum.toDouble
    r.layer("icelite.versions", meta.size.toDouble, "count")
    r.layer("icelite.version_json_bytes", meta.map(p => Files.size(p)).sum.toDouble, "bytes")
    r.layer("icelite.live_files", snap.allFiles.size.toDouble, "count")
    r.layer("icelite.delta_chain_max", if (chains.isEmpty) 0.0 else chains.max, "count")
    r.layer("icelite.delta_chain_mean", if (chains.isEmpty) 0.0 else chains.sum / chains.size, "count")
    r.layer("icelite.write_amp", if (liveBytes <= 0) 0.0 else writtenBytes / liveBytes, "ratio")
    val folds = meta.count(p => new String(Files.readAllBytes(p), "UTF-8").contains("\"compact"))
    r.layer("maintenance.folds", folds.toDouble, "count")
  }

  def maintenance(t: Trace, r: Result, drainMs: Double): Unit = {
    val mj = t.maintenanceJobs
    r.layer("maintenance.bytes_rewritten",
      t.nodeMetric(t.plansOf(mj), isWrite, "written output").toDouble, "bytes")
    r.layer("maintenance.job_ms", mj.map(j => (j.endMs - j.startMs).toDouble).sum, "ms")
    r.layer("maintenance.drain_ms", drainMs, "ms")
  }

  def reads(t: Trace, r: Result, scans: Seq[Span], lookups: Seq[Span]): Unit = {
    val sj = t.jobsOf(scans.map(_.id).toSet)
    val lj = t.jobsOf(lookups.map(_.id).toSet)
    val ns = math.max(1, scans.size).toDouble
    val nl = math.max(1, lookups.size).toDouble
    def files(js: Seq[JobRec]) = t.plansOf(js).flatMap(_.nodes).filter(n => isScan(n._1))
      .map(_._2.getOrElse("number of files read", 0L)).sum.toDouble
    r.layer("read.scan.files", files(sj) / ns, "count")
    r.layer("read.scan.bytes", t.plansOf(sj).flatMap(_.nodes).filter(n => isScan(n._1))
      .map(_._2.getOrElse("size of files read", 0L)).sum / ns, "bytes")
    r.layer("read.scan.shuffle_bytes", t.stagesOf(sj).map(_.shuffleWriteBytes).sum / ns, "bytes")
    r.layer("read.lookup.files", files(lj) / nl, "count")
    r.layer("read.lookup.spark_jobs", lj.size / nl, "count")
  }

  /** Bytes written by every write the trace saw: apply, snapshot and
    * maintenance (the numerator of write amplification).
    */
  def writtenBytes(t: Trace): Double =
    t.nodeMetric(t.allPlans, isWrite, "written output").toDouble

  /** Streaming tier from StreamingQueryProgress of triggers that read data. */
  def streaming(t: Trace, r: Result): Unit = {
    val ps = t.synchronized(t.progress.toSeq).filter(_.rows > 0)
    def d(k: String) = med(ps.map(_.durations.getOrElse(k, 0L).toDouble))
    r.layer("ss.trigger_ms", d("triggerExecution"), "ms")
    r.layer("ss.latest_offset_ms", d("latestOffset"), "ms")
    r.layer("ss.query_planning_ms", d("queryPlanning"), "ms")
    r.layer("ss.add_batch_ms", d("addBatch"), "ms")
    r.layer("ss.wal_commit_ms", d("walCommit"), "ms")
    r.layer("ss.commit_offsets_ms", d("commitOffsets"), "ms")
    r.layer("ss.rows_per_trigger", med(ps.map(_.rows.toDouble)), "count")
  }

  /** Layers every workload reports, filled with 0 where not exercised. */
  val all: Seq[(String, String)] = Seq(
    "cdcjob.snapshot.wall_ms" -> "ms", "cdcjob.snapshot.bytes" -> "bytes",
    "log_scan.rows" -> "count", "log_scan.bytes" -> "bytes", "log_scan.time_ms" -> "ms",
    "txassembler.broadcast_build_ms" -> "ms", "txassembler.broadcast_bytes" -> "bytes",
    "mergeapply.exchange.bytes" -> "bytes", "mergeapply.exchange.records" -> "count",
    "mergeapply.exchange.write_ms" -> "ms", "mergeapply.exchange.fetch_wait_ms" -> "ms",
    "mergeapply.lww.agg_ms" -> "ms", "mergeapply.lww.spill_bytes" -> "bytes",
    "mergeapply.reduce.task_skew" -> "ratio",
    "mergeapply.write.files" -> "count", "mergeapply.write.bytes" -> "bytes",
    "mergeapply.write.task_commit_ms" -> "ms", "mergeapply.write.job_commit_ms" -> "ms",
    "mergeapply.apply.wall_ms" -> "ms", "mergeapply.apply.spark_jobs" -> "count",
    "mergeapply.apply.driver_serial_ms" -> "ms",
    "icelite.versions" -> "count", "icelite.version_json_bytes" -> "bytes",
    "icelite.live_files" -> "count", "icelite.delta_chain_max" -> "count",
    "icelite.delta_chain_mean" -> "count", "icelite.write_amp" -> "ratio",
    "maintenance.folds" -> "count", "maintenance.bytes_rewritten" -> "bytes",
    "maintenance.job_ms" -> "ms", "maintenance.drain_ms" -> "ms",
    "read.scan.files" -> "count", "read.scan.bytes" -> "bytes",
    "read.scan.shuffle_bytes" -> "bytes", "read.lookup.files" -> "count",
    "read.lookup.spark_jobs" -> "count",
    "ss.trigger_ms" -> "ms", "ss.latest_offset_ms" -> "ms", "ss.query_planning_ms" -> "ms",
    "ss.add_batch_ms" -> "ms", "ss.wal_commit_ms" -> "ms", "ss.commit_offsets_ms" -> "ms",
    "ss.rows_per_trigger" -> "count", "trickle.generator_late_ms" -> "ms",
    "trickle.backlog_max" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_ms_approx" -> "ms",
    "jvm.gc_ms" -> "ms", "trace.unattributed_share" -> "ratio")
}
