package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.dsv2.IceLiteV2
import graft.stream.{CdcConfig, CdcJob}
import graft.util.Fs

/** Every writer of an IceLite table — initial snapshot, apply delta,
  * the apply's inline fold, the compaction daemon's fold, rebucket and
  * the DSv2 append — leaves the same bucket layout ([[BucketLayout]]).
  */
class BucketLayoutSpec extends SparkSpec {

  test("every writer files each row under its key's bucket and commits exactly what it wrote") {
    val cfg = ChangeLogConfig(nTx = 200, nDocs = 60, seed = 211, deletePct = 10)
    val base = Fs.tempDir("graft-layout")
    try {
      // 2 buckets and 10 single-file batches: chains reach maxDeltaChain,
      // so some apply folds a bucket inside its own commit
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 2)
      ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 10)
      val t = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      BucketLayout.check(t, "data/base-snapshot")

      var foldedInline = false
      (1 to 10).foreach { _ =>
        val applied = CdcJob.runBatchIncremental(spark, t, cdc, filesPerBatch = 1,
          stopAfterBatches = 1)
        if (applied.exists(st => st.committed && st.upserts + st.deletes > 0)) {
          BucketLayout.check(t, "data/delta-", "data/base-")
          foldedInline ||= t.current.base.values.flatten.exists(_.startsWith("data/base-0"))
        }
      }
      assert(foldedInline, "fixture never folded inside an apply commit")

      // the batches after the inline fold left chains for the daemon
      assert(t.refresh().deltas.nonEmpty, "fixture needs a delta chain for the daemon")
      val daemon = new Maintenance.CompactionDaemon(t, chainThreshold = 1)
      try { daemon.poke(); daemon.drain() } finally daemon.close()
      BucketLayout.check(t, "data/compact-")

      Maintenance.rebucket(t, 8)
      BucketLayout.check(t, "data/rebucket-")

      IceLiteV2.append(spark, t.root, t.read().limit(20), vc = Long.MaxValue - 1, vl = 0L)
      BucketLayout.check(t, "data/v2append-")
    } finally Fs.deleteRecursively(base)
  }
}
