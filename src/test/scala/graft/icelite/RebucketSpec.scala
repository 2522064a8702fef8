package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.TokenDoc
import graft.stream.{CdcConfig, CdcJob}
import graft.icelite.dsv2.IceLiteV2
import graft.util.Fs
import org.apache.spark.sql.functions._

/** Bucket evolution: a live table rewritten into a different hash
  * bucket count between micro-batches, with the CDC stream resuming on
  * the new layout; LWW versions, tombstones, and batch-id gates all
  * carry over, and the final state still equals the replay oracle.
  */
class RebucketSpec extends SparkSpec {

  test("mid-stream 8->16 (and back down to 4): stream resumes, final state == replay oracle") {
    implicit val s = spark.newSession()
    import s.implicits._
    val base = Fs.tempDir("graft-rebucket")
    try {
      val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 389, deletePct = 12)
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
      ChangeLogGen.writeLog(s, cfg, cdc.logDir, 4)
      val t = CdcJob.snapshot(s, ChangeLogGen.initialTable(s, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      CdcJob.runBatchIncremental(s, t, cdc, filesPerBatch = 1, stopAfterBatches = 2)

      val gate = t.refresh().summary.lastBatchId
      Maintenance.rebucket(t, 16)
      val snap = t.refresh()
      assert(snap.numBuckets == 16)
      assert(snap.deltas.isEmpty, "rebucket must fold every delta chain")
      assert(snap.buckets.forall(b => b >= 0 && b < 16))
      assert(snap.summary.lastBatchId == gate, "batch-id gate must carry over")
      // every row sits in the bucket the NEW function assigns
      BucketLayout.check(t, "data/rebucket-")

      CdcJob.runBatchIncremental(s, t, cdc, filesPerBatch = 1)
      val initial = (0L until cfg.nDocs.toLong).map { k =>
        val tk = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
        ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), tk, tk.size, "seed")
      }.toMap
      val log = (0L until cfg.nTx)
        .flatMap(i => ChangeLogGen.txRecords(cfg, i)).sortBy(_.lsn)
      val want = graft.stream.ReplayOracle.replay(initial, log, ChangeLogGen.snapshotLsn)
      def state(): Map[String, Seq[Int]] =
        t.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
      val got = state()
      assert(got.keySet == want.keySet)
      want.foreach { case (k, w) => assert(got(k) == w.tokens, s"tokens mismatch $k") }

      // shrink: 16 -> 4 is the same rewrite in the other direction
      Maintenance.rebucket(t, 4)
      assert(t.refresh().numBuckets == 4)
      assert(state() == got, "state must be layout-invariant")
    } finally Fs.deleteRecursively(base)
  }

  test("tombstones survive the rewrite: a stale pre-delete event stays suppressed") {
    implicit val s = spark.newSession()
    import s.implicits._
    val base = Fs.tempDir("graft-rebucket-tomb")
    try {
      val df = Seq(("k1", 5L), ("k2", 6L)).toDF("doc_id", "v")
      val t = IceLite.create(s, s"$base/t", df.schema, "doc_id", 4)
      IceLiteV2.append(s, t.root, df, vc = 10L, vl = 0L)
      IceLiteV2.append(s, t.root, Seq(("k1", 5L)).toDF("doc_id", "v"),
        vc = 20L, vl = 0L, tombstone = true)
      t.refresh()
      Maintenance.rebucket(t, 8)
      assert(t.refresh().numBuckets == 8)
      // stale write BELOW the tombstone's version: must stay suppressed
      IceLiteV2.append(s, t.root, Seq(("k1", 7L)).toDF("doc_id", "v"),
        vc = 15L, vl = 0L)
      t.refresh()
      val keys = t.read().select("doc_id").as[String].collect().toSet
      assert(keys == Set("k2"), s"tombstone must survive the rewrite, got $keys")
    } finally Fs.deleteRecursively(base)
  }
}
