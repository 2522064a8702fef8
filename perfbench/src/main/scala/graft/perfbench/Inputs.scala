package graft.perfbench

import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.IceLiteTable
import graft.model.{LogRecord, TokenDoc}
import graft.stream.{CdcJob, ReplayOracle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated inputs, their fingerprints and the correctness oracles. */
object Inputs {

  /** Files, records and an order-independent content hash of a log, so
    * a change to the generator shows up as changed inputs.
    */
  def fingerprint(spark: SparkSession, logDir: String): Map[String, Any] = {
    val df = spark.read.schema(LogRecord.schema).parquet(logDir)
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
    Map("files" -> graft.util.Fs.listParquet(logDir).size, "records" -> r.getLong(0),
      "content_hash" -> f"${r.getLong(1)}%016x")
  }

  /** Keys the oracle checks: the hottest Zipf keys, seeded random
    * initial keys, and seeded picks among inserted and deleted keys.
    */
  def sampleKeys(spark: SparkSession, logDir: String, cfg: ChangeLogConfig, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val log = spark.read.schema(LogRecord.schema).parquet(logDir)
    def pick(op: String, side: String, n: Int): Seq[String] = {
      val ks = log.where(col("op") === op).select(col(s"$side.doc_id")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      rnd.shuffle(ks).take(n)
    }
    val hot = (0 until 8).map(k => ChangeLogGen.docId(k.toLong))
    val random = Seq.fill(8)(ChangeLogGen.docId(rnd.nextInt(cfg.nDocs).toLong))
    (hot ++ random ++ pick("c", "after", 6) ++ pick("d", "before", 6)).distinct
  }

  /** ReplayOracle's final state for `keys`: the initial rows of those
    * keys replayed with every control record and every data record that
    * touches them.
    */
  def oracle(spark: SparkSession, logDir: String, cfg: ChangeLogConfig,
      keys: Seq[String]): Map[String, TokenDoc] = {
    import spark.implicits._
    val ks = keys.toSet
    val kl = keys.map(k => k: Any)
    val recs = spark.read.schema(LogRecord.schema).parquet(logDir)
      .where(col("op").isin("B", "C", "R", "D", "t") ||
        col("before.doc_id").isin(kl: _*) || col("after.doc_id").isin(kl: _*))
      .as[LogRecord].collect().toSeq
    val initial = (0L until cfg.nDocs.toLong).iterator.map(ChangeLogGen.docId)
      .filter(ks).map { id =>
        val k = id.stripPrefix("doc").toLong
        val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
        id -> TokenDoc(id, t, t.size, "seed")
      }.toMap
    ReplayOracle.replay(initial, recs).filter { case (k, _) => ks(k) }
  }

  def tokensOf(df: DataFrame): Map[String, Seq[Int]] =
    df.select("doc_id", "tokens").collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap

  def sameTokens(expected: Map[String, TokenDoc], actual: Map[String, Seq[Int]]): Boolean =
    expected.keySet == actual.keySet &&
      expected.forall { case (k, d) => d.tokens == actual(k) }

  /** Count and order-independent hash of a table's full content. */
  def contentFingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** A deliberately wrong table, for the self-check: one committed
    * update the log never contained, applied through the engine.
    */
  def corrupt(table: IceLiteTable, key: String, batchId: Long): Unit = {
    val spark = table.spark
    import spark.implicits._
    val lsn = 1L << 60
    val doc = TokenDoc(key, Seq(-1, -2, -3), 3, "corrupt")
    val recs = Seq(
      LogRecord(lsn, 9L << 40, "B", -1L, "token_docs", None, None, 0L),
      LogRecord(lsn + 1, 9L << 40, "u", -1L, "token_docs", Some(doc.copy(tokens = Nil)), Some(doc), 0L),
      LogRecord(lsn + 2, 9L << 40, "C", -1L, "token_docs", None, None, 0L))
    CdcJob.processBatch(table, recs.toDS().toDF(), batchId)
    table.refresh()
  }
}
