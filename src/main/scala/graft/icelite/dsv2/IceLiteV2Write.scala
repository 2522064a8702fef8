package graft.icelite.dsv2

import graft.icelite.IceLite
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** DSv2 WRITE path for IceLite: `INSERT INTO graft.`/path`` /
  * `df.writeTo("graft.`/path`").append()` commit versioned delta files
  * through the same snapshot protocol as the engine's MERGE apply.
  *
  * Contract (append-only, out-of-band backfill channel):
  *
  *   - the incoming rows carry the FULL stored schema including the
  *     engine meta columns (__vc, __vl, __tomb) — a backfill writer must
  *     state the version it writes at, because visibility is decided by
  *     LWW against existing row versions (rows above win, rows below are
  *     inert history; a __tomb=true row deletes its key at that version).
  *     [[IceLiteV2.append]] stamps the metadata for the common case.
  *   - the write REQUIRES clustering by `bucket(numBuckets, key)` —
  *     [[RequiresDistributionAndOrdering]] resolved against the same
  *     FunctionCatalog bucket function the read path reports, so Spark
  *     plans exactly one exchange and each task holds whole buckets
  *     (one output file per bucket per insert, not tasks x buckets).
  *   - files land in an attempt-unique `data/v2append-*` directory in
  *     the same `__bucket=N` layout as engine deltas; the snapshot
  *     commit (optimistic, retrying) appends them as delta files and
  *     records them in the CDF `changed` manifest, so a v2 insert
  *     surfaces in `changesBetween` exactly like an engine apply.
  *   - the CDC offset state (watermark, floors, batch ids) is NOT
  *     touched: inserts are data, not log progress. Reference analog:
  *     ad-hoc snapshot data arriving outside the streaming lane
  *     (incremental-snapshot chunks, `InformixConnectorIT` blocking
  *     snapshot inserts) never moves the restart offset either.
  *
  * Row decoding/encoding delegates to Spark's parquet
  * `OutputWriterFactory` (prepared driver-side with the session's
  * hadoop conf), the write-side mirror of the read path's delegation to
  * `ParquetScan.createReaderFactory`.
  */
class IceLiteWriteBuilder(spark: SparkSession, root: String,
    info: LogicalWriteInfo) extends WriteBuilder {

  override def build(): Write = {
    val snap = IceLite.readLatest(root).getOrElse(
      throw new IllegalStateException(s"no IceLite table at $root"))
    val expect = IceLite.withMeta(snap.schema).fieldNames.toSeq
    val got = info.schema().fieldNames.toSeq
    require(got == expect,
      s"v2 write schema must be the stored schema incl. meta columns; " +
        s"expected ${expect.mkString(",")} got ${got.mkString(",")} " +
        s"(use IceLiteV2.append to stamp __vc/__vl/__tomb)")
    val keyIdx = info.schema().fieldIndex(snap.keyCol)
    require(info.schema()(keyIdx).dataType == StringType,
      s"key column ${snap.keyCol} must be string")
    new IceLiteV2WriteImpl(spark, root, info.schema(), snap.keyCol, keyIdx,
      snap.numBuckets)
  }
}

class IceLiteV2WriteImpl(spark: SparkSession, root: String,
    dataSchema: StructType, keyCol: String, keyIdx: Int, numBuckets: Int)
    extends Write with RequiresDistributionAndOrdering {

  /** Cluster by the catalog bucket function — the write-side statement
    * of the table's layout. Strictly required: every inserted file is
    * bucket-pure, and a task receives whole buckets.
    */
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.bucket(numBuckets, keyCol)))

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = {
    val attemptTag = java.util.UUID.randomUUID().toString.take(8)
    val commitRel = s"data/v2append-$attemptTag"
    // prepareWrite wires schema/compression/timestamp settings into the
    // job conf exactly as a DataFrame parquet write would
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    new IceLiteBatchWrite(root, commitRel, dataSchema, keyIdx, numBuckets,
      factory, conf)
  }
}

final case class V2CommitMessage(
    files: Seq[(Int, String)], // (bucket, path relative to table root)
    upserts: Long,
    deletes: Long,
    minVc: Long,
    maxVc: Long
) extends WriterCommitMessage

class IceLiteBatchWrite(root: String, commitRel: String, dataSchema: StructType,
    keyIdx: Int, numBuckets: Int, factory: OutputWriterFactory,
    conf: SerializableConfiguration) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new IceLiteWriterFactory(root, commitRel, dataSchema, keyIdx, numBuckets,
      factory, conf)

  /** Publish the written delta files: optimistic snapshot commit
    * (retry on losing a race with a concurrent engine apply /
    * compaction — the delta append composes with any of them). The CDC
    * summary state is carried over untouched except the informational
    * counters; `changed` carries the CDF manifest.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: V2CommitMessage => m }
    val written: Map[Int, Seq[String]] = msgs.flatMap(_.files)
      .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).sorted.toSeq }
    if (written.isEmpty) return
    val ups = msgs.map(_.upserts).sum
    val dels = msgs.map(_.deletes).sum
    val minVc = msgs.map(_.minVc).min
    val maxVc = msgs.map(_.maxVc).max
    // stats sidecar before publishing (commit() runs on the driver)
    val spark = SparkSession.active
    graft.icelite.ZoneMaps.writeSidecar(spark, root, commitRel)
    IceLite.load(spark, root).commitWith { cur =>
      Some(cur.copy(
        deltas = (cur.deltas.keySet ++ written.keySet).map { b =>
          b -> (cur.deltas.getOrElse(b, Nil) ++ written.getOrElse(b, Nil))
        }.toMap.filter(_._2.nonEmpty),
        changed = written, // CDF: a v2 insert IS a change commit
        summary = cur.summary.copy(
          upserts = ups, deletes = dels, lsnLo = minVc, lsnHi = maxVc,
          note = "v2-append")))
    }
  }

  /** Failed attempts leave only unreferenced files in the attempt-unique
    * directory — drop them here; `Maintenance.gcOrphans` is the backstop.
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    try {
      val dir = Paths.get(root, commitRel)
      if (Files.exists(dir)) {
        graft.util.Fs.walkAll(dir)
          .sorted(Ordering.comparatorToOrdering(
            java.util.Comparator.reverseOrder[java.nio.file.Path]()))
          .foreach(p => Files.deleteIfExists(p))
      }
    } catch { case NonFatal(_) => () }
  }
}

class IceLiteWriterFactory(root: String, commitRel: String, dataSchema: StructType,
    keyIdx: Int, numBuckets: Int, factory: OutputWriterFactory,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IceLiteDataWriter(root, commitRel, dataSchema, keyIdx, numBuckets,
      factory, conf, partitionId, taskId)
}

/** Per-task writer: routes each row to its bucket's parquet file.
  * Correctness does not depend on the requested clustering — the bucket
  * is recomputed per row with the same murmur3 `IceLite.bucketOf` — the
  * clustering only bounds writers-per-task (≈ buckets/tasks when Spark
  * honors the distribution).
  */
class IceLiteDataWriter(root: String, commitRel: String, dataSchema: StructType,
    keyIdx: Int, numBuckets: Int, factory: OutputWriterFactory,
    conf: SerializableConfiguration, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val vcIdx = dataSchema.fieldIndex(IceLite.VC)
  private val vlIdx = dataSchema.fieldIndex(IceLite.VL)
  private val tombIdx = dataSchema.fieldIndex(IceLite.TOMB)
  require(dataSchema(vcIdx).dataType == LongType &&
    dataSchema(vlIdx).dataType == LongType &&
    dataSchema(tombIdx).dataType == BooleanType, "meta column types")

  private val context = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-v2append", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    new TaskAttemptContextImpl(conf.value, attempt)
  }
  private val ext = factory.getFileExtension(context)
  private val writers = scala.collection.mutable.HashMap.empty[Int, OutputWriter]
  private val relFiles = scala.collection.mutable.ListBuffer.empty[(Int, String)]
  private var upserts = 0L
  private var deletes = 0L
  private var minVc = Long.MaxValue
  private var maxVc = Long.MinValue

  private def writerFor(bucket: Int): OutputWriter =
    writers.getOrElseUpdate(bucket, {
      val rel = f"$commitRel/__bucket=$bucket/part-$partitionId%05d-$taskId-" +
        s"${java.util.UUID.randomUUID().toString.take(8)}$ext"
      relFiles += bucket -> rel
      factory.newInstance(s"$root/$rel", dataSchema, context)
    })

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(keyIdx),
      "v2 append: key column must be non-null (null-key truncate markers are engine-internal)")
    require(!row.isNullAt(vcIdx) && !row.isNullAt(vlIdx) && !row.isNullAt(tombIdx),
      "v2 append: __vc/__vl/__tomb must be non-null (use IceLiteV2.append)")
    val b = IceLite.bucketOf(row.getUTF8String(keyIdx), numBuckets)
    if (row.getBoolean(tombIdx)) deletes += 1 else upserts += 1
    val vc = row.getLong(vcIdx)
    if (vc < minVc) minVc = vc
    if (vc > maxVc) maxVc = vc
    writerFor(b).write(row)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    V2CommitMessage(relFiles.toSeq, upserts, deletes,
      if (minVc == Long.MaxValue) -1L else minVc,
      if (maxVc == Long.MinValue) -1L else maxVc)
  }

  override def abort(): Unit = {
    try writers.values.foreach(_.close()) catch { case NonFatal(_) => () }
    relFiles.foreach { case (_, rel) =>
      try Files.deleteIfExists(Paths.get(root, rel))
      catch { case NonFatal(_) => () }
    }
  }

  override def close(): Unit = ()
}
