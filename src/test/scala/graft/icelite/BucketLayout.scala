package graft.icelite

import graft.util.Fs
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

import java.nio.file.{Files, Paths}

/** The file layout every IceLite writer must leave behind. Readers prune
  * by bucket and report the bucket partitioning to Spark, so a row filed
  * under the wrong bucket is invisible to lookups and breaks
  * co-partitioned joins.
  */
object BucketLayout {

  private def refs(s: IceSnapshot): Seq[(Int, String)] =
    Seq(s.base, s.deltas, s.changed)
      .flatMap(_.toSeq.flatMap { case (b, fs) => fs.map(b -> _) }).distinct

  private def dirOf(file: String): String = file.split('/').take(2).mkString("/")

  /** Checks the latest commit of `table`:
    *   - every file it references (base, deltas, change manifest) sits
    *     under `__bucket=b` for the bucket `b` it is filed under;
    *   - those files hold rows, each with `IceLite.bucketOf(key, n) == b`;
    *   - each commit directory this commit added starts with one of
    *     `prefixes`, and its parquet files are exactly the files the
    *     commit references there: what the writer returned is what it
    *     wrote.
    */
  def check(table: IceLiteTable, prefixes: String*): Unit = {
    val spark = table.spark
    import spark.implicits._
    val snap = table.refresh()
    val now = refs(snap)
    now.groupBy(_._1).foreach { case (b, entries) =>
      val files = entries.map(_._2)
      files.foreach(f => assert(Paths.get(f).getParent.getFileName.toString == s"__bucket=$b",
        s"$f is filed under bucket $b"))
      val keys = spark.read.schema(IceLite.withMeta(snap.schema))
        .parquet(files.map(table.dataPath): _*)
        .select(col(snap.keyCol)).as[String].collect()
      assert(keys.nonEmpty && keys.forall(k => IceLite.bucketOf(k, snap.numBuckets) == b),
        s"bucket $b is empty or holds foreign keys")
    }
    val before =
      if (snap.parentId < 0) Set.empty[String]
      else refs(IceLite.readSnapshotFile(table.root, snap.parentId)).map(e => dirOf(e._2)).toSet
    val added = now.map(e => dirOf(e._2)).toSet -- before
    assert(added.nonEmpty, s"commit ${snap.snapshotId} added no files")
    added.foreach { d =>
      assert(prefixes.exists(d.startsWith), s"unexpected commit dir $d")
      val onDisk = Fs.walkAll(Paths.get(table.root, d))
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => Paths.get(table.root).relativize(p).toString).toSet
      assert(onDisk == now.map(_._2).filter(f => dirOf(f) == d).toSet,
        s"$d: files on disk differ from the files the commit references")
    }
  }
}
