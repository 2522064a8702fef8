package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Run context shared by the workloads. */
final case class Ctx(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Trace,
    scratch: String,
    cores: Int,
    toy: Boolean,
    corrupt: String) {
  def traced: Boolean = trace.enabled
}

/** What a workload hands back: end-to-end and per-layer metrics by name
  * (value, unit), detail for the record, correctness checks and the
  * operation tally.
  */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail)); attempted += 1; if (!ok) failed += 1
  }
}

object Common {

  /** The session `graft.Bench` builds: local[N], N shuffle partitions,
    * AQE off for CDC sessions and on for operator cells.
    */
  def session(cores: Int, scratch: String, aqe: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sessionConf(s: SparkSession): Map[String, Any] = Map(
    "master" -> s.sparkContext.master,
    "cores" -> s.sparkContext.defaultParallelism,
    "shuffle_partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
    "aqe" -> s.conf.get("spark.sql.adaptive.enabled"))

  def now(): Double = System.nanoTime() / 1e9

  /** CPU seconds this JVM has used, all threads (tasks, driver, JIT, GC). */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private val started = now()

  /** A progress line on stderr (the run's log), with seconds since start. */
  def note(msg: String): Unit = System.err.println(f"[perfbench +${now() - started}%.1fs] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it
    * (nearest rank), never below the median; the maximum when there are
    * ten samples or fewer. Returns (value, percentile, sample count).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0, n)
    else {
      val idx = n - 11 // ten samples strictly beyond this one
      if (s(idx) < median(s)) (median(s), 50.0, n) else (s(idx), 100.0 * (idx + 1) / n, n)
    }
  }

  /** Walls (ms) of `n` extra `CdcJob.snapshot`s of the initial table
    * into throwaway tables, so the snapshot rate is a median, not one
    * sub-second sample.
    */
  def extraSnapshots(spark: SparkSession, cfg: graft.changelog.ChangeLogConfig, base: String,
      buckets: Int, n: Int): Seq[Double] = (1 to n).map { i =>
    import graft.changelog.ChangeLogGen
    val c = graft.stream.CdcConfig(s"$base/log", s"$base/snap-$i", s"$base/snap-ck-$i", numBuckets = buckets)
    val a = now()
    graft.stream.CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(), c, ChangeLogGen.snapshotLsn)
    val ms = (now() - a) * 1000
    graft.util.Fs.deleteRecursively(c.tableRoot)
    ms
  }

  /** Peak retained heap: the heap in use right after a full collection,
    * taken at checkpoints between the measured phases (never inside a
    * timed section), maximum over the run. Forcing the collection makes
    * the figure the live working set, not wherever a collector happened
    * to be in its cycle.
    */
  object HeapPeak {
    private var peak = 0L
    def checkpoint(): Unit = {
      System.gc()
      val r = Runtime.getRuntime
      peak = math.max(peak, r.totalMemory() - r.freeMemory())
    }
    def mb: Double = peak / 1048576.0
  }
}
