package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._
import Common._

/** A fixed subset of the frozen headline cells, run through
  * `SparkEntry.queries` on the testdata shipped with the benchmark, in
  * a warm session. The inputs are fixed files, so the seed does not
  * change them.
  */
object Cells {

  /** In `graft.Bench.headline` order: the `ops` ANN, text and dedup
    * operators, the `stream` window operator, the join-view IVM pair and
    * the near-dup stream. `cdc_ivm_cascade` reuses the result
    * `cdc_ivm_join` memoizes, so the two are one timing group.
    */
  val groups: Seq[Seq[String]] = Seq(
    Seq("ann_topk"), Seq("text_quality"), Seq("dedup_components"), Seq("stream_window_agg"),
    Seq("cdc_ivm_join", "cdc_ivm_cascade"), Seq("stream_neardup_stress"))

  def groupName(g: Seq[String]): String = g.mkString("+")

  def run(ctx: Ctx, res: Result, dataDir: String): Unit = {
    val t = ctx.trace
    val setup0 = now()
    val spark = session(ctx.cores, ctx.scratch, aqe = true)
    t.attach(spark)
    res.info("session") = sessionConf(spark)
    res.info("inputs") = Map("data_dir" -> dataDir, "seed_applies" -> false,
      "files" -> graft.util.Fs.listParquet(dataDir).map(f => f.split('/').last -> java.nio.file.Files.size(
        java.nio.file.Paths.get(f))).sorted)
    val aux = s"${ctx.scratch}/aux"
    t.span("setup.aux", "setup", spark.sparkContext)(dumpAux(spark, aux))
    // the first pass is the warm-up: JIT, codegen cache, file footers
    onePass(spark.newSession(), dataDir, t, "warm")
    val setupS = now() - setup0
    HeapPeak.checkpoint()

    val gc0 = Trace.gcMs
    val cg0 = Trace.codegen
    val m0 = now()
    val cpu0 = cpuS()
    val passes = Seq.newBuilder[Map[String, (Double, Array[Row], org.apache.spark.sql.types.StructType)]]
    var i = 0
    while (i == 0 || (now() - m0) < ctx.seconds) {
      passes += onePass(spark.newSession(), dataDir, t, s"p$i")
      i += 1
    }
    val cpuPasses = cpuS() - cpu0
    val cg1 = Trace.codegen
    val gc1 = Trace.gcMs
    HeapPeak.checkpoint()
    val ps = passes.result()

    // materialized results of the first measured pass, for the oracle
    val dumps = groups.flatten.map { name =>
      val (_, rows0, schema) = ps.head(name)
      val rows = if (ctx.corrupt == "cell" && name == groups.head.head) rows0.drop(1) else rows0
      val dir = s"${ctx.scratch}/cells/$name"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(dir)
      Map("name" -> name, "dir" -> dir, "rows" -> rows.length,
        "oracle_sql" -> SparkEntry.oracleSql.get(name).map(_.replace("{AUX}", aux)).orNull)
    }
    res.info("cell_dumps") = dumps
    spark.stop()

    val groupWalls = for (p <- ps; g <- groups) yield g.map(p(_)._1).sum
    val totals = ps.map(p => p.values.map(_._1).sum)
    res.attempted += ps.size * groups.size
    val (tailV, tailP, tailN) = tail(groupWalls.map(_ * 1000))
    res.metric("setup_s", setupS, "s")
    res.metric("work_p50_ms", median(groupWalls) * 1000, "ms")
    res.metric("work_tail_ms", tailV, "ms")
    res.metric("work_total_s", median(totals), "s")
    res.metric("work_cpu_s", cpuPasses / ps.size, "s")
    res.info("work_tail_percentile") = tailP
    res.info("work_samples") = tailN
    res.info("cells") = Map("cells_total_s" -> median(totals), "passes" -> ps.size,
      "groups" -> groups.map(groupName),
      "group_wall_s" -> groups.map(g => groupName(g) -> median(ps.map(p => g.map(p(_)._1).sum))).toMap)
    if (t.enabled) {
      groups.foreach { g =>
        val spans = t.synchronized(t.spans.filter(s => s.name == groupName(g) && s.run != "warm").toSeq)
        val jobs = t.jobsOf(spans.map(_.id).toSet)
        val n = math.max(1, spans.size).toDouble
        res.layer(s"cells.${groupName(g)}.wall_s", median(spans.map(_.wallMs / 1000)), "s")
        res.layer(s"cells.${groupName(g)}.spark_jobs", jobs.size / n, "count")
        res.layer(s"cells.${groupName(g)}.shuffle_bytes",
          t.stagesOf(jobs).map(_.shuffleWriteBytes).sum / n, "bytes")
      }
      res.layer("codegen.compiles", (cg1._1 - cg0._1).toDouble, "count")
      res.layer("codegen.compile_ms_approx", cg1._2 - cg0._2, "ms")
      res.layer("jvm.gc_ms", (gc1 - gc0).toDouble, "ms")
    }
  }

  /** The generated inputs the IVM cells' oracle SQL reads (`{AUX}`),
    * written the way `graft.Verify` writes them.
    */
  private def dumpAux(spark: org.apache.spark.sql.SparkSession, aux: String): Unit = {
    import graft.changelog.ChangeLogGen
    import spark.implicits._
    val cfg = SparkEntry.EngineReplayCfg
    ChangeLogGen.writeLog(spark, cfg, s"$aux/engine_log", numFiles = 2)
    ChangeLogGen.initialTable(spark, cfg).toDF().write.parquet(s"$aux/engine_seed")
    SparkEntry.IvmDimLog.toDS().toDF().coalesce(1).write.parquet(s"$aux/ivm_dim_log")
    SparkEntry.IvmDimSeed.toDS().toDF().coalesce(1).write.parquet(s"$aux/ivm_dim_seed")
  }

  /** One pass over every cell, each timed to a materialized result. */
  private def onePass(spark: org.apache.spark.sql.SparkSession, dataDir: String, t: Trace, run: String)
      : Map[String, (Double, Array[Row], org.apache.spark.sql.types.StructType)] =
    groups.flatMap { g =>
      def body() = g.map { name =>
        val a = now()
        val df = SparkEntry.queries(name)(spark, dataDir)
        val rows = df.collect()
        note(f"$run $name ${now() - a}%.2f s")
        name -> (now() - a, rows, df.schema)
      }
      t.span(groupName(g), run, spark.sparkContext)(body())
    }.toMap
}
