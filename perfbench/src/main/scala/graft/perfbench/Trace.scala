package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One span around a call into graft's public API. `run` groups the
  * spans of one pass (e.g. `c4` for the local[4] catch-up pass).
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, var endMs: Long = -1L) {
  def wallMs: Double = (endMs - startMs).toDouble
}

/** Spark work seen from outside through the public listener APIs. A job
  * is attributed to the span whose id was the submitting thread's
  * `perfbench.span` local property, except that jobs of an SQL execution
  * writing a compaction fold belong to `maintenance`, whichever thread
  * (the daemon's) ran them.
  */
final case class JobRec(span: String, execId: Long, streamBatch: Long,
    stageIds: Seq[Long], startMs: Long, maintenance: Boolean, var endMs: Long = -1L)

final case class StageRec(shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleWriteNs: Long,
    shuffleReadBytes: Long, fetchWaitMs: Long, spillBytes: Long)

/** SQL plan-node metrics of one query execution. */
final case class PlanRec(execId: Long, nodes: Seq[(String, Map[String, Long])])

final case class Progress(batchId: Long, rows: Long, durations: Map[String, Long])

/** Records spans and listener events for one benchmark run. When
  * `enabled` is false only the spans' walls are kept (they are the
  * untraced run's own stopwatch) and no listener is registered.
  */
final class Trace(val enabled: Boolean) {
  private val t0 = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  // job, stage and execution ids restart with every SparkContext, so they
  // are keyed by `key(context, id)`; accumulator ids are unique per JVM
  private var contexts = 0
  private def key(ctx: Int, id: Long): Long = (ctx.toLong << 40) | id
  val jobs = mutable.LinkedHashMap.empty[Long, JobRec]
  val stages = mutable.LinkedHashMap.empty[Long, StageRec]
  /** stage -> task run times (ms), for reduce-side skew */
  val taskRuns = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
  /** execution id -> plan nodes with their metrics' accumulator ids */
  private val planInfo = mutable.LinkedHashMap.empty[Long, Seq[(String, Seq[(String, Long)])]]
  /** accumulator id -> value, from finished stages and driver updates */
  private val accums = mutable.HashMap.empty[Long, Long]
  /** executions that write a compaction fold (`data/compact-*`) */
  private val maintenanceExecs = mutable.HashSet.empty[Long]
  val progress = mutable.ArrayBuffer.empty[Progress]
  private var stack = List.empty[Int]

  /** Time `f` as a span; Spark jobs `f` submits carry the span's id. */
  def span[T](name: String, run: String, sc: SparkContext)(f: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, name, stack.headOption.getOrElse(-1), run, System.currentTimeMillis())
      spans += sp; stack = sp.id :: stack; sp
    }
    try tagged(sc, s.id.toString)(f)
    finally synchronized { s.endMs = System.currentTimeMillis(); stack = stack.tail }
  }

  /** Run `f` with the span property set to `layer`; threads `f` starts
    * (the stream's) inherit it.
    */
  def tagged[T](sc: SparkContext, layer: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, layer)
    try f finally sc.setLocalProperty(Trace.SpanKey, prev)
  }

  def spansNamed(name: String, run: String): Seq[Span] = synchronized {
    spans.filter(s => s.name == name && s.run == run && s.endMs >= 0).toSeq
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    val ctx = synchronized { contexts += 1; contexts }
    spark.sparkContext.addSparkListener(sparkListener(ctx))
    spark.streams.addListener(ssListener)
  }

  private def sparkListener(ctx: Int) = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val exec = prop("spark.sql.execution.id").map(id => key(ctx, id.toLong)).getOrElse(-1L)
      val maint = maintenanceExecs(exec)
      jobs(key(ctx, e.jobId)) = JobRec(
        if (maint) "maintenance" else prop(Trace.SpanKey).getOrElse(""),
        exec,
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        e.stageIds.map(id => key(ctx, id)), e.time, maint)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(key(ctx, e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null && m.shuffleReadMetrics.totalBlocksFetched > 0)
        taskRuns.getOrElseUpdate(key(ctx, e.stageId), mutable.ArrayBuffer.empty) += m.executorRunTime
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      i.accumulables.foreach { case (id, a) =>
        a.value.foreach {
          case v: java.lang.Long => accums(id) = accums.getOrElse(id, 0L) + v
          case _ => ()
        }
      }
      if (m != null)
        stages(key(ctx, i.stageId)) = StageRec(
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case x: SparkListenerSQLExecutionStart =>
          planInfo(key(ctx, x.executionId)) = Trace.flatten(x.sparkPlanInfo)
          if (Trace.writesFold(x.sparkPlanInfo)) maintenanceExecs += key(ctx, x.executionId)
        case x: SparkListenerSQLAdaptiveExecutionUpdate =>
          planInfo(key(ctx, x.executionId)) = Trace.flatten(x.sparkPlanInfo)
        case x: SparkListenerDriverAccumUpdates =>
          x.accumUpdates.foreach { case (id, v) => accums(id) = v }
        case _ => ()
      }
    }
  }

  private val ssListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val ds = d.keySet().toArray(new Array[String](0)).map(k => k -> d.get(k).longValue()).toMap
      Trace.this.synchronized { progress += Progress(p.batchId, p.numInputRows, ds) }
    }
  }

  /** Jobs of the given spans (by span id), ended. */
  def jobsOf(spanIds: Set[Int]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.endMs >= 0 && !j.maintenance &&
      scala.util.Try(j.span.toInt).toOption.exists(spanIds)).toSeq
  }
  def maintenanceJobs: Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.endMs >= 0 && j.span == "maintenance").toSeq
  }
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }
  def plansOf(js: Seq[JobRec]): Seq[PlanRec] = synchronized {
    js.map(_.execId).filter(_ >= 0).distinct.flatMap(id => planInfo.get(id).map { nodes =>
      PlanRec(id, nodes.map { case (n, ms) => n -> ms.map { case (k, a) => k -> accums.getOrElse(a, 0L) }.toMap })
    })
  }
  def allPlans: Seq[PlanRec] = plansOf(synchronized(jobs.values.toSeq))

  /** Sum of one plan-node metric over the given plans, for nodes whose
    * name satisfies `node`.
    */
  def nodeMetric(ps: Seq[PlanRec], node: String => Boolean, metric: String): Long =
    ps.flatMap(_.nodes).filter(n => node(n._1)).map(_._2.getOrElse(metric, 0L)).sum

  /** Time of `s` not covered by any of `js` (the driver-serial part). */
  def uncoveredMs(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    s.wallMs - covered
  }

  /** Share of all Spark job time whose job carries no span and is not
    * maintenance: the part of the run no named layer accounts for.
    */
  def unattributedShare: Double = synchronized {
    val done = jobs.values.filter(_.endMs >= 0).toSeq
    val total = done.map(j => (j.endMs - j.startMs).toDouble).sum
    val un = done.filter(_.span.isEmpty).map(j => (j.endMs - j.startMs).toDouble).sum
    if (total <= 0) 0.0 else un / total
  }

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> (s.startMs - t0), "end_ms" -> (s.endMs - t0))).toSeq
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Whether a plan writes a compaction fold's output (`data/compact-*`);
    * reads of folded files name the same directories, so only the write
    * node counts.
    */
  def writesFold(p: SparkPlanInfo): Boolean =
    p.nodeName == "Execute InsertIntoHadoopFsRelationCommand" && p.simpleString.contains("/data/compact-") ||
      p.children.exists(writesFold)

  /** Every plan node with its metrics' (name, accumulator id). */
  def flatten(p: SparkPlanInfo): Seq[(String, Seq[(String, Long)])] =
    (p.nodeName -> p.metrics.map(m => m.name -> m.accumulatorId)) +: p.children.flatMap(flatten)

  /** Codegen compile count and approximate total compile time (the
    * histogram keeps a sample, so count x mean is an estimate).
    */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}
