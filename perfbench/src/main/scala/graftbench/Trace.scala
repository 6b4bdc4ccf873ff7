package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` groups spans for self-time accounting;
  * `request` is the closed-loop request index (negative for set-up runs).
  * Times are nanoseconds on the tracer's clock. */
final class Span(
    val id: Int, val parent: Int, val name: String, val layer: String,
    val request: Int, val start: Long) {
  @volatile var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty

  def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = math.max(counters.getOrElse(k, v), v)
  }
}

/** Spans around the calls the benchmark makes into each graft layer, with
  * Spark's own counters attributed to the innermost open span.
  *
  * A [[SparkListener]] and a [[QueryExecutionListener]] deliver events on
  * Spark's listener threads. The client is one thread, and the listener
  * bus is drained when a span opens and when it closes, so every event a
  * span's work produced is delivered while that span is the innermost one.
  * Each Spark job also becomes a child span of layer `spark` (or `GraftSql`
  * for the job that `GraftSql.persistedView` runs), timed from the job's
  * start and end events. Everything stays in memory until [[spans]] is read
  * at the end of the run. */
final class Tracer {
  private var spark: SparkSession = _
  // Listener events carry wall-clock milliseconds; spans use nanoTime.
  private val nanoAtEpochMs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromEpochMs(ms: Long): Long = nanoAtEpochMs + ms * 1000000L

  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var current: Span = _
  @volatile private var request: Int = 0

  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def newSpan(parent: Span, name: String, layer: String, start: Long): Span =
    all.synchronized {
      val s = new Span(all.size, if (parent == null) -1 else parent.id, name,
        layer, request, start)
      all += s
      s
    }

  private def drain(): Unit = if (spark != null) org.apache.spark.sql.GraftSql.awaitListenerBus(spark)

  def setRequest(i: Int): Unit = request = i

  /** Time `body` as a span of `layer` named `name`, nested in the open one. */
  def span[A](layer: String, name: String)(body: Span => A): A = {
    drain()
    val s = newSpan(current, name, layer, System.nanoTime())
    stack.push(s)
    current = s
    try body(s)
    finally {
      drain()
      s.end = System.nanoTime()
      stack.pop()
      current = stack.headOption.orNull
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = current
      if (owner != null) {
        val persist = e.stageInfos.exists(_.details.contains("GraftSql$.persistedView"))
        val (layer, name) =
          if (persist) ("GraftSql", "GraftSql.persistedView") else ("spark", "spark.job")
        val js = newSpan(owner, name, layer, fromEpochMs(e.time))
        jobSpans.synchronized(jobSpans(e.jobId) = js)
        owner.add("exec.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.synchronized(jobSpans.remove(e.jobId)).foreach { js =>
        js.end = fromEpochMs(e.time)
        if (js.layer == "GraftSql")
          Option(current).foreach(_.add("GraftSql.persist_ms", (js.end - js.start) / 1e6))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = current
      if (s != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        s.add("exec.tasks", 1)
        s.add("exec.task_time_ms", m.executorRunTime.toDouble)
        s.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("scan.rows_read", m.inputMetrics.recordsRead.toDouble)
        stageTasks.synchronized(stageTasks.getOrElseUpdate(e.stageId,
          mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = current
      val ds = stageTasks.synchronized(stageTasks.remove(e.stageInfo.stageId))
      if (s != null) {
        s.add("exec.stages", 1)
        // hot-key skew: the slowest task against the stage's median task
        ds.filter(_.size >= 2).foreach { d =>
          val sorted = d.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          s.max("exec.max_task_over_median", sorted.last.toDouble / med)
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current).foreach(PlanStats.record(qe.executedPlan, _))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Option(current).foreach(_.add("exec.failed_queries", 1))
  }

  /** Listen to `s`; spans recorded earlier (on other sessions) stay. */
  def install(s: SparkSession): Unit = {
    spark = s
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark = null
  }

  /** All spans recorded so far, job spans included. */
  def spans: Seq[Span] = all.synchronized(all.toList)
}

/** Counters read from an executed (final, post-AQE) physical plan. */
object PlanStats {
  private val NativeExprs = Set("ArgmaxCell", "TopCells", "DotProduct", "AsOfPick")

  /** Every node of the final plan, descending through adaptive wrappers
    * and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case other => other +: kids(other).flatMap(nodes)
  }

  /** Children, looking through query stages and reused exchanges. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  private def metric(p: SparkPlan, name: String): Option[Long] =
    p.metrics.get(name).map(_.value)

  private def kind(p: SparkPlan): String = p.getClass.getSimpleName

  private def isPick(p: SparkPlan): Boolean = {
    val k = kind(p)
    k.startsWith("Window") || k.startsWith("AsOf")
  }

  /** Rows entering a node: the first descendant that counts its output. */
  private def rowsInto(p: SparkPlan): Long =
    kids(p).iterator.map { c =>
      metric(c, "numOutputRows").orElse(metric(c, "shuffleRecordsWritten"))
        .getOrElse(rowsInto(c))
    }.sum

  def record(plan: SparkPlan, s: Span): Unit = {
    val all = nodes(plan)
    def count(pred: String => Boolean): Int = all.count(n => pred(kind(n)))
    s.add("plan.queries", 1)
    s.add("plan.exchange_nodes", count(k => k.contains("Exchange") && !k.startsWith("Reused")))
    s.add("plan.window_nodes", count(_.startsWith("Window")))
    s.add("plan.sort_nodes", count(_ == "SortExec"))
    s.add("plan.smj_nodes", count(_ == "SortMergeJoinExec"))
    s.add("plan.bhj_nodes", count(_ == "BroadcastHashJoinExec"))
    s.add("plan.asof_exec_nodes", count(_.startsWith("AsOf")))
    s.add("exec.sort_ms", all.filter(kind(_) == "SortExec")
      .flatMap(metric(_, "sortTime")).sum.toDouble)
    s.add("scan.files_read", all.flatMap(metric(_, "numFiles")).sum.toDouble)
    // rows reaching a latest-row pick: input of each lowest pick operator
    def lowestPicks(p: SparkPlan): Seq[SparkPlan] = {
      val below = kids(p).flatMap(lowestPicks)
      if (isPick(p) && below.isEmpty) Seq(p) else below
    }
    s.add("pit.pick_input_rows", lowestPicks(plan).map(rowsInto).sum.toDouble)
    // candidate pairs of a similarity search: the widest join output
    val joinRows = all.filter(n => kind(n).contains("Join"))
      .flatMap(metric(_, "numOutputRows"))
    if (joinRows.nonEmpty) s.max("plan.max_join_rows", joinRows.max.toDouble)
    // whole-stage pipelines that hold graft's native expressions
    all.foreach {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        val native = w.child.collect { case n => n }.exists(_.expressions.exists(
          _.exists(e => NativeExprs(e.getClass.getSimpleName))))
        if (native) s.add("exec.codegen_ms", metric(w, "pipelineTime").getOrElse(0L).toDouble)
      case _ =>
    }
  }
}
