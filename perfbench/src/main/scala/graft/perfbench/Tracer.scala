package graft.perfbench

import scala.collection.mutable

import org.apache.spark.TracerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one span, summed over the jobs, stages, tasks and
  * SQL executions attributed to it. */
final class Counts {
  var jobs = 0
  var stages = 0
  var oneTaskStages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var sqlQueries = 0
  var planNs = 0L
  var sqlExecNs = 0L
  var exchanges = 0
  var graftNodes = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Jobs per program method on the job's call-site stack. */
  val jobsBySite = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** Milliseconds of [start, end] covered by at least one job. */
  def jobBusyMs(start: Long, end: Long): Long = {
    var busy = 0L
    var cur = start
    jobIntervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { busy += b - math.max(a, cur); cur = b }
      }
    busy
  }
}

/** One public call into the program: name, wall-clock start and end (ms),
  * the span that contains it, and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, startNs: Long) {
  var end = 0L
  var endNs = 0L
  var pinnedBytesAfter = 0L
  val counts = new Counts
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Marks a span opening or closing on the listener bus. */
final case class SpanEdge(id: Int, open: Boolean) extends SparkListenerEvent

/** Spans around the benchmark's calls into the program, and the Spark
  * counters attributed to them.
  *
  * With tracing off, `span` only runs its body. With tracing on, every Spark
  * job started inside a span carries the span id as a local property, so the
  * listener attributes jobs, stages and tasks exactly even though the
  * listener bus is asynchronous. SQL executions are attributed through
  * `SpanEdge` events: the span posts one on the bus as it opens and closes,
  * in order with Spark's own events, and the SQL-execution callback runs on
  * the same bus queue as the listener that follows them. Nothing waits for
  * the bus inside the timed phase; `finish` drains it once before counts are
  * read. Spans nest; a job counts toward the innermost span only. Spans stay
  * in memory until the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val sc = spark.sparkContext
  private val SpanKey = "graft.perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private var stack: List[Span] = Nil
  // the innermost open span as the listener bus sees it (bus thread only)
  private var busStack: List[Span] = Nil
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]

  private val programFrame = """(?m)^\s*(?:at\s+)?graft\.(?!perfbench\.)(?:\w+\.)*(\w+)\$?\.(\w+)\(""".r

  /** The program methods (`Class.method`) on a stage's call-site stack. */
  private def callSiteMethods(details: String): Set[String] =
    programFrame.findAllMatchIn(details).map(m => s"${m.group(1)}.${m.group(2)}").toSet

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case SpanEdge(id, true) => busStack = byId.synchronized(byId(id)) :: busStack
      case SpanEdge(_, false) => busStack = busStack.drop(1)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      id.flatMap(i => byId.synchronized(byId.get(i.toInt))).foreach { s =>
        s.counts.jobs += 1
        val result = e.stageInfos.maxBy(_.stageId)
        callSiteMethods(result.details).foreach(s.counts.jobsBySite(_) += 1)
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { case (s, t0) => s.counts.jobIntervals += ((t0, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach { s =>
        s.counts.stages += 1
        if (e.stageInfo.numTasks == 1) s.counts.oneTaskStages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = s.counts
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      busStack.headOption.foreach { s =>
        val c = s.counts
        c.sqlQueries += 1
        c.planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
        c.sqlExecNs += durationNs
        val nodes = planNodes(qe.executedPlan)
        c.exchanges += nodes.count(_.isInstanceOf[Exchange])
        c.graftNodes += nodes.count(_.getClass.getName.startsWith("graft."))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every physical node of an executed plan, through adaptive query stages
    * and subqueries. */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits until the listener has seen every event of the run. */
  def finish(): Unit = if (enabled) TracerBus.drain(sc)

  /** Bytes the block manager still holds for persisted RDDs. */
  def pinnedBytes(): Long = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = byId.synchronized {
        val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), runId,
          System.currentTimeMillis(), System.nanoTime())
        spans += s
        byId(s.id) = s
        s
      }
      val outer = sc.getLocalProperty(SpanKey)
      stack = s :: stack
      TracerBus.post(sc, SpanEdge(s.id, open = true))
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.end = System.currentTimeMillis()
        TracerBus.post(sc, SpanEdge(s.id, open = false))
        s.pinnedBytesAfter = pinnedBytes()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, outer)
      }
    }

  /** Spans whose name is `name`. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spans as JSON-ready maps, for the spans file. */
  def dump: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val c = s.counts
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ms" -> s.start, "end_ms" -> s.end, "seconds" -> s.seconds,
      "jobs" -> c.jobs, "stages" -> c.stages, "one_task_stages" -> c.oneTaskStages,
      "tasks" -> c.tasks,
      "task_cpu_s" -> c.taskCpuNs / 1e9, "task_run_s" -> c.taskRunMs / 1e3,
      "gc_s" -> c.gcMs / 1e3, "input_mb" -> c.inputBytes / 1e6,
      "shuffle_mb" -> (c.shuffleReadBytes + c.shuffleWriteBytes) / 1e6,
      "output_mb" -> c.outputBytes / 1e6, "sql_queries" -> c.sqlQueries,
      "plan_s" -> c.planNs / 1e9, "exchanges" -> c.exchanges,
      "graft_nodes" -> c.graftNodes, "pinned_mb_after" -> s.pinnedBytesAfter / 1e6,
      "jobs_by_site" -> c.jobsBySite.toMap)
  }
}
