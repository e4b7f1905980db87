package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Epoch milliseconds with sub-millisecond resolution: spans are timed
  * on the monotonic clock but expressed on the same axis as Spark's
  * listener event times, so a job can be placed inside a span. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, parent: Long, req: Long, name: String,
    tags: Map[String, String], start: Double, end: Double)

/** Spans around the benchmark's calls into the program. Off by default:
  * untraced runs take the `body` branch only, with no job group and no
  * listener, so end-to-end numbers carry no tracing cost. */
object Trace {
  @volatile var enabled = false
  @volatile var sc: SparkContext = _
  @volatile var request: Long = 0
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)

  def groupOf(spanId: Long): String = s"gb-$spanId"

  def span[A](name: String, tags: (String, String)*)(body: => A): A = {
    if (!enabled) return body
    val parent = open.get.headOption
    val id = ids.incrementAndGet()
    val start = Clock.nowMs()
    open.set((id, name) :: open.get)
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    try body
    finally {
      val end = Clock.nowMs()
      open.set(open.get.tail)
      parent match {
        case Some((pid, pname)) =>
          sc.setJobGroup(groupOf(pid), pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      done.add(Span(id, parent.map(_._1).getOrElse(0L), request, name,
        tags.toMap, start, end))
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

final class JobRec(val id: Int, val group: String, val execId: Long,
    val callSite: String, val start: Long) {
  @volatile var end: Long = -1
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
}

/** One SQL execution: the call site of the action that ran it, and its
  * plan shape counted over the final adaptive plan (query stages
  * included). Jobs of adaptive query stages are submitted from a helper
  * thread, so the execution's call site is the one that names the
  * program frame for them. */
final case class PlanRec(execId: Long, group: String, callSite: String,
    start: Long, end: Long, exchanges: Int, smj: Int, sortAgg: Int,
    objectHashAgg: Int, hashAgg: Int, sortFallbackTasks: Long)

/** Registered by the benchmark in traced runs only: per-job task
  * metrics, the call site that submitted each job, and per-execution
  * plan shape. */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execStart =
    new ConcurrentHashMap[Long, (Long, String, String)]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // the result stage is created last, so it has the highest id; its
    // details are the long call site of the action that ran the job
    val cs = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), cs,
      e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(jobs.get(stageJob.getOrDefault(e.stageId, -1)))
    val m = e.taskMetrics
    j.foreach { r => r.synchronized {
      r.tasks += 1
      if (m != null) {
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.diskBytesSpilled
        r.outBytes += m.outputMetrics.bytesWritten
      }
    } }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId,
        (s.time, s.jobGroupId.getOrElse(""), s.details))
    case x: SparkListenerSQLExecutionEnd =>
      val (t0, g, cs) = Option(execStart.remove(x.executionId))
        .getOrElse((x.time, "", ""))
      org.apache.spark.sql.graftbench.Internals.queryExecution(x).foreach { qe =>
        val c = new PlanCounts
        c.walk(qe.executedPlan)
        plans.add(PlanRec(x.executionId, g, cs, t0, x.time, c.exchanges,
          c.smj, c.sortAgg, c.objectHashAgg, c.hashAgg, c.fallbackTasks))
      }
    case _ =>
  }
}

private final class PlanCounts {
  var exchanges, smj, sortAgg, objectHashAgg, hashAgg = 0
  var fallbackTasks = 0L
  def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case q: QueryStageExec => walk(q.plan); return
      case _ =>
    }
    p.nodeName match {
      case "Exchange" => exchanges += 1
      case "SortMergeJoin" => smj += 1
      case "SortAggregate" => sortAgg += 1
      case "ObjectHashAggregate" =>
        objectHashAgg += 1
        fallbackTasks += p.metrics.get("numTasksFallBacked").map(_.value)
          .getOrElse(0L)
      case "HashAggregate" => hashAgg += 1
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }
}
