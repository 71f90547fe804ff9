package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** One timed interval. Spans of one benchmark job share `job`; `parent`
  * is the id of the span that caused this one (0 for the root).
  */
final case class Span(id: Long, parent: Long, name: String, job: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written once when the run ends. Spark jobs and
  * stages arrive from [[StageListener]] on the listener thread, so every
  * mutation is synchronized.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = mutable.Stack[Long](0L)

  def span[T](name: String, job: String)(body: => T): T = {
    val (id, parent) = synchronized {
      val id = nextId; nextId += 1
      val p = stack.top; stack.push(id); (id, p)
    }
    val t0 = System.nanoTime()
    try body
    finally synchronized {
      stack.pop()
      spans += Span(id, parent, name, job, t0, System.nanoTime())
    }
  }

  /** A span whose interval was measured elsewhere (Spark jobs, stages);
    * `reserve` hands out its id before the interval has ended.
    */
  def reserve(): Long = synchronized { val id = nextId; nextId += 1; id }

  def add(id: Long, name: String, job: String, parent: Long, startNs: Long,
          endNs: Long): Unit = synchronized {
    spans += Span(id, parent, name, job, startNs, endNs)
  }

  /** Makes a reserved span the parent of the spans opened after this. */
  def enter(id: Long): Unit = synchronized(stack.push(id))

  def current: Long = synchronized(stack.top)
  def all: Seq[Span] = synchronized(spans.toList)

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds: Map[Long, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          val a2 = math.max(a, end)
          (if (b > a2) sum + (b - a2) else sum, math.max(end, b))
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Per-stage totals from Spark's public listener events. */
final case class StageStats(job: String, tasks: Int, wallNs: Long,
                            taskMs: Long, runMs: Long, cpuNs: Long,
                            shuffleWrite: Long, shuffleRead: Long,
                            spill: Long, peakExec: Long,
                            inputBytes: Long, inputRows: Long)

/** Collects stage and task metrics for the Spark jobs each benchmark job
  * starts (tagged through the `graftbench.job` local property) and mirrors
  * Spark jobs and stages into the tracer as spans.
  */
final class StageListener(tracer: Tracer) extends SparkListener {
  @volatile var enabled = false
  // Spark job id -> (benchmark job, parent span, start, reserved span id)
  private val jobTag = mutable.Map.empty[Int, (String, Long, Long, Long)]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stageJob = mutable.Map.empty[Int, (String, Long)]
  private val taskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val peak = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val done = mutable.ArrayBuffer.empty[StageStats]

  // Spark reports epoch millis; spans use the monotonic clock
  private def ns(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("graftbench.job")))
      .filter(_ => enabled).foreach { tag =>
        val parent = props.flatMap(p => Option(p.getProperty("graftbench.span")))
          .map(_.toLong).getOrElse(0L)
        val id = tracer.reserve()
        jobTag(e.jobId) = (tag, parent, ns(e.time), id)
        jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(st => stageJob(st) = (tag, id))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, parent, t0, id) =>
      tracer.add(id, "spark.job", tag, parent, t0, ns(e.time))
    }
    // stages a job skipped (shuffle output reused) never complete
    jobStages.remove(e.jobId).foreach(_.foreach(stageJob.remove))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskInfo != null) {
      taskMs(e.stageId) += e.taskInfo.duration
      if (e.taskMetrics != null)
        peak(e.stageId) = math.max(peak(e.stageId),
          e.taskMetrics.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageJob.remove(info.stageId).foreach { case (tag, parent) =>
        val m = info.taskMetrics
        val t1 = info.completionTime.getOrElse(System.currentTimeMillis())
        val t0 = info.submissionTime.getOrElse(t1)
        tracer.add(tracer.reserve(), "spark.stage", tag, parent, ns(t0), ns(t1))
        def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
          if (m == null) 0L else f(m)
        done += StageStats(tag, info.numTasks, (t1 - t0) * 1000000L,
          taskMs.remove(info.stageId).getOrElse(0L),
          metric(_.executorRunTime), metric(_.executorCpuTime),
          metric(_.shuffleWriteMetrics.bytesWritten),
          metric(_.shuffleReadMetrics.totalBytesRead),
          metric(x => x.memoryBytesSpilled + x.diskBytesSpilled),
          peak.remove(info.stageId).getOrElse(0L),
          metric(_.inputMetrics.bytesRead), metric(_.inputMetrics.recordsRead))
      }
    }

  /** Stage totals since the last drain. */
  def drain(): Seq[StageStats] = synchronized {
    val out = done.toList
    done.clear()
    out
  }
}

object Plans {
  /** Every physical node of a plan, looking through AQE wrappers, query
    * stages and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  final case class Shape(nodes: Int, exchanges: Int, broadcasts: Int)

  def shape(p: SparkPlan): Shape = {
    val ns = nodes(p)
    Shape(ns.size,
      ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      ns.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}
