package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span tracer for the traced run.
  *
  * A span is opened by the benchmark around one call into a module's
  * public function. While it is open, the benchmark's thread carries the
  * span id as its Spark job group, so every job the call submits is
  * attributed to it; jobs submitted from other driver threads (pools
  * inside the program) carry no group and are attributed to the innermost
  * span open at their submission time. Query plans are attributed the
  * same way through a [[QueryExecutionListener]], which reads Catalyst's
  * phase times off `qe.tracker`.
  *
  * Counters per span (inclusive of child spans): wall_s, jobs, task_s,
  * gc_s, shuffle_bytes, bytes_written, plan_s, driver_gap_s (wall time
  * not covered by any of the span's job intervals), records_read. Self
  * values subtract the child spans' parts. Spans are written as JSON
  * when the benchmark ends.
  */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskAcc = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  @volatile var enabled = false
  /** Round of the workload loop the next spans belong to. */
  var round = 0
  // listener events arrive late on the bus; their own wall-clock stamps
  // are mapped onto the nanoTime axis the spans use
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def atMs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobStart.put(e.jobId, (atMs(e.time), group))
      taskAcc.put(e.jobId, new Array[Long](5))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val m = e.taskMetrics
      val job = stageJob.get(e.stageId)
      if (m != null && job != null) {
        val acc = taskAcc.get(job)
        if (acc != null) acc.synchronized {
          acc(0) += m.executorRunTime
          acc(1) += m.jvmGCTime
          acc(2) += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead
          acc(3) += m.outputMetrics.bytesWritten
          acc(4) += m.inputMetrics.recordsRead
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      val st = jobStart.remove(e.jobId)
      val acc = taskAcc.remove(e.jobId)
      if (st != null && acc != null)
        jobs.add(JobRec(st._1, atMs(e.time), st._2, acc.clone()))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val phases = qe.tracker.phases
      val ps = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      if (ps.nonEmpty)
        plans.add(PlanRec(atMs(ps.map(_.endTimeMs).max),
          ps.map(_.durationMs).sum * 1000000L))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` inside a span; a no-op wrapper while tracing is off. */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val sp = new Span(s"$runId-${spans.size}", name,
      stack.headOption.map(_.id), runId, round, System.nanoTime())
    spans += sp
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    stack.push(sp)
    sc.setJobGroup(sp.id, name)
    try body
    finally {
      org.apache.spark.perfbench.Bus.drain(sc)
      sp.end = System.nanoTime()
      stack.pop()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
  }

  /** Attribute jobs and plans to spans and compute every counter. */
  def finish(): Seq[Span] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val byId = spans.map(s => s.id -> s).toMap
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => -s.start).headOption
    def lineage(s: Span): List[Span] =
      s :: s.parent.flatMap(byId.get).map(lineage).getOrElse(Nil)
    for (j <- jobs.asScala;
         s <- Option(j.group).flatMap(byId.get).orElse(innermost(j.start));
         a <- lineage(s)) a.allJobs += j
    for (pl <- plans.asScala; s <- innermost(pl.at); a <- lineage(s)) a.planNs += pl.ns
    val children = spans.groupBy(_.parent)
    for (s <- spans) {
      s.counters = countersOf(s.start, s.end, s.allJobs.toSeq, s.planNs)
      val kids = children.getOrElse(Some(s.id), Nil)
      val kidPlan = kids.map(_.planNs).sum
      val kidJobs = kids.flatMap(_.allJobs).toSet
      val selfJobs = s.allJobs.filterNot(kidJobs.contains).toSeq
      val c = countersOf(s.start, s.end, selfJobs, s.planNs - kidPlan)
      // self wall time: the span minus the union of its children
      c("wall_s") = (s.end - s.start -
        unionNs(kids.map(k => (k.start, k.end)).toSeq)) / 1e9
      s.self = c
    }
    spans.toSeq
  }
}

object Tracer {
  final case class JobRec(start: Long, end: Long, group: String, acc: Array[Long])
  final case class PlanRec(at: Long, ns: Long)

  final class Span(val id: String, val name: String, val parent: Option[String],
                   val runId: String, val round: Int, val start: Long) {
    var end: Long = start
    val allJobs = mutable.LinkedHashSet.empty[JobRec]
    var planNs = 0L
    var counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    var self: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def countersOf(start: Long, end: Long, js: Seq[JobRec],
                         planNs: Long): mutable.LinkedHashMap[String, Double] = {
    val wall = end - start
    val covered = unionNs(js.map(j => (math.max(j.start, start), math.min(j.end, end)))
      .filter { case (a, b) => b > a })
    mutable.LinkedHashMap(
      "wall_s" -> wall / 1e9,
      "jobs" -> js.size.toDouble,
      "task_s" -> js.map(_.acc(0)).sum / 1e3,
      "gc_s" -> js.map(_.acc(1)).sum / 1e3,
      "shuffle_bytes" -> js.map(_.acc(2)).sum.toDouble,
      "bytes_written" -> js.map(_.acc(3)).sum.toDouble,
      "plan_s" -> planNs / 1e9,
      "driver_gap_s" -> (wall - covered) / 1e9,
      "records_read" -> js.map(_.acc(4)).sum.toDouble)
  }
}
