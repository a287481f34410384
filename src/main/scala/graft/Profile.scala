package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The diagnostics main (not part of the bench contract). The first
  * argument picks a mode; each runs over the queries named in
  * SPARK_GRAFT_ONLY:
  *
  *  - `jobs` (default): runs each query once warm, then once measured with
  *    a listener that records every Spark job's wall duration, stage
  *    count, task count, summed task/CPU/GC time and shuffle bytes, plus
  *    every stage slower than 0.2 s. The output answers the two questions
  *    that decide where optimization effort goes: how much of a query's
  *    wall time is DRIVER ROUND-TRIPS (many small jobs = serial latency,
  *    the omics r7 lesson) vs EXECUTOR WORK (one big job = look at the
  *    plan, not the orchestration).
  *  - `phases`: times the Catalyst phases (analysis/optimization/planning)
  *    and the slowest rules per query, without executing it.
  *  - `explain`: prints each query's formatted physical plan, without
  *    executing it.
  *  - `plans <tag> <suffix>`: runs each query once and writes its final
  *    (AQE) physical plan to `plans/<tag>/<query>_<suffix>.txt` — the
  *    before/after evidence files the optimization rounds commit.
  *
  * Usage: SPARK_GRAFT_ONLY=q1_agg,acgh_facts sbt "runMain graft.Profile jobs"
  */
object Profile {
  private case class JobRec(jobId: Int, var stages: Int = 0, var tasks: Int = 0,
                            var taskTimeMs: Long = 0L, var cpuMs: Long = 0L,
                            var gcMs: Long = 0L, var shuffleReadB: Long = 0L,
                            var shuffleWriteB: Long = 0L,
                            var startMs: Long = 0L, var endMs: Long = 0L)
  private case class SlowStage(stageId: Int, tasks: Int, secs: Double, name: String)

  private class Recorder extends SparkListener {
    val jobs = new scala.collection.concurrent.TrieMap[Int, JobRec]()
    val slowStages = new java.util.concurrent.ConcurrentLinkedQueue[SlowStage]()
    private val stageToJob = new scala.collection.concurrent.TrieMap[Int, Int]()
    @volatile var enabled = false
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val r = JobRec(e.jobId); r.startMs = e.time
      jobs.put(e.jobId, r)
      e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (jid <- stageToJob.get(si.stageId); r <- jobs.get(jid)) {
        r.stages += 1
        r.tasks += si.numTasks
        r.taskTimeMs += si.taskMetrics.executorRunTime
        r.cpuMs += si.taskMetrics.executorCpuTime / 1000000L
        r.gcMs += si.taskMetrics.jvmGCTime
        r.shuffleReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        for (s <- si.submissionTime; c <- si.completionTime if c - s > 200)
          slowStages.add(SlowStage(si.stageId, si.numTasks, (c - s) / 1e3, si.name))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val mode: SparkSession => Unit = args.headOption.getOrElse("jobs") match {
      case "jobs" => profileJobs(_, sfDir, names)
      case "explain" => spark => names.foreach { name =>
        println(s"==== $name")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      case "phases" => spark => names.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimize+plan
        val total = (System.nanoTime() - t0) / 1e9
        val phases = df.queryExecution.tracker.phases
          .map { case (p, s) => f"$p=${(s.endTimeMs - s.startTimeMs) / 1000.0}%.3fs" }
          .mkString(" ")
        println(f"== $name%-28s driverPlan=$total%.3fs  $phases")
        df.queryExecution.tracker.topRulesByTime(8).foreach { case (rule, summary) =>
          println(f"   ${summary.totalTimeNs / 1e9}%7.3fs x${summary.numInvocations}%-5d $rule")
        }
      }
      case "plans" => spark =>
        val tag = args.lift(1).getOrElse("r16")
        val suffix = args.lift(2).getOrElse("after")
        val outDir = Paths.get("plans", tag)
        Files.createDirectories(outDir)
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          // run once through df's own QueryExecution (a noop write or
          // foreach plans a new one), so the AQE final plan — the shape
          // that actually executed — is what lands in the file
          df.collect()
          Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            df.queryExecution.executedPlan.toString.getBytes("UTF-8"))
          println(s"[plans] wrote $name -> plans/$tag/${name}_$suffix.txt")
        }
      case other =>
        System.err.println(s"unknown mode '$other'; usage: graft.Profile " +
          "[jobs | phases | explain | plans <tag> <suffix>]")
        sys.exit(2)
    }
    val spark = core.Session.start("graft-profile", core.Session.Query)
    try mode(spark) finally spark.stop()
  }

  private def profileJobs(spark: SparkSession, sfDir: String,
                          names: Seq[String]): Unit = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      run() // warm: JIT + footer caches, like the bench's sampled min
      spark.catalog.clearCache(); System.gc()
      rec.jobs.clear(); rec.slowStages.clear(); rec.enabled = true
      val t0 = System.nanoTime()
      run()
      val wallMs = (System.nanoTime() - t0) / 1e6
      rec.enabled = false
      val js = rec.jobs.values.toSeq.sortBy(_.jobId)
      val jobWall = js.map(j => j.endMs - j.startMs).sum
      println(f"== $name%-28s wall=${wallMs / 1000}%.3fs jobs=${js.size}%d " +
        f"jobWallSum=${jobWall / 1000.0}%.3fs gapToWall=${(wallMs - jobWall) / 1000.0}%.3fs")
      js.foreach { j =>
        println(f"   job ${j.jobId}%4d ${(j.endMs - j.startMs) / 1000.0}%7.3fs " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskTimeMs / 1000.0}%8.3fs " +
          f"cpu=${j.cpuMs / 1000.0}%7.3fs gc=${j.gcMs / 1000.0}%6.3fs " +
          f"shRead=${j.shuffleReadB / 1024}%8dKB shWrite=${j.shuffleWriteB / 1024}%8dKB")
      }
      rec.slowStages.asScala.toSeq.sortBy(_.stageId).foreach { st =>
        println(f"   stage ${st.stageId}%3d tasks=${st.tasks}%-4d ${st.secs}%7.3fs  ${st.name.take(140)}")
      }
      spark.catalog.clearCache(); System.gc()
    }
  }
}
