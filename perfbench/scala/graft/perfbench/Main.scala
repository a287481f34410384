package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM process: one workload in one JVM, a single client in
  * a closed loop (each operation starts when the previous one returns).
  *
  * usage: Main <workload> <input_dir> <work_dir> <seconds> <trace 0|1>
  *             <cpus> <result.json>
  *
  * The inputs were generated from the seed before this process started;
  * the program under test sees only those files. The raw samples (the
  * set-up time, one record per timed operation, output checks, byte counts,
  * the live heap after each timed operation and, when traced, the spans) go to
  * `result.json`; the calling script turns them into the reported metrics.
  */
object Main {

  final case class Op(kind: String, round: Int, seconds: Double, traced: Boolean,
                      bytesWritten: Long)
  final case class Check(name: String, ok: Boolean, detail: String)

  /** Everything a workload reports back. */
  final class Run(val spark: SparkSession, val input: Path, val work: Path,
                  val seconds: Double, val trace: Boolean, val tracer: Tracer) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val checks = mutable.ArrayBuffer.empty[Check]
    val values = mutable.LinkedHashMap.empty[String, Double]
    private val heap = ManagementFactory.getMemoryMXBean
    private var deadline = Long.MaxValue
    /** Live heap (MB) measured after each timed operation. */
    val liveHeapMb = mutable.ArrayBuffer.empty[Double]
    /** Seconds from the start of this JVM to the first timed operation:
      * the cold session start and the workload's warm-up. */
    var setupS = Double.NaN

    /** End of set-up: the timed part starts now. */
    def startTimed(): Unit = {
      setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      deadline = System.nanoTime() + (seconds * 1e9).toLong
    }
    def timeLeft: Boolean = System.nanoTime() < deadline

    // bytes every task wrote, for the per-operation write counts
    private val written = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    })

    /** Time one operation of the closed loop. */
    def timed[A](kind: String, round: Int, traced: Boolean = false)(body: => A): A = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      written.set(0L)
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      ops += Op(kind, round, (t1 - t0) / 1e9, traced, written.getAndSet(0L))
      // live heap after the operation: a full collection, outside the
      // timing (a peak reading follows the collector's timing more than the
      // program's use)
      System.gc()
      if (round >= 0) liveHeapMb += heap.getHeapMemoryUsage.getUsed / 1048576.0
      r
    }

    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      checks += Check(name, ok, if (ok) "" else detail)

    /** Run a check body; an exception is a failed check, not a crash. */
    def checking(name: String)(body: => Boolean): Unit =
      try check(name, body, "mismatch")
      catch { case e: Exception => check(name, false, String.valueOf(e.getMessage).take(300)) }
  }

  def session(workload: String, cpus: Int): SparkSession = {
    // the settings of the CLI main the workload drives: GraftCli.main for
    // the study tree, CurateCli.main (no mergeSchema, no partition-column
    // setting) for curation
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val withCli =
      if (workload == "curate_cycles") b
      else b.config("spark.sql.parquet.mergeSchema", "true")
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val spark = withCli.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputS, workS, secondsS, traceS, cpusS, resultS) = args
    val input = Paths.get(inputS).toAbsolutePath
    val work = Paths.get(workS).toAbsolutePath
    val cpus = cpusS.toInt
    Files.createDirectories(work)

    // the session as the CLI main builds it; set-up runs from the JVM's
    // start to the workload's first timed operation (Run.startTimed)
    val spark = session(workload, cpus)

    val trace = traceS == "1"
    val tracer = new Tracer(spark, workload)
    val run = new Run(spark, input, work, secondsS.toDouble, trace, tracer)
    val body: Run => Unit = workload match {
      case "study_load" => StudyLoad.run
      case "curate_cycles" => CurateCycles.run
      case other => sys.error(s"unknown workload: $other")
    }
    var crash: String = null
    try body(run)
    catch { case e: Throwable =>
      e.printStackTrace()
      crash = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    val spans = if (trace) tracer.finish() else Nil
    tracer.close()

    def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => m.put(k, v) }
      m
    }
    def counters(c: collection.Map[String, Double]) = obj(c.toSeq: _*)
    val out = obj(
      "workload" -> workload, "trace" -> trace, "crash" -> crash,
      "setup_s" -> run.setupS, "live_heap_mb" -> run.liveHeapMb.asJava,
      "ops" -> run.ops.map(o => obj("kind" -> o.kind, "round" -> o.round, "s" -> o.seconds,
        "traced" -> o.traced, "bytes_written" -> o.bytesWritten)).asJava,
      "checks" -> run.checks.map(c => obj("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)).asJava,
      "values" -> counters(run.values),
      "spans" -> spans.map(s => obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent.orNull, "run" -> s.runId, "round" -> s.round,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
        "counters" -> counters(s.counters), "self" -> counters(s.self))).asJava)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(Paths.get(resultS).toFile, out)
    spark.stop()
  }
}
