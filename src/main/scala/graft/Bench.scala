package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Session.start("graft-bench", core.Session.Query)
    // deterministic order, heavy dedup queries last so their GC/JIT
    // pressure doesn't pollute the cheap queries' timings
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) =>
        (if (name.startsWith("dedup_")) 1 else 0, name)
      }
    val results = ordered.map { case (name, fn) =>
      // noop sink: full computation + column materialization, no pruning
      // shortcuts from count(), nothing written. Sampling: single runs on a
      // shared host swing multi-x under neighbor load (r6 printed 27 s for
      // a 3.6 s query), so keep sampling — up to 5 runs — until the two
      // FASTEST samples agree within 25%, then report the min. Agreement of
      // the two fastest is evidence the min is the code's time, not the
      // host's; a crashing query reports -1, never a fast fake timing.
      var failed = false
      def once(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      val times = scala.collection.mutable.ArrayBuffer(once(), once())
      while (!failed && times.size < 5 && {
        val s = times.sorted; s(1) > s(0) * 1.25
      }) times += once()
      spark.catalog.clearCache() // bound memory across the suite
      // Broadcast blocks and shuffle files are only reclaimed when the
      // ContextCleaner sees their references GC'd — across 97 queries the
      // garbage piles up and later queries run 1.5-2.5x slower than in
      // isolation (measured r8: dedup_semantic 3.96 s in-suite vs 1.54 s
      // alone). An explicit GC per query keeps the cleaner current, so
      // every query is measured against a clean executor, like the
      // driver's per-query verify runs.
      System.gc()
      name -> (if (failed) -1.0 else times.min)
    }
    // 3-dp seconds: per-query noise on a shared host is tens of percent
    def f(v: Double) = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val failures = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"failed":$failures,"sf":"$sfDir"}"""
    // Output contract, fixed r16 (the r13-r15 lesson): the full line with
    // all per-query timings is ~4.5 KB, and the driver's bounded
    // output-tail capture truncated its HEAD for three rounds straight
    // (BENCH_r13/r14/r15 all `parsed: null`). Print the full JSON FIRST
    // (humans, logs, the out-file below), then a SHORT summary — total /
    // failed / sf, well under the capture bound — as the LAST stdout
    // line so the driver's tail parse always sees one complete JSON
    // object. Same metric, same methodology, keys only moved.
    println(line)
    // full per-query JSON lands in a file; default is UNDER target/ (not
    // a committed path) so driver-initiated runs stop overwriting the
    // committed closing artifact (they did in r15)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/target/bench_local.json")
    val shortLine = s"""{"metric":"total","value":${f(total)},"unit":"sec","failed":$failures,"sf":"$sfDir","n_queries":${results.size},"queries_file":"$outFile"}"""
    try {
      val p = java.nio.file.Paths.get(outFile)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // LAST line, after Spark's shutdown logging cannot interleave
    println(shortLine)
  }
}
