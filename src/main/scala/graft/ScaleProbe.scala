package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale probe (not part of the library surface).
  *
  * The driver ships sf0.001/0.01/0.1 only, but the engine targets 100 TB —
  * this harness materializes a 10x replica of sf0.1 ("sf1probe") under
  * `target/` and times the slowest bench queries on it, so super-linear
  * behavior (window buffers, broadcast growth, driver collects) shows up
  * as a >>10x step instead of surviving unnoticed until cluster scale.
  *
  * Replication = 10 key-shifted copies of every fact table, dims kept
  * as-is (the TPC-H convention: nations/regions are constant across SF).
  * Shifting the join keys by `copy * 1e9` grows entity CARDINALITY
  * (customers, orders, users, docs, vectors) rather than group sizes, so
  * aggregation/window group sizes stay realistic while scan volume,
  * shuffle volume and distinct-key counts all go 10x. Non-key attributes
  * repeat verbatim — duplicate text/vector payloads are exactly what a
  * crawl corpus looks like to the dedup family, so each distinct document
  * becoming a 10-member duplicate group is workload, not noise.
  */
object ScaleProbe {
  private val Offset = 1000000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  // NATURAL string keys: several pipelines join on names (s_name is the
  // omics sample_id, c_name the clinical subject_id). Replicating without
  // renaming them makes every copy share the same natural key — a 10x
  // duplicate-key mapping that explodes name joins 100x (data error, not
  // engine behavior) — so copies i>0 get a "_i" suffix, preserving
  // per-copy uniqueness exactly like the numeric offsets do.
  private val nameCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_name"),
    "supplier" -> Seq("s_name"))

  def replicate(spark: SparkSession, srcDir: String, dstDir: String, copies: Int): Unit = {
    core.Tables.all.foreach { name =>
      val src = core.Tables.load(spark, srcDir, name)
      val out = keyCols.get(name) match {
        case None => src // dim table: one copy
        case Some(keys) =>
          (0 until copies).map { i =>
            val shifted = keys.foldLeft(src)((df, k) =>
              df.withColumn(k, col(k) + lit(i * Offset)))
            nameCols.getOrElse(name, Nil).foldLeft(shifted)((df, k) =>
              if (i == 0) df
              else df.withColumn(k, concat(col(k), lit(s"_$i"))))
          }.reduce(_ unionAll _)
      }
      out.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"[probe] wrote $name")
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dstDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "/root/repo/target/sf1probe")
    val spark = core.Session.start("graft-scaleprobe", core.Session.Query)

    if (!new java.io.File(s"$dstDir/lineitem.parquet").exists())
      replicate(spark, srcDir, dstDir, copies = 10)

    // the round-7 slow tail plus one representative per heavy family;
    // SPARK_GRAFT_ALL=1 sweeps the whole query surface instead
    val targets = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(
        if (sys.env.contains("SPARK_GRAFT_ALL"))
          SparkEntry.queries.keys.toSeq.sorted
        else Seq(
          "ann_ivfpq", "ann_pq_adc", "ann_ivf_kmeans", "ann_cosine_topk",
          "pipeline_clinical_e2e", "pipeline_omics_e2e", "acgh_facts",
          "dedup_ngram_jaccard", "dedup_clusters", "dedup_minhash_lsh",
          "dedup_semantic", "annotation_registry", "text_bm25", "w2_keep_one",
          "pack_sequences", "w3_sessionize"))

    val results = targets.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        // a probe FAILURE is a finding, not a reason to lose the rest of
        // the sweep (the round-8 broadcast OOM aborted the whole run)
        def once(dir: String): Double = {
          val t0 = System.nanoTime()
          try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[probe] $name FAILED on $dir: ${e.getMessage}")
              -1.0
          }
        }
        // min of 2 runs each, sf0.1 first (warm the JIT on the small side)
        def twice(dir: String): Double = {
          val a = once(dir)
          if (a < 0) a else { val b = once(dir); if (b < 0) a else math.min(a, b) }
        }
        val base = twice(srcDir)
        val big = twice(dstDir)
        spark.catalog.clearCache()
        System.gc() // keep the ContextCleaner current (see Bench)
        val ratio = if (base > 0 && big > 0) big / base else -1.0
        println(f"[probe] $name%-24s sf0.1=$base%7.3f s  sf1=$big%8.3f s  ratio=$ratio%6.2f x")
        (name, base, big, ratio)
      }
    }
    println("| query | sf0.1 (s) | sf1 (s) | ratio |")
    println("|---|---|---|---|")
    results.foreach { case (n, b, g, r) =>
      println(f"| $n | $b%.3f | $g%.3f | $r%.2f |")
    }
    spark.stop()
  }
}
