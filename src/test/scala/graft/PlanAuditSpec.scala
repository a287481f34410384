package graft

/** Plan audit (not a correctness test): prints formatted plans of the
  * round-2 heavyweight queries so shuffle/broadcast shape can be reviewed. */
class PlanAuditSpec extends SparkSpec {
  test("print plans for heavyweight queries") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("load_samples_mapping", "annotation_registry",
        "merge_append", "pipeline_omics_e2e", "p4_vcf_summary", "node_ops")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      val ex = "Exchange".r.findAllIn(plan).length
      val bc = "BroadcastExchange".r.findAllIn(plan).length
      println(s"=== $name: exchanges=${ex - bc} broadcasts=$bc cartesian=${plan.contains("Cartesian")}")
      assert(!plan.contains("CartesianProduct"),
        s"$name grew an accidental cartesian product")
    }
  }

  test("pair generation computes the per-doc hash/shingle expression exactly once") {
    // Catalyst expands a twice-referenced frame into two full plan copies:
    // a bucket-key self-join directly over the hash projection re-ran the
    // signature scan per side, and an isNotNull pre-filter pushed a third
    // evaluation into the scan filter. The r9 shape materializes the
    // (id, hash) frame once (lazy localCheckpoint) and self-joins the
    // CHECKPOINT — so the hash expression must not appear in the visible
    // plan at all (it runs exactly once, inside the checkpointed RDD's
    // lineage), and pair generation is a join AQE can skew-split instead
    // of a collect_list bucket a hot key turns into one unsplittable task.
    // Parquet-backed input on purpose: a local Seq folds into a
    // LocalRelation with the hash already evaluated at plan time.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val sim = graft.operators.Dedup.simhashPairs(docs, "doc_id", "text")
    sim.collect()
    val simPlan = sim.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("simhash64\\(".r.findAllIn(simPlan).length == 0,
      s"simhash64 must run only inside the one-time checkpoint job:\n${simPlan.take(3000)}")
    assert(simPlan.contains("Scan ExistingRDD"),
      "simhashPairs lost its hash-frame checkpoint")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(simPlan).isDefined,
      s"pair generation must be a join (AQE-splittable), not a bucket aggregate:\n${simPlan.take(3000)}")
    assert(!simPlan.contains("collect_list"),
      "pair generation regressed to the hot-bucket collect_list shape")

    val ng = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text",
      n = 3, threshold = 0.1, maxDocFreq = Some(100L))
    ng.collect()
    val ngPlan = ng.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("wordshingles\\(".r.findAllIn(ngPlan).length == 1,
      s"the shingle explode must run exactly once:\n${ngPlan.take(3000)}")
    // pairs stream out of the capped posting list via posexplode + slice
    // explode (4 Generates total: shingle explode, the two pair explodes,
    // the sizes-branch explode) — never the single-row C(k,2) array the
    // old flatten(transform(transform)) built
    assert("Generate".r.findAllIn(ngPlan).length <= 4,
      "ngramJaccard pair explosion regressed from the streaming shape")
    assert(!ngPlan.contains("flatten("),
      "ngramJaccard rebuilt per-bucket pair arrays in a single row")
  }

  test("text_bpe_compression: ONE corpus scan, no join-back on doc_id") {
    val df = SparkEntry.queries("text_bpe_compression")(spark,
      "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the r13 shape scanned documents twice (token counts + a join back
    // for lang/n_chars on doc_id — corpus-keyed, real money at 100 TB);
    // lang/n_chars now ride the BPE projection as pass-through columns
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"compression metric must scan the corpus exactly once:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"compression metric rebuilt the doc_id join-back:\n${plan.take(2000)}")
  }

  test("a7_zscore: ONE scan, one group-partitioned window — no aggregate-join-back double pass") {
    val df = SparkEntry.queries("a7_zscore")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the r6 shape aggregated stats then joined back, evaluating the scan
    // (serial on a single-row-group file) TWICE; the window shape reads
    // the facts once and shuffles once on the group key
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"zscore must scan its input exactly once:\n${plan.take(2000)}")
    assert("Window \\[".r.findAllIn(plan).length == 1)
    assert(!plan.contains("No Partition Defined"), "zscore window must be partitioned")
    assert(!plan.contains("CartesianProduct"))
  }

  test("ann_ivf: literal-centroid assignment projection, probe join broadcast, no window") {
    val df = SparkEntry.queries("ann_ivf")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize the adaptive plan so exchanges are visible
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // AQE repeats the pre-adaptive plan below
    // since round 12 the centroids are driver literals (KB by contract,
    // like ivfPqTopK/ivfSqTopK): list assignment is a codegen'd argmax
    // PROJECTION over the scan — no centroid join, no aggregate, no
    // shuffle for assignment; the only join is the broadcast probe join,
    // the only exchange the pair fan-out, and BOTH ranks (probe slice,
    // per-query top-k) avoid Window operators entirely
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert("Window \\[".r.findAllIn(plan).length == 0)
    assert(!plan.contains("partial_max"),
      "assignment regressed to the centroid-join aggregate")
    assert("(?i)roundrobinpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly the pair fan-out exchange:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("every ann_* plan ranks through the k-capped aggregate — zero Window operators") {
    // a Window's PARTITION BY q_id is one unsplittable sorted task per
    // query at any scale; the round-12 contract is that NO ANN plan
    // contains one — probe selection and the final top-k both run
    // through the bounded ObjectHashAggregate (r11 VERDICT top item)
    for (name <- SparkEntry.queries.keys.filter(_.startsWith("ann_")).toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert("Window \\[".r.findAllIn(plan).length == 0,
        s"$name still plans a rank window:\n${plan.take(1500)}")
      // every rank-producing ANN query must rank via the bounded
      // aggregate (ann_lsh_buckets is a rankless bucket histogram)
      if (df.columns.contains("rank"))
        assert(plan.contains("ObjectHashAggregate"),
          s"$name lost the bounded top-k aggregate:\n${plan.take(1500)}")
    }
  }

  test("p3/p5 explodes stay shuffle-free projections") {
    for (name <- Seq("p3_acgh_melt", "p5_vcf_info")) {
      val plan = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name gained an unexpected shuffle")
    }
  }

  test("parquet scans prune columns and push filters") {
    val dir = "/root/testdata/sf0.001"
    // q1_agg reads 2 of lineitem's 16 columns; the scan must show a
    // pruned ReadSchema, not the full row
    val q1 = SparkEntry.queries("q1_agg")(spark, dir)
      .queryExecution.executedPlan.toString
    val q1Schema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(q1)
      .map(_.group(1)).getOrElse("")
    assert(q1Schema.split(",").length <= 3, s"q1_agg scan too wide: $q1Schema")

    // ann_cosine_topk filters vec_id < 20 on the query side; the predicate
    // must reach the parquet scan as a pushed filter
    val ann = SparkEntry.queries("ann_cosine_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(ann.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]") ||
      "PushedFilters: \\[[^\\]]*LessThan\\(vec_id".r.findFirstIn(ann).isDefined,
      "vec_id filter not pushed to the scan")

    // text_lang_id projects 3 of documents' columns
    val tl = SparkEntry.queries("text_lang_id")(spark, dir)
      .queryExecution.executedPlan.toString
    val tlSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(tl)
      .map(_.group(1)).getOrElse("")
    assert(!tlSchema.contains("n_chars") && !tlSchema.contains("url"),
      s"text_lang_id reads unused columns: $tlSchema")
  }

  test("minhash LSH candidate generation is map-only up to the band join") {
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // signatures are one codegen'd scalar per row: the corpus is scanned,
    // projected and band-exploded with NO aggregate before the band-key
    // self-join — the old shape shuffled a full-corpus (doc, shingle)
    // explode through numHashes min() aggregates first
    assert(!plan.contains("partial_min"),
      "signature build regressed to the explode+groupBy shape")
    // shingles are exploded only for bucket survivors, behind the
    // broadcast semi-join on candidate doc ids
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "candidate-doc semi-join is not broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("acgh_facts: dimensions broadcast, one fact-side shuffle (the dedup)") {
    val df = SparkEntry.queries("acgh_facts")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // sample mapping + region registry broadcast onto the melted fact
    // stream; the only fact-side exchange is the GROUP BY-dedup
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2, s"fact side should shuffle once (dedup), got $shuffles")
    assert("BroadcastExchange".r.findAllIn(plan).length >= 3,
      "aCGH dims must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("dedup_segments: one ownership aggregate, no self-join, no window") {
    val df = SparkEntry.queries("dedup_segments")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // ownership is a map-side-combinable min() on the segment hash; the
    // join back rides the same hash partitioning; reassembly is the
    // per-doc aggregate. NO pair self-join, NO window anywhere.
    assert(plan.contains("partial_min"), "ownership lost its partial agg")
    assert(!plan.contains("Window"), "segment dedup must not window")
    assert(!plan.contains("CartesianProduct"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 3, s"expected hash agg + join + doc agg, got $shuffles")
  }

  test("text_tfidf/bm25: per-doc windows only, no global window") {
    for (name <- Seq("text_tfidf", "text_bm25")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("No Partition Defined"),
        s"$name leaked a global window")
      assert(!plan.contains("CartesianProduct"),
        s"$name: the global-scalar cross join must broadcast, not cartesian")
      // term aggregates keep their map-side partials
      assert(plan.contains("partial_count"), s"$name lost partial aggregation")
    }
  }

  test("text_quality_flags is a shuffle-free projection; dedup_url one aggregate") {
    val flags = SparkEntry.queries("text_quality_flags")(spark, "/root/testdata/sf0.001")
    val fPlan = flags.queryExecution.executedPlan.toString
    assert(!fPlan.contains("Exchange") && !fPlan.contains("Window"),
      s"quality flags must stay scan+project:\n${fPlan.take(1500)}")

    val url = SparkEntry.queries("dedup_url")(spark, "/root/testdata/sf0.001")
    url.collect()
    val uPlan = url.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(uPlan.contains("partial_min"), "url dedup lost its map-side combine")
    assert("Exchange hashpartitioning".r.findAllIn(uPlan).length <= 1)
  }

  test("text_c4_flags is a shuffle-free projection; ann_sq8 broadcast-bounded") {
    // C4 line flags: the line array computes once per row, no explode,
    // no exchange — the filter composes into any corpus scan for free
    val c4 = SparkEntry.queries("text_c4_flags")(spark, "/root/testdata/sf0.001")
    val cPlan = c4.queryExecution.executedPlan.toString
    assert(!cPlan.contains("Exchange") && !cPlan.contains("Window ["),
      s"c4 flags must stay scan+project:\n${cPlan.take(1500)}")

    // SQ8: queries broadcast; the encoded collection is materialized by
    // ONE round-robin exchange before the pair loop (never per-pair
    // re-encode); no cartesian
    val sq = SparkEntry.queries("ann_sq8")(spark, "/root/testdata/sf0.001")
    sq.collect()
    val sPlan = sq.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(sPlan.contains("BroadcastNestedLoopJoin") ||
      sPlan.contains("BroadcastHashJoin"), s"query side must broadcast:\n${sPlan.take(1500)}")
    assert(!sPlan.contains("CartesianProduct"))
    assert("(?i)roundrobinpartitioning".r.findAllIn(sPlan).length == 1,
      s"the encode must materialize exactly once before the pair stage:\n${sPlan.take(1500)}")
  }

  test("sample_stratified is a pure filter; pack_sequences has no global window") {
    val sample = SparkEntry.queries("sample_stratified")(spark, "/root/testdata/sf0.001")
    val sPlan = sample.queryExecution.executedPlan.toString
    assert(!sPlan.contains("Exchange") && !sPlan.contains("Window"),
      s"sampling must stay a scan+filter:\n${sPlan.take(1500)}")

    // temperature mixing: rates are driver literals, the RESULT plan is
    // the same scan+filter shape — the corpus never shuffles
    val temp = SparkEntry.queries("sample_temperature")(spark, "/root/testdata/sf0.001")
    val tPlan = temp.queryExecution.executedPlan.toString
    assert(!tPlan.contains("Exchange") && !tPlan.contains("Window"),
      s"temperature sampling must stay a scan+filter:\n${tPlan.take(1500)}")

    val packed = SparkEntry.queries("pack_sequences")(spark, "/root/testdata/sf0.001")
    packed.collect()
    val pPlan = packed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the cumsum windows are per-range-partition (partitioned by __pid);
    // a single-partition global window would print 'No Partition Defined'
    assert(!pPlan.contains("No Partition Defined"),
      "pack_sequences leaked a global window")

    // the composed recipe (mix -> shuffle -> pack) chains TWO dense-id
    // passes; both must stay per-range-partition — no global window
    val recipe = SparkEntry.queries("pipeline_recipe_e2e")(spark,
      "/root/testdata/sf0.001")
    recipe.collect()
    val rPlan = recipe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!rPlan.contains("No Partition Defined"),
      "pipeline_recipe_e2e leaked a global window")

    // token-budget mixing: the per-lang running total rides the
    // two-phase (__pid, group) form, and since the prefix-sum frame is
    // frozen with a LAZY localCheckpoint — materialized by the offsets
    // collect (see groupedRunningTotal) — the
    // RESULT plan reads the frozen blocks — Scan ExistingRDD joined to
    // the broadcast offset table, with no Window of any kind left in it
    // (a window partitioned by the raw lang column — one unsplittable
    // task per language — would survive into this plan; the per-(__pid,
    // group) semantics are pinned by SamplingSpec's cumsum specs)
    val mix = SparkEntry.queries("sample_budget_mix")(spark,
      "/root/testdata/sf0.001")
    mix.collect()
    val mPlan = mix.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!mPlan.contains("No Partition Defined"),
      "sample_budget_mix leaked a global window")
    assert(!mPlan.contains("Window ["),
      s"running total must not leave a window in the result plan " +
        s"(the cumsum lives inside the checkpoint):\n${mPlan.take(1500)}")
    assert(mPlan.contains("Scan ExistingRDD") &&
        mPlan.contains("BroadcastExchange"),
      s"expected frozen-scan + broadcast-offsets shape:\n${mPlan.take(1500)}")
  }

  test("round-12 text/dedup additions: no cartesians, windows stay per-doc/per-pid") {
    // boilerplate removal: line-frequency anti-join + doc reassembly —
    // no cartesian, no window at all
    val bp = SparkEntry.queries("text_boilerplate")(spark,
      "/root/testdata/sf0.001")
    val bPlan = bp.queryExecution.executedPlan.toString
    assert(!bPlan.contains("CartesianProduct"))
    assert(!bPlan.contains("Window ["), "boilerplate removal gained a window")

    // CDC segments: the running cut count is a PER-DOCUMENT window
    // (partitioned by doc_id — doc-bounded); never a global one
    val cdc = SparkEntry.queries("dedup_cdc_segments")(spark,
      "/root/testdata/sf0.001")
    val cPlan = cdc.queryExecution.executedPlan.toString
    assert(!cPlan.contains("No Partition Defined"),
      "cdc segment ids leaked a global window")
    assert("Window \\[[^\\]]*doc_id".r.findFirstIn(cPlan).isDefined,
      s"cut-count window must partition by doc_id:\n${cPlan.take(1500)}")
    assert(!cPlan.contains("CartesianProduct"))

    // two-tier re-rank: both ranks through the bounded aggregate
    val rr = SparkEntry.queries("ann_rerank")(spark, "/root/testdata/sf0.001")
    val rPlan = rr.queryExecution.executedPlan.toString
    assert(!rPlan.contains("Window ["), "ann_rerank gained a rank window")
    assert(!rPlan.contains("CartesianProduct"))
  }

  test("winnowing: fingerprinting is scan+project+explode (no exchange); pairs stay banded") {
    // the fingerprint set is a pure per-row function — selecting it must
    // not shuffle, window, or join anything
    val fp = SparkEntry.queries("text_winnowing")(spark,
      "/root/testdata/sf0.001")
    val fPlan = fp.queryExecution.executedPlan.toString
    // the only exchange allowed is the deliberate round-robin read
    // fan-out (the one-row-group-file fix) — never a hash/range shuffle
    assert(!fPlan.replaceAll("Exchange RoundRobinPartitioning[^\n]*", "")
        .contains("Exchange"),
      s"winnowing fingerprints gained a semantic shuffle:\n${fPlan.take(1500)}")
    assert(!fPlan.contains("Window [") && !fPlan.contains("Join"))
    assert(fPlan.contains("winnow"), "native winnow expression missing")

    // the pair generator is the ngramJaccard plan on the sparse set:
    // fingerprint groupBy + streamed pair explode + one count aggregate —
    // no corpus self-join, no cartesian, no window
    val pairs = SparkEntry.queries("dedup_winnowing")(spark,
      "/root/testdata/sf0.001")
    pairs.collect()
    val pPlan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!pPlan.contains("CartesianProduct") && !pPlan.contains("Window ["))
    assert(!pPlan.contains("SortMergeJoin") && !pPlan.contains("BroadcastHashJoin"),
      s"pair generation must come from the fp buckets, not a join:\n${pPlan.take(1500)}")

    // the composed web-prep pipeline: extraction is a projection, the
    // boilerplate strip one anti-join, the pair stage bucket-streamed —
    // no cartesian, no window anywhere in the chain
    val web = SparkEntry.queries("pipeline_web_e2e")(spark,
      "/root/testdata/sf0.001")
    web.collect()
    val wPlan = web.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!wPlan.contains("CartesianProduct") && !wPlan.contains("Window ["))
  }

  test("sample_weighted: sketch threshold bounds the rank-pass input") {
    import graft.operators.Sampling
    import org.apache.spark.sql.functions.col
    // the corpus-shaped form of the sample_weighted query: a weight
    // proportional to document length at the query's 0.2 rate
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("n_chars").cast("double").as("w"))
    val keyed = Sampling.raceKeyed(docs, "doc_id", "w", "race_micro")
    val n = keyed.count()
    val (n2, bound) = Sampling.raceBound(keyed, "race_micro", 0.2)
    assert(n2 == n, "bucket counts must sum to the live-row count exactly")
    val k = math.ceil(0.2 * n).toLong
    val cand = keyed.filter(col("race_micro") <= bound).count()
    // the k winners always pass the bound; the slack is one histogram
    // bucket, never the corpus — if this grows to O(n) the full-corpus
    // localCheckpoint of the pre-r11 shape is back
    assert(cand >= k, s"bound must admit every winner: $cand < $k")
    assert(cand < k + (n / 8).max(8L),
      s"rank pass saw $cand of $n rows for k=$k — threshold stopped pruning")
    // ...and pruning is invisible in the result: identical to ranking all
    val got = Sampling.weightedSample(docs, "doc_id", "w", 0.2)
    val all = graft.core.Ids.denseIds(keyed, Seq("race_micro", "doc_id"),
      "sample_rank").filter(col("sample_rank") <= k)
    assert(got.except(all).count() == 0 && all.except(got).count() == 0)
  }

  test("LM scorers: bounded corpus passes, no windows, no cartesians") {
    val dir = "/root/testdata/sf0.001"
    // probe side + model side = at most 2 parquet scans in the final
    // plan (the model count frames are lazily checkpointed; a third scan
    // means twice-referenced-frame plan duplication came back)
    for ((name, maxScans) <- Seq(("text_perplexity", 2),
        ("sample_dsir", 2), ("text_bigram_lm", 2))) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans <= maxScans, s"$name: $scans parquet scans (max $maxScans)")
      assert(!plan.contains("CartesianProduct"),
        s"$name: global scalars must broadcast, not cartesian")
      assert(!plan.contains("No Partition Defined"), s"$name leaked a window")
      assert(plan.contains("partial_count"), s"$name lost map-side partials")
    }
  }

  test("sketches: one corpus scan each, bounded state, map-side partials") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("sketch_hll_distinct", "sketch_kmv_distinct",
        "sketch_cm_tokens", "sketch_quantile")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"$name: $scans corpus scans (sketches need one)")
      assert(!plan.contains("No Partition Defined"), s"$name leaked a window")
      assert(!plan.contains("CartesianProduct"), s"$name grew a cartesian")
    }

    // the two-pass CM heavy-hitter filter: pass 2 is a literal-bitmap
    // FILTER + exact count (pass 1 already ran at build time to collect
    // the counters), never a join. Below the size gate both passes read
    // one (term, digest) work-table, so pass 2's only scan is that
    // checkpoint; above it the plain shape returns: one corpus scan. The
    // regimes are simulated the way WorkTableGateSpec does.
    def hhPlan(maxPartitionBytes: String): String = {
      val key = "spark.sql.files.maxPartitionBytes"
      val old = spark.conf.get(key)
      spark.conf.set(key, maxPartitionBytes)
      try {
        val hh = SparkEntry.queries("sketch_heavy_hitters")(spark, dir)
        hh.collect()
        hh.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      } finally spark.conf.set(key, old)
    }
    val workTableScan = """Scan ExistingRDD\[term#\d+,__cmh#\d+\]""".r
    // (work-table scans, parquet scans) in pass 2's final plan
    for ((regime, maxPartitionBytes, expected) <- Seq(
        ("below the gate", (512L * 1024 * 1024).toString, (1, 0)),
        ("above the gate", "4096", (0, 1)))) {
      val plan = hhPlan(maxPartitionBytes)
      assert(!plan.contains("Join"),
        s"heavy hitters pass 2 $regime must filter against the literal bitmap, not join")
      assert(plan.contains("partial_count"),
        s"heavy hitters $regime lost map-side partials")
      val scans = (workTableScan.findAllIn(plan).length,
        "Scan parquet".r.findAllIn(plan).length)
      assert(scans == expected,
        s"heavy hitters pass 2 $regime: (work-table, parquet) scans $scans, expected $expected")
    }

    // kmv overlap: one corpus scan into the bounded sketch aggregate;
    // the pair stage is a BROADCAST join of sketch rows, never data
    val ko = SparkEntry.queries("sketch_kmv_jaccard")(spark, dir)
    ko.collect()
    val koPlan = ko.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(koPlan).length <= 2,
      "kmv overlap: sketch built from at most the two sketch-side scans")
    assert(koPlan.contains("BroadcastNestedLoopJoin") ||
      koPlan.contains("BroadcastHashJoin"),
      "kmv overlap pair stage must broadcast the sketch rows")
    assert(!koPlan.contains("CartesianProduct"),
      "kmv overlap must not cartesian the data")
  }

  test("topk_per_group: one scan into a bounded object-hash aggregate, no window") {
    val df = SparkEntry.queries("topk_per_group")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      "topk_per_group reads the corpus once")
    assert(plan.contains("ObjectHashAggregate"),
      "topk_per_group must aggregate with the k-capped buffer")
    assert(!plan.contains("Window ["),
      "topk_per_group must never plan a window (unsplittable hot group)")
    assert(!plan.contains("Sort ") || !plan.contains("global=true"),
      "topk_per_group must not globally sort the corpus")
  }

  test("pipeline_curation_e2e: two scans, broadcast-only joins, no window") {
    val df = SparkEntry.queries("pipeline_curation_e2e")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // sketch pass + gated corpus pass — the engine minimum (the p50
    // table must complete before the gate filters)
    assert("Scan parquet".r.findAllIn(plan).length == 2,
      s"curation E2E must read documents exactly twice:\n$plan")
    // the only joins are the broadcast p50 gate; the keep-one carries
    // payload through min(struct), so there is NO survivor join-back
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "curation E2E grew a corpus-side shuffle join (survivor join-back?)")
    // the only windows are qsketchQuantiles' per-lang passes over the
    // BOUNDED bucket table (~14.6k rows/group by construction) — never
    // a global window, never a corpus-sized partition
    assert(!plan.contains("No Partition Defined"),
      "curation E2E leaked a global window")
  }

  test("asof/range joins: equi-join shapes, no nested-loop or cartesian") {
    val dir = "/root/testdata/sf0.001"
    val asof = SparkEntry.queries("asof_click_view")(spark, dir)
    asof.collect()
    val aPlan = asof.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // chunked two-pass carry-forward, still join-free: the carry-in rows
    // arrive by UNION, so the plan has no join operator and no global
    // window. Shuffle budget: ONE (key, chunk) exchange carries the full
    // union; the other <=3 are tiny per-(key, chunk) partials (right
    // boundary agg, left chunk distinct, carry merge + per-key window
    // over the chunk LIST). A hot key spreads over its time chunks —
    // the one window AQE could never split is gone.
    assert(!aPlan.contains("Join"), "asof must be union+window, not a join")
    assert(!aPlan.contains("No Partition Defined"), "asof leaked a global window")
    assert(aPlan.contains("__chunk"),
      "asof_click_view must run the skew-proof chunked form")
    assert("Exchange hashpartitioning".r.findAllIn(aPlan).length <= 4,
      "asof chunked form: 1 full-data + 3 boundary-frame exchanges")

    // the forward twin shares the machinery; same join-free chunked shape
    val fwd = SparkEntry.queries("asof_next_view")(spark, dir)
    fwd.collect()
    val fPlan = fwd.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!fPlan.contains("Join") && fPlan.contains("__chunk") &&
      !fPlan.contains("No Partition Defined"),
      "asof_next_view must run the join-free chunked form")

    for (name <- Seq("range_points_regions", "range_interval_overlap")) {
      val range = SparkEntry.queries(name)(spark, dir)
      range.collect()
      val rPlan = range.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // the binning rewrite must keep a hash-joinable equi-join — a
      // BroadcastNestedLoopJoin here means the predicate leaked into the
      // join
      assert(!rPlan.contains("BroadcastNestedLoopJoin") &&
        !rPlan.contains("CartesianProduct"),
        s"$name fell back to nested loop:\n${rPlan.take(1200)}")
    }
  }

  test("BPE apply is shuffle-free codegen; shard/recall compositions stay bounded") {
    val dir = "/root/testdata/sf0.001"
    // the 12 chained literal replaces compose into the corpus scan:
    // no window, no KEYED exchange, inside whole-stage codegen. r15: the
    // query rides Tables.loadParallel, so AT MOST ONE round-robin spread
    // exchange (scale-adaptive — absent once the scan yields enough
    // splits) is allowed ahead of the apply; a hash/range exchange or a
    // second exchange would mean the apply itself started shuffling.
    val toks = SparkEntry.queries("text_bpe_tokens")(spark, dir)
    toks.collect() // AQE: codegen markers only exist in the FINAL plan
    val tPlan = toks.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange \\w+".r.findAllIn(tPlan).toSeq
    assert(exchanges.size <= 1 &&
      exchanges.forall(_.contains("RoundRobinPartitioning")),
      s"BPE apply must stay scan+[spread]+project:\n${tPlan.take(1500)}")
    assert(!tPlan.contains("Window ["),
      s"BPE apply must stay window-free:\n${tPlan.take(1500)}")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(tPlan).isDefined,
      s"BPE segmentation fell out of codegen:\n${tPlan.take(800)}")

    // tokenizer -> shards: the pack prefix sum stays per-range-partition
    val shard = SparkEntry.queries("shard_manifest")(spark, dir)
    shard.collect()
    val sPlan = shard.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!sPlan.contains("No Partition Defined"),
      "shard_manifest leaked a global window")

    // recall gate: both ANN sides rank through the k-capped aggregate —
    // no window anywhere, no cartesian
    val rec = SparkEntry.queries("ann_recall")(spark, dir)
    rec.collect()
    val rPlan = rec.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!rPlan.contains("Window ["),
      s"ann_recall must rank via the k-capped aggregate:\n${rPlan.take(1500)}")
    assert(!rPlan.contains("CartesianProduct"))
  }
}
