package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design (the whole point of these): exact dedup is one hash
  * aggregate; near-dup never compares all pairs — candidates come from
  * equi-joinable keys (shared shingle, shared MinHash band, shared SimHash
  * quarter), so the shuffle is on those keys and the quadratic blow-up is
  * confined to per-bucket candidate sets. All hashing is md5-based and
  * engine-portable (no JVM hashCode), so results are reproducible across
  * engines and runs — required for the DuckDB oracle and good hygiene for
  * a multi-engine lakehouse.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical normalized text.
    * One groupBy on the fingerprint — map-side partial agg does the bulk. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, shingle) long table, distinct per doc. Shingling is the native
    * codegen'd expression (TextHash.WordShingles) — the interpreted
    * transform/slice/array_join form (TextAnalysis.shingles) is its
    * cross-checked reference. */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextHash.shingles(col(textCol), n)).as("shingle"))

  /** Exact n-gram Jaccard near-dup: candidate pairs share >=1 shingle;
    * J(a,b) = |A n B| / (|A| + |B| - |A n B|) >= threshold.
    * Skew guard: very frequent shingles (stop-shingles) are dropped via
    * maxDocFreq — the standard trick that keeps every posting list
    * bounded at scale, and a REQUIREMENT here, not an option: a shingle
    * shared by k docs costs a k-element aggregation buffer and C(k,2)
    * candidate pairs, so an uncapped hot shingle (boilerplate lines at
    * web-corpus scale) is quadratic death no matter how the pairs are
    * generated. The default (10k docs) only drops shingles whose Jaccard
    * signal is ~zero anyway; pass None ONLY for corpora with a known
    * document-frequency bound.
    *
    * @note BEHAVIOR CHANGE (round 9): `maxDocFreq` defaulted to `None`
    *       before; it now defaults to `Some(10000L)`. Under the cap,
    *       both the candidate pair set AND the Jaccard denominators
    *       (per-doc sizes are counted over the SURVIVING shingles, so
    *       |A|, |B| shrink with the dropped stop-shingles) can differ
    *       from the uncapped run. Callers that need the old semantics
    *       must now pass `maxDocFreq = None` explicitly.
    *
    * Shape: ONE shingle explode, ONE shuffle on the shingle key, then the
    * per-shingle doc list drives both consumers — pair counts (streamed
    * posexplode+slice-explode, O(k) per emitted row, vs the old one-array
    * C(k,2) HOF that materialized a bucket's whole pair set in a single
    * row) and post-cap per-doc sizes. The two consumers share the one
    * exchange (identical canonical subtree -> AQE reuse), so the corpus
    * is exploded and shuffled once. Stateless: no cache entries left
    * behind for library callers; the returned frame is lazy and
    * [[clusters]] (the usual consumer) checkpoints it once before
    * iterating. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxDocFreq: Option[Long] = Some(10000L)): DataFrame = {
    // explode_outer + attribute filter: plain explode makes Catalyst infer
    // size/notnull predicates on the shingle EXPRESSION and push them into
    // the scan filter, re-evaluating it per corpus row (see minhashLsh)
    val sh = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.TextHash.shingles(col(textCol), n).as("__sh"))
      .select(col("doc_id"), explode_outer(col("__sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    // shingles are DISTINCT per doc, so each doc appears at most once per
    // list; document frequency IS the list size, so the maxDocFreq cap is
    // a size filter on the same aggregate — no separate df join
    val byShingle = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val capped = maxDocFreq match {
      case Some(maxDf) => byShingle.filter(size(col("ids")) <= maxDf)
      case None => byShingle
    }
    // pairs STREAM: posexplode picks each doc_a with its position, the
    // second explode emits its greater-positioned partners — peak memory
    // per generated row is one O(k) list slice, never the C(k,2) array
    // the old flatten(transform(transform)) HOF built in a single row
    // (2 GB array limit / OOM on a capped-but-large bucket)
    val common = capped
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    // per-doc surviving-shingle counts, recomputed from the same exchange
    val sizes = capped
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    // shuffle_hash on the sizes side, explicitly: plan-time statistics of
    // deep aggregate subtrees are fiction, and the static planner chose to
    // BROADCAST the pair-count side — millions of rows on a replica-heavy
    // corpus, found as a broadcast OOM by the sf1 scale probe. Neither
    // side is broadcast-bounded at warehouse scale (pairs grow with dup
    // density, sizes with the corpus), so the scale-safe shape is a
    // shuffled join keyed on the doc id, hash side = the narrower sizes.
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "size_a").hint("shuffle_hash"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "size_b").hint("shuffle_hash"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cross-document segment dedup — the fixed-granularity approximation of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): documents split into consecutive
    * `segTokens`-token segments; a segment occurring in several documents
    * survives only in the lowest-id one (the owner keeps all its own
    * occurrences) and is cut from the rest, then each document is
    * reassembled from its surviving segments in order.
    *
    * 100 TB shape: tokenize + segment is a linear projection; ownership is
    * ONE map-side-combinable groupBy on the segment hash; the join back is
    * co-partitioned with that aggregate's shuffle; reassembly is a per-doc
    * aggregate. No self-join, no window — the suffix-array machinery of
    * true exact-substring dedup is replaced by the segment-boundary
    * approximation, which is the standard trade at corpus scale.
    * Documents with no tokens have no segments and are absent, like every
    * shingle op. Returns (doc_id, n_segments, n_removed, clean_text). */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segTokens: Int): DataFrame = {
    // tokens materialized as a real column first: a transform lambda
    // re-evaluates free expressions per element, a bound reference doesn't
    val base = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"), size(col("__toks")).as("__n"))
      .filter(col("__n") > 0)
    val segs = base.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), ceil(col("__n") / lit(segTokens.toDouble)).cast("int") - 1),
        i => array_join(slice(col("__toks"), i * segTokens + 1, lit(segTokens)), " ")))
        .as(Seq("seg_idx", "seg")))
      .withColumn("seg_hash", md5(col("seg")))
    val owners = segs.groupBy(col("seg_hash")).agg(min(col("doc_id")).as("keep_doc"))
    segs.join(owners, "seg_hash")
      .withColumn("kept", col("doc_id") === col("keep_doc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"))
  }

  /** Candidate near-dup pairs via winnowing fingerprints
    * ([[TextAnalysis.winnowFingerprints]] — Schleimer et al. 2003): two
    * documents pair when they share at least `minShared` DISTINCT
    * selected fingerprints. The winnowing guarantee bounds what the
    * sparse index can miss (any shared run of >= k + w - 1 tokens
    * leaves at least one common selected fingerprint), so this is the
    * content-defined alternative to the banded-MinHash candidate
    * generator: no signature tuning, and a match pins the SHARED RUN,
    * not just whole-doc similarity.
    *
    * 100 TB shape: exactly the [[ngramJaccard]] pair plan on ~1/w the
    * exploded volume — one groupBy on the fingerprint, hot-fingerprint
    * cap (`maxDocFreq`) against degenerate buckets, pair generation
    * streamed by position slice, one count aggregate. No self-join of
    * the corpus. Returns (doc_a, doc_b, n_shared), doc_a < doc_b. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int, minShared: Long,
                     maxDocFreq: Option[Long] = Some(10000L)): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fps = TextAnalysis.winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("doc_id"), col("fp")).distinct()
    val byFp = fps.groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val capped = maxDocFreq match {
      case Some(maxDf) => byFp.filter(size(col("ids")) <= maxDf)
      case None => byFp
    }
    capped
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Span-level winnowing matches: for every fingerprint two documents
    * SHARE, the k-gram positions it was selected at in each — the
    * evidence rows behind [[winnowingPairs]] (which shared run, where),
    * the intra-corpus analog of [[contaminationSpans]]. A reviewer (or a
    * span-removal pass) consumes these directly: each row pins a
    * >= k-token run present in both documents.
    *
    * 100 TB shape: the same capped fingerprint groupBy as the pair
    * generator, with (doc, pos) structs in the bucket; position pairs
    * stream from the sorted bucket by slice, so peak memory per output
    * row is one O(bucket) slice — and winnowing selects a fingerprint at
    * most a handful of times per doc, so buckets stay near the doc
    * frequency. Returns (doc_a, pos_a, doc_b, pos_b, fp), doc_a < doc_b. */
  def winnowingMatches(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int,
                       maxDocFreq: Option[Long] = Some(10000L)): DataFrame = {
    val sel = TextAnalysis.winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("doc_id"), col("pos"), col("fp"))
    val byFp = sel.groupBy(col("fp"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"))))
        .as("occ"),
        countDistinct(col("doc_id")).as("__docs"))
    val capped = maxDocFreq match {
      case Some(maxDf) => byFp.filter(col("__docs") <= maxDf)
      case None => byFp
    }
    capped
      .filter(col("__docs") > 1)
      .select(col("fp"), col("occ"), posexplode(col("occ")).as(Seq("i", "a")))
      .select(col("fp"), col("a"),
        explode(slice(col("occ"), col("i") + lit(2), size(col("occ")))).as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.pos").as("pos_a"),
        col("b.doc_id").as("doc_b"), col("b.pos").as("pos_b"), col("fp"))
  }

  /** Asymmetric span evidence: every winnowing fingerprint a BATCH
    * document shares with an already-curated HISTORY document, with the
    * selected positions on both sides — the incremental-ingest twin of
    * [[winnowingMatches]] (nothing ever pairs history with itself), and
    * the span-level audit trail beside [[incrementalDedupLedgered]]'s
    * whole-doc verdicts: "this new doc repeats THAT run of THAT kept
    * doc".
    *
    * `historyFps` is the (doc_id, pos, fp) frame of
    * [[TextAnalysis.winnowFingerprints]] over the curated corpus —
    * persisted once and consumed per batch (the DedupLedger build/
    * consume split; fingerprints are pure functions of the text, so the
    * persisted and recomputed forms are row-identical). Per-batch cost:
    * fingerprint the BATCH (a projection), one equi-join on the
    * fingerprint — history text is never rescanned. Hot fingerprints
    * cap on their HISTORY doc frequency (the unbounded side). Returns
    * (batch_id, pos_b, hist_id, pos_h, fp).
    *
    * History prescreen, same contract as
    * [[incrementalDedupLedgered]]'s: a Bloom over the BATCH's
    * fingerprints (plus the bucket set, when `historyFps` carries the
    * ledger's `fpb` column) filters history below the doc-frequency
    * cap's TWO full-history shuffles — the dominant per-batch cost once
    * history dwarfs the batch. Results identical: the bloom keeps or
    * removes whole fp GROUPS, so every surviving fp's doc-frequency
    * count is computed over exactly the rows it always had, removed fps
    * could never equi-join the batch, and false positives die in the
    * join. Engages above `prescreenMinHistoryBytes` (optimizer-estimated
    * size); 0 expected items disables. */
  def winnowingMatchesAgainst(historyFps: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              k: Int, w: Int,
                              maxDocFreq: Option[Long] = Some(10000L),
                              prescreenExpectedItems: Long = 1L << 20,
                              prescreenFpp: Double = 0.001,
                              prescreenMinHistoryBytes: Long = 64L << 20,
                              ledgerBuckets: Int = DedupLedger.Buckets)
      : DataFrame = {
    val pre = prescreenExpectedItems > 0 &&
      historyFps.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(prescreenMinHistoryBytes)
    val bFps0 = TextAnalysis.winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col(idCol).as("batch_id"), col("pos").as("pos_b"), col("fp"))
    // three consumers under prescreen (bloom, bucket set, join): one
    // materialization of the batch-sized fingerprint frame
    val bFps = if (pre) bFps0.localCheckpoint(false) else bFps0
    val histPre = if (!pre) historyFps else {
      val bucketed =
        if (!historyFps.columns.contains("fpb")) historyFps
        else {
          val bs = bFps.select(
              DedupLedger.fpBucket(col("fp"), ledgerBuckets).as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          historyFps.filter(col("fpb").isInCollection(bs))
        }
      val bloom = RuntimeFilter.bloomOf(bFps, "fp",
        prescreenExpectedItems, prescreenFpp)
      bucketed.filter(RuntimeFilter.mightContain(bloom, col("fp")))
    }
    val hist = histPre.select(col("doc_id").as("hist_id"),
      col("pos").as("pos_h"), col("fp"))
    val capped = maxDocFreq match {
      case Some(maxDf) =>
        hist.join(
          hist.groupBy(col("fp"))
            .agg(countDistinct(col("hist_id")).as("__df"))
            .filter(col("__df") <= maxDf)
            .select(col("fp")),
          Seq("fp"), "left_semi")
      case None => hist
    }
    bFps
      .join(capped, Seq("fp"))
      .select(col("batch_id"), col("pos_b"), col("hist_id"), col("pos_h"),
        col("fp"))
  }

  /** Corpus snapshot diff — the audit between two curated states (what
    * did yesterday's cycles actually change?): one row per doc id in
    * either snapshot with status `added` / `removed` / `changed` /
    * `unchanged`, where changed-ness compares the whitespace-normalized
    * exact fingerprint ([[TextAnalysis.fingerprint]]), not raw bytes —
    * the same identity the exact-dedup pass uses, so a reformatted doc
    * is `unchanged` here exactly when dedup would call it a dup.
    *
    * 100 TB shape: two narrow (id, fp) projections into ONE full outer
    * join keyed on the id — no text shuffle (fingerprints are 32 bytes),
    * map-side fp computation, AQE-managed join. */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("__fp_old"))
    val n = newSnap.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("__fp_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") === col("__fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Apply near-dup cluster verdicts to the corpus: one keep/drop row
    * per document — keep iff the doc is in no cluster (never paired) or
    * IS its cluster's min-id representative; dropped docs carry the
    * survivor they duplicate (`kept_id`). This is the materialized
    * decision table the curation pipeline's downstream consumers join
    * against (and audit), separated from pair generation so one pair
    * run can be applied, reviewed or reverted independently.
    *
    * 100 TB shape: NO forced broadcast hint. Cluster labels are usually
    * pair-list-sized, but at web scale a high-dup crawl makes them a
    * real fraction of the corpus — a forced hint OOMs the driver there
    * (the same cliff [[clusters]] guards with its counted bound). Left
    * unhinted, AQE upgrades the join to broadcast at runtime when the
    * measured label size fits and falls back to a shuffle join when it
    * does not; either way results are identical (spec-pinned). */
  def applyClusters(docs: DataFrame, clusterLabels: DataFrame,
                    idCol: String): DataFrame =
    docs.select(col(idCol))
      .join(clusterLabels
        .select(col("doc_id").as(idCol), col("cluster_id")), Seq(idCol), "left")
      .select(col(idCol),
        (col("cluster_id").isNull || col("cluster_id") === col(idCol))
          .as("keep"),
        when(col("cluster_id").isNotNull && col("cluster_id") =!= col(idCol),
          col("cluster_id")).as("kept_id"))

  /** Content-defined segment dedup — [[segmentDedup]] with CDC (rolling
    * Rabin-style) boundaries instead of a fixed stride: a segment ends
    * AFTER any token whose md5-derived 32-bit value is divisible by
    * `avgSegTokens`, so boundaries are a pure function of CONTENT and
    * survive insertions/deletions that shift every downstream fixed-
    * stride segment (the known blind spot [[segmentDedup]]'s scaladoc
    * declares). Expected segment length is `avgSegTokens`; a repeated
    * passage re-synchronizes on its first internal cut token and
    * deduplicates from there. Ownership and reassembly are identical to
    * the fixed-stride form: a repeated segment survives only in its
    * lowest-id document.
    *
    * 100 TB shape: one token explode; the running cut-count that forms
    * segment ids is a PER-DOCUMENT window (doc-bounded partitions — the
    * accepted per-doc window class, like tf-idf); then the same
    * hash-grouped ownership aggregate as [[segmentDedup]]. Every hash is
    * md5 — the oracle replays cuts, segment ids and ownership exactly. */
  def cdcSegmentDedup(docs: DataFrame, idCol: String, textCol: String,
                      avgSegTokens: Int): DataFrame = {
    require(avgSegTokens >= 2 && avgSegTokens <= 10000,
      s"avgSegTokens in [2, 10000], got $avgSegTokens")
    val toks = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("pos", "tok")))
      .withColumn("__cut",
        when(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % avgSegTokens === 0, 1L).otherwise(0L))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val segs = toks
      .withColumn("seg_idx", coalesce(sum(col("__cut")).over(byDoc), lit(0L)))
      .groupBy(col("doc_id"), col("seg_idx"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("seg"))
      .withColumn("seg_hash", md5(col("seg")))
    val owners = segs.groupBy(col("seg_hash")).agg(min(col("doc_id")).as("keep_doc"))
    segs.join(owners, "seg_hash")
      .withColumn("kept", col("doc_id") === col("keep_doc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"))
  }

  /** Canonical URL for web-corpus dedup: lowercase, scheme and `www.`
    * stripped, fragment dropped, trailing utm_* tracking query removed,
    * trailing slash trimmed. Pure regex projection — engine-portable,
    * codegen'd, no UDF. */
  def canonicalUrl(url: Column): Column = {
    val lowered = lower(url)
    val noScheme = regexp_replace(lowered, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noFrag = regexp_replace(noWww, "#.*$", "")
    val noUtm = regexp_replace(noFrag,
      "\\?utm_[a-z]+=[^&#]*(&utm_[a-z]+=[^&#]*)*$", "")
    regexp_replace(noUtm, "/$", "")
  }

  /** URL dedup — the cheapest, highest-yield web-corpus dedup pass (crawl
    * frontiers re-fetch the same page under scheme/www/fragment/tracking
    * variants): group by the canonical URL, keep the smallest id. Same
    * single-aggregate shape as [[exact]]. */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs
      .select(col(idCol), canonicalUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Engine-portable MinHash: for seed j, h_j(doc) = lexicographic min of
    * md5(j || '|' || shingle). All signatures computed as columns in a
    * SINGLE groupBy pass — map-side partial aggregation collapses each
    * partition to one row per doc before the shuffle (vs exploding
    * doc x seed, which shuffles numHashes x the data). */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map { j =>
      min(md5(concat(lit(s"$j|"), col("shingle")))).as(s"h$j")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH band keys from the wide signature: (doc_id, band, band_key);
    * band_key = md5 of the '|'-joined signature slice (seed order). */
  def lshBands(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"h$j"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
  }

  /** Full MinHash-LSH near-dup pipeline: sign -> band -> bucket-join
    * candidates -> exact-Jaccard verify.
    *
    * A document's MinHash signature is a pure function of its text, so the
    * signature is ONE codegen'd scalar expression per row
    * ([[graft.functions.TextHash.minhashU64]] — double-hashed: one md5 per
    * shingle, seeds derived arithmetically, which is where the LSH
    * queries' CPU went when every seed ran its own digest) — candidate
    * generation is scan -> project -> band explode -> band-key self-join,
    * with NO full-corpus shingle explode and NO signature groupBy shuffle.
    * Shingles are only ever exploded for the bucket SURVIVORS (the verify
    * step), which is the LSH contract: the quadratic/bulky work is
    * confined to candidates. The md5-per-seed relational build
    * ([[minhashSignatures]] / [[graft.functions.TextHash.minhash]]) is
    * kept as the spec's in-engine cross-check of the signature shape. */
  /** (doc_id, band, band_key) per document — the LSH candidate key
    * projection shared by [[minhashLsh]] and [[incrementalDedup]].
    *
    * No isNotNull filter on mh itself: that predicate pushes below the
    * projection and re-evaluates the signature expression per corpus row
    * inside the scan filter. Instead the band key is null when mh is null
    * (shingle-less doc) and the cheap attribute filter after the explode
    * drops those rows.
    *
    * `checkpointSig` materializes the signature frame ONCE (lazy
    * localCheckpoint, ~1 KB/doc: id + numHashes longs) for callers that
    * consume the bands TWICE (the self-join in [[minhashLsh]] — the r7
    * defect: Catalyst expands a twice-referenced subtree into two full
    * copies, and exchange reuse does not bridge differently-pruned
    * subtrees). Single-consumer callers skip it. */
  private[operators] def bandFrame(docs: DataFrame, idCol: String,
                        textCol: String,
                        n: Int, numHashes: Int, rowsPerBand: Int,
                        checkpointSig: Boolean): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val sigRaw = docs.select(col(idCol).as("doc_id"),
      graft.functions.TextHash.minhashU64(col(textCol), n, numHashes).as("mh"))
    val sig = if (checkpointSig) sigRaw.localCheckpoint(false) else sigRaw
    val bandCols = (0 until nBands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => col("mh").getItem(j))
      struct(lit(b).as("band"),
        when(col("mh").isNotNull, md5(concat_ws("|", slice: _*))).as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
      .filter(col("band_key").isNotNull)
  }

  /** (doc_id, n_shingles, shingle) with the per-doc DISTINCT-shingle
    * count folded into the exploded frame (size-before-explode IS the
    * Jaccard set size), shared by the verify stages.
    * explode_OUTER on purpose: plain explode makes Catalyst infer
    * `size(arr) > 0 AND isnotnull(arr)` and push it below an upstream
    * semi-join, re-evaluating the shingle expression for EVERY corpus row
    * — the outer variant infers nothing, shingle-less docs surface one
    * null row, and the cheap attribute filter drops it post-explode. */
  private def shingleSizes(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TextHash.shingles(col(textCol), n).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).as("n_shingles"),
        explode_outer(col("__sh")).as("shingle"))
      .filter(col("shingle").isNotNull)

  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int, numHashes: Int, rowsPerBand: Int,
                 threshold: Double): DataFrame = {
    val bands = bandFrame(docs, idCol, textCol, n, numHashes, rowsPerBand,
      checkpointSig = true)
    // candidate pairs via a band-key SELF-JOIN over the checkpointed
    // signatures, not a groupBy+collect_list per bucket: a degenerate
    // band bucket (boilerplate texts with equal band keys — a certainty
    // at web-corpus scale) would pile ALL member ids into ONE aggregation
    // buffer and emit C(n,2) pairs from a single unsplittable task
    // (straggler, then OOM; AQE cannot split an aggregate the way it
    // splits a skewed join). The join streams the same pairs and AQE
    // skew-splits a hot band key at runtime; band derivation from the
    // checkpointed blocks is arithmetic on 8-element arrays, not a scan.
    val bandA = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
    val bandB = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_key"))
    val cand = bandA.join(bandB, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      // consumed twice below (candidate-doc set + the verify semi-join);
      // LAZY localCheckpoint so the second consumer reads the (tiny, LSH
      // contract) pair list instead of re-running the corpus signature
      // scan behind it; blocks auto-release with the frame (Ids pattern)
      .localCheckpoint(false)
    // shrink the verify work to candidate docs BEFORE any shingle explode
    // (the LSH point: the quadratic step only ever sees bucket survivors).
    // No broadcast HINT: the candidate set is usually tiny, but on a
    // duplicate-heavy corpus it approaches the whole corpus and a forced
    // broadcast OOMs (sf1 probe); AQE upgrades the semi-join to broadcast
    // at runtime exactly when the materialized candidate list is small.
    val candDocs = cand.select(col("doc_a").as(idCol))
      .union(cand.select(col("doc_b").as(idCol))).distinct()
    val candTexts = docs.join(candDocs, Seq(idCol), "left_semi")
    // per-doc shingle count folded INTO the exploded frame: the pair
    // aggregate carries both sides' sizes and the two join-backs of the
    // old shape — each re-deriving candTexts — disappear (explode_outer
    // rationale at [[shingleSizes]])
    val sh = shingleSizes(candTexts, idCol, textCol, n)
    val a = sh.select(col("doc_id").as("doc_a"),
      col("n_shingles").as("size_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"),
      col("n_shingles").as("size_b"), col("shingle"))
    a.join(b, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        max(col("size_a")).as("size_a"), max(col("size_b")).as("size_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental curation: screen a NEW batch of documents against an
    * already-curated HISTORY — the daily-ingest shape of a corpus
    * pipeline. The self-join dedup family answers "which docs duplicate
    * each other"; this answers "which NEW docs duplicate what we already
    * kept", and NOTHING ever pairs history with itself.
    *
    * Verdict per batch doc:
    *   - "exact": whitespace-normalized fingerprint matches a history doc
    *     (matched_id = the smallest such history id, jaccard null);
    *   - "near": a MinHash band collision with history verified at
    *     jaccard >= threshold (matched_id = smallest verified history id,
    *     jaccard = that pair's value, rounded 6 dp). Exact dups are not
    *     re-screened — the near stage sees survivors only, as in
    *     [[twoStage]];
    *   - "keep": neither; matched_id and jaccard null.
    *
    * 100 TB shape: history is touched by exactly two bounded projections
    * — the fingerprint aggregate (one row per distinct text) and the band
    * projection (nBands rows/doc), BOTH pure functions of the text. This
    * convenience form recomputes them per run; production persists them
    * once via [[DedupLedger]] and screens through
    * [[incrementalDedupLedgered]], where per-batch cost never rescans
    * history. Candidate generation
    * is the asymmetric batch-bands x history-bands equi-join: pair volume
    * scales with batch size x collision rate, never with |history|^2, and
    * AQE skew-splits a hot band key as in [[minhashLsh]]. Shingle
    * verification touches only collision survivors on BOTH sides (the
    * LSH contract). */
  def incrementalDedup(history: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       n: Int, numHashes: Int, rowsPerBand: Int,
                       threshold: Double): DataFrame =
    incrementalDedupLedgered(history,
      DedupLedger.fingerprints(history, idCol, textCol),
      DedupLedger.bands(history, idCol, textCol, n, numHashes, rowsPerBand),
      batch, idCol, textCol, n, numHashes, rowsPerBand, threshold)

  /** [[incrementalDedup]] with the history-side derivations supplied as
    * LEDGER frames instead of recomputed: `ledgerFp` = (doc_id, fp) and
    * `ledgerBands` = (doc_id, band, band_key) as built by [[DedupLedger]]
    * — pure functions of each kept document's text, so ledger-fed and
    * recomputed screens are verdict-identical (spec-asserted, and the
    * `dedup_incremental_ledger` gate hash-matches the recompute oracle).
    *
    * This is the shape that matters at 100 TB: the recompute form pays a
    * full shingle+MinHash pass over the ENTIRE history every batch; here
    * history text is touched only for band-collision SURVIVORS (the LSH
    * contract), so per-batch cost tracks the batch and the collision
    * rate, never |history|. */
  /** History-side prescreen (`prescreenExpectedItems > 0`, the default):
    * the batch's fingerprints / band keys build a driver-held Bloom
    * ([[RuntimeFilter]]) that filters the history tables BELOW their
    * exchange, and — when the ledger frames carry the bucket columns
    * ([[DedupLedger.Buckets]] layout) — the batch's bucket set prunes
    * history PARTITION DIRECTORIES outright. Verdicts are identical
    * either way (no false negatives; extra survivors die in the exact
    * join): what changes is that the per-cycle history exchange carries
    * matches + the designed fpp instead of the FULL history — the term
    * that dominates the screen at years of daily-cycle scale. Size
    * `prescreenExpectedItems` at or above the batch cardinality; pass 0
    * to disable.
    *
    * The prescreen costs ~4 fixed driver jobs (two checkpoint
    * materializations, two bloom aggregates), so it only engages when a
    * history side's optimizer-estimated size (file bytes for parquet
    * scans) reaches `prescreenMinHistoryBytes` — below that the full
    * exchange is cheaper than the machinery, the same size-threshold
    * logic Spark's own InjectRuntimeFilter applies. Unknown stats err
    * toward prescreening. */
  def incrementalDedupLedgered(history: DataFrame, ledgerFp: DataFrame,
                       ledgerBands: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       n: Int, numHashes: Int, rowsPerBand: Int,
                       threshold: Double,
                       prescreenExpectedItems: Long = 1L << 20,
                       prescreenFpp: Double = 0.001,
                       prescreenMinHistoryBytes: Long = 64L << 20,
                       ledgerBuckets: Int = DedupLedger.Buckets): DataFrame = {
    def bigEnough(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(prescreenMinHistoryBytes)
    val preFp = prescreenExpectedItems > 0 && bigEnough(ledgerFp)
    val preBands = prescreenExpectedItems > 0 && bigEnough(ledgerBands)
    val batchFp0 = batch.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(col(textCol)).as("__fp"))
    // three consumers under prescreen (bloom build, bucket set, join):
    // one materialization of the batch-sized (id, fp) frame
    val batchFp = if (preFp) batchFp0.localCheckpoint(false) else batchFp0
    val fpHist = if (!preFp) ledgerFp else {
      val bucketed =
        if (!ledgerFp.columns.contains("fpb")) ledgerFp
        else {
          // <= Buckets ints — bounded collect; reaches the parquet scan
          // as a PartitionFilter (file-level pruning for small batches)
          val bs = batchFp.select(
              DedupLedger.fpBucket(col("__fp"), ledgerBuckets).as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          ledgerFp.filter(col("fpb").isInCollection(bs))
        }
      val bloom = RuntimeFilter.bloomOf(batchFp, "__fp",
        prescreenExpectedItems, prescreenFpp)
      bucketed.filter(RuntimeFilter.mightContain(bloom, col("fp")))
    }
    val hExact = fpHist
      .select(col("doc_id").as("__h_id"), col("fp").as("__fp"))
      .groupBy(col("__fp")).agg(min(col("__h_id")).as("__h_exact"))
    val screened = batchFp
      .join(hExact, Seq("__fp"), "left")
      .select(col("doc_id"), col("__h_exact"))
      // two consumers (survivor filter + final assembly): materialize the
      // batch-sized (id, match) frame once, not the fingerprint join twice
      .localCheckpoint(false)
    val batchLive = batch.join(
      screened.filter(col("__h_exact").isNull).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")

    val bBands0 = bandFrame(batchLive, idCol, textCol, n, numHashes,
        rowsPerBand, checkpointSig = false)
      .select(col("doc_id").as("__b_id"), col("band"), col("band_key"))
    // under prescreen the batch bands feed the bloom + bucket set too —
    // materialize once instead of recomputing the MinHash per consumer
    val bBands = if (preBands) bBands0.localCheckpoint(false) else bBands0
    val bandsHist = if (!preBands) ledgerBands else {
      val bucketed =
        if (!ledgerBands.columns.contains("bkb")) ledgerBands
        else {
          val bs = bBands
            .select(DedupLedger.bandBucket(col("band"), col("band_key"),
              ledgerBuckets).as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          ledgerBands.filter(col("bkb").isInCollection(bs))
        }
      val bloom = RuntimeFilter.bloomOf(
        bBands.select(
          concat_ws(":", col("band"), col("band_key")).as("__bk")),
        "__bk", prescreenExpectedItems, prescreenFpp)
      bucketed.filter(RuntimeFilter.mightContain(bloom,
        concat_ws(":", col("band"), col("band_key"))))
    }
    val hBands = bandsHist
      .select(col("doc_id").as("__h_id"), col("band"), col("band_key"))
    // three consumers (two candidate-doc sets + the verify semi-join):
    // checkpoint the (tiny, LSH contract) pair list
    val cand = bBands.join(hBands, Seq("band", "band_key"))
      .select(col("__b_id"), col("__h_id")).distinct()
      .localCheckpoint(false)

    val shB = shingleSizes(batchLive.join(
        cand.select(col("__b_id").as(idCol)).distinct(), Seq(idCol), "left_semi"),
      idCol, textCol, n)
    val shH = shingleSizes(history.join(
        cand.select(col("__h_id").as(idCol)).distinct(), Seq(idCol), "left_semi"),
      idCol, textCol, n)
    val near = shB.select(col("doc_id").as("__b_id"),
        col("n_shingles").as("__size_b"), col("shingle"))
      .join(shH.select(col("doc_id").as("__h_id"),
        col("n_shingles").as("__size_h"), col("shingle")), "shingle")
      .join(cand, Seq("__b_id", "__h_id"), "left_semi")
      .groupBy(col("__b_id"), col("__h_id"))
      .agg(count(lit(1)).as("__c"),
        max(col("__size_b")).as("__size_b"),
        max(col("__size_h")).as("__size_h"))
      .withColumn("__j", col("__c").cast("double") /
        (col("__size_b") + col("__size_h") - col("__c")).cast("double"))
      .filter(col("__j") >= threshold)
      // deterministic match: the SMALLEST verified history id carries its
      // jaccard (struct min orders by the leading field)
      .groupBy(col("__b_id"))
      .agg(min(struct(col("__h_id"), col("__j"))).as("__m"))
      .select(col("__b_id"), col("__m").getField("__h_id").as("__h_near"),
        round(col("__m").getField("__j"), 6).as("__j_near"))

    screened.join(near, col("doc_id") === col("__b_id"), "left")
      .select(col("doc_id"),
        when(col("__h_exact").isNotNull, lit("exact"))
          .when(col("__h_near").isNotNull, lit("near"))
          .otherwise(lit("keep")).as("verdict"),
        coalesce(col("__h_exact"), col("__h_near")).as("matched_id"),
        col("__j_near").as("jaccard"))
  }

  /** Benchmark decontamination: per corpus document, how many of its word
    * shingles also occur in a benchmark/quarantine set (eval-set leakage
    * detection). The benchmark side is tiny relative to the corpus
    * (thousands of eval docs vs billions of training docs), so its
    * DISTINCT shingle set broadcasts and the whole check is one map-side
    * join + groupBy — no corpus self-join, no shuffle of the corpus beyond
    * the per-doc aggregate. Returns (doc_id, n_shingles, n_hits,
    * contamination = hits/shingles rounded to 6 dp); docs with fewer than
    * n tokens have no shingles and are absent, like every shingle op. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val corpusSh = docShingles(corpus, idCol, textCol, n)
    val benchSh = broadcast(
      docShingles(benchmark, idCol, textCol, n)
        .select(col("shingle")).distinct()
        .withColumn("__hit", lit(true)))
    corpusSh
      .join(benchSh, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contamination",
        round(col("n_hits").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** Span-level decontamination — the output a span-REMOVAL pass
    * consumes (the GPT-3-style discipline: cut the leaked window out of
    * the training document, don't drop the document): for each corpus
    * document, every POSITION (1-based token index of the shingle start)
    * whose n-gram also occurs in the benchmark set. Where
    * [[contamination]] counts distinct leaked shingles per doc, this
    * keeps positional occurrences — a shingle leaking twice is two spans
    * to cut.
    *
    * Same 100 TB shape as [[contamination]]: the benchmark's DISTINCT
    * shingle set broadcasts, the corpus explodes positional shingles in
    * one pass (the token array projected once per row), matches come
    * back map-side; output is bounded by actual leakage, not corpus
    * size. Returns (doc_id, span_start, shingle). */
  def contaminationSpans(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int): DataFrame = {
    val benchSh = broadcast(
      docShingles(benchmark, idCol, textCol, n)
        .select(col("shingle")).distinct())
    val toks = TextAnalysis.tokens(col(textCol))
    corpus
      .select(col(idCol).as("doc_id"), toks.as("__t"))
      .select(col("doc_id"), posexplode(
        when(size(col("__t")) >= n,
          transform(sequence(lit(1), size(col("__t")) - (n - 1)),
            i => array_join(slice(col("__t"), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("span_start"),
        col("col").as("shingle"))
      .join(benchSh, Seq("shingle"), "left_semi")
      .select(col("doc_id"), col("span_start"), col("shingle"))
  }

  /** Exact-first two-stage dedup — the warehouse-standard composition
    * (SCALE_PROBE.md): one md5-fingerprint groupBy keeps the smallest id
    * of each identical-text group, then [[minhashLsh]] runs over
    * survivors ONLY. On a replica-heavy corpus (the web-crawl norm) this
    * keeps LSH band buckets free of exact-copy groups, so near-dup pair
    * work scales with DISTINCT documents instead of C(copies, 2) per
    * duplicated text (measured: 3.0 s vs 18.5 s on a corpus where every
    * doc has 10 exact copies). Returns the verified near-dup pairs among
    * survivors, each side carrying its exact-copy count so a downstream
    * keep-one knows the total multiplicity it is collapsing. */
  def twoStage(docs: DataFrame, idCol: String, textCol: String,
               n: Int, numHashes: Int, rowsPerBand: Int,
               threshold: Double): DataFrame = {
    // (keep_id, n_copies) per fingerprint, materialized ONCE — lazy
    // localCheckpoint (no Spark job runs until the caller's first action,
    // so diagnostic paths that only want the plan stay free; blocks
    // auto-release with the frame). Three consumers read it: the survivor
    // semi-join and both copy-count joins — uncheckpointed, each was a
    // full md5-aggregate corpus pass (profiled as 3 identical aggregates
    // per run). The frame is narrow (id + count per DISTINCT text), so
    // the checkpoint streams to block-manager disk at any corpus scale.
    val groups = exact(docs, idCol, textCol)
      .select(col("keep_id"), col("n_copies"))
      .localCheckpoint(false)
    val survivors = docs.join(
      groups.select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")
    // lazy checkpoint of the (tiny, post-verify) pair list — consumed by
    // the two copy-count joins below; without it each reference re-runs
    // the whole LSH verify chain (clusters() applies the same barrier to
    // the same frame). AQE broadcasts the materialized pair side into the
    // copy joins at runtime, so the corpus-sized groups frame never
    // shuffles for them.
    val pairs = minhashLsh(survivors, idCol, textCol,
        n, numHashes, rowsPerBand, threshold)
      .localCheckpoint(false)
    pairs
      .join(groups.select(col("keep_id").as("doc_a"), col("n_copies").as("copies_a")), "doc_a")
      .join(groups.select(col("keep_id").as("doc_b"), col("n_copies").as("copies_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("copies_a"), col("copies_b"))
  }

  /** Connected components over a near-dup pair graph — the step that turns
    * verified PAIRS into keep-one-per-CLUSTER decisions (a pairs list
    * alone over-deletes: a~b and b~c must not delete both b and c against
    * different survivors).
    *
    * Min-label propagation: every doc starts labeled with itself; each
    * round takes the min of its own and its neighbors' labels; fixpoint in
    * O(cluster diameter) rounds. Near-dup clusters are shallow (dup sets,
    * not long chains), so rounds stay in the low single digits; each round
    * is one shuffle join + aggregate, so the cost model at 100 TB is
    * "diameter x one co-partitioned join of the edge list". The round
    * count is driver-controlled with an explicit fixpoint check (one
    * scalar count per round), results are deterministic (min), and each
    * round localCheckpoints so the plan does not nest across rounds (the
    * round's frame references the previous one three times — cache alone
    * would let the logical plan grow exponentially). */
  def clusters(pairs: DataFrame, driverLimit: Long = 5000000L): DataFrame = {
    // materialize the pair pipeline ONCE — every consumer below reads it,
    // and without this the (possibly expensive) upstream that produced
    // the pairs would execute per round
    val p = pairs.localCheckpoint(true)
    // The pair list is the verifier's OUTPUT — near-dup pairs are a tiny
    // fraction of the corpus (the LSH contract), so the common case fits
    // on the driver, where union-find finishes in milliseconds instead of
    // one Spark job cascade per propagation round. The distributed loop
    // below stays the fallback for genuinely huge pair graphs; the guard
    // is an explicit count, not a hope.
    if (p.count() <= driverLimit) clustersDriver(p) else clustersDistributed(p)
  }

  /** Driver-side union-find with union-by-min: the root of every component
    * is its minimum member, matching the distributed min-label fixpoint
    * bit for bit. Ids keep their NATIVE type — casting string ids to long
    * would null out (or collide '01' with '1'), and the output schema must
    * match [[clustersDistributed]], which preserves the input type. The
    * min ordering is the type's natural Comparable order, which matches
    * Spark's min/least for the numeric and (ASCII) string ids used here. */
  private def clustersDriver(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val idType = p.schema("doc_a").dataType
    def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
    val edges = p.select(col("doc_a"), col("doc_b")).collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { row =>
      val a = row.get(0)
      val b = row.get(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (cmp(ra, rb) < 0) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keys.toSeq.sortWith(cmp(_, _) < 0)
      .map(k => org.apache.spark.sql.Row(k, find(k)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  /** The distributed min-label fixpoint. The per-round localCheckpoint
    * keeps the plan from growing across iterations: round times stay
    * flat on a >=10M-edge synthetic graph (SCALE_PROBE.md, round-9
    * connected-components probe). */
  private def clustersDistributed(p: DataFrame): DataFrame = {
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 64) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster_id").as("nbr_label")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("nbr_label")).as("min_nbr"))
      // the change flag rides along into the checkpoint, so the fixpoint
      // test is a scan of the materialized frame, not another join
      val next = labels
        .join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("min_nbr"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("min_nbr"), col("cluster_id")) < col("cluster_id"))
            .as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).limit(1).count()
      labels = next.drop("chg")
      rounds += 1
    }
    edges.unpersist()
    labels
  }

  /** Engine-portable SimHash (64-bit, hex string): md5(token) first 16 hex
    * chars give 64 bits; each token occurrence votes +1/-1 per bit; bit = 1
    * when the vote sum is positive.
    *
    * A document's simhash is a pure function of its text, so this is one
    * codegen'd scalar expression per row ([[graft.functions.TextHash]]) —
    * a linear scan with NO explode and NO shuffle. The relational form
    * below ([[simhashHexRelational]]) shuffles 64x the token volume twice;
    * it is kept only as the independent cross-check of the expression. */
  def simhashHex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // the token-less guard filters on a cheap `\S` probe of the TEXT, not
    // on simhash IS NOT NULL: the latter pushes below the projection and
    // evaluates the full hash expression a second time per row inside the
    // scan filter. simhash64 is null exactly when the text has no Java-\s
    // token, i.e. no \S character — the same ASCII whitespace class.
    docs.filter(col(textCol).rlike("\\S"))
      .select(col(idCol).as("doc_id"),
        graft.functions.TextHash.simhash64(col(textCol)).as("simhash"))

  /** SimHash near-dup PAIRS: band the 64-bit hash into four 16-bit slices;
    * by pigeonhole any pair within hamming distance 3 shares at least one
    * intact slice, so candidates come from a slice-value equi-join (the
    * same scale contract as MinHash-LSH: no all-pairs anywhere) and only
    * candidates pay the exact hamming check. Hamming is computed on the
    * two 32-bit halves via conv/xor/bit_count — codegen'd built-ins, no
    * UDF; halves keep the unsigned hex inside Long range. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    // unfiltered projection on purpose: simhashHex's isNotNull filter
    // would push below the projection and run simhash64 a second time per
    // corpus row; hammingPairs64 drops null hashes via its slice filter
    hammingPairs64(docs.select(col(idCol).as("doc_id"),
        graft.functions.TextHash.simhash64(col(textCol)).as("simhash")),
      "doc_id", "simhash", maxHamming)

  /** Banded near-dup PAIRS over ANY 64-bit hex hash column (SimHash for
    * text, aHash for images, …): the 64 bits band into four 16-bit
    * slices; by pigeonhole any pair within hamming distance 3 shares at
    * least one intact slice, so candidates come from a slice-value
    * equi-join (no all-pairs anywhere) and only candidates pay the exact
    * hamming check — computed on the two 32-bit halves via
    * conv/xor/bit_count, all codegen'd built-ins. Returns
    * (doc_a, doc_b, hamming) keyed by `idCol`'s values. */
  def hammingPairs64(hashes: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 3): DataFrame = {
    // Materialize the tiny (id, h64) frame ONCE — lazy localCheckpoint,
    // the Ids pattern: blocks auto-release with the frame. Any decode work
    // behind the hash column runs a single time into the checkpoint, so
    // the self-join below costs block reads, not re-computation (Catalyst
    // would otherwise expand the twice-referenced subtree into two full
    // copies and run the decode once per side — the r7 shape). No
    // isNotNull pre-filter before the checkpoint: the predicate would push
    // below the hash projection and re-evaluate the hash expression per
    // row inside the upstream scan; null hashes yield null slices, dropped
    // after the band projection.
    val h = hashes.select(col(idCol).as("doc_id"), col(hashCol).as("h64"))
      .localCheckpoint(false)
    val bands = h.select(col("doc_id"), col("h64"),
        posexplode(array((0 until 4).map(b =>
          substring(col("h64"), 1 + 4 * b, 4)): _*)).as(Seq("band", "slice")))
      .filter(col("slice").isNotNull)
    // candidate pairs via a slice-key SELF-JOIN over the checkpointed
    // frame, not a groupBy+collect_list: a hot bucket (boilerplate texts
    // sharing a band key, near-black images sharing an aHash slice — a
    // certainty at web-corpus scale) would accumulate ALL member ids into
    // ONE aggregation buffer and emit C(n,2) pairs from a single
    // unsplittable task (straggler, then executor OOM — and AQE cannot
    // split an aggregate). The join streams the same pairs, and AQE
    // skew-splits a hot slice key across tasks at runtime.
    val a = bands.select(col("doc_id").as("doc_a"), col("h64").as("h_a"),
      col("band"), col("slice"))
    val b = bands.select(col("doc_id").as("doc_b"), col("h64").as("h_b"),
      col("band"), col("slice"))
    val cand = a.join(b, Seq("band", "slice"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("h_a"), col("doc_b"), col("h_b"))
      .distinct()
    def half(c: Column, i: Int): Column =
      conv(substring(c, 1 + 8 * i, 8), 16, 10).cast("long")
    val hamming = (0 until 2).map(i =>
      bit_count(half(col("h_a"), i).bitwiseXOR(half(col("h_b"), i))))
      .reduce(_ + _)
    cand
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The explode/groupBy form of [[simhashHex]] — bit-identical output,
    * used by the spec as an in-engine oracle for the native expression. */
  def simhashHexRelational(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("w"))
      .withColumn("h16", substring(md5(col("token")), 1, 16))
    // nibble value per hex char position (1..16), bits per nibble (0..3)
    val hexChars = array("0123456789abcdef".map(ch => lit(ch.toString)): _*)
    val bits = toks
      .select(col("doc_id"), col("w"),
        // Spark's split keeps a trailing empty element on this pattern
        posexplode(filter(split(col("h16"), "(?!^)"), c => length(c) > 0))
          .as(Seq("pos", "ch")))
      .withColumn("nib", expr("instr('0123456789abcdef', ch) - 1"))
      .select(col("doc_id"), col("w"), col("pos"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("b"), shiftright(col("nib"), 3 - b).bitwiseAND(lit(1)).as("bit"))): _*)).as("x"))
      .select(col("doc_id"), col("w"),
        (col("pos") * 4 + col("x.b")).as("bitpos"),
        col("x.bit").as("bit"))
    val votes = bits
      .groupBy(col("doc_id"), col("bitpos"))
      .agg(sum(when(col("bit") === 1, col("w")).otherwise(-col("w"))).as("vote"))
      .withColumn("outbit", when(col("vote") > 0, 1).otherwise(0))
    // reassemble 64 bits -> 16 hex chars (bit weight 8/4/2/1 within nibble)
    val nibWeight = when(col("nibbit") === 0, 8).when(col("nibbit") === 1, 4)
      .when(col("nibbit") === 2, 2).otherwise(1)
    votes
      .withColumn("nibpos", (col("bitpos") / 4).cast("int"))
      .withColumn("nibbit", col("bitpos") % 4)
      .groupBy(col("doc_id"), col("nibpos"))
      .agg(sum(col("outbit") * nibWeight).as("nibval"))
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("nibpos"), col("nibval")))),
        x => element_at(hexChars, x.getField("nibval").cast("int") + 1)), "")
        .as("simhash"))
  }
}
