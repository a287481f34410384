package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupLedger}

/** The incremental-curation ops driver — the training-data counterpart of
  * [[GraftCli]]: screen a new batch of documents against the curated
  * corpus through the persisted dedup ledger, write verdicts, and grow
  * both the corpus and the ledger with the kept docs so the NEXT batch
  * consumes what this one wrote.
  *
  * One invocation = one ingest cycle:
  *   1. bootstrap the ledger from the corpus if none exists yet
  *      (one-time full pass; every later cycle skips it);
  *   2. screen the batch via [[Dedup.incrementalDedupLedgered]] — the
  *      ledger replaces the per-run history fingerprint/MinHash rescan;
  *   3. write (doc_id, verdict, matched_id, jaccard) to `--out`;
  *   4. append the KEPT batch docs to the corpus directory and their
  *      ledger rows under this cycle's `--ingest` partition label.
  *
  * The corpus directory is plain parquet (appendable); the ledger is
  * Hive-partitioned by ingest label ([[DedupLedger]]), so a bad ingest
  * day is one partition to drop from both. */
object CurateCli {

  final case class Options(
      corpus: String = null, batch: String = null,
      ledger: String = null, out: String = null,
      ingest: String = null,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      warc: Boolean = false,
      html: Boolean = false,
      boilerplateDict: String = null,
      buildDict: Boolean = false,
      minDocFreq: Long = 100L,
      decontaminate: String = null,
      contamThreshold: Double = 0.2,
      redactContacts: Boolean = false,
      lang: String = null,
      spanEvidence: Boolean = false,
      spanK: Int = 5,
      spanW: Int = 4,
      forceStart: Boolean = false,
      compact: Boolean = false,
      compactCorpus: Boolean = false,
      targetFileMb: Int = 256,
      compactInto: String = "compacted",
      keepLabels: Seq[String] = Nil,
      stream: Boolean = false,
      checkpoint: String = null,
      bpeMerges: String = null,
      fitBpe: Boolean = false,
      bpeNumMerges: Int = 12,
      qualityWeights: String = null,
      qualityThreshold: Double = 0.0,
      fitQuality: String = null,
      qualityBuckets: Int = 64,
      qualityLr: Double = 2e-3,
      qualityIters: Int = 3,
      retractIds: String = null,
      retractWatch: String = null,
      bucketCorpus: Int = 0,
      ledgerBuckets: Int = DedupLedger.Buckets,
      rebucket: Int = 0,
      showHelp: Boolean = false)

  val Usage: String =
    """usage: graft-curate --corpus <dir> --batch <parquet> --ledger <dir>
      |                    --out <dir> --ingest <label> [options]
      | --corpus <dir>        Curated corpus (parquet; kept docs appended)
      | --batch <parquet>     New documents to screen
      | --ledger <dir>        Dedup ledger (bootstrapped if absent)
      | --out <dir>           Verdict output (doc_id, verdict, matched_id, jaccard)
      | --ingest <label>      Partition label for this cycle's ledger rows
      | --id-col <name>       Document id column        (default doc_id)
      | --text-col <name>     Document text column      (default text)
      | --ngram <n>           Shingle size              (default 3)
      | --hashes <k>          MinHash signature length  (default 8)
      | --rows-per-band <r>   LSH rows per band         (default 2)
      | --threshold <t>       Jaccard verify threshold  (default 0.5)
      | --warc                Treat --batch as a directory of .warc/.warc.gz
      |                       crawl files: HTTP 200 responses become the
      |                       batch (doc id = xxhash64 of file+record,
      |                       text = response body), and --html is implied
      | --html                Treat the batch text column as raw crawl HTML:
      |                       extract text (script/style/comments stripped,
      |                       tags to line structure, entities decoded)
      |                       before every other stage
      | --boilerplate-dict <p> Persisted boilerplate dictionary (parquet of
      |                       line_norm, built batch-side by
      |                       TextAnalysis.boilerplateDictionary); matching
      |                       lines are stripped from each batch doc BEFORE
      |                       the screen, and the corpus receives the
      |                       cleaned text
      | --decontaminate <p>   Benchmark/quarantine parquet: batch docs whose
      |                       n-gram contamination >= the threshold are
      |                       verdicted 'contaminated' and never reach the
      |                       corpus (checked after the boilerplate strip,
      |                       before the dedup screen)
      | --contam-threshold <t> Contamination share cutoff (default 0.2)
      | --redact-contacts     Replace emails/phones/IPs with <REDACTED>
      |                       before the screen (the corpus stores the
      |                       redacted text)
      | --lang <code>         Keep only docs the n-gram language ID scores
      |                       as <code> (en/de/fr/es); others get a
      |                       terminal 'lang_filtered' verdict
      | --span-evidence       Maintain the winnowing-fingerprint ledger
      |                       (<ledger>/winnow) and write per-batch span
      |                       evidence to <out>_spans: every shared run
      |                       between a batch doc and a kept history doc,
      |                       with positions on both sides
      | --span-k <k>          Winnowing k-gram size   (default 5)
      | --span-w <w>          Winnowing window size   (default 4)
      | --build-dict          Build the boilerplate dictionary from --corpus
      |                       and write it to --boilerplate-dict instead of
      |                       running a cycle (the batch-side daily build;
      |                       only --corpus and --boilerplate-dict required)
      | --min-doc-freq <n>    Distinct-doc threshold for --build-dict
      |                       (default 100)
      | --force-start         Remove a leftover ledger lock before starting
      | --compact             Compact the ledger's ingest partitions instead
      |                       of running a cycle (only --ledger required;
      |                       a <ledger>/winnow span-evidence ledger, when
      |                       present, compacts under the same lock/labels)
      | --compact-into <l>    Partition label for folded rows (default compacted)
      | --ledger-buckets <n>  Hash-bucket fan-out when BOOTSTRAPPING a ledger
      |                       (default 64; existing ledgers keep their
      |                       recorded fan-out — change it with --rebucket)
      | --rebucket <n>        With --compact: migrate the ledger(s) to <n>
      |                       hash buckets in the same crash-safe rewrite
      |                       (readers refuse the mid-migration state;
      |                       recovery rolls forward)
      | --compact-corpus      Rewrite the corpus' accumulated per-cycle files
      |                       into ~--target-file-mb parquet files (staged,
      |                       validated, crash-safe swap; takes the cycle lock;
      |                       combines with --compact under the one lock)
      | --retract <parquet>   Takedown: remove the listed doc ids from the
      |                       corpus AND both ledgers (corpus first — a crash
      |                       between the two only over-screens until the
      |                       re-run; requires --corpus and --ledger, takes
      |                       the cycle lock; idempotent)
      | --target-file-mb <n>  Compacted corpus file size target (default 256)
      | --bucket-corpus <n>   Migrate the corpus to <n> id-hash bucket
      |                       partitions (staged, validated, crash-safe
      |                       swap under the cycle lock) — after which
      |                       cycle appends preserve the layout and
      |                       --retract rewrites only affected buckets
      |                       instead of the whole corpus; re-run with a
      |                       different <n> to re-bucket
      | --keep-label <l>      Ingest label to keep out of the fold (repeatable;
      |                       retention: keep recent days individually)
      | --stream              Treat --batch as a file-source directory and
      |                       screen each arriving parquet file as a
      |                       micro-batch (AvailableNow; restart-safe via
      |                       the checkpoint)
      | --retract-watch <dir> With --stream: drain takedown requests
      |                       BETWEEN micro-batches without stopping the
      |                       stream — each .parquet file of doc ids in
      |                       <dir> runs the full --retract path under the
      |                       stream's lock, then moves to <dir>/done/
      |                       (idempotent: a crash mid-retract re-drains
      |                       on restart)
      | --checkpoint <dir>    Stream checkpoint dir (default <out>/_checkpoint)
      | --bpe-merges <p>      Persisted BPE merge table (parquet of
      |                       Bpe.save); each cycle then writes
      |                       <out>_tokens — doc_id, n_words,
      |                       n_bpe_tokens for the docs THIS run newly
      |                       appended to the corpus — and prints the
      |                       training tokens the cycle added
      | --fit-bpe             Fit the BPE merge table from --corpus and
      |                       write it to --bpe-merges instead of running
      |                       a cycle (the batch-side fit; only --corpus
      |                       and --bpe-merges required)
      | --bpe-num-merges <n>  Merge count for --fit-bpe (default 12)
      | --quality-weights <p> Persisted quality-filter weight table
      |                       (parquet of TextAnalysis.saveWeights); docs
      |                       whose mean hashed score falls below the
      |                       threshold get a terminal 'low_quality'
      |                       verdict after the language gate, before
      |                       decontamination and the dedup screen
      | --quality-threshold <t>  Keep docs scoring >= t (default 0.0)
      | --fit-quality <p>     Train the quality filter from a labeled
      |                       parquet (text col + 'label' 0/1) and write
      |                       it to --quality-weights instead of running
      |                       a cycle
      | --quality-buckets <d> Hashed buckets for --fit-quality (default 64)
      | --quality-lr <r>      Learning rate for --fit-quality (default 0.002)
      | --quality-iters <n>   GD iterations for --fit-quality (default 3)
      | -h,--help             Show usage
      |""".stripMargin

  def parse(args: Seq[String]): Either[String, Options] = {
    var o = Options()
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case ("-h" | "--help") :: t => o = o.copy(showHelp = true); rest = t
      case "--corpus" :: v :: t => o = o.copy(corpus = v); rest = t
      case "--batch" :: v :: t => o = o.copy(batch = v); rest = t
      case "--ledger" :: v :: t => o = o.copy(ledger = v); rest = t
      case "--out" :: v :: t => o = o.copy(out = v); rest = t
      case "--ingest" :: v :: t => o = o.copy(ingest = v); rest = t
      case "--id-col" :: v :: t => o = o.copy(idCol = v); rest = t
      case "--text-col" :: v :: t => o = o.copy(textCol = v); rest = t
      case "--ngram" :: v :: t => o = o.copy(n = v.toInt); rest = t
      case "--hashes" :: v :: t => o = o.copy(numHashes = v.toInt); rest = t
      case "--rows-per-band" :: v :: t =>
        o = o.copy(rowsPerBand = v.toInt); rest = t
      case "--threshold" :: v :: t =>
        o = o.copy(threshold = v.toDouble); rest = t
      case "--warc" :: t => o = o.copy(warc = true, html = true); rest = t
      case "--html" :: t => o = o.copy(html = true); rest = t
      case "--boilerplate-dict" :: v :: t =>
        o = o.copy(boilerplateDict = v); rest = t
      case "--decontaminate" :: v :: t =>
        o = o.copy(decontaminate = v); rest = t
      case "--contam-threshold" :: v :: t =>
        o = o.copy(contamThreshold = v.toDouble); rest = t
      case "--redact-contacts" :: t =>
        o = o.copy(redactContacts = true); rest = t
      case "--lang" :: v :: t => o = o.copy(lang = v); rest = t
      case "--span-evidence" :: t => o = o.copy(spanEvidence = true); rest = t
      case "--span-k" :: v :: t => o = o.copy(spanK = v.toInt); rest = t
      case "--span-w" :: v :: t => o = o.copy(spanW = v.toInt); rest = t
      case "--build-dict" :: t => o = o.copy(buildDict = true); rest = t
      case "--min-doc-freq" :: v :: t =>
        o = o.copy(minDocFreq = v.toLong); rest = t
      case "--force-start" :: t => o = o.copy(forceStart = true); rest = t
      case "--compact" :: t => o = o.copy(compact = true); rest = t
      case "--compact-into" :: v :: t => o = o.copy(compactInto = v); rest = t
      case "--compact-corpus" :: t => o = o.copy(compactCorpus = true); rest = t
      case "--retract" :: v :: t => o = o.copy(retractIds = v); rest = t
      case "--retract-watch" :: v :: t =>
        o = o.copy(retractWatch = v); rest = t
      case "--bucket-corpus" :: v :: t =>
        o = o.copy(bucketCorpus = v.toInt); rest = t
      case "--ledger-buckets" :: v :: t =>
        o = o.copy(ledgerBuckets = v.toInt); rest = t
      case "--rebucket" :: v :: t =>
        o = o.copy(rebucket = v.toInt); rest = t
      case "--target-file-mb" :: v :: t =>
        o = o.copy(targetFileMb = v.toInt); rest = t
      case "--keep-label" :: v :: t =>
        o = o.copy(keepLabels = o.keepLabels :+ v); rest = t
      case "--stream" :: t => o = o.copy(stream = true); rest = t
      case "--checkpoint" :: v :: t => o = o.copy(checkpoint = v); rest = t
      case "--bpe-merges" :: v :: t => o = o.copy(bpeMerges = v); rest = t
      case "--fit-bpe" :: t => o = o.copy(fitBpe = true); rest = t
      case "--bpe-num-merges" :: v :: t =>
        o = o.copy(bpeNumMerges = v.toInt); rest = t
      case "--quality-weights" :: v :: t =>
        o = o.copy(qualityWeights = v); rest = t
      case "--quality-threshold" :: v :: t =>
        o = o.copy(qualityThreshold = v.toDouble); rest = t
      case "--fit-quality" :: v :: t => o = o.copy(fitQuality = v); rest = t
      case "--quality-buckets" :: v :: t =>
        o = o.copy(qualityBuckets = v.toInt); rest = t
      case "--quality-lr" :: v :: t =>
        o = o.copy(qualityLr = v.toDouble); rest = t
      case "--quality-iters" :: v :: t =>
        o = o.copy(qualityIters = v.toInt); rest = t
      case bad :: _ => return Left(s"unknown option: $bad")
    }
    if (o.showHelp) Right(o)
    else if (o.ledgerBuckets < 1) Left("--ledger-buckets must be >= 1")
    else if (o.rebucket != 0 && !o.compact)
      Left("--rebucket requires --compact (it rides the compaction rewrite)")
    else if (o.rebucket < 0) Left("--rebucket must be >= 1")
    else if (o.buildDict) {
      if (o.corpus == null || o.boilerplateDict == null)
        Left("--build-dict requires --corpus and --boilerplate-dict")
      else if (o.minDocFreq < 2) Left("--min-doc-freq must be >= 2")
      else Right(o)
    }
    else if (o.retractIds != null) {
      if (o.corpus == null || o.ledger == null)
        Left("--retract requires --corpus and --ledger (the cycle lock)")
      else Right(o)
    }
    else if (o.bucketCorpus != 0) {
      if (o.corpus == null || o.ledger == null)
        Left("--bucket-corpus requires --corpus and --ledger (the cycle lock)")
      else if (o.bucketCorpus < 1)
        Left("--bucket-corpus must be >= 1")
      else Right(o)
    }
    else if (o.compactCorpus || o.compact) {
      // the two compactions COMBINE (both run under the one ledger lock)
      // rather than silently racing for the same dispatch branch
      if (o.compactCorpus && (o.corpus == null || o.ledger == null))
        Left("--compact-corpus requires --corpus and --ledger (the cycle lock)")
      else if (o.compactCorpus && o.targetFileMb < 1)
        Left("--target-file-mb must be >= 1")
      else if (o.compact && o.ledger == null) Left("--compact requires --ledger")
      else Right(o)
    }
    else if (o.fitBpe) {
      if (o.corpus == null || o.bpeMerges == null)
        Left("--fit-bpe requires --corpus and --bpe-merges")
      else if (o.bpeNumMerges < 1) Left("--bpe-num-merges must be >= 1")
      else Right(o)
    }
    else if (o.fitQuality != null) {
      if (o.qualityWeights == null)
        Left("--fit-quality requires --quality-weights")
      else if (o.qualityBuckets < 1 || o.qualityIters < 1 ||
          o.qualityLr <= 0.0)
        Left("--quality-buckets/--quality-iters must be >= 1 and " +
          "--quality-lr positive")
      else Right(o)
    }
    else if (o.corpus == null || o.batch == null || o.ledger == null ||
        o.out == null || o.ingest == null)
      Left("--corpus, --batch, --ledger, --out and --ingest are required")
    else if (o.warc && o.stream)
      Left("--warc cannot combine with --stream: the streaming file " +
        "source consumes parquet micro-batches (convert crawl files with " +
        "a --warc batch cycle, or land them as parquet)")
    else if (o.retractWatch != null && !o.stream)
      Left("--retract-watch requires --stream (batch runs use --retract)")
    else Right(o)
  }

  /** Refuse to run two curation cycles against one ledger at once — the
    * same create-file lock discipline as [[GraftCli]]'s warehouse lock
    * (no staleness heuristic; a crashed run leaves the file and the
    * message tells the operator what to remove). The reconcile heals a
    * crashed cycle's DATA; the lock prevents the one thing it cannot:
    * two concurrent cycles interleaving their corpus/ledger appends.
    * Scoped to the ledger directory, the unit concurrency corrupts. */
  def withLedgerLock[A](ledger: String, force: Boolean = false)
                       (body: => A): Either[String, A] = {
    // the lock resolves through the Hadoop FileSystem of the ledger
    // URI — the same filesystem the ledger parquet uses — so a remote
    // (hdfs://, s3a://) ledger is locked next to its data, not on a
    // bogus local path that would never exclude runs on other hosts
    // (create(overwrite = false) is the HDFS-atomic create; object
    // stores make it best-effort, like every file-based lock on them)
    val lockPath = new org.apache.hadoop.fs.Path(ledger, ".graft-curate.lock")
    val fs = lockPath.getFileSystem(org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(ledger))
    if (force) fs.delete(lockPath, false)
    val acquired =
      try { fs.create(lockPath, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!acquired)
      Left("Probably another graft-curate instance is already running " +
        "against this ledger. If a previous run finished incorrectly, " +
        s"check that no other instance is running and remove " +
        s"$lockPath (or pass --force-start).")
    else
      try Right(body)
      finally fs.delete(lockPath, false)
  }

  /** The batch-side dictionary build (`--build-dict`): count normalized
    * lines across the corpus, persist those in >= minDocFreq distinct
    * docs to `--boilerplate-dict` — the daily companion of the at-ingest
    * `--boilerplate-dict` apply, the same build/consume split as the
    * dedup ledger. Staged through a tmp dir and renamed so a concurrent
    * cycle never reads a half-written dictionary. Returns the line
    * count. Separated from [[main]] for the spec. */
  def buildDictionary(spark: SparkSession, o: Options): Long = {
    val dict = graft.operators.TextAnalysis.boilerplateDictionary(
      spark.read.parquet(o.corpus), o.idCol, o.textCol, o.minDocFreq)
    val target = new org.apache.hadoop.fs.Path(o.boilerplateDict)
    val tmp = new org.apache.hadoop.fs.Path(o.boilerplateDict + ".tmp")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    dict.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(target, true)
    require(fs.rename(tmp, target),
      s"could not publish dictionary to $target")
    spark.read.parquet(target.toString).count()
  }

  /** The batch-side tokenizer fit (`--fit-bpe`): learn the merge table
    * from the corpus and publish it to `--bpe-merges` through
    * [[graft.operators.Bpe.save]]'s staged rename — the fit/apply split
    * of the dictionary and ledger builds. Returns the merge count read
    * back through the validating load. */
  def fitBpeMerges(spark: SparkSession, o: Options): Int = {
    graft.operators.Bpe.save(spark,
      graft.operators.Bpe.train(
        graft.operators.Bpe.wordFrequencies(
          spark.read.parquet(o.corpus), o.textCol),
        o.bpeNumMerges),
      o.bpeMerges)
    graft.operators.Bpe.load(spark, o.bpeMerges).size
  }

  /** The batch-side quality-filter fit (`--fit-quality`): train the
    * hashed linear probe on a labeled parquet (text col + 'label' 0/1)
    * and publish the weight table to `--quality-weights` through
    * [[graft.operators.TextAnalysis.saveWeights]]'s staged rename.
    * Returns the bucket count read back through the validating load. */
  def fitQualityWeights(spark: SparkSession, o: Options): Int = {
    val w = graft.operators.TextAnalysis.trainHashedLinear(
      spark.read.parquet(o.fitQuality), o.textCol, "label",
      o.qualityBuckets, o.qualityLr, o.qualityIters)
    graft.operators.TextAnalysis.saveWeights(spark, w, 0.0, o.qualityWeights)
    graft.operators.TextAnalysis.loadWeights(spark, o.qualityWeights)._1.length
  }

  /** One ingest cycle; returns (kept, exact, near) counts. Separated from
    * [[main]] so the spec drives full cycles against temp dirs.
    *
    * Crash-safety: the cycle's three writes (verdicts, corpus append,
    * ledger append) are not one transaction, so every cycle OPENS with
    * [[DedupLedger.reconcile]] — a narrow anti-join that re-appends
    * ledger rows for any corpus doc a previous torn cycle left
    * unledgered (bootstrap is the degenerate case: everything heals).
    * The corpus append itself is idempotent: kept docs already present
    * in the corpus (a rerun after a crash between the corpus append and
    * the ledger append) are anti-joined away before appending. */
  def runCycle(spark: SparkSession, o: Options): (Long, Long, Long) =
    screenAndCommit(spark, o, readBatch(spark, o), o.ingest, o.out)

  /** The batch frame: parquet by default; with `--warc`, HTTP 200
    * responses out of the crawl files (doc id = xxhash64(file, record
    * index) — deterministic across reruns, so the recovery discipline
    * holds; text = the response body, extracted downstream via the
    * implied `--html`). */
  private[graft] def readBatch(spark: SparkSession,
                               o: Options): org.apache.spark.sql.DataFrame =
    if (!o.warc) spark.read.parquet(o.batch)
    else graft.sources.WarcReader.httpResponses(
        graft.sources.WarcReader.records(spark, o.batch))
      .filter(col("http_status") === 200)
      .select(
        xxhash64(col("source_file"), col("record_index")).as(o.idCol),
        col("body_utf8").as(o.textCol))

  /** Test hook: throw once between the corpus append and the ledger
    * write — the torn-cycle window the reconcile heals — to drive the
    * streaming mid-kill spec through the REAL crash seam. */
  private[graft] var testFailBeforeLedgerWriteOnce: Boolean = false

  /** Screen ONE batch frame and commit its three writes (verdicts,
    * corpus append, ledger append) — the unit [[runCycle]] runs once per
    * invocation and [[runStream]] runs once per micro-batch. */
  private[graft] def screenAndCommit(spark: SparkSession, o: Options,
                                     rawBatch: org.apache.spark.sql.DataFrame,
                                     ingest: String,
                                     outDir: String): (Long, Long, Long) = {
    // finish any compaction or retraction a previous run left mid-swap
    // BEFORE touching the ledger trees (cheap no-ops when clean); the
    // winnow ledger has the same roll-forward seams
    DedupLedger.recoverCompact(spark, o.ledger)
    DedupLedger.recoverDelete(spark, o.ledger)
    if (o.spanEvidence) {
      graft.operators.WinnowLedger.recoverCompact(spark, s"${o.ledger}/winnow")
      graft.operators.WinnowLedger.recoverDelete(spark, s"${o.ledger}/winnow")
    }
    // raw-HTML extraction first (optional): downstream stages — the
    // boilerplate dictionary, decontamination and the dedup screen — all
    // operate on extracted TEXT, and the corpus stores text, not markup
    val textBatch =
      if (!o.html) rawBatch
      else rawBatch.withColumn(o.textCol,
        graft.operators.TextAnalysis.htmlToText(col(o.textCol)))
    // boilerplate strip at ingest (optional): the persisted dictionary
    // rewrites each doc's text BEFORE the screen, so dedup verdicts are
    // taken on content, not on shared banners — and the corpus receives
    // the cleaned text. Stateless given the dictionary, so the streaming
    // cycle applies it per micro-batch unchanged.
    val batch = Option(o.boilerplateDict) match {
      case None => textBatch
      case Some(dictPath) =>
        val cleaned = graft.operators.TextAnalysis
          .applyBoilerplateDictionary(textBatch, o.idCol, o.textCol,
            spark.read.parquet(dictPath))
          .select(col(o.idCol), col("clean_text"))
        textBatch.drop(o.textCol)
          .join(cleaned, Seq(o.idCol))
          .withColumnRenamed("clean_text", o.textCol)
    }
    // a --compact-corpus run killed between its two renames leaves the
    // corpus parked under <corpus>.old — roll it back before reading;
    // an interrupted --retract leaves a PartitionSwap marker on a
    // bucketed corpus — roll that forward too (writer's job, we hold
    // the lock). CorpusStore.read then drops the layout column.
    graft.core.Publish.healArtifact(
      new org.apache.hadoop.fs.Path(o.corpus).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(o.corpus))
    graft.core.CorpusStore.recover(spark, o.corpus)
    val corpus = graft.core.CorpusStore.read(spark, o.corpus)
    DedupLedger.reconcile(corpus, o.idCol, o.textCol, o.n, o.numHashes,
      o.rowsPerBand, o.ledger,
      ingest = if (DedupLedger.exists(o.ledger)) s"${ingest}_healed"
               else "bootstrap",
      buckets = o.ledgerBuckets)
    val (fp, bands) = DedupLedger.read(spark, o.ledger, o.n, o.numHashes,
      o.rowsPerBand)
    // A recovery rerun (crash after the corpus append — or a streaming
    // restart redelivering the last uncommitted micro-batch) sees THIS
    // batch's kept docs already in the corpus — and, post-reconcile, in
    // the ledger. Exclude the batch's own ids from the history side so
    // the rerun's verdicts reproduce the original cycle's (a doc never
    // screens against itself); without this a rerun reports every
    // previously-kept doc as 'exact' with matched_id = its own id.
    val batchIds = batch.select(col(o.idCol)).distinct()
    val history = corpus.join(batchIds, Seq(o.idCol), "left_anti")
    val ledgerIds = batchIds.select(col(o.idCol).as("doc_id"))
    // contact redaction (optional): rewrite BEFORE the screen so dedup
    // matches the redacted text and the corpus never stores raw contacts
    val redacted =
      if (!o.redactContacts) batch
      else batch.withColumn(o.textCol,
        graft.operators.TextAnalysis.redactContacts(col(o.textCol)))
    // language gate (optional): terminal 'lang_filtered' verdict, the
    // decontamination discipline applied to the n-gram language ID
    val (langKept, langIds) = Option(o.lang) match {
      case None => (redacted, None)
      case Some(code) =>
        val labeled = graft.operators.TextAnalysis
          .withLangId(redacted, o.textCol, "__lang")
        val dropped = labeled
          .filter(col("__lang").isNull || col("__lang") =!= code)
          .select(col(o.idCol)).localCheckpoint()
        (labeled.filter(col("__lang") === code).drop("__lang"),
          Some(dropped))
    }
    // quality gate (optional): the PERSISTED trained filter scores each
    // doc's mean hashed features; below-threshold docs get a terminal
    // 'low_quality' verdict. Sits after the language gate (quality
    // models are language-specific) and before decontamination and the
    // dedup screen (no point screening docs that won't train)
    val (qualKept, qualIds) = Option(o.qualityWeights) match {
      case None => (langKept, None)
      case Some(wPath) =>
        val (wts, bias) =
          graft.operators.TextAnalysis.loadWeights(spark, wPath)
        val scored = graft.operators.TextAnalysis.hashedMeanScore(
          langKept, o.textCol, wts, bias, "__q")
        val dropped = scored.filter(col("__q") < o.qualityThreshold)
          .select(col(o.idCol)).localCheckpoint()
        (scored.filter(col("__q") >= o.qualityThreshold).drop("__q"),
          Some(dropped))
    }
    // decontamination gate (optional): leaked docs get a terminal
    // 'contaminated' verdict and never reach the screen or the corpus —
    // checked on the post-boilerplate text, the order a training
    // pipeline wants (strip noise, then test leakage on content)
    val (screenIn, contamIds) = Option(o.decontaminate) match {
      case None => (qualKept, None)
      case Some(benchPath) =>
        val flagged = Dedup.contamination(qualKept,
            spark.read.parquet(benchPath), o.idCol, o.textCol, o.n)
          .filter(col("contamination") >= o.contamThreshold)
          .select(col("doc_id").as(o.idCol))
          .localCheckpoint() // two consumers: the anti-join + verdict rows
        (qualKept.join(flagged, Seq(o.idCol), "left_anti"), Some(flagged))
    }
    // span evidence (optional): the winnowing-fingerprint ledger heals
    // like the dedup ledger (same corpus anti-join), the batch's own ids
    // are excluded from the history side (recovery reruns), and every
    // shared run lands in <out>_spans before the verdict write
    if (o.spanEvidence) {
      val wPath = s"${o.ledger}/winnow"
      graft.operators.WinnowLedger.reconcile(corpus, o.idCol, o.textCol,
        o.spanK, o.spanW, wPath,
        ingest = if (graft.operators.WinnowLedger.exists(wPath))
          s"${ingest}_healed" else "bootstrap",
        buckets = o.ledgerBuckets)
      Dedup.winnowingMatchesAgainst(
          graft.operators.WinnowLedger.read(spark, wPath, o.spanK, o.spanW)
            .join(ledgerIds, Seq("doc_id"), "left_anti"),
          screenIn, o.idCol, o.textCol, o.spanK, o.spanW,
          ledgerBuckets = graft.operators.WinnowLedger.bucketsOf(wPath))
        .write.mode("overwrite").parquet(s"${outDir}_spans")
    }
    val screenOut = Dedup.incrementalDedupLedgered(history,
      fp.join(ledgerIds, Seq("doc_id"), "left_anti"),
      bands.join(ledgerIds, Seq("doc_id"), "left_anti"), screenIn,
      o.idCol, o.textCol, o.n, o.numHashes, o.rowsPerBand, o.threshold,
      ledgerBuckets = DedupLedger.bucketsOf(o.ledger))
    def terminal(ids: org.apache.spark.sql.DataFrame, verdict: String) =
      ids.select(col(o.idCol).as("doc_id"),
        lit(verdict).as("verdict"),
        lit(null).cast("long").as("matched_id"),
        lit(null).cast("double").as("jaccard"))
    (contamIds.map(terminal(_, "contaminated")).toSeq ++
        qualIds.map(terminal(_, "low_quality")).toSeq ++
        langIds.map(terminal(_, "lang_filtered")).toSeq)
      .foldLeft(screenOut)(_ unionByName _)
      .write.mode("overwrite").parquet(outDir)
    // decide kept docs off the WRITTEN verdicts (one screen, two sinks)
    val verdicts = spark.read.parquet(outDir)
    // kept rows come from the fully-prepared frame (redacted, filtered),
    // so the corpus stores exactly the text the screen saw
    val kept = screenIn.join(
      verdicts.filter(col("verdict") === "keep")
        .select(col("doc_id").as(o.idCol)), Seq(o.idCol), "left_semi")
      // rerun-idempotent: drop kept docs a crashed prior attempt of THIS
      // cycle already appended to the corpus
      .join(corpus.select(col(o.idCol)), Seq(o.idCol), "left_anti")
      // two consumers below (corpus append + ledger append) and the
      // semi-join must not observe the corpus append mid-write
      .localCheckpoint()
    // follows the corpus' recorded layout (bucketed after a
    // --bucket-corpus migration, flat before it)
    graft.core.CorpusStore.append(kept, o.corpus, o.idCol)
    if (testFailBeforeLedgerWriteOnce) {
      testFailBeforeLedgerWriteOnce = false
      throw new IllegalStateException(
        "test kill between corpus append and ledger write")
    }
    DedupLedger.write(kept, o.idCol, o.textCol, o.n, o.numHashes,
      o.rowsPerBand, o.ledger, ingest = ingest)
    // kept already excludes corpus-present docs (idempotent append), so
    // a recovery rerun cannot duplicate winnow rows either
    if (o.spanEvidence)
      graft.operators.WinnowLedger.write(kept, o.idCol, o.textCol,
        o.spanK, o.spanW, s"${o.ledger}/winnow", ingest = ingest,
        buckets = o.ledgerBuckets)
    // token accounting (optional): the training tokens THIS run newly
    // added to the corpus, under the persisted tokenizer. Derived-only
    // (rebuilt from corpus + merges at will), written after the durable
    // appends; a recovery rerun writes an empty account — correct, since
    // the rerun adds nothing new
    Option(o.bpeMerges).foreach { mPath =>
      graft.operators.Bpe.tokenCounts(kept, o.idCol, o.textCol,
          graft.operators.Bpe.load(spark, mPath))
        .write.mode("overwrite").parquet(s"${outDir}_tokens")
      val added = spark.read.parquet(s"${outDir}_tokens")
        .agg(coalesce(sum(col("n_bpe_tokens")), lit(0L))).collect().head.getLong(0)
      println(s"tokens added: $added")
    }
    val counts = verdicts.groupBy(col("verdict")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (counts.getOrElse("keep", 0L), counts.getOrElse("exact", 0L),
      counts.getOrElse("near", 0L))
  }

  /** Compact the corpus' accumulated small files — every cycle appends
    * one file set, so at daily cadence the corpus directory collects
    * hundreds of sub-row-group files and every later screen pays the
    * per-file open/footer cost. Rewrites the corpus into
    * ceil(bytes / targetFileMb) parquet files.
    *
    * Content-preserving by VALIDATION, not hope: the staged copy must
    * reproduce the exact row count and an order-free content checksum
    * (bit_xor of xxhash64 over every column) before the swap — a
    * staging bug fails loudly with the corpus untouched. The swap is
    * [[graft.core.Publish.swapArtifact]] (park-then-rename): a kill at
    * any point leaves the old corpus live or parked, and the next cycle
    * (or this method) heals the parked copy back. Returns (rows,
    * filesBefore, filesAfter). */
  private[graft] def compactCorpus(spark: SparkSession, corpusPath: String,
                                   targetFileMb: Int = 256,
                                   idCol: String = "doc_id"): (Long, Int, Int) = {
    val target = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.Publish.healArtifact(fs, target)
    graft.core.CorpusStore.recover(spark, corpusPath)
    require(fs.exists(target), s"no corpus at $corpusPath")
    def parquetFiles(p: org.apache.hadoop.fs.Path): Int = {
      // recursive: a bucketed corpus keeps its files inside docb= dirs
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val bytes = fs.getContentSummary(target).getLength
    val nFiles = math.max(1,
      math.ceil(bytes.toDouble / (targetFileMb.toLong << 20)).toInt)
    val bucketed = graft.core.CorpusStore.isBucketed(corpusPath)
    val before = graft.core.CorpusStore.read(spark, corpusPath)
    val (cnt, sig) = corpusChecksum(before)
    val filesBefore = parquetFiles(target)
    val tmp = new org.apache.hadoop.fs.Path(corpusPath + ".tmp")
    fs.delete(tmp, true)
    if (!bucketed) before.repartition(nFiles).write.parquet(tmp.toString)
    else {
      // layout-preserving: re-bucket by the recorded id hash so retracts
      // stay surgical after compaction; REBALANCE + the advisory size
      // give ~targetFileMb files without a task-x-bucket small-file spray
      val b = graft.core.CorpusStore.layout(corpusPath, idCol)
      val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val saved = spark.conf.getOption(advisoryKey)
      spark.conf.set(advisoryKey, s"${targetFileMb}m")
      try before
        .withColumn("docb", graft.core.CorpusStore.bucketCol(idCol, b))
        .hint("rebalance", "docb")
        .write.partitionBy("docb").parquet(tmp.toString)
      finally saved match {
        case Some(v) => spark.conf.set(advisoryKey, v)
        case None => spark.conf.unset(advisoryKey)
      }
      graft.core.CorpusStore.writeLayoutMarker(fs, tmp, b, idCol)
    }
    val (cnt2, sig2) =
      corpusChecksum(spark.read.parquet(tmp.toString).drop("docb"))
    require(cnt2 == cnt && sig2 == sig,
      s"staged corpus diverged (rows $cnt -> $cnt2, checksum $sig -> $sig2) " +
        "— refusing to swap; the live corpus is untouched")
    graft.core.Publish.swapArtifact(fs, tmp, target)
    (cnt, filesBefore, parquetFiles(target))
  }

  private def corpusChecksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val row = df.select(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(*))"), lit(0L)).as("x"))
      .collect().head
    (row.getLong(0), row.getLong(1))
  }

  /** Remove retracted documents from the LIVE corpus — the corpus half
    * of `--retract` (takedown / right-to-be-forgotten). On a BUCKETED
    * corpus (after `--bucket-corpus`) this is surgical:
    * [[graft.core.CorpusStore.retract]] rewrites only the id-hash
    * bucket partitions the retracted ids live in, validated per bucket
    * and committed through the [[graft.core.PartitionSwap]] marker. On
    * an unmigrated flat corpus it falls back to the full staged
    * rewrite: the anti-joined copy must reproduce the expected row
    * count and order-free checksum computed from the SAME frame before
    * the write, so a torn write fails loudly with the live corpus
    * untouched; the swap is the parked
    * [[graft.core.Publish.swapArtifact]]. Returns rowsRemoved. */
  private[graft] def retractFromCorpus(spark: SparkSession,
                                       corpusPath: String, idCol: String,
                                       ids: org.apache.spark.sql.DataFrame)
      : Long = {
    if (graft.core.CorpusStore.isBucketed(corpusPath))
      return graft.core.CorpusStore.retract(spark, corpusPath, idCol, ids)._1
    val target = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.Publish.healArtifact(fs, target)
    require(fs.exists(target), s"no corpus at $corpusPath")
    val idSet = ids.select(col(ids.columns.head).as(idCol)).distinct()
    val before = spark.read.parquet(corpusPath)
    val removed = before.join(idSet, Seq(idCol), "left_semi").count()
    if (removed == 0L) return 0L
    val keep = before.join(idSet, Seq(idCol), "left_anti")
    val (cnt, sig) = corpusChecksum(keep)
    val tmp = new org.apache.hadoop.fs.Path(corpusPath + ".tmp")
    fs.delete(tmp, true)
    keep.write.parquet(tmp.toString)
    val (cnt2, sig2) = corpusChecksum(spark.read.parquet(tmp.toString))
    require(cnt2 == cnt && sig2 == sig,
      s"staged corpus diverged (rows $cnt -> $cnt2, checksum $sig -> $sig2) " +
        "— refusing to swap; the live corpus is untouched")
    graft.core.Publish.swapArtifact(fs, tmp, target)
    removed
  }

  /** The full takedown, under the ledger lock: corpus FIRST, then both
    * ledgers. The order is the safe one — a crash between the two
    * leaves ledger rows for already-removed docs, which only
    * OVER-screens future batches (conservative) until the re-run
    * completes; the reverse order would let the next cycle's reconcile
    * re-derive ledger rows from the still-present corpus doc and
    * silently resurrect the retraction. Idempotent: every stage
    * anti-joins, so a re-run after any crash completes the remainder. */
  private[graft] def runRetract(spark: SparkSession, o: Options)
      : (Long, Int, Int, Int) = {
    val ids = spark.read.parquet(o.retractIds)
    // roll forward any earlier retraction's interrupted ledger swaps
    DedupLedger.recoverDelete(spark, o.ledger)
    val wPath = s"${o.ledger}/winnow"
    if (graft.operators.WinnowLedger.exists(wPath))
      graft.operators.WinnowLedger.recoverDelete(spark, wPath)
    val removed = retractFromCorpus(spark, o.corpus, o.idCol, ids)
    val (fpParts, bandParts) =
      if (DedupLedger.exists(o.ledger))
        DedupLedger.delete(spark, o.ledger, ids, o.n, o.numHashes,
          o.rowsPerBand)
      else (0, 0)
    val wfpParts =
      if (graft.operators.WinnowLedger.exists(wPath))
        graft.operators.WinnowLedger.delete(spark, wPath, ids,
          o.spanK, o.spanW)
      else 0
    (removed, fpParts, bandParts, wfpParts)
  }

  /** Drain queued takedown requests (`--retract-watch`): every
    * `*.parquet` file directly in the watch dir runs the FULL retract
    * path — corpus first, then both ledgers, the [[runRetract]] order —
    * and is then moved to `done/`. Called between micro-batches (and at
    * stream start) while the stream still holds the ledger lock, so a
    * long-lived curation stream honors takedowns without stopping.
    * Crash-safe by idempotence: a kill after the retract but before the
    * move re-runs the retract on restart (every stage anti-joins — a
    * completed takedown re-drains as a no-op); a kill mid-retract rolls
    * forward through the per-store recovery the retract itself runs.
    * Returns the number of drained request files. */
  private[graft] def drainRetracts(spark: SparkSession, o: Options): Int = {
    if (o.retractWatch == null) return 0
    val dir = new java.io.File(o.retractWatch)
    if (!dir.isDirectory) return 0
    val files = dir.listFiles().filter(f =>
      f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
    if (files.isEmpty) return 0
    val done = new java.io.File(dir, "done")
    done.mkdirs()
    files.foreach { f =>
      val (removed, fpP, bandP, wfpP) =
        runRetract(spark, o.copy(retractIds = f.getAbsolutePath))
      println(s"retract ${f.getName}: removed $removed docs; rewrote " +
        s"$fpP fp / $bandP band / $wfpP winnow partitions")
      val target = new java.io.File(done, f.getName)
      if (target.exists()) target.delete()
      require(f.renameTo(target),
        s"could not move drained retract file ${f.getPath} to $target")
    }
    files.length
  }

  /** The at-ingest STREAMING cycle: `--batch` is a directory new parquet
    * files land in; every micro-batch runs the SAME screen-and-commit
    * unit as a batch cycle (so stream == batch verdict-for-verdict),
    * with its ledger rows under `<ingest>_b<batchId>` and its verdicts
    * under `<out>/batch=<batchId>`.
    *
    * Restart discipline: the file-source checkpoint redelivers the last
    * uncommitted micro-batch after a kill; the cycle's own recovery
    * (reconcile + corpus-append anti-join + batch-id history exclusion)
    * makes the redo idempotent — same verdicts, no duplicate corpus or
    * ledger rows. The ledger lock is held for the stream's lifetime. */
  def runStream(spark: SparkSession, o: Options, checkpoint: String,
                maxFilesPerTrigger: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // takedowns queued while the stream was down drain first — even if
    // no new batch files ever trigger a micro-batch
    drainRetracts(spark, o)
    val schema = spark.read.parquet(o.batch).schema
    var reader = spark.readStream.schema(schema)
    if (maxFilesPerTrigger > 0)
      reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    reader.parquet(o.batch)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         bid: Long) =>
          // between micro-batches, under the stream's ledger lock: the
          // screen that follows never sees a half-retracted store
          drainRetracts(spark, o)
          val (k, e, nr) = screenAndCommit(spark, o, b.toDF(),
            s"${o.ingest}_b$bid", s"${o.out}/batch=$bid")
          println(s"batch=$bid kept=$k exact=$e near=$nr")
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    parse(args.toSeq) match {
      case Left(err) =>
        System.err.println(err); System.err.println(Usage); sys.exit(2)
      case Right(o) if o.showHelp => println(Usage)
      case Right(o) =>
        val spark = core.Session.start("graft-curate", core.Session.Curate)
        try {
          if (o.buildDict) {
            val n = buildDictionary(spark, o)
            println(s"dictionary lines: $n")
          } else if (o.fitBpe) {
            val n = fitBpeMerges(spark, o)
            println(s"bpe merges: $n")
          } else if (o.fitQuality != null) {
            val n = fitQualityWeights(spark, o)
            println(s"quality buckets: $n")
          } else if (o.bucketCorpus != 0) {
            withLedgerLock(o.ledger, o.forceStart) {
              graft.core.CorpusStore.bucketize(spark, o.corpus, o.idCol,
                o.bucketCorpus)
            } match {
              case Left(err) => System.err.println(err); sys.exit(3)
              case Right((rows, b)) =>
                println(s"bucketed corpus: $rows rows into $b buckets")
            }
          } else if (o.retractIds != null) {
            withLedgerLock(o.ledger, o.forceStart) {
              runRetract(spark, o)
            } match {
              case Left(err) => System.err.println(err); sys.exit(3)
              case Right((removed, fpP, bandP, wfpP)) =>
                println(s"retracted $removed docs from corpus; rewrote " +
                  s"$fpP fp / $bandP band / $wfpP winnow partitions")
            }
          } else if (o.compact || o.compactCorpus) {
            // both compactions (when both flags are passed) run under the
            // SINGLE ledger lock — neither is ever silently skipped
            withLedgerLock(o.ledger, o.forceStart) {
              val rebucketTo = if (o.rebucket > 0) Some(o.rebucket) else None
              val ledgerRes = if (o.compact) {
                val before = DedupLedger.ingestLabels(spark, o.ledger).size
                DedupLedger.compact(spark, o.ledger, o.n, o.numHashes,
                  o.rowsPerBand, o.compactInto, o.keepLabels.toSet,
                  rebucketTo)
                val after = DedupLedger.ingestLabels(spark, o.ledger).size
                // the winnow ledger (span evidence) compacts under the same
                // lock, retention labels and rebucket target when present
                val wPath = s"${o.ledger}/winnow"
                val w =
                  if (graft.operators.WinnowLedger.exists(wPath)) {
                    val wb = graft.operators.WinnowLedger
                      .ingestLabels(spark, wPath).size
                    graft.operators.WinnowLedger.compact(spark, wPath,
                      o.spanK, o.spanW, o.compactInto, o.keepLabels.toSet,
                      rebucketTo)
                    val wa = graft.operators.WinnowLedger
                      .ingestLabels(spark, wPath).size
                    Some((wb, wa))
                  } else None
                Some((before, after, w))
              } else None
              val corpusRes =
                if (o.compactCorpus)
                  Some(compactCorpus(spark, o.corpus, o.targetFileMb))
                else None
              (ledgerRes, corpusRes)
            } match {
              case Left(err) => System.err.println(err); sys.exit(3)
              case Right((ledgerRes, corpusRes)) =>
                ledgerRes.foreach { case (before, after, w) =>
                  println(s"compacted ingest partitions: $before -> $after")
                  w.foreach { case (wb, wa) =>
                    println(s"compacted winnow partitions: $wb -> $wa") }
                }
                corpusRes.foreach { case (rows, fb, fa) =>
                  println(s"compacted corpus: $rows rows, files $fb -> $fa")
                }
            }
          } else if (o.stream) {
            withLedgerLock(o.ledger, o.forceStart) {
              val chk = Option(o.checkpoint).getOrElse(s"${o.out}/_checkpoint")
              runStream(spark, o, chk).awaitTermination()
            } match {
              case Left(err) => System.err.println(err); sys.exit(3)
              case Right(_) => println("stream drained")
            }
          } else withLedgerLock(o.ledger, o.forceStart)(runCycle(spark, o)) match {
            case Left(err) => System.err.println(err); sys.exit(3)
            case Right((kept, exact, near)) =>
              println(s"kept=$kept exact=$exact near=$near")
          }
        } finally spark.stop()
    }
  }
}
