package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.CurateCli
import graft.operators.{Dedup, DedupLedger}
import graft.perfbench.Main.Run

/** `curate_cycles`: incremental curation whose state grows every cycle.
  * The first batch bootstraps the ledger (warm-up); then every round runs
  * three `CurateCli.runCycle`s over fresh batches, one `runRetract` of a
  * takedown list, and the compaction pair (`DedupLedger.compact` +
  * `CurateCli.compactCorpus`), each under the ledger lock as
  * `CurateCli.main` takes it.
  *
  * A `--trace 1` run traces its rounds: each call in a span, and before
  * each cycle the dedup screen alone (`Dedup.incrementalDedupLedgered`
  * over the inputs the cycle will read) forced through the noop sink. A traced run ends with the screen of the next
  * batch run untraced and traced in turn, for the tracing overhead, and
  * one traced pass of the query catalog (see [[QueryCatalog.tracedPass]]).
  */
object CurateCycles {
  private val CyclesPerRound = 3

  def run(r: Run): Unit = {
    val spark = r.spark
    val tr = r.tracer
    val expect = Expect.load(r.input)
    val batches = expect.list("batches").map(Expect.Obj(_))
    val takedowns = expect.list("takedowns").map(_.elements().asScala.map(_.asLong()).toSeq)
    val corpus = r.work.resolve("corpus")
    copyTree(r.input.resolve("corpus"), corpus)
    val base = CurateCli.Options(corpus = corpus.toString,
      ledger = r.work.resolve("ledger").toString)
    def opts(b: Int) = base.copy(
      batch = r.input.resolve("batches").resolve(f"b$b%03d").toString,
      out = r.work.resolve("verdicts").resolve(f"b$b%03d").toString,
      ingest = f"c$b%03d")
    def locked[A](body: => A): A =
      CurateCli.withLedgerLock(base.ledger)(body).fold(e => sys.error(e), identity)

    def cycle(b: Int): Unit =
      tr.span("CurateCli.runCycle")(locked(CurateCli.runCycle(spark, opts(b))))
    def retract(t: Int): Unit = {
      val o = base.copy(retractIds = r.input.resolve("takedowns").resolve(f"t$t%03d").toString)
      tr.span("CurateCli.runRetract")(locked(CurateCli.runRetract(spark, o)))
    }
    def compact(): Unit = locked {
      DedupLedger.ingestLabels(spark, base.ledger)
      tr.span("operators.DedupLedger.compact") {
        DedupLedger.compact(spark, base.ledger, base.n, base.numHashes,
          base.rowsPerBand, base.compactInto, base.keepLabels.toSet, None)
      }
      DedupLedger.ingestLabels(spark, base.ledger)
      tr.span("CurateCli.compactCorpus") {
        CurateCli.compactCorpus(spark, base.corpus, base.targetFileMb)
      }
    }
    def checksum(): (Long, Long) = {
      val x = graft.core.CorpusStore.read(spark, base.corpus)
        .select(count(lit(1)), coalesce(expr("bit_xor(xxhash64(doc_id, text))"), lit(0L)))
        .collect().head
      (x.getLong(0), x.getLong(1))
    }

    // warm-up: the bootstrap cycle (first ledger build over the corpus)
    r.timed("warmup", -1)(cycle(0))
    val ran = scala.collection.mutable.ArrayBuffer(0)
    val retracted = scala.collection.mutable.ArrayBuffer.empty[Long]
    r.startTimed()
    var round = 0
    var next = 1
    var checksumsOk = true
    val traced = r.trace
    tr.enabled = traced
    while (next + CyclesPerRound <= batches.size && round < takedowns.size && r.timeLeft) {
      tr.round = round
      for (_ <- 0 until CyclesPerRound) {
        val b = next
        // the screen alone runs before the cycle, outside its timing
        if (traced) tr.span("operators.Dedup.incrementalDedupLedgered")(screen(r, opts(b)))
        r.timed("cycle", round, traced)(cycle(b))
        ran += b
        next += 1
      }
      r.timed("retract", round, traced)(retract(round))
      retracted ++= takedowns(round)
      // the content checksum brackets the compaction, outside its timing
      val before = checksum()
      r.timed("compact", round, traced)(compact())
      checksumsOk &&= checksum() == before
      round += 1
    }
    tr.enabled = false
    if (r.trace) {
      // tracing overhead: the next batch's screen, untraced and traced in
      // turn (timed outside the workload's rounds; its spans carry round
      // -2, so they stay out of the per-layer medians)
      tr.round = -2
      for (k <- 0 until 4) {
        tr.enabled = k % 2 == 1
        r.timed("screen", -2, traced = tr.enabled)(
          tr.span("operators.Dedup.incrementalDedupLedgered")(screen(r, opts(next))))
      }
      tr.enabled = false
      // the query-catalog layers: read-only work that curation changes are
      // predicted not to move
      QueryCatalog.tracedPass(r, r.input.resolve("catalog"))
    }
    r.values("corpus_bytes") = StudyLoad.dirBytes(corpus).toDouble
    r.values("ledger_bytes") = StudyLoad.dirBytes(r.work.resolve("ledger")).toDouble

    // ---- output checks (outside the timed part)
    for (b <- ran) {
      val exp = batches(b)
      val v = spark.read.parquet(opts(b).out).collect()
        .map(x => x.getAs[Long]("doc_id") ->
          (x.getAs[String]("verdict"), Option(x.getAs[java.lang.Long]("matched_id")).map(_.longValue)))
        .toMap
      r.check(f"verdict counts sum to the batch size [b$b%03d]",
        v.size == exp.long("size"), s"${v.size} verdicts for ${exp.long("size")} docs")
      val exact = exp.list("exact").map(p => (p.get(0).asLong(), p.get(1).asLong()))
      val wrong = exact.filterNot { case (id, src) => v.get(id).contains(("exact", Some(src))) }
      r.check(f"injected exact duplicates verdicted exact with their source [b$b%03d]",
        wrong.isEmpty, wrong.take(3).map { case (id, _) => s"$id -> ${v.get(id)}" }.mkString("; "))
    }
    val gone = spark.createDataFrame(retracted.map(Tuple1(_)).toSeq).toDF("doc_id")
    val inCorpus = graft.core.CorpusStore.read(spark, base.corpus)
      .join(gone, Seq("doc_id"), "left_semi").count()
    r.check("retracted ids are gone from the corpus", inCorpus == 0, s"$inCorpus remain")
    val (fp, bands) = DedupLedger.read(spark, base.ledger, base.n, base.numHashes, base.rowsPerBand)
    val inLedger = fp.join(gone, Seq("doc_id"), "left_semi").count() +
      bands.join(gone, Seq("doc_id"), "left_semi").count()
    r.check("retracted ids are gone from the ledger", inLedger == 0, s"$inLedger rows remain")
    r.check("compactCorpus leaves the corpus checksum unchanged", checksumsOk, "checksum moved")
    r.check("curation loop completed at least one round", round > 0, "no round")
  }

  /** The dedup screen of one cycle on its own: the history, ledger and
    * batch frames `CurateCli.runCycle` builds, screened and discarded. */
  private def screen(r: Run, o: CurateCli.Options): Unit = {
    val spark = r.spark
    val batch = spark.read.parquet(o.batch)
    val corpus = graft.core.CorpusStore.read(spark, o.corpus)
    val (fp, bands) = DedupLedger.read(spark, o.ledger, o.n, o.numHashes, o.rowsPerBand)
    val batchIds = batch.select(col(o.idCol)).distinct()
    val history = corpus.join(batchIds, Seq(o.idCol), "left_anti")
    val ledgerIds = batchIds.select(col(o.idCol).as("doc_id"))
    Dedup.incrementalDedupLedgered(history,
      fp.join(ledgerIds, Seq("doc_id"), "left_anti"),
      bands.join(ledgerIds, Seq("doc_id"), "left_anti"), batch,
      o.idCol, o.textCol, o.n, o.numHashes, o.rowsPerBand, o.threshold,
      ledgerBuckets = DedupLedger.bucketsOf(o.ledger))
      .write.format("noop").mode("overwrite").save()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}
