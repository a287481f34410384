package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.GraftCli
import graft.core.{Publish, StudyDiscovery}
import graft.operators.StudyOps
import graft.perfbench.Main.Run

/** `study_load`: the reference's `tm_etl` product path. Each generated
  * study directory is uploaded by its own `GraftCli.run` into the
  * warehouse; every round uploads one study, moves it to a new ontology
  * path and deletes it, so the warehouse holds one study at a time.
  *
  * The rounds of a `--trace 1` run call the same module functions
  * `GraftCli.run` reaches — study discovery, the per-datatype uploads,
  * `StudyOps` + `writeStar` — inside spans; the run then forces the
  * source readers and pipelines through the noop sink on a generated
  * study for their floors, once untraced and once traced.
  */
object StudyLoad {
  private val Parent = "\\Public Studies"
  private val MovedParent = "\\Public Studies\\Moved"

  def run(r: Run): Unit = {
    val spark = r.spark
    val expect = Expect.load(r.input)
    val studies = expect.list("studies").map(Expect.Obj(_))
    val wh = r.work.resolve("warehouse")
    def root(i: Int) = r.input.resolve("studies").resolve(f"$i%03d")
    def label(i: Int) = studies(i).str("label")
    def sid(i: Int) = studies(i).str("study_id")
    def oldPath(i: Int) = s"$Parent\\${label(i)}\\"
    def newPath(i: Int) = s"$MovedParent\\${label(i)}\\"
    val tr = r.tracer

    def upload(i: Int, traced: Boolean): Unit = {
      val code =
        if (!traced) GraftCli.run(spark, Seq("-o", wh.toString, "--parent-node",
          Parent, root(i).toString))
        else tracedUpload(r, root(i), wh)
      require(code == 0, s"upload of study $i returned $code")
    }
    def move(i: Int, traced: Boolean): Unit =
      if (!traced)
        require(GraftCli.run(spark, Seq("-o", wh.toString, "--move-study",
          s"${oldPath(i)};${newPath(i)}")) == 0, s"move of study $i failed")
      else tr.span("operators.StudyOps.move") {
        val res = tr.span("StudyOps.moveStudyByPath") {
          StudyOps.moveStudyByPath(spark, GraftCli.loadStar(spark, wh), oldPath(i), newPath(i))
        }
        require(res.error.isEmpty, res.error.getOrElse(""))
        tr.span("GraftCli.writeStar") {
          GraftCli.writeStar(res.star, wh, affectedTrials = Some(res.deletedTrial.toSeq))
        }
      }
    def delete(i: Int, traced: Boolean): Unit =
      if (!traced)
        require(GraftCli.run(spark, Seq("-o", wh.toString,
          "--delete-study-by-id", sid(i))) == 0, s"delete of study $i failed")
      else tr.span("operators.StudyOps.delete") {
        val star = GraftCli.loadStar(spark, wh)
        val out = tr.span("StudyOps.deleteStudy") {
          StudyOps.deleteStudy(spark, star, pathIn = None, trialIdIn = Some(sid(i)))
        }
        tr.span("GraftCli.writeStar") {
          GraftCli.writeStar(out, wh, affectedTrials = Some(Seq(sid(i))))
        }
      }

    // No warm-up: every graft-etl invocation is a fresh JVM, so the first
    // upload of a process is the one its user waits for. Round r uploads
    // study r into the warehouse, moves it under another parent node and
    // deletes it; the checks between operations are not timed. In a traced
    // run every round is traced.
    r.startTimed()
    var round = 0
    val traced = r.trace
    tr.enabled = traced
    while (round < studies.size - 1 && r.timeLeft) {
      tr.round = round
      val i = round
      val inputBytes = dirBytes(root(i))
      r.timed("upload", round, traced)(upload(i, traced))
      if (round == 0) {
        r.values("input_bytes") = inputBytes.toDouble
        r.values("warehouse_bytes") = dirBytes(wh).toDouble
      }
      checkLoaded(r, wh, studies(i), oldPath(i))
      r.timed("move", round, traced)(move(i, traced))
      checkLoaded(r, wh, studies(i), newPath(i))
      r.checking(s"no i2b2 row under the old path [${sid(i)}]") {
        GraftCli.readTable(spark, wh, "i2b2")
          .filter(col("c_fullname").startsWith(oldPath(i))).isEmpty
      }
      r.timed("delete", round, traced)(delete(i, traced))
      checkDeleted(r, wh, sid(i))
      round += 1
    }
    tr.enabled = false
    if (r.trace) {
      tr.enabled = true
      floors(r, root(round), studies(round), light = false)
      // tracing overhead: the readers' floor pass, untraced and traced in
      // turn (timed outside the workload's rounds; its spans carry round
      // -2, so they stay out of the per-layer medians)
      tr.round = -2
      for (k <- 0 until 4) {
        tr.enabled = k % 2 == 1
        r.timed("floors", -2, traced = tr.enabled)(
          floors(r, root(round), studies(round), light = true))
      }
      tr.enabled = false
    }
  }

  /** A loaded study's row counts: clinical facts, expression cells and
    * the study root's subject count. */
  private def checkLoaded(r: Run, wh: Path, st: Expect.Obj, root: String): Unit = {
    val spark = r.spark
    val sid = st.str("study_id")
    r.checking(s"observation_fact clinical rows = clinical cells [$sid]") {
      // clinical facts are the ones whose concept lies under the study's
      // clinical subtree (the expression upload adds per-sample facts)
      val concepts = GraftCli.readTable(spark, wh, "concept_dimension")
        .filter(col("concept_path").startsWith(root + "Subjects\\"))
        .select("concept_cd")
      GraftCli.readTable(spark, wh, "observation_fact")
        .filter(col("sourcesystem_cd") === sid)
        .join(concepts, Seq("concept_cd"), "left_semi").count() == st.long("clinical_cells")
    }
    r.checking(s"de_subject_microarray_data rows = samples x probes [$sid]") {
      spark.read.parquet(wh.resolve("de_subject_microarray_data.parquet").toString)
        .filter(col("trial_name") === sid).count() == st.long("samples") * st.long("probes")
    }
    r.checking(s"root concept_counts = subjects [$sid]") {
      GraftCli.readTable(spark, wh, "concept_counts")
        .filter(col("concept_path") === root).collect()
        .map(_.getAs[Long]("patient_count")).toSeq == Seq(st.long("subjects"))
    }
  }

  /** After a delete: no row of the trial in any trial-keyed table. */
  private def checkDeleted(r: Run, wh: Path, sid: String): Unit =
    for ((table, pcol) <- Publish.PartitionedTables.toSeq.sortBy(_._1)
         if !PlatformTables.contains(table)
         if Files.exists(wh.resolve(s"$table.parquet")))
      r.checking(s"delete leaves no $table rows [$sid]") {
        r.spark.read.parquet(wh.resolve(s"$table.parquet").toString)
          .filter(col(pcol) === sid || col(pcol).startsWith(sid + ":")).isEmpty
      }

  /** Partitioned by platform, shared across studies: not part of a delete. */
  private val PlatformTables = Set("probeset_deapp", "de_mrna_annotation", "de_chromosomal_region")

  /** Upload one study dir through the functions `GraftCli.run` reaches,
    * one span per datatype upload. */
  private def tracedUpload(r: Run, dataDir: Path, wh: Path): Int = {
    val spark = r.spark
    val tr = r.tracer
    tr.span("GraftCli.run") {
      Publish.recoverPublish(spark, wh)
      for (st <- StudyDiscovery.discover(dataDir, Parent)) {
        for ((tpe, dir) <- st.dataTypes) tpe.toUpperCase match {
          case "CLINICAL" => tr.span("GraftCli.uploadClinical") {
            GraftCli.uploadClinical(spark, dir, st.parentPath, st.studyLabel, wh,
              alwaysSetVisitName = false)
          }
          case "EXPRESSION" => tr.span("GraftCli.uploadExpression") {
            GraftCli.uploadExpression(spark, dir, st.parentPath, st.studyLabel, wh,
              useFirstGeneId = false)
          }
          case "VCF" => tr.span("GraftCli.uploadVcf") {
            GraftCli.uploadVcf(spark, dir, wh, st.parentPath, st.studyLabel)
          }
          case other => sys.error(s"unexpected datatype $other")
        }
        StudyDiscovery.markProcessed(st.path, success = true)
      }
      0
    }
  }

  /** Scan/decode and pipeline floors: the readers and pipelines forced
    * through the noop sink on one generated study (not uploaded), traced. */
  private def floors(r: Run, dataDir: Path, st: Expect.Obj, light: Boolean): Unit = {
    val spark = r.spark
    val tr = r.tracer
    val sdir = dataDir.resolve(st.str("label"))
    val clin = sdir.resolve("ClinicalDataToUpload")
    val vcfDir = sdir.resolve("VCFDataToUpload")
    val vcf = vcfDir.resolve(s"${st.str("study_id")}.vcf").toString
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    tr.span("sources.TsvReader.read") {
      noop(graft.sources.TsvReader.read(spark, clin.resolve("DEMO.txt").toString))
      noop(graft.sources.TsvReader.read(spark, sdir.resolve("ExpressionDataToUpload")
        .resolve(s"${st.str("study_id")}_Gene_Expression_Data_R.txt").toString))
    }
    tr.span("sources.VcfReader") {
      graft.sources.VcfReader.samples(spark, vcf)
      graft.sources.VcfReader.infoFields(spark, vcf)
      noop(graft.sources.VcfReader.variants(spark, vcf))
    }
    if (!light) tr.span("pipeline.ClinicalPipeline.run") {
      val mf = Files.list(clin).iterator().asScala
        .find(_.getFileName.toString.endsWith("_Mapping_File.txt")).get
      val mapping = graft.sources.ClinicalMapping.load(spark, mf.toString)
      val data = mapping.files.map(f =>
        f -> graft.sources.TsvReader.read(spark, clin.resolve(f).toString)).toMap
      val t = graft.pipeline.ClinicalPipeline.run(spark, st.str("study_id"),
        s"$Parent\\${st.str("label")}", mapping, data, false,
        failOnNumericDuplicates = true)
      Seq(t.i2b2, t.observationFact, t.patientDimension, t.conceptDimension,
        t.conceptCounts).foreach(noop)
    }
    if (!light) tr.span("pipeline.OmicsPipeline.runFull") {
      OmicsFloor.run(spark, sdir.resolve("ExpressionDataToUpload"),
        st.str("study_id"), s"$Parent\\${st.str("label")}\\", noop)
    }
    tr.span("pipeline.VcfPipeline.runDir") {
      val t = graft.pipeline.VcfPipeline.runDir(spark, vcfDir.toString, st.str("study_id"))
      Seq(t.dataset, t.subjectIdx, t.populationInfo, t.subjectDetail,
        t.subjectSummary, t.populationData).foreach(noop)
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
