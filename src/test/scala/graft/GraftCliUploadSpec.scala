package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The omics uploads' shared sample-mapping protocol (I2B2_LOAD_SAMPLES /
  * I2B2_ADD_PLATFORM), replayed from the hand-written fixture study under
  * `src/test/resources/upload-study`: aCGH, expression, RNASeq (the
  * generic high-dim path), SNP and VCF all load one trial into one
  * warehouse. Pins the per-table row counts, the warehouse-wide assay
  * sequence, the per-(trial, source_cd) mapping replace and the one
  * `de_gpl_info` row per platform. */
class GraftCliUploadSpec extends SparkSpec {

  private val Trial = "TSTUP"
  private val Parent = "\\Public Studies"
  private val Label = "Upload Study"

  private def fixture(dt: String): Path =
    Paths.get(getClass.getResource(s"/upload-study/${dt}DataToUpload").toURI)

  private def upload(wh: Path, dt: String, dir: Path): String = dt match {
    case "ACGH" => GraftCli.uploadAcgh(spark, dir, Parent, Label, wh)
    case "Expression" => GraftCli.uploadExpression(spark, dir, Parent, Label, wh,
      useFirstGeneId = false)
    case "RNASeq" => GraftCli.uploadHighDim(spark, dir, Parent, Label, wh,
      GraftCli.HighDimConfigs("RNASEQ"))
    case "SNP" => GraftCli.uploadSnp(spark, dir, Parent, Label, wh)
    case "VCF" => GraftCli.uploadVcf(spark, dir, wh, Parent, Label)
  }

  private def upload(wh: Path, dt: String): String = upload(wh, dt, fixture(dt))

  private def rows(wh: Path, table: String): Long =
    spark.read.parquet(wh.resolve(s"$table.parquet").toString).count()

  private def mapping(wh: Path) = GraftCli.readTable(spark, wh, "de_subject_sample_mapping")

  private def maxAssay(wh: Path): Long =
    if (!Files.exists(wh.resolve("de_subject_sample_mapping.parquet"))) 0L
    else mapping(wh).agg(coalesce(max(col("assay_id")), lit(0L))).first().getLong(0)

  /** (source_cd -> that source's mapping rows, as sorted strings). */
  private def mappingBySource(wh: Path): Map[String, Seq[String]] =
    mapping(wh).collect().toSeq
      .groupBy(_.getAs[String]("source_cd"))
      .map { case (src, rs) => src -> rs.map(rowString).sorted }

  private def rowString(r: Row): String =
    r.schema.fieldNames.sorted.map(n => s"$n=${r.getAs[Any](n)}").mkString(",")

  private def assayIds(wh: Path, source: String): Seq[Long] =
    mapping(wh).filter(col("source_cd") === source)
      .select(col("assay_id")).collect().map(_.getLong(0)).toSeq

  /** The sequence-drawn uploads: every assay id is past the warehouse max
    * before the upload, unique, and shared with no other mapping row. */
  private def uploadDrawingAssays(wh: Path, dt: String, source: String): Unit = {
    val before = maxAssay(wh)
    assert(upload(wh, dt) == Trial)
    val ids = assayIds(wh, source)
    assert(ids.nonEmpty && ids.forall(_ > before), s"$dt ids $ids not past $before")
    assert(ids.distinct.size == ids.size, s"$dt ids $ids not unique")
    val others = mapping(wh).filter(col("source_cd") =!= source)
      .select(col("assay_id")).collect().map(_.getLong(0)).toSet
    assert(ids.toSet.intersect(others).isEmpty, s"$dt ids $ids reuse $others")
  }

  test("five omics families load one trial: counts, assay ids, per-source_cd replace, gpl rows") {
    val wh = Files.createTempDirectory("graft-upload-wh")
    assert(upload(wh, "ACGH") == Trial)
    assert(upload(wh, "Expression") == Trial)
    uploadDrawingAssays(wh, "RNASeq", "RNASEQ")
    uploadDrawingAssays(wh, "SNP", "SNP")
    uploadDrawingAssays(wh, "VCF", "VCF")

    val expected = Map(
      "patient_dimension" -> 3L, "de_subject_sample_mapping" -> 12L,
      "de_subject_acgh_data" -> 6L, "de_chromosomal_region" -> 3L,
      "de_subject_microarray_data" -> 12L, "probeset_deapp" -> 4L,
      "de_mrna_annotation" -> 4L, "de_subject_rna_data" -> 9L,
      "de_sample_snp_data" -> 6L, "de_gpl_info" -> 4L,
      "de_variant_dataset" -> 1L, "de_variant_subject_idx" -> 2L,
      "de_variant_population_info" -> 2L, "de_variant_subject_detail" -> 3L,
      "de_variant_subject_summary" -> 6L, "de_variant_population_data" -> 7L)
    assert(expected.map { case (t, _) => t -> rows(wh, t) } == expected)
    val loaded = mappingBySource(wh)
    assert(loaded.view.mapValues(_.size).toMap ==
      Map("STD" -> 2, "GEX" -> 3, "RNASEQ" -> 3, "SNP" -> 2, "VCF" -> 2))
    assert(mapping(wh).filter(col("trial_name") =!= Trial).isEmpty)

    // a re-upload replaces only its own (trial, source_cd) mapping rows:
    // every other datatype's rows survive byte for byte, and the fresh
    // rows draw new ids past the warehouse max
    for ((dt, source) <- Seq("RNASeq" -> "RNASEQ", "SNP" -> "SNP", "VCF" -> "VCF")) {
      val before = mappingBySource(wh)
      uploadDrawingAssays(wh, dt, source)
      val after = mappingBySource(wh)
      assert(after - source == before - source, s"$dt re-upload touched other sources")
      assert(after(source).size == before(source).size)
    }
    val beforeGex = mappingBySource(wh)
    assert(upload(wh, "Expression") == Trial)
    assert(mappingBySource(wh) - "GEX" == beforeGex - "GEX")
    assert(expected.map { case (t, _) => t -> rows(wh, t) } == expected)

    // I2B2_ADD_PLATFORM replaces the platform's row: one per platform
    val gpl = spark.read.parquet(wh.resolve("de_gpl_info.parquet").toString)
    assert(gpl.groupBy("platform").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("ACGHUP" -> 1L, "GPLUP1" -> 1L, "RNAUP1" -> 1L, "SNPUP1" -> 1L))
    assert(gpl.filter(col("platform") === "RNAUP1").select("title", "marker_type")
      .first() == Row("Upload RNASeq Platform", "RNASEQ"))
  }

  test("a sample-mapping file without sample rows or PLATFORM fails naming the file") {
    import scala.jdk.CollectionConverters._
    val wh = Files.createTempDirectory("graft-upload-bad-wh")
    def copyFixture(dt: String): Path = {
      val dir = Files.createTempDirectory(s"graft-upload-bad-$dt")
      val ls = Files.list(fixture(dt))
      try ls.iterator().asScala.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
      finally ls.close()
      dir
    }
    def failure(dt: String, dir: Path): String =
      intercept[RuntimeException](upload(wh, dt, dir)).getMessage
    for ((dt, mapName) <- Seq(
        "ACGH" -> "TSTUP_Subject_Sample_Mapping_File.txt",
        "Expression" -> "TSTUP_Subject_Sample_Mapping_File.txt",
        "RNASeq" -> "TSTUP_RNASeq_Subject_Sample_Mapping_File.txt",
        "SNP" -> "TSTUP_SNP_Subject_Sample_Mapping_File.txt")) {
      val dir = copyFixture(dt)
      val mapFile = dir.resolve(mapName)
      Files.writeString(mapFile, Files.readAllLines(mapFile).get(0) + "\n")
      val msg = failure(dt, dir)
      assert(msg.contains(mapFile.toString) && msg.contains("no sample rows"), s"$dt: $msg")
    }
    val dir = copyFixture("RNASeq")
    val mapFile = dir.resolve("TSTUP_RNASeq_Subject_Sample_Mapping_File.txt")
    Files.writeString(mapFile, Files.readString(mapFile).replace("RNAUP1", ""))
    val msg = failure("RNASeq", dir)
    assert(msg.contains(mapFile.toString) && msg.contains("no PLATFORM value"), msg)
    assert(!Files.exists(wh.resolve("de_subject_sample_mapping.parquet")))
  }
}
