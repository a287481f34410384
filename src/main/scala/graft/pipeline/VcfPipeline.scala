package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VcfReader

/** The VCF load end-to-end — the Spark rebuild of
  * VCFDataProcessor.groovy:85-260: one VCF file becomes the five
  * de_variant_* tables plus the dataset registration row.
  *
  *  - dataset_id = "TRIAL:SOURCE_CD" where SOURCE_CD is the file name
  *    minus extension, dots -> underscores, upper-cased (:116-119)
  *  - de_variant_subject_idx: sample header order, 1-based (:123-131)
  *  - de_variant_population_info: the typed ##INFO declarations (:134-141)
  *  - de_variant_subject_detail: one row per probeset (rs_id explode) with
  *    the raw fixed columns and the tab-joined sample values (:256-264)
  *  - de_variant_subject_summary: the R/V encoding
  *    (VcfReader.subjectSummary, :201-254)
  *  - de_variant_population_data: typed INFO value explode
  *    (VcfReader.explodeInfo, :168-199)
  *
  * Scale: everything is a projection/explode over the distributed text
  * scan — no shuffle anywhere in the load path; only the driver reads the
  * bounded meta header.
  */
object VcfPipeline {

  final case class VariantTables(
      dataset: DataFrame,
      subjectIdx: DataFrame,
      populationInfo: DataFrame,
      subjectDetail: DataFrame,
      subjectSummary: DataFrame,
      populationData: DataFrame)

  /** SOURCE_CD derivation (VCFDataProcessor.groovy:116-118). */
  def sourceCd(fileName: String): String =
    fileName.replaceFirst("\\.\\w+$", "").replaceAll("\\.", "_").toUpperCase

  def run(spark: SparkSession, path: String, trialId: String,
          genome: String = "hg19"): VariantTables = {
    import spark.implicits._
    val fileName = new java.io.File(path).getName
    val dataSetId = s"$trialId:${sourceCd(fileName)}"

    val sampleIds = VcfReader.samples(spark, path)
    val fields = VcfReader.infoFields(spark, path)
    val variants = VcfReader.variants(spark, path)

    val dataset = Seq((dataSetId, "graft", genome))
      .toDF("dataset_id", "etl_id", "genome")

    val subjectIdx = sampleIds.zipWithIndex
      .map { case (s, i) => (dataSetId, s, i + 1) }
      .toDF("dataset_id", "subject_id", "position")

    val populationInfo = fields
      .map(f => (dataSetId, f.id, f.description, f.tpe, f.number))
      .toDF("dataset_id", "info_name", "description", "type", "number")

    val subjectDetail = VcfReader.explodeRsIds(variants).select(
      lit(dataSetId).as("dataset_id"),
      col("probeset_id").as("rs_id"),
      col("chrom").as("chr"), col("pos"),
      col("ref"), col("alt"), col("qual"), col("filter"),
      col("info"), col("format"),
      array_join(col("sample_values"), "\t").as("variant_value"))

    val subjectSummary = VcfReader.subjectSummary(variants, sampleIds, trialId)
      .withColumn("dataset_id", lit(dataSetId))
      .drop("trial_name")

    val populationData = VcfReader.explodeInfo(variants, fields).select(
      lit(dataSetId).as("dataset_id"),
      col("chrom").as("chr"), col("pos"),
      col("info_id").as("info_name"),
      col("value_idx").as("info_index"),
      col("int_value").as("integer_value"),
      col("float_value").as("float_value"),
      col("text_value"))

    VariantTables(dataset, subjectIdx, populationInfo, subjectDetail,
      subjectSummary, populationData)
  }

  /** A whole upload directory: every `*.vcf` becomes its own dataset
    * (VCFDataProcessor.groovy:76 iterates the dir), tables unioned. */
  def runDir(spark: SparkSession, dir: String, trialId: String,
             genome: String = "hg19"): VariantTables = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"VCF upload directory not found: $dir")
    val files = d.listFiles()
      .filter(_.getName.toLowerCase.endsWith(".vcf"))
      .map(_.getPath).sorted
    require(files.nonEmpty, s"no .vcf files in $dir")
    files.map(run(spark, _, trialId, genome)).reduce { (a, b) =>
      VariantTables(
        a.dataset.unionByName(b.dataset),
        a.subjectIdx.unionByName(b.subjectIdx),
        a.populationInfo.unionByName(b.populationInfo),
        a.subjectDetail.unionByName(b.subjectDetail),
        a.subjectSummary.unionByName(b.subjectSummary),
        a.populationData.unionByName(b.populationData))
    }
  }
}
