package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.{OmicsSources, TsvReader}

/** The expression pipeline alone: the inputs `GraftCli.uploadExpression`
  * prepares for `OmicsPipeline.runFull` as on an empty warehouse (empty
  * registries, no earlier patients), the outputs forced through `sink`.
  * Floor of the expression upload, with no warehouse I/O. */
object OmicsFloor {

  private def empty(spark: SparkSession, cols: (String, org.apache.spark.sql.types.DataType)*) =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(cols.map { case (n, t) => StructField(n, t) }))

  def run(spark: SparkSession, dir: Path, studyId: String, topNode: String,
          sink: DataFrame => Unit): Unit = {
    val files = Files.list(dir).iterator().asScala.toSeq
    def find(rx: String) = files.find(_.getFileName.toString.matches(rx)).get
    val raw = TsvReader.read(spark, find("(?i).+_Subject_Sample_Mapping_File\\.txt").toString)
    def nz(n: String) =
      if (raw.columns.contains(n)) when(length(coalesce(col(n), lit(""))) > 0, col(n))
      else lit(null).cast(StringType)
    val sampleMap = raw.select(
      upper(col("STUDY_ID")).as("study_id"), nz("SITE_ID").as("site_id"),
      col("SUBJECT_ID").as("subject_id"), col("SAMPLE_ID").as("sample_cd"),
      nz("PLATFORM").as("platform"), nz("TISSUETYPE").as("tissue_type"),
      nz("ATTR1").as("attribute_1"), nz("ATTR2").as("attribute_2"),
      nz("CATEGORY_CD").as("category_cd"), nz("SOURCE_CD").as("source_cd"))
      .withColumn("sample_id", col("sample_cd"))
      .withColumn("platform_name", col("platform"))
      .withColumn("tissuetype", col("tissue_type"))
      .withColumn("attr1", col("attribute_1"))
      .withColumn("attr2", col("attribute_2"))
    val platform = sampleMap.select(col("platform")).limit(1).collect().head.getString(0)
    val (meta, ann) = OmicsSources.readPlatform(spark,
      find(s"(?i)${java.util.regex.Pattern.quote(platform)}\\.txt").toString)
    val staged = ann.select(lit(platform).as("gpl_id"), col("probeset_id").as("probe_id"),
      col("gene_symbol"), col("gene_id").cast(StringType).as("gene_id"),
      col("species").as("organism"))
    val gplInfo = spark.createDataFrame(java.util.List.of(Row(platform,
        meta.getOrElse("PLATFORM_TITLE", platform),
        meta.getOrElse("PLATFORM_SPECIES", "Homo sapiens"), "Gene Expression", null)),
      StructType(Seq("platform", "title", "organism", "marker_type", "release_nbr")
        .map(StructField(_, StringType))))
    val patients = graft.pipeline.AcghPipeline.ensurePatients(spark,
      empty(spark, "patient_num" -> LongType, "sourcesystem_cd" -> StringType),
      sampleMap, studyId)
    val dataFile = find("(?i).+_Gene_Expression_Data_[RLT]\\.txt")
    val t = graft.pipeline.OmicsPipeline.runFull(spark, studyId, topNode, sampleMap,
      OmicsSources.meltMatrix(TsvReader.readFast(spark, dataFile.toString)),
      staged,
      empty(spark, "probeset_id" -> LongType, "probeset" -> StringType,
        "platform" -> StringType, "organism" -> StringType),
      empty(spark, "bio_marker_name" -> StringType, "organism" -> StringType,
        "primary_external_id" -> StringType, "bio_marker_type" -> StringType),
      gplInfo, patients,
      dataType = OmicsSources.dataTypeFromFileName(dataFile.getFileName.toString))
    Seq(t.annotation.probesets, t.annotation.mrnaAnnotation, t.loadSamples.nodes,
      t.loadSamples.sampleMapping, t.loadSamples.sampleFacts, t.omics.data).foreach(sink)
  }
}
