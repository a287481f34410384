package graft.sources

import graft.SparkSpec
import graft.pipeline.OmicsPipeline
import graft.functions.MetadataXml
import org.apache.spark.sql.functions._
import java.nio.file.Files

class VcfReaderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vcfPath = {
    val dir = Files.createTempDirectory("graft-vcf")
    val f = dir.resolve("test.vcf")
    Files.writeString(f,
      """##fileformat=VCFv4.1
        |##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">
        |##INFO=<ID=AF,Number=A,Type=Float,Description="Frequency">
        |##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	S1	S2
        |1	100	rs1;rs2	A	G	50	PASS	DP=12;AF=0.5;DB	GT:DP	0/1:10	1|1:12
        |2	200	rs3	AT	A,ATT	99	PASS	DP=7;AF=0.25,0.75	GT	./.	0/2
        |""".stripMargin)
    f.toString
  }

  test("INFO declarations typed per meta header") {
    val fields = VcfReader.infoFields(spark, vcfPath)
    assert(fields.map(f => f.id -> f.tpe).toMap ==
      Map("DP" -> "Integer", "AF" -> "Float", "DB" -> "Flag"))
  }

  test("samples and fixed columns") {
    assert(VcfReader.samples(spark, vcfPath) == Seq("S1", "S2"))
    val v = VcfReader.variants(spark, vcfPath).orderBy("pos").collect()
    assert(v.length == 2)
    assert(v(0).getAs[String]("chrom") == "1" && v(0).getAs[Long]("pos") == 100L)
    assert(v(0).getAs[scala.collection.Seq[String]]("sample_values").toSeq ==
      Seq("0/1:10", "1|1:12"))
  }

  test("P4 per-sample explode: alleles, separators, SNV/DIV, missing") {
    val df = VcfReader.explodeSamples(
      VcfReader.variants(spark, vcfPath), Seq("S1", "S2"))
    val r1 = df.filter($"pos" === 100 && $"sample_id" === "S1").collect()(0)
    assert(r1.getAs[String]("allele1") == "0" && r1.getAs[String]("allele2") == "1")
    assert(r1.getAs[String]("allele_sep") == "/")
    assert(r1.getAs[String]("variant1") == "A" && r1.getAs[String]("variant2") == "G")
    assert(r1.getAs[String]("variant_type") == "SNV")
    val r2 = df.filter($"pos" === 200 && $"sample_id" === "S1").collect()(0)
    assert(r2.getAs[String]("variant1") == null) // './.' missing
    assert(r2.getAs[String]("variant_type") == "DIV")
    val r3 = df.filter($"pos" === 200 && $"sample_id" === "S2").collect()(0)
    assert(r3.getAs[String]("variant2") == "ATT") // allele index 2 -> 2nd ALT
  }

  test("P5 INFO explode: typed values, flags, multi-value posexplode") {
    val fields = VcfReader.infoFields(spark, vcfPath)
    val info = VcfReader.explodeInfo(VcfReader.variants(spark, vcfPath), fields)
    val dp = info.filter($"pos" === 100 && $"info_id" === "DP").collect()(0)
    assert(dp.getAs[Long]("int_value") == 12L)
    val af = info.filter($"pos" === 200 && $"info_id" === "AF")
      .orderBy("value_idx").collect()
    assert(af.map(_.getAs[Double]("float_value")).toSeq == Seq(0.25, 0.75))
    assert(info.filter($"pos" === 100 && $"info_id" === "DB").count() == 1)
    assert(info.filter($"pos" === 200 && $"info_id" === "DB").count() == 0)
  }

  test("rs_id explode") {
    val df = VcfReader.explodeRsIds(VcfReader.variants(spark, vcfPath))
    assert(df.filter($"pos" === 100).select("probeset_id")
      .collect().map(_.getString(0)).toSeq == Seq("rs1", "rs2"))
  }

  test("VcfPipeline: one file -> all five de_variant_* tables") {
    val t = graft.pipeline.VcfPipeline.run(spark, vcfPath, "TR1")
    val ds = t.dataset.collect()(0)
    assert(ds.getString(0) == "TR1:TEST" && ds.getString(2) == "hg19")
    assert(t.subjectIdx.orderBy("position").collect()
      .map(r => (r.getString(1), r.getInt(2))).toSeq == Seq(("S1", 1), ("S2", 2)))
    val pi = t.populationInfo.collect()
      .map(r => r.getString(1) -> (r.getString(2), r.getString(3))).toMap
    assert(pi("DP") == ("Depth", "Integer"))
    assert(pi("DB") == ("dbSNP", "Flag"))
    val det = t.subjectDetail.filter($"rs_id" === "rs1").collect()(0)
    assert(det.getAs[String]("variant_value") == "0/1:10\t1|1:12")
    assert(det.getAs[String]("alt") == "G")
    assert(t.subjectDetail.count() == 3) // rs1, rs2 (same line), rs3
    assert(t.subjectSummary.filter($"dataset_id" === "TR1:TEST").count() == 6)
    val af = t.populationData.filter($"info_name" === "AF" && $"pos" === 200)
      .orderBy("info_index").collect()
    assert(af.map(_.getAs[Double]("float_value")).toSeq == Seq(0.25, 0.75))
  }

  test("reference VCF fixture replays to VCFDataProcessorTest's exact rows") {
    // VCFDataProcessorTest.groovy:47-122 asserted against the real
    // fixtures/Test Study_GSE0/VCFDataToUpload/VCFTest.vcf
    val path = "/root/reference/fixtures/Test Studies/Test Study_GSE0/VCFDataToUpload/VCFTest.vcf"
    val t = graft.pipeline.VcfPipeline.run(spark, path, "GSE0")
    val ss = t.subjectSummary
    def row(s: String, probe: String) =
      ss.filter($"sample_id" === s && $"probeset_id" === probe).collect()(0)

    val r1 = row("VCF_TST001", "rs149201999") // 0|0 on REF=T
    assert(r1.getAs[String]("chrom") == "22" && r1.getAs[Long]("pos") == 16050408L)
    assert(r1.getAs[String]("variant") == "T|T" && r1.getAs[String]("variant_format") == "R|R")
    assert(r1.getAs[Boolean]("reference"))
    assert(r1.getAs[Int]("allele1") == 0 && r1.getAs[Int]("allele2") == 0)
    assert(r1.getAs[String]("variant_type") == "SNV")
    val r2 = row("VCF_TST001", "rs146752890") // 1/0
    assert(r2.getAs[String]("variant") == "G/C" && r2.getAs[String]("variant_format") == "V/R")
    assert(!r2.getAs[Boolean]("reference"))
    val r3 = row("VCF_TST001", "rs146752889") // haploid '1'
    assert(r3.getAs[String]("variant") == "G" && r3.getAs[String]("variant_format") == "V")
    assert(r3.getAs[Int]("allele1") == 1 && r3.isNullAt(r3.fieldIndex("allele2")))
    assert(!r3.getAs[Boolean]("reference"))
    val r4 = row("VCF_TST001", "rs146752880") // 2/1, ALT=G,T
    assert(r4.getAs[String]("variant") == "T/G" && r4.getAs[String]("variant_format") == "V/V")
    assert(r4.getAs[String]("variant_type") == "DIV") // multi-alt -> DIV even though all single-base
    assert(r4.getAs[Int]("allele1") == 2 && r4.getAs[Int]("allele2") == 1)

    val s1 = row("VCF_TST002", "rs149201999") // 0|1
    assert(s1.getAs[String]("variant") == "T|C" && s1.getAs[String]("variant_format") == "R|V")
    assert(!s1.getAs[Boolean]("reference"))
    val s2 = row("VCF_TST002", "rs146752890") // './0'
    assert(s2.getAs[String]("variant") == "/C" && s2.getAs[String]("variant_format") == "/R")
    assert(s2.getAs[Boolean]("reference"))
    assert(s2.isNullAt(s2.fieldIndex("allele1")) && s2.getAs[Int]("allele2") == 0)
    val s3 = row("VCF_TST002", "rs146752889") // haploid '0'
    assert(s3.getAs[String]("variant") == "C" && s3.getAs[String]("variant_format") == "R")
    assert(s3.getAs[Boolean]("reference"))

    // FORMAT 'DS:GL' has no GT -> NO summary rows for either subject
    assert(ss.filter($"pos" === 16050624L).count() == 0)

    val ldaf = t.populationInfo.filter($"info_name" === "LDAF").collect()(0)
    assert(ldaf.getAs[String]("description") == "MLE Allele Frequency Accounting for LD")
    assert(ldaf.getAs[String]("type") == "Float" && ldaf.getAs[String]("number") == "1")

    def pd(pos: Long, name: String) =
      t.populationData.filter($"pos" === pos && $"info_name" === name).collect()
    assert(pd(16050620L, "UNKNW").isEmpty) // undeclared INFO field dropped
    val flag = pd(16050624L, "TST_FLAG")(0) // explicit '=0' keeps its value
    assert(flag.getAs[Long]("integer_value") == 0L && flag.getAs[Int]("info_index") == 0)
    assert(pd(16050624L, "DB")(0).getAs[Long]("integer_value") == 1L) // bare flag -> 1
    assert(pd(16050408L, "LDAF")(0).getAs[Double]("float_value") == 0.0649)
    assert(pd(16050408L, "AN")(0).getAs[Long]("integer_value") == 2184L)
    assert(pd(16050408L, "VT")(0).getAs[String]("text_value") == "SNP")

    assert(t.subjectIdx.orderBy("position").collect()
      .map(r => (r.getString(1), r.getInt(2))).toSeq ==
      Seq(("VCF_TST001", 1), ("VCF_TST002", 2)))
  }

  test("multi-VCF directory: one dataset per file, tables unioned") {
    // the reference iterates every *.vcf in the upload dir (:76); the
    // MultiVCF fixture has two files -> two dataset ids, both subjects
    // indexed per dataset
    val dir = "/root/reference/fixtures/Test Studies/Test Study_GSE0/MultiVCFDataToUpload"
    val t = graft.pipeline.VcfPipeline.runDir(spark, dir, "GSE0")
    val ds = t.dataset.select("dataset_id").collect().map(_.getString(0)).toSet
    assert(ds == Set("GSE0:VCFTEST1", "GSE0:VCFTEST2"))
    // one sample per file, position restarting at 1 per dataset
    val idx = t.subjectIdx.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(idx == Set(("GSE0:VCFTEST1", "VCF_TST001", 1),
      ("GSE0:VCFTEST2", "VCF_TST002", 1)))
    assert(t.subjectSummary.select("dataset_id").distinct().count() == 2)
  }

  test("multi-VCF directory: a missing directory fails naming the path") {
    val dir = Files.createTempDirectory("vcf").resolve("absent").toString
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.VcfPipeline.runDir(spark, dir, "GSE0")
    }
    assert(e.getMessage.contains(dir))
  }

  test("subject summary: R/V variant + variantFormat encoding, reference flag") {
    val ss = VcfReader.subjectSummary(
      VcfReader.variants(spark, vcfPath), Seq("S1", "S2"), "TR1")
    def row(pos: Long, s: String, probe: String) =
      ss.filter($"pos" === pos && $"sample_id" === s && $"probeset_id" === probe)
        .collect()(0)
    val het = row(100L, "S1", "rs1") // 0/1 on REF=A ALT=G
    assert(het.getAs[String]("variant") == "A/G")
    assert(het.getAs[String]("variant_format") == "R/V")
    assert(!het.getAs[Boolean]("reference"))
    assert(het.getAs[Int]("allele1") == 0 && het.getAs[Int]("allele2") == 1)
    val hom = row(100L, "S2", "rs2") // 1|1, pipe separator preserved
    assert(hom.getAs[String]("variant") == "G|G")
    assert(hom.getAs[String]("variant_format") == "V|V")
    val miss = row(200L, "S1", "rs3") // './.' -> empty contributions
    assert(miss.getAs[String]("variant") == "/")
    assert(miss.getAs[String]("variant_format") == "/")
    assert(miss.getAs[Boolean]("reference")) // both alleles absent
    assert(miss.isNullAt(miss.fieldIndex("allele1")))
    val refAlt2 = row(200L, "S2", "rs3") // 0/2 on REF=AT ALT=A,ATT
    assert(refAlt2.getAs[String]("variant") == "AT/ATT")
    assert(refAlt2.getAs[String]("variant_format") == "R/V")
    assert(!refAlt2.getAs[Boolean]("reference"))
    assert(ss.filter($"pos" === 100).count() == 4) // 2 samples x 2 probesets
  }
}

class OmicsSpec extends SparkSpec {
  import spark.implicits._

  test("study metadata: fuzzy headers, multi-line continuation, species default") {
    val lines = Seq(
      "Accession (Internal study_id)\tTITLE\tStudy Design\tOverall Description\tNumber of Patients",
      "GS1\tStudy One\t\"multi", // quoted cell spans three lines
      "line",
      "design\"\tA description\t42",
      "GS2\tStudy Two\tsimple\t\t7")
    val rows = OmicsSources.parseStudyMetadata(lines)
    assert(rows.length == 2)
    val gs1 = rows(0)
    assert(gs1("study_id") == "GS1" && gs1("title") == "Study One")
    assert(gs1("study_design") == "multi\nline\ndesign") // quotes stripped
    assert(gs1("number_of_patients") == "42")
    assert(gs1("species") == "Homo Sapiens") // default when absent
    // 'Overall Description' must NOT fuzzy-match 'Description' (full match)
    assert(!gs1.contains("description"))
    assert(rows(1)("study_design") == "simple")
    // missing study-id column fails like the reference
    intercept[IllegalArgumentException] {
      OmicsSources.parseStudyMetadata(Seq("Title\tPI", "T\tx"))
    }
  }

  test("PLINK LOB table: deflate round-trip preserves bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plink")
    val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    java.nio.file.Files.write(dir.resolve("study.bed"), bytes)
    java.nio.file.Files.writeString(dir.resolve("study.fam"), "F1 I1 0 0 1 2\n")
    val (blobs, _) = OmicsSources.readPlink(spark, dir.toString)
    val lob = OmicsSources.plinkLobTable(blobs, "GS1")
    val bed = lob.filter($"file_name" === "study.bed").collect()(0)
    assert(bed.getAs[String]("study_id") == "GS1")
    assert(bed.getAs[Long]("raw_length") == 4096L)
    val packed = bed.getAs[Array[Byte]]("content_compressed")
    assert(packed.length < 4096) // actually compressed
    assert(OmicsSources.inflate(packed).toSeq == bytes.toSeq)
  }

  test("matrix melt skips empties and types intensities") {
    val m = Seq(("p1", "1.5", "2.0"), ("p2", "", "3.25")).toDF("ID_REF", "GSM1", "GSM2")
    val melted = OmicsSources.meltMatrix(m)
    assert(melted.count() == 3)
    assert(melted.filter($"probeset_id" === "p2" && $"sample_id" === "GSM2")
      .collect()(0).getAs[Double]("intensity_value") == 3.25)
    assert(OmicsSources.dataTypeFromFileName("Study_Gene_Expression_Data_L.txt") == "L")
  }

  test("omics pipeline: node synthesis, probe averaging, zscore") {
    val sampleMap = Seq(
      ("GS1", "", "P01", "GSM1", "GPL570", "Liver", null: String, null: String,
        "Biomarker_Data+PLATFORM+TISSUETYPE"),
      ("GS1", "", "P02", "GSM2", "GPL570", "Liver", null: String, null: String,
        "Biomarker_Data+PLATFORM+TISSUETYPE"))
      .toDF("study_id", "site_id", "subject_id", "sample_id", "platform_name",
        "tissuetype", "attr1", "attr2", "category_cd")
    val matrix = Seq(("p1", "2.0", "4.0"), ("p2", "8.0", "16.0"))
      .toDF("ID_REF", "GSM1", "GSM2")
    val platform = Seq(("p1", "EGFR", 1956L, "Homo sapiens"))
      .toDF("probeset_id", "gene_symbol", "gene_id", "species")

    val t = OmicsPipeline.run(spark, "GS1", "\\Studies\\GS1",
      sampleMap, OmicsSources.meltMatrix(matrix), platform)
    assert(t.sampleMapping.count() == 2)
    val node = t.sampleMapping.select("leaf_node").distinct().collect()(0).getString(0)
    assert(node == "\\Studies\\GS1\\Biomarker Data\\GPL570\\Liver\\")
    assert(t.data.count() == 4)
    val p1 = t.data.filter($"probeset_id" === "p1" && $"assay_id" === 1).collect()(0)
    assert(p1.getAs[Double]("log_intensity") == 1.0) // log2(2)
    assert(p1.getAs[String]("gene_symbol") == "EGFR")
    assert(math.abs(math.abs(p1.getAs[Double]("zscore")) -
      math.abs(t.data.filter($"probeset_id" === "p1" && $"assay_id" === 2)
        .collect()(0).getAs[Double]("zscore"))) < 1e-12) // symmetric around median
  }

  test("full omics flow: annotation -> load-samples -> zscore composed") {
    val sampleMap = Seq(
      ("GS1", "", "P01", "GSM1", "GPL570", "Liver", null: String, null: String,
        "Biomarker_Data+PLATFORM+TISSUETYPE"),
      ("GS1", "", "P02", "GSM2", "GPL570", "Liver", null: String, null: String,
        "Biomarker_Data+PLATFORM+TISSUETYPE"))
      .toDF("study_id", "site_id", "subject_id", "sample_id", "platform_name",
        "tissuetype", "attr1", "attr2", "category_cd")
      // LoadSamples input aliases
      .withColumn("sample_cd", $"sample_id")
      .withColumn("platform", $"platform_name")
      .withColumn("tissue_type", $"tissuetype")
      .withColumn("attribute_1", $"attr1")
      .withColumn("attribute_2", $"attr2")
    val matrix = Seq(("p1", "2.0", "4.0"), ("p2", "8.0", "16.0"))
      .toDF("ID_REF", "GSM1", "GSM2")
    val staged = Seq(("GPL570", "p1", null: String, "1956", "Homo sapiens"))
      .toDF("gpl_id", "probe_id", "gene_symbol", "gene_id", "organism")
    val probesets = Seq((1L, "p0", "GPL570", "Homo sapiens"))
      .toDF("probeset_id", "probeset", "platform", "organism")
    val markers = Seq(("EGFR", "Homo sapiens", "1956", "GENE"))
      .toDF("bio_marker_name", "organism", "primary_external_id", "bio_marker_type")
    val gpl = Seq(("GPL570", "Affy U133", "Gene Expression"))
      .toDF("platform", "title", "marker_type")
    val patients = Seq((11L, "GS1:P01"), (12L, "GS1:P02"))
      .toDF("patient_num", "sourcesystem_cd")

    val t = OmicsPipeline.runFull(spark, "GS1", "\\Studies\\GS1\\",
      sampleMap, OmicsSources.meltMatrix(matrix), staged, probesets,
      markers, gpl, patients)
    // gene symbol reached the data via the registry's backfill-by-id
    val p1 = t.omics.data.filter($"probeset_id" === "p1" && $"assay_id" === 1)
      .collect()(0)
    assert(p1.getAs[String]("gene_symbol") == "EGFR")
    assert(p1.getAs[Long]("gene_id") == 1956L)
    // the load-samples leaf node uses the GPL TITLE, not the platform name
    val leaf = t.loadSamples.sampleMapping.select("concept_code").distinct()
    assert(t.loadSamples.nodes
      .filter($"node_type" === "LEAF").collect()(0).getAs[String]("leaf_node")
      == "\\Studies\\GS1\\Biomarker Data\\Affy U133\\Liver\\")
    assert(t.loadSamples.sampleMapping.count() == 2)
    assert(t.loadSamples.sampleFacts.count() == 2)
    assert(leaf.count() == 1)
  }

  test("reference RNASeq fixture replays: platform-id node path, raw/log values") {
    // RNASeqDataProcessorTest.groovy:66-89 against the real fixture
    val base = "/root/reference/fixtures/Test Studies/Test RNASeq Study"
    val dir = s"$base/RNASeqDataToUpload"

    // platform: fuzzy Transcript ID / Gene Symbol / Organism columns
    val (meta, ann) = OmicsSources.readPlatform(spark, s"$dir/RNASeq999.txt")
    assert(meta("PLATFORM_ID") == "RNASeq999")
    assert(ann.filter($"gene_symbol" === "ASCC1").collect()(0)
      .getAs[String]("probeset_id") == "NM_025300")

    val m = TsvReader.read(spark,
      s"$dir/Test Study_GSE_A_37424_Subject_Sample_Mapping_File.txt")
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_ID".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUETYPE".as("tissue_type"), $"ATTR1".as("attribute_1"),
      $"ATTR2".as("attribute_2"), $"CATEGORY_CD".as("category_cd"))
    val patients = Seq((1L, "GSE_A_37424:0:1"), (2L, "GSE_A_37424:0:2"))
      .toDF("patient_num", "sourcesystem_cd")
    val noGpl = Seq.empty[(String, String, String)]
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "GSE_A_37424",
      "\\Test Studies\\Test RNASeq Study\\", sampleMap, noGpl, patients,
      platformNodeFromTitle = false)
    // hasNode('...\Biomarker Data\RNASeq999\Intestine\Test\')
    // .withPatientCount(2): the RNASeq proc substitutes the platform ID
    val leaf = "\\Test Studies\\Test RNASeq Study\\Biomarker Data\\RNASeq999\\Intestine\\Test\\"
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node") == leaf)
    assert(ls.sampleMapping.count() == 2) // S57023 + S57024 both mapped
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 2)

    // R upload: values arrive raw (ASCC1 ~ 2 under the reference's own
    // 0.1-delta assertion)
    val melted = OmicsSources.meltMatrix(
      TsvReader.read(spark, s"$dir/Test Study_GSE_A_37424_RNASeq_Data_R.txt"),
      idCol = "TranscriptID")
    val z = graft.operators.ZScore.pipeline(
      melted.select($"probeset_id", $"sample_id", $"intensity_value"),
      Seq("probeset_id"), "intensity_value", dataType = "R", logBase = 2.0)
    val ascc1 = z.filter($"probeset_id" === "NM_025300" && $"sample_id" === "S57023")
      .collect()(0)
    assert(ascc1.getAs[Double]("raw_intensity") == 1.9108)
    assert(math.abs(ascc1.getAs[Double]("raw_intensity") - 2.0) <= 0.1)

    // Log2 upload: the same numbers are log2 values (log == 1.9108 exact)
    val zL = graft.operators.ZScore.pipeline(
      OmicsSources.meltMatrix(
        TsvReader.read(spark,
          s"$base/RNASeqDataToUpload_Log2/Test Study_GSE_A_37424_RNASeq_Data_L.txt"),
        idCol = "TranscriptID", dataType = "L")
        .select($"probeset_id", $"sample_id", $"intensity_value"),
      Seq("probeset_id"), "intensity_value", dataType = "L", logBase = 2.0)
    val l = zL.filter($"probeset_id" === "NM_025300" && $"sample_id" === "S57023")
      .collect()(0)
    assert(l.getAs[Double]("log_intensity") == 1.9108)
    assert(math.abs(l.getAs[Double]("raw_intensity") - math.pow(2.0, 1.9108)) < 1e-9)
  }

  test("reference Metabolomics fixture replays: title node, combined annotation matrix") {
    // MetabolomicsDataProcessorTest.groovy:53-70 — title-substituted node
    // with 10 patients, 'null' site text in usubjid, combined
    // annotation+matrix file, raw value HMDB0TEST x 14PP = 5095
    val dir = "/root/reference/fixtures/Test Studies/Test Metabolomics Study/MetabolomicsDataToUpload"
    val m = TsvReader.read(spark,
      s"$dir/Test Study_GSE37427_Subject_Sample_Mapping_File.txt")
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_CD".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUE_TYPE".as("tissue_type"),
      when(length(coalesce($"ATTRIBUTE_1", lit(""))) === 0,
        lit(null).cast("string")).otherwise($"ATTRIBUTE_1").as("attribute_1"),
      lit(null).cast("string").as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("GSE37427"), $"site_id", $"subject_id").as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    // the literal text 'null' in SITE_ID survives into the usubjid
    assert(patients.filter($"sourcesystem_cd" === "GSE37427:null:GSM918960").count() == 1)
    val gpl = Seq(("MET998", "Test Metabolomics Platform", "METABOLOMICS"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "GSE37427",
      "\\Test Studies\\Test Metabolomics Study\\", sampleMap, gpl, patients,
      markerType = "METABOLOMICS")
    // empty ATTR1 collapses out of the path; the TITLE lands in it
    val leaf = "\\Test Studies\\Test Metabolomics Study\\Biomarker Data\\Test Metabolomics Platform\\"
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node") == leaf)
    assert(ls.sampleMapping.count() == 10) // hasNode(...).withPatientCount(10)
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 10)
    assert(ls.sampleMapping.filter($"sample_cd" === "14PP").collect()(0)
      .getAs[String]("gpl_id") == "MET998")

    // the data file carries annotation AND intensities; melt just the
    // HMDB key + the mapped sample columns
    val data = TsvReader.read(spark, s"$dir/Test Study_GSE37427_METABOLOMICS_Data_R.txt")
    val samples = sampleMap.select("sample_cd").collect().map(_.getString(0)).toSeq
    val melted = OmicsSources.meltMatrix(
      data.select("HMDB", samples: _*), idCol = "HMDB")
    val v = melted.filter($"probeset_id" === "HMDB0TEST" && $"sample_id" === "14PP")
      .collect()(0)
    assert(math.abs(v.getAs[Double]("intensity_value") - 5095.0) < 0.001)
  }

  test("reference GWAS Plink fixture replays: BFILE meta, LOB rows, GWAS node") {
    // GWASPlinkDataProcessorTest: plink_data record per study + node
    // \Test Studies\<study>\GWAS\GWAS Plink\ with patient count 6
    val dir = "/root/reference/fixtures/Test Studies/Test Study With GWAS Plink_GSE0GWASPLINK/GWASPlinkDataToUpload"
    val meta = TsvReader.metaHeader(spark, s"$dir/MappingFile.txt")
    assert(meta("STUDY_ID") == "GSE0GWASPLINK" && meta("BFILE") == "test")

    val (blobs, fam) = OmicsSources.readPlink(spark, dir)
    assert(OmicsSources.validateFam(fam).isEmpty)
    val lob = OmicsSources.plinkLobTable(blobs, meta("STUDY_ID"))
    assert(lob.filter($"study_id" === "GSE0GWASPLINK").count() == 3) // bed+bim+fam
    val famRow = lob.filter($"file_name" === "test.fam").collect()(0)
    assert(OmicsSources.inflate(famRow.getAs[Array[Byte]]("content_compressed"))
      .length == famRow.getAs[Long]("raw_length"))

    // fam IIDs become samples under the default 'GWAS+GWAS Plink' category
    // (SamplesLoader.addSample defaults: platform '', tissue 'Unknown')
    val sampleMap = fam.select(
      lit("").as("site_id"), $"iid".as("subject_id"), $"iid".as("sample_cd"),
      lit("").as("platform"),
      lit("Unknown").as("tissue_type"),
      lit("").as("attribute_1"),
      lit("").as("attribute_2"),
      lit("GWAS+GWAS Plink").as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("GSE0GWASPLINK"), $"site_id", $"subject_id").as("sourcesystem_cd"))
        .distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    val noGpl = Seq.empty[(String, String, String)]
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "GSE0GWASPLINK",
      "\\Test Studies\\Test Study With GWAS Plink\\", sampleMap, noGpl, patients)
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node")
      == "\\Test Studies\\Test Study With GWAS Plink\\GWAS\\GWAS Plink\\")
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 6)
  }

  test("reference aCGH fixture replays: 7-metric group melt, expected row") {
    // ACGHDataProcessorTest: hasRecord(de_subject_acgh_data,
    // chip 0.097 -> segmented 0.097, flag 0); sample TSGA-04-1530 mapped
    val dir = "/root/reference/fixtures/Test Studies/Test Study_GSE0/ACGHDataToUpload"
    val wide = TsvReader.read(spark, s"$dir/TSTA_acgh_data.txt")
    assert(AcghMelt.samplesOf(wide.columns.toSeq)
      == Seq("TSGA-04-1530", "TSGA-24-0980"))
    val melted = AcghMelt.melt(wide, "region_id")
    val r = melted.filter($"chip" === "0.097" && $"sample_id" === "TSGA-04-1530")
      .collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x.getAs[String]("segmented") == "0.097"
      && x.getAs[String]("flag") == "0"))
    val m = TsvReader.read(spark, s"$dir/TSTA_Subject_Sample_Mapping_File.txt")
    assert(m.filter($"SAMPLE_ID" === "TSGA-04-1530").count() == 1)
    val (meta, _) = OmicsSources.readPlatform(spark, s"$dir/TST_ACGH_region_platform.txt")
    assert(meta("PLATFORM_TITLE") == "TST_ASGH")
  }

  test("reference I2B2LoadSamplesTest replays: PLATFORM rollup, empty-platform leaf") {
    // I2B2LoadSamplesTest.groovy:25-46 — title node counts 1 patient via
    // ancestor rollup, the empty-platform sample collapses to LDR\Blood\,
    // and no combined Platform\Blood node exists
    import graft.operators.TreeOps
    val sampleMap = Seq(
      ("", "LDR_TST_SUBJ_001", "LDR_TST_SMP_001", "LDR_TST", "Unknown", "", "", "LDR+PLATFORM+TISSUETYPE"),
      ("", "LDR_TST_SUBJ_002", "LDR_TST_SMP_002", "", "Blood", "", "", "LDR+PLATFORM+TISSUETYPE"))
      .toDF("site_id", "subject_id", "sample_cd", "platform", "tissue_type",
        "attribute_1", "attribute_2", "category_cd")
    val gpl = Seq(("LDR_TST", "Loader Test Platform", "Gene Expression"))
      .toDF("platform", "title", "marker_type")
    val patients = Seq(
      (1L, "GSE_TST_LDR:LDR_TST_SUBJ_001"), (2L, "GSE_TST_LDR:LDR_TST_SUBJ_002"))
      .toDF("patient_num", "sourcesystem_cd")
    val ls = graft.pipeline.LoadSamples.run(spark, "GSE_TST_LDR",
      "\\Test Studies\\Loader Test\\", sampleMap, gpl, patients)

    val nodePaths = ls.nodes.select("leaf_node").collect().map(_.getString(0)).toSet
    assert(nodePaths.contains("\\Test Studies\\Loader Test\\LDR\\Loader Test Platform\\"))
    assert(!nodePaths.contains("\\Test Studies\\Loader Test\\LDR\\Loader Test Platform\\Blood\\"))

    assert(ls.sampleMapping.count() == 2) // hasSample / hasPatient
    val leaves = ls.sampleMapping.join(
      ls.nodes.filter($"node_type" === "LEAF")
        .select($"concept_cd".as("concept_code"), $"leaf_node"), "concept_code")
    val counts = TreeOps.conceptCounts(
      leaves.select($"leaf_node", $"patient_id"), "leaf_node", "patient_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("\\Test Studies\\Loader Test\\LDR\\Loader Test Platform\\") == 1)
    assert(counts("\\Test Studies\\Loader Test\\LDR\\Blood\\") == 1)
  }

  test("reference MetaData fixture replays: tokens, compound/disease/taxonomy, GEO link") {
    // MetaDataProcessorTest.groovy:36-80 against the real
    // TestStudy_GSE0_MetaData.txt
    val meta = OmicsSources.readStudyMetadata(spark,
      "/root/reference/fixtures/Test Studies/Test Study_GSE0/MetaDataToUpload/TestStudy_GSE0_MetaData.txt")
      .head
    val t = graft.pipeline.StudyMetadata.load(spark, meta,
      graft.pipeline.StudyMetadata.empty(spark))

    val exp = t.bioExperiment.filter($"accession" === "GSE0").collect()(0)
    assert(exp.getAs[String]("design") == "STUDY_DESIGN:INTERVENTIONAL")
    assert(exp.getAs[String]("biomarker_type") == "STUDY_BIOMARKER_TYPE:EFFICACY_BIOMARKER")
    assert(exp.getAs[String]("access_type") == "STUDY_ACCESS_TYPE:COMMERCIAL")
    assert(exp.getAs[String]("institution") == "STUDY_INSTITUTION:TEST_INSTITUTION")
    val expId = exp.getAs[Long]("bio_experiment_id")
    assert(t.bioDataUid.filter($"bio_data_id" === expId &&
      $"unique_id" === "EXP:GSE0").count() == 1)

    def linked(reg: org.apache.spark.sql.DataFrame, idc: String, namec: String,
               name: String, links: org.apache.spark.sql.DataFrame): Boolean = {
      val id = reg.filter(col(namec) === name).collect()(0).getAs[Long](idc)
      links.filter(col(idc) === id && col("etl_source") === "METADATA:GSE0" &&
        col("bio_data_id") === expId).count() == 1
    }
    assert(linked(t.bioCompound, "bio_compound_id", "generic_name",
      "Test Drugs", t.bioDataCompound))
    assert(linked(t.bioDisease, "bio_disease_id", "disease",
      "Bad Disease", t.bioDataDisease))
    assert(linked(t.bioTaxonomy, "bio_taxonomy_id", "taxon_name",
      "Test Homo", t.bioDataTaxonomy))

    val repo = t.bioContentRepository.filter($"repository_type" === "NCBI" &&
      $"location" === "http://www.ncbi.nlm.nih.gov/" && $"active_y_n" === "Y" &&
      $"location_type" === "URL").collect()
    assert(repo.length == 1)
    assert(t.bioContent.filter($"location" === "geo/query/acc.cgi?acc=GSE0" &&
      $"repository_id" === repo(0).getAs[Long]("bio_content_repo_id")).count() == 1)

    // idempotent re-load keeps single rows (the NOT-EXISTS paths)
    val t2 = graft.pipeline.StudyMetadata.load(spark, meta, t)
    assert(t2.bioExperiment.count() == 1 && t2.bioCompound.count() == 1)
    assert(t2.bioDataCompound.count() == 1 && t2.bioContent.count() == 1)
  }

  test("metadata XML: timepoint minute conversion + numeric template") {
    assert(MetadataXml.timepointMinutes("Baseline").contains(0.0))
    assert(MetadataXml.timepointMinutes("Week -3").contains(-30240.0))
    assert(MetadataXml.timepointMinutes("2 days 4 hours").contains(3120.0))
    assert(MetadataXml.timepointMinutes("garbage") == None)
    val xml = MetadataXml.buildMetadataXml("Week 1", "T", "TIMEPOINT").get
    assert(xml.contains("<SeriesMeta><Value>10080</Value><Unit>minutes</Unit>"))
    assert(MetadataXml.buildMetadataXml("Age", "N", "").get.endsWith("</ValueMetadata>"))
    assert(MetadataXml.buildMetadataXml("Sex", "T", "") == None)
  }

  test("platform reader: per-datatype key columns (miRNA, RBM, metabolomics)") {
    def readWith(header: String, row: String) = {
      val f = Files.createTempDirectory("graft-plat").resolve("P.txt")
      Files.writeString(f, s"# PLATFORM_ID: P\n$header\n$row\n")
      OmicsSources.readPlatform(spark, f.toString)._2.collect()(0)
    }
    // miRNA: SN_ID is the probe, MIRNA_ID the symbol (MIRNAPlatform:50-51)
    val mirna = readWith("MIRNA_ID\tSN_ID\tORGANISM", "hsa-let-7a\tsn123\tHomo")
    assert(mirna.getAs[String]("probeset_id") == "sn123")
    assert(mirna.getAs[String]("gene_symbol") == "hsa-let-7a")
    // RBM: antigen name keys the row (RBMPlatform:46-49)
    val rbm = readWith("Antigen Name\tUniprot\tGene Symbol\tGene ID",
      "IL-8\tQ12345\tCXCL8\t3576")
    assert(rbm.getAs[String]("probeset_id") == "IL-8")
    assert(rbm.getAs[String]("gene_symbol") == "CXCL8")
    assert(rbm.getAs[Long]("gene_id") == 3576L)
    // metabolomics: HMDB id + BIOCHEMICAL (MetabolomicsPlatform:46-47)
    val met = readWith("BIOCHEMICAL\tHMDB_ID", "mevalonic acid\tHMDB0TEST")
    assert(met.getAs[String]("probeset_id") == "HMDB0TEST")
    assert(met.getAs[String]("gene_symbol") == "mevalonic acid")
  }

  test("reference Protein fixture replays: peptide key, avg collapse, proteomics zscore") {
    // ProteinDataProcessorTest.groovy:41-59 — title node with 5 patients;
    // annotation keyed on PEPTIDE with the majority-protein id as uniprot;
    // duplicate peptides (RPPGFSPFR x3) collapse by avg BEFORE the log and
    // fan back out through the annotation join; proteomics flavor =
    // log2(v + 0.001) rounded to 4 dp before the stats
    val dir = "/root/reference/fixtures/Test Studies/Test Protein Study_GSE37425/ProteinDataToUpload"
    val (meta, ann) = OmicsSources.readPlatform(spark, s"$dir/RBM999.txt")
    assert(meta("PLATFORM_ID") == "RBM999")
    assert(meta("PLATFORM_TITLE") == "Test Protein Platform")
    val annRows = ann.collect()
    assert(annRows.length == 5)
    assert(annRows.find(_.getAs[String]("probeset_id") == "RPPGFSPFR(QTF-2)")
      .get.getAs[String]("uniprot_id") == "P50440")

    val m = TsvReader.read(spark, s"$dir/Test Study_GSE37425_Subject_Sample_Mapping_File.txt")
    def nullIfEmpty(c: org.apache.spark.sql.Column) =
      when(length(coalesce(c, lit(""))) === 0, lit(null).cast("string")).otherwise(c)
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_CD".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUE_TYPE".as("tissue_type"),
      nullIfEmpty($"ATTRIBUTE_1").as("attribute_1"),
      nullIfEmpty($"ATTRIBUTE_2").as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("GSE37425"), coalesce($"site_id", lit("")), $"subject_id")
        .as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    assert(patients.filter($"sourcesystem_cd" === "GSE37425:GSM918945").count() == 1)
    val gpl = Seq(("RBM999", "Test Protein Platform", "PROTEOMICS"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "GSE37425",
      "\\Test Studies\\Test Protein Study\\", sampleMap, gpl, patients,
      markerType = "PROTEOMICS")
    // hasNode('...\Biomarker Data\Test Protein Platform\').withPatientCount(5)
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node")
      == "\\Test Studies\\Test Protein Study\\Biomarker Data\\Test Protein Platform\\")
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 5)
    assert(ls.sampleMapping.filter($"subject_id" === "GSM918944" &&
      $"sample_cd" === "P50440").collect()(0).getAs[String]("gpl_id") == "RBM999")

    // data melt skips the 'Majority protein IDs' column (havePeptide)
    val melted = OmicsSources.meltProtein(
      TsvReader.read(spark, s"$dir/Test Study_GSE37425_PROTEIN_Data_R.txt"))
    // R upload keeps zeros, drops only negatives (sign <> -1, :973)
    val avgd = melted.filter(signum($"intensity_value") =!= -1)
      .groupBy($"probeset_id", $"sample_id")
      .agg(avg($"intensity_value").as("intensity_value"))
    val z = graft.operators.ZScore.pipeline(avgd, Seq("probeset_id"),
      "intensity_value", dataType = "R", logBase = 2.0,
      zeroGuard = 0.001, logRoundDp = Some(4))
    val facts = z.join(
      ann.select($"probeset_id", $"uniprot_id".as("gene_symbol")),
      Seq("probeset_id"))

    // hasRecord(de_subject_protein_data, GSM918946 x P50440,
    //   component = 'RPPGFSPFR(QTF-2)'); GSM918946's sample is P02647
    val comp = facts.filter($"sample_id" === "P02647" && $"gene_symbol" === "P50440")
      .collect()
    assert(comp.length == 1 && comp(0).getAs[String]("probeset_id") == "RPPGFSPFR(QTF-2)")
    // log_intensity O00231 x P50440 = 22.6096 (testItMergeSamples first load)
    val li = facts.filter($"sample_id" === "O00231" && $"gene_symbol" === "P50440")
      .collect()(0).getAs[Double]("log_intensity")
    assert(li == 22.6096)
    // zscore P50440 x O00231 = 0.02146 +- 0.001 (assertThatSampleIsPresent)
    val zs = facts.filter($"sample_id" === "P50440" && $"gene_symbol" === "O00231")
      .collect()
    assert(zs.length == 1)
    assert(math.abs(zs(0).getAs[Double]("zscore") - 0.02146) < 0.001)
  }

  test("reference RBM fixture replays: long-format read, unit strip, rbm zscore") {
    // RBMDataProcessorTest.groovy:62-77 — positional long-format data
    // (SAMPID/ANALYTE/AVALUE), analyte keeps its '(unit)' suffix through
    // the stats and is stripped only in the final annotation join; the RBM
    // R log guards zero with +0.001 only when v <= 0
    val dir = "/root/reference/fixtures/Test Studies/Test RBM Study/RBMDataToUpload"
    val (meta, ann) = OmicsSources.readPlatform(spark, s"$dir/RBM100.txt")
    assert(meta("PLATFORM_TITLE") == "Test RBM Platform")
    assert(ann.filter($"probeset_id" === "Amphiregulin").collect()(0)
      .getAs[String]("uniprot_id") == "P15514")

    val m = TsvReader.read(spark, s"$dir/Test Study_TESTRBM_Subject_Sample_Mapping_File.txt")
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_ID".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUETYPE".as("tissue_type"),
      $"ATTR1".as("attribute_1"), $"ATTR2".as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("TESTRBM"), $"site_id", $"subject_id").as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    // hasPatient('1:S57023').inTrial('TESTRBM')
    assert(patients.filter($"sourcesystem_cd" === "TESTRBM:1:S57023").count() == 1)
    val gpl = Seq(("RBM100", "Test RBM Platform", "RBM"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "TESTRBM",
      "\\Test Studies\\Test RBM Study\\", sampleMap, gpl, patients,
      markerType = "RBM")
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node")
      == "\\Test Studies\\Test RBM Study\\Biomarker Data\\Test RBM Platform\\Intestine\\Test\\")
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 2)
    val s24 = ls.sampleMapping.filter($"sample_cd" === "GA8015ZS-06").collect()(0)
    assert(s24.getAs[String]("subject_id") == "S57024" &&
      s24.getAs[String]("site_id") == "2" &&
      s24.getAs[String]("gpl_id") == "RBM100")

    val long = OmicsSources.readRbmLong(
      TsvReader.read(spark, s"$dir/Test Study_TESTRBM_RBM_Data_R.txt"))
    val avgd = long.filter(signum($"intensity_value") =!= -1)
      .groupBy($"probeset_id", $"sample_id")
      .agg(avg($"intensity_value").as("intensity_value"))
    val z = graft.operators.ZScore.pipeline(avgd, Seq("probeset_id"),
      "intensity_value", dataType = "R",
      customLog = Some(graft.operators.ZScore.rbmLog))
    // final insert strips '(unit)' for antigen_name and joins the
    // annotation on the stripped name (I2B2_RBM_ZSCORE_CALC_NEW.sql:300,320)
    val stripped = z.withColumn("antigen_name",
      when(instr($"probeset_id", "(") > 0,
        trim(expr("substring(probeset_id, 1, instr(probeset_id, '(') - 1)")))
        .otherwise($"probeset_id"))
    val facts = stripped.join(
      ann.select(trim($"probeset_id").as("antigen_name"), $"uniprot_id"),
      Seq("antigen_name"))
    // assertThatSampleIsPresent('GA8015ZS-06', P15514 -> -1 +- 0.3)
    val zs = facts.filter($"sample_id" === "GA8015ZS-06" && $"uniprot_id" === "P15514")
      .collect()
    assert(zs.length == 1)
    assert(math.abs(zs(0).getAs[Double]("zscore") - (-1.0)) <= 0.3)
  }

  test("reference MirnaQpcr fixture replays: dCt negation log, title node") {
    // MIRNAQpcrDataProcessorTest.groovy:49-73 — a qPCR dCt value IS minus
    // the log, so log_intensity = -value; probe '1' on GSM918938:
    // raw 0.113408, log -0.113408, zscore 0.70711
    val dir = "/root/reference/fixtures/Test Studies/Test MirnaQpcr Study/MIRNA_QPCRDataToUpload"
    val (meta, ann) = OmicsSources.readPlatform(spark, s"$dir/GPL15467qpcrbased.txt")
    assert(meta("PLATFORM_TITLE") == "Test MIRNAqpcr Platform")
    assert(ann.filter($"probeset_id" === "1").collect()(0)
      .getAs[String]("gene_symbol") == "mmu-let-7b")

    val m = TsvReader.read(spark, s"$dir/Test Study_TEST005_Subject_Sample_Mapping_file.txt")
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_ID".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUETYPE".as("tissue_type"),
      $"ATTR1".as("attribute_1"), $"ATTR2".as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("TEST005"), $"site_id", $"subject_id").as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    assert(patients.filter($"sourcesystem_cd" === "TEST005:2:S57024").count() == 1)
    val gpl = Seq(("GPL15467qpcrbased", "Test MIRNAqpcr Platform", "MIRNA_QPCR"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "TEST005",
      "\\Test Studies\\Test MirnaQpcr Study\\", sampleMap, gpl, patients,
      markerType = "MIRNA_QPCR")
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node")
      == "\\Test Studies\\Test MirnaQpcr Study\\Biomarker Data\\Test MIRNAqpcr Platform\\Intestine\\Test\\")
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 2)
    assert(ls.sampleMapping.filter($"subject_id" === "S57023").collect()(0)
      .getAs[String]("sample_cd") == "GSM918938")

    val melted = OmicsSources.meltMatrix(
      TsvReader.read(spark, s"$dir/Test Study_TEST005_MIRNA_Data_R.txt"))
    val z = graft.operators.ZScore.pipeline(melted, Seq("probeset_id"),
      "intensity_value", dataType = "R",
      customLog = Some(graft.operators.ZScore.qpcrLog))
    val r = z.filter($"probeset_id" === "1" && $"sample_id" === "GSM918938")
      .collect()(0)
    assert(r.getAs[Double]("raw_intensity") == 0.113408)
    assert(r.getAs[Double]("log_intensity") == -0.113408)
    assert(math.abs(r.getAs[Double]("zscore") - 0.70711) < 1e-4)
  }

  test("reference MirnaSeq fixture replays: rounded log2, Synovium rollup") {
    // MIRNASeqDataProcessorTest.groovy:51-70 — R log = round(log2(v), 5)
    // with a 0 floor for v <= 0; node \Biomarker Data\Test MIRNAseq
    // Platform\Synovium\ rolls up 8 patients; probe '16' on GSM918944:
    // raw 0.163313108, log -2.61429, zscore 1.05828
    val dir = "/root/reference/fixtures/Test Studies/Test MirnaSeq Study/MIRNA_SEQDataToUpload"
    val (meta, _) = OmicsSources.readPlatform(spark, s"$dir/GPL15467seqbased.txt")
    assert(meta("PLATFORM_TITLE") == "Test MIRNAseq Platform")

    val m = TsvReader.read(spark, s"$dir/Test Study_mirnaseqbased_Subject_Sample_Mapping_File.txt")
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_CD".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUETYPE".as("tissue_type"),
      $"ATTRITBUTE_1".as("attribute_1"), // the fixture's own header typo
      $"ATTRITBUTE_2".as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("MIRNASEQBASED"), coalesce($"site_id", lit("")), $"subject_id")
        .as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    val gpl = Seq(("GPL15467seqbased", "Test MIRNAseq Platform", "MIRNA_SEQ"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "MIRNASEQBASED",
      "\\Test Studies\\Test MirnaSeq Study\\", sampleMap, gpl, patients,
      markerType = "MIRNA_SEQ")
    // ATTR1 = Synovium is the path tail; 8 subjects map under it
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node")
      == "\\Test Studies\\Test MirnaSeq Study\\Biomarker Data\\Test MIRNAseq Platform\\Synovium\\")
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 8)

    val melted = OmicsSources.meltMatrix(
      TsvReader.read(spark, s"$dir/Test Study_mirnaseqbased_MIRNA_Data_R.txt"))
    val z = graft.operators.ZScore.pipeline(melted, Seq("probeset_id"),
      "intensity_value", dataType = "R",
      customLog = Some(graft.operators.ZScore.mirnaSeqLog))
    val r = z.filter($"probeset_id" === "16" && $"sample_id" === "GSM918944")
      .collect()(0)
    assert(math.abs(r.getAs[Double]("raw_intensity") - 0.163313108) < 1e-9)
    assert(r.getAs[Double]("log_intensity") == -2.61429)
    assert(math.abs(r.getAs[Double]("zscore") - 1.05828) < 1e-4)
  }

  test("platform reader fuzzy column detection") {
    val dir = Files.createTempDirectory("graft-gpl")
    val f = dir.resolve("GPL570.txt")
    Files.writeString(f,
      """# PLATFORM_ID: GPL570
        |# PLATFORM_SPECIES: Homo sapiens
        |ID_REF	Gene Symbol	ENTREZ_GENE_ID
        |p1	EGFR	1956
        |""".stripMargin)
    val (meta, df) = OmicsSources.readPlatform(spark, f.toString)
    assert(meta("PLATFORM_ID") == "GPL570")
    val r = df.collect()(0)
    assert(r.getAs[String]("probeset_id") == "p1")
    assert(r.getAs[String]("gene_symbol") == "EGFR")
    assert(r.getAs[Long]("gene_id") == 1956L)
  }

  test("reference TST platform replays PlatformLoaderTest: multi-gene-id modes") {
    // PlatformLoaderTest.groovy:13-42 over the real fixture: by default the
    // '123 /// 456' row is dropped (5 rows, ARX gene_id null); with
    // useFirstGeneId the first id wins (6 rows, MULTID -> 123)
    val path = "/root/reference/fixtures/Platforms/TST.txt"
    val (meta, ann) = OmicsSources.readPlatform(spark, path)
    assert(meta("PLATFORM_TITLE") == "Test Platform")
    assert(meta("PLATFORM_SPECIES") == "Homo Sapiens")
    val rows = ann.collect()
    assert(rows.length == 5)
    val arx = rows.find(_.getAs[String]("gene_symbol") == "ARX").get
    assert(arx.isNullAt(arx.fieldIndex("gene_id")))
    assert(!rows.exists(_.getAs[String]("gene_symbol") == "MULTID"))

    val (_, annFirst) = OmicsSources.readPlatform(spark, path, useFirstGeneId = true)
    val rowsFirst = annFirst.collect()
    assert(rowsFirst.length == 6)
    val mult = rowsFirst.find(_.getAs[String]("gene_symbol") == "MULTID").get
    assert(mult.getAs[Long]("gene_id") == 123L)
    val arx2 = rowsFirst.find(_.getAs[String]("gene_symbol") == "ARX").get
    assert(arx2.isNullAt(arx2.fieldIndex("gene_id")))
  }
}
