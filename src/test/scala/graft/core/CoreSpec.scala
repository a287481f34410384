package graft.core

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StudyDiscoverySpec extends SparkSpec {

  test("discovery: data-dir convention, skip markers, parent path nesting") {
    val root = Files.createTempDirectory("graft-root")
    val s1 = Files.createDirectories(root.resolve("Oncology/Study A/ClinicalDataToUpload"))
    Files.createDirectories(root.resolve("Oncology/Study A/ExpressionData"))
    Files.createDirectories(root.resolve("_DONE_Study B/ClinicalData"))
    Files.createDirectories(root.resolve("Plain Folder/Nothing Here"))

    val found = StudyDiscovery.discover(root, "\\Public Studies")
    assert(found.size == 1)
    val st = found.head
    assert(st.studyLabel == "Study A")
    assert(st.parentPath == "\\Public Studies\\Oncology")
    assert(st.dataTypes.keySet == Set("Clinical", "Expression"))

    val done = StudyDiscovery.markProcessed(st.path, success = true)
    assert(done.getFileName.toString == "_DONE_Study A")
  }

  test("zip studies: listed, extracted, discovered, marked (DirectoryProcessorTest)") {
    val root = Files.createTempDirectory("graft-zip-root")
    // build Study Z.zip holding Study Z/ClinicalDataToUpload/data.txt
    val zipPath = root.resolve("Study Z.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("Study Z/ClinicalDataToUpload/data.txt"))
    zos.write("SUBJ_ID\tAGE\nS1\t42\n".getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    Files.createFile(root.resolve("_DONE_Old.zip")) // already processed: skipped

    val zips = StudyDiscovery.zipStudies(root)
    assert(zips.map(_.getFileName.toString) == Seq("Study Z.zip"))

    val scratch = Files.createTempDirectory("graft-zip-scratch")
    val studyDir = StudyDiscovery.extractZipStudy(zips.head, scratch)
    assert(studyDir.getFileName.toString == "Study Z")
    val found = StudyDiscovery.discover(scratch, "\\Public Studies")
    assert(found.size == 1 && found.head.dataTypes.keySet == Set("Clinical"))
    assert(Files.readString(found.head.dataTypes("Clinical").resolve("data.txt"))
      .startsWith("SUBJ_ID"))

    // the archive itself gets the _DONE_ mark, like ZipStudyProcessor
    val marked = StudyDiscovery.markProcessed(zipPath, success = true)
    assert(marked.getFileName.toString == "_DONE_Study Z.zip")
  }
}

class TablesTsSpec extends SparkSpec {
  import spark.implicits._

  test("withTsNanos normalizes NTZ independent of the session time zone") {
    // driver convention: the NTZ wall time IS the UTC instant
    val epochMicros = 1723600000000000L // 2024-08-14T01:46:40Z
    val ntz = spark.sql(
      s"SELECT timestamp_ntz '1970-01-01 00:00:00' + make_interval(0,0,0,0,0,0, $epochMicros / 1e6) AS ts")
    val utcZone = spark.conf.get("spark.sql.session.timeZone")
    val underUtc = Tables.withTsNanos(ntz).collect()(0).getLong(0)
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val shifted = Tables.withTsNanos(ntz).collect()(0).getLong(0)
      assert(shifted == underUtc, "NTZ normalization must not follow the session zone")
      assert(shifted == epochMicros * 1000L)
    } finally spark.conf.set("spark.sql.session.timeZone", utcZone)
  }

  test("withTsNanos passes LongType through and reads LTZ instants directly") {
    val asLong = Seq(42L).toDF("ts")
    assert(Tables.withTsNanos(asLong).collect()(0).getLong(0) == 42L)
    val ltz = spark.sql("SELECT timestamp '2024-08-14 00:00:00 UTC' AS ts")
    val utcZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val nanos = Tables.withTsNanos(ltz).collect()(0).getLong(0)
      assert(nanos == 1723593600000000000L)
    } finally spark.conf.set("spark.sql.session.timeZone", utcZone)
  }
}

class AuditSpec extends SparkSpec {
  import spark.implicits._

  test("audit log records steps, rowcounts, failures") {
    val audit = new Audit("job-1")
    val df = audit.logStep("load", countRows = true) {
      Seq(1, 2, 3).toDF("x")
    }
    assert(df.count() == 3)
    intercept[RuntimeException] {
      audit.logStep("boom")(throw new RuntimeException("nope"))
    }
    val es = audit.entries
    assert(es.map(_.status) == Seq("Done", "FAIL"))
    assert(es.head.rowCount == 3)
    assert(audit.toDF(spark).count() == 2)
  }
}

class IdsSpec extends SparkSpec {
  import spark.implicits._

  /** The reference form of [[Ids.denseIds]]: a global row_number() over
    * `sortCols` (single-partition plan). */
  private def windowIds(df: org.apache.spark.sql.DataFrame, sortCols: Seq[String],
                        idCol: String) =
    df.withColumn(idCol, row_number()
      .over(org.apache.spark.sql.expressions.Window.orderBy(sortCols.map(col): _*))
      .cast("long"))

  test("denseIds equals windowIds and is deterministic across runs") {
    val df = Seq("c", "a", "b", "d").toDF("k")
    val dense = Ids.denseIds(df, Seq("k"), "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val windowed = windowIds(df, Seq("k"), "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dense == windowed)
    assert(dense == Map("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L))
    val again = Ids.denseIds(df.repartition(3), Seq("k"), "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == dense)
  }

  test("denseIdsAfter folds the max-id aggregate into the counts round-trip") {
    import org.apache.spark.sql.functions._
    val existing = Seq(("x", 7L), ("y", 41L)).toDF("k", "id")
    val fresh = Seq("c", "a", "b").toDF("k")
    val ids = Ids.denseIdsAfter(fresh, Seq("k"), "id",
      existing.agg(coalesce(max(col("id")), lit(0L)))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ids == Map("a" -> 42L, "b" -> 43L, "c" -> 44L))
    // empty input: no ids, schema intact
    val none = Ids.denseIdsAfter(fresh.filter(lit(false)), Seq("k"), "id",
      existing.agg(coalesce(max(col("id")), lit(0L))))
    assert(none.columns.toSeq == Seq("k", "id") && none.count() == 0)
  }

  test("denseIds leaves no CacheManager entry behind (repeated crawl-style calls)") {
    // the pre-r7 persist() registered a MEMORY_AND_DISK frame with the
    // CacheManager on EVERY call and nothing released it until clearCache —
    // a long CLI crawl (denseIds per study per table) accumulated executor
    // memory. localCheckpoint never touches the CacheManager and its blocks
    // release on GC. Other suites share this session (and may legitimately
    // cache), so assert the mechanism per-call: the consumer plan reads the
    // checkpointed RDD directly, never through an InMemoryTableScan.
    val wasEmpty = spark.sharedState.cacheManager.isEmpty
    (1 to 3).foreach { i =>
      val df = Seq.tabulate(10)(j => s"k$i-$j").toDF("k")
      val out = Ids.denseIds(df, Seq("k"), "id")
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("InMemoryTableScan"),
        s"denseIds call $i registered a cache entry:\n${plan.take(1500)}")
      assert(plan.contains("Scan ExistingRDD"),
        s"denseIds call $i should read its checkpointed RDD:\n${plan.take(1500)}")
    }
    if (wasEmpty)
      assert(spark.sharedState.cacheManager.isEmpty,
        "denseIds must not accumulate CacheManager entries across calls")
  }
}

class StudyGuardsSpec extends SparkSpec {
  import spark.implicits._

  // DataProcessorTest scenarios: same-path and same-id conflicts
  private def i2b2 = Seq(
    ("\\Test Studies\\Study A\\", "GSE_A"),
    ("\\Test Studies\\Study A\\Vitals\\", "GSE_A"),
    ("\\Test Studies\\Two Ids\\X\\", "GSE_X"),
    ("\\Test Studies\\Two Ids\\Y\\", "GSE_Y"),
    ("\\Test Studies\\", null))
    .toDF("c_fullname", "sourcesystem_cd")

  test("same path with several study ids is unrecoverable") {
    val r = StudyGuards.checkStudiesBySamePath(i2b2, "\\Test Studies\\Two Ids\\")
    assert(r.left.exists(_.message.contains("several different studyIds")))
    assert(r.left.exists(c => c.message.contains("GSE_X") && c.message.contains("GSE_Y")))
  }

  test("occupied path: same id re-uploads, different id needs replaceStudy") {
    val node = "\\Test Studies\\Study A\\"
    val old = StudyGuards.checkStudiesBySamePath(i2b2, node).toOption.flatten
    assert(old.contains("GSE_A"))
    // re-upload of the same study proceeds
    assert(StudyGuards.checkStudyExist(i2b2, "GSE_A", node, old).isEmpty)
    // a different id on the occupied path fails...
    val conflict = StudyGuards.checkStudyExist(i2b2, "GSE_B", node, old)
    assert(conflict.exists(_.message.contains("different studyId")))
    // ...unless replaceStudy is on (the caller then deletes GSE_A first)
    assert(StudyGuards.checkStudyExist(i2b2, "GSE_B", node, old,
      replaceStudy = true).isEmpty)
  }

  test("same id under a different path is rejected (first_value canonical path)") {
    val r = StudyGuards.checkStudyExist(i2b2, "GSE_A",
      "\\Test Studies\\Renamed Study\\", oldId = None)
    assert(r.exists(_.message.contains(
      "same id found by different path: \\Test Studies\\Study A\\")))
    // unseen id loads anywhere
    assert(StudyGuards.checkStudyExist(i2b2, "GSE_NEW",
      "\\Test Studies\\Anywhere\\", None).isEmpty)
  }
}

class SnpAndSerialSpec extends SparkSpec {
  import spark.implicits._
  import graft.pipeline.SnpAndSerial

  test("SNP full-outer merge coalesces keys") {
    val calls = Seq(("g1", "rs1", "AA"), ("g1", "rs2", "AB")).toDF("gsm_num", "snp_name", "call")
    val cn = Seq(("g1", "rs2", 1.5), ("g1", "rs3", 0.5)).toDF("gsm_num", "snp_name", "cn")
    val m = SnpAndSerial.mergeSnp(calls, cn)
    assert(m.count() == 3)
    val rs2 = m.filter($"snp_name" === "rs2").collect()(0)
    assert(rs2.getAs[String]("call") == "AB" && rs2.getAs[Double]("cn") == 1.5)
    assert(m.filter($"snp_name" === "rs3").collect()(0).getAs[String]("call") == null)
  }

  test("SNP per-sample file readers: calls + copy-number formats, typed casts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snp")
    java.nio.file.Files.writeString(dir.resolve("c1.txt"),
      "GSM_NUM\tSNP_NAME\tSNP_CALLS\ng1\trs1\tAA\ng1\trs2\tAB\n")
    java.nio.file.Files.writeString(dir.resolve("c2.txt"),
      "GSM_NUM\tSNP_NAME\tSNP_CALLS\ng2\trs1\tBB\n")
    java.nio.file.Files.writeString(dir.resolve("cn1.txt"),
      "GSM_NUM\tSNP_NAME\tCHROM\tCHROM_POS\tCOPY_NUMBER\ng1\trs2\t1\t1250\t1.5\n")
    val merged = SnpAndSerial.loadSnp(spark,
      Seq(dir.resolve("c1.txt").toString, dir.resolve("c2.txt").toString),
      Seq(dir.resolve("cn1.txt").toString))
    assert(merged.count() == 3)
    val rs2 = merged.filter($"snp_name" === "rs2").collect()(0)
    assert(rs2.getAs[String]("snp_calls") == "AB")
    assert(rs2.getAs[Long]("chrom_pos") == 1250L)
    assert(rs2.getAs[Double]("copy_number") == 1.5)
    assert(merged.schema("chrom_pos").dataType.typeName == "long")
  }

  test("absent SNP file family: empty frame, one-sided merge survives") {
    // the reference's SNP load iterates zero files for a missing family;
    // an empty path list must not crash (empty.reduceLeft) and loadSnp
    // must produce the one-sided full-outer result
    val dir = java.nio.file.Files.createTempDirectory("graft-snp-onesided")
    java.nio.file.Files.writeString(dir.resolve("c1.txt"),
      "GSM_NUM\tSNP_NAME\tSNP_CALLS\ng1\trs1\tAA\n")
    val merged = SnpAndSerial.loadSnp(spark,
      Seq(dir.resolve("c1.txt").toString), Seq.empty)
    assert(merged.count() == 1)
    val r = merged.filter($"snp_name" === "rs1").collect()(0)
    assert(r.getAs[String]("snp_calls") == "AA" && r.isNullAt(r.fieldIndex("copy_number")))
    assert(SnpAndSerial.loadSnp(spark, Seq.empty, Seq.empty).count() == 0)
  }

  test("reference SNP fixture replays: positional reads, merge, platform node") {
    // SNPDataProcessorTest.groovy:32-46 — the mapping file names each
    // sample's calls/copy-number files; per-sample files are read by
    // POSITION (their headers say SAMPLE_ID/PROBESET_ID/...); full-outer
    // merge leaves calls null for copy-number-only probes
    val dir = "/root/reference/fixtures/Test Studies/Test Study_GSE0/SNPDataToUpload"
    val mapping = graft.sources.TsvReader.read(spark,
      s"$dir/Test Study_GSE0_Subject_Sample_Mapping_File.txt")
    val (callsFiles, cnFiles) = SnpAndSerial.snpFileLists(mapping, dir)
    assert(callsFiles.size == 3 && cnFiles.size == 3)

    val merged = SnpAndSerial.loadSnp(spark, callsFiles, cnFiles)
    // hasRecord(de_sample_snp_data, TST001 x SNP_A-4265338,
    //   snp_calls null, copy_number 0.628913)
    val r1 = merged.filter($"gsm_num" === "TST001" && $"snp_name" === "SNP_A-4265338")
      .collect()(0)
    assert(r1.isNullAt(r1.fieldIndex("snp_calls")))
    assert(r1.getAs[Double]("copy_number") == 0.628913)
    // hasRecord(.., TST001 x SNP_A-1984209, snp_calls '2', cn -0.187262)
    val r2 = merged.filter($"gsm_num" === "TST001" && $"snp_name" === "SNP_A-1984209")
      .collect()(0)
    assert(r2.getAs[String]("snp_calls") == "2")
    assert(r2.getAs[Double]("copy_number") == -0.187262)

    // hasNode(\Test Studies\Test Study\SNP\Test SNP Platform\Unknown\)
    // .withPatientCount(3): title-substituted platform node, Unknown tissue
    val meta = graft.sources.TsvReader.metaHeader(spark, s"$dir/TST_SNP.txt")
    assert(meta("PLATFORM_TITLE") == "Test SNP Platform")
    val sampleMap = mapping.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_CD".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUETYPE".as("tissue_type"),
      $"ATTR1".as("attribute_1"), $"ATTR2".as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("GSE0"), coalesce($"site_id", lit("")), $"subject_id")
        .as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    assert(patients.filter($"sourcesystem_cd" === "GSE0:Subject_0").count() == 1)
    val gpl = Seq(("TST_SNP", "Test SNP Platform", "SNP"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "GSE0",
      "\\Test Studies\\Test Study\\", sampleMap, gpl, patients,
      markerType = "SNP")
    assert(ls.nodes.filter($"node_type" === "LEAF").collect()(0)
      .getAs[String]("leaf_node")
      == "\\Test Studies\\Test Study\\SNP\\Test SNP Platform\\Unknown\\")
    assert(ls.sampleMapping.select("patient_id").distinct().count() == 3)
  }

  test("reference SerialHDD dimensions mapping replays: verbatim unit XML") {
    // ExpressionSerialHDDDataProcessorTest expects the Week 1 node's
    // metadata to carry <Value>7</Value><Unit>days</Unit> verbatim (days,
    // NOT converted to minutes — the Groovy loader template)
    val dims = SnpAndSerial.readSampleDimensions(spark,
      "/root/reference/fixtures/Test Studies/Test ExpressionSerialHDD Study/ExpressionSerialHDDDataToUpload/Test Study_TSTSHDD_Sample_Dimensions_Mapping.txt")
    assert(dims.count() == 11)
    val w1 = dims.filter($"category_cd" === "Sample Factors Week 1")
      .collect()(0).getAs[String]("c_metadataxml")
    assert(w1.contains("<Value>7</Value>"))
    assert(w1.contains("<Unit>days</Unit>"))
    assert(w1.contains("<DisplayName>Week 1</DisplayName>"))
    assert(w1.startsWith("<?xml version=\"1.0\"?>"))
    assert(w1.contains("<Oktousevalues>Y</Oktousevalues>"))
  }

  test("reference ProteinSerialHDD fixture replays: xml stamp, sample dim, fact backfill") {
    // ProteinSerialHDDDataProcessorTest — the Week 1 node carries the
    // verbatim days XML, every sample registers in sample_dimension, and
    // each sample's facts carry its sample_cd
    import org.apache.spark.sql.functions._
    val dir = "/root/reference/fixtures/Test Studies/Test Protein Study_GSE37425/ProteinSerialHDDDataToUpload"
    val dims = SnpAndSerial.readSampleDimensions(spark,
      s"$dir/Test Study_GSE37425_Sample_Dimensions_Mapping.txt")
    assert(dims.count() == 11)

    val m = graft.sources.TsvReader.read(spark,
      s"$dir/Test Study_GSE37425_Subject_Sample_Mapping_File.txt")
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_CD".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUE_TYPE".as("tissue_type"),
      lit(null).cast("string").as("attribute_1"),
      lit(null).cast("string").as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("GSE37425"), coalesce($"site_id", lit("")), $"subject_id")
        .as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    val gpl = Seq(("RBM888", "Test Protein Platform 2", "PROTEOMICS"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "GSE37425",
      "\\Test Studies\\Test Protein Study\\", sampleMap, gpl, patients,
      markerType = "PROTEOMICS")

    // ontology frame in the proc's shape: name + basecode + study
    val i2b2 = ls.nodes.select(
      $"leaf_node".as("c_fullname"),
      graft.functions.PathFunctions.lastPathComponent($"leaf_node").as("c_name"),
      $"concept_cd".as("c_basecode"),
      lit("GSE37425").as("sourcesystem_cd"))
    val mapping = ls.sampleMapping.select(
      $"concept_code", $"sample_cd", $"patient_id", $"trial_name")
    val noDim = Seq.empty[String].toDF("sample_cd")
    val t = SnpAndSerial.applySerialHdd(i2b2, dims, mapping, noDim,
      ls.sampleFacts.withColumnRenamed("patient_num", "patient_num"), "GSE37425")

    // hasRecord(i2b2, '\...\Sample Factors Week 1\', metadataxml Value 7 days)
    val wk1 = t.i2b2.filter(
      $"c_fullname" === "\\Test Studies\\Test Protein Study\\Sample Factors Week 1\\")
      .collect()(0).getAs[String]("c_metadataxml")
    assert(wk1 != null && wk1.contains("<Value>7</Value>") &&
      wk1.contains("<Unit>days</Unit>") && wk1.contains("<DisplayName>Week 1</DisplayName>"))
    // hasRecord(sample_dimension, O002311)
    assert(t.sampleDimension.collect().map(_.getString(0)).toSet ==
      Set("P516591", "O002311", "P504401", "P378021", "P026471"))
    // every sample's facts carry its sample_cd
    val factSamples = t.facts.select("sample_cd").collect().map(_.getString(0)).toSet
    assert(factSamples == Set("P516591", "O002311", "P504401", "P378021", "P026471"))
  }

  test("reference MIRNA-QPCR SerialHDD fixture replays: week XML, sample dims, fact codes") {
    // MIRNASerialHDDDataProcessorTest: 'Sample Factors Week 1' node carries
    // the 7-days XML, both GSM samples register in sample_dimension, and
    // each sample's facts carry its sample_cd — same serial-HDD apply step,
    // MIRNA flavor of the fixture
    import org.apache.spark.sql.functions._
    val dir = "/root/reference/fixtures/Test Studies/Test MirnaQpcr Study/MIRNA_QPCRSerialHDDDataToUpload"
    val dims = SnpAndSerial.readSampleDimensions(spark,
      s"$dir/Test Study_TEST005_Sample_Dimensions_Mapping.txt")
    assert(dims.count() == 11)

    val m = graft.sources.TsvReader.read(spark,
      s"$dir/Test Study_TEST005_Subject_Sample_Mapping_file.txt")
    val sampleMap = m.select(
      $"SITE_ID".as("site_id"), $"SUBJECT_ID".as("subject_id"),
      $"SAMPLE_ID".as("sample_cd"), $"PLATFORM".as("platform"),
      $"TISSUETYPE".as("tissue_type"),
      $"ATTR1".as("attribute_1"), $"ATTR2".as("attribute_2"),
      $"CATEGORY_CD".as("category_cd"))
    val patients = graft.core.Ids.denseIds(
      sampleMap.select(graft.functions.CleansingFunctions.usubjid(
        lit("TEST005"), coalesce($"site_id", lit("")), $"subject_id")
        .as("sourcesystem_cd")).distinct(),
      Seq("sourcesystem_cd"), "patient_num")
    val gpl = Seq(("GPL15467qpcrbased", "Test MIRNA Platform", "MIRNA_QPCR"))
      .toDF("platform", "title", "marker_type")
    val ls = graft.pipeline.LoadSamples.run(spark, "TEST005",
      "\\Test Studies\\Test MirnaQpcr Study\\", sampleMap, gpl, patients,
      markerType = "MIRNA_QPCR")

    val i2b2 = ls.nodes.select(
      $"leaf_node".as("c_fullname"),
      graft.functions.PathFunctions.lastPathComponent($"leaf_node").as("c_name"),
      $"concept_cd".as("c_basecode"),
      lit("TEST005").as("sourcesystem_cd"))
    val mapping = ls.sampleMapping.select(
      $"concept_code", $"sample_cd", $"patient_id", $"trial_name")
    val noDim = Seq.empty[String].toDF("sample_cd")
    val t = SnpAndSerial.applySerialHdd(i2b2, dims, mapping, noDim,
      ls.sampleFacts, "TEST005")

    val wk1 = t.i2b2.filter($"c_fullname" ===
      "\\Test Studies\\Test MirnaQpcr Study\\Sample Factors Week 1\\")
      .collect()(0).getAs[String]("c_metadataxml")
    assert(wk1 != null && wk1.contains("<Value>7</Value>") &&
      wk1.contains("<Unit>days</Unit>") && wk1.contains("<DisplayName>Week 1</DisplayName>"))
    assert(t.sampleDimension.collect().map(_.getString(0)).toSet ==
      Set("GSM918938", "GSM918939"))
    val factSamples = t.facts.select("sample_cd").collect().map(_.getString(0)).toSet
    assert(factSamples == Set("GSM918938", "GSM918939"))
  }

  test("series metadata stamping + unparseable detection") {
    val nodes = Seq("Baseline", "Week 2", "not a timepoint").toDF("c_name")
    val stamped = SnpAndSerial.stampSeriesMetadata(nodes, "c_name")
    assert(SnpAndSerial.unparseable(stamped).collect()
      .map(_.getString(0)).toSeq == Seq("not a timepoint"))
    val wk2 = stamped.filter($"c_name" === "Week 2").collect()(0).getAs[String]("c_metadataxml")
    assert(wk2.contains("<Value>20160</Value>"))
  }
}

class TableWriterSpec extends SparkSpec {
  import spark.implicits._

  test("same-bucketed tables join without any Exchange") {
    val facts = (1 to 1000).map(i => (i.toLong % 50, s"v$i")).toDF("patient_num", "v")
    val dims = (0L until 50L).map(i => (i, s"p$i")).toDF("patient_num", "name")
    TableWriter.writeBucketed(facts, "graft_facts_b", "patient_num", 8)
    TableWriter.writeBucketed(dims, "graft_dims_b", "patient_num", 8)
    // disable broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = TableWriter.readTable(spark, "graft_facts_b")
        .join(TableWriter.readTable(spark, "graft_dims_b"), "patient_num")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("JDBC sink round-trip (embedded derby): append mode, bounded connections") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby")
    val url = s"jdbc:derby:$dbDir/stage;create=true"
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    TableWriter.writeJdbc(df, url, "lt_stage", mode = "overwrite",
      batchSize = 25, numPartitions = Some(2))
    TableWriter.writeJdbc(df.limit(10), url, "lt_stage") // append (default)
    val back = TableWriter.readJdbc(spark, url, "lt_stage")
    assert(back.count() == 110)
    assert(back.filter($"id" === 1L).count() == 2)
  }
}
