package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.core.{Ids, StudyDiscovery}
import graft.operators.StudyOps
import graft.pipeline.{AcghPipeline, ChromRegion, ClinicalPipeline, LoadSamples}
import graft.sources.{AcghMelt, ClinicalMapping, OmicsSources, TsvReader}

/** The thin operations driver — the engine's `tm_etl` counterpart
  * (reference CommandLineTool.groovy:36-62, DirectoryProcessor.groovy:
  * 37-135): crawl a study directory tree, run the per-datatype pipelines
  * into a parquet warehouse, mark processed studies `_DONE_`/`_FAIL_`,
  * and expose the maintenance operations (`--move-study`,
  * `--delete-study-by-id`, `--delete-study-by-path`) over that warehouse.
  *
  * Option names mirror the reference's CLI. The reference talks to a
  * Postgres/Oracle star; this driver's warehouse is a directory of
  * parquet tables (one `<table>.parquet` each), which is the lakehouse
  * equivalent — at scale each becomes a partitioned table and nothing
  * here changes.
  *
  * Upload datatypes wired end-to-end: Clinical, Expression (mRNA), ACGH,
  * VCF/MultiVCF, RNASeq, Proteomics, RBM, miRNA (qPCR + seq),
  * Metabolomics, SNP and GWAS Plink — every datatype the reference's
  * CommandLineTool dispatches. Omics uploads persist their LOAD_SAMPLES
  * ontology per category root, so a study's datatypes coexist in i2b2.
  */
object GraftCli {

  final case class Options(
      dataDir: Option[Path] = None,
      warehouse: Path = Paths.get("graft-warehouse"),
      parentNode: String = "\\Public Studies",
      noRename: Boolean = false,
      stopOnFail: Boolean = false,
      secureStudy: Boolean = false,
      moveStudy: Option[(String, String)] = None,
      keepSecurity: Boolean = false,
      deleteStudyById: Option[String] = None,
      deleteStudyByPath: Option[String] = None,
      useFirstGeneId: Boolean = false,
      checkDuplicates: Boolean = false,
      alwaysSetVisitName: Boolean = false,
      forceStart: Boolean = false,
      showHelp: Boolean = false)

  val Usage: String =
    """usage: graft-etl [options] [<data_dir>]
      | -o,--output <dir>               Warehouse directory (parquet tables)
      | -h,--help                       Show usage information
      | -n,--no-rename                  Don't rename folders when failed
      | -s,--stop-on-fail               Stop when upload is failed
      | -c,--config <file>              Config file (key = value lines; command-line
      |                                 options win). Default: ~/.graft/graft.conf
      | -m,--move-study <old;new>       Move study
      |    --keep-security              Preserve security settings when moving a new
      |                                 study over an old one (only with --move-study)
      |    --secure-study               Make study securable
      |    --always-set-visit-name      Add visit name to concept path even if only
      |                                 one visit found
      |    --delete-study-by-id <id>    Delete study by id
      |    --delete-study-by-path <p>   Delete study by path
      |    --use-first-gene-id          When probe maps to multiple Entrez Gene IDs
      |                                 use only the first one
      |    --check-duplicates           Check patient duplicates
      |    --parent-node <path>         Ontology parent for uploaded studies
      |    --force-start                Remove a leftover lock file before starting
      |""".stripMargin

  /** Site defaults from a config file — the reference's ConfigSlurper
    * `Config.groovy` layer (CommandLineTool.groovy:100-107) as plain
    * `key = value` lines (`#` comments). Recognized keys mirror the CLI
    * options; explicit command-line flags always win. */
  def loadConfig(file: Path, base: Options = Options()): Either[String, Options] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isRegularFile(file)) return Left(s"config file not found: $file")
    def bool(v: String) = Seq("true", "yes", "1", "on").contains(v.toLowerCase)
    var o = base
    for (line <- Files.readAllLines(file).asScala.map(_.trim)
           if line.nonEmpty && !line.startsWith("#")) {
      line.split("=", 2) match {
        case Array(k, v0) =>
          val v = v0.trim
          k.trim.toLowerCase.replace("-", "_") match {
            case "output" | "warehouse" => o = o.copy(warehouse = Paths.get(v))
            case "data_dir" => o = o.copy(dataDir = Some(Paths.get(v)))
            case "parent_node" => o = o.copy(parentNode = v)
            case "no_rename" => o = o.copy(noRename = bool(v))
            case "stop_on_fail" => o = o.copy(stopOnFail = bool(v))
            case "secure_study" => o = o.copy(secureStudy = bool(v))
            case "keep_security" => o = o.copy(keepSecurity = bool(v))
            case "use_first_gene_id" => o = o.copy(useFirstGeneId = bool(v))
            case "check_duplicates" => o = o.copy(checkDuplicates = bool(v))
            case "always_set_visit_name" => o = o.copy(alwaysSetVisitName = bool(v))
            case other => return Left(s"$file: unknown config key: $other")
          }
        case _ => return Left(s"$file: not a key = value line: $line")
      }
    }
    Right(o)
  }

  def parseArgs(args: Seq[String]): Either[String, Options] = {
    // config first (explicit -c, else the default site file if present),
    // then flags on top — flags win
    val defaultConf = Paths.get(sys.props.getOrElse("user.home", "."),
      ".graft", "graft.conf")
    val base = args.sliding(2).collectFirst {
      case Seq("-c" | "--config", f) => Paths.get(f)
    } match {
      case Some(f) => loadConfig(f) match {
        case Left(err) => return Left(err)
        case Right(o) => o
      }
      case None if Files.isRegularFile(defaultConf) =>
        loadConfig(defaultConf) match {
          case Left(err) => return Left(err)
          case Right(o) => o
        }
      case None => Options()
    }
    var o = base
    var rest = args.toList
    while (rest.nonEmpty) {
      rest match {
        case ("-h" | "--help") :: t => o = o.copy(showHelp = true); rest = t
        case ("-n" | "--no-rename") :: t => o = o.copy(noRename = true); rest = t
        case ("-s" | "--stop-on-fail") :: t => o = o.copy(stopOnFail = true); rest = t
        case "--secure-study" :: t => o = o.copy(secureStudy = true); rest = t
        case "--keep-security" :: t => o = o.copy(keepSecurity = true); rest = t
        case "--always-set-visit-name" :: t =>
          o = o.copy(alwaysSetVisitName = true); rest = t
        case "--use-first-gene-id" :: t => o = o.copy(useFirstGeneId = true); rest = t
        case "--check-duplicates" :: t => o = o.copy(checkDuplicates = true); rest = t
        case "--force-start" :: t => o = o.copy(forceStart = true); rest = t
        case ("-c" | "--config") :: _ :: t => rest = t // consumed above
        case ("-m" | "--move-study") :: v :: t =>
          v.split(";", 2) match {
            case Array(a, b) => o = o.copy(moveStudy = Some((a, b))); rest = t
            case _ => return Left(s"--move-study needs 'old_path;new_path', got: $v")
          }
        case "--delete-study-by-id" :: v :: t =>
          o = o.copy(deleteStudyById = Some(v)); rest = t
        case "--delete-study-by-path" :: v :: t =>
          o = o.copy(deleteStudyByPath = Some(v)); rest = t
        case ("-o" | "--output") :: v :: t =>
          // the warehouse publish (staging dirs, atomic renames, the
          // manifest) runs on java.nio — a URI scheme here would
          // silently become a local ./hdfs:/... directory; fail early
          // with the boundary instead (the curate ledger, by contrast,
          // IS scheme-aware via Hadoop FS)
          if (v.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
            return Left(s"-o expects a LOCAL warehouse directory; got a " +
              s"URI ($v). The publish path's staging/rename/manifest " +
              "discipline is java.nio-based by design — mount remote " +
              "storage or use a local path.")
          o = o.copy(warehouse = Paths.get(v)); rest = t
        case "--parent-node" :: v :: t => o = o.copy(parentNode = v); rest = t
        case bad :: _ if bad.startsWith("-") => return Left(s"unknown option: $bad")
        case dir :: t => o = o.copy(dataDir = Some(Paths.get(dir))); rest = t
      }
    }
    Right(o)
  }

  // ------------------------------------------------------- warehouse I/O
  //
  // Layout: each table is a directory `<wh>/<table>.parquet`. The big
  // per-study tables (facts, patient dims, omics/variant data, platform
  // registries) are HIVE-PARTITIONED by their trial / dataset / platform
  // column, so an upload or move/delete rewrites ONLY the partitions it
  // touches — O(study) I/O, not O(warehouse) — the lakehouse equivalent
  // of the reference's partition-per-dataset DDL
  // (I2B2_PROCESS_MRNA_DATA.sql:183-222). Ontology/metadata tables
  // (i2b2, concept_*, bio_*) are node-sized — orders of magnitude smaller
  // than the facts — and stay whole-replaced.
  //
  // Every write stages to `<table>.parquet.tmp` FIRST (output plans may
  // read the old files), then promotes by rename: the old dir moves
  // aside (whole tables to `<table>.parquet.old`, partition dirs to
  // `_old_<dir>` — underscore-prefixed paths are invisible to Spark
  // readers), the tmp content moves in, and the old copy is removed
  // last. Every table therefore always has a readable version; a crash
  // mid-publish leaves a recoverable `.old`/`_old_` copy rather than a
  // half-deleted table.

  private val CoreTables: Seq[(String, Seq[(String, org.apache.spark.sql.types.DataType)])] = Seq(
    "table_access" -> Seq("c_fullname" -> StringType),
    "i2b2" -> Seq("c_fullname" -> StringType, "c_hlevel" -> LongType,
      "c_name" -> StringType, "c_dimcode" -> StringType,
      "c_tooltip" -> StringType, "sourcesystem_cd" -> StringType),
    "i2b2_secure" -> Seq("c_fullname" -> StringType, "secure_obj_token" -> StringType),
    "i2b2_tags" -> Seq("path" -> StringType, "tag" -> StringType),
    "concept_dimension" -> Seq("concept_path" -> StringType,
      "concept_cd" -> StringType, "sourcesystem_cd" -> StringType),
    "concept_counts" -> Seq("concept_path" -> StringType,
      "parent_concept_path" -> StringType, "patient_count" -> LongType),
    "observation_fact" -> Seq("patient_num" -> LongType,
      "concept_cd" -> StringType, "sourcesystem_cd" -> StringType),
    "patient_dimension" -> Seq("patient_num" -> LongType,
      "sourcesystem_cd" -> StringType),
    "patient_trial" -> Seq("patient_num" -> LongType, "trial" -> StringType),
    "de_subject_sample_mapping" -> Seq("trial_name" -> StringType,
      "assay_id" -> LongType, "concept_code" -> StringType,
      "source_cd" -> StringType),
    "bio_experiment" -> Seq("accession" -> StringType, "title" -> StringType),
    "bio_data_uid" -> Seq("unique_id" -> StringType),
    "search_secure_object" -> Seq("bio_data_unique_id" -> StringType))

  private def emptyTable(spark: SparkSession,
                         fields: Seq[(String, org.apache.spark.sql.types.DataType)]): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  // The publish/recovery machinery (staging, manifest, commit,
  // roll-forward, partition registry) lives in core.Publish; the CLI
  // uses it via this import and re-exposes only the entry points below.
  import graft.core.Publish._


  def readTable(spark: SparkSession, wh: Path, name: String): DataFrame =
    readTable2(spark, wh, name, CoreTables.toMap.apply(name))

  /** Overwrite-in-place safely: the new content may be derived from the
    * old files, so materialize to a sibling tmp dir first, then swap.
    * Partitioned tables route to the partitioned layout (full rewrite —
    * per-study paths use [[stagePart]] with explicit values instead). */
  def writeTable(df: DataFrame, wh: Path, name: String): Unit = {
    val staged =
      if (PartitionedTables.contains(name)) stagePartAll(df, wh, name)
      else stageWhole(df, wh, name)
    commitStaged(df.sparkSession, wh, Seq(staged))
  }

  /** trial_name-keyed omics fact tables present in the warehouse — the
    * delete cascade clears each (the reference's de_subject_*_data
    * family). */
  private val OmicsFactTables = Seq("de_subject_acgh_data",
    "de_subject_microarray_data", "de_subject_protein_data",
    "de_subject_rbm_data", "de_subject_mirna_data",
    "de_subject_metabolomics_data", "de_subject_rna_data",
    "de_sample_snp_data", "plink_data")

  /** dataset_id-keyed variant tables (the reference's de_variant_* star). */
  private val VariantTables = Seq("de_variant_subject_idx",
    "de_variant_population_info", "de_variant_subject_detail",
    "de_variant_subject_summary", "de_variant_population_data")

  def loadStar(spark: SparkSession, wh: Path): StudyOps.Star = {
    def t(n: String) = readTable(spark, wh, n)
    def raw(n: String) = spark.read.option("mergeSchema", "true")
      .parquet(wh.resolve(s"$n.parquet").toString)
    StudyOps.Star(
      tableAccess = t("table_access"),
      i2b2 = t("i2b2"),
      i2b2Secure = t("i2b2_secure"),
      i2b2Tags = t("i2b2_tags"),
      conceptDimension = t("concept_dimension"),
      conceptCounts = t("concept_counts"),
      observationFact = t("observation_fact"),
      patientDimension = t("patient_dimension"),
      patientTrial = t("patient_trial"),
      sampleMapping = t("de_subject_sample_mapping"),
      omicsData = OmicsFactTables
        .filter(n => Files.exists(wh.resolve(s"$n.parquet")))
        .map(n => n -> raw(n))
        .toMap,
      variantDatasets = readTable2(spark, wh, "de_variant_dataset",
        Seq("dataset_id" -> StringType)),
      variantTables = VariantTables
        .filter(n => Files.exists(wh.resolve(s"$n.parquet")))
        .map(n => n -> raw(n))
        .toMap,
      bioExperiment = t("bio_experiment"),
      bioDataUid = t("bio_data_uid"),
      searchSecureObject = t("search_secure_object"))
  }

  /** Publish a recomputed star. `affectedTrials` = the trials move/delete
    * actually touched: the node-sized ontology/metadata tables are always
    * whole-replaced, but the big partitioned tables rewrite ONLY those
    * trials' partitions (dropping ones the new content leaves empty —
    * that is how a deleted study's fact partitions disappear). Variant
    * tables are dataset-keyed; a trial's datasets are found by partition
    * listing (`<trial>:` prefix — the id shape our VCF upload writes).
    * `None` falls back to a full rewrite. Every output plan may read the
    * OLD files, so all tables stage to tmp before any swap. */
  def writeStar(star: StudyOps.Star, wh: Path,
                affectedTrials: Option[Seq[String]] = None): Unit = {
    val spark = star.i2b2.sparkSession
    val small = Seq(
      "table_access" -> star.tableAccess,
      "i2b2" -> star.i2b2,
      "i2b2_secure" -> star.i2b2Secure,
      "i2b2_tags" -> star.i2b2Tags,
      "concept_dimension" -> star.conceptDimension,
      "concept_counts" -> star.conceptCounts,
      "bio_experiment" -> star.bioExperiment,
      "bio_data_uid" -> star.bioDataUid,
      "search_secure_object" -> star.searchSecureObject,
      "de_variant_dataset" -> star.variantDatasets)
    val byTrial = Seq(
      "observation_fact" -> star.observationFact,
      "patient_dimension" -> star.patientDimension,
      "patient_trial" -> star.patientTrial,
      "de_subject_sample_mapping" -> star.sampleMapping) ++ star.omicsData.toSeq
    val byDataset = star.variantTables.toSeq
    val staged =
      small.map { case (n, df) => stageWhole(df, wh, n) } ++
        (affectedTrials match {
          case Some(trials) =>
            byTrial.map { case (n, df) => stagePart(df, wh, n, trials) } ++
              byDataset.map { case (n, df) =>
                stagePart(df, wh, n, trials.flatMap(t =>
                  listPartitionValues(wh, n).filter(_.startsWith(t + ":"))))
              }
          case None =>
            (byTrial ++ byDataset).map { case (n, df) => stagePartAll(df, wh, n) }
        })
    commitStaged(spark, wh, staged)
  }

  // ------------------------------------------------------ clinical upload

  /** STUDY_ID from the mapped column of the first data file (the
    * reference reads it off the rows — ClinicalDataProcessor.groovy:67). */
  private def studyIdOf(spark: SparkSession, dir: Path,
                        mapping: ClinicalMapping.Mapping): String = {
    val e = mapping.entries.find(_.dataLabel.equalsIgnoreCase("STUDY_ID"))
      .getOrElse(sys.error("mapping has no STUDY_ID entry"))
    val header = TsvReader.header(spark, dir.resolve(e.filename).toString)
    TsvReader.read(spark, dir.resolve(e.filename).toString)
      .select(col(header(e.colNbr - 1)))
      .filter(length(coalesce(col(header(e.colNbr - 1)), lit(""))) > 0)
      .limit(1).collect().headOption
      .map(_.getString(0).trim.toUpperCase)
      .getOrElse(sys.error(s"${e.filename}: no STUDY_ID values"))
  }

  def uploadClinical(spark: SparkSession, dir: Path, topNodeParent: String,
                     studyLabel: String, wh: Path,
                     alwaysSetVisitName: Boolean,
                     secureStudy: Boolean = false,
                     checkDuplicates: Boolean = false): String = {
    val mf = listDir(dir)
      .find(_.getFileName.toString.toLowerCase.endsWith("_mapping_file.txt"))
      .getOrElse(sys.error(s"$dir: no *_Mapping_File.txt"))
    val mapping = ClinicalMapping.load(spark, mf.toString)
    val studyId = studyIdOf(spark, dir, mapping)
    val topNode = s"$topNodeParent\\$studyLabel"
    val data = mapping.files.map(f =>
      f -> TsvReader.read(spark, dir.resolve(f).toString)).toMap
    // the reference ALWAYS aborts on conflicting numeric duplicates;
    // --check-duplicates additionally exports duplicates.csv next to the
    // study files (ClinicalDataProcessor.groovy:301-331)
    val t =
      try ClinicalPipeline.run(spark, studyId, topNode, mapping, data,
        alwaysSetVisitName, failOnNumericDuplicates = true)
      catch {
        case e: ClinicalPipeline.NumericDuplicatesException =>
          if (checkDuplicates)
            Files.writeString(dir.resolve("duplicates.csv"),
              e.csv.mkString("", "\n", "\n"))
          throw e
      }

    // warehouse-consistent patient ids (the reference draws from a global
    // SEQ_PATIENT_NUM sequence): the pipeline's per-study dense ranks
    // would collide across studies, so reuse the warehouse row's id for a
    // usubjid already present (re-upload, or an omics upload of the same
    // study came first — keeps omics facts' patient_id stable) and
    // continue past the warehouse max for genuinely new subjects.
    val oldPatients = readTable(spark, wh, "patient_dimension")
    val studySubjects = t.patientDimension.select(col("usubjid")).distinct()
    val reused = oldPatients
      .filter(col("sourcesystem_cd").startsWith(studyId + ":"))
      .select(col("sourcesystem_cd").as("usubjid"), col("patient_num"))
      .join(studySubjects, Seq("usubjid"), "left_semi")
    val freshIds = Ids.denseIdsAfter(
      studySubjects.join(reused, Seq("usubjid"), "left_anti"),
      Seq("usubjid"), "patient_num",
      oldPatients.agg(coalesce(max(col("patient_num")), lit(0L))))
    // one row per study subject — broadcastable at any warehouse size
    val idMap = broadcast(
      reused.unionByName(freshIds.select(col("usubjid"), col("patient_num"))))
    val patientDim = t.patientDimension.drop("patient_num")
      .join(idMap, Seq("usubjid"))

    val prefix = topNode.stripSuffix("\\") + "\\"
    // null-safe: NOT(NULL startsWith) would silently drop null-path rows
    def replaceSubtree(old: DataFrame, fresh: DataFrame, pathCol: String) =
      old.filter(not(coalesce(col(pathCol).startsWith(prefix), lit(false))))
        .unionByName(fresh, allowMissingColumns = true)

    import graft.functions.PathFunctions._
    import graft.operators.SecurityOps
    val newI2b2 = replaceSubtree(readTable(spark, wh, "i2b2"),
      t.i2b2, "c_fullname")
    // the reference ALWAYS writes per-patient SECURITY facts — the
    // --secure-study flag only chooses EXP:<study> vs EXP:PUBLIC
    // (i2b2_create_security_for_trial + I2B2_LOAD_SECURITY_DATA). Only
    // this study's fact partition is rewritten; the secure rebuild below
    // sees other trials' tokens through a SECURITY-filtered read.
    val studyFacts = SecurityOps.refreshSecurityFacts(
      t.observationFact.drop("patient_num").join(idMap, Seq("usubjid")),
      patientDim, "patient_num", studyId, secureStudy)
    val ssoOld = readTable(spark, wh, "search_secure_object")
      .filter(col("bio_data_unique_id") =!= s"EXP:$studyId")
    val sso =
      if (!secureStudy) ssoOld
      else ssoOld.unionByName(spark.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(s"EXP:$studyId")),
          StructType(Seq(StructField("bio_data_unique_id", StringType)))),
        allowMissingColumns = true)
    val bioUid = SecurityOps.upsertByKey(
      readTable(spark, wh, "bio_data_uid"),
      spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(s"EXP:$studyId")),
        StructType(Seq(StructField("unique_id", StringType)))),
      Seq("unique_id"))

    val staged = Seq(
      stageWhole(newI2b2, wh, "i2b2"),
      // tokens come from the metadata-sized secure-object registry, not a
      // SECURITY-filtered scan of every fact partition (the two sources
      // are written together and agree row for row)
      stageWhole(SecurityOps.rebuildI2b2SecureFromObjects(newI2b2, sso),
        wh, "i2b2_secure"),
      stageWhole(replaceSubtree(
        readTable(spark, wh, "concept_dimension"),
        t.conceptDimension.select(col("leaf_node").as("concept_path"),
          col("concept_cd"), lit(studyId).as("sourcesystem_cd")),
        "concept_path"), wh, "concept_dimension"),
      stageWhole(replaceSubtree(readTable(spark, wh, "concept_counts"),
        t.conceptCounts.select(col("c_fullname").as("concept_path"),
          when(hlevel(col("c_fullname")) > 1,
            concat(lit("\\"), array_join(slice(pathComponents(col("c_fullname")),
              lit(1), hlevel(col("c_fullname")) - 1), "\\"), lit("\\")))
            .as("parent_concept_path"),
          col("patient_count")), "concept_path"), wh, "concept_counts"),
      stagePart(studyFacts, wh, "observation_fact", Seq(studyId)),
      stagePart(patientDim
        .select(col("patient_num"), col("usubjid").as("sourcesystem_cd")),
        wh, "patient_dimension", Seq(studyId)),
      stagePart(patientDim.select(col("patient_num"),
        lit(studyId).as("trial")), wh, "patient_trial", Seq(studyId)),
      stageWhole(SecurityOps.upsertBioExperiment(
        readTable(spark, wh, "bio_experiment"), studyId, studyLabel),
        wh, "bio_experiment"),
      stageWhole(bioUid, wh, "bio_data_uid"),
      stageWhole(sso, wh, "search_secure_object"))
    commitStaged(spark, wh, staged)
    studyId
  }

  // ------------------------------------- omics sample-mapping protocol
  //
  // The I2B2_LOAD_SAMPLES / I2B2_ADD_PLATFORM rules every omics upload
  // shares: the sample-map header, the de_gpl_info replace row, the
  // warehouse-wide assay sequence and the per-(trial, source_cd) mapping
  // replace. Each rule lives here once; the uploads call these directly.

  private def findFile(files: Seq[Path], rx: String): Option[Path] =
    files.find(_.getFileName.toString.matches(rx))

  private val GplInfoSchema = Seq("platform" -> StringType,
    "title" -> StringType, "organism" -> StringType,
    "marker_type" -> StringType, "release_nbr" -> StringType)

  /** Staging read of a subject-sample mapping file with the reference's
    * fuzzy header tolerance (STUDY_ID/TRIAL_NAME, SAMPLE_ID/SAMPLE_CD,
    * TISSUETYPE/TISSUE_TYPE, ATTR1/ATTRIBUTE_1 — incl. the mirna-seq
    * fixture's ATTRITBUTE_ typo); present-but-empty cells become NULL. */
  def readOmicsSampleMap(spark: SparkSession, path: String): DataFrame = {
    val raw = TsvReader.read(spark, path)
    def find(rx: String): Option[String] =
      raw.columns.find(_.trim.toUpperCase.matches(rx))
    def req(rx: String): String =
      find(rx).getOrElse(sys.error(s"$path: no column matching $rx"))
    def nz(c: org.apache.spark.sql.Column) =
      when(length(coalesce(c, lit(""))) > 0, c)
    def opt(rx: String) =
      find(rx).map(n => nz(col(n))).getOrElse(lit(null).cast(StringType))
    raw.select(
      upper(col(req("^(STUDY[_ ]?ID|TRIAL[_ ]?NAME)$"))).as("study_id"),
      opt("^SITE[_ ]?ID$").as("site_id"),
      col(req("^SUBJECT[_ ]?ID$")).as("subject_id"),
      col(req("^SAMPLE[_ ]?(ID|CD)$")).as("sample_cd"),
      opt("^PLATFORM$").as("platform"),
      opt("^TISSUE[_ ]?TYPE$").as("tissue_type"),
      opt("^ATTR\\w*[_ ]?1$").as("attribute_1"),
      opt("^ATTR\\w*[_ ]?2$").as("attribute_2"),
      opt("^CATEGORY[_ ]?CD$").as("category_cd"),
      opt("^SOURCE[_ ]?CD$").as("source_cd"))
  }

  /** (study id, platform, source_cd) of a staged sample map in one job:
    * the first row's study id and the first non-null platform and
    * source_cd in file order (source_cd defaults to STD). A sample map
    * is one row per sample, so its three columns collect whole. */
  private def sampleMapHeader(sampleMap: DataFrame, file: Path): (String, String, String) = {
    val rows = sampleMap.select("study_id", "platform", "source_cd").collect()
    if (rows.isEmpty) sys.error(s"$file: no sample rows")
    def firstSet(i: Int) = rows.iterator.map(_.getString(i)).find(_ != null)
    (rows.head.getString(0),
      firstSet(1).getOrElse(sys.error(s"$file: no PLATFORM value")),
      firstSet(2).getOrElse("STD"))
  }

  /** The `# KEY: value` meta header of the upload's `<platform>.txt`, if
    * the folder has one. */
  private def platformMeta(spark: SparkSession, files: Seq[Path],
                           platform: String): Map[String, String] =
    findFile(files, s"(?i)${Pattern.quote(platform)}\\.txt")
      .map(pf => OmicsSources.readPlatform(spark, pf.toString)._1)
      .getOrElse(Map.empty)

  /** I2B2_ADD_PLATFORM: the platform's de_gpl_info row and the registry
    * with that row replacing the platform's old one. */
  private def addPlatform(spark: SparkSession, wh: Path, platform: String,
                          meta: Map[String, String],
                          markerType: String): (DataFrame, DataFrame) = {
    val gplRow = spark.createDataFrame(java.util.List.of(
      Row(platform, meta.getOrElse("PLATFORM_TITLE", platform),
        meta.getOrElse("PLATFORM_SPECIES", "Homo sapiens"), markerType, null)),
      StructType(GplInfoSchema.map { case (n, t) => StructField(n, t) }))
    (gplRow, readTable2(spark, wh, "de_gpl_info", GplInfoSchema)
      .filter(!(col("platform") <=> lit(platform)))
      .unionByName(gplRow, allowMissingColumns = true))
  }

  /** Assay ids for the distinct `samples` rows in sample_cd order,
    * continuing past the max assay id of the warehouse's `oldMapping`
    * (the reference's global assay sequence); the max rides in the id
    * job's own round trip. */
  private def assayIds(oldMapping: DataFrame, samples: DataFrame): DataFrame =
    Ids.denseIdsAfter(samples.distinct(), Seq("sample_cd"), "assay_id",
      oldMapping.agg(coalesce(max(col("assay_id")), lit(0L))))

  /** LOAD_SAMPLES' node-typed mapping rows with the per-sample assay ids
    * (sample_cd, assay_id) backfilled. */
  private def withAssayIds(mapping: DataFrame, ids: DataFrame): DataFrame =
    mapping.drop("assay_id").join(broadcast(ids), Seq("sample_cd"), "left")

  /** The mapping replace per (trial, source_cd), like I2B2_LOAD_SAMPLES'
    * delete: the trial partition of `oldMapping` keeps its OTHER
    * source_cd rows (sibling datatypes coexist; the read is
    * partition-pruned) and takes `fresh`, stamped with `srcCd`, as this
    * upload's rows. */
  private def stageSampleMapping(oldMapping: DataFrame, wh: Path, studyId: String,
                                 srcCd: String, fresh: DataFrame): StagedWrite =
    stagePart(oldMapping
        .filter(col("trial_name") <=> lit(studyId) &&
          coalesce(col("source_cd"), lit("STD")) =!= srcCd)
        .unionByName(fresh.withColumn("source_cd", lit(srcCd)),
          allowMissingColumns = true),
      wh, "de_subject_sample_mapping", Seq(studyId))

  // ---------------------------------------------------------- aCGH upload

  /** aCGH upload. Its sample-map reader keeps empty PLATFORM/CATEGORY_CD
    * cells as "" (readOmicsSampleMap makes them NULL, which LoadSamples
    * turns into different node paths), and its mapping rows replace the
    * whole trial partition. */
  def uploadAcgh(spark: SparkSession, dir: Path, topNodeParent: String,
                 studyLabel: String, wh: Path): String = {
    val files = listDir(dir)
    val mapFile = findFile(files, "(?i).+_Subject_Sample_Mapping_File(_GPL\\d+)*\\.txt")
      .getOrElse(sys.error(s"$dir: no subject-sample mapping file"))
    val dataFile = findFile(files, "(?i).+_acgh_data(_GPL\\d+)*\\.txt")
      .getOrElse(sys.error(s"$dir: no aCGH data file"))

    val raw = TsvReader.read(spark, mapFile.toString)
    def optCol(n: String) =
      when(length(coalesce(col(n), lit(""))) > 0, col(n))
    val sampleMap = raw.select(
      upper(col("STUDY_ID")).as("study_id"),
      optCol("SITE_ID").as("site_id"),
      col("SUBJECT_ID").as("subject_id"),
      col("SAMPLE_ID").as("sample_cd"),
      col("PLATFORM").as("platform"),
      optCol("TISSUETYPE").as("tissue_type"),
      optCol("ATTR1").as("attribute_1"),
      optCol("ATTR2").as("attribute_2"),
      col("CATEGORY_CD").as("category_cd"),
      col("SOURCE_CD").as("source_cd"))
    val (studyId, platform, _) = sampleMapHeader(sampleMap, mapFile)

    // platform file: <platform>_region_platform.txt or <platform>.txt
    // (ACGHDataProcessor.groovy:103-106)
    def readRegistryTables() = ChromRegion.ChromRegionTables(
      readTable2(spark, wh, "de_chromosomal_region",
        Seq("region_id" -> LongType, "gpl_id" -> StringType,
          "region_name" -> StringType)),
      readTable2(spark, wh, "de_gpl_info", GplInfoSchema))
    val registry = findFile(files, s"(?i)${Pattern.quote(platform)}(_region_platform)?\\.txt") match {
      case Some(pf) =>
        val (meta, staged) = ChromRegion.readAcghPlatform(spark, pf.toString, platform)
        val prior = readRegistryTables()
        val regs = ChromRegion.load(spark, staged, prior.regions, prior.gplInfo,
          emptyTable(spark, Seq("bio_marker_name" -> StringType,
            "organism" -> StringType, "primary_external_id" -> StringType,
            "bio_marker_type" -> StringType)),
          platformTitle = meta.getOrElse("PLATFORM_TITLE", ""))
        // only this platform's registry partition changes; re-read after
        // the swap so the downstream plans scan the PUBLISHED files rather
        // than old dirs the swap just removed
        commitStaged(spark, wh, Seq(
          stagePart(regs.regions, wh, "de_chromosomal_region", Seq(platform)),
          stageWhole(regs.gplInfo, wh, "de_gpl_info")))
        readRegistryTables()
      case None => readRegistryTables()
    }

    val errs = AcghPipeline.validate(sampleMap, registry.regions, registry.gplInfo)
    require(errs.isEmpty, errs.mkString("; "))

    val melted = AcghMelt.melt(TsvReader.read(spark, dataFile.toString), "region_id")
      .withColumnRenamed("region_id", "region_name")
      .withColumnRenamed("sample_id", "expr_id")
    val patients = AcghPipeline.ensurePatients(spark,
      readTable(spark, wh, "patient_dimension"), sampleMap, studyId)
    val topNode = s"$topNodeParent\\$studyLabel\\"
    val t = AcghPipeline.run(spark, studyId, topNode, sampleMap, melted,
      registry.regions, registry.gplInfo, patients)

    // t's lineage reads the OLD patient_dimension files (ensurePatients):
    // stage every output to tmp before any swap. Partition semantics make
    // the old `filter(trial != study) union fresh` reads unnecessary —
    // replacing the study's partition with the fresh frames IS the
    // per-trial replace.
    val staged = Seq(
      stagePart(patients, wh, "patient_dimension", Seq(studyId)),
      stagePart(t.regionFacts, wh, "de_subject_acgh_data", Seq(studyId)),
      stagePart(t.sampleMapping, wh, "de_subject_sample_mapping", Seq(studyId)))
    persistOntology(spark, wh, studyId, topNode, t.loadSamples)
    commitStaged(spark, wh, staged)
    studyId
  }

  // ------------------------------------------- omics ontology persistence

  /** Persist the LOAD_SAMPLES ontology into the warehouse star: the i2b2
    * subtree (fill-in-tree + visual attrs via ClinicalPipeline.rebuildTree),
    * LEAF concept rows and tree-rolled concept counts — replacing ONLY the
    * CATEGORY roots this upload populates (I2B2_LOAD_SAMPLES deletes
    * per-category, so a study's clinical nodes and sibling datatypes
    * coexist); ancestors that already exist (the study root, shared
    * folders) are kept, not duplicated. */
  def persistOntology(spark: SparkSession, wh: Path, studyId: String,
                      topNode: String,
                      ls: LoadSamples.LoadSamplesTables): Unit = {
    val leafFrame = ls.sampleFacts
      .join(ls.nodes.filter(col("node_type") === "LEAF")
        .select(col("concept_cd"), col("leaf_node")), Seq("concept_cd"))
    val prefix = topNode.stripSuffix("\\") + "\\"
    val roots = leafFrame.select(col("leaf_node")).distinct().collect()
      .map(_.getString(0))
      .filter(_.startsWith(prefix))
      .map(p => prefix + p.stripPrefix(prefix).takeWhile(_ != '\\') + "\\")
      .distinct.toSeq
    if (roots.isEmpty) return
    val underRoot = (c: org.apache.spark.sql.Column) =>
      roots.map(c.startsWith(_)).reduce(_ || _)
    val tree = ClinicalPipeline.rebuildTree(studyId, topNode, leafFrame)
    val keptI2b2 = readTable(spark, wh, "i2b2")
      .filter(!underRoot(col("c_fullname")))
    val freshI2b2 = tree.join(keptI2b2.select(col("c_fullname")),
      Seq("c_fullname"), "left_anti")
    import graft.functions.PathFunctions._
    val counts = graft.operators.TreeOps.conceptCounts(
        leafFrame.select(col("leaf_node"), col("patient_num")),
        "leaf_node", "patient_num")
      .filter(underRoot(col("c_fullname")))
    // facts at the REPLACED concepts go with their nodes (the
    // I2B2_LOAD_SAMPLES delete), the fresh per-sample category facts land
    val oldConcepts = readTable(spark, wh, "concept_dimension")
    val victims = broadcast(oldConcepts
      .filter(underRoot(col("concept_path")))
      .select(col("concept_cd")).distinct())
    val staged = Seq(
      stageWhole(keptI2b2.unionByName(freshI2b2, allowMissingColumns = true),
        wh, "i2b2"),
      // the victims' facts are this study's (concepts under its category
      // roots), so only this trial's fact partition changes — the read is
      // partition-pruned to it
      stagePart(readTable(spark, wh, "observation_fact")
        .filter(col("sourcesystem_cd") === studyId)
        .join(victims, Seq("concept_cd"), "left_anti")
        .unionByName(ls.sampleFacts, allowMissingColumns = true),
        wh, "observation_fact", Seq(studyId)),
      stageWhole(oldConcepts
        .filter(!underRoot(col("concept_path")))
        .unionByName(ls.nodes.filter(col("node_type") === "LEAF")
          .select(col("leaf_node").as("concept_path"), col("concept_cd"),
            lit(studyId).as("sourcesystem_cd")),
          allowMissingColumns = true), wh, "concept_dimension"),
      stageWhole(readTable(spark, wh, "concept_counts")
        .filter(!underRoot(col("concept_path")))
        .unionByName(counts.select(col("c_fullname").as("concept_path"),
          when(hlevel(col("c_fullname")) > 1,
            concat(lit("\\"), array_join(slice(pathComponents(col("c_fullname")),
              lit(1), hlevel(col("c_fullname")) - 1), "\\"), lit("\\")))
            .as("parent_concept_path"),
          col("patient_count")), allowMissingColumns = true),
        wh, "concept_counts"))
    commitStaged(spark, wh, staged)
  }

  // ---------------------------------------------- generic high-dim upload

  /** One row per supported high-dim datatype: how to find its data file,
    * how to melt it, and the z-score flavor its reference proc applies
    * (each mirrored from the corresponding *DataProcessorTest replay in
    * SourcesSpec). `meltKind`: MATRIX = first column keys a wide matrix
    * restricted to the mapped samples (also covers the metabolomics
    * combined annotation+matrix file), PROTEIN = peptide-keyed wide
    * matrix skipping the majority-protein column, RBM_LONG = positional
    * SAMPID/ANALYTE/AVALUE long format. */
  final case class HighDimConfig(
      dataRx: String,
      markerType: String,
      factsTable: String,
      meltKind: String = "MATRIX",
      platformNodeFromTitle: Boolean = true,
      dropNegativesAvg: Boolean = false,
      zeroGuard: Double = 0.0,
      logRoundDp: Option[Int] = None,
      customLog: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None)

  import graft.operators.ZScore
  val HighDimConfigs: Map[String, HighDimConfig] = Map(
    "RNASEQ" -> HighDimConfig("(?i).+_RNASeq_Data_[RLT].*\\.txt", "RNASEQ",
      "de_subject_rna_data", platformNodeFromTitle = false),
    "PROTEIN" -> HighDimConfig("(?i).+_PROTEIN_Data_[RLT].*\\.txt", "PROTEOMICS",
      "de_subject_protein_data", meltKind = "PROTEIN",
      dropNegativesAvg = true, zeroGuard = 0.001, logRoundDp = Some(4)),
    "RBM" -> HighDimConfig("(?i).+_RBM_Data_[RLT].*\\.txt", "RBM",
      "de_subject_rbm_data", meltKind = "RBM_LONG",
      dropNegativesAvg = true, customLog = Some(ZScore.rbmLog)),
    "MIRNA_QPCR" -> HighDimConfig("(?i).+_MIRNA_Data_[RLT].*\\.txt", "MIRNA_QPCR",
      "de_subject_mirna_data", customLog = Some(ZScore.qpcrLog)),
    "MIRNA_SEQ" -> HighDimConfig("(?i).+_MIRNA_Data_[RLT].*\\.txt", "MIRNA_SEQ",
      "de_subject_mirna_data", customLog = Some(ZScore.mirnaSeqLog)),
    "METABOLOMICS" -> HighDimConfig("(?i).+_METABOLOMICS_Data_[RLT].*\\.txt",
      "METABOLOMICS", "de_subject_metabolomics_data"))

  /** The non-mRNA high-dim upload path (RNASeq / proteomics / RBM /
    * miRNA qPCR / miRNA seq / metabolomics): platform meta + gpl upsert ->
    * patient upsert -> LOAD_SAMPLES node build -> datatype melt ->
    * duplicate-collapse where the proc averages -> flavored z-score ->
    * per-sample assay ids -> warehouse star. The annotation registries
    * themselves load through `pipeline.DatatypeAnnotations` (oracle-gated
    * library path); this is the upload star only. */
  def uploadHighDim(spark: SparkSession, dir: Path, topNodeParent: String,
                    studyLabel: String, wh: Path, cfg: HighDimConfig): String = {
    val files = listDir(dir)
    val mapFile = findFile(files, "(?i).+Subject_Sample_Mapping_File.*\\.txt")
      .getOrElse(sys.error(s"$dir: no subject-sample mapping file"))
    val dataFile = findFile(files, cfg.dataRx)
      .getOrElse(sys.error(s"$dir: no data file matching ${cfg.dataRx}"))

    val sampleMap = readOmicsSampleMap(spark, mapFile.toString)
    val (studyId, platform, srcCd) = sampleMapHeader(sampleMap, mapFile)
    val (gplRow, gplInfo) = addPlatform(spark, wh, platform,
      platformMeta(spark, files, platform), cfg.markerType)

    val patients = AcghPipeline.ensurePatients(spark,
      readTable(spark, wh, "patient_dimension"), sampleMap, studyId)
    val topNode = s"$topNodeParent\\$studyLabel\\"
    val ls = LoadSamples.run(spark, studyId, topNode,
      sampleMap, gplRow, patients, markerType = cfg.markerType,
      platformNodeFromTitle = cfg.platformNodeFromTitle)

    val data = TsvReader.read(spark, dataFile.toString)
    val sampleCds = sampleMap.select(col("sample_cd")).distinct()
      .collect().map(_.getString(0)).toSeq
    val melted = cfg.meltKind match {
      case "PROTEIN" => OmicsSources.meltProtein(data)
      case "RBM_LONG" => OmicsSources.readRbmLong(data)
      case _ =>
        // the probe key column by the platform readers' fuzzy priority
        // (metabolomics' combined file keys on HMDB mid-row, matrices on
        // ID_REF/TranscriptID up front); melt only the MAPPED samples
        val id = Seq("^HMDB([ _]?ID)?$", "^ID(_REF)?$",
            "^(TRANSCRIPT[ _]*)?ID$", "^PROBE(SET)?(_ID)?$").view
          .flatMap(rx => data.columns.find(_.trim.toUpperCase.matches(rx)))
          .headOption.getOrElse(data.columns.head)
        val present = sampleCds.filter(data.columns.contains)
        OmicsSources.meltMatrix(
          data.select(id, present: _*), idCol = id)
    }
    val pre =
      if (cfg.dropNegativesAvg)
        melted.filter(signum(col("intensity_value")) =!= -1)
          .groupBy(col("probeset_id"), col("sample_id"))
          .agg(avg(col("intensity_value")).as("intensity_value"))
      else melted.select(col("probeset_id"), col("sample_id"),
        col("intensity_value"))
    val dataType = OmicsSources.dataTypeFromFileName(dataFile.getFileName.toString)
    val z = ZScore.pipeline(pre, Seq("probeset_id"), "intensity_value",
      dataType = dataType, logBase = 2.0, zeroGuard = cfg.zeroGuard,
      logRoundDp = cfg.logRoundDp, customLog = cfg.customLog)

    val oldMapping = readTable(spark, wh, "de_subject_sample_mapping")
    val ids = assayIds(oldMapping, sampleMap.select(col("sample_cd")))
    val facts = z
      .join(broadcast(ids.select(col("sample_cd").as("sample_id"),
        col("assay_id"))), Seq("sample_id"))
      .withColumn("trial_name", lit(studyId))

    val staged = Seq(
      stagePart(patients, wh, "patient_dimension", Seq(studyId)),
      stageWhole(gplInfo, wh, "de_gpl_info"),
      stageSampleMapping(oldMapping, wh, studyId, srcCd,
        withAssayIds(ls.sampleMapping, ids)),
      stagePart(facts, wh, cfg.factsTable, Seq(studyId)))
    // the ontology build re-reads the OLD star through ls's lineage
    // (patients scans patient_dimension): run it BEFORE the swap; its own
    // tables are disjoint from this upload's outputs
    persistOntology(spark, wh, studyId, topNode, ls)
    commitStaged(spark, wh, staged)
    studyId
  }

  // ---------------------------------------------------- GWAS Plink upload

  /** GWAS Plink upload (GWASPlinkDataProcessor): BFILE meta from the
    * mapping file, bed/bim/fam compressed into the LOB table (stored
    * trial-keyed as plink_data so the delete cascade covers it), fam IIDs
    * become samples under the default `GWAS+GWAS Plink` category. */
  def uploadGwasPlink(spark: SparkSession, dir: Path, topNodeParent: String,
                      studyLabel: String, wh: Path): String = {
    val mapFile = listDir(dir)
      .find(_.getFileName.toString.matches("(?i).*Mapping.*File.*\\.txt"))
      .getOrElse(sys.error(s"$dir: no mapping file"))
    val meta = TsvReader.metaHeader(spark, mapFile.toString)
    val studyId = meta.getOrElse("STUDY_ID",
      sys.error(s"$mapFile: no # STUDY_ID meta line")).toUpperCase

    val (blobs, fam) = OmicsSources.readPlink(spark, dir.toString)
    val famErrs = OmicsSources.validateFam(fam)
    require(famErrs.isEmpty, famErrs.mkString("; "))
    val lob = OmicsSources.plinkLobTable(blobs, studyId)
      .withColumnRenamed("study_id", "trial_name")

    val sampleMap = fam.select(
      lit("").as("site_id"), col("iid").as("subject_id"),
      col("iid").as("sample_cd"), lit("").as("platform"),
      lit("Unknown").as("tissue_type"), lit("").as("attribute_1"),
      lit("").as("attribute_2"), lit("GWAS+GWAS Plink").as("category_cd"))
    val patients = AcghPipeline.ensurePatients(spark,
      readTable(spark, wh, "patient_dimension"), sampleMap, studyId)
    val noGpl = emptyTable(spark, Seq("platform" -> StringType,
      "title" -> StringType, "marker_type" -> StringType))
    val ls = LoadSamples.run(spark, studyId,
      s"$topNodeParent\\$studyLabel\\", sampleMap, noGpl, patients)

    val oldMapping = readTable(spark, wh, "de_subject_sample_mapping")
    val staged = Seq(
      stagePart(patients, wh, "patient_dimension", Seq(studyId)),
      stageSampleMapping(oldMapping, wh, studyId, "STD", withAssayIds(
        ls.sampleMapping, assayIds(oldMapping, sampleMap.select(col("sample_cd"))))),
      stagePart(lob, wh, "plink_data", Seq(studyId)))
    persistOntology(spark, wh, studyId, s"$topNodeParent\\$studyLabel\\", ls)
    commitStaged(spark, wh, staged)
    studyId
  }

  // ------------------------------------------------- serial-HDD post-step

  /** Base datatype key for each *SerialHDD folder (the reference treats
    * serial HDD as the same processor plus a Sample_Dimensions_Mapping). */
  val SerialHddBase: Map[String, String] = Map(
    "EXPRESSIONSERIALHDD" -> "EXPRESSION",
    "PROTEINSERIALHDD" -> "PROTEIN",
    "RNASEGSERIALHDD" -> "RNASEQ", // the reference fixture's own spelling
    "RNASEQSERIALHDD" -> "RNASEQ",
    "MIRNA_QPCRSERIALHDD" -> "MIRNA_QPCR",
    "METABOLOMICSSERIALHDD" -> "METABOLOMICS")

  /** Serial-HDD (time-series) post-step (I2B2_PROCESS_SERIAL_HDD_DATA):
    * after the base upload persisted its ontology and facts, the sample-
    * dimensions mapping stamps its verbatim value/unit XML onto the
    * study's mapped category nodes, every sample registers in
    * sample_dimension, and the study's facts backfill their sample_cd. */
  def applySerialHddStep(spark: SparkSession, dir: Path, wh: Path,
                         studyId: String): Unit = {
    val dimsFile = listDir(dir)
      .find(_.getFileName.toString.matches("(?i).*Sample_Dimensions_Mapping.*\\.txt"))
      .getOrElse(return)
    val dims = graft.pipeline.SnpAndSerial.readSampleDimensions(
      spark, dimsFile.toString)
    val mapping = readTable(spark, wh, "de_subject_sample_mapping")
    // the warehouse i2b2 carries no basecode; the LEAF concept rows do
    val i2b2 = readTable(spark, wh, "i2b2")
      .join(readTable(spark, wh, "concept_dimension")
        .select(col("concept_path").as("c_fullname"),
          col("concept_cd").as("c_basecode")), Seq("c_fullname"), "left")
    val sampleDim = readTable2(spark, wh, "sample_dimension",
      Seq("sample_cd" -> StringType))
    // the sample_cd backfill is a left join that passes non-study facts
    // through unchanged — feed it ONLY this trial's fact partition and
    // rewrite only that partition
    val t = graft.pipeline.SnpAndSerial.applySerialHdd(i2b2, dims,
      mapping, sampleDim,
      readTable(spark, wh, "observation_fact")
        .filter(col("sourcesystem_cd") === studyId), studyId)
    val staged = Seq(
      stageWhole(t.i2b2.drop("c_basecode"), wh, "i2b2"),
      stageWhole(t.sampleDimension, wh, "sample_dimension"),
      stagePart(t.facts, wh, "observation_fact", Seq(studyId)))
    commitStaged(spark, wh, staged)
  }

  // ----------------------------------------------------------- SNP upload

  /** SNP upload (I2B2_PROCESS_SNP_DATA): the mapping file names each
    * sample's calls/copy-number files (read by POSITION), full-outer
    * merged per (sample, snp), platform node from the SNP platform title,
    * facts into de_sample_snp_data. */
  def uploadSnp(spark: SparkSession, dir: Path, topNodeParent: String,
                studyLabel: String, wh: Path): String = {
    val files = listDir(dir)
    val mapFile = findFile(files, "(?i).+Subject_Sample_Mapping_File.*\\.txt")
      .getOrElse(sys.error(s"$dir: no subject-sample mapping file"))
    val sampleMap = readOmicsSampleMap(spark, mapFile.toString)
    val (studyId, platform, srcCd) = sampleMapHeader(sampleMap, mapFile)

    val (callsFiles, cnFiles) = graft.pipeline.SnpAndSerial.snpFileLists(
      TsvReader.read(spark, mapFile.toString), dir.toString)
    val merged = graft.pipeline.SnpAndSerial.loadSnp(spark, callsFiles, cnFiles)

    val (gplRow, gplInfo) = addPlatform(spark, wh, platform,
      platformMeta(spark, files, platform), "SNP")
    val patients = AcghPipeline.ensurePatients(spark,
      readTable(spark, wh, "patient_dimension"), sampleMap, studyId)
    val ls = LoadSamples.run(spark, studyId,
      s"$topNodeParent\\$studyLabel\\", sampleMap, gplRow, patients,
      markerType = "SNP")

    val oldMapping = readTable(spark, wh, "de_subject_sample_mapping")
    val ids = assayIds(oldMapping, sampleMap.select(col("sample_cd")))
    val facts = merged
      .withColumnRenamed("gsm_num", "sample_id")
      .join(broadcast(ids.select(col("sample_cd").as("sample_id"),
        col("assay_id"))), Seq("sample_id"))
      .withColumn("trial_name", lit(studyId))

    val staged = Seq(
      stagePart(patients, wh, "patient_dimension", Seq(studyId)),
      stageWhole(gplInfo, wh, "de_gpl_info"),
      stageSampleMapping(oldMapping, wh, studyId, srcCd,
        withAssayIds(ls.sampleMapping, ids)),
      stagePart(facts, wh, "de_sample_snp_data", Seq(studyId)))
    persistOntology(spark, wh, studyId, s"$topNodeParent\\$studyLabel\\", ls)
    commitStaged(spark, wh, staged)
    studyId
  }

  // ----------------------------------------------------------- VCF upload

  /** VCF upload (VCFDataProcessor.groovy): every `*.vcf` in the folder
    * becomes its own `<study>:<file>` dataset via [[graft.pipeline.VcfPipeline.runDir]];
    * subjects upsert into patient_dimension, samples get warehouse-unique
    * assay ids (the sample-mapping rows are what ties the delete cascade
    * to de_variant_subject_summary), and the six de_variant_* tables
    * replace their study-prefixed datasets. Study id + genome build come
    * from the mapping file's `# KEY: value` meta header. */
  def uploadVcf(spark: SparkSession, dir: Path, wh: Path,
                topNodeParent: String = "", studyLabel: String = ""): String = {
    import scala.jdk.CollectionConverters._
    val files = listDir(dir)
    val mapFile = files
      .find(_.getFileName.toString.matches("(?i)(.*_)?Subject_Sample_Mapping_File(_.*)*\\.txt"))
      .getOrElse(sys.error(s"$dir: no subject-sample mapping file"))
    val meta = Files.readAllLines(mapFile).asScala
      .takeWhile(_.startsWith("#"))
      .flatMap { l =>
        l.drop(1).split(":", 2) match {
          case Array(k, v) => Some(k.trim.toUpperCase -> v.trim)
          case _ => None
        }
      }.toMap
    val studyId = meta.getOrElse("STUDY_ID",
      sys.error(s"$mapFile: no # STUDY_ID meta line")).toUpperCase
    val genome = meta.getOrElse("GENOME_BUILD", "hg19")

    val rawSm = TsvReader.read(spark, mapFile.toString)
    val sm = rawSm.select(
      col("SUBJECT_ID").as("subject_id"),
      col("SAMPLE_CD").as("sample_cd"),
      lit(null).cast(StringType).as("site_id"),
      (if (rawSm.columns.contains("CATEGORY_CD")) col("CATEGORY_CD")
       else lit(null).cast(StringType)).as("category_cd"))
    val t = graft.pipeline.VcfPipeline.runDir(spark, dir.toString, studyId, genome)

    val patients = AcghPipeline.ensurePatients(spark,
      readTable(spark, wh, "patient_dimension"), sm, studyId)
    // one assay per distinct (subject, sample) — a MultiVCF mapping file
    // repeats SAMPLE_CD once per file, and per-ROW ids would both mint
    // duplicate assay_ids and fan out the summary join below
    val oldMapping = readTable(spark, wh, "de_subject_sample_mapping")
    val mapping = assayIds(oldMapping, sm.select(col("subject_id"), col("sample_cd")))
      .withColumn("trial_name", lit(studyId))
    val summary = t.subjectSummary.join(
      broadcast(mapping.select(col("sample_cd").as("sample_id"),
        col("assay_id"))), Seq("sample_id"), "left")

    // null-safe: NOT(NULL startsWith) would silently drop null-keyed rows
    def replaceDatasets(old: DataFrame, fresh: DataFrame): DataFrame =
      old.filter(not(coalesce(col("dataset_id").startsWith(studyId + ":"),
          lit(false))))
        .unionByName(fresh, allowMissingColumns = true)
    // a re-upload may drop a vcf file: affected partitions = the fresh
    // dataset ids PLUS any existing partition of this study's prefix
    val freshDatasets = t.dataset.select(col("dataset_id")).collect()
      .map(_.getString(0)).toSeq
    def stageVt(n: String, fresh: DataFrame) = stagePart(fresh, wh, n,
      freshDatasets ++
        listPartitionValues(wh, n).filter(_.startsWith(studyId + ":")))
    val staged = Seq(
      stagePart(patients, wh, "patient_dimension", Seq(studyId)),
      stageSampleMapping(oldMapping, wh, studyId, "VCF", mapping),
      stageWhole(replaceDatasets(
        readTable2(spark, wh, "de_variant_dataset",
          Seq("dataset_id" -> StringType)), t.dataset),
        wh, "de_variant_dataset"),
      stageVt("de_variant_subject_idx", t.subjectIdx),
      stageVt("de_variant_population_info", t.populationInfo),
      stageVt("de_variant_subject_detail", t.subjectDetail),
      stageVt("de_variant_subject_summary", summary),
      stageVt("de_variant_population_data", t.populationData))
    // configured paths (VCFDataProcessor's CATEGORY_CD column): each
    // sample's category becomes an ontology leaf ('+' -> '\\', '_' -> ' ')
    // with per-sample facts, persisted through the shared category-root
    // machinery BEFORE the swap (patients lineage reads the old star)
    if (topNodeParent.nonEmpty &&
        sm.columns.contains("category_cd") &&
        !sm.filter(col("category_cd").isNotNull).isEmpty) {
      val topNode = s"$topNodeParent\\$studyLabel\\"
      val leafed = sm.filter(col("category_cd").isNotNull)
        .withColumn("leaf_node",
          concat(lit(topNode),
            regexp_replace(regexp_replace(col("category_cd"), "\\+", "\\\\"),
              "_", " "), lit("\\")))
        .withColumn("usubjid", graft.functions.CleansingFunctions.usubjid(
          lit(studyId), lit(""), col("subject_id")))
      val nodes = leafed.select(col("leaf_node")).distinct()
        .withColumn("node_type", lit("LEAF"))
        .withColumn("concept_cd", substring(md5(col("leaf_node")), 1, 16))
      val sampleFacts = leafed
        .join(patients.select(col("patient_num"), col("sourcesystem_cd")),
          leafed("usubjid") === col("sourcesystem_cd"))
        .join(nodes.select(col("leaf_node"), col("concept_cd")), Seq("leaf_node"))
        .select(col("patient_num"), col("concept_cd"),
          lit(studyId).as("modifier_cd"), lit("T").as("valtype_cd"),
          lit("E").as("tval_char"), lit(studyId).as("sourcesystem_cd"))
        .distinct()
      persistOntology(spark, wh, studyId, topNode,
        LoadSamples.LoadSamplesTables(nodes, mapping, sampleFacts))
    }
    commitStaged(spark, wh, staged)
    studyId
  }

  // ---------------------------------------------------- expression upload

  /** mRNA expression upload (§3.2): platform annotation -> registry load ->
    * load-samples node build -> melt -> probe tagging -> z-score, the
    * `OmicsPipeline.runFull` chain, persisted into the warehouse star
    * (registry + gpl info + sample mapping + de_subject_microarray_data). */
  def uploadExpression(spark: SparkSession, dir: Path, topNodeParent: String,
                       studyLabel: String, wh: Path,
                       useFirstGeneId: Boolean): String = {
    val files = listDir(dir)
    val mapFile = findFile(files, "(?i).+_Subject_Sample_Mapping_File(_GPL\\d+)*\\.txt")
      .getOrElse(sys.error(s"$dir: no subject-sample mapping file"))
    val dataFile = findFile(files, "(?i).+_Gene_Expression_Data_[RLT](_GPL\\d+)*\\.txt")
      .getOrElse(sys.error(s"$dir: no *_Gene_Expression_Data_{R,L,T}.txt"))

    val sampleMap = readOmicsSampleMap(spark, mapFile.toString)
      // OmicsPipeline/LoadSamples accept both naming conventions
      .withColumn("sample_id", col("sample_cd"))
      .withColumn("platform_name", col("platform"))
      .withColumn("tissuetype", col("tissue_type"))
      .withColumn("attr1", col("attribute_1"))
      .withColumn("attr2", col("attribute_2"))
    val (studyId, platform, srcCd) = sampleMapHeader(sampleMap, mapFile)

    val pf = findFile(files, s"(?i)${Pattern.quote(platform)}\\.txt")
      .getOrElse(sys.error(s"$dir: no platform file $platform.txt"))
    val (meta, platformAnn) =
      OmicsSources.readPlatform(spark, pf.toString, useFirstGeneId)
    val staged = platformAnn.select(
      lit(platform).as("gpl_id"), col("probeset_id").as("probe_id"),
      col("gene_symbol"), col("gene_id").cast(StringType).as("gene_id"),
      col("species").as("organism"))

    val probesets0 = readTable2(spark, wh, "probeset_deapp",
      Seq("probeset_id" -> LongType, "probeset" -> StringType,
        "platform" -> StringType, "organism" -> StringType))
    val bioMarkers = readTable2(spark, wh, "bio_marker",
      Seq("bio_marker_name" -> StringType, "organism" -> StringType,
        "primary_external_id" -> StringType, "bio_marker_type" -> StringType))
    val (_, gplInfo) = addPlatform(spark, wh, platform, meta, "Gene Expression")

    val patients = AcghPipeline.ensurePatients(spark,
      readTable(spark, wh, "patient_dimension"), sampleMap, studyId)
    val topNode = s"$topNodeParent\\$studyLabel\\"
    val dataType = OmicsSources.dataTypeFromFileName(dataFile.getFileName.toString)
    val t = graft.pipeline.OmicsPipeline.runFull(spark, studyId, topNode, sampleMap,
      OmicsSources.meltMatrix(TsvReader.readFast(spark, dataFile.toString)),
      staged, probesets0, bioMarkers, gplInfo, patients, dataType = dataType)

    // every plan below may re-read the OLD warehouse files (patients'
    // lineage scans patient_dimension), so ALL outputs stage to tmp dirs
    // before any old dir is swapped out — the writeStar discipline
    val writes = Seq(
      stagePart(patients, wh, "patient_dimension", Seq(studyId)),
      stageWhole(gplInfo, wh, "de_gpl_info"),
      // the annotation registries are platform-keyed: only this
      // platform's partition changes
      stagePart(t.annotation.probesets, wh, "probeset_deapp", Seq(platform)),
      stagePart(t.annotation.mrnaAnnotation, wh, "de_mrna_annotation",
        Seq(platform)),
      // the assay ids are the ones the mRNA proc assigned
      stageSampleMapping(readTable(spark, wh, "de_subject_sample_mapping"),
        wh, studyId, srcCd, withAssayIds(t.loadSamples.sampleMapping,
          t.omics.sampleMapping.select(col("sample_id").as("sample_cd"), col("assay_id")))),
      stagePart(t.omics.data.withColumn("trial_name", lit(studyId)),
        wh, "de_subject_microarray_data", Seq(studyId)))
    persistOntology(spark, wh, studyId, topNode, t.loadSamples)
    commitStaged(spark, wh, writes)
    studyId
  }

  private def readTable2(spark: SparkSession, wh: Path, name: String,
                         schema: Seq[(String, org.apache.spark.sql.types.DataType)]): DataFrame = {
    // partition values are trial/platform STRINGS — never let the reader
    // type-infer a numeric-looking study id into an int partition column
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val p = wh.resolve(s"$name.parquet")
    // mergeSchema: partitions are written per upload, and different
    // writers legitimately carry different optional columns
    if (Files.exists(p)) spark.read.option("mergeSchema", "true").parquet(p.toString)
    else emptyTable(spark, schema)
  }

  // ------------------------------------------------------------ directory

  /** Crawl + process; returns (succeeded, failed) study labels. */
  def processDirectory(spark: SparkSession, o: Options): (Seq[String], Seq[String]) = {
    val root = o.dataDir.getOrElse(sys.error("data_dir required"))
    val ok = Seq.newBuilder[String]
    val failed = Seq.newBuilder[String]
    val studies = StudyDiscovery.discover(root, o.parentNode)
    studies.foreach { st =>
      val done =
        try {
          st.dataTypes.foreach { case (tpe, dir) =>
            tpe.toUpperCase match {
              case "CLINICAL" =>
                uploadClinical(spark, dir, st.parentPath, st.studyLabel,
                  o.warehouse, o.alwaysSetVisitName, o.secureStudy,
                  o.checkDuplicates)
              case "ACGH" =>
                uploadAcgh(spark, dir, st.parentPath, st.studyLabel, o.warehouse)
              case "EXPRESSION" =>
                uploadExpression(spark, dir, st.parentPath, st.studyLabel,
                  o.warehouse, o.useFirstGeneId)
              case "VCF" | "MULTIVCF" =>
                uploadVcf(spark, dir, o.warehouse, st.parentPath,
                  st.studyLabel)
              case hd if HighDimConfigs.contains(hd) =>
                uploadHighDim(spark, dir, st.parentPath, st.studyLabel,
                  o.warehouse, HighDimConfigs(hd))
              case sh if SerialHddBase.contains(sh) =>
                val sid =
                  if (SerialHddBase(sh) == "EXPRESSION")
                    uploadExpression(spark, dir, st.parentPath, st.studyLabel,
                      o.warehouse, o.useFirstGeneId)
                  else uploadHighDim(spark, dir, st.parentPath, st.studyLabel,
                    o.warehouse, HighDimConfigs(SerialHddBase(sh)))
                applySerialHddStep(spark, dir, o.warehouse, sid)
              case "SNP" =>
                uploadSnp(spark, dir, st.parentPath, st.studyLabel, o.warehouse)
              case "GWASPLINK" =>
                uploadGwasPlink(spark, dir, st.parentPath, st.studyLabel,
                  o.warehouse)
              case other =>
                println(s">>> SKIPPING unsupported datatype folder: $other (${st.studyLabel})")
            }
          }
          true
        } catch {
          case e: Exception =>
            println(s"!!! ${st.studyLabel}: ${e.getMessage}")
            false
        }
      if (done) ok += st.studyLabel else failed += st.studyLabel
      if (!o.noRename) StudyDiscovery.markProcessed(st.path, done)
      if (!done && o.stopOnFail) return (ok.result(), failed.result())
    }
    (ok.result(), failed.result())
  }

  // ------------------------------------------------------------------ ops

  /** Refuse to run two loaders against one warehouse at once: the
    * reference's ProcessLocker.groovy / CommandLineTool.groovy:76-86 —
    * a lock file, no staleness heuristic (the reference's too: a crashed
    * run leaves the file and the message tells the operator; the
    * `--force-start` flag removes a leftover lock). Scoped to the
    * warehouse directory, the unit two concurrent runs would corrupt. */
  private def withProcessLock(wh: Path, force: Boolean)(body: => Int): Int = {
    Files.createDirectories(wh)
    val lock = wh.resolve(".graft-etl.lock")
    if (force) Files.deleteIfExists(lock)
    val acquired =
      try { Files.createFile(lock); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!acquired) {
      println("Probably another graft-etl instance is already running against " +
        s"this warehouse. If a previous run finished incorrectly, check that " +
        s"no other instance is running and remove ${lock.toAbsolutePath} " +
        "(or pass --force-start).")
      1
    } else
      try body finally Files.deleteIfExists(lock)
  }

  def run(spark: SparkSession, args: Seq[String]): Int =
    parseArgs(args) match {
      case Left(err) => println(err); println(Usage); 1
      case Right(o) if o.showHelp => println(Usage); 0
      case Right(o) if o.moveStudy.isDefined || o.deleteStudyById.isDefined ||
          o.deleteStudyByPath.isDefined || o.dataDir.isDefined =>
        withProcessLock(o.warehouse, o.forceStart) {
          // finish any swap a previous run was killed in the middle of,
          // BEFORE any command reads or rewrites the star
          recoverPublish(spark, o.warehouse)
          dispatch(spark, o)
        }
      case Right(_) => println(Usage); 1
    }

  private def dispatch(spark: SparkSession, opts: Options): Int =
    opts match {
      case o if o.moveStudy.isDefined =>
        val (oldPath, newPath) = o.moveStudy.get
        val r = StudyOps.moveStudyByPath(spark, loadStar(spark, o.warehouse),
          oldPath, newPath, saveSecurity = o.keepSecurity)
        r.error match {
          case Some(msg) => println(s"!!! $msg"); 1
          case None =>
            // a plain move rewrites paths — ontology tables only; the big
            // partitioned tables change ONLY when a keep-security
            // transplant deleted the occupying study
            writeStar(r.star, o.warehouse,
              affectedTrials = Some(r.deletedTrial.toSeq))
            println(">>> STUDY MOVED"); 0
        }
      case o if o.deleteStudyById.isDefined || o.deleteStudyByPath.isDefined =>
        val star = loadStar(spark, o.warehouse)
        val trialIdIn = o.deleteStudyById.map(_.toUpperCase)
        // the cascade empties exactly this trial's partitions (the
        // recursive empty-parent cleanup touches ontology tables only)
        val trial = StudyOps.resolveTrial(star, o.deleteStudyByPath, trialIdIn)
        val out = StudyOps.deleteStudy(spark, star,
          pathIn = o.deleteStudyByPath, trialIdIn = trialIdIn)
        writeStar(out, o.warehouse, affectedTrials = Some(trial.toSeq))
        println(">>> STUDY DELETED")
        0
      case o =>
        val (ok, failed) = processDirectory(spark, o)
        println(s">>> processed: ${ok.size} ok, ${failed.size} failed")
        if (failed.nonEmpty) 1 else 0
    }

  def main(args: Array[String]): Unit = {
    val spark = core.Session.start("graft-etl", core.Session.Etl)
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
