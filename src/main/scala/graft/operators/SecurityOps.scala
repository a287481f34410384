package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Security / metadata maintenance as functional rewrites (SURVEY §2.10):
  * i2b2_secure rebuild (I2B2_LOAD_SECURITY_DATA.sql:120-135),
  * bio_experiment / bio_data_uid upsert (I2B2_LOAD_STUDY_METADATA.sql:
  * 103-260), and the replace-study `EXP:` token transplant
  * (PostStudyProcessor.groovy:43-65, COPY_SECURITY_FROM_OTHER_STUDY.sql).
  */
object SecurityOps {

  /** i2b2_secure = the study's i2b2 rows re-tokened: `EXP:<studyId>` when
    * the study is secure, `EXP:PUBLIC` otherwise. */
  def rebuildI2b2Secure(i2b2: DataFrame, studyId: String, secure: Boolean): DataFrame =
    i2b2.withColumn("secure_obj_token",
      if (secure) lit(s"EXP:$studyId") else lit("EXP:PUBLIC"))

  /** i2b2_create_security_for_trial: replace the trial's per-patient
    * SECURITY facts — one 'SECURITY' text fact per distinct trial patient,
    * tval `EXP:<trial>` when secured else `EXP:PUBLIC`. The delete keys on
    * the fact's trial (sourcesystem_cd), the insert is a projection of the
    * patient set. */
  def refreshSecurityFacts(observationFact: DataFrame, trialPatients: DataFrame,
                           patientCol: String, studyId: String,
                           secure: Boolean): DataFrame = {
    val token = if (secure) s"EXP:$studyId" else "EXP:PUBLIC"
    val fresh = trialPatients.select(col(patientCol).as("patient_num")).distinct()
      .withColumn("concept_cd", lit("SECURITY"))
      .withColumn("valtype_cd", lit("T"))
      .withColumn("tval_char", lit(token))
      .withColumn("sourcesystem_cd", lit(studyId))
    // null-safe: a row with a null concept_cd or sourcesystem_cd makes the
    // conjunction NULL, and plain NOT(NULL) would silently drop it — only
    // rows that definitely ARE this trial's SECURITY facts may go
    observationFact
      .filter(not(coalesce(col("concept_cd") === "SECURITY" &&
        col("sourcesystem_cd") === studyId, lit(false))))
      .unionByName(fresh, allowMissingColumns = true)
  }

  /** I2B2_LOAD_SECURITY_DATA.sql:89-97 — the WAREHOUSE-level i2b2_secure
    * rebuild: every i2b2 row joined (left) to the distinct per-trial
    * SECURITY token, default `EXP:PUBLIC` for rows with no secured trial.
    * The token dimension is tiny (one row per trial) and broadcasts. */
  def rebuildI2b2SecureFromFacts(i2b2: DataFrame,
                                 observationFact: DataFrame): DataFrame = {
    val tokens = observationFact
      .filter(col("concept_cd") === "SECURITY")
      .select(col("sourcesystem_cd").as("__trial"), col("tval_char")).distinct()
    i2b2
      .join(broadcast(tokens), i2b2("sourcesystem_cd") === tokens("__trial"), "left")
      .withColumn("secure_obj_token", coalesce(col("tval_char"), lit("EXP:PUBLIC")))
      .drop("__trial", "tval_char")
  }

  /** The same rebuild driven by search_secure_object instead of the fact
    * table: a trial is secured iff its `EXP:<trial>` object is registered
    * (that registration and the SECURITY facts' tval are written together,
    * so the two sources agree row for row). At warehouse scale this reads
    * a metadata-sized table instead of scanning every fact partition for
    * `concept_cd = 'SECURITY'`. */
  def rebuildI2b2SecureFromObjects(i2b2: DataFrame,
                                   searchSecureObject: DataFrame): DataFrame = {
    val secured = searchSecureObject
      .filter(col("bio_data_unique_id").startsWith("EXP:"))
      .select(expr("substring(bio_data_unique_id, 5)").as("__trial"),
        col("bio_data_unique_id").as("__token"))
      .distinct()
    i2b2
      .join(broadcast(secured), i2b2("sourcesystem_cd") === col("__trial"), "left")
      .withColumn("secure_obj_token", coalesce(col("__token"), lit("EXP:PUBLIC")))
      .drop("__trial", "__token")
  }

  /** Upsert rows into a keyed table: new rows win, old non-conflicting rows
    * survive (set-based MERGE without Delta — recompute + publish). */
  def upsertByKey(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(incoming.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(incoming)

  /** bio_experiment upsert keyed on accession (= study id). */
  def upsertBioExperiment(bioExperiment: DataFrame, studyId: String,
                          title: String): DataFrame = {
    val incoming = bioExperiment.sparkSession
      .createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(studyId, title)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("accession",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("title",
            org.apache.spark.sql.types.StringType))))
    upsertByKey(bioExperiment, incoming, Seq("accession"))
  }

  /** Replace-study token transplant: every security row carrying the old
    * study's token is rewritten to the new study's token (biomart /
    * searchapp sweep). */
  def swapSecurityTokens(table: DataFrame, tokenCol: String,
                         oldStudyId: String, newStudyId: String): DataFrame =
    table.withColumn(tokenCol,
      when(col(tokenCol) === s"EXP:$oldStudyId", lit(s"EXP:$newStudyId"))
        .otherwise(col(tokenCol)))

  /** COPY_SECURITY_FROM_OTHER_STUDY.sql:37-59: replicate the source
    * study's access grants onto the target study's secure object. The
    * target object id resolves through bio_experiment(accession) ->
    * bio_data_uid -> search_secure_object; the source directly by its
    * `EXP:` token. New grant ids continue past the current max (sequence
    * replacement); the copy keeps each grant's principal and level.
    * Missing target/source resolves to a no-op (the proc's SELECT INTO
    * would find nothing to insert). */
  def copySecurityFromOtherStudy(
      access: DataFrame,        // auth_sec_obj_access_id, auth_principal_id,
                                //   secure_object_id, secure_access_level_id
      secureObjects: DataFrame, // search_secure_object_id, bio_data_unique_id
      bioDataUid: DataFrame,    // bio_data_id, unique_id
      bioExperiment: DataFrame, // bio_experiment_id, accession
      studyId: String, studyIdFrom: String): DataFrame = {
    def scalar(df: DataFrame): Option[Long] =
      df.collect().headOption.map(_.getLong(0))
    val targetObj = for {
      bioId <- scalar(bioExperiment.filter(col("accession") === studyId)
        .select(col("bio_experiment_id")))
      uid <- bioDataUid.filter(col("bio_data_id") === bioId)
        .select(col("unique_id")).collect().headOption.map(_.getString(0))
      objId <- scalar(secureObjects.filter(col("bio_data_unique_id") === uid)
        .select(col("search_secure_object_id")))
    } yield objId
    val sourceObj = scalar(secureObjects
      .filter(col("bio_data_unique_id") === s"EXP:$studyIdFrom")
      .select(col("search_secure_object_id")))
    (targetObj, sourceObj) match {
      case (Some(to), Some(from)) =>
        val copied = graft.core.Ids.denseIdsAfter(
          access.filter(col("secure_object_id") === from)
            .select(col("auth_principal_id"), col("secure_access_level_id")),
          Seq("auth_principal_id", "secure_access_level_id"),
          "auth_sec_obj_access_id",
          access.agg(coalesce(max(col("auth_sec_obj_access_id")), lit(0L))))
          .withColumn("secure_object_id", lit(to))
        access.unionByName(copied.select(access.columns.map(col): _*))
      case _ => access
    }
  }
}
