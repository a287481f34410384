package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its `SparkSession`.
  *
  * Every session runs on `local[cpus]` (or `SPARK_GRAFT_MASTER`, a
  * deployment address) with shuffle partitions = cpus, UTC session time,
  * no UI, and `nanosAsLong` (some testdata vintages write events.ts as
  * TIMESTAMP(NANOS), which Spark 4 rejects without it; `Tables.load`
  * normalizes ts to epoch-nano longs either way). The mains differ only in
  * which of the three named setting sets they add on top.
  */
object Session {
  type Settings = Map[String, String]

  /** Bench, Verify, ScaleProbe, Profile: the query catalog as-is. */
  val Query: Settings = Map.empty

  /** CurateCli: the engine's SQL surface registered. */
  val Curate: Settings = Map("spark.sql.extensions" -> "graft.GraftExtensions")

  /** GraftCli: warehouse tables are trial-partitioned; different uploads
    * write different optional columns, and partition values are strings. */
  val Etl: Settings = Curate ++ Map(
    "spark.sql.parquet.mergeSchema" -> "true",
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false")

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** A setting set plus the settings every session carries. */
  def conf(settings: Settings, cpus: Int): Settings = settings ++ Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def builder(settings: Settings, cpus: Int = Session.cpus,
              master: Option[String] = sys.env.get("SPARK_GRAFT_MASTER")
             ): SparkSession.Builder =
    SparkSession.builder().master(master.getOrElse(s"local[$cpus]"))
      .config(conf(settings, cpus))

  def start(appName: String, settings: Settings): SparkSession = {
    val spark = builder(settings).appName(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
