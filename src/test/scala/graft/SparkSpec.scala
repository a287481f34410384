package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // the GraftCli settings by construction, on local[2] whatever the
    // environment says
    val s = graft.core.Session.builder(graft.core.Session.Etl, cpus = 2, master = None)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import org.apache.spark.sql.DataFrame

  /** Collect a single string column to a sorted list. */
  def strings(df: DataFrame, col: String): Seq[String] =
    df.select(col).collect().map(r => Option(r.get(0)).map(_.toString).orNull).toSeq
}
