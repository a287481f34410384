package graft.core

import graft.{SparkSpec, SparkTestSession}

/** Pins the three named setting sets of [[Session]]. The CLIs, the bench
  * package's session and the spec session all depend on these exact
  * values: a drift here (a dropped mergeSchema, a lost extension) changes
  * what a warehouse read returns, not just how fast it runs.
  */
class SessionSpec extends SparkSpec {
  private val ext = "spark.sql.extensions"
  private val merge = "spark.sql.parquet.mergeSchema"
  private val inference = "spark.sql.sources.partitionColumnTypeInference.enabled"

  test("query set adds nothing to the common settings") {
    assert(Session.Query.isEmpty)
  }

  test("curate set registers the SQL extensions only") {
    assert(Session.Curate == Map(ext -> "graft.GraftExtensions"))
  }

  test("etl set adds mergeSchema and string partition values to the curate set") {
    assert(Session.Etl == Session.Curate ++ Map(merge -> "true", inference -> "false"))
  }

  test("every set carries shuffle partitions = cpus, UTC, no UI, nanosAsLong") {
    for (set <- Seq(Session.Query, Session.Curate, Session.Etl); cpus <- Seq(1, 3, 32)) {
      val c = Session.conf(set, cpus)
      assert(c("spark.sql.shuffle.partitions") == cpus.toString)
      assert(c("spark.sql.session.timeZone") == "UTC")
      assert(c("spark.ui.enabled") == "false")
      assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(set.forall { case (k, v) => c(k) == v })
    }
  }

  test("the spec session runs the etl set on local[2]") {
    val s = SparkTestSession.spark
    assert(s.sparkContext.master == "local[2]")
    Session.conf(Session.Etl, 2).foreach { case (k, v) =>
      assert(s.conf.get(k) == v, k)
    }
  }
}
