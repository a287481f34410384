package graft.perfbench

import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.perfbench.Main.Run

/** The query catalog: a fixed subset of `SparkEntry.queries` (listed in
  * queries.json, one per family) over generated sf0.1-sized tables,
  * written to the noop sink as `graft.Bench` does — read-only. After an
  * output pass, one traced pass runs each query in a span named
  * `queries.<family>`; a family's counters are summed over its queries.
  */
object QueryCatalog {

  final case class Catalog(sf: String, families: Seq[(String, Seq[String])])

  /** One traced pass over the catalog in `dir`, after its output pass:
    * how another workload's traced run records the `queries.<family>`
    * layers. */
  def tracedPass(r: Run, dir: java.nio.file.Path): Unit = {
    val c = outputPass(r, dir)
    r.tracer.enabled = true
    r.tracer.round = 0
    for ((family, q) <- queries(c)) runQuery(r, c, family, q)
    r.tracer.enabled = false
  }

  private def queries(c: Catalog): Seq[(String, String)] =
    for ((family, qs) <- c.families; q <- qs) yield (family, q)

  /** Between queries the cache is cleared and the JVM collected, outside
    * the timing, as in `graft.Bench`. */
  private def runQuery(r: Run, c: Catalog, family: String, q: String): Unit = {
    r.tracer.span(s"queries.$family") {
      SparkEntry.queries(q)(r.spark, c.sf).write.format("noop").mode("overwrite").save()
    }
    r.spark.catalog.clearCache()
    System.gc()
  }

  /** Warm-up and output pass: every result written as parquet under
    * `<work>/results/<query>`, and the subset's DuckDB twins to
    * `<work>/oracle_sql.json`, for the comparison the calling script makes. */
  private def outputPass(r: Run, dir: java.nio.file.Path): Catalog = {
    val expect = Expect.load(dir)
    val c = Catalog(dir.resolve(expect.str("sf_dir")).toString,
      expect.list("families").map { f =>
        f.get("family").asText() -> f.get("queries").elements().asScala.map(_.asText()).toSeq
      })
    val oracles = SparkEntry.oracleSql
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      r.work.resolve("oracle_sql.json").toFile,
      queries(c).map { case (_, q) => q -> oracles(q) }.toMap.asJava)
    for ((_, q) <- queries(c)) {
      r.checking(s"query runs [$q]") {
        SparkEntry.queries(q)(r.spark, c.sf).write.mode("overwrite")
          .parquet(r.work.resolve("results").resolve(q).toString)
        true
      }
      r.spark.catalog.clearCache()
    }
    c
  }
}
