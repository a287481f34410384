package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic surrogate-id assignment (the sequence replacement,
  * SURVEY §7.3), two entry points:
  *
  *  - [[denseIds]]: 1..N in the order of `sortCols`;
  *  - [[denseIdsAfter]]: max+1..max+N past an existing registry's max id,
  *    the max read in the same action as the partition counts.
  *
  * Both are computed DataFrame-native: range-partitioned sort,
  * per-partition record numbers from `monotonically_increasing_id`, and
  * a broadcast join against the (tiny) per-partition offset table. No
  * single-task global window and no RDD round-trip, so the plan stays in
  * whole-stage codegen / columnar batches end-to-end and scales to
  * warehouse-sized dimension tables. Deterministic as long as `sortCols`
  * is a total order; equal to a global `row_number()` over `sortCols`
  * (the reference form CoreSpec compares against).
  */
object Ids {

  def denseIds(df: DataFrame, sortCols: Seq[String], idCol: String): DataFrame =
    assign(df, sortCols, idCol, None)

  /** [[denseIds]] starting past an existing registry's max id: `maxIdAgg`
    * must be a single-row, single-long-column aggregate (e.g.
    * `existing.agg(coalesce(max(col("id")), lit(0L)))`); ids start at its
    * value + 1. The aggregate is the broadcast side of the partition-
    * counts action, so callers need no `collect()` of their own for the
    * max id. It is not free: the broadcast still runs as its own Spark
    * job, so the job count matches a separate collect. */
  def denseIdsAfter(df: DataFrame, sortCols: Seq[String], idCol: String,
                    maxIdAgg: DataFrame): DataFrame =
    assign(df, sortCols, idCol, Some(maxIdAgg))

  private def assign(df: DataFrame, sortCols: Seq[String], idCol: String,
                     maxIdAgg: Option[DataFrame]): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // monotonically_increasing_id = (partition id << 33) | record number
    // within the partition (documented layout); masking the low 33 bits
    // yields the 0-based rank within the range partition, evaluated after
    // the within-partition sort so it follows sortCols order.
    val sorted = df
      .repartitionByRange(n, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rn", monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      // LAZY localCheckpoint (not persist): the counts job below
      // materializes it exactly once — the range partitioner's boundary
      // sampling must not re-run between the counts and the join — and the
      // blocks auto-release when the frame becomes unreachable, instead of
      // leaking a CacheManager entry per call until someone clearCache()s.
      // Dimension-sized inputs only.
      .localCheckpoint(false)

    val countsDf = sorted.groupBy(col("__pid")).count()
    // fold the optional max-id aggregate into the SAME collect: one driver
    // round-trip yields both the per-partition counts and the start id
    val (counts, base) = maxIdAgg match {
      case Some(agg) =>
        val rows = countsDf.crossJoin(broadcast(agg.toDF("__max"))).collect()
        (rows.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1),
          rows.headOption.map(_.getLong(2) + 1).getOrElse(1L))
      case None =>
        (countsDf.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1),
          1L)
    }
    var acc = base
    val offsets = counts.map { case (p, c) => val o = (p, acc); acc += c; o }

    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__pid", "__off"))
    sorted.join(offDf, "__pid")
      .withColumn(idCol, col("__off") + col("__rn"))
      .drop("__pid", "__rn", "__off")
  }
}
