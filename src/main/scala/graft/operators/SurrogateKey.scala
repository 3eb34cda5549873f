package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic dense surrogate keys without a single-partition window.
  *
  * The reference derives trip_id from monotonically_increasing_id
  * (etl.py:91), which is partition-dependent. A naive deterministic
  * replacement — row_number() over a global ORDER BY — collapses the
  * whole table into one partition, which is a scale-killer at 100 TB.
  *
  * This is the scale-safe equivalent: range-repartition on the sort key
  * (so partition p holds exactly the rows ranked between partitions p-1
  * and p+1), sort each partition on the same key and number its rows in
  * that order, then shift every partition by the total count of the
  * partitions before it. The offset table is one row per partition —
  * metadata-sized, broadcast to the join — so no stage ever sees more
  * than its own partition's rows. The rows are numbered in the stage
  * that reads the range shuffle (`monotonically_increasing_id` is the
  * partition index in its upper 31 bits and the row's position in its
  * lower 33): a window partitioned by the partition index would
  * re-shuffle every row, since the planner cannot see that the range
  * partitions already are those groups.
  *
  * Output equals `row_number() OVER (ORDER BY order*)` exactly, provided
  * `order` is a total ordering (no ties). Ties would make the global
  * row_number itself non-deterministic, so totality is the caller's
  * contract, same as for the naive form.
  */
object SurrogateKey {
  def denseRowNumber(df: DataFrame, outCol: String, order: Column*): DataFrame = {
    val pid = "graft__pid"
    val local = "graft__local"
    val ranged = df.repartitionByRange(order: _*)
    val numbered = ranged
      .sortWithinPartitions(order: _*)
      .withColumn(local, monotonically_increasing_id())
      .withColumn(pid, shiftright(col(local), 33).cast("int"))
    // This unpartitioned window (Spark logs "No Partition Defined for
    // Window operation" here) is deliberate and safe: it runs over the
    // per-partition COUNTS — at most one row per shuffle partition,
    // metadata-sized at any data scale — never over the data itself.
    val offsets = ranged
      .withColumn(pid, spark_partition_id())
      .groupBy(col(pid))
      .agg(count(lit(1)).as("graft__n"))
      .withColumn(
        "graft__offset",
        coalesce(
          sum(col("graft__n")).over(
            Window
              .orderBy(col(pid))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(pid), col("graft__offset"))
    numbered
      .join(broadcast(offsets), pid)
      .withColumn(outCol,
        col(local) - shiftleft(col(pid).cast("long"), 33) + col("graft__offset") + 1L)
      .drop(pid, local, "graft__offset")
  }
}
