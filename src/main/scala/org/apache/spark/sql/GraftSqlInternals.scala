package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Compile-time bridge to package-private Spark APIs (the Scala
  * access modifier admits code in this package; the JVM methods are
  * public). Used by `graft.operators.IterationCheckpoint` to rebuild a
  * checkpointed frame from its INTERNAL rows: the public
  * `createDataFrame(rdd, schema)` route would deserialize every
  * UnsafeRow to an external `Row` and re-encode it on each downstream
  * scan — a per-row tax paid on the full label/vocab table every
  * iteration of a driver-controlled loop. `internalCreateDataFrame`
  * wraps the same rows in a fresh `LogicalRDD` with default statistics
  * (the stats reset is the point — see IterationCheckpoint's scaladoc)
  * and no conversion at all. `cloneSession` and `rebind` give
  * `graft.warehouse.Warehouse` a session whose write settings do not
  * leak into the caller's.
  *
  * Version note: both members exist unchanged across Spark 3.x–4.x
  * (`internalCreateDataFrame` on the classic SparkSession,
  * `QueryExecution.toRdd`); if a future Spark hides them, fall back to
  * `createDataFrame(ck.rdd, ck.schema)` — identical semantics, slower
  * scan.
  */
object GraftSqlInternals {

  def internalCreateDataFrame(
      spark: SparkSession,
      rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** The dataset's compiled internal-row RDD (`QueryExecution.toRdd`). */
  def internalRdd(df: Dataset[_]): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** Block until every listener event posted so far has been delivered
    * (`graft.tools.Ledger` reads its listeners only after this). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** How many plans the session's cache manager holds
    * (`graft.tools.Ledger`'s `persisted_after`). */
  def cachedPlanCount(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  /** A new session over the same context, shared state and catalog,
    * starting from a copy of `spark`'s conf, functions, temporary views
    * and query-execution listeners; conf set on it stays on it
    * (`graft.warehouse.Warehouse`'s staging session). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s plan as a frame of `spark`: the same rows, planned and run
    * under `spark`'s conf. The ANALYZED plan is rebound — its relations
    * are already resolved, so a source read without a schema does not
    * infer it (one Spark job) a second time. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
