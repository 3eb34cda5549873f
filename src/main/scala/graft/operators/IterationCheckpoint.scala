package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Checkpointing for ITERATIVE driver-controlled loops (connected
  * components, BPE training): truncate the lineage AND reset the plan
  * statistics.
  *
  * `Dataset.localCheckpoint` truncates the lineage but (since Spark 3.4,
  * SPARK-39748) the resulting leaf INHERITS the origin plan's
  * statistics. In a loop that joins each round's checkpoint back against
  * the previous one, `sizeInBytes` is a PRODUCT of the children's sizes
  * (SizeInBytesOnlyStatsPlanVisitor.visitJoin), so the inherited BigInt
  * compounds multiplicatively: its bit-length grows ~3-4× per round, and
  * by round ~8 the optimizer spends minutes multiplying megabit-sized
  * BigIntegers (measured: 60k bits after 8 rounds of a 3-leaf join loop,
  * with Toom-Cook multiplication dominating the driver). Rebuilding the
  * frame from the checkpointed rows gives the leaf fresh default
  * statistics, keeping every round's stats computation O(plan size).
  * The rebuild keeps the rows INTERNAL (UnsafeRow → fresh LogicalRDD
  * via [[org.apache.spark.sql.GraftSqlInternals]]): the public
  * `createDataFrame(ck.rdd, schema)` spelling would deserialize and
  * re-encode every row of the label/vocab table on each downstream
  * scan, every iteration. Joins that must broadcast a small
  * checkpointed side pass an explicit `broadcast()` hint (stats no
  * longer advertise smallness); AQE still right-sizes everything else
  * from runtime shuffle statistics.
  */
private[graft] object IterationCheckpoint {

  /** Fresh-leaf rebuild of a checkpointed frame: same internal rows,
    * default statistics. */
  private def resetStats(ck: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlInternals.internalCreateDataFrame(
      ck.sparkSession,
      org.apache.spark.sql.GraftSqlInternals.internalRdd(ck),
      ck.schema)

  /** Eager localCheckpoint + stats reset. Returns the rebuilt frame and
    * the ids of the persisted RDD blocks backing it (release them via
    * [[release]] once the round is superseded — checkpoint blocks are
    * otherwise only reclaimed by driver GC + ContextCleaner).
    *
    * Delegates to [[localCounted]] (the count IS the materializing
    * action either way) so the copy/checkpoint/rebuild discipline
    * lives in exactly one place — two inline spellings drifted apart
    * is how a storage-level or stats tweak lands on one path only. */
  def local(df: DataFrame): (DataFrame, scala.collection.Set[Int]) = {
    val (ck, ids, _) = localCounted(df)
    (ck, ids)
  }

  /** Like [[local]], but also returns the row count, measured by the
    * SAME job that materializes the checkpoint (`RDD.count` on the
    * marked-for-checkpoint RDD both materializes the blocks and counts
    * them). The iterative loops all need the round's cardinality for
    * their convergence/broadcast decisions; the two-job spelling
    * (eager checkpoint, then count) pays one extra full pass over the
    * round's table every iteration. Rows are copied before persisting —
    * `toRdd` reuses mutable UnsafeRows, the same discipline
    * `Dataset.localCheckpoint` applies internally. Inside an operation
    * scope the blocks also belong to the scope ([[Materialize.scoped]]),
    * which releases them when the operation ends. */
  def localCounted(df: DataFrame): (DataFrame, scala.collection.Set[Int], Long) = {
    val rdd = org.apache.spark.sql.GraftSqlInternals.internalRdd(df)
      .map(_.copy())
    rdd.localCheckpoint()
    Materialize.ownCheckpoint(rdd)
    val n = rdd.count()
    // the release set is the checkpointed RDD's OWN id — localCheckpoint
    // persists exactly `rdd`. (The old global persistent-keyset diff
    // mis-attributed blocks when independent maintenance calls overlap
    // on driver threads: releasing a FOREIGN checkpoint's blocks after
    // its lineage was truncated loses the only copy of its rows.)
    (org.apache.spark.sql.GraftSqlInternals.internalCreateDataFrame(
      df.sparkSession, rdd, df.schema), Set(rdd.id), n)
  }

  /** Reliable-checkpoint variant (files under the session checkpoint
    * dir; rounds survive executor loss). No executor storage is held, so
    * the returned release set is empty. */
  def reliable(df: DataFrame): (DataFrame, scala.collection.Set[Int]) = {
    val ck = df.checkpoint()
    (resetStats(ck), Set.empty)
  }

  def release(sc: SparkContext, ids: scala.collection.Set[Int]): Unit =
    ids.foreach { id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
    }
}
