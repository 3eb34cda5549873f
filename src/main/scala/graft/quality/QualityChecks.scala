package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's data-quality gates (data_quality.py:5-6,25-41) as
  * library assertions, with the corrected strict semantics
  * (SURVEY.md §7.5: the reference tolerates exactly one null id via
  * `> 1`; ours is zero-tolerance).
  *
  * Both probes are single count aggregates — one job, partial counts
  * combined at the driver; no data movement beyond longs.
  *
  * [[qualityMetrics]]/[[observed]] are the ZERO-EXTRA-PASS variant:
  * `requireNonEmpty`/`requireNoNullKeys` each cost a scan, which is
  * fine as pre-load gates but unaffordable as per-stage telemetry at
  * 100 TB — a metrics pass IS a job there. `Dataset.observe` computes
  * the same aggregates as accumulators DURING the action the pipeline
  * already runs (one CollectMetrics node in the plan, no second scan),
  * and the identical call works under Structured Streaming, where the
  * metrics surface per micro-batch on QueryProgress.observedMetrics.
  * Oracle-checked batch-side as `a10_observed_gate`; streaming side in
  * EventStreamSpec.
  */
object QualityChecks {

  /** The standard stage-telemetry triple: row count, non-null key
    * count, exact measure sum (decimal-aggregated, double-emitted —
    * the Q.dsum discipline, inlined to keep this module standalone). */
  def qualityMetrics(keyCol: String, measureCol: String): Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    count(col(keyCol)).as("n_nonnull_key"),
    sum(col(measureCol).cast(DecimalType(18, 2))).cast("double")
      .as("measure_sum"))

  /** Attach the telemetry triple to `df` under a fresh [[Observation]];
    * read `obs.get` after any action on the returned frame. */
  def observed(df: DataFrame, keyCol: String, measureCol: String)
      : (DataFrame, Observation) = {
    val obs = Observation()
    val ms = qualityMetrics(keyCol, measureCol)
    (df.observe(obs, ms.head, ms.tail: _*), obs)
  }
  final case class QualityViolation(msg: String) extends RuntimeException(msg)

  /** Gate 1: table is non-empty (data_quality.py:5,25-32). */
  def requireNonEmpty(df: DataFrame, table: String): Long = {
    val n = df.count()
    checkNonEmpty(n, table)
    n
  }

  /** Gate 2: key column has zero nulls (data_quality.py:6,34-41). */
  def requireNoNullKeys(df: DataFrame, table: String, key: String): Unit =
    checkNullKeys(df.filter(col(key).isNull).count(), table, key)

  /** Gates 1 and 2 as ONE aggregate: the row count and the null-key
    * count come out of a single scan of `df`. Same strict semantics and
    * messages as [[requireNonEmpty]] then [[requireNoNullKeys]] (an
    * empty table reports empty). Returns the row count. */
  def requireLoaded(df: DataFrame, table: String, key: String): Long = {
    val r = df.agg(count(lit(1)), count_if(col(key).isNull)).head()
    checkNonEmpty(r.getLong(0), table)
    checkNullKeys(r.getLong(1), table, key)
    r.getLong(0)
  }

  private def checkNonEmpty(n: Long, table: String): Unit =
    if (n == 0) throw QualityViolation(s"quality gate: $table is empty")

  private def checkNullKeys(nulls: Long, table: String, key: String): Unit =
    if (nulls > 0)
      throw QualityViolation(s"quality gate: $table.$key has $nulls null keys")
}
