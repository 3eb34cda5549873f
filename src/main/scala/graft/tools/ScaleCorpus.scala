package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Synthetic-scale corpus generator for ScaleDrill: `copies` salted
  * copies per base document / embedding under `target/scale<copies>x`,
  * testdata untouched.
  *
  * Copy 0 is verbatim; document copies 1..N-1 suffix every 3rd token
  * with a copy tag, which destroys enough 3-shingles that COPIES ARE
  * NOT NEAR-DUPS OF EACH OTHER (pairwise Jaccard ≈ 0.2, far under the
  * 0.8 threshold) while each copy stratum preserves the original
  * corpus's near-dup structure — so near-dup workloads scale ~N× in
  * pairs and clusters instead of exploding quadratically inside N-way
  * exact-duplicate groups (which would measure output-size growth, not
  * operator scaling). Embedding copies perturb per-component so copies
  * spread across IVF cells instead of piling into duplicate stacks.
  * All salting is deterministic — re-runs are identical.
  */
object ScaleCorpus {

  /** Build (or rebuild) the scaled corpus; returns its directory. */
  def build(spark: SparkSession, sfDir: String, copies: Int): String = {
    val scaledDir = s"target/scale${copies}x"

    // the base corpus is a one-row-group file; repartition the copy
    // expansion so the scaled corpus is written as many files and every
    // downstream drill scan splits across cores at every scale
    Tables(spark, sfDir, "documents")
      .crossJoin(spark.range(copies).toDF("graft__copy"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        (col("doc_id") * copies + col("graft__copy")).as("doc_id"),
        when(col("graft__copy") === 0, col("text"))
          .otherwise(concat_ws(" ", expr(
            """transform(split(text, ' '),
              |  (w, j) -> CASE WHEN j % 3 = 0
              |    THEN concat(w, '_c', graft__copy) ELSE w END)""".stripMargin)))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$scaledDir/documents.parquet")

    // events scale by user population: each copy is a disjoint user
    // universe (ids offset per copy), so per-user session/funnel
    // structure is preserved verbatim while user counts grow N× —
    // the right workload shape for the sessionization family
    Tables(spark, sfDir, "events")
      .crossJoin(spark.range(copies).toDF("graft__copy"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        (col("event_id") * copies + col("graft__copy")).as("event_id"),
        col("ts"),
        (col("user_id") * copies + col("graft__copy")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$scaledDir/events.parquet")

    Tables(spark, sfDir, "embeddings")
      .crossJoin(spark.range(copies).toDF("graft__copy"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        (col("vec_id") * copies + col("graft__copy")).as("vec_id"),
        when(col("graft__copy") === 0, col("embedding"))
          .otherwise(expr(
            """transform(embedding, (x, j) ->
              |  CAST(x + 0.03d * (((graft__copy * 7 + j) % 5) - 2)
              |       AS FLOAT))""".stripMargin))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$scaledDir/embeddings.parquet")

    // customer scales by key-space densification: each copy re-keys into
    // an interleaved custkey range and the name is REGENERATED from the
    // new key in the generator's own format, so the linkage workload
    // (lev-1 digit-substitution neighbors within a nation block) grows
    // with row density exactly as a bigger generated table would — no
    // artificial cross-copy duplicate names.
    spark.read.parquet(s"$sfDir/customer.parquet")
      .crossJoin(spark.range(copies).toDF("graft__copy"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        (col("c_custkey") * copies + col("graft__copy")).as("c_custkey"),
        expr(s"concat('Customer#', lpad(CAST(c_custkey * $copies" +
          " + graft__copy AS STRING), 9, '0'))").as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$scaledDir/customer.parquet")

    scaledDir
  }
}
