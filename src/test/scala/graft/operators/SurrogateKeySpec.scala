package graft.operators

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SurrogateKeySpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  test("denseRowNumber equals a global row_number on a total ordering") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val data = (1 to 5000).map(i => (i.toLong, rng.nextInt(1000), rng.nextDouble()))
    // many input partitions, random order
    val df = data.toDF("id", "k", "v").repartition(13)

    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
    val actual = SurrogateKey.denseRowNumber(df, "rn", col("v").desc, col("id"))

    val e = expected.select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = actual.select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === e)
  }

  test("denseRowNumber is dense 1..N and deterministic across runs") {
    import spark.implicits._
    val df = (1 to 987).map(i => (i.toLong, (i * 37 % 100).toLong))
      .toDF("id", "k").repartition(7)
    def run() = SurrogateKey.denseRowNumber(df, "rn", col("k"), col("id"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val first = run()
    assert(first.map(_._2).sorted.toSeq === (1L to 987L))
    assert(run().toSeq === first.toSeq)
  }

  test("no single-partition global window appears in the plan") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, i % 10)).toDF("id", "k").repartition(5)
    val ranked = SurrogateKey.denseRowNumber(df, "rn", col("k"), col("id"))
    assert(ranked.collect().length === 2000)
    val plan = ranked.queryExecution.executedPlan
    // the data rows are numbered by no window at all; the one window
    // runs over the per-partition counts
    assert(!plan.toString.contains("Window [row_number()"))
    // the data rows cross one exchange, the range shuffle; the only
    // exchange keyed on the partition index carries the partial counts
    val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    val byPid = exchanges.filter(_.outputPartitioning match {
      case h: HashPartitioning => h.references.exists(_.name == "graft__pid")
      case _ => false
    })
    assert(byPid.nonEmpty && byPid.forall(_.child match {
      case WholeStageCodegenExec(a) => a.isInstanceOf[HashAggregateExec]
      case a => a.isInstanceOf[HashAggregateExec]
    }), byPid.mkString("\n"))
    assert(exchanges.count(_.outputPartitioning.isInstanceOf[RangePartitioning]) === 1)
  }
}
