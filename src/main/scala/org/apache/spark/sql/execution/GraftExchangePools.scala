package org.apache.spark.sql.execution

import java.util.concurrent.{ThreadPoolExecutor, TimeUnit}

import scala.concurrent.ExecutionContextExecutorService

import org.apache.spark.sql.execution.adaptive.{QueryStagePool, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Compile-time bridge to the six JVM-wide driver pools of Spark's
  * exchange, result-stage and subquery operators and of the adaptive
  * plan's query-stage creation (their `executionContext` values are
  * `private[execution]` or `private[adaptive]`). Each pool is a
  * `ThreadUtils.newDaemonCachedThreadPool`: core size equal to its cap,
  * an unbounded queue and core threads that time out after 60 s idle.
  * `graft.Sessions.local` shortens that timeout; the caps stay Spark's.
  */
object GraftExchangePools {

  /** The six pools, each named by its threads' name prefix. Throws if
    * one is not a `ThreadPoolExecutor` whose core threads time out —
    * a Spark that builds them differently must fail here, not keep its
    * idle threads unnoticed. */
  def pools: Seq[(String, ThreadPoolExecutor)] = Seq(
    "broadcast-exchange" -> BroadcastExchangeExec.executionContext,
    "shuffle-exchange" -> ShuffleExchangeExec.executionContext,
    "ResultQueryStageExecution" -> ResultQueryStageExec.executionContext,
    "subquery" -> SubqueryExec.executionContext,
    "dynamicpruning" -> SubqueryBroadcastExec.executionContext,
    "QueryStageCreator" -> QueryStagePool.executionContext
  ).map { case (name, ec) => name -> threadPool(name, ec) }

  /** Let every pool thread exit once it has been idle for `ms`. */
  def setKeepAlive(ms: Long): Unit =
    pools.foreach { case (_, p) => p.setKeepAliveTime(ms, TimeUnit.MILLISECONDS) }

  // `ExecutionContext.fromExecutorService` wraps the pool in a
  // `scala.concurrent`-private class whose `executor` member is public
  // on the JVM
  private def threadPool(
      name: String, ec: ExecutionContextExecutorService): ThreadPoolExecutor = {
    val executor =
      try ec.getClass.getMethod("executor").invoke(ec)
      catch {
        case e: ReflectiveOperationException =>
          throw new IllegalStateException(
            s"the $name pool is not reachable through ${ec.getClass.getName}", e)
      }
    executor match {
      case p: ThreadPoolExecutor if p.allowsCoreThreadTimeOut => p
      case other =>
        throw new IllegalStateException(
          s"the $name pool is not a ThreadPoolExecutor whose core threads " +
            s"time out: ${other.getClass.getName}")
    }
  }
}

package adaptive {
  /** `AdaptiveSparkPlanExec.executionContext` is `private[adaptive]`. */
  private[execution] object QueryStagePool {
    def executionContext: ExecutionContextExecutorService =
      AdaptiveSparkPlanExec.executionContext
  }
}
