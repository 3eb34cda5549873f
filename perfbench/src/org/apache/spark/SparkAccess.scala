// The listener bus and an execution's QueryExecution are package-private
// to Spark; the benchmark's tracer reaches them from here.
package org.apache.spark {
  object PerfbenchBus {
    /** Block until every event posted so far has been delivered. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }

  package sql {
    object PerfbenchSql {
      def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
          : Option[execution.QueryExecution] = Option(e.qe)
    }
  }
}
