// Spark keeps the two things the trace needs package-private, so these
// accessors live in Spark's own packages.

package org.apache.spark {
  object PerfBenchBridge {
    /** Block until the listener bus has handled every posted event. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  object PerfBenchSqlBridge {
    /** The finished query of a SQL execution in any session, as the
      * per-session QueryExecutionListener bus would deliver it: name,
      * query and duration; None when it failed or carries no query. */
    def finished(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution, Long)] =
      if (e.qe == null || e.executionFailure.exists(_ != null)) None
      else Some((e.executionName.getOrElse(""), e.qe, e.duration))
  }
}
