package org.apache.spark {

  /** Lets the benchmark's tracer wait until every listener event posted
    * so far has been delivered, so counters are complete before a span's
    * numbers are read. The bus is package-private to Spark.
    */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The `QueryExecution` id behind a finished SQL execution: links what
    * a `QueryExecutionListener` sees to the execution id its jobs carry.
    */
  object PerfbenchSql {
    def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
  }
}
