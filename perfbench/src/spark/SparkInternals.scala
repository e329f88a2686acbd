// Two package-private Spark hooks the tracer needs; each is one call.
package org.apache.spark {
  /** Waits until every posted listener event has been delivered, so
    * counters read afterwards are complete. */
  object ListenerBusDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** Planning time of a finished SQL execution: the sum of its
    * `QueryExecution.tracker` phases (analysis, optimization, planning). */
  object PlanningTime {
    def ms(e: SparkListenerSQLExecutionEnd): Long =
      Option(e.qe).map(_.tracker.phases.valuesIterator.map(_.durationMs).sum).getOrElse(0L)
  }
}
