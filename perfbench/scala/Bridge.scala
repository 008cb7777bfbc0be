package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reaches the query execution a SQL-execution-end event carries, which
  * Spark keeps package-private, for its planning-phase timestamps. */
object Bridge {
  /** phase -> (start ms, end ms) of the execution's QueryPlanningTracker. */
  def phases(e: SparkListenerSQLExecutionEnd): Map[String, (Long, Long)] =
    Option(e.qe).map(_.tracker.phases.map { case (k, p) =>
      k -> ((p.startTimeMs, p.endTimeMs))
    }).getOrElse(Map.empty)
}
