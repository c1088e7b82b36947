package org.apache.spark.sql.graftperf

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.classic.ExpressionColumnNode

/** The aggregate that one SQL query resolves to under the session's
 *  current settings, as a Column over column names. graft's SQL functions
 *  read their sketch algorithm and size from the session when they are
 *  resolved, so this is how aggregates resolved under different settings
 *  share one query. Lives under `org.apache.spark.sql` because a Column
 *  over a Catalyst expression is package-private there. */
object ResolvedAggregate {
  def apply(spark: SparkSession, sql: String): Column = {
    val agg = spark.sql(sql).queryExecution.analyzed.collectFirst {
      case a: Aggregate => a.aggregateExpressions.head
    }.getOrElse(throw new IllegalArgumentException(s"no aggregate in: $sql"))
    new Column(ExpressionColumnNode(agg.transform {
      case a: AttributeReference => UnresolvedAttribute(a.name)
    }))
  }
}
