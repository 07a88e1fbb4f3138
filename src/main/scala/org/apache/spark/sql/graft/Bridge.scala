package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native expressions.
  *
  * `ExpressionUtils.column` is private[sql]; a package-nested object is the
  * established pattern for libraries shipping custom Catalyst expressions
  * (cf. the public Qbeast `DatasetFactory` / Spark package objects).
  * Everything else in graft stays in the `graft.*` namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an already-analyzed logical plan — the side-query
    * escape hatch an optimizer rule needs to execute a bounded dim
    * lookup ([[graft.plans.DfpRewrite]]). `Dataset.ofRows` is
    * private[sql]; same bridging rationale as [[column]]. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Non-blocking read of an Observation's metrics — empty when no action
    * has completed. (`Observation.get` blocks forever in that case, and
    * 4.1.2's `getOrEmpty` NPEs on its own null-row default instead of
    * returning empty — `getRowOrEmpty.getOrElse(null).schema`.) */
  def observedMetrics(obs: org.apache.spark.sql.Observation): Map[String, Any] =
    try obs.getOrEmpty
    catch { case _: NullPointerException => Map.empty }

  /** The running context's own conf, not the copy `getConf` returns: a
    * setting made on it reaches the SQL conf of session state built on
    * the context afterwards. None while no context runs. Both
    * `SparkContext.getActive` and `conf` are private[spark]. */
  def activeContextConf: Option[org.apache.spark.SparkConf] =
    org.apache.spark.SparkContext.getActive.map(_.conf)

  /** Generated classes compiled in this JVM so far (Spark's
    * `CodegenMetrics`, private[spark]) and their total compile time in
    * nanoseconds. The time is read only once a class has been compiled:
    * the first touch of `CodeGenerator` builds its cache, sized from the
    * SQL conf of whichever thread touches it. */
  def codegenCompiles: (Long, Long) = {
    val n = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (n, if (n == 0) 0L
        else org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }
}
