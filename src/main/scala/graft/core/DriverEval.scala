package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences,
  Expression, InterpretedMutableProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType

/** What the operators' driver-served paths share: the Spark plan's own
  * Catalyst expressions, bound for interpreted evaluation on driver-held
  * rows, and the local relation that hands the answer back. A path built
  * from these computes what the distributed plan computes, with one
  * definition of the math, and planning over its answer runs no job. */
object DriverEval {

  /** Expressions bound to input positions, with their output `schema`;
    * `apply` evaluates them all, interpreted, on one input row, through
    * one projection that evaluates a subexpression they share (such as
    * the intersection in Jaccard's numerator and denominator) once per
    * row. The returned row is reused by the next call: copy a row that
    * is kept. */
  final class Bound(val exprs: Seq[Expression], val schema: StructType) {
    private val projection = new InterpretedMutableProjection(exprs)
    def apply(row: InternalRow): InternalRow = projection(row)
  }

  /** `cols` over a relation of `schema`, resolved by the analyzer as in a
    * Spark plan (the same coercions) and bound to the schema's positions,
    * for interpreted evaluation on the driver. */
  def bound(spark: SparkSession, schema: StructType, cols: Column*): Bound = {
    val df = localFrame(spark, Array.empty, schema).select(cols: _*)
    val plan = df.queryExecution.analyzed.asInstanceOf[Project]
    new Bound(plan.projectList.map(e => BindReferences.bindReference(
      e: Expression, AttributeSeq(plan.child.output))), df.schema)
  }

  /** Driver-side rows as a local relation: planning over it runs no job. */
  def localFrame(spark: SparkSession, rows: Array[Row],
                 schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
