package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq,
  BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's private[sql] Column ↔ Expression conversions
  * (Spark 4 split Column from Catalyst; first-party connectors use the
  * same classic.ExpressionUtils internally).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager recursive ColumnNode→Expression conversion. `expression`
    * returns a LAZY `ColumnNodeExpression` leaf for composite columns
    * built through the public functions API — its catalyst `children`
    * is empty, so tree traversals (e.g. collecting unresolved
    * attribute references) silently see nothing. This converter walks
    * the whole node tree up front.
    */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Analyze `cols` against `schema` and return fully resolved, bound
    * expressions suitable for interpreted `eval(InternalRow)` — the
    * row layout is exactly `schema`'s field order. Used by the
    * sequential cycle evaluator: the analyzer supplies function
    * resolution and type coercion so the evaluator never re-implements
    * Catalyst operator semantics. Throws on any unexpected plan shape
    * (the cycle resolution then reports failure, and the plan build
    * fails unless another exact resolution applies).
    */
  def bindForEval(spark: SparkSession, schema: StructType,
      cols: Seq[Column]): Seq[Expression] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val empty = cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[InternalRow], schema)
    val analyzed = empty.select(cols: _*).queryExecution.analyzed
    analyzed match {
      case p: Project =>
        val out = AttributeSeq(p.child.output)
        p.projectList.map {
          case a: Alias => BindReferences.bindReference(a.child, out)
          case e => BindReferences.bindReference(e: Expression, out)
        }
      case other => throw new IllegalStateException(
        s"bindForEval: unexpected analyzed plan ${other.nodeName}")
    }
  }

  /** Run `f` over the physical rows of `df` (its exact internal-row
    * layout) and wrap the result as a DataFrame of `out`. Partitioning
    * and within-partition order are preserved from `df`'s plan.
    */
  def mapInternal(df: Dataset[_], out: StructType)(
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd: RDD[InternalRow] =
      df.queryExecution.toRdd.mapPartitions(f)
    cs.internalCreateDataFrame(rdd, out)
  }
}
