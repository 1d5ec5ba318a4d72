package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ catalyst-Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils). Spark 4 hides the
  * constructors third-party codegen expressions need for the DataFrame
  * API; this shim lives in the org.apache.spark.sql package solely to
  * re-export those two calls — the standard extension-library pattern. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column→Expression conversion. [[expression]] wraps the Column
    * node lazily (ColumnNodeExpression), which only unwraps when the tree
    * passes through a classic Dataset operation — a tree returned from a
    * FunctionRegistry builder never does, and dies at codegen. This runs
    * the real converter immediately, yielding an (unresolved) catalyst
    * tree the analyzer handles like any parsed SQL. */
  def toCatalyst(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Wrap an already-persisted RDD[InternalRow] as a fresh DataFrame whose
    * logical plan is a bare LogicalRDD — i.e. cut the SQL plan tree at a
    * materialization point WITHOUT cutting the RDD lineage (what
    * `Dataset.localCheckpoint` does, minus the lineage truncation that
    * makes block loss unrecoverable). `internalCreateDataFrame` is
    * private[sql], hence the shim. */
  def fromInternalRdd(spark: SparkSession,
                      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Block until every listener has seen every event posted so far
    * (`listenerBus` is private[spark]): a profile reads its listener's
    * counters after this instead of sleeping and hoping. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
