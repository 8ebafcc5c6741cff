package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge.
  *
  * Spark 4 wraps columns in `ColumnNode`s; the converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This shim (the standard extension-library pattern:
  * a tiny object inside the `org.apache.spark.sql` namespace) re-exports
  * just the two conversions graft's native expressions need.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a hand-built logical plan (custom operators like
    * graft.plans.AsOfJoin) — `Dataset.ofRows` is `private[sql]`.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-exported alias for the `private[sql]` `AbstractDataType`, so
    * graft's native expressions can declare `inputTypes` (ExpectsInputTypes
    * analysis-time checks) from outside the sql package.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** `DataType.sameType` (nullability-insensitive equality) is
    * `private[sql]`; re-exported for structural input checks.
    */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** Free the storage behind an eager `localCheckpoint()` result NOW.
    * `Dataset.unpersist` only uncaches CacheManager entries (persist()),
    * never the RDD-level blocks a local checkpoint holds — those
    * otherwise wait for the ContextCleaner to GC the orphaned RDD.
    * No-op when `df` is not directly a checkpoint result (the plan must
    * be the bare `LogicalRDD`, not a projection over it).
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `df` with each v1 streaming source (the file source) bound to a
    * clone of its session that has `confs` set. Such a source reads its
    * own session's conf live, at every batch (the file source lists each
    * batch's files through it), not the snapshot its query takes at
    * `start()`; the clone keeps `confs` off the caller's session.
    */
  def withSourceConfs(df: org.apache.spark.sql.DataFrame,
      confs: Map[String, String]): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    ofRows(df.sparkSession, df.queryExecution.analyzed.transform {
      case r: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        r.copy(dataSource = r.dataSource.copy(sparkSession = session))
    })
  }
}
