package org.apache.spark.sql

/** The two `private[sql]` doors graft's streaming code needs.
  *
  * [[asStreaming]]: an out-of-tree DSv1 streaming source's
  * `Source.getBatch` must return a DataFrame with `isStreaming = true`.
  *
  * HOW matters for performance (r19, measured): the r18 form materialized
  * the batch plan to an RDD (`internalCreateDataFrame(df.queryExecution
  * .toRdd, …)`), which erased the parquet relation from the logical plan —
  * every micro-batch consumer saw `Scan ExistingRDD` and lost column
  * pruning, filter pushdown, and the count fast path, decoding every column
  * of every row per batch (B6 probe: 4.73 task-CPU-s per drain vs 0.90 for
  * the identical reads as batch queries). The fix is what Spark's own
  * `FileStreamSource` does: keep the analyzed batch plan and flag its
  * relation LEAVES as streaming (`LogicalRelation(isStreaming = true)`), so
  * the optimizer still sees the file scan per batch.
  *
  * The flag is applied only to a plan whose ONE leaf is a file relation —
  * the single-scan commit-range read. Flagging both sides of, say, a join
  * of two relations would make the streaming planner treat it as a
  * stream-stream join. Every other plan (no relation leaf, as in the empty
  * batch's `LocalRelation`, or several leaves) falls back to the RDD wrap:
  * correct for any plan, only slower where it hides a file scan.
  *
  * [[inSession]]: a `foreachBatch` micro-batch arrives bound to the clone
  * of the session that each query start makes. The executor gives that
  * clone's session id its own class loader, and Spark 4.1 caches generated
  * classes per class loader, so work run on the batch as given recompiles
  * every whole-stage class once per query start. Rebinding the batch to
  * the session that built the stream keeps one class loader across
  * starts.
  */
object GraftStreamingBridge {

  /** Re-flag a batch DataFrame as streaming WITHOUT severing its logical
    * plan. Execution stays lazy either way; offsets/cursor semantics are
    * untouched (this wraps only the already-planned commit-range read). */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val analyzed = df.queryExecution.analyzed
    analyzed.collectLeaves() match {
      case Seq(leaf: LogicalRelation) if !leaf.isStreaming =>
        classic.Dataset.ofRows(spark, analyzed.transform {
          case lr: LogicalRelation => lr.copy(isStreaming = true)
        })
      case _ =>
        spark.internalCreateDataFrame(
          df.queryExecution.toRdd, df.schema, isStreaming = true)
    }
  }

  /** The same micro-batch, bound to `session`. `ForeachBatchSink` already
    * wraps the batch as a `LogicalRDD` over the stream's RDD, so the plan
    * is reused as is: nothing is re-planned, and the source is not read
    * again. */
  def inSession(batch: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(
      session.asInstanceOf[classic.SparkSession], batch.queryExecution.logical)
}
