package graft.streaming

import graft.core.TableId
import graft.pipeline.PipelineComposer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming runner: envelope stream → `foreachBatch` → composer.
  *
  * The micro-batch boundary supplies the reference's FlushEvent semantics
  * (SURVEY.md §2.3): all data of batch N is written before anything of batch
  * N+1, so a schema change applied between batches never interleaves with
  * in-flight rows of the old shape — the `SchemaOperator`/`SchemaCoordinator`
  * protocol (`schema/regular/SchemaOperator.java:145-243`) collapses to plain
  * driver code.
  *
  * Per-batch fixed cost: every Spark job a micro-batch runs is paid by every
  * commit, so the runner spends none on facts the driver already has. A
  * stream whose caller names exactly ONE source table (`tables`) hands each
  * batch straight to [[PipelineComposer.processBatch]] — no table-id
  * `distinct()` job — and pins it only when the composer reads that table's
  * envelope more than once ([[PipelineComposer.rereadsEnvelope]]). Streams
  * over several tables, or over tables the caller cannot name (test streams),
  * pin the batch and fan out through [[PipelineComposer.splitByTable]].
  */
object CdcStream {

  def start(
      envelopeStream: DataFrame,
      composer: PipelineComposer,
      queryName: String = "graft-cdc",
      checkpointDir: Option[String] = None,
      // ONE micro-batch then terminate (Trigger.Once) — the unit of turn in
      // the interleaved distributed drain, where partitions alternate
      // batches instead of each draining to completion
      singleBatch: Boolean = false,
      // the source tables the stream reads, when the caller knows them
      // (each ChangeSource serves exactly one table); empty = unknown
      tables: Seq[TableId] = Seq.empty): StreamingQuery = {
    val known = tables.distinct
    var b = envelopeStream.writeStream
      .queryName(queryName)
      .trigger(if (singleBatch) Trigger.Once() else Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // run identity = the streaming QUERY id (persisted in checkpoint
        // metadata, regenerated when a checkpoint is wiped or absent): batch
        // ids are only comparable within one checkpoint lineage. The path
        // alone would alias a wiped-and-recreated checkpoint dir and all
        // checkpoint-less runs.
        val runId = Option(batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId"))
          .getOrElse(checkpointDir.getOrElse(""))
        // pin the micro-batch whenever it has more than one reader: the
        // multi-table fan-out issues one distinct() pass plus one filter
        // per table, and over a multiplexed source (a union of N per-table
        // readers) each of those would re-evaluate the N-way union — O(N²)
        // source reads per batch without the cache. A single-table batch
        // with a single reader is read exactly once, so caching it would
        // only add a job's worth of block-manager writes.
        val pin = known.size != 1 || composer.rereadsEnvelope(known.head)
        if (pin) batch.persist()
        try
          PipelineComposer.splitByTable(batch, known).toSeq
            .sortBy(_._1.identifier)
            .foreach { case (tableId: TableId, env: DataFrame) =>
              composer.processBatch(tableId, env, batchId, runId)
            }
        finally if (pin) batch.unpersist()
      }
    checkpointDir.foreach(d => b = b.option("checkpointLocation", d))
    b.start()
  }
}
