package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Changelog → table-state materialization: the PK-upsert semantics of the
  * reference's `ValuesDatabase` (apply INSERT/UPDATE/REPLACE/DELETE to a
  * `Map[pk, row]`) and of every upsert sink.
  *
  * Spark-first design: instead of per-row map mutation, the latest event per
  * key is selected with `max_by(payload, seq)` — ONE hash shuffle with
  * map-side partial aggregation, no window sort, no driver collect. At 100 TB
  * this is the minimal-shuffle plan: AQE coalesces the post-shuffle partitions
  * and handles key skew.
  */
object Upsert {

  /** Key extraction works for DELETE rows too: the key lives in `before` when
    * `after` is null (`DataChangeEvent.java` before/after contract).
    */
  private def keyCol(k: String): Column =
    coalesce(col(s"${Envelope.AfterCol}.$k"), col(s"${Envelope.BeforeCol}.$k")).as(k)

  /** The shared per-key last-event aggregate: ONE `max_by(payload, seq)`
    * hash aggregate per key, after [[splitMovedKeys]]. Every materialize
    * variant derives from this single definition so tie-breaking and the
    * packed struct cannot drift between them.
    *
    * Plan-shape note (r18 optimization round, measured): the struct
    * aggregation buffer makes this a SortAggregate, and that is the RIGHT
    * plan under Spark's executor. The argmax-join alternative (hash-agg
    * `max(seq)` per key + join back) was implemented and measured on the
    * 1M-event B3 probe: the optimizer lifts `seq = maxseq` into the join
    * as an equi-key, so the payload re-shuffles on (key, seq) — a second
    * full-row exchange — and total CPU REGRESSED 3.7–4.5 → 5.3–6.7 s.
    * Spark's radix-sort on the long grouping prefix makes the two
    * aggregate sorts far cheaper than an extra payload shuffle. Reverted;
    * OPTIMIZATION_r18.md has the plan excerpts.
    *
    * Payload width (r19, guide §2.3 — narrower types through the exchange):
    * downstream only ever asks "was the final event a DELETE?", so the
    * aggregate payload carries that BOOLEAN instead of the op string — the
    * string compare runs once map-side per input row, and the exchange +
    * both aggregate sorts move ~16 fewer bytes per row. `op =!= "DELETE"`
    * and `!(op === "DELETE")` agree for every op value including null
    * (both null out → the row appears in neither split), so the split is
    * value-identical.
    */
  private def latestByKey(env: DataFrame, keyCols: Seq[String],
      retractMovedKeys: Boolean = true): DataFrame =
    (if (retractMovedKeys) splitMovedKeys(env, keyCols) else env)
      .groupBy(keyCols.map(keyCol): _*)
      .agg(max_by(
        struct((col(Envelope.OpCol) === "DELETE").as("__del"), col(Envelope.AfterCol)),
        col(Envelope.SeqCol)).as("__last"))

  /** A PK-changing UPDATE (a before key that differs from the after key)
    * is two changes, as Debezium emits them: a DELETE of the before key and
    * an upsert of the after key, both at the event's `seq`. Grouped by the
    * after key alone, the before key would keep its old row. One explode
    * splits such events; every other event passes through as one row. A
    * before image without its key (canal-json's `old` carries only the
    * changed columns) names no key to retract. A sink that keeps the before
    * key's row (the reference's values sink) asks [[withMaterialized]] not
    * to split. */
  private def splitMovedKeys(env: DataFrame, keyCols: Seq[String]): DataFrame = {
    val (op, before, after) = (Envelope.OpCol, Envelope.BeforeCol, Envelope.AfterCol)
    val moved = col(before).isNotNull && col(after).isNotNull &&
      keyCols.map(k => col(s"$before.$k").isNotNull).reduce(_ && _) &&
      keyCols.map(k => col(s"$before.$k") =!= col(s"$after.$k")).reduce(_ || _)
    val retract = "__retract"
    env.select(env.columns.map(col) :+ explode(
      when(moved, array(lit(true), lit(false))).otherwise(array(lit(false)))).as(retract): _*)
      .select(env.columns.map {
        case `op` => when(col(retract), lit("DELETE")).otherwise(col(op)).as(op)
        case `after` => when(col(retract), lit(null)).otherwise(col(after)).as(after)
        case c => col(c)
      }.toIndexedSeq: _*)
  }

  /** Split the aggregate into (surviving rows, deleted keys). */
  private def splitLatest(latest: DataFrame, keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val upserts = latest.filter(!col("__last.__del")).select(col("__last.after.*"))
    val deletes = latest.filter(col("__last.__del"))
      .select(keyCols.map(col).toIndexedSeq: _*)
    (upserts, deletes)
  }

  /** Materialize the final state of one table from its envelope changelog.
    *
    * @param env      envelope DataFrame (single table or pre-filtered)
    * @param keyCols  primary-key columns inside before/after
    * @return one row per surviving key, payload columns only, where the
    *         highest-`seq` event is not a DELETE
    */
  def materialize(env: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "upsert materialization requires primary keys")
    splitLatest(latestByKey(env, keyCols), keyCols)._1
  }

  /** Like [[materialize]] but also returns the keys whose final event was a
    * DELETE — what an external upsert sink needs to issue its deletes.
    * Pure plan builder (no caching): callers consuming BOTH frames should use
    * [[withMaterialized]] so the shared aggregate is computed once and the
    * cache is released afterwards.
    */
  def materializeWithDeletes(env: DataFrame, keyCols: Seq[String]): (DataFrame, DataFrame) = {
    require(keyCols.nonEmpty, "upsert materialization requires primary keys")
    splitLatest(latestByKey(env, keyCols), keyCols)
  }

  /** Bracket form for per-batch sinks: persists the shared per-key aggregate,
    * hands (upserts, deletes) to `use`, and unpersists afterwards so a
    * long-running stream never accumulates cached batch plans
    * (one `persist`/`unpersist` pair per micro-batch per routed table).
    */
  def withMaterialized[T](env: DataFrame, keyCols: Seq[String],
      retractMovedKeys: Boolean = true)(use: (DataFrame, DataFrame) => T): T = {
    require(keyCols.nonEmpty, "upsert materialization requires primary keys")
    val latest = latestByKey(env, keyCols, retractMovedKeys).persist()
    try {
      val (upserts, deletes) = splitLatest(latest, keyCols)
      use(upserts, deletes)
    } finally {
      latest.unpersist()
    }
  }

  /** Per-key ordered apply for sinks that need the full event sequence (not
    * just the final state): repartition by key, sort within partitions by seq.
    * Mirrors `RegularPrePartitionOperator.partitionBy:103` + FIFO delivery —
    * the SURVEY §7 "hard list" item (d).
    */
  def orderedForSink(env: DataFrame, keyCols: Seq[String], numPartitions: Int): DataFrame =
    env
      .repartition(numPartitions, keyCols.map(keyCol).toIndexedSeq: _*)
      .sortWithinPartitions(keyCols.map(keyCol) :+ col(Envelope.SeqCol): _*)
}
