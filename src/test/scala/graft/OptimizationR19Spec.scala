package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-19 optimization invariants (OPTIMIZATION_r19.md) so a later
  * refactor cannot silently regress the shapes the round measured:
  *  - NaiveBayes scoring probes the model ONCE per token occurrence (the
  *    pivoted token → map(label → ll) join), not once per token × label,
  *    and predicts exactly what the per-(label, token) join predicted;
  *  - ANN cosine paths carry hoisted per-row norms and stay bit-identical
  *    to the unhoisted `dot / (norm × norm)` form;
  *  - the Upsert aggregate payload carries the DELETE flag as a BOOLEAN,
  *    not the op string, and the op-string semantics are preserved;
  *  - q3/q5 sum DECIMAL (not unscaled longs): their n_name groups grow with
  *    SF and the long form wraps silently near the 100 TB design point;
  *    q_topk/q10 sum unscaled longs only per order/customer key.
  */
class OptimizationR19Spec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("NB predict joins the model once per token, and matches the per-label-join scores") {
    val labeled = Seq(
      (0L, "en", "the cat sat"), (2L, "en", "the dog sat"),
      (4L, "fr", "le chat assis"), (6L, "fr", "le chien assis"),
      (8L, "de", "")).toDF("id", "lang", "text")
    val (model, stats) = graft.textops.NaiveBayes.train(labeled, "lang", "text")
    val cands = Seq((0L, "the cat sat"), (1L, "le chat sat"), (2L, ""),
      (3L, "unseen words only"), (4L, "chien chien the")).toDF("id", "text")
    val got = graft.textops.NaiveBayes.predict(cands, "id", "text", model, stats)

    // plan pin: ONE model join keyed on the token alone — no label in the
    // join keys, so the broadcast probe count is |occurrences|, not
    // |occurrences| × |labels|
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("mw"), s"expected the pivoted token-model join:\n$plan")
    assert(!plan.contains("mlabel"),
      s"the per-(label, token) model join shape must be gone:\n$plan")

    // value pin: identical predictions to the r18 per-(label, token) join
    // form, replayed inline (same train output, same argmax total order)
    val occ = cands.select(col("id"),
      explode_outer(graft.textops.PerplexityLm.tokens(col("text"))).as("w"))
    val m = model.select(col("label").as("mlabel"), col("w").as("mw"), col("ll"))
    val ref = occ
      .crossJoin(broadcast(stats))
      .join(m, col("label") === col("mlabel") && col("w") === col("mw"), "left")
      .select(col("id"), col("label"), col("prior"),
        when(col("w").isNull, lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)"))
          .otherwise(coalesce(col("ll"), col("llUnseen"))).as("term"))
      .groupBy("id", "label")
      .agg(first(col("prior")).as("prior"), sum(col("term")).as("lsum"))
      .select(col("id"), col("label"), (col("prior") + col("lsum")).as("score"))
      .groupBy("id")
      .agg(min_by(col("label"), struct((-col("score")).as("ns"), col("label"))).as("pred"))
    assert(got.orderBy("id").collect().toSeq == ref.orderBy("id").collect().toSeq)
  }

  test("ANN brute-force cosine with hoisted norms is bit-identical to the unhoisted form") {
    val corpus = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat / 13f + 0.01f)))
      .toDF("cid0", "cvec0")
    val queries = (0L until 5L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 17 + d * 3) % 11).toFloat / 11f + 0.01f)))
      .toDF("qid0", "qvec0")
    val got = graft.similarity.Ann.bruteForceTopK(
      corpus, "cid0", "cvec0", queries, "qid0", "qvec0", k = 3).collect()
    // unhoisted reference: dot / (norm(c) * norm(q)) per pair, same
    // round(·, 6) finale — values must match EXACTLY (not approximately)
    import graft.functions.VectorFunctions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
    val ref = corpus.select(col("cid0").as("cid"), col("cvec0").as("cvec"))
      .join(broadcast(queries.select(col("qid0").as("qid"), col("qvec0").as("qvec"))))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosine(col("cvec"), col("qvec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("cid"), round(col("cosine"), 6).as("cosine"), col("rank"))
      .collect()
    assert(got.map(_.toSeq).toSet == ref.map(_.toSeq).toSet)
  }

  test("Upsert aggregate payload carries a boolean delete flag, op semantics preserved") {
    import graft.operators.{Envelope, Upsert}
    val env = spark.range(10).select(
      lit("app.t").as(Envelope.TableIdCol),
      when(col("id") % 3 === 0, "DELETE")
        .when(col("id") % 3 === 1, "INSERT").otherwise("UPDATE").as(Envelope.OpCol),
      lit(null).cast("struct<k:bigint,v:bigint>").as(Envelope.BeforeCol),
      struct((col("id") % 4).as("k"), col("id").as("v")).as(Envelope.AfterCol),
      col("id").as(Envelope.SeqCol),
      map().cast("map<string,string>").as(Envelope.MetaCol))
    val (ups, dels) = Upsert.materializeWithDeletes(env, Seq("k"))
    // keys 0..3; last events: k=0 seq 8 UPDATE, k=1 seq 9 DELETE,
    // k=2 seq 6 DELETE, k=3 seq 7 INSERT
    assert(ups.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 8L), (3L, 7L)))
    assert(dels.orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val plan = ups.queryExecution.executedPlan.toString
    assert(plan.contains("__del"),
      s"aggregate payload must carry the boolean delete flag:\n$plan")
    assert(!plan.contains("max_by(struct(op,"),
      s"the op string must not ride the aggregate payload:\n$plan")
  }

  test("readChangesBetween pins the write schema when no schema change is in range") {
    import graft.core._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("opt19_feed").toString
    val t = new graft.sinks.LakehouseTable(spark, dir)
    t.create(TableSchema(StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType))), primaryKeys = Seq.empty), buckets = 2)
    (0 until 3).foreach(i =>
      t.append(spark.range(10L * i, 10L * (i + 1)).coalesce(1)
        .select(col("id").as("k"), (col("id") * 2).as("v"))))
    // no Meta in range → the read schema is pinned from the log: no
    // mergeSchema footer-inference job (the r19 b6 fix), identical rows.
    // The inference job ran at DataFrame CONSTRUCTION time, so the pin is
    // "construction launches zero Spark jobs" (same invariant style as the
    // r18 minhash laziness pin).
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val fast = t.readChangesBetween(0, 3)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore,
      "pinned-schema change-feed construction must not run a schema-inference job")
    assert(fast.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 30L).map(i => (i, 2 * i)))
    // schema evolution IN range → fallback path still coerces old files to
    // the evolved schema (new column nulled for pre-evolution rows)
    t.updateMeta(TableSchema(
      StructType(t.snapshot().schema.struct.fields :+ StructField("w", LongType)),
      primaryKeys = Seq.empty))
    t.append(spark.range(30L, 40L).coalesce(1)
      .select(col("id").as("k"), (col("id") * 2).as("v"), (col("id") * 3).as("w")))
    val evolved = t.readChangesBetween(0, 5)
    assert(evolved.count() == 40)
    assert(evolved.filter(col("k") < 30 && col("w").isNull).count() == 30)
    assert(evolved.filter(col("k") >= 30 && col("w") === col("k") * 3).count() == 10)
    // cursor refusal semantics unchanged: reading from an expired version
    // still fails loudly (r19 touched only the read plan, not the cursor)
    t.expireSnapshots(keepLast = 2)
    val err = intercept[IllegalArgumentException](t.readChangesBetween(0, 5))
    assert(err.getMessage.contains("expired"))
  }

  test("a checkpoint records when its meta landed, so reads past it stay pinned") {
    import graft.core._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("opt19_ckpt").toString
    val t = new graft.sinks.LakehouseTable(spark, dir)
    t.create(TableSchema(StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType))), primaryKeys = Seq.empty), buckets = 2)
    (1L to 12L).foreach(i => t.append(spark.range(i, i + 1).select(col("id").as("k"), col("id").as("v"))))
    val ckpt = Paths.get(dir, "_log", f"${10L}%020d.checkpoint.json")
    assert(Files.exists(ckpt))
    // the meta landed at version 0 (create), with no schema change since
    assert(t.snapshot().metaVer == 0L)
    // every file was written under that meta: read() construction pins the
    // schema and runs no footer schema-inference job
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val df = t.read()
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore, "read() past a checkpoint ran a schema-inference job")
    assert(df.orderBy("k").as[(Long, Long)].collect().toSeq == (1L to 12L).map(i => (i, i)))
    // a checkpoint written before the field falls back to its own version
    val lines = Files.readAllLines(ckpt)
    lines.set(0, lines.get(0).replaceAll(",?\"metaVer\":\\d+", ""))
    Files.write(ckpt, lines)
    assert(t.snapshot().metaVer == 10L)
    assert(t.read().count() == 12)
  }

  test("q3/q5 revenue aggregates sum DECIMAL, not unscaled longs (overflow headroom)") {
    // the unscaled-long form reaches ~93% of Long.MaxValue per n_name group
    // at SF≈100k and wraps silently past it; the decimal buffers overflow
    // ~9 orders of magnitude later. VERDICT r18 "what's wrong" #1.
    val sf = "/root/testdata/sf0.001"
    Seq("q3_join", "q5_local_supplier").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString
      assert(!plan.contains("UnscaledValue"),
        s"$q must aggregate decimals, not unscaled longs:\n$plan")
    }
    // q_topk/q10 keep the long fast path: per-group row counts are bounded
    // by order/customer cardinality (safe by ~9 orders of magnitude). That
    // bound holds only while the unscaled sum groups by that key, so the
    // grouping keys are pinned too.
    def unscaledGroupings(q: String): Seq[Seq[String]] = {
      import org.apache.spark.sql.catalyst.expressions.{NamedExpression, UnscaledValue}
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.collect {
        case a: Aggregate
            if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[UnscaledValue])) =>
          a.groupingExpressions.map {
            case n: NamedExpression => n.name
            case e => e.sql
          }
      }
    }
    assert(unscaledGroupings("q_topk") == Seq(Seq("l_orderkey")))
    assert(unscaledGroupings("q10_returned") ==
      Seq(Seq("c_custkey", "c_name", "c_acctbal", "n_name")))
  }
}
