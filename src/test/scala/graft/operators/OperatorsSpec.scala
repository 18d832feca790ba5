package graft.operators

import graft.SparkTestBase
import graft.core.TableId
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EnvelopeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def changelog() = {
    val df = Seq(
      (1L, 1L, "INSERT", "a", 10.0),
      (2L, 1L, "UPDATE", "a2", 11.0),
      (3L, 2L, "INSERT", "b", 20.0),
      (4L, 2L, "DELETE", "b", 20.0),
      (5L, 3L, "INSERT", "c", 30.0)
    ).toDF("seq0", "id", "op0", "name", "value")
    Envelope.fromChangelog(df, TableId.parse("db.t"), col("op0"), col("seq0"),
      Seq("id", "name", "value"))
  }

  test("fromChangelog populates before/after per op contract") {
    val env = changelog().cache()
    assert(env.filter($"op" === "INSERT" && $"before".isNotNull).count() == 0)
    assert(env.filter($"op" === "DELETE" && $"after".isNotNull).count() == 0)
    assert(env.filter($"op" === "UPDATE")
      .select($"before.name", $"after.name").as[(String, String)].head() == ("a2", "a2"))
  }

  test("softDelete rewrites DELETE into INSERT of before-image") {
    val out = Envelope.softDelete(changelog())
    assert(out.filter($"op" === "DELETE").count() == 0)
    val resurrect = out.filter($"seq" === 4L).select($"op", $"after.name").head()
    assert(resurrect.getString(0) == "INSERT" && resurrect.getString(1) == "b")
  }

  test("upsert materializer applies insert/update/delete (ValuesDatabase oracle)") {
    val state = Upsert.materialize(changelog(), Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(state == Seq((1L, "a2", 11.0), (3L, "c", 30.0)))
  }

  test("a PK-changing UPDATE retracts its before key; a before image without its key does not") {
    val env = Envelope.fromChangelog(Seq(
        (1L, 1L, "INSERT", "a"), (2L, 2L, "INSERT", "b"),
        (3L, 1L, "UPDATE", "a2"), (4L, 20L, "UPDATE", "b2")
      ).toDF("seq0", "id", "op0", "name"),
      TableId.parse("db.t"), col("op0"), col("seq0"), Seq("id", "name"))
      // seq 3's before image lacks the key (canal-json's `old`); seq 4 moves 2 -> 20
      .withColumn("before",
        when($"seq" === 3L, $"before".withField("id", lit(null).cast("long")))
          .when($"seq" === 4L, $"before".withField("id", lit(2L)))
          .otherwise($"before"))
    val (upserts, deletes) = Upsert.materializeWithDeletes(env, Seq("id"))
    assert(upserts.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a2"), (20L, "b2")))
    assert(deletes.as[Option[Long]].collect().toSeq == Seq(Some(2L)))
  }
}

class TransformOpSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val rows = Seq((1, "alice", 10.5), (2, "bob", 20.0), (3, "carol", 7.25))

  test("projection with wildcard and computed column") {
    val df = rows.toDF("id", "name", "bal")
    val rule = TransformRule("db.t", projection = Some("*, UPPER(name) AS uname"))
    val out = TransformOp.applyToRows(df, rule)
    assert(out.columns.toSeq == Seq("id", "name", "bal", "uname"))
    assert(out.filter($"id" === 1).select($"uname").head().getString(0) == "ALICE")
  }

  test("projection REDEFINING an existing column evaluates the expression") {
    // `UPPER(name) AS name` shadows a source column: the projection must
    // return the computed value, not silently pass the original through
    // (the envelope twin EnvelopeTransform.projectImage always evaluates)
    val df = rows.toDF("id", "name", "bal")
    val rule = TransformRule("db.t", projection = Some("id, UPPER(name) AS name"))
    val out = TransformOp.applyToRows(df, rule)
    assert(out.columns.toSeq == Seq("id", "name"))
    assert(out.filter($"id" === 1).select($"name").head().getString(0) == "ALICE")
  }

  test("filter sees REDEFINED columns post-projection, uniformly with computed ones") {
    // `UPPER(name) AS name` redefines a source column; the filter must
    // observe the redefined value (the computed-columns-visible-to-filter
    // contract), not the pre-projection original — a filter on `name`
    // seeing 'alice' while the projection emits 'ALICE' would pass rows
    // the projected output then contradicts
    val df = rows.toDF("id", "name", "bal")
    val rule = TransformRule("db.t",
      projection = Some("id, UPPER(name) AS name"),
      filter = Some("name = 'ALICE'"))
    val out = TransformOp.applyToRows(df, rule)
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "ALICE")))
  }

  test("redefinition is applied ONCE, and sibling expressions see the ORIGINAL input") {
    // all projection expressions evaluate against the input record: after
    // `bal + 1 AS bal`, the output is bal+1 (never double-applied through
    // the filter-visible extended frame), and `bal AS bal0` alongside it
    // still reads the original value
    val df = rows.toDF("id", "name", "bal")
    val rule = TransformRule("db.t",
      projection = Some("id, bal + 1 AS bal, bal AS bal0"),
      filter = Some("bal > 8")) // post-projection: 11.5, 21.0, 8.25 all pass
    val out = TransformOp.applyToRows(df, rule)
    val got = out.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set((1, 11.5, 10.5), (2, 21.0, 20.0), (3, 8.25, 7.25)))
  }

  test("NON-ALIASED sibling expressions also see the ORIGINAL input, not redefinitions") {
    // `bal + 1 AS bal, bal * 2` — the non-aliased expression must evaluate
    // against the input record like its aliased siblings (the reference
    // evaluates every projection expression against the input record):
    // (bal+1)*2 would be silent wrong data
    val df = rows.toDF("id", "name", "bal")
    val rule = TransformRule("db.t",
      projection = Some("id, bal + 1 AS bal, bal * 2"))
    val out = TransformOp.applyToRows(df, rule)
    assert(out.columns.toSeq == Seq("id", "bal", "bal * 2"))
    val got = out.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set((1, 11.5, 21.0), (2, 21.0, 40.0), (3, 8.25, 14.5)),
      s"non-aliased `bal * 2` must read the ORIGINAL bal; got $got")
  }

  test("filter sees computed columns (PostTransformOperator semantics)") {
    val df = rows.toDF("id", "name", "bal")
    val rule = TransformRule(
      "db.t",
      projection = Some("id, bal * 2 AS dbal"),
      filter = Some("dbal > 20"))
    val out = TransformOp.applyToRows(df, rule)
    assert(out.columns.toSeq == Seq("id", "dbal"))
    assert(out.select($"id").as[Int].collect().toSet == Set(1, 2))
  }

  test("filter folds against POST-shading types, not the raw input's") {
    // `*, CAST(col1 AS INT) AS col1` on a BIGINT col1 changes the boxed
    // class the filter's `col1 = 3` compares — the reference evaluates the
    // filter on the projected row, so the Integer-vs-Integer comparison is
    // LIVE; folding from the pre-projection Long type silently drops rows
    val df = Seq((1L, "a"), (3L, "b")).toDF("col1", "name")
    val rule = TransformRule("db.t",
      projection = Some(graft.functions.Dialect.translate("*, CAST(col1 AS INT) AS col1")),
      filter = Some("col1 = 3"))
    val out = TransformOp.applyToRows(df, rule)
    assert(out.select($"name").as[String].collect().toSeq == Seq("b"),
      "shaded INT col1 = 3 must keep the matching row")
    // and the UN-shaded sibling still folds: BIGINT col1 = 3 is Long-vs-Integer
    val folded = TransformOp.applyToRows(df,
      TransformRule("db.t", projection = Some("*"), filter = Some("col1 = 3")))
    assert(folded.count() == 0)
  }

  test("kept equalities are TWO-valued like valueEquals (null -> false, <> -> true)") {
    // SystemFunctionUtils.valueEquals:755 returns false on a null operand
    // and <> compiles to !valueEquals — a materialized boolean projection
    // column must read false/true, not SQL NULL
    val df = Seq(("1", "x"), ("2", null)).toDF("id", "name")
    val rule = TransformRule("db.t",
      projection = Some("id, name = 'x' AS eq, name <> 'x' AS ne"))
    val out = TransformOp.applyToRows(df, rule).orderBy("id").collect()
    assert(out(0).getBoolean(1) && !out(0).getBoolean(2))
    assert(!out(1).isNullAt(1) && !out(1).getBoolean(1), "null = 'x' must be false")
    assert(!out(1).isNullAt(2) && out(1).getBoolean(2), "null <> 'x' must be true")
  }

  test("variadic UDF dispatches by call-site arity (FormatFunctionClass)") {
    graft.functions.UdfRegistry.register(spark,
      new graft.functions.udfexamples.FormatFunctionClass)
    val df = Seq(("1", "alice")).toDF("id", "name")
    val rule = TransformRule("db.t", projection =
      Some("id, format('%s!', name) AS two, format('from %s to %s is %s', name, 'z', 'lie') AS four"))
    val r = TransformOp.applyToRows(df, rule).head()
    assert(r.getString(1) == "alice!")
    assert(r.getString(2) == "from alice to z is lie")
  }

  test("metadata columns usable in projection and filter") {
    val df = rows.toDF("id", "name", "bal")
    val rule = TransformRule(
      "db.t",
      projection = Some("id, __table_name__ AS tbl"),
      filter = Some("__table_name__ = 't'"))
    val out = TransformOp.applyToRows(df, rule, Some(TableId.parse("db.t")))
    assert(out.count() == 3)
    assert(out.select($"tbl").distinct().head().getString(0) == "t")
  }

  test("a rule without a projection keeps a dashed column") {
    // no projection is `*`: a dashed name must expand backquoted, or the
    // parser reads `dash-col` as the subtraction dash - col
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "dash-col")
    val out = TransformOp.applyToRows(df, TransformRule("db.t", filter = Some("id > 1")))
    assert(out.columns.toSeq == Seq("id", "dash-col"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b")))
  }

  test("splitProjection respects parens and quotes") {
    assert(TransformOp.splitProjection("a, CONCAT(b, ',', c) AS x, 'y,z' AS w") ==
      Seq("a", "CONCAT(b, ',', c) AS x", "'y,z' AS w"))
  }

  test("metaKeyColumns skips string literals and backquoted ALIASES") {
    // a backquoted alias names an OUTPUT column; a backtick inside a string
    // literal is data — neither is a source-metadata read
    val rule = TransformRule("db.t",
      projection = Some("id, UPPER(name) AS `my-col`, '`tick`' AS lit, `op_ts`"),
      filter = Some("`shard-id` > 0"))
    assert(TransformOp.metaKeyColumns(rule, Seq("id", "name")).sorted ==
      Seq("op_ts", "shard-id"))
  }
}

class TableIdRouterSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // scenarios mirror flink-cdc-runtime/src/test/.../TableIdRouterTest.java
  test("no rule routes to itself") {
    val r = new TableIdRouter(Seq.empty)
    assert(r.route(TableId.parse("db.t")) == Seq(TableId.parse("db.t")))
  }
  test("rename route") {
    val r = new TableIdRouter(Seq(RouteRule("mydb.orders", "sink.all_orders")))
    assert(r.route(TableId.parse("mydb.orders")) == Seq(TableId.parse("sink.all_orders")))
    assert(r.route(TableId.parse("mydb.other")) == Seq(TableId.parse("mydb.other")))
  }
  test("merge route: many tables to one sink") {
    val r = new TableIdRouter(Seq(RouteRule("mydb.shard_\\.*", "sink.merged")))
    assert(r.route(TableId.parse("mydb.shard_1")) == Seq(TableId.parse("sink.merged")))
    assert(r.route(TableId.parse("mydb.shard_2")) == Seq(TableId.parse("sink.merged")))
  }
  test("replace-symbol substitution (route.md `<>` semantics)") {
    val r = new TableIdRouter(
      Seq(RouteRule("mydb.\\.*", "sink.ods_<>", replaceSymbol = Some("<>"))))
    assert(r.route(TableId.parse("mydb.orders")) == Seq(TableId.parse("sink.ods_orders")))
  }
  test("1 to N fanout when several rules match") {
    val r = new TableIdRouter(Seq(
      RouteRule("mydb.orders", "a.t1"),
      RouteRule("mydb.\\.*", "b.t2")))
    assert(r.route(TableId.parse("mydb.orders")).toSet ==
      Set(TableId.parse("a.t1"), TableId.parse("b.t2")))
  }

  test("annotate: data-plane broadcast routing with fanout") {
    implicit val s = spark
    import s.implicits._
    val df = Seq((1L, 1L, "INSERT", "x")).toDF("seq0", "id", "op0", "v")
    val env = Envelope.fromChangelog(df, TableId.parse("mydb.orders"), col("op0"),
      col("seq0"), Seq("id", "v"))
    val r = new TableIdRouter(Seq(
      RouteRule("mydb.orders", "a.t1"),
      RouteRule("mydb.\\.*", "b.t2")))
    val out = r.annotate(env, Seq(TableId.parse("mydb.orders")))
    assert(out.select($"sinkTableId").as[String].collect().toSet == Set("a.t1", "b.t2"))
  }
}

class ChunkSplitterSpec extends AnyFunSuite {
  import ChunkSplitter._
  lazy val spark = SparkTestBase.spark

  test("empty or single-value table: one full chunk") {
    val probe = new Probe {
      def nextChunkMax(f: Long, c: Int) = None
      def minAfter(v: Long) = None
    }
    assert(generateSplits(None, None, 0, Config(), probe) == Seq(ChunkRange(None, None)))
    assert(generateSplits(Some(5), Some(5), 1, Config(), probe) == Seq(ChunkRange(None, None)))
  }

  test("even path: uniform dense keys give chunkSize-stepped ranges") {
    // factor = (999-0+1)/1000 = 1.0 → dynamicChunkSize = chunkSize
    val probe = new Probe {
      def nextChunkMax(f: Long, c: Int) = Some(math.min(f + c, 999))
      def minAfter(v: Long) = Some(v + 1).filter(_ <= 999)
    }
    val splits = generateSplits(Some(0), Some(999), 1000, Config(chunkSize = 300), probe)
    assert(splits == Seq(
      ChunkRange(None, Some(300)),
      ChunkRange(Some(300), Some(600)),
      ChunkRange(Some(600), Some(900)),
      ChunkRange(Some(900), None)))
  }

  test("even path: sparse-but-uniform keys scale dynamic chunk size") {
    // keys 0,10,...,9990: factor = (9990-0+1)/1000 = 9.991 → dynamic = ⌊9.991*100⌋ = 999
    val probe = new Probe {
      def nextChunkMax(f: Long, c: Int) = fail("probe must not be used on even path")
      def minAfter(v: Long) = fail("probe must not be used on even path")
    }
    val splits =
      generateSplits(Some(0), Some(9990), 1000, Config(chunkSize = 100), probe)
    assert(splits.head == ChunkRange(None, Some(999)))
    assert(splits.last == ChunkRange(Some(9990), None))
    assert(splits.size == 11)
  }

  test("uneven path: distribution factor out of bounds triggers probing") {
    // 10 rows over range 0..10000 → factor 1000.1 > 1000 upper bound
    val keys = Seq(0L, 1L, 2L, 3L, 4L, 5L, 9996L, 9997L, 9998L, 10000L)
    val probe = new Probe {
      // inclusive lower bound, per the reference's queryNextChunkMax
      def nextChunkMax(from: Long, c: Int) = {
        val next = keys.filter(_ >= from).take(c)
        if (next.isEmpty) None else Some(next.max)
      }
      def minAfter(v: Long) = keys.find(_ > v)
    }
    val splits = generateSplits(Some(0), Some(10000), 10, Config(chunkSize = 4), probe)
    // chunks: [None,3), [3,9996), [9996,None) under [start,end) semantics
    assert(splits.head.start.isEmpty)
    assert(splits.last.end.isEmpty)
    assert(splits.size == 3)
  }

  test("union of chunks over parquet hash-matches a plain scan") {
    val li = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/lineitem.parquet")
    val keyed = li.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pk"),
      col("l_extendedprice"))
    val (mn, mx, cnt) = analyze(keyed, "pk")
    val splits =
      generateSplits(mn, mx, cnt, Config(chunkSize = 500), dataFrameProbe(keyed, "pk"))
    assert(splits.size > 1)
    val viaChunks = unionOfChunks(keyed, "pk", splits)
    assert(viaChunks.count() == keyed.count())
    // every row exactly once (ranges are disjoint and covering)
    assert(viaChunks.select("pk").distinct().count() == keyed.select("pk").distinct().count())
  }

  test("coalesceRanges: lossless merge of adjacent ranges to a branch bound") {
    val chunks = Seq(
      ChunkRange(None, Some(10)), ChunkRange(Some(10), Some(20)),
      ChunkRange(Some(20), Some(30)), ChunkRange(Some(30), Some(40)),
      ChunkRange(Some(40), None))
    assert(coalesceRanges(chunks, 5) == chunks) // under the bound: untouched
    val two = coalesceRanges(chunks, 2)
    assert(two == Seq(ChunkRange(None, Some(30)), ChunkRange(Some(30), None)))
    // coverage preserved: first starts unbounded, last ends unbounded,
    // and each group starts where the previous ended
    val three = coalesceRanges(chunks, 3)
    assert(three.head.start.isEmpty && three.last.end.isEmpty)
    assert(three.sliding(2).forall { case Seq(a, b) => a.end == b.start })
  }
}
