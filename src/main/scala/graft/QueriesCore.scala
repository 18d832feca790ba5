package graft

import graft.core._
import graft.functions.Dialect
import graft.operators._
import graft.pipeline.SchemaDerivator
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Analytics + transform-dialect + CDC-core correctness queries. Each entry has
  * a DuckDB oracle in [[QueriesCore.oracles]] computing the same values with
  * matching column names (the driver sorts columns by name and hashes values).
  *
  * Determinism rules: per-row double arithmetic is IEEE-identical across
  * engines; aggregation uses exact DECIMAL sums cast to double after rounding;
  * every result is orderBy'd on a unique key.
  */
object QueriesCore {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Unscaled long of a bounded decimal: `cents(cast(x AS DECIMAL(18,2)))`
    * is x in exact cents. Decimal aggregation above precision 18 runs on
    * java BigDecimal buffers; the SAME exact arithmetic on the unscaled
    * longs runs in codegen'd primitive adds — r18 measured q_topk's
    * decimal-sum aggregate at 1.12 CPU-s and the long form at a fraction of
    * it. Exactness argument (per query, verified against the DuckDB oracle
    * value-for-value): the quantization is the identical decimal CAST; sums
    * and products of the unscaled integers are exact in Long; HALF_UP
    * re-rounding to cents is `(u + 50) div 100` for non-negative u; and
    * `long.toDouble / 100.0` equals `decimal(x,2).toDouble` because both are
    * the correctly-rounded double of the same rational.
    *
    * PRECONDITION — bounded per-group row count. The long sum is exact only
    * while it stays under 2^63; apply this ONLY where the per-group row
    * count is bounded by a key's cardinality (q_topk sums per order / per
    * customer, q10 per customer-within-6-months), never to low-cardinality
    * groups whose size grows with SF (q3/q5 group by n_name — 25 groups —
    * and their 10^-4-unit sums would reach ~93% of Long.MaxValue at the
    * 100 TB design point, wrapping silently past it; they use decimal sums,
    * precision 38, ~9 orders of magnitude more headroom). */
  private def unscaled(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.UnscaledValue(
      ColumnBridge.expression(c)))
  }

  /** Deterministic changelog over `events`: event_id is the offset, the op is
    * derived from event_type (signup→INSERT, purchase→REPLACE, error→DELETE,
    * else UPDATE), user_id is the PK.
    */
  def eventsChangelog(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val op = when(col("event_type") === "signup", "INSERT")
      .when(col("event_type") === "purchase", "REPLACE")
      .when(col("event_type") === "error", "DELETE")
      .otherwise("UPDATE")
    Envelope.fromChangelog(
      ev.withColumn("__op", op),
      TableId.parse("app.events"),
      col("__op"),
      col("event_id"),
      Seq("user_id", "event_type", "value", "ts"))
  }

  /** SQL prefix defining the same changelog for the DuckDB oracle. */
  private val evCte =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |         CASE WHEN event_type='signup' THEN 'INSERT'
      |              WHEN event_type='purchase' THEN 'REPLACE'
      |              WHEN event_type='error' THEN 'DELETE'
      |              ELSE 'UPDATE' END AS op
      |  FROM events)
      |""".stripMargin

  // ===========================================================================

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- analytics (the reference has none of these; Spark built-ins) -------
    "q1_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2).cast("double")
            .as("sum_base_price"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))), 2)
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      // decimal sums, NOT unscaled longs: q3 groups by n_name (25 groups), so
      // per-group row counts grow with SF and the 10^-4-unit long sum reaches
      // ~93% of Long.MaxValue at the 100 TB design point (silent wrap past
      // it); the precision-28 decimal buffer overflows ~9 orders of magnitude
      // later. The unscaled rewrite measured NEUTRAL here anyway (r18 A/B:
      // 0.278 vs 0.266 CPU-s — tiny group count, join-dominated).
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("revenue"))
        .orderBy("n_name")
    }),
    "q_topk" -> ((s, dir) => {
      // pre-join partial aggregation: lineitem collapses to one row per order
      // BEFORE the fact-fact join (~4:1 at TPC-H shape), so the join shuffles
      // order-grain rows, not line-grain; decimal sums re-associate exactly.
      // Then per-customer totals join the customer dim and TakeOrdered keeps
      // the top 10 — no global sort materialization.
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // both aggregates sum exact CENTS as primitive longs (same decimal
      // quantization per row, same rounded double out — see `unscaled`);
      // r18-before this was the most CPU-expensive headline query (1.12
      // CPU-s), dominated by >18-precision decimal agg buffers
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sum(unscaled(col("l_extendedprice").cast("decimal(18,2)")))
          .as("order_total"))
      perOrder.join(o, perOrder("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("order_total")).cast("decimal(38,0)") / lit(100L), 2)
          .cast("double").as("total_spend"))
        .join(c, col("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total_spend"))
        .orderBy(col("total_spend").desc, col("c_custkey").asc)
        .limit(10)
    }),
    "q_window" -> ((s, dir) => {
      // first-row-per-key WITHOUT a window: min_by over an ordering struct
      // aggregates with a map-side PARTIAL pass, so only one row per
      // (scan partition, key) reaches the shuffle — the row_number() window
      // shuffled every row and then sorted entire key partitions. The
      // struct-buffered min_by plans as SortAggregate, but its sorts are
      // per-scan-partition (bounded by maxPartitionBytes, in-memory), not a
      // whole-key-partition sort. Ties are impossible:
      // (l_shipdate, l_orderkey, l_linenumber) is unique per supplier.
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_suppkey"))
        .agg(min_by(
          struct(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
          struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))).as("__first"))
        .select(col("l_suppkey"), col("__first.l_orderkey"),
          col("__first.l_linenumber"), col("__first.l_shipdate"))
        .orderBy("l_suppkey")
    }),
    "q5_local_supplier" -> ((s, dir) => {
      // TPC-H Q5 shape: 6-table join — two tiny dims broadcast, the
      // customer⋈orders⋈lineitem⋈supplier chain shuffles on its keys, the
      // c_nationkey = s_nationkey residual keeps only local-supplier volume
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation"); val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      val li = t(s, dir, "lineitem"); val su = t(s, dir, "supplier")
      c.join(broadcast(n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))),
          c("c_nationkey") === col("n_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(su, li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .groupBy(col("n_name"))
        // decimal sum, NOT unscaled longs: like q3, n_name gives 25 groups so
        // per-group rows grow with SF — the long sum wraps silently near the
        // 100 TB design point while the decimal buffer has ~9 orders of
        // magnitude more headroom; the rewrite measured NEUTRAL here (r18)
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "q10_returned" -> ((s, dir) => {
      // TPC-H Q10 shape: returned-item revenue per customer, top 20
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        // same unscaled-long rewrite as q5 (see `unscaled`)
        .agg(round(sum(unscaled((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)"))).cast("decimal(38,0)") / lit(10000L), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    "q4_order_priority" -> ((s, dir) => {
      // TPC-H Q4 shape: orders with at least one late-shipped line (EXISTS →
      // left-semi with an inequality residual), counted per priority. The
      // semi-join shuffles both sides on the order key once; no dedup pass,
      // no count-distinct.
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
      val li = t(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    "q12_priority_class" -> ((s, dir) => {
      // TPC-H Q12 shape: conditional aggregation after a fact-fact join —
      // high/low-priority order counts per line status for late shipments.
      // The CASE runs map-side inside the partial aggregate.
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(
        col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy("l_linestatus")
    }),
    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: large-volume orders — groupBy-HAVING on the fact
      // table first (partial-agg shrinks it before any join), then join the
      // survivors to orders/customer, top 10. The HAVING runs before the
      // joins, so the join input is 0.5% of lineitem, not all of it.
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),
    "q_percentiles" -> ((s, dir) => {
      // distribution analytics: exact interpolated percentiles per group.
      // Exact percentile sorts within the aggregate (fine at per-group
      // cardinalities); the 100 TB path swaps in approx_percentile — same
      // query shape, sketch-mergeable, no sort (documented trade-off).
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    "q_moving_range" -> ((s, dir) => {
      // time-based RANGE frame: per-user trailing-24h event count and
      // exact-decimal rolling sum at every event — the frame is defined by
      // VALUE distance (RANGE BETWEEN 86399 PRECEDING), not row count, so
      // irregular event spacing is handled exactly. One shuffle on user_id,
      // one ordered pass; at 100 TB the partition key bounds state, never
      // the table.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"))
        .rangeBetween(-86399L, Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"),
          col("value").cast("decimal(18,2)").as("v"))
        .select(
          col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_24h"),
          round(sum(col("v")).over(w), 2).cast("double").as("sum_24h"))
        .orderBy("user_id", "event_id")
    }),
    "q_lead_lag" -> ((s, dir) => {
      // sequential analytics is the LEGITIMATE window use (unlike
      // first-row-per-key, which q_window does as an aggregate): lag/lead
      // need the neighbor row, so a per-key ordered window is the minimal
      // plan — partitioned by user, bounded frame, no global sort
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(
          col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          row_number().over(w).cast("int").as("rn"))
        .orderBy("user_id", "event_id")
    }),
    "t_json_path" -> ((s, dir) => {
      // JSON path extraction (absent from the reference's dialect; free in
      // Spark): events.props is a JSON object {"k": N}
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k") > 50)
        .orderBy("event_id")
    }),
    "q_events_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
        .orderBy("day", "event_type")
    }),

    // ---- transform dialect (SURVEY §2.5) ------------------------------------
    "t_projection" -> ((s, dir) => {
      val rule = TransformRule("app.customer", projection = Some(
        "*, CONCAT(c_name, '_', c_mktsegment) AS c_tag, UPPER(c_mktsegment) AS seg_u, " +
          "LOWER(c_name) AS name_l, CHAR_LENGTH(c_name) AS name_len, " +
          "SUBSTR(c_name, 1, 5) AS name5, TRIM(c_mktsegment) AS seg_t"))
      TransformOp.applyToRows(t(s, dir, "customer"), rule).orderBy("c_custkey")
    }),
    "t_filter" -> ((s, dir) => {
      // `=` is Java-object equality in the dialect (valueEquals) and `%` on
      // a BIGINT computes a Long, so the modulo test must same-box its
      // literal via CAST — exactly how the reference fixture spells
      // `CAST(id AS INT) IN (1, 3, 5)` to get value semantics
      // (testBuiltinComparisonFunctions:705)
      val rule = TransformRule("app.customer",
        filter = Some("c_acctbal BETWEEN 1000 AND 5000 AND " +
          "c_mktsegment IN ('AUTOMOBILE', 'BUILDING') AND CAST(c_custkey % 2 AS INT) = 0"))
      TransformOp.applyToRows(t(s, dir, "customer"), rule).orderBy("c_custkey")
    }),
    "t_like_regex" -> ((s, dir) => {
      // reference LIKE compiles the pattern as a Java regex (find()) — RLIKE
      val rule = TransformRule("app.customer",
        filter = Some(Dialect.translate("c_mktsegment LIKE 'BU.LD' OR c_name LIKE '1$'")))
      TransformOp.applyToRows(t(s, dir, "customer"), rule).orderBy("c_custkey")
    }),
    "t_arith" -> ((s, dir) => {
      t(s, dir, "lineitem").selectExpr(
        "l_orderkey", "l_linenumber",
        "l_quantity + l_tax AS add_qt",
        "l_extendedprice - l_discount AS sub_pd",
        "l_quantity * l_discount AS mul_qd",
        "l_extendedprice / (l_discount + 1.0) AS div_pd",
        "l_linenumber % 3 AS mod_l3",
        "ABS(l_discount - 0.5) AS abs_d",
        "CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT) AS ceil_p",
        "CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS floor_p",
        "ROUND(l_extendedprice, 1) AS round_p")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "t_temporal" -> ((s, dir) => {
      t(s, dir, "events").selectExpr(
        "event_id",
        "date_format(ts, 'yyyy-MM-dd') AS day_str",
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_str",
        "to_date(ts) AS day_date",
        "year(ts) AS y", "month(ts) AS m", "day(ts) AS d",
        "datediff(DATE '2024-03-01', to_date(ts)) AS days_to_march",
        "unix_timestamp(ts) AS epoch_s",
        "from_unixtime(unix_timestamp(ts), 'yyyy-MM-dd HH:mm:ss') AS rt_str",
        "ts + INTERVAL 1 DAY AS ts_plus_day",
        "CAST(timestampdiff(DAY, ts, TIMESTAMP '2024-02-15 00:00:00') AS INT) AS tsdiff_days",
        "timestampadd(HOUR, 3, ts) AS ts_plus_3h")
        .orderBy("event_id")
    }),
    "t_conditional" -> ((s, dir) => {
      t(s, dir, "orders").selectExpr(
        "o_orderkey",
        "CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled' ELSE 'other' END" +
          " AS status_name",
        "CASE WHEN o_totalprice > 100000 THEN 'big' WHEN o_totalprice > 10000 THEN 'mid'" +
          " ELSE 'small' END AS size_class",
        "COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'was-urgent') AS prio",
        "IF(o_custkey % 2 = 0, 'even', 'odd') AS par")
        .orderBy("o_orderkey")
    }),
    "t_cast" -> ((s, dir) => {
      t(s, dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(o_orderkey AS STRING) AS key_str",
        "CAST(o_custkey AS INT) AS cust_int",
        "CAST(o_orderdate AS DATE) AS od_date",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec2",
        "CAST(o_orderkey % 2 = 0 AS BOOLEAN) AS even_bool",
        "CAST(CAST(o_orderkey AS TINYINT) AS INT) AS key_i8")
        .filter("o_orderkey < 120") // keep TINYINT in range: overflow would throw (ANSI)
        .orderBy("o_orderkey")
    }),
    "t_metadata" -> ((s, dir) => {
      // the metadata columns of each event's image: after, or before for
      // a DELETE (whose token is -D on both sides)
      val rule = TransformRule("app.events",
        projection = Some(Envelope.MetadataColumns.mkString(", ")))
      EnvelopeTransform(eventsChangelog(s, dir), rule, TableId.parse("app.events"))
        .select(col("seq"), coalesce(col("after"), col("before")).as("m"))
        .select("seq", "m.*")
        .orderBy("seq")
    }),
    "t_soft_delete" -> ((s, dir) => {
      val soft = Envelope.softDelete(eventsChangelog(s, dir))
      soft.groupBy(col("op"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("after.value").cast("decimal(18,2)")), 2).cast("double")
            .as("sum_value"))
        .orderBy("op")
    }),
    "t_udf" -> ((s, dir) => {
      // UserDefinedFunction surface: register + use in selectExpr
      s.udf.register("initials_mask",
        (name: String) => if (name == null) null else name.take(1) + "***")
      t(s, dir, "customer")
        .selectExpr("c_custkey", "initials_mask(c_name) AS masked")
        .orderBy("c_custkey")
    }),
    "t_timestamp_tz" -> ((s, dir) => {
      // TIMESTAMP_TZ end-to-end (SURVEY §1.3: ZonedTimestampT ->
      // struct<instant TIMESTAMP, offsetSeconds INT>): treat events.ts as the
      // wall-clock at a per-row offset, store instant+offset, then render
      // both the UTC instant and the reconstructed local time — the
      // round-trip a TIMESTAMP_TZ sink needs
      val ev = t(s, dir, "events").filter(col("event_id") < 5000)
      ev.withColumn("offset_seconds", (((col("user_id") % 24) - 12) * 3600).cast("int"))
        .withColumn("tzv", struct(
          expr("timestampadd(SECOND, -offset_seconds, ts)").as("instant"),
          col("offset_seconds").as("offsetSeconds")))
        .select(
          col("event_id"),
          date_format(col("tzv.instant"), "yyyy-MM-dd HH:mm:ss").as("utc_str"),
          col("tzv.offsetSeconds").as("offset_seconds"),
          date_format(expr("timestampadd(SECOND, tzv.offsetSeconds, tzv.instant)"),
            "yyyy-MM-dd HH:mm:ss").as("local_str"))
        .orderBy("event_id")
    }),
    "t_model_chat" -> ((s, dir) => {
      // AI_CHAT_PREDICT surface (reference OpenAIChatModel.eval:55): a REAL
      // java.net.http client posts OpenAI-protocol chat completions to the
      // loopback MockModelServer (zero-egress env), which computes the same
      // deterministic predictions the oracle carries — the full registration →
      // UDF → HTTP → JSON-parse round trip is exercised
      graft.functions.ModelFunctions.registerChatPredict(
        s, "stub-model",
        endpoint = Some(graft.functions.MockModelServer.endpoint("stub-model")))
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .selectExpr("c_mktsegment", "AI_CHAT_PREDICT(c_mktsegment) AS prediction")
        .orderBy("c_mktsegment")
    }),
    "t_model_embedding" -> ((s, dir) => {
      // GET_EMBEDDING -> ARRAY<FLOAT> (reference OpenAIEmbeddingModel.eval:57):
      // real HTTP round-trip against the loopback server; dimension contract +
      // deterministic value checksum match the stub so the oracle is unchanged
      graft.functions.ModelFunctions.registerGetEmbedding(
        s, "stub-model", dim = 16,
        endpoint = Some(graft.functions.MockModelServer.endpoint("stub-model")))
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .selectExpr(
          "c_mktsegment",
          "size(GET_EMBEDDING(c_mktsegment)) AS dim",
          "round(aggregate(GET_EMBEDDING(c_mktsegment), 0D, (a, v) -> a + CAST(v AS DOUBLE)), 4) AS esum")
        .orderBy("c_mktsegment")
    }),
    "t_model_langchain" -> ((s, dir) => {
      // AI_LANGCHAIN_PREDICT (TransformSqlOperatorTable.java:377-385): the
      // chat-protocol alias, exercised through the same real HTTP loopback
      // round trip as t_model_chat but registered under its own name
      graft.functions.ModelFunctions.registerLangchainPredict(
        s, "stub-model",
        endpoint = Some(graft.functions.MockModelServer.endpoint("stub-model")))
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .selectExpr("c_mktsegment", "AI_LANGCHAIN_PREDICT(c_mktsegment) AS prediction")
        .orderBy("c_mktsegment")
    }),
    "t_kafka_debezium" -> ((s, dir) => {
      // wire-format contract: serialize the changelog with the debezium-json
      // sink format, parse the bytes back, and oracle the op codes, source
      // block, and before/after images — the exact field contract of
      // DebeziumJsonSerializationSchema (layout itself is unit-tested
      // byte-for-byte in KafkaJsonFormatsSpec)
      import graft.sinks.KafkaJsonFormats
      import org.apache.spark.sql.types._
      val env = eventsChangelog(s, dir)
      val ser = env.select(col(Envelope.SeqCol).as("seq"),
        KafkaJsonFormats.debeziumValue.as("value"))
      val payloadT = StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampNTZType)))
      val msgT = StructType(Seq(
        StructField("before", payloadT), StructField("after", payloadT),
        StructField("op", StringType),
        StructField("source", StructType(Seq(
          StructField("db", StringType), StructField("table", StringType))))))
      ser.select(col("seq"), from_json(col("value"), msgT).as("m"))
        .select(
          col("seq"), col("m.op"),
          col("m.source.db").as("db"), col("m.source.table").as("tbl"),
          col("m.before.user_id").as("before_uid"),
          col("m.after.user_id").as("after_uid"),
          col("m.after.event_type").as("after_type"),
          col("m.after.value").as("after_value"))
        .orderBy("seq")
    }),
    "t_kafka_canal" -> ((s, dir) => {
      // canal-json wire contract round-trip (CanalJsonSerializationSchema):
      // REPLACE folds to INSERT, images ride single-element arrays
      import graft.sinks.KafkaJsonFormats
      import org.apache.spark.sql.types._
      val env = eventsChangelog(s, dir)
      val ser = env.select(col(Envelope.SeqCol).as("seq"),
        KafkaJsonFormats.canalValue.as("value"))
      val payloadT = StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampNTZType)))
      val msgT = StructType(Seq(
        StructField("old", ArrayType(payloadT)), StructField("data", ArrayType(payloadT)),
        StructField("type", StringType),
        StructField("database", StringType), StructField("table", StringType)))
      ser.select(col("seq"), from_json(col("value"), msgT).as("m"))
        .select(
          col("seq"), col("m.type").as("op_type"),
          col("m.database").as("db"), col("m.table").as("tbl"),
          element_at(col("m.old"), 1).getField("user_id").as("old_uid"),
          element_at(col("m.data"), 1).getField("user_id").as("data_uid"),
          element_at(col("m.data"), 1).getField("value").as("data_value"))
        .orderBy("seq")
    }),
    "c_kafka_source" -> ((s, dir) => {
      // Kafka as a SOURCE: the changelog is serialized to debezium-json wire
      // bytes, read back through the fromDebeziumJson READER (op decode,
      // image parse, offset→seq), and PK-materialized — the full
      // Debezium-Connect-topic ingestion topology, oracle-checked against
      // the changelog's final state
      import graft.sinks.KafkaJsonFormats
      import org.apache.spark.sql.types._
      val wire = eventsChangelog(s, dir).select(
        col(Envelope.SeqCol).as("offset"), KafkaJsonFormats.debeziumValue.as("value"))
      // ts is TimestampType (not NTZ): the sink serializer writes instants
      // with a zone suffix, which only the zoned type parses back
      val payloadT = StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampType)))
      val env = KafkaJsonFormats.fromDebeziumJson(wire, payloadT, col("offset"))
      graft.operators.Upsert.materialize(env, Seq("user_id"))
        .select(col("user_id"), col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
        .orderBy("user_id")
    }),
    "c_debezium_file" -> ((s, dir) => {
      // offline Debezium wire ingestion: the changelog is serialized to FULL
      // Debezium MySQL records (source block with binlog coordinates, snapshot
      // flags, op codes incl. snapshot 'r'), written to disk as a captured
      // topic dump — half schema-wrapped (schemas.enable=true), half bare —
      // read back through DebeziumFileSource (payload unwrap, op decode,
      // binlog-coordinate seq), and PK-materialized to the changelog's final
      // state. Same oracle shape as c_kafka_source: the wire round trip must
      // be semantically lossless.
      import graft.sources.debezium.DebeziumFileSource
      import org.apache.spark.sql.types._
      val fix = java.nio.file.Files.createTempDirectory("graft_dbz_fix").toString
      val wire = eventsChangelog(s, dir).select(
        col(Envelope.SeqCol).as("seq"), DebeziumFileSource.wireValue().as("v"))
      wire.select(
        when(pmod(col("seq"), lit(2)) === 0,
          concat(lit("""{"schema":{"type":"struct","optional":false},"payload":"""),
            col("v"), lit("}")))
          .otherwise(col("v")).as("value"))
        .write.mode("overwrite").text(fix)
      val payloadT = StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampType)))
      val env = DebeziumFileSource.read(s, fix, payloadT)
      graft.operators.Upsert.materialize(env, Seq("user_id"))
        .select(col("user_id"), col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
        .orderBy("user_id")
    }),
    "c_postgres_file" -> ((s, dir) => {
      // offline Debezium POSTGRES wire ingestion (the logical-decoding
      // sibling of c_debezium_file): the changelog serializes to full
      // Postgres records — source block with LSN/txId instead of binlog
      // coordinates, three-part db.schema.table identity, snapshot 'r' ops —
      // half schema-wrapped, half bare, written as a captured topic dump,
      // read back distributively (LSN becomes the sequence directly), and
      // PK-materialized to the changelog's final state.
      import graft.sources.postgres.PostgresWireFormat
      import org.apache.spark.sql.types._
      val fix = java.nio.file.Files.createTempDirectory("graft_pg_fix").toString
      val env0 = eventsChangelog(s, dir)
        .withColumn(Envelope.TableIdCol, lit("appdb.public.events"))
      val wire = env0.select(
        col(Envelope.SeqCol).as("seq"),
        PostgresWireFormat.wireValue(
          lsn = col(Envelope.SeqCol) * 24 + lit(0x1000000L),
          txId = col(Envelope.SeqCol) + lit(500L)).as("v"))
      wire.select(
        when(pmod(col("seq"), lit(2)) === 0,
          concat(lit("""{"schema":{"type":"struct","optional":false},"payload":"""),
            col("v"), lit("}")))
          .otherwise(col("v")).as("value"))
        .write.mode("overwrite").text(fix)
      val payloadT = StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampType)))
      val env = PostgresWireFormat.read(s, fix, payloadT)
      graft.operators.Upsert.materialize(env, Seq("user_id"))
        .select(col("user_id"), col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
        .orderBy("user_id")
    }),
    "c_startup_gtid" -> ((s, dir) => {
      // GTID checkpoint-resume END TO END: the capture carries per-tx GTIDs
      // from TWO server UUIDs (a failover mid-stream). Run 1 consumes through
      // event 299 and checkpoints its executed set {A:1-250, B:1-50}; while
      // the consumer is down the server runs ahead (B through 150 — the
      // overrun `GtidUtils.fixRestoredGtidSet` exists for,
      // `GtidUtils.java:38-91`). On restart the restored set is reconciled
      // against the server's and the resume filter must replay EXACTLY the
      // unconsumed transactions B:51-150 (events 300-399) — the require
      // fails on any loss or re-emission before the oracle ever compares.
      import graft.sources.debezium.DebeziumFileSource
      import graft.sources.mysql.Gtid
      import org.apache.spark.sql.types._
      val uuidA = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
      val uuidB = "7c2f8b63-5f4e-4d4e-9f01-bb6d1a2f0001"
      val fix = java.nio.file.Files.createTempDirectory("graft_gtid_fix").toString
      val base = eventsChangelog(s, dir).filter(col(Envelope.SeqCol) < 400)
      val gtidCol = when(col(Envelope.SeqCol) < 250,
        concat(lit(s"$uuidA:"), (col(Envelope.SeqCol) + 1).cast("string")))
        .otherwise(concat(lit(s"$uuidB:"), (col(Envelope.SeqCol) - 249).cast("string")))
      base.select(DebeziumFileSource.wireValue(gtid = gtidCol).as("value"))
        .write.mode("overwrite").text(fix)
      val payloadT = StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampType)))
      val parsed = DebeziumFileSource.read(s, fix, payloadT)

      // parsed seq is a binlog coordinate (fileIdx << 40 | pos); pos carries
      // the original event_id, so "consumed through event 299" is pos < 300
      val consumed = parsed.filter(pmod(col(Envelope.SeqCol), lit(1L << 40)) < 300)
      val restored = DebeziumFileSource.executedGtidSet(consumed)
      val server = DebeziumFileSource.executedGtidSet(parsed) // ran ahead while down
      val effective = Gtid.GtidSet.fixRestored(server, restored)
      require(effective.contains(uuidA, 250) && effective.contains(uuidB, 50) &&
        !effective.contains(uuidB, 51),
        s"fixRestored must keep the restored position under overrun, got $effective")
      val resumed = DebeziumFileSource.resumeAfterGtids(parsed, effective)
      val resumedCount = resumed.count()
      require(resumedCount == 100,
        s"resume must replay exactly B:51-150 (100 events), got $resumedCount")

      graft.operators.Upsert.materialize(consumed.unionByName(resumed), Seq("user_id"))
        .select(col("user_id"), col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
        .orderBy("user_id")
    }),
    "t_udf2" -> ((s, dir) => {
      // multi-arity typed eval through the UserDefinedFunction lifecycle
      // registry (reference UserDefinedFunction.java:27-48 accepts arbitrary
      // eval overloads): 2 args of mixed types (BIGINT, INT) -> BIGINT
      import graft.functions.{UdfRegistry, UserDefinedFunction}
      object PkMix extends UserDefinedFunction {
        val name = "pk_mix"
        override val arity = 2
        override val returnType: org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        def eval(args: Any*): Any = {
          val key = args(0).asInstanceOf[Long]
          val nation = args(1) match { case i: Int => i.toLong; case l: Long => l }
          key * 100L + nation
        }
      }
      UdfRegistry.register(s, PkMix)
      t(s, dir, "customer")
        .selectExpr("c_custkey", "pk_mix(c_custkey, c_nationkey) AS mix")
        .orderBy("c_custkey")
    }),

    // ---- CDC core -----------------------------------------------------------
    "c_upsert" -> ((s, dir) => {
      Upsert.materialize(eventsChangelog(s, dir), Seq("user_id")).orderBy("user_id")
    }),
    "c_deleted_keys" -> ((s, dir) => {
      val (_, deletes) = Upsert.materializeWithDeletes(eventsChangelog(s, dir), Seq("user_id"))
      deletes.orderBy("user_id")
    }),
    "c_jdbc_2pc" -> ((s, dir) => {
      // Exactly-once staging 2PC against embedded Derby: the changelog splits
      // into two micro-batches; batch 0 commits, batch 1 is struck by a
      // simulated crash INSIDE the promote transaction (after the MERGE, the
      // commit record, and the staging cleanup — before COMMIT), and the
      // restarted sink replays the whole delivery: batch 0 is skipped via the
      // durable commit record, batch 1 applies exactly once. Final Derby
      // state must equal the one-shot materialization (c_upsert's oracle).
      import graft.sinks.JdbcTwoPhaseSink
      val db = s"memory:graft2pc${java.util.UUID.randomUUID().toString.replace("-", "")};create=true"
      val url = s"jdbc:derby:$db"
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir).persist()
      try {
        val afterT = env.schema(Envelope.AfterCol).dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val cut = env.agg(max(col(Envelope.SeqCol))).head.getLong(0) / 2
        val batch0 = env.filter(col(Envelope.SeqCol) <= cut)
        val batch1 = env.filter(col(Envelope.SeqCol) > cut)
        val runId = "2pc-run"
        def deliver(sink: JdbcTwoPhaseSink, batch: DataFrame, id: Long): Unit =
          Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
            sink.writeBatch(tid, ups, dels, id, runId)
          }
        val sink = new JdbcTwoPhaseSink(url)
        sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
        deliver(sink, batch0, 0L)
        val crashing = new JdbcTwoPhaseSink(url) {
          override protected def beforeCommit(c: java.sql.Connection): Unit =
            throw new RuntimeException("simulated crash before 2PC commit")
        }
        crashing.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
        try { deliver(crashing, batch1, 1L); sys.error("crash did not fire") }
        catch { case e: RuntimeException if e.getMessage.contains("simulated crash") => () }
        // the restarted job re-delivers both batches
        val restarted = new JdbcTwoPhaseSink(url)
        restarted.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
        deliver(restarted, batch0, 0L)
        deliver(restarted, batch1, 1L)
        s.read.format("jdbc").option("url", url).option("dbtable", "app_events").load()
          .select(col("USER_ID").as("user_id"), col("EVENT_TYPE").as("event_type"),
            col("VALUE").as("value"), col("TS").as("ts"))
          .orderBy("user_id")
      } finally env.unpersist()
    }),

    "c_es_sink" -> ((s, dir) => {
      // Elasticsearch sink contract end-to-end over the real /_bulk wire: the
      // materialized changelog posts NDJSON bulk actions (PK-joined _id,
      // reference temporal formats, deletes addressed at the table index) to
      // the loopback ES double from executor partitions; the store's final
      // documents are parsed back and must equal the changelog's final state
      import graft.sinks.{ElasticsearchSink, MockElasticsearchServer}
      import org.apache.spark.sql.types._
      MockElasticsearchServer.reset()
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
      val sink = new ElasticsearchSink(MockElasticsearchServer.url(), maxActions = 100)
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      Upsert.withMaterialized(env, Seq("user_id")) { (ups, dels) =>
        sink.writeBatch(tid, ups, dels)
      }
      val docs = MockElasticsearchServer.docsOf(tid.identifier)
      import s.implicits._
      val parsed = docs.toDF("_id", "doc").select(
        from_json(col("doc"),
          StructType(Seq(
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("value", DoubleType), StructField("ts", StringType)))).as("d"))
      parsed.select(col("d.user_id").as("user_id"), col("d.event_type").as("event_type"),
        col("d.value").as("value"), col("d.ts").as("ts_str"))
        .orderBy("user_id")
    }),
    "c_starrocks_sink" -> ((s, dir) => {
      // Stream Load wire family end-to-end: materialized changelog rendered
      // as __op-flagged JSON rows, PUT per partition to the loopback frontend
      // (label-dedup aware), whose PK store applies the flag semantics; final
      // store state must equal the changelog's final state
      import graft.sinks.{MockStreamLoadServer, StarRocksSink}
      import org.apache.spark.sql.types._
      val server = new MockStreamLoadServer(Seq("user_id"))
      try {
        val tid = TableId.parse("app.events")
        val env = eventsChangelog(s, dir)
        val afterT = env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
        val sink = new StarRocksSink(server.url(), maxRows = 100)
        sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
        Upsert.withMaterialized(env, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels)
        }
        import s.implicits._
        val parsed = server.docsOf("app", "events").toDF("_id", "doc").select(
          from_json(col("doc"),
            StructType(Seq(
              StructField("user_id", LongType), StructField("event_type", StringType),
              StructField("value", DoubleType), StructField("ts", StringType)))).as("d"))
        parsed.select(col("d.user_id").as("user_id"), col("d.event_type").as("event_type"),
          col("d.value").as("value"), col("d.ts").as("ts_str"))
          .orderBy("user_id")
      } finally server.stop()
    }),
    "c_fluss_sink" -> ((s, dir) => {
      // Fluss family end-to-end (the reference's last pipeline connector):
      // the materialized changelog flows through the PK-upsert writer with
      // the async-ack flush barrier (bounded in-flight window, all futures
      // joined per partition) into the loopback double; the same run also
      // proves the LOG-table duality — an appended no-PK table assigns
      // monotone per-bucket offsets and keeps every duplicate row —
      // unit-proven in FlussSinkSpec.
      import graft.sinks.{FlussSink, MockFlussServer}
      import org.apache.spark.sql.types._
      val server = new MockFlussServer
      try {
        val tid = TableId.parse("app.events")
        val env = eventsChangelog(s, dir)
        val afterT = env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
        val sink = new FlussSink(server.url(), buckets = 4, maxInFlight = 8)
        sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
        Upsert.withMaterialized(env, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels)
        }
        import s.implicits._
        val parsed = server.rowsOf("fluss", "events").toDF("_id", "doc").select(
          from_json(col("doc"),
            StructType(Seq(
              StructField("user_id", LongType), StructField("event_type", StringType),
              StructField("value", DoubleType), StructField("ts", StringType)))).as("d"))
        parsed.select(col("d.user_id").as("user_id"), col("d.event_type").as("event_type"),
          col("d.value").as("value"), col("d.ts").as("ts_str"))
          .orderBy("user_id")
      } finally server.stop()
    }),
    "c_oceanbase_sink" -> ((s, dir) => {
      // dedicated OceanBase pipeline sink end-to-end over the MySQL text
      // wire: tenant discovery (@@ob_compatibility_mode), catalog DDL
      // (CREATE DATABASE/TABLE with keys), batched
      // INSERT .. ON DUPLICATE KEY UPDATE upserts and keyed DELETEs from
      // executor partitions into the loopback OB double; the double's
      // final PK store must equal the changelog's final state
      import graft.sinks.{OceanBaseDataSink, OceanBaseServerDouble}
      import org.apache.spark.sql.types._
      val server = new OceanBaseServerDouble()
      server.start()
      try {
        val tid = TableId.parse("app.events")
        val env = eventsChangelog(s, dir)
        val afterT = env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
        val sink = new OceanBaseDataSink(server.host, server.boundPort, "root")
        // key columns must be NOT NULL in OceanBase (the connector refuses
        // otherwise); the parquet-derived struct is all-nullable, so the
        // declared sink schema tightens the key — as a real pipeline's
        // source schema (pk implies not-null) already would
        val keyedT = StructType(afterT.fields.map(f =>
          if (f.name == "user_id") f.copy(nullable = false) else f))
        sink.applySchemaChange(CreateTableEvent(tid, TableSchema(keyedT, Seq("user_id"))))
        Upsert.withMaterialized(env, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels)
        }
        import s.implicits._
        val rows = server.rowsOf("app", "events").map { r =>
          (r("user_id").get.toLong, r("event_type").orNull,
            r("value").map(_.toDouble).getOrElse(0.0), r("ts").orNull)
        }
        rows.toDF("user_id", "event_type", "value", "ts_str").orderBy("user_id")
      } finally server.stop()
    }),
    "c_kafka_pipeline_sink" -> ((s, dir) => {
      // Kafka pipeline sink end-to-end OVER THE REAL WIRE at EXACTLY-ONCE:
      // the changelog flows as three tracked micro-batches (middle
      // delivered twice — commit-marker replay skip) through the
      // event-level serializer into the loopback broker double as
      // TRANSACTIONAL RecordBatch v2 bytes (CRC32C, murmur2 HASH_BY_KEY
      // placement, per-task transactions with InitProducerId/
      // AddPartitionsToTxn/EndTxn and epoch fencing), is fetched back at
      // READ_COMMITTED via Fetch v4 (control markers dropped, aborted
      // ranges filtered), decoded through the debezium-json READER, and
      // PK-materialized — the full EOS produce/fetch byte contract of the
      // reference's KafkaDataSink (`flink-cdc-pipeline-connector-kafka`,
      // DeliveryGuarantee.EXACTLY_ONCE).
      import graft.sinks.{KafkaBrokerDouble, KafkaDataSink, KafkaJsonFormats, KafkaWireConsumer}
      import org.apache.spark.sql.types._
      val broker = new KafkaBrokerDouble(autoCreatePartitions = 4)
      broker.start()
      try {
        val tid = TableId.parse("app.events")
        val env = eventsChangelog(s, dir)
        val afterT = env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
        // zstd on the wire: the broker stores and serves the compressed
        // batches as-is; the read_committed fetch decodes them back
        val sink = new KafkaDataSink(broker.bootstrap,
          partitionStrategy = "HASH_BY_KEY", deliveryGuarantee = "exactly-once",
          compressionType = "zstd")
        sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
        val total = env.count()
        val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
        var lo = Long.MinValue
        Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
          val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
          sink.writeChangelog(tid, batch, batchId = i.toLong, runId = "verify")
          if (i == 1) // replayed micro-batch: the marker must skip it
            sink.writeChangelog(tid, batch, batchId = i.toLong, runId = "verify")
          lo = hi
        }
        require(sink.lastCommittedBatch(tid, "verify").contains(2L),
          "commit markers must record batch progress")
        // drain every partition at READ_COMMITTED; keys are disjoint
        // across partitions (murmur2 routing), so a per-partition offset
        // is a valid per-key changelog order
        val consumer = new KafkaWireConsumer(broker.bootstrap)
        val recs =
          try (0 until 4).flatMap { p =>
            consumer.readAllCommitted("app.events", p).zipWithIndex.map { case (r, i) =>
              (p.toLong * (1L << 40) + i,
                new String(r.value, java.nio.charset.StandardCharsets.UTF_8))
            }
          } finally consumer.close()
        require(recs.size == total,
          s"every event exactly once on the wire (replay skipped): " +
            s"${recs.size} records vs $total events")
        import s.implicits._
        val wire = recs.toDF("offset", "value")
        val payloadT = StructType(Seq(
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("ts", TimestampType)))
        val env2 = KafkaJsonFormats.fromDebeziumJson(wire, payloadT, col("offset"))
        Upsert.materialize(env2, Seq("user_id"))
          .select(col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
          .orderBy("user_id")
      } finally broker.stop()
    }),
    "c_kafka_stream_source" -> ((s, dir) => {
      // Kafka as a STREAMING CDC source over the real wire: the changelog
      // is produced to a topic through the exactly-once sink (txn batches,
      // control markers interleaved in the offsets), then a standing
      // incremental-framework query TAILS the topic partition through
      // read_committed Fetch — first half live, stream stopped, second
      // half produced while DOWN, checkpoint resume replays exactly the
      // missed suffix — and the PK-materialized state matches the oracle.
      // The Debezium-Connect-topic topology of SURVEY §7.6, end to end.
      import graft.sinks.{KafkaBrokerDouble, KafkaDataSink}
      import graft.sources.kafka.KafkaTopicChangeSource
      import graft.sources.cdc.{ChangeSourceRegistry, GraftCdcProvider}
      import org.apache.spark.sql.types._
      val broker = new KafkaBrokerDouble(autoCreatePartitions = 1)
      broker.start()
      val tid = TableId.parse("app.events")
      val srcId = s"verify-kafkastream-${java.util.UUID.randomUUID()}"
      try {
        val env = eventsChangelog(s, dir)
        val afterT = env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
        val tschema = TableSchema(afterT, Seq("user_id"))
        val sink = new KafkaDataSink(broker.bootstrap,
          deliveryGuarantee = "exactly-once")
        sink.applySchemaChange(CreateTableEvent(tid, tschema))
        val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
        val half = maxSeq / 2
        sink.writeChangelog(tid,
          env.filter(col(Envelope.SeqCol) <= half), batchId = 0L, runId = "src")

        val src = new KafkaTopicChangeSource(
          broker.bootstrap, "app.events", 0, tid, tschema)
        ChangeSourceRegistry.register(srcId, src)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_kstream").toString
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        def run(): Unit = {
          val q = s.readStream.format(classOf[GraftCdcProvider].getName)
            .option("sourceId", srcId)
            .option("startup.mode", "earliest")
            .load()
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              buf ++= b.collect(); ()
            }
            .start()
          q.processAllAvailable()
          q.stop()
        }
        run() // first half over the wire
        val firstHalf = buf.size
        require(firstHalf > 0, "the stream must deliver the produced half")
        // second half (and the changelog's deletes) land while DOWN
        sink.writeChangelog(tid,
          env.filter(col(Envelope.SeqCol) > half), batchId = 1L, runId = "src")
        run() // checkpoint resume: exactly the missed suffix
        require(buf.size == env.count(),
          s"resume must deliver every event exactly once " +
            s"(${buf.size} of ${env.count()}, first run $firstHalf)")
        val delivered = s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(buf.toSeq: _*)),
          Envelope.envelopeSchema(afterT))
        Upsert.materialize(delivered, Seq("user_id"))
          .select(col("user_id"), col("event_type"), col("value"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
          .orderBy("user_id")
      } finally {
        ChangeSourceRegistry.remove(srcId)
        broker.stop()
      }
    }),
    "c_maxcompute_sink" -> ((s, dir) => {
      // MaxCompute tunnel-session family end-to-end: the changelog flows
      // as three batch-tracked upsert SESSIONS (label-idempotent create,
      // PK-hash-bucketed block upload per partition, ordered commit) into
      // the loopback tunnel double, whose PK store applies the __op flag;
      // final store state must equal the one-shot materialization. The
      // middle batch is delivered TWICE to prove replay skip.
      import graft.sinks.{MaxComputeSink, MockTunnelServer}
      import org.apache.spark.sql.types._
      val server = new MockTunnelServer
      try {
        val tid = TableId.parse("app.events")
        val env = eventsChangelog(s, dir)
        val afterT = env.schema(Envelope.AfterCol).dataType.asInstanceOf[StructType]
        val sink = new MaxComputeSink(server.url(), buckets = 8)
        sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
        val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
        var lo = Long.MinValue
        Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
          val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
          Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
            sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
            if (i == 1) // replayed micro-batch: must skip, not double-apply
              sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
          }
          lo = hi
        }
        require(sink.lastCommittedBatch(tid, "verify").contains(2L),
          "the session ids must record batch progress")
        import s.implicits._
        val parsed = server.rowsOf("graft", "events").toDF("_id", "doc").select(
          from_json(col("doc"),
            StructType(Seq(
              StructField("user_id", LongType), StructField("event_type", StringType),
              StructField("value", DoubleType), StructField("ts", StringType)))).as("d"))
        parsed.select(col("d.user_id").as("user_id"), col("d.event_type").as("event_type"),
          col("d.value").as("value"), col("d.ts").as("ts_str"))
          .orderBy("user_id")
      } finally server.stop()
    }),
    "c_lakehouse_upsert" -> ((s, dir) => {
      // the changelog flows as three seq-ordered micro-batches through the
      // lakehouse table format (commit log, hash-bucketed files, file-granular
      // COW MERGE, atomic in-commit txn ids); the table's final snapshot must
      // equal the one-shot materialization — same oracle as c_upsert
      import graft.sinks.LakehouseSink
      val root = java.nio.file.Files.createTempDirectory("graft_lake_q").toString
      val sink = new LakehouseSink(s, root, buckets = 8)
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
        val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
        Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
        }
        lo = hi
      }
      sink.table(tid).read()
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),
    "c_pipeline_iceberg_sink" -> ((s, dir) => {
      // the reference's `sink.type: iceberg` pipeline connector shape: the
      // changelog flows as three micro-batches through the mirrored sink
      // (internal lakehouse staging + one Iceberg snapshot per batch, with
      // inline snapshot expiry keeping the history bounded), and the final
      // state read back through the EXTERNAL Iceberg directory must equal
      // the one-shot materialization — same oracle as c_upsert
      import graft.sinks.{IcebergInterchange, MirroredLakehouseSink}
      val root = java.nio.file.Files.createTempDirectory("graft_ibsink_q").toString
      val sink = new MirroredLakehouseSink(s, root, "iceberg", buckets = 8,
        snapshotsKeep = 2)
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
        val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
        Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
        }
        lo = hi
      }
      val snap = IcebergInterchange.readTable(sink.mirrorDir(tid))
      require(snap.snapshotId >= 0, "the mirror must hold a current snapshot")
      IcebergInterchange.importIceberg(s, sink.mirrorDir(tid))
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),

    "c_pipeline_paimon_sink" -> ((s, dir) => {
      // the reference's `sink.type: paimon` pipeline connector shape
      // (PaimonDataSink.java): the changelog flows as three micro-batches
      // through the mirrored sink — internal lakehouse staging + one
      // PAIMON snapshot per batch (snapshot/schema/manifest layout,
      // level-0 key-value files, commitIdentifier exactly-once marker) —
      // and the final state read back through the EXTERNAL Paimon
      // directory's LSM merge must equal the one-shot materialization
      import graft.sinks.{MirroredLakehouseSink, PaimonInterchange}
      val root = java.nio.file.Files.createTempDirectory("graft_pmsink_q").toString
      val sink = new MirroredLakehouseSink(s, root, "paimon", buckets = 8)
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
        val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
        Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
        }
        lo = hi
      }
      val snap = PaimonInterchange.readTable(sink.mirrorDir(tid))
      require(snap.snapshotId >= 1, "the mirror must hold a current snapshot")
      PaimonInterchange.importPaimon(s, sink.mirrorDir(tid))
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),

    "c_pipeline_delta_sink" -> ((s, dir) => {
      // `sink.type: delta`: same flow, mirrored as one Delta commit per
      // batch with INLINE checkpoint maintenance (every 2 commits a classic
      // checkpoint + log cleanup) — the final state reads back through the
      // checkpoint-seeded replay, and exactly-once txn bookkeeping is
      // visible in the external log
      import graft.sinks.{DeltaInterchange, MirroredLakehouseSink}
      val root = java.nio.file.Files.createTempDirectory("graft_dlsink_q").toString
      val sink = new MirroredLakehouseSink(s, root, "delta", buckets = 8,
        checkpointEvery = 2)
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
        val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
        Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
        }
        lo = hi
      }
      val snap = DeltaInterchange.readLog(s, sink.mirrorDir(tid))
      require(snap.txns.get("verify").contains(2L),
        "the last batch id must be visible in the external Delta log")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(
        sink.mirrorDir(tid), "_delta_log", "_last_checkpoint")),
        "inline maintenance must have checkpointed")
      DeltaInterchange.importDelta(s, sink.mirrorDir(tid))
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),

    "c_cli_pipeline" -> ((s, dir) => {
      // the CLI front-end end to end (`flink-cdc.sh pipeline.yaml` —
      // CliFrontend.java:67-88): a YAML definition FILE on disk, a global
      // config merged under it, the manifest-stamped checkpoint, transform +
      // route, and the parquet sink — the full user entry path, oracled
      // against the equivalent SQL over the same table.
      // The filter spells CAST(2 AS BIGINT): the dialect's `=`/`<>` is Java
      // object equality (SystemFunctionUtils.valueEquals:754), so a BIGINT
      // column never equals a bare INT literal — the untyped spelling would
      // be a no-op filter in the reference too (see graft.functions
      // .StrictEquality and c_conformance_comparison_functions)
      import graft.pipeline.CliFrontend
      import graft.sources.cdc.{ChangeSourceRegistry, ScriptedChangeSource}
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
      val rows = nation.collect().map(r => Map[String, Any](
        "n_nationkey" -> r.getLong(0), "n_name" -> r.getString(1),
        "n_regionkey" -> r.getLong(2)))
      val tid = TableId.parse("tpch.nation")
      val src = new ScriptedChangeSource(
        tid, TableSchema(nation.schema, Seq("n_nationkey")), rows.toSeq)
      val id = s"cli-gate-${java.util.UUID.randomUUID().toString.take(8)}"
      ChangeSourceRegistry.register(id, src)
      try {
        val root = java.nio.file.Files.createTempDirectory("graft_cli_q")
        val out = s"$root/out"
        java.nio.file.Files.write(root.resolve("global.yaml"),
          "parallelism: 4\n".getBytes("UTF-8"))
        java.nio.file.Files.write(root.resolve("p.yaml"),
          s"""source:
             |  type: cdc
             |  sourceId: $id
             |  chunk.size: 7
             |sink:
             |  type: parquet
             |  path: $out
             |  buckets: 2
             |transform:
             |  - source-table: tpch.\\.*
             |    projection: "*, UPPER(n_name) AS uname"
             |    filter: "n_regionkey <> CAST(2 AS BIGINT)"
             |route:
             |  - source-table: tpch.nation
             |    sink-table: tpch.nation_out
             |pipeline:
             |  name: cli-gate
             |  checkpoint.dir: $root/ck
             |""".stripMargin.getBytes("UTF-8"))
        val info = CliFrontend.run(Seq(
          s"$root/p.yaml", "--global-config", s"$root/global.yaml"))(s)
        require(info.exists(_.id == "cli-gate"), "the CLI must report the pipeline name")
        require(CliFrontend.readManifest(s"$root/ck").isDefined,
          "the CLI must stamp the state manifest")
        val tdir = java.nio.file.Paths.get(out, "tpch_nation_out")
        val v = new String(java.nio.file.Files.readAllBytes(
          tdir.resolve("_VERSION"))).trim.toInt
        s.read.parquet(tdir.resolve(s"v$v").toString)
          .select("n_nationkey", "n_name", "n_regionkey", "uname")
          .orderBy("n_nationkey")
      } finally ChangeSourceRegistry.remove(id)
    }),

    "c_savepoint_kill" -> ((s, dir) => {
      // savepoint restore UNDER KILL: the pipeline dies in the window
      // after its sink write but before the checkpoint commit (commits/N
      // lost), then restores with --claim-mode claim. Structured
      // Streaming re-delivers the uncommitted batch — handing its offsets
      // to the source as SerializedOffset json, the crash-recovery path a
      // blind offset cast used to die on — the PK-upsert sink absorbs the
      // redelivery exactly once, and the rows appended after the kill
      // flow in the continued lineage. Final state = one-shot oracle.
      import graft.pipeline.CliFrontend
      import graft.sources.cdc.{ChangeSourceRegistry, ScriptedChangeSource}
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
      val all = nation.collect().map(r => Map[String, Any](
        "n_nationkey" -> r.getLong(0), "n_name" -> r.getString(1),
        "n_regionkey" -> r.getLong(2)))
      val (firstRows, lateRows) = all.partition(
        _("n_nationkey").asInstanceOf[Long] < 13L)
      val tid = TableId.parse("tpch.nation")
      val src = new ScriptedChangeSource(
        tid, TableSchema(nation.schema, Seq("n_nationkey")), firstRows.toSeq)
      val id = s"kill-gate-${java.util.UUID.randomUUID().toString.take(8)}"
      ChangeSourceRegistry.register(id, src)
      try {
        val root = java.nio.file.Files.createTempDirectory("graft_kill_q")
        val out = s"$root/out"; val ck = s"$root/ck"
        def yaml(name: String, withCk: Boolean): String = {
          val p = root.resolve(name)
          java.nio.file.Files.write(p,
            s"""source:
               |  type: cdc
               |  sourceId: $id
               |sink:
               |  type: parquet
               |  path: $out
               |  buckets: 2
               |pipeline:
               |  name: kill-gate${if (withCk) s"\n  checkpoint.dir: $ck" else ""}
               |""".stripMargin.getBytes("UTF-8"))
          p.toString
        }
        CliFrontend.run(Seq(yaml("p1.yaml", withCk = true)))(s)
        // the kill: drop the newest commit (and the local-FS crc sidecar)
        val commits = java.nio.file.Paths.get(ck, "commits")
        import scala.jdk.CollectionConverters._
        val last = java.nio.file.Files.list(commits).iterator()
          .asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit))
          .map(_.toLong).max
        java.nio.file.Files.delete(commits.resolve(last.toString))
        java.nio.file.Files.deleteIfExists(commits.resolve(s".$last.crc"))
        lateRows.foreach(r => src.append(DataChangeEvent.insert(tid, r)))
        CliFrontend.run(Seq(yaml("p2.yaml", withCk = false),
          "--from-savepoint", ck, "--claim-mode", "claim"))(s)
        val tdir = java.nio.file.Paths.get(out, "tpch_nation")
        val v = new String(java.nio.file.Files.readAllBytes(
          tdir.resolve("_VERSION"))).trim.toInt
        s.read.parquet(tdir.resolve(s"v$v").toString)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      } finally ChangeSourceRegistry.remove(id)
    }),

    "c_lakehouse_concurrent" -> ((s, dir) => {
      // optimistic concurrency under REAL contention: eight writer threads
      // race MERGE commits into ONE table (writer w owns the users with
      // user_id % 8 == w, two seq-ordered batches each — 16 commits whose
      // interleaving the scheduler picks). A loser of the version-claim race
      // discards its files and re-merges on the new state, so the final
      // snapshot must equal the one-shot materialization REGARDLESS of the
      // interleaving — the serializable-writers guarantee a multi-job
      // 100 TB lakehouse needs. Per-writer txn runIds stay exactly-once.
      import graft.sinks.LakehouseSink
      val root = java.nio.file.Files.createTempDirectory("graft_lake_conc").toString
      val sink = new LakehouseSink(s, root, buckets = 8)
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir).filter(col("user_id") < 400)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val writers = (0 until 8).map { w =>
        new Thread(() => {
          try {
            val mine = env.filter(pmod(col("user_id"), lit(8)) === w)
            var lo = Long.MinValue
            Seq(maxSeq / 2, maxSeq).zipWithIndex.foreach { case (hi, i) =>
              val batch = mine.filter(
                col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
              Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
                // keys hash across every bucket, so all 16 commits genuinely
                // conflict and must serialize — budget one retry per rival
                // commit (Delta's ConcurrentAppend semantics, not starvation)
                sink.table(tid).merge(ups, dels,
                  txn = Some((s"w$w", i.toLong)), maxAttempts = 40)
              }
              lo = hi
            }
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      writers.foreach(_.start())
      writers.foreach(_.join())
      if (!failures.isEmpty) throw failures.peek()
      sink.table(tid).read()
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),
    "s_lakehouse_changelog" -> ((s, dir) => {
      // the MERGE-table row-level changelog (Delta CDF / Paimon
      // changelog-producer shape — file add/remove diffs cannot express row
      // changes on a PK table): the same three micro-batches as
      // c_lakehouse_upsert land on a changelog-enabled table, then the FULL
      // changelog is replayed from version -1 — per key the latest commit's
      // post/insert row wins and a latest delete drops — and the replay
      // must equal the one-shot materialization. Proves the change data is
      // complete, ordered, and delete-carrying across commits.
      import graft.sinks.LakehouseSink
      val root = java.nio.file.Files.createTempDirectory("graft_lake_cdcq").toString
      val sink = new LakehouseSink(s, root, buckets = 8, changelog = true)
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
        val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
        Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
          sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
        }
        lo = hi
      }
      val tb = sink.table(tid)
      val (changes, _) = tb.readChangelogSince(-1L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("_commit_version").desc)
      changes.filter(col("_change_type") =!= "update_preimage")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("_change_type") =!= "delete")
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),
    "c_bucketed_join" -> ((s, dir) => {
      // STORAGE-PARTITIONED JOIN over the bucket layout
      // ([[graft.sinks.LakehouseBucketed]]): two PK tables share the
      // bucketing the MERGE path maintains; reading them through the
      // bucket-aware catalog joins them with NO exchange on either side —
      // the require fails the gate if a shuffle ever reappears. At 100 TB
      // this is the difference between a fact-fact join shuffling twice and
      // not shuffling at all.
      import graft.sinks.{LakehouseBucketed, LakehouseTable}
      val ev = t(s, dir, "events").filter(col("user_id") < 500)
      val da = java.nio.file.Files.createTempDirectory("graft_bkj_a").toString + "/t"
      val db = java.nio.file.Files.createTempDirectory("graft_bkj_b").toString + "/t"
      val ta = new LakehouseTable(s, da)
      ta.create(TableSchema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "user_id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(
            "event_type", org.apache.spark.sql.types.StringType))),
        primaryKeys = Seq("user_id")), buckets = 8)
      val tb = new LakehouseTable(s, db)
      tb.create(TableSchema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "user_id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(
            "n", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(
            "last_event", org.apache.spark.sql.types.LongType))),
        primaryKeys = Seq("user_id")), buckets = 8)
      ta.merge(
        ev.groupBy(col("user_id"))
          .agg(expr("max_by(event_type, event_id)").as("event_type")),
        ev.limit(0).select(col("user_id")))
      tb.merge(
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), max(col("event_id")).as("last_event")),
        ev.limit(0).select(col("user_id")))
      // clustered compaction: one PK-sorted file per bucket, so the scans
      // also report PK-ascending ordering and the merge join drops its
      // Sort nodes — the layout satisfies BOTH join requirements
      ta.compact(maxFilesPerBucket = 1, full = true)
      tb.compact(maxFilesPerBucket = 1, full = true)
      val joined = LakehouseBucketed.table(s, da)
        .join(LakehouseBucketed.table(s, db), "user_id")
        .select(col("user_id"), col("event_type"), col("n"), col("last_event"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed join must be storage-partitioned (no shuffle), got:\n$plan")
      require(!plan.contains("Sort "),
        s"clustered bucketed join must not re-sort, got:\n$plan")
      joined.orderBy("user_id")
    }),
    "c_lakehouse_out_of_order" -> ((s, dir) => {
      // sequence-field last-wins under OUT-OF-ORDER delivery (Paimon's
      // sequence.field): events split into three interleaved slices by
      // event_id % 3, committed in REVERSE slice order — commit order
      // maximally disagrees with event order, and every batch carries many
      // rows per user. The winner per user must still be the globally
      // largest event_id; plain commit-order last-wins would keep slice 0's
      // maxima instead and fail the oracle.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_ooo").toString + "/t"
      val tb = new LakehouseTable(s, root)
      tb.create(
        TableSchema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "user_id", org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField(
              "event_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              "event_type", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField(
              "value", org.apache.spark.sql.types.DoubleType))),
          primaryKeys = Seq("user_id")),
        buckets = 8, sequenceField = Some("event_id"))
      val ev = t(s, dir, "events").filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      Seq(2, 1, 0).foreach { slice =>
        tb.merge(ev.filter(pmod(col("event_id"), lit(3)) === slice),
          ev.limit(0).select(col("user_id")))
      }
      tb.read()
        .select(col("user_id"), col("event_id").as("last_event"),
          col("event_type"), col("value"))
        .orderBy("user_id")
    }),
    "c_lakehouse_agg" -> ((s, dir) => {
      // the aggregation merge engine (Paimon's metrics-rollup table): three
      // event batches fold into per-user running aggregates — n summed,
      // last_event maxed, total summed as exact decimal — so the table IS
      // the rollup, maintained incrementally by MERGE instead of recomputed
      // by a full GROUP BY each time. Must equal the one-shot GROUP BY.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_agg").toString + "/t"
      val tb = new LakehouseTable(s, root)
      tb.create(
        TableSchema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "user_id", org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField(
              "n", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              "last_event", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              "total", org.apache.spark.sql.types.DecimalType(18, 2)))),
          primaryKeys = Seq("user_id")),
        buckets = 8, mergeEngine = "aggregate",
        aggregations = Map("n" -> "sum", "last_event" -> "max", "total" -> "sum"))
      val ev = t(s, dir, "events").filter(col("user_id") < 150)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxId / 3, 2 * maxId / 3, maxId).foreach { hi =>
        // each batch pre-aggregates ITS slice per key (batches must be
        // PK-unique); the engine folds batches together across merges
        val batch = ev.filter(col("event_id") > lo && col("event_id") <= hi)
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n"),
            max(col("event_id")).as("last_event"),
            sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total"))
        tb.merge(batch, batch.limit(0).select(col("user_id")))
        lo = hi
      }
      tb.read()
        // comparison surface casts DECIMAL→DOUBLE (the q1_agg convention: the
        // driver's hash canonicalizes decimal128 differently from its DuckDB
        // oracle); the table keeps the exact-decimal rollup internally and
        // LakehouseSpec asserts it equals the one-shot GROUP BY exactly.
        .select(col("user_id"), col("n"), col("last_event"),
          col("total").cast("double").as("total"))
        .orderBy("user_id")
    }),
    "c_lakehouse_partial_update" -> ((s, dir) => {
      // the partial-update merge engine (Paimon's CDC wide-table assembly):
      // each user's events arrive as COLUMN-WISE updates — even event_ids
      // carry only event_type, odd only value — split into three PK-unique
      // batches (the user's 1st/2nd/3rd event). The assembled table must
      // hold, per user and PER COLUMN, the last non-null value: a last-wins
      // engine would wipe the other column on every batch.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_pu").toString + "/t"
      val tb = new LakehouseTable(s, root)
      tb.create(
        TableSchema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "user_id", org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField(
              "event_type", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField(
              "value", org.apache.spark.sql.types.DoubleType))),
          primaryKeys = Seq("user_id")),
        buckets = 8, mergeEngine = "partial-update")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val updates = t(s, dir, "events")
        .filter(col("user_id") < 150)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("rn"), col("user_id"),
          when(col("event_id") % 2 === 0, col("event_type")).as("event_type"),
          when(col("event_id") % 2 === 1, col("value").cast("double")).as("value"))
      (1 to 3).foreach { i =>
        tb.merge(
          updates.filter(col("rn") === i).drop("rn"),
          updates.limit(0).select(col("user_id")))
      }
      tb.read().orderBy("user_id")
    }),
    "c_lakehouse_mor_delete" -> ((s, dir) => {
      // the MERGE-ON-READ delete path at the oracle gate: each micro-batch
      // applies upserts by COW merge and deletes as O(batch) equality-delete
      // FILES (no bucket rewrite); a mid-run compaction materializes the
      // outstanding deletes. The sequence rule (a delete masks only files
      // committed before it) must make delete→re-upsert→delete interleavings
      // across batches land on the same last-event-wins final state.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_mor").toString + "/t"
      val tb = new LakehouseTable(s, root)
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      tb.create(TableSchema(afterT, Seq("user_id")), buckets = 8)
      val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
        val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
        Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
          if (!ups.isEmpty) tb.merge(ups, ups.limit(0).select(col("user_id")))
          if (!dels.isEmpty) tb.deleteWhere(dels.select(col("user_id")))
        }
        if (i == 1) tb.compact() // materialize mid-run
        lo = hi
      }
      tb.read()
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),
    "s_lakehouse_changelog_stream" -> ((s, dir) => {
      // the changelog consumed through the REAL streaming runtime
      // (graft-lakehouse mode=changelog): same scenario as
      // s_lakehouse_changelog, but the change rows arrive as micro-batches
      // with commit versions as offsets; the accumulated memory sink,
      // replay-materialized, must equal the same final-state oracle.
      import graft.sinks.LakehouseSink
      val root = java.nio.file.Files.createTempDirectory("graft_lake_cdcs").toString
      val sink = new LakehouseSink(s, root, buckets = 8, changelog = true)
      val tid = TableId.parse("app.events")
      val env = eventsChangelog(s, dir)
      val afterT = env.schema(Envelope.AfterCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sink.applySchemaChange(CreateTableEvent(tid, TableSchema(afterT, Seq("user_id"))))
      val name = "slcs_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.format("graft-lakehouse")
        .option("path", sink.table(tid).dir)
        .option("mode", "changelog")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        val maxSeq = env.agg(max(col(Envelope.SeqCol))).head().getLong(0)
        var lo = Long.MinValue
        Seq(maxSeq / 3, 2 * maxSeq / 3, maxSeq).zipWithIndex.foreach { case (hi, i) =>
          val batch = env.filter(col(Envelope.SeqCol) > lo && col(Envelope.SeqCol) <= hi)
          Upsert.withMaterialized(batch, Seq("user_id")) { (ups, dels) =>
            sink.writeBatch(tid, ups, dels, batchId = i.toLong, runId = "verify")
          }
          q.processAllAvailable()
          lo = hi
        }
      } finally q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("_commit_version").desc)
      s.table(name).filter(col("_change_type") =!= "update_preimage")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("_change_type") =!= "delete")
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .orderBy("user_id")
    }),
    "c_lakehouse_append" -> ((s, dir) => {
      // append-table mode + maintenance: the raw events table lands in three
      // APPEND commits on a PK-less table (content-hash bucketing, atomic txn
      // ids, one file per touched bucket per commit — fragmentation by
      // design), then compact() bin-packs every bucket to one file. The
      // compacted read must equal the plain table — compaction is a metadata
      // swap, byte-identical data.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_app").toString
      val tb = new LakehouseTable(s, root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      tb.create(TableSchema(ev.schema, primaryKeys = Seq.empty), buckets = 8)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxId / 3, 2 * maxId / 3, maxId).zipWithIndex.foreach { case (hi, i) =>
        tb.append(
          ev.filter(col("event_id") > lo && col("event_id") <= hi),
          txn = Some(("verify", i.toLong)))
        lo = hi
      }
      val (nBefore, nAfter) = tb.compact()
      require(nBefore > nAfter && nAfter > 0,
        s"append commits should fragment buckets then compact ($nBefore -> $nAfter)")
      tb.read().orderBy("event_id")
    }),
    "c_lakehouse_zorder" -> ((s, dir) => {
      // z-order clustering: after the rewrite each file is a Z-curve tile,
      // so range predicates on BOTH clustered columns prune files — the
      // multi-dimension data skipping a single sort order cannot give.
      // Output is the full table (the rewrite is data-identical).
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_z").toString
      val tb = new LakehouseTable(s, root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      tb.create(TableSchema(ev.schema, primaryKeys = Seq.empty), buckets = 8)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxId / 3, 2 * maxId / 3, maxId).foreach { hi =>
        tb.append(ev.filter(col("event_id") > lo && col("event_id") <= hi).coalesce(2))
        lo = hi
      }
      val files = tb.zorderCompact(Seq("user_id", "event_id"), targetFiles = 16)
      require(files > 4, s"z-order should tile into several files, got $files")
      val st = ev.agg(min(col("user_id")), max(col("user_id")),
        min(col("event_id")), max(col("event_id"))).head()
      val uSpan = math.max((st.getLong(1) - st.getLong(0)) / 16, 1L)
      val eSpan = math.max((st.getLong(3) - st.getLong(2)) / 16, 1L)
      val uP = tb.prunedFilesBetween("user_id", st.getLong(0), st.getLong(0) + uSpan).size
      val eP = tb.prunedFilesBetween("event_id", st.getLong(2), st.getLong(2) + eSpan).size
      require(uP <= files / 2 && eP <= files / 2,
        s"both z-order dimensions must prune ($uP and $eP of $files files)")
      tb.read().orderBy("event_id")
    }),
    "c_lakehouse_bloom" -> ((s, dir) => {
      // bloom-filter file index: document fingerprints are uniformly
      // scattered, so every file's [min,max] admits any probe and zone maps
      // cannot prune — the per-file bloom sidecars prove definite absence
      // instead. Three append commits; an absent fingerprint must probe ZERO
      // files, a present one a strict subset, and the point read returns
      // exactly that fingerprint's documents.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_bloom").toString
      val tb = new LakehouseTable(s, root)
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      tb.create(TableSchema(d.schema, primaryKeys = Seq.empty), buckets = 4,
        bloomColumns = Seq("fp"))
      (0 to 2).foreach(i =>
        tb.append(d.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1)))
      require(tb.snapshot().files.forall(_.bloom), "every file carries a bloom sidecar")
      val probe = d.filter(col("doc_id") === 42).head().getString(1)
      val absent = s.range(1)
        .select(graft.functions.TextFunctions.fingerprint(lit("graft absent probe")))
        .head().getString(0)
      require(tb.prunedFiles("fp", absent).isEmpty,
        "an absent fingerprint must probe zero files through the blooms")
      require(tb.prunedFiles("fp", probe).size < tb.snapshot().files.size,
        "a present fingerprint must not scan the whole table")
      tb.readWhere("fp", probe).select(col("doc_id"), col("fp")).orderBy("doc_id")
    }),
    "s_lakehouse_cdf" -> ((s, dir) => {
      // incremental consumption (Delta-CDF shape): three append commits with
      // a compaction in the middle, drained through readChangesSince with a
      // version cursor as the checkpoint. The compaction commit must deliver
      // ZERO net-new rows, and the union of increments must equal the full
      // events slice — the bronze-to-silver handoff without history rescans.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_cdf").toString
      val tb = new LakehouseTable(s, root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      tb.create(TableSchema(ev.schema, primaryKeys = Seq.empty), buckets = 8)
      var cursor = tb.latestVersion()
      val increments = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      var lo = Long.MinValue
      Seq(maxId / 3, 2 * maxId / 3, maxId).zipWithIndex.foreach { case (hi, i) =>
        tb.append(ev.filter(col("event_id") > lo && col("event_id") <= hi),
          txn = Some(("cdf", i.toLong)))
        if (i == 1) {
          tb.compact()
          val before = cursor
          val (chg, _) = tb.readChangesSince(tb.latestVersion() - 1)
          require(chg.isEmpty, "a compaction commit must deliver zero net-new rows")
          cursor = before
        }
        val (chg, v) = tb.readChangesSince(cursor)
        increments += chg
        cursor = v
        lo = hi
      }
      increments.reduce(_ unionByName _).orderBy("event_id")
    }),
    "s_lakehouse_stream" -> ((s, dir) => {
      // the change feed as a STANDING StreamingQuery (graft-lakehouse source,
      // [[graft.streaming.LakehouseStreamSource]]): commit versions are the
      // offsets, maxCommitsPerBatch=1 forces one commit per micro-batch, and
      // the mid-stream compaction must flow through the real streaming
      // runtime as an offset advance delivering ZERO rows. The memory sink's
      // accumulated batches must equal the full events slice — the
      // bronze-to-silver handoff as a continuous pipeline, not a poll loop.
      import graft.sinks.LakehouseTable
      val root = java.nio.file.Files.createTempDirectory("graft_lake_stream").toString
      val tb = new LakehouseTable(s, root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      tb.create(TableSchema(ev.schema, primaryKeys = Seq.empty), buckets = 8)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val name = "sls_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.format("graft-lakehouse")
        .option("path", root)
        .option("startingVersion", "0")
        .option("maxCommitsPerBatch", "1")
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var lo = Long.MinValue
        Seq(maxId / 3, 2 * maxId / 3, maxId).zipWithIndex.foreach { case (hi, i) =>
          tb.append(ev.filter(col("event_id") > lo && col("event_id") <= hi),
            txn = Some(("stream", i.toLong)))
          if (i == 1) tb.compact() // data-identical rewrite mid-stream
          q.processAllAvailable()
          lo = hi
        }
      } finally q.stop()
      s.table(name).orderBy("event_id")
    }),
    "s_rollup_view" -> ((s, dir) => {
      // streaming MATERIALIZED ROLLUP ([[graft.streaming.MaterializedRollup]]):
      // events land in a lakehouse append table as three commits; a standing
      // maintenance query folds each increment into an aggregate-engine
      // rollup (count + max + exact-decimal sum) keyed by user, is KILLED
      // after the second commit, and a restarted maintainer folds the
      // down-time commit exactly once (batch-id txn replay-skip). The final
      // table must equal the one-shot GROUP BY the oracle computes — the
      // incremental view and the recomputed view are indistinguishable.
      import graft.sinks.LakehouseTable
      import graft.streaming.MaterializedRollup
      import graft.streaming.MaterializedRollup.RollupSpec
      val root = java.nio.file.Files.createTempDirectory("graft_rollup_src").toString
      val out = java.nio.file.Files.createTempDirectory("graft_rollup_tgt").toString + "/t"
      val tb = new LakehouseTable(s, root)
      val ev = t(s, dir, "events").filter(col("user_id") < 200)
        .select(col("event_id"), col("user_id"), col("value"))
      tb.create(TableSchema(ev.schema, primaryKeys = Seq.empty), buckets = 8)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val spec = RollupSpec(
        keys = Seq("user_id"),
        aggs = Map("event_id" -> "max", "value" -> "sum"),
        countCol = Some("n"),
        decimalSum = Map("value" -> (18, 2)))
      tb.append(ev.filter(col("event_id") <= maxId / 3)) // pre-start backfill
      val q1 = MaterializedRollup.maintain(s, root, out, spec, buckets = 8)
      try {
        q1.processAllAvailable()
        tb.append(ev.filter(col("event_id") > maxId / 3 &&
          col("event_id") <= 2 * maxId / 3)) // tail phase
        q1.processAllAvailable()
      } finally q1.stop()
      tb.append(ev.filter(col("event_id") > 2 * maxId / 3)) // while DOWN
      val q2 = MaterializedRollup.maintain(s, root, out, spec, buckets = 8)
      try q2.processAllAvailable() finally q2.stop()
      new LakehouseTable(s, out).read()
        .select(col("user_id"), col("event_id").as("last_event"),
          col("value").cast("double").as("total"), col("n"))
        .orderBy("user_id")
    }),
    "s_rollup_distinct" -> ((s, dir) => {
      // incremental APPROX-DISTINCT rollup: per event_type, the count of
      // distinct users, maintained as an HLL sketch column the merge engine
      // UNIONS per batch — distinct-count is not distributive over raw
      // values, so this is the one rollup a naive sum-of-partials cannot
      // maintain; users appearing in several commits are counted once. The
      // maintainer is killed after the second commit (third lands while
      // down) and restarted. At this cardinality (150 users/type) the
      // sketch is in its exact mode, so the estimate EQUALS the oracle's
      // COUNT(DISTINCT) — the correctness gate covers the full path, not a
      // tolerance band.
      import graft.sinks.LakehouseTable
      import graft.streaming.MaterializedRollup
      import graft.streaming.MaterializedRollup.RollupSpec
      val root = java.nio.file.Files.createTempDirectory("graft_hll_src").toString
      val out = java.nio.file.Files.createTempDirectory("graft_hll_tgt").toString + "/t"
      val tb = new LakehouseTable(s, root)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
      tb.create(TableSchema(ev.schema, primaryKeys = Seq.empty), buckets = 8)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val spec = RollupSpec(
        keys = Seq("event_type"),
        aggs = Map("user_id" -> "approx_distinct"),
        countCol = Some("n"))
      tb.append(ev.filter(col("event_id") <= maxId / 3))
      val q1 = MaterializedRollup.maintain(s, root, out, spec, buckets = 4)
      try {
        q1.processAllAvailable()
        tb.append(ev.filter(col("event_id") > maxId / 3 &&
          col("event_id") <= 2 * maxId / 3))
        q1.processAllAvailable()
      } finally q1.stop()
      tb.append(ev.filter(col("event_id") > 2 * maxId / 3)) // while DOWN
      val q2 = MaterializedRollup.maintain(s, root, out, spec, buckets = 4)
      try q2.processAllAvailable() finally q2.stop()
      MaterializedRollup.readView(s, out, spec)
        .select(col("event_type"), col("user_id").as("approx_users"), col("n"))
        .orderBy("event_type")
    }),
    "c_route" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val router = new TableIdRouter(Seq(
        RouteRule("app.\\.*", "ods.ods_<>", Some("<>")),
        RouteRule("app.customer", "audit.customers")))
      val envE = eventsChangelog(s, dir)
      val envC = Envelope.fromSnapshot(
        t(s, dir, "customer"), TableId.parse("app.customer"), col("c_custkey"))
      val all = envE.select(col(Envelope.TableIdCol)).unionByName(
        envC.select(col(Envelope.TableIdCol)))
      val routed = router.annotate(
        all, Seq(TableId.parse("app.events"), TableId.parse("app.customer")))
      routed.groupBy(col("sinkTableId")).agg(count(lit(1)).as("n")).orderBy("sinkTableId")
    }),
    "c_chunks" -> ((s, dir) => {
      import ChunkSplitter._
      // chunk on the physical leading-PK column so every chunk's range
      // predicate reaches the parquet scan as a PushedFilter (row-group skip);
      // ranges are disjoint+covering, so duplicate orderkeys stay in one chunk
      val li = t(s, dir, "lineitem")
      val (mn, mx, cnt) = analyze(li, "l_orderkey")
      val splits = generateSplits(mn, mx, cnt, Config(chunkSize = 8096),
        dataFrameProbe(li, "l_orderkey"))
      // maxBranches = 1: the splitter's output is contiguous AND covering,
      // so the fully-coalesced union is ONE range (lossless —
      // `coalesceRanges` merges [a,b)+[b,c) only when contiguous; boundary
      // fidelity itself is pinned value-level by `c_chunk_boundaries`).
      // For a splittable columnar scan the union branches buy no
      // parallelism (file splits do), and with this table's single row
      // group every branch decoded the FULL table: 32 branches measured
      // 1.59 CPU-s r18-before vs one branch ≈ a plain scan. At 100 TB a
      // plain scan reads each row once while a 32-branch union re-reads
      // every row group that straddles a boundary — fewer branches is the
      // scale-correct plan, not a local tune.
      unionOfChunks(li, "l_orderkey", splits, maxBranches = 1)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "c_chunk_boundaries" -> ((s, dir) => {
      import ChunkSplitter._
      import s.implicits._
      // chunk BOUNDARY pinning (not just coverage): the uneven path must
      // advance by the reference's INCLUSIVE probe (`queryNextChunkMax` is
      // `WHERE pk >= ? LIMIT chunkSize`, `MySqlChunkSplitter.nextChunkEnd
      // :335`) — over unique keys the boundaries land at row rank chunkSize,
      // then every (chunkSize-1) ranks; the even path steps min + i*dynamic
      // with dynamic = (factor * chunkSize).toInt and factor at 4dp ceiling
      // (`calculateDistributionFactor:480`). o_orderkey is dense 0..cnt-1 at
      // every SF, so factor = 1.0 exactly and dynamic = chunkSize — both
      // paths have a closed-form DuckDB oracle.
      val o = t(s, dir, "orders")
      val (mn, mx, cnt) = analyze(o, "o_orderkey")
      val uneven = generateSplits(mn, mx, cnt,
        Config(chunkSize = 1000, distributionFactorUpper = 0.5),
        dataFrameProbe(o, "o_orderkey"))
      val even = generateSplits(mn, mx, cnt, Config(chunkSize = 1000),
        dataFrameProbe(o, "o_orderkey"))
      val rows =
        uneven.zipWithIndex.map { case (c, i) => ("uneven", i, c.start, c.end) } ++
          even.zipWithIndex.map { case (c, i) => ("even", i, c.start, c.end) }
      rows.toDF("path", "chunk_idx", "start_key", "end_key")
        .orderBy("path", "chunk_idx")
    }),
    "c_snapshot" -> ((s, dir) => {
      Envelope.fromSnapshot(t(s, dir, "nation"), TableId.parse("app.nation"),
        col("n_nationkey"))
        .selectExpr("tableId", "op", "seq", "after.n_nationkey AS n_nationkey",
          "after.n_name AS n_name", "after.n_regionkey AS n_regionkey")
        .orderBy("n_nationkey")
    }),
    "c_schema_coerce" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val target = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", LongType), // widened int -> bigint
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType),
        StructField("loyalty_tier", StringType))) // added, null-filled
      SchemaDerivator.coerce(t(s, dir, "customer"), target).orderBy("c_custkey")
    }),
    "s_lenient_union" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val c = t(s, dir, "customer")
      val target = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      // old shape: no c_mktsegment (pre-evolution rows), new shape: full
      val oldShape = SchemaDerivator.coerce(
        c.filter(col("c_custkey") % 2 === 0).drop("c_mktsegment"), target)
      val newShape = SchemaDerivator.coerce(c.filter(col("c_custkey") % 2 === 1), target)
      oldShape.unionByName(newShape).orderBy("c_custkey")
    }))

  // ===========================================================================

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_topk" ->
      """SELECT c_custkey, c_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_spend
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name ORDER BY total_spend DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "q_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_suppkey""".stripMargin,
    "q_events_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "t_projection" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  c_name || '_' || c_mktsegment AS c_tag, UPPER(c_mktsegment) AS seg_u,
        |  LOWER(c_name) AS name_l, LENGTH(c_name) AS name_len,
        |  SUBSTR(c_name, 1, 5) AS name5, TRIM(c_mktsegment) AS seg_t
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "t_filter" ->
      """SELECT * FROM customer
        |WHERE c_acctbal BETWEEN 1000 AND 5000
        |  AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING') AND c_custkey % 2 = 0
        |ORDER BY c_custkey""".stripMargin,
    "t_like_regex" ->
      """SELECT * FROM customer
        |WHERE regexp_matches(c_mktsegment, 'BU.LD') OR regexp_matches(c_name, '1$')
        |ORDER BY c_custkey""".stripMargin,
    "t_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity + l_tax AS add_qt,
        |  l_extendedprice - l_discount AS sub_pd,
        |  l_quantity * l_discount AS mul_qd,
        |  l_extendedprice / (l_discount + 1.0) AS div_pd,
        |  l_linenumber % 3 AS mod_l3,
        |  ABS(l_discount - 0.5) AS abs_d,
        |  CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT) AS ceil_p,
        |  CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS floor_p,
        |  ROUND(l_extendedprice, 1) AS round_p
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t_temporal" ->
      """SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day_str,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  CAST(ts AS DATE) AS day_date,
        |  year(ts) AS y, month(ts) AS m, day(ts) AS d,
        |  datediff('day', CAST(ts AS DATE), DATE '2024-03-01') AS days_to_march,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_s,
        |  strftime(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS rt_str,
        |  CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts_plus_day,
        |  CAST(floor((epoch(TIMESTAMP '2024-02-15 00:00:00') - epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT) AS tsdiff_days,
        |  CAST(ts AS TIMESTAMP) + INTERVAL 3 HOUR AS ts_plus_3h
        |FROM events ORDER BY event_id""".stripMargin,
    "t_conditional" ->
      """SELECT o_orderkey,
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled' ELSE 'other' END AS status_name,
        |  CASE WHEN o_totalprice > 100000 THEN 'big' WHEN o_totalprice > 10000 THEN 'mid' ELSE 'small' END AS size_class,
        |  COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'was-urgent') AS prio,
        |  CASE WHEN o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS par
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "t_cast" ->
      """SELECT o_orderkey,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  CAST(o_custkey AS INT) AS cust_int,
        |  CAST(o_orderdate AS DATE) AS od_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec2,
        |  CAST(o_orderkey % 2 = 0 AS BOOLEAN) AS even_bool,
        |  CAST(CAST(o_orderkey AS TINYINT) AS INT) AS key_i8
        |FROM orders WHERE o_orderkey < 120 ORDER BY o_orderkey""".stripMargin,
    "t_metadata" ->
      // __data_event_type__ carries the reference's RowKind tokens
      // (DataChangeEvent.opTypeString:82-93), not full op names: +I / +U /
      // -D; REPLACE (outside the reference's op set) renders as the upsert
      // after-image token +U
      """SELECT event_id AS seq, '' AS "__namespace_name__", 'app' AS "__schema_name__",
        |  'events' AS "__table_name__",
        |  CASE WHEN event_type='signup' THEN '+I'
        |       WHEN event_type='purchase' THEN '+U'
        |       WHEN event_type='error' THEN '-D'
        |       ELSE '+U' END AS "__data_event_type__"
        |FROM events ORDER BY seq""".stripMargin,
    "t_soft_delete" -> (evCte +
      """SELECT CASE WHEN op='DELETE' THEN 'INSERT' ELSE op END AS op,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM ev GROUP BY 1 ORDER BY op""".stripMargin),
    "t_udf" ->
      """SELECT c_custkey, SUBSTR(c_name, 1, 1) || '***' AS masked
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "t_udf2" ->
      """SELECT c_custkey, c_custkey * 100 + c_nationkey AS mix
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "t_kafka_canal" -> (evCte +
      """SELECT event_id AS seq,
        |  CASE op WHEN 'REPLACE' THEN 'INSERT' ELSE op END AS op_type,
        |  'app' AS db, 'events' AS tbl,
        |  CASE WHEN op <> 'INSERT' THEN user_id END AS old_uid,
        |  CASE WHEN op <> 'DELETE' THEN user_id END AS data_uid,
        |  CASE WHEN op <> 'DELETE' THEN value END AS data_value
        |FROM ev ORDER BY seq""".stripMargin),
    "c_kafka_source" -> (evCte +
      """SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM ev) t
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // checkpoint + overrun-reconciled resume must reassemble the full
    // event_id < 400 history exactly once
    "c_startup_gtid" -> (evCte +
      """SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM ev WHERE event_id < 400) t
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // identical final state: the Postgres wire round trip must be lossless
    "c_postgres_file" -> (evCte +
      """SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM ev) t
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // identical final state: the Debezium file round trip must be lossless
    "c_debezium_file" -> (evCte +
      """SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM ev) t
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
        |       AS DOUBLE) AS revenue
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q12_priority_class" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |  CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
        |       AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_moving_range" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_24h,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS sum_24h
        |FROM (SELECT user_id, event_id,
        |        CAST(epoch(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_sec, value
        |      FROM events WHERE user_id < 30)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |             RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_lead_lag" ->
      """SELECT user_id, event_id, value,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  CAST(row_number() OVER w AS INT) AS rn
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "t_json_path" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
        |ORDER BY event_id""".stripMargin,
    "t_timestamp_tz" ->
      """SELECT event_id,
        |  strftime(CAST(ts AS TIMESTAMP) - to_seconds(((user_id % 24) - 12) * 3600),
        |           '%Y-%m-%d %H:%M:%S') AS utc_str,
        |  CAST(((user_id % 24) - 12) * 3600 AS INT) AS offset_seconds,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS local_str
        |FROM events WHERE event_id < 5000 ORDER BY event_id""".stripMargin,
    "t_model_chat" ->
      """SELECT c_mktsegment, prediction FROM (VALUES
        |  ('AUTOMOBILE', '[stub-model] 322b1b11'),
        |  ('BUILDING', '[stub-model] d96002b4'),
        |  ('FURNITURE', '[stub-model] 837f67d2'),
        |  ('HOUSEHOLD', '[stub-model] e3be3bbf'),
        |  ('MACHINERY', '[stub-model] 50096cae')
        |) AS t(c_mktsegment, prediction) ORDER BY c_mktsegment""".stripMargin,
    "t_model_embedding" ->
      """SELECT c_mktsegment, CAST(dim AS INT) AS dim, CAST(esum AS DOUBLE) AS esum
        |FROM (VALUES
        |  ('AUTOMOBILE', 16, 10.369),
        |  ('BUILDING', 16, 7.9794),
        |  ('FURNITURE', 16, 8.0969),
        |  ('HOUSEHOLD', 16, 7.031),
        |  ('MACHINERY', 16, 7.2211)
        |) AS t(c_mktsegment, dim, esum) ORDER BY c_mktsegment""".stripMargin,
    "t_model_langchain" ->
      """SELECT c_mktsegment, prediction FROM (VALUES
        |  ('AUTOMOBILE', '[stub-model] 322b1b11'),
        |  ('BUILDING', '[stub-model] d96002b4'),
        |  ('FURNITURE', '[stub-model] 837f67d2'),
        |  ('HOUSEHOLD', '[stub-model] e3be3bbf'),
        |  ('MACHINERY', '[stub-model] 50096cae')
        |) AS t(c_mktsegment, prediction) ORDER BY c_mktsegment""".stripMargin,
    "t_kafka_debezium" -> (evCte +
      """SELECT event_id AS seq,
        |  CASE op WHEN 'INSERT' THEN 'c' WHEN 'DELETE' THEN 'd' ELSE 'u' END AS op,
        |  'app' AS db, 'events' AS tbl,
        |  CASE WHEN op <> 'INSERT' THEN user_id END AS before_uid,
        |  CASE WHEN op <> 'DELETE' THEN user_id END AS after_uid,
        |  CASE WHEN op <> 'DELETE' THEN event_type END AS after_type,
        |  CASE WHEN op <> 'DELETE' THEN value END AS after_value
        |FROM ev ORDER BY seq""".stripMargin),
    "c_upsert" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    "c_deleted_keys" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id FROM last WHERE rn = 1 AND op = 'DELETE' ORDER BY user_id""".stripMargin),
    // the mirrored-sink pipelines converge to the same final state as the
    // one-shot materialization (c_upsert's oracle), read back through the
    // EXTERNAL Iceberg/Delta directory
    "c_pipeline_iceberg_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    "c_pipeline_delta_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    "c_pipeline_paimon_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    "c_cli_pipeline" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey, UPPER(n_name) AS uname
        |FROM nation WHERE n_regionkey <> 2 ORDER BY n_nationkey""".stripMargin,
    // kill between sink write and checkpoint commit, then claim restore:
    // the redelivered batch lands exactly once
    "c_savepoint_kill" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // compaction is data-identical: the appended slices re-read as the table
    "c_lakehouse_append" ->
      """SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |FROM events ORDER BY event_id""".stripMargin,
    // the z-order rewrite is data-identical: the table equals raw events
    "c_lakehouse_zorder" ->
      """SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |FROM events ORDER BY event_id""".stripMargin,
    // the bloom-pruned point read returns exactly doc 42's fingerprint group
    "c_lakehouse_bloom" ->
      """WITH f AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT doc_id, fp FROM f
        |WHERE fp = (SELECT fp FROM f WHERE doc_id = 42)
        |ORDER BY doc_id""".stripMargin,
    // incremental consumption: the union of change-feed increments == table
    "s_lakehouse_cdf" ->
      """SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |FROM events ORDER BY event_id""".stripMargin,
    // streaming consumption through the real runtime: memory sink == table
    "s_lakehouse_stream" ->
      """SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |FROM events ORDER BY event_id""".stripMargin,
    // sketch union across commits == one-shot COUNT(DISTINCT): exact at
    // this cardinality (HLL exact mode), so equality is assertable
    "s_rollup_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS approx_users,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the incrementally-maintained rollup equals the one-shot GROUP BY
    "s_rollup_view" ->
      """SELECT user_id, max(event_id) AS last_event,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM events WHERE user_id < 200
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // crash-replayed 2PC delivery converges to the same final state
    "c_jdbc_2pc" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // final ES documents = changelog final state; ts in the reference's
    // microsecond DATE_TIME_FORMATTER rendering
    "c_es_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM last WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // final OB PK store = changelog final state; ts rendered in the
    // sink's microsecond literal format (same shape as c_es_sink)
    "c_oceanbase_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM last WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // final stream-load store = changelog final state (same shape as c_es_sink)
    "c_starrocks_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM last WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // event-level kafka produce/fetch round trip converges to the same
    // materialization; the doubled middle batch proves marker replay skip
    "c_kafka_pipeline_sink" -> (evCte +
      """SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM ev) t
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // streaming wire tail with mid-stream restart converges to the same
    // final state (the Debezium-Connect-topic ingestion topology)
    "c_kafka_stream_source" -> (evCte +
      """SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM ev) t
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // the Fluss PK-upsert writer converges to the same materialization
    "c_fluss_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM last WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // tunnel-session final state converges to the same materialization;
    // the doubled middle batch proves replay skip
    "c_maxcompute_sink" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM last WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // identical final state to c_upsert: batched lakehouse MERGE is lossless
    "c_lakehouse_upsert" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // eight racing writers converge to the same one-shot materialization
    "c_lakehouse_concurrent" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev WHERE user_id < 400)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // the shuffle-free bucketed join must still produce the exact join
    "c_bucketed_join" ->
      """WITH agg AS (
        |  SELECT user_id, count(*) AS n, max(event_id) AS last_event
        |  FROM events WHERE user_id < 500 GROUP BY user_id),
        |lastt AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events WHERE user_id < 500) t WHERE rn = 1)
        |SELECT a.user_id, l.event_type, a.n, a.last_event
        |FROM agg a JOIN lastt l USING (user_id) ORDER BY a.user_id""".stripMargin,
    // the globally-largest event_id per user wins, whatever the commit order
    "c_lakehouse_out_of_order" ->
      """SELECT user_id, event_id AS last_event, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE user_id < 200) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // incrementally folded rollup == one-shot GROUP BY
    "c_lakehouse_agg" ->
      """SELECT user_id, count(*) AS n, max(event_id) AS last_event,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM events WHERE user_id < 150
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // per column, the last non-null across the user's first three events
    "c_lakehouse_partial_update" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events WHERE user_id < 150),
        |b AS (
        |  SELECT user_id, rn,
        |    CASE WHEN event_id % 2 = 0 THEN event_type END AS et,
        |    CASE WHEN event_id % 2 = 1 THEN CAST(value AS DOUBLE) END AS v
        |  FROM e WHERE rn <= 3)
        |SELECT user_id,
        |  max_by(et, rn) FILTER (WHERE et IS NOT NULL) AS event_type,
        |  max_by(v, rn) FILTER (WHERE v IS NOT NULL) AS value
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,
    // MOR delete files + compaction converge to the same final state
    "c_lakehouse_mor_delete" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // the changelog through the streaming runtime: same final state
    "s_lakehouse_changelog_stream" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    // replaying the row-level changelog reproduces the same final state
    "s_lakehouse_changelog" -> (evCte +
      """, last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_type, value, ts FROM last
        |WHERE rn = 1 AND op <> 'DELETE' ORDER BY user_id""".stripMargin),
    "c_route" ->
      """SELECT * FROM (
        |  SELECT 'ods.ods_events' AS sinkTableId, count(*) AS n FROM events
        |  UNION ALL
        |  SELECT 'ods.ods_customer', count(*) FROM customer
        |  UNION ALL
        |  SELECT 'audit.customers', count(*) FROM customer
        |) ORDER BY sinkTableId""".stripMargin,
    "c_chunks" ->
      """SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "c_chunk_boundaries" ->
      """WITH ranked AS (
        |  SELECT o_orderkey AS k,
        |         row_number() OVER (ORDER BY o_orderkey) AS rn,
        |         max(o_orderkey) OVER () AS mx,
        |         min(o_orderkey) OVER () AS mn
        |  FROM orders),
        |ub AS (
        |  SELECT CAST(k AS BIGINT) AS k,
        |         CAST(row_number() OVER (ORDER BY k) AS INT) AS bidx
        |  FROM ranked WHERE rn >= 1000 AND (rn - 1000) % 999 = 0 AND k < mx),
        |un AS (
        |  SELECT 'uneven' AS path, bidx - 1 AS chunk_idx,
        |         lag(k) OVER (ORDER BY bidx) AS start_key, k AS end_key FROM ub
        |  UNION ALL
        |  SELECT 'uneven', CAST((SELECT count(*) FROM ub) AS INT),
        |         (SELECT max(k) FROM ub), NULL),
        |eb AS (
        |  SELECT CAST(mn + i * 1000 AS BIGINT) AS k, CAST(i AS INT) AS bidx
        |  FROM (SELECT DISTINCT mn, mx FROM ranked), generate_series(1, 100000) AS g(i)
        |  WHERE mn + i * 1000 <= mx),
        |ev AS (
        |  SELECT 'even' AS path, bidx - 1 AS chunk_idx,
        |         lag(k) OVER (ORDER BY bidx) AS start_key, k AS end_key FROM eb
        |  UNION ALL
        |  SELECT 'even', CAST((SELECT count(*) FROM eb) AS INT),
        |         (SELECT max(k) FROM eb), NULL)
        |SELECT path, chunk_idx, start_key, end_key FROM un
        |UNION ALL SELECT path, chunk_idx, start_key, end_key FROM ev
        |ORDER BY path, chunk_idx""".stripMargin,
    "c_snapshot" ->
      """SELECT 'app.nation' AS tableId, 'INSERT' AS op,
        |  CAST(n_nationkey AS BIGINT) AS seq, n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "c_schema_coerce" ->
      """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  c_acctbal, c_mktsegment, CAST(NULL AS VARCHAR) AS loyalty_tier
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "s_lenient_union" ->
      """SELECT c_custkey, c_name, c_acctbal,
        |  CASE WHEN c_custkey % 2 = 0 THEN CAST(NULL AS VARCHAR) ELSE c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin)
}
