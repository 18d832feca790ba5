package graft.textops

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the reference's surface: the
  * corpus-preparation passes a 100 TB LLM data pipeline runs between ingest
  * (CDC / lake scan) and tokenization. All are pure column programs — map-only
  * where possible, one bounded shuffle where not — and every formula is
  * DuckDB-expressible so the driver's oracle can hash-check them exactly.
  *
  *  - PII redaction: regexp chain, map-only, codegen'd — scan speed.
  *  - Deterministic sampling: portable LCG bucket on the id, so the SAME rows
  *    are sampled on any engine/cluster/run — no RNG, no seed drift, and an
  *    auditor can recompute membership from the id alone.
  *  - Sequence packing: per-shard cumulative token fill into fixed-budget
  *    bins — the standard pre-tokenization packing pass; one window sort per
  *    shard, shards are independent so parallelism is O(shards).
  *  - Decontamination: k-gram overlap against a (small) benchmark set —
  *    benchmark grams broadcast, corpus grams stream map-side, only matches
  *    shuffle (the GPT-3-style n-gram decontamination shape).
  */
object TrainingData {

  // ----------------------------------------------------------------- PII

  /** Java-regex AND RE2-compatible patterns (no lookaround, no backrefs), so
    * Spark (`java.util.regex`) and the DuckDB oracle (RE2) agree match-exactly.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val CreditCardRe = "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b"

  /** Redact emails, credit cards, phone numbers, and IPv4s to typed tokens.
    * Order matters: credit cards before phones (a 4-4-4-4 digit run contains
    * a 3-3-4 substring). Pure `regexp_replace` chain — whole-stage codegen,
    * no UDF, scan-speed at any scale.
    */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val c = regexp_replace(e, CreditCardRe, "<CREDIT_CARD>")
    val p = regexp_replace(c, PhoneRe, "<PHONE>")
    regexp_replace(p, Ipv4Re, "<IP>")
  }

  /** True when any PII pattern matches (pre-redaction audit flag). */
  def hasPii(text: Column): Column =
    text.rlike(EmailRe) || text.rlike(CreditCardRe) ||
      text.rlike(PhoneRe) || text.rlike(Ipv4Re)

  /** Matches of `pattern` in `text`, counted portably: splitting on the
    * pattern yields matches+1 fields (constant-fold-safe, same value in
    * DuckDB's `len(string_split_regex(..)) - 1`).
    */
  def piiHits(text: Column, pattern: String): Column =
    when(text.isNull, lit(null))
      .otherwise(size(split(text, pattern)) - 1)

  // ------------------------------------------------------- deterministic sampling

  /** Portable deterministic bucket in `[0, buckets)`: one LCG step
    * (Knuth/glibc constants) on the row id. Pure int64 arithmetic — identical
    * in Spark, DuckDB, or a shell script, unlike engine-specific `hash()`
    * or seeded `rand()` whose values never survive an engine swap. Requires
    * non-negative ids (true for all our tables).
    *
    * The id is reduced mod 2^31 BEFORE the multiply: the largest intermediate
    * product is (2^31-1)·1103515245 ≈ 2.37e18 < Long.MaxValue, so the formula
    * never overflows int64 — under Spark's ANSI mode an unreduced multiply
    * would throw ARITHMETIC_OVERFLOW for ids above ~8.36e9, exactly the
    * 100 TB regime this operator exists for.
    *
    * The bucket takes the LCG's HIGH bits — `floor(lcg · buckets / 2^31)` —
    * never `lcg mod buckets`: an LCG's LOW bits depend only on the id's low
    * bits (for a power-of-two bucket count dividing 2^31, `mod` makes the
    * bucket a pure function of `id mod buckets`), so structured ids — bit-
    * packed, snowflake-style, multiples of the bucket count — would all
    * collapse into ONE bucket and a 50% keep-fraction would keep 100% or 0%
    * of such a stratum. The product `lcg · buckets` is < 2^31 · 2^20 = 2^51,
    * exact in double, so the floor is engine-portable arithmetic.
    */
  def deterministicBucket(id: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= (1 << 20), s"buckets out of range: $buckets")
    val lcg = pmod(
      pmod(id, lit(1L << 31)) * lit(1103515245L) + lit(12345L), lit(1L << 31))
    floor(lcg * lit(buckets.toLong) / lit(1L << 31)).cast("long")
  }

  /** Stratified sample: per-stratum keep-fractions (in 1/2048ths for exact
    * integer arithmetic) with a default for unlisted strata. Map-only — a
    * filter on a computed column; no shuffle, no driver round-trip, and the
    * sampled set is stable across runs and engines.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      keepPer2048: Map[String, Int],
      defaultPer2048: Int): DataFrame = {
    val cutoff = keepPer2048.foldLeft(lit(defaultPer2048)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(deterministicBucket(col(idCol), 2048) < cutoff)
  }

  /** Exactly `k` rows per stratum, deterministically: rank by (bucket, id) —
    * a total order — inside each stratum and keep the first k.
    *
    * Two-level salted top-k, NOT a single window over the stratum key: with
    * few strata at 100 TB a `Window.partitionBy(stratum)` is a full sort of
    * the corpus on a handful of keys (one task per stratum — the classic
    * skewed-window scale-killer). Level 1 ranks within (stratum, salt) —
    * parallelism = strata × salts — and keeps k per salt group; level 2 ranks
    * the ≤ salts·k survivors per stratum, a bounded input regardless of
    * corpus size. Both levels order by the same (bucket, id) total order, so
    * the result is identical to the naive single window. Helper columns use
    * reserved `__graft_`-prefixed names and are dropped (no leak, no
    * collision with user columns).
    */
  def exactKPerStratum(
      df: DataFrame, idCol: String, strataCol: String, k: Int, salts: Int = 64): DataFrame = {
    val rankCol = "__graft_sample_rank"
    val saltCol = "__graft_sample_salt"
    val order = Seq(deterministicBucket(col(idCol), 2048), col(idCol))
    val w1 = Window.partitionBy(col(strataCol), col(saltCol)).orderBy(order: _*)
    val w2 = Window.partitionBy(col(strataCol)).orderBy(order: _*)
    df.withColumn(saltCol, pmod(col(idCol), lit(salts.toLong)))
      .withColumn(rankCol, row_number().over(w1)).filter(col(rankCol) <= k)
      .drop(rankCol)
      .withColumn(rankCol, row_number().over(w2)).filter(col(rankCol) <= k)
      .drop(rankCol, saltCol)
  }

  // ------------------------------------------------------------ sequence packing

  /** Assign each document to a fixed-token-budget bin by cumulative fill
    * order within (shardCols): bin = floor(exclusive-prefix-sum / budget).
    * This is contiguous greedy packing — documents fill bin 0 until the
    * budget is crossed, then bin 1, etc. One window sort PER SHARD; shards
    * are hash-partitioned and independent, so at 100 TB parallelism equals
    * shard count and no global sort exists.
    */
  def packBins(
      df: DataFrame,
      costCol: String,
      orderCol: String,
      shardCols: Seq[String],
      budget: Long,
      /** appended to the window ORDER: when `orderCol` has ties, the
        * running sum near a budget boundary would otherwise be
        * partition-order-dependent and the bin assignment nondeterministic
        * across runs/engines — breaking this file's oracle-hash contract.
        * Pass the row id (or leave empty only when `orderCol` is unique). */
      tiebreakCols: Seq[String] = Seq.empty): DataFrame = {
    val w = Window.partitionBy(shardCols.map(col): _*)
      .orderBy(col(orderCol) +: tiebreakCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("bin",
      floor((sum(col(costCol)).over(w) - col(costCol)) / lit(budget)))
  }

  // ------------------------------------------------------------- chunking

  /** Split documents into overlapping token windows — the RAG / context-
    * window preprocessing step: window `window` tokens, advancing `stride`
    * tokens (overlap = window − stride). Emits `(.., chunk_idx, chunk_text,
    * chunk_tokens)` per window; a document of n tokens yields
    * `ceil((n − window)/stride) + 1` chunks (1 if n ≤ window, 0 if empty),
    * so every token is covered and the final window is the only short one.
    * Map-only: tokenize once, generate chunk indices with `sequence`,
    * posexplode, slice — no shuffle, scan-speed at any corpus size. The
    * whitespace tokenizer matches [[graft.functions.TextFunctions]]'
    * token-count contract and the DuckDB oracle's split. */
  def chunkWindows(
      df: DataFrame,
      textCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    val n = size(toks)
    val nChunks = when(n === 0, 0)
      .when(n <= window, 1)
      .otherwise(ceil((n - lit(window)).cast("double") / lit(stride)).cast("int") + 1)
    df.withColumn("__toks", toks)
      .withColumn("__nc", nChunks)
      .filter(col("__nc") > 0)
      .select(df.columns.map(col) :+
        posexplode(sequence(lit(0), col("__nc") - 1)).as(Seq("chunk_idx", "__i")) :+
        col("__toks"): _*)
      .withColumn("__slice",
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(window)))
      .select(df.columns.map(col) :+
        col("chunk_idx") :+
        array_join(col("__slice"), " ").as("chunk_text") :+
        size(col("__slice")).as("chunk_tokens"): _*)
  }

  // ------------------------------------------------------------- decontamination

  /** Budgeted mixture sampling — the "data recipe" step of a corpus build
    * (domain weights expressed as per-domain TOKEN budgets): within each
    * domain, documents are taken in quality-descending order (ties to the
    * lowest id) until the domain's budget is exhausted; the greedy prefix
    * admits a document iff the tokens consumed BEFORE it are still under
    * budget, so the boundary document is included (budgets are coverage
    * floors, not hard ceilings — the convention that never leaves a budget
    * unfilled by one document).
    *
    * Scale shape: one window per domain (domains are independent, so the
    * sort parallelizes across them; within a skewed domain the ordering key
    * is (rounded quality, id) — a two-level quality-histogram prefix would
    * replace the sort if one domain dominated the corpus). The quality
    * score is rounded to 6 digits BEFORE ordering on both the engine and
    * oracle sides, so the rank never reads sub-rounding float noise.
    */
  def mixToBudget(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      budgetTokens: Column): DataFrame = {
    val scored = docs.select(
      col(idCol),
      col(domainCol).as("domain"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      TextFunctions.qualityScore(col(textCol)).as("quality")) // rounded(6) inside
    val w = Window.partitionBy("domain").orderBy(col("quality").desc, col(idCol))
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("budget", budgetTokens)
      .where(col("cum_tokens") - col("n_tokens") < col("budget"))
      .select(col(idCol), col("domain"), col("n_tokens"), col("cum_tokens"))
  }

  /** Deterministic global shuffle into training shards: every run, every
    * engine, every cluster assigns the SAME `(shard, pos)` to a given id —
    * the reproducible data-ordering pass a training job runs last, so a
    * resumed or re-launched run reads examples in an identical order and an
    * auditor can recompute any example's position from its id alone.
    *
    * The permutation key is one portable LCG step on the id (the
    * [[deterministicBucket]] arithmetic — pure int64, identical in Spark and
    * the DuckDB oracle, never overflows under ANSI mode); `shard = key mod
    * shards`, and `pos` ranks `(key, id)` within the shard — a total order,
    * so ties cannot reorder between runs. Consecutive ids land far apart
    * (the multiplier disperses them), which is the point: sequential-id
    * locality (crawl order, table order) must NOT survive into training
    * order.
    *
    * Scale shape: the key and shard are map-only; the only exchange is the
    * per-shard ranking window — parallelism equals shard count, so at
    * 100 TB the operator is run with thousands of shards (each window then
    * sorts corpus/shards, which is also the unit a trainer consumes). A
    * 4-shard toy run concentrating the sort is the misuse, not the design.
    */
  def shardShuffle(df: DataFrame, idCol: String, shards: Int): DataFrame = {
    require(shards > 0 && shards <= (1 << 20),
      s"shards out of range (1 to 2^20): $shards")
    val keyCol = "__graft_shuffle_key"
    val key = pmod(
      pmod(col(idCol), lit(1L << 31)) * lit(1103515245L) + lit(12345L),
      lit(1L << 31))
    val w = Window.partitionBy(col("shard")).orderBy(col(keyCol), col(idCol))
    df.withColumn(keyCol, key)
      // shard from the key's HIGH bits (never `key mod shards` — the LCG's
      // low bits are a pure function of the id's low bits for power-of-two
      // shard counts, so structured ids would all land in one shard)
      .withColumn("shard",
        floor(col(keyCol) * lit(shards.toLong) / lit(1L << 31)).cast("long"))
      .withColumn("pos", row_number().over(w))
      .drop(keyCol)
  }

  /** Strict lowercase word k-grams (documents with fewer than k words yield
    * none — no short-text fallback; this is the decontamination contract, not
    * the LSH shingle contract). Evaluated by the one-pass native
    * [[graft.functions.CatalystExprs.StrictWordGramsExpr]] (stays inside
    * whole-stage codegen); [[strictWordGramsHof]] keeps the higher-order
    * formulation the DuckDB oracle mirrors, and the two are asserted
    * equivalent in TrainingDataSpec.
    */
  def strictWordGrams(text: Column, k: Int): Column =
    graft.functions.CatalystExprs.strictWordGrams(text, k)

  /** Reference formulation of [[strictWordGrams]] in Spark higher-order
    * functions — formula-identical to the DuckDB oracle's `w[i:i+k-1]`
    * slices; kept as the cross-check spec for the native expression.
    *
    * Locale caveat: Spark's `lower()` falls back to the JVM DEFAULT locale
    * for strings containing non-ASCII bytes, while the native expression
    * lowercases with Locale.ROOT — on a Turkish-locale JVM the two diverge
    * on a dotted/dotless I inside a non-ASCII string. The equivalence
    * assertion (and the oracle) hold on ROOT-equivalent locales; run the
    * JVM with -Duser.language= (as the driver does) when comparing. */
  def strictWordGramsHof(text: Column, k: Int): Column = {
    val words = split(lower(trim(text)), "\\s+")
    when(size(words) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(words) - k),
        i => array_join(slice(words, i + lit(1), lit(k)), " ")))
  }

  /** GPT-3-style n-gram decontamination: flag training documents sharing any
    * word k-gram with a benchmark/eval set. Benchmark grams are distinct-ed
    * and BROADCAST (eval sets are tiny next to the corpus); the corpus side
    * streams its grams map-side through the broadcast hash join, so nothing
    * but the (rare) matches reaches the final per-doc aggregate. Returns
    * (idCol, n_shared_grams) for contaminated training docs.
    */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    def grams(df: DataFrame) =
      df.select(col(idCol), explode(strictWordGrams(col(textCol), k)).as("gram"))
    val benchGrams = grams(bench).select("gram").distinct()
    grams(train)
      .join(broadcast(benchGrams), "gram")
      .groupBy(idCol)
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
  }
}
