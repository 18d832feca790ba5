package graft

import graft.core.TableSchema
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.similarity.Ann
import graft.sources.Tables
import graft.textops.TrainingData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline queries: dedup, text analysis, similarity
  * search, multimodal. Oracles replicate the exact formulas in DuckDB SQL; for
  * LSH-derived results the oracle covers the deterministic invariant (planted
  * exact duplicates are always found because identical inputs share every
  * band) and the queries are restricted to that invariant set.
  */
object QueriesML {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** documents ∪ cosmetic duplicates of doc_id<100 (upper-cased, re-id'd). */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") < 100)
      .select((col("doc_id") + 100000).as("doc_id"), upper(col("text")).as("text")))
  }

  private val docsWithDupsCte =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, upper(text) AS text
      |  FROM documents WHERE doc_id < 100)
      |""".stripMargin

  /** documents ∪ EXACT copies of doc_id<50 (re-id'd) — for minhash/simhash. */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private val exactDupPairs =
    """SELECT doc_id AS idA, doc_id + 100000 AS idB
      |FROM documents WHERE doc_id < 50 ORDER BY idA""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup --------------------------------------------------------------
    "d_exact_fingerprint" -> ((s, dir) => {
      Dedup.exactByFingerprint(docsWithDups(s, dir), "doc_id", "text")
        .select(col("fp"), col("doc_id"), col("dup_count"))
        .orderBy("doc_id")
    }),
    "d_minhash_lsh" -> ((s, dir) => {
      // exact copies share every minhash band → found with jaccard 1.0;
      // restrict to the invariant (jaccard = 1) for the oracle
      Dedup.minHashNearDuplicates(docsWithExactDups(s, dir), "doc_id", "text",
        threshold = 1.0)
        .select(col("idA"), col("idB"))
        .orderBy("idA")
    }),
    "d_simhash" -> ((s, dir) => {
      // simhash blocking (hamming 0) then exact verification — bag-of-words
      // simhash collides for docs sharing most vocabulary, so candidates are
      // verified by canonical fingerprint, the standard blocking+verify shape
      val all = docsWithExactDups(s, dir)
      val cands = Dedup.simHashNearDuplicates(all, "doc_id", "text", maxHamming = 0)
      val fp = all.select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      cands
        .join(fp.withColumnRenamed("doc_id", "idA").withColumnRenamed("fp", "fpA"), Seq("idA"))
        .join(fp.withColumnRenamed("doc_id", "idB").withColumnRenamed("fp", "fpB"), Seq("idB"))
        .filter(col("fpA") === col("fpB"))
        .select(col("idA"), col("idB"))
        .orderBy("idA")
    }),
    "d_ngram_jaccard" -> ((s, dir) => {
      // bounded candidate set: same source, nearby ids (never all-pairs)
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val a = d.select(col("source"), col("doc_id").as("idA"), col("text").as("tA"))
      val b = d.select(col("source"), col("doc_id").as("idB"), col("text").as("tB"))
      a.join(b, Seq("source"))
        .filter(col("idB") > col("idA") && col("idB") - col("idA") <= 60)
        .withColumn("words_a", array_distinct(split(lower(trim(col("tA"))), "\\s+")))
        .withColumn("words_b", array_distinct(split(lower(trim(col("tB"))), "\\s+")))
        .select(
          col("idA"), col("idB"),
          round(
            size(array_intersect(col("words_a"), col("words_b"))).cast("double") /
              size(array_union(col("words_a"), col("words_b"))).cast("double"),
            6).as("jaccard"))
        .orderBy("idA", "idB")
    }),
    "x_corpus_stats" -> ((s, dir) => {
      // the first report a curator runs: per-source corpus profile — docs,
      // exact token volume, distinct languages, char/quality distribution.
      // Pure hash-aggregate, map-side partial, one shuffle on the tiny
      // source key; token counting is the codegen'd column fn.
      docs(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"),
          // order-independent cross-engine average: exact DECIMAL sum of the
          // per-doc rounded score, ONE double division, then round — a plain
          // avg(double) would drift with float summation order
          round(
            sum(round(TextFunctions.qualityScore(col("text")), 6).cast("decimal(18,6)"))
              .cast("double") / count(lit(1)), 6).as("avg_quality"))
        .orderBy("source")
    }),

    "d_span_dedup" -> ((s, dir) => {
      // fixed-window span dedup over documents ∪ exact copies of doc_id<25:
      // every span of a copy already occurred in its original, so copies
      // vanish entirely; genuinely repeated 10-word spans between distinct
      // docs (rare in the fixture, computed identically by the oracle) keep
      // only their first occurrence
      import graft.dedup.Dedup
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val all = d.unionByName(d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      Dedup.spanDedup(all, "doc_id", "text", window = 10).orderBy("doc_id")
    }),

    "d_incremental_dedup" -> ((s, dir) => {
      // cross-run dedup: the new batch is 40 exact copies of history docs
      // (dropped) plus 20 genuinely new texts (kept); the Bloom build/probe/
      // verify path must equal the oracle's plain fingerprint anti-join
      import graft.dedup.Dedup
      val hist = docs(s, dir).select(col("doc_id"), col("text"))
      val newBatch = hist.filter(col("doc_id") < 40)
        .select((col("doc_id") + 400000).as("doc_id"), col("text"))
        .unionByName(hist.filter(col("doc_id") < 20)
          .select((col("doc_id") + 410000).as("doc_id"),
            concat(lit("fresh "), col("text")).as("text")))
      Dedup.incrementalDedup(newBatch, hist, "doc_id", "text").orderBy("doc_id")
    }),

    "d_incremental_lsh" -> ((s, dir) => {
      // MAINTAINED near-dup signature index ([[graft.streaming.LshMaintenance]]):
      // the corpus lands in a lakehouse table as three commits; a standing
      // query appends each increment's banded MinHash rows with batch-id txn
      // replay-skip, is KILLED after the second commit (the third lands while
      // down), and the restarted maintainer signatures the down-time docs
      // exactly once (require: incremental == one-shot banded rows). The new
      // batch — 30 exact copies of history, 20 synthetic docs whose
      // vocabulary is disjoint from the corpus, and one within-batch
      // duplicated pair — dedups against the INDEX (signatures only, history
      // text never re-read): copies collide in every band with sigSim 1.0
      // and drop; disjoint-vocabulary docs share no shingle, hence no band
      // bucket, and survive; the pair keeps its lower id.
      import graft.sinks.LakehouseTable
      import graft.streaming.LshMaintenance
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_lsh_src").toString
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
      val src = new LakehouseTable(s, srcRoot)
      src.create(TableSchema(d.schema), buckets = 4)
      val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
      src.append(d.filter(col("doc_id") <= maxId / 3))
      val q1 = LshMaintenance.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try {
        q1.processAllAvailable()
        src.append(d.filter(col("doc_id") > maxId / 3 &&
          col("doc_id") <= 2 * maxId / 3))
        q1.processAllAvailable()
      } finally q1.stop()
      src.append(d.filter(col("doc_id") > 2 * maxId / 3)) // while DOWN
      val q2 = LshMaintenance.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try q2.processAllAvailable() finally q2.stop()
      val index = new LakehouseTable(s, idxRoot)
      val want = graft.dedup.Dedup.bandedSignatures(d, "doc_id", "text")
      require(index.read().exceptAll(want).isEmpty &&
        want.exceptAll(index.read()).isEmpty,
        "incrementally maintained signature index diverged from one-shot banding")
      val synth = concat_ws(" ", transform(sequence(lit(0), lit(39)),
        j => concat(lit("zq"), col("doc_id").cast("string"), lit("t"), j.cast("string"))))
      val pairText = "zzpair " + (0 until 39).map(j => s"zzpairt$j").mkString(" ")
      val newBatch = d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 600000).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 20)
          .select((col("doc_id") + 610000).as("doc_id"), synth.as("text")))
        .unionByName(s.range(620000, 620002)
          .select(col("id").as("doc_id"), lit(pairText).as("text")))
      val survivors = LshMaintenance.dedupAgainstIndex(
        s, idxRoot, newBatch, "doc_id", "text", threshold = 1.0)
      newBatch.join(survivors.select(col("doc_id"), lit(true).as("kept")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("kept"), lit(false)).as("kept"))
        .orderBy("doc_id")
    }),

    "d_dup_spans" -> ((s, dir) => {
      // Substring-level duplicate spans (Lee et al. 2022, "Deduplicating
      // Training Data Makes Language Models Better": duplicated substrings,
      // not whole documents, drive memorization): word-8-grams occurring in
      // >= 2 distinct documents are the spans to cut or down-weight. Planted
      // exact copies of doc_id<25 guarantee cross-doc spans; naturally
      // repeated template grams count identically in both engines. Shuffle
      // shape at 100 TB: the DISTINCT per-doc gram set shuffles (native
      // one-pass StrictWordGramsExpr, bounded by total token count); the
      // documents themselves never shuffle.
      import graft.functions.CatalystExprs
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val all = d.unionByName(d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      all.select(col("doc_id"),
          explode(CatalystExprs.strictWordGrams(col("text"), 8)).as("gram"))
        .distinct()
        .groupBy("gram")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("gram")
    }),
    "d_dup_clusters" -> ((s, dir) => {
      // duplicate-cluster labeling: the d_ngram_jaccard candidate structure
      // (same source, nearby ids — never all-pairs) filtered to jaccard>=0.9
      // forms the edge set; connected components label each doc with its
      // cluster's min id. Oracle replays the same edges + a recursive-CTE
      // reachability to the same min label.
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val a = d.select(col("source"), col("doc_id").as("idA"), col("text").as("tA"))
      val b = d.select(col("source"), col("doc_id").as("idB"), col("text").as("tB"))
      // FIXTURE-ONLY candidate generation: a banded per-source self-join is
      // quadratic per source and fine only at gate scale; the production
      // pair path is MinHash/SemDeDup banding (Dedup.minhashLsh /
      // semDedup), which shuffles signatures, never document pairs.
      val pairs = a.join(b, Seq("source"))
        .filter(col("idB") > col("idA") && col("idB") - col("idA") <= 60)
        .withColumn("wa", array_distinct(split(lower(trim(col("tA"))), "\\s+")))
        .withColumn("wb", array_distinct(split(lower(trim(col("tB"))), "\\s+")))
        .withColumn("jaccard",
          size(array_intersect(col("wa"), col("wb"))).cast("double") /
            size(array_union(col("wa"), col("wb"))).cast("double"))
        .filter(col("jaccard") >= 0.90)
        .select(col("idA"), col("idB"))
      val lab = Dedup.duplicateClusters(pairs)
      val sizes = lab.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      lab.join(sizes, Seq("cluster_id"))
        .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy("doc_id")
    }),
    "d_dup_canonical" -> ((s, dir) => {
      // canonical-document selection after clustering: within each
      // near-duplicate cluster keep the highest-QUALITY member (ties to the
      // lowest id) — the "which copy do we train on" decision. Cluster
      // labels from the same candidate structure as d_dup_clusters; quality
      // is the rounded composite score, so rank never reads float noise.
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val a = d.select(col("source"), col("doc_id").as("idA"), col("text").as("tA"))
      val b = d.select(col("source"), col("doc_id").as("idB"), col("text").as("tB"))
      // FIXTURE-ONLY candidate generation: a banded per-source self-join is
      // quadratic per source and fine only at gate scale; the production
      // pair path is MinHash/SemDeDup banding (Dedup.minhashLsh /
      // semDedup), which shuffles signatures, never document pairs.
      val pairs = a.join(b, Seq("source"))
        .filter(col("idB") > col("idA") && col("idB") - col("idA") <= 60)
        .withColumn("wa", array_distinct(split(lower(trim(col("tA"))), "\\s+")))
        .withColumn("wb", array_distinct(split(lower(trim(col("tB"))), "\\s+")))
        .withColumn("jaccard",
          size(array_intersect(col("wa"), col("wb"))).cast("double") /
            size(array_union(col("wa"), col("wb"))).cast("double"))
        .filter(col("jaccard") >= 0.90)
        .select(col("idA"), col("idB"))
      val lab = Dedup.duplicateClusters(pairs)
      val q = d.select(col("doc_id").as("id"),
        TextFunctions.qualityScore(col("text")).as("score"))
      Dedup.canonicalPerCluster(lab.join(q, Seq("id")))
        .select(col("id").as("doc_id"), col("cluster_id"), col("canonical_id"), col("kept"))
        .orderBy("doc_id")
    }),
    "x_mix_budget" -> ((s, dir) => {
      // budgeted mixture sampling (the data-recipe step): per-source TOKEN
      // budgets from a deterministic formula (200 + 150·(src index mod 4));
      // quality-descending greedy prefix per source, boundary doc included
      val budget = lit(200L) +
        lit(150L) * (substring(col("domain"), 4, 10).cast("long") % 4)
      TrainingData.mixToBudget(docs(s, dir), "doc_id", "text", "source", budget)
        .orderBy("domain", "doc_id")
    }),
    "x_shard_shuffle" -> ((s, dir) => {
      // deterministic training-shard shuffle: portable LCG permutation key,
      // shard = key mod 8, position ranks (key, id) within the shard — the
      // reproducible data-ordering pass; the oracle replays the identical
      // int64 arithmetic, so (shard, pos) match value-for-value
      TrainingData.shardShuffle(docs(s, dir).select(col("doc_id")), "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),
    "x_boilerplate" -> ((s, dir) => {
      // corpus-frequency boilerplate removal: a 10-word cookie banner is
      // prepended to every third document (aligned to the segment window),
      // crosses the distinct-document threshold, and is dropped from ALL of
      // them — while genuinely rare segments survive untouched. Contrast
      // d_span_dedup (keep-first): here no copy survives.
      import graft.dedup.Dedup
      val banner = lit("we use cookies accept our terms privacy policy site notice")
      val fixture = docs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(banner, lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.removeBoilerplate(fixture, "doc_id", "text", window = 10, minDocFreq = 100)
        .orderBy("doc_id")
    }),
    "d_embedding_dup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDuplicates(e.unionByName(planted), "vec_id", "embedding",
        dim = 64, threshold = 0.999)
        .select(col("idA"), col("idB"), col("cosine"))
        .orderBy("idA", "idB")
    }),
    "d_semdedup" -> ((s, dir) => {
      // SemDeDup over the corpus + planted exact copies: the copies land in
      // the same cluster and signature buckets as their originals and are
      // dropped (keep-lowest-id); every original survives
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val out = Dedup.semanticDeduplicate(e.unionByName(planted), "vec_id", "embedding",
        dim = 64, k = 8, threshold = 0.999)
        .select(col("vec_id"), col("kept"))
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("CartesianProduct"),
        s"semantic dedup must stay bucketed, got:\n$plan")
      out.orderBy("vec_id")
    }),

    // ---- text analysis ------------------------------------------------------
    "x_tokens" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        col("n_chars"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCountApprox(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    }),
    "x_inverted_index" -> ((s, dir) => {
      // INVERTED TEXT INDEX ([[graft.textops.InvertedIndex]]): documents
      // land in a lakehouse table as three commits; a standing query
      // explodes each increment into (term, doc_id) postings and appends
      // them range-partitioned by term, is KILLED after the second commit
      // (the third lands while down), and the restarted maintainer indexes
      // the down-time documents exactly once. Probes are zone-map + bloom
      // pruned point reads; the oracle recomputes the posting lists by
      // full-scan tokenization in SQL. 'zzzabsent' proves a miss probes
      // clean (no rows, oracle agrees).
      import graft.sinks.LakehouseTable
      import graft.textops.InvertedIndex
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_inv_src").toString
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_inv_idx").toString
      val src = new LakehouseTable(s, srcRoot)
      src.create(TableSchema(d.schema), buckets = 4)
      val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
      src.append(d.filter(col("doc_id") <= maxId / 3))
      val q1 = InvertedIndex.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try {
        q1.processAllAvailable()
        src.append(d.filter(col("doc_id") > maxId / 3 &&
          col("doc_id") <= 2 * maxId / 3))
        q1.processAllAvailable()
      } finally q1.stop()
      src.append(d.filter(col("doc_id") > 2 * maxId / 3)) // while DOWN
      val q2 = InvertedIndex.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try q2.processAllAvailable() finally q2.stop()
      val index = new LakehouseTable(s, idxRoot)
      Seq("join", "merge", "zzzabsent")
        .map(t => InvertedIndex.lookup(index, t).select(lit(t).as("term"), col("doc_id")))
        .reduce(_ unionByName _)
        .orderBy("term", "doc_id")
    }),
    "x_fuzzy_lookup" -> ((s, dir) => {
      // typo-tolerant lookup: 'merg' is NOT a corpus term (exact probe
      // returns nothing — asserted) but is 1 edit from 'merge'; the fuzzy
      // path matches the query against the index VOCABULARY (distinct
      // terms, Heaps'-law small) and unions the matched terms' pruned
      // posting probes. Oracle recomputes the same levenshtein band by
      // full scan.
      import graft.sinks.LakehouseTable
      import graft.textops.InvertedIndex
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_fuz_src").toString
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_fuz_idx").toString
      val src = new LakehouseTable(s, srcRoot)
      src.create(TableSchema(d.schema), buckets = 4)
      src.append(d)
      val q = InvertedIndex.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try q.processAllAvailable() finally q.stop()
      val index = new LakehouseTable(s, idxRoot)
      require(InvertedIndex.lookup(index, "merg").isEmpty,
        "'merg' must miss exactly — otherwise the fuzzy case proves nothing")
      InvertedIndex.lookupFuzzy(index, "merg", maxDist = 1)
        .orderBy("term", "doc_id")
    }),
    "x_phrase_search" -> ((s, dir) => {
      // PHRASE query over a POSITIONAL index: same maintenance discipline
      // as x_inverted_index but postings carry sorted token-position lists;
      // "hash join" matches only docs where the tokens are CONSECUTIVE —
      // a posting-list intersection plus a position-set fold, never a
      // corpus scan. Oracle recomputes adjacency by full-scan ordinality.
      import graft.sinks.LakehouseTable
      import graft.textops.InvertedIndex
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_phr_src").toString
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_phr_idx").toString
      val src = new LakehouseTable(s, srcRoot)
      src.create(TableSchema(d.schema), buckets = 4)
      val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
      src.append(d.filter(col("doc_id") <= maxId / 2))
      val q1 = InvertedIndex.maintainPositional(s, srcRoot, idxRoot, "doc_id", "text")
      try q1.processAllAvailable() finally q1.stop()
      src.append(d.filter(col("doc_id") > maxId / 2)) // while DOWN
      val q2 = InvertedIndex.maintainPositional(s, srcRoot, idxRoot, "doc_id", "text")
      try q2.processAllAvailable() finally q2.stop()
      val index = new LakehouseTable(s, idxRoot)
      InvertedIndex.phrase(index, Seq("hash", "join")).orderBy("doc_id")
    }),
    "x_bm25_search" -> ((s, dir) => {
      // BM25 ranked retrieval ([[graft.textops.Bm25Search]]) from
      // change-feed-maintained posting + doclen tables: three commits,
      // maintainer killed after the second (third lands while down),
      // restarted, then a 3-term query's top-10 is scored from the probed
      // posting lists only — the oracle recomputes the identical formula
      // (same association order, so IEEE doubles agree) by full scan.
      import graft.sinks.LakehouseTable
      import graft.textops.Bm25Search
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_bm25_src").toString
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
      val src = new LakehouseTable(s, srcRoot)
      src.create(TableSchema(d.schema), buckets = 4)
      val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
      src.append(d.filter(col("doc_id") <= maxId / 3))
      val q1 = Bm25Search.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try {
        q1.processAllAvailable()
        src.append(d.filter(col("doc_id") > maxId / 3 &&
          col("doc_id") <= 2 * maxId / 3))
        q1.processAllAvailable()
      } finally q1.stop()
      src.append(d.filter(col("doc_id") > 2 * maxId / 3)) // while DOWN
      val q2 = Bm25Search.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try q2.processAllAvailable() finally q2.stop()
      Bm25Search.search(s, idxRoot, Seq("data", "join", "merge"), k = 10)
        .orderBy("rank")
    }),
    "x_hybrid_search" -> ((s, dir) => {
      // two-stage retrieval (the RAG serving shape): BM25 candidates from
      // maintained posting/doclen tables (stage 1 — probed posting lists,
      // corpus never scanned), reranked by embedding cosine against the
      // query vector (stage 2 — candidate-bounded: 20 vectors join one
      // broadcast query row, never the corpus). vec_id aligns 1:1 with
      // doc_id in the fixture; the rerank orders on the RAW cosine (the
      // a_ann_bruteforce precedent: both engines fold the dot product in
      // array order, so IEEE doubles agree bit-for-bit).
      import graft.sinks.LakehouseTable
      import graft.textops.Bm25Search
      import graft.functions.VectorFunctions
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_hyb_src").toString
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_hyb_idx").toString
      val src = new LakehouseTable(s, srcRoot)
      src.create(TableSchema(d.schema), buckets = 4)
      src.append(d)
      val q1 = Bm25Search.maintain(s, srcRoot, idxRoot, "doc_id", "text")
      try q1.processAllAvailable() finally q1.stop()
      val cands = Bm25Search.search(s, idxRoot, Seq("data", "join", "merge"), k = 20)
        .select(col("doc_id"), col("score").as("bm25"))
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val qv = e.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
      val w = Window.orderBy(col("cosine_raw").desc, col("doc_id").asc)
      cands.join(e, cands("doc_id") === e("vec_id"))
        .join(broadcast(qv))
        .select(col("doc_id"), col("bm25"),
          VectorFunctions.cosine(col("embedding"), col("qvec")).as("cosine_raw"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("doc_id"), col("bm25"),
          round(col("cosine_raw"), 6).as("cosine"), col("rank"))
        .orderBy("rank")
    }),
    "x_bpe" -> ((s, dir) => {
      // learned byte-pair encoding over the corpus itself (Sennrich 2016):
      // word counting is the only corpus-scale pass; merge learning runs on
      // the bounded top-50k vocabulary; encoding is map-only. numMerges=40
      // keeps encoding partial on the 31-word synthetic vocabulary (per-word
      // token counts 1–6), so the gate is rank-sensitive. The oracle replays
      // greedy encoding in DuckDB (recursive CTE) against the pinned
      // deterministic merge table (`Bpe.pinnedGateMerges`), which
      // BpePinnedSpec asserts equals what this very call learns at sf0.01.
      val d = docs(s, dir)
      val model = graft.functions.Bpe.learn(d, "text", numMerges = 40)
      d.select(col("doc_id"),
          size(graft.functions.Bpe.encodeTokens(col("text"), model)).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),
    "x_quality" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextFunctions.meanWordLength(col("text")), 6).as("mean_word_len"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    "x_langid" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "x_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals (Rae et al. 2021 §A1.1 adapted to
      // word grams): duplicate-word fraction, top-bigram token coverage,
      // duplicate-5-gram fraction — counters from ONE native map-only pass
      // (RepetitionStatsExpr), fractions as plain Column arithmetic so the
      // oracle replays the identical divisions
      import graft.functions.CatalystExprs
      val st = docs(s, dir)
        .select(col("doc_id"), CatalystExprs.repetitionStats(col("text")).as("s"))
        .select(col("doc_id"),
          col("s.tokens").as("n_tokens"),
          col("s.uniq_words").as("uniq_words"),
          col("s.top_bigram").as("top_bigram"),
          col("s.uniq_5grams").as("uniq_5grams"))
      st.select(col("doc_id"), col("n_tokens"),
          round(when(col("n_tokens") > 0,
            lit(1.0) - col("uniq_words").cast("double") / col("n_tokens"))
            .otherwise(lit(0.0)), 6).as("dup_word_frac"),
          round(when(col("n_tokens") > 0,
            col("top_bigram") * lit(2.0) / col("n_tokens"))
            .otherwise(lit(0.0)), 6).as("top_bigram_frac"),
          round(when(col("n_tokens") >= 5,
            lit(1.0) - col("uniq_5grams").cast("double") / (col("n_tokens") - 4))
            .otherwise(lit(0.0)), 6).as("dup_5gram_frac"))
        .withColumn("keep",
          (col("top_bigram_frac") <= 0.10 && col("dup_word_frac") <= 0.60).cast("int"))
        .orderBy("doc_id")
    }),
    "x_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    "x_perplexity_lm" -> ((s, dir) => {
      // CCNet-style perplexity filter: bigram Stupid Backoff LM trained on
      // the trusted slice (lang='en'), every document scored under it;
      // backoff genuinely fires for bigrams the en slice never saw. keep
      // marks the head of the distribution (CCNet keeps its low-perplexity
      // head). Per-term rounding + exact DECIMAL sum make lp_avg
      // independent of partitioning; the oracle replays the same formula.
      import graft.textops.PerplexityLm
      val d = docs(s, dir)
      val (uni, bi, n) = PerplexityLm.train(d.filter(col("lang") === "en"), "text")
      PerplexityLm.score(d, "doc_id", "text", uni, bi, n)
        .withColumn("keep", (col("lp_avg") >= -1.49).cast("int"))
        .orderBy("doc_id")
    }),

    "x_nb_classify" -> ((s, dir) => {
      // count-based quality/attribute classifier (the NB sibling of GPT-3's
      // WebText LR filter): train on the even-doc_id half with lang as the
      // trusted label, classify EVERY document. Training is two hash
      // aggregates; the model broadcasts; per-token log-likelihoods are
      // rounded then DECIMAL-summed so the argmax (score DESC, label ASC)
      // is a total order both engines replay exactly.
      import graft.textops.NaiveBayes
      val d = docs(s, dir)
      val (model, stats) = NaiveBayes.train(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "text")
      NaiveBayes.predict(d, "doc_id", "text", model, stats)
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("pred"), col("lang"),
          (col("pred") === col("lang")).cast("int").as("correct"))
        .orderBy("doc_id")
    }),

    "x_tfidf" -> ((s, dir) => {
      // top-3 keywords per document by smoothed TF-IDF: two count
      // aggregates + one vocab-sized join + a bounded in-group fold (no
      // window) — deterministic via DECIMAL scores and (score DESC, term
      // ASC) ordering
      import graft.textops.TfIdf
      TfIdf.topTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    }),

    // ---- training-data curation ---------------------------------------------
    "x_pii_redact" -> ((s, dir) => {
      // documents carry no PII, so plant one of each pattern deterministically
      // per row — the redaction chain and audit counters are then fully
      // hash-checkable against the oracle replaying the same construction
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" call 415-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
          lit(" card 4242-4242-4242-4242 host 10.0."),
          pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7")).as("pii_text"))
      withPii.select(col("doc_id"),
        TrainingData.redactPii(col("pii_text")).as("redacted"),
        TrainingData.hasPii(col("pii_text")).cast("int").as("has_pii"),
        TrainingData.piiHits(col("pii_text"), TrainingData.EmailRe).as("n_emails"))
        .orderBy("doc_id")
    }),
    "x_sample_stratified" -> ((s, dir) => {
      TrainingData.stratifiedSample(
        docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source",
        keepPer2048 = Map("src0" -> 1024, "src1" -> 512), defaultPer2048 = 256)
        .orderBy("doc_id")
    }),
    "x_sample_topk" -> ((s, dir) => {
      // two-level salted top-k must equal the naive single-window ranking the
      // oracle computes — that equality IS the exactness proof
      TrainingData.exactKPerStratum(
        docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source", k = 10)
        .orderBy("doc_id")
    }),
    "x_pack_bins" -> ((s, dir) => {
      TrainingData.packBins(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        costCol = "n_chars", orderCol = "doc_id", shardCols = Seq("source"),
        budget = 4096L)
        .select(col("doc_id"), col("source"), col("bin"))
        .orderBy("doc_id")
    }),
    "x_chunk_windows" -> ((s, dir) => {
      // RAG / context-window chunking: overlapping 32-token windows with
      // stride 24, map-only (tokenize once, sequence + posexplode + slice;
      // no shuffle) — every token covered, only the final window short.
      TrainingData.chunkWindows(
          docs(s, dir).select(col("doc_id"), col("text")), "text",
          window = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
          col("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),
    "x_decontam" -> ((s, dir) => {
      // eval set = texts of doc_id<20 (re-id'd): those train docs share every
      // word 8-gram with the bench set, so they MUST be flagged; any other
      // collisions are computed identically by the oracle
      val train = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = train.filter(col("doc_id") < 20)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      TrainingData.decontaminate(train, bench, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    "x_curate_e2e" -> ((s, dir) => {
      // END-TO-END curation pipeline over documents ∪ planted exact copies:
      // map-only signal pass (repetition keep + quality) → exact-dup survivor
      // semi-join → decontamination anti-join (broadcast bench grams) →
      // deterministic 50% sample. Every stage reuses an individually
      // oracle-checked formula; the chain itself is the oracle here.
      import graft.functions.CatalystExprs
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val all = d.unionByName(d.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"), col("source")))
      val scored = all
        .withColumn("s", CatalystExprs.repetitionStats(col("text")))
        .withColumn("n_tokens", col("s.tokens"))
        .withColumn("dwf", round(when(col("s.tokens") > 0,
          lit(1.0) - col("s.uniq_words").cast("double") / col("s.tokens"))
          .otherwise(lit(0.0)), 6))
        .withColumn("tbf", round(when(col("s.tokens") > 0,
          col("s.top_bigram") * lit(2.0) / col("s.tokens"))
          .otherwise(lit(0.0)), 6))
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("tbf") <= 0.10 && col("dwf") <= 0.60 && col("quality") >= 0.8)
      val survivors = Dedup.exactByFingerprint(all, "doc_id", "text")
        .select(col("doc_id"))
      val bench = d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      val flagged = TrainingData.decontaminate(
        all.select(col("doc_id"), col("text")), bench, "doc_id", "text", k = 8)
        .select(col("doc_id"))
      scored
        .join(survivors, Seq("doc_id"), "left_semi")
        .join(flagged, Seq("doc_id"), "left_anti")
        .filter(TrainingData.deterministicBucket(col("doc_id"), 2048) < 1024)
        .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    "x_curate_continuous" -> ((s, dir) => {
      // CONTINUOUS curation restart oracle: documents (with a planted email
      // per row) arrive as THREE lakehouse commits; a standing query curates
      // commit 1 (backfill) and commit 2 (tail), is stopped, commit 3 lands
      // while it is DOWN, and a restarted query resumes from the same
      // checkpoint — batch-id txn replay-skip through the real streaming
      // runtime. The final output must equal the BATCH pipeline over the
      // full input exactly (asserted here) and the DuckDB oracle replays
      // the same redaction in SQL.
      import graft.sinks.LakehouseTable
      import graft.textops.CurationPipeline
      val lake = java.nio.file.Files.createTempDirectory("curate_cont_in").toString
      val out = java.nio.file.Files.createTempDirectory("curate_cont_out").toString + "/t"
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com")).as("text"))
      val table = new LakehouseTable(s, lake)
      table.create(graft.core.TableSchema(withPii.schema, Seq.empty), buckets = 4)
      def commit(k: Int): Unit = table.append(withPii.filter(pmod(col("doc_id"), lit(3)) === k))

      val cdef = CurationPipeline.parse(
        s"""curation:
           |  input: $lake
           |  input-format: lakehouse
           |  output: $out
           |  output-format: lakehouse
           |  continuous: true
           |  steps:
           |    - type: pii-redact
           |""".stripMargin)
      commit(0) // backfill
      val q1 = CurationPipeline.runContinuous(s, cdef)
      q1.processAllAvailable()
      commit(1) // tail phase
      q1.processAllAvailable()
      q1.stop() // kill between micro-batches
      commit(2) // lands while the query is down
      val q2 = CurationPipeline.runContinuous(s, cdef)
      q2.processAllAvailable()
      q2.stop()

      val outTable = new LakehouseTable(s, out)
      val streamed = outTable.read().select(col("doc_id"), col("text"))
      // the restart guarantee: identical to one batch run over the full input
      val batchDir = java.nio.file.Files.createTempDirectory("curate_cont_batch").toString
      val bdef = CurationPipeline.parse(
        s"""curation:
           |  input: $lake
           |  input-format: lakehouse
           |  output: $batchDir
           |  steps:
           |    - type: pii-redact
           |""".stripMargin)
      CurationPipeline.run(s, bdef)
      val batch = s.read.parquet(batchDir).select(col("doc_id"), col("text"))
      require(streamed.count() == batch.count() &&
        streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "continuous output across kill/restart must equal the batch pipeline")
      streamed.orderBy("doc_id")
    }),

    // ---- similarity search --------------------------------------------------
    "a_embed_centroids" -> ((s, dir) => {
      // per-label mean embedding, dimension-major: posexplode multiplies rows
      // ×dim but the partial hash-aggregate reduces each partition to
      // (labels × dims) rows before the single shuffle — vectors never
      // shuffle whole
      emb(s, dir).select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").as("dim"))
        .agg(round(avg(col("col").cast("double")), 6).as("centroid"))
        .select(col("label"), col("dim"), col("centroid"))
        .orderBy("label", "dim")
    }),
    "a_ann_bruteforce" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.bruteForceTopK(e, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
        .orderBy("qid", "rank")
    }),
    "a_ann_lsh_self" -> ((s, dir) => {
      // LSH invariant: the identical vector shares all bands → always rank 1
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.lshTopK(e, "vec_id", "embedding", queries, "qid", "qvec", k = 3, dim = 64)
        .filter(col("rank") === 1)
        .select(col("qid"), col("cid"), col("cosine"))
        .orderBy("qid")
    }),
    "a_ann_ivf_self" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val e = emb(s, dir)
      val idx = Ann.IvfIndex.build(e, "vec_id", "embedding", numCentroids = 8,
        sampleSize = 500)
      val qs = e.filter(col("vec_id") < 10).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray)).toSeq
      idx.topK(qs, k = 1, nprobe = 8)
        .select(col("qid"), col("cid"), col("cosine"))
        .orderBy("qid")
    }),

    "a_ann_ivf_filtered" -> ((s, dir) => {
      // filtered vector search: each query's candidates are restricted to
      // its OWN label inside the probed buckets (the tenant/language filter
      // of a production vector store). nprobe = all centroids makes the
      // result EXACT filtered search, so the top-3-within-label is
      // oracle-checkable row for row.
      implicit val sp: SparkSession = s
      val e = emb(s, dir)
      val idx = Ann.IvfIndex.build(e, "vec_id", "embedding", numCentroids = 8,
        sampleSize = 500, attrCols = Seq("label"))
      val qs = e.filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray,
          r.get(r.fieldIndex("label")): Any)).toSeq
      idx.topKWithin(qs, "label", k = 3, nprobe = 8)
        .orderBy("qid", "rank")
    }),

    "a_ann_ivf_filtered_disk" -> ((s, dir) => {
      // the filtered search against the (bucket, label)-partitioned ON-DISK
      // layout: same exactness contract as a_ann_ivf_filtered at full
      // probes, but the candidates come off a partition-pruned parquet read
      // (both PartitionFilters asserted in AnnSpec) — the layout a 100 TB
      // vector store actually serves label-scoped queries from.
      implicit val sp: SparkSession = s
      val e = emb(s, dir)
      val idx = Ann.IvfIndex.build(e, "vec_id", "embedding", numCentroids = 8,
        sampleSize = 500, attrCols = Seq("label"))
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_disk").toString
      val lists = root + "/lists"
      idx.writePartitioned(lists, "label")
      val qs = e.filter(col("vec_id") < 8).collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray,
          r.get(r.fieldIndex("label")): Any)).toSeq
      idx.topKWithinFromPartitioned(lists, qs, "label", k = 3, nprobe = 8)
        .orderBy("qid", "rank")
    }),

    "a_ann_pq_self" -> ((s, dir) => {
      // PQ invariant: ADC distance is minimized exactly by a candidate with
      // the query's own codes (encode IS the per-block argmin), so an indexed
      // query retrieves itself at rank 1 for ANY codebook quality — the
      // deterministic slice of PQ the oracle can assert
      implicit val sp: SparkSession = s
      val e = emb(s, dir)
      val idx = Ann.PqIndex.build(e, "vec_id", "embedding", m = 8, ks = 16,
        sampleSize = 500)
      val qs = e.filter(col("vec_id") < 15).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray)).toSeq
      idx.topK(qs, k = 1)
        .select(col("qid"), col("cid"))
        .orderBy("qid")
    }),

    "a_ann_ivfpq_self" -> ((s, dir) => {
      // IVF-PQ: inverted lists of packed PQ codes, probes partition-pruned to
      // nprobe buckets, candidates scanned by ADC lookups — both scale levers
      // composed. The deterministic slice: a query's own bucket IS its
      // nearest centroid, so nprobe=1 contains it, and ADC is minimized by
      // its own code (encode is the per-block argmin) — self at rank 1.
      implicit val sp: SparkSession = s
      val e = emb(s, dir)
      val idx = Ann.IvfPqIndex.build(e, "vec_id", "embedding",
        numCentroids = 8, m = 8, ks = 16, sampleSize = 500)
      val qs = e.filter(col("vec_id") < 12).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray)).toSeq
      idx.topK(qs, k = 1, nprobe = 1)
        .select(col("qid"), col("cid"))
        .orderBy("qid")
    }),

    "a_ann_incremental" -> ((s, dir) => {
      // STREAMING index maintenance ([[graft.streaming.IvfMaintenance]]):
      // vectors land in a lakehouse table as three commits; a standing query
      // assigns each increment to its frozen-centroid bucket and appends to
      // the index table with batch-id txn replay-skip, is KILLED after the
      // second commit (the third lands while down), and a restarted
      // maintainer indexes the down-time vectors exactly once. A require()
      // proves the incrementally built index equals the one-shot batch
      // assignment row-for-row; the output is a full-nprobe (= exact) top-3
      // probe over the maintained index, oracle-checked against brute-force
      // cosine — so both the index CONTENT and the probe PATH are gated.
      implicit val sp: SparkSession = s
      import graft.sinks.LakehouseTable
      import graft.streaming.IvfMaintenance
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val batchIdx = Ann.IvfIndex.build(e, "vec_id", "embedding",
        numCentroids = 8, sampleSize = 500)
      val cents = batchIdx.centroids.sortBy(_._1).map(_._2)
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_ivf_src").toString
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
      val src = new LakehouseTable(s, srcRoot)
      src.create(TableSchema(e.schema), buckets = 4)
      val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
      src.append(e.filter(col("vec_id") <= maxId / 3))
      val q1 = IvfMaintenance.maintain(s, srcRoot, idxRoot, cents,
        "vec_id", "embedding")
      try {
        q1.processAllAvailable()
        src.append(e.filter(col("vec_id") > maxId / 3 &&
          col("vec_id") <= 2 * maxId / 3))
        q1.processAllAvailable()
      } finally q1.stop()
      src.append(e.filter(col("vec_id") > 2 * maxId / 3)) // while DOWN
      val q2 = IvfMaintenance.maintain(s, srcRoot, idxRoot, cents,
        "vec_id", "embedding")
      try q2.processAllAvailable() finally q2.stop()
      val index = new LakehouseTable(s, idxRoot)
      // incremental == batch: same rows, same buckets, nothing doubled/lost
      val got = index.read().select(col("cid"), col("bucket"))
      val want = batchIdx.assignments.select(col("cid"), col("bucket"))
      require(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "incrementally maintained index diverged from the batch assignment")
      val qs = e.filter(col("vec_id") < 6).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray)).toSeq
      IvfMaintenance.probeTopK(index, cents, qs, k = 3, nprobe = cents.length)
        .orderBy("qid", "rank")
    }),

    // ---- multimodal (binary plumbing; no SQL oracle — rows-only check) ------
    "m_media_features" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 60))
        .select(col("media_id"), col("kind"),
          round(aggregate(col("features"), lit(0.0d),
            (acc, v) => acc + v.cast("double")), 4).as("feature_sum"))
        .orderBy("media_id")
    }),
    "m_media_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(Multimodal.syntheticMedia(s, 12), everyMs = 2500)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id")
    }),
    "m_media_resize" -> ((s, dir) => {
      // 640x480 into a 320x320 box -> 320x240 for images, others untouched;
      // decoded_w/decoded_h come from RE-DECODING the resized PNG payload, so
      // the oracle equality proves the real decode → resample → encode round
      // trip, not just metadata arithmetic
      Multimodal.withDecodedDims(
          Multimodal.resize(Multimodal.syntheticMedia(s, 30), 320, 320))
        .select(col("media_id"), col("kind"),
          col("meta.width").as("w"), col("meta.height").as("h"),
          col("decoded_w"), col("decoded_h"))
        .orderBy("media_id")
    }))

  val oracles: Map[String, String] = Map(
    "d_exact_fingerprint" -> (docsWithDupsCte +
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM all_docs GROUP BY 1 ORDER BY doc_id""".stripMargin),
    "d_minhash_lsh" -> exactDupPairs,
    "d_simhash" -> exactDupPairs,
    "d_ngram_jaccard" ->
      """SELECT a.doc_id AS idA, b.doc_id AS idB,
        |  round(
        |    CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(a.text)), '\s+')),
        |                            list_distinct(string_split_regex(lower(trim(b.text)), '\s+')))) AS DOUBLE)
        |    / len(list_distinct(list_concat(list_distinct(string_split_regex(lower(trim(a.text)), '\s+')),
        |                                    list_distinct(string_split_regex(lower(trim(b.text)), '\s+'))))),
        |    6) AS jaccard
        |FROM documents a JOIN documents b
        |  ON a.source = b.source AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 60
        |ORDER BY idA, idB""".stripMargin,
    "d_embedding_dup" ->
      """SELECT vec_id AS idA, vec_id + 100000 AS idB, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 10 ORDER BY idA, idB""".stripMargin,
    // the planted exact copies (and only they) are dropped: each shares its
    // original's cluster and buckets with cosine 1.0 and has the higher id
    "d_semdedup" ->
      """SELECT vec_id, TRUE AS kept FROM embeddings
        |UNION ALL
        |SELECT vec_id + 100000 AS vec_id, FALSE AS kept
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY vec_id""".stripMargin,
    // same edge set as the Spark side (jaccard>=0.9 over distinct word sets on
    // the bounded candidate structure), then component min via recursive-CTE
    // label reachability — the fixpoint min-label propagation converges to
    "d_dup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 60
        |  WHERE CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(a.text)), '\s+')),
        |                                list_distinct(string_split_regex(lower(trim(b.text)), '\s+')))) AS DOUBLE)
        |        / len(list_distinct(list_concat(list_distinct(string_split_regex(lower(trim(a.text)), '\s+')),
        |                                        list_distinct(string_split_regex(lower(trim(b.text)), '\s+'))))) >= 0.90),
        |edges AS (SELECT idA AS s, idB AS d FROM pairs UNION ALL SELECT idB, idA FROM pairs),
        |nodes AS (SELECT DISTINCT s AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT lab.id AS doc_id, lab.cluster_id, sz.cluster_size
        |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,
    // cluster labels (recursive reachability) + per-cluster argmax on the
    // same rounded quality score, ties to the lowest id
    "d_dup_canonical" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB
        |  FROM documents a JOIN documents b
        |    ON a.source = b.source AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 60
        |  WHERE CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(a.text)), '\s+')),
        |                                list_distinct(string_split_regex(lower(trim(b.text)), '\s+')))) AS DOUBLE)
        |        / len(list_distinct(list_concat(list_distinct(string_split_regex(lower(trim(a.text)), '\s+')),
        |                                        list_distinct(string_split_regex(lower(trim(b.text)), '\s+'))))) >= 0.90),
        |edges AS (SELECT idA AS s, idB AS d FROM pairs UNION ALL SELECT idB, idA FROM pairs),
        |nodes AS (SELECT DISTINCT s AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text)=0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |              / length(text) END AS punct_ratio,
        |    CASE WHEN length(trim(text))=0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(the|a|an|and|or|of|to|in|is|that|it|for|on)\b')) AS DOUBLE) AS stophits,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS nonspace
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(least(CAST(toks AS DOUBLE)/50.0,1.0)*least(2000.0/greatest(CAST(toks AS DOUBLE),1.0),1.0)*0.4
        |      + (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.5 END)*0.2
        |      + (CASE WHEN (CASE WHEN toks=0 THEN 0.0 ELSE stophits/toks END) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END)*0.2
        |      + (CASE WHEN (CASE WHEN toks=0 THEN 0.0 ELSE nonspace/toks END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)*0.2,
        |    6) AS score
        |  FROM f),
        |ranked AS (
        |  SELECT lab.id, lab.cluster_id, q.score,
        |    row_number() OVER (PARTITION BY lab.cluster_id
        |                       ORDER BY q.score DESC, lab.id ASC) AS rn
        |  FROM lab JOIN q ON q.doc_id = lab.id),
        |canon AS (SELECT cluster_id, id AS canonical_id FROM ranked WHERE rn = 1)
        |SELECT r.id AS doc_id, r.cluster_id, c.canonical_id,
        |  r.id = c.canonical_id AS kept
        |FROM ranked r JOIN canon c USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    // quality-descending greedy prefix per source under the formulaic
    // token budget; cumulative window mirrors the engine's exactly
    "x_mix_budget" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(text)=0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |              / length(text) END AS punct_ratio,
        |    CASE WHEN length(trim(text))=0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(the|a|an|and|or|of|to|in|is|that|it|for|on)\b')) AS DOUBLE) AS stophits,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS nonspace
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source AS domain, CAST(toks AS BIGINT) AS n_tokens,
        |    round(least(CAST(toks AS DOUBLE)/50.0,1.0)*least(2000.0/greatest(CAST(toks AS DOUBLE),1.0),1.0)*0.4
        |      + (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.5 END)*0.2
        |      + (CASE WHEN (CASE WHEN toks=0 THEN 0.0 ELSE stophits/toks END) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END)*0.2
        |      + (CASE WHEN (CASE WHEN toks=0 THEN 0.0 ELSE nonspace/toks END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)*0.2,
        |    6) AS quality
        |  FROM f),
        |g AS (
        |  SELECT doc_id, domain, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY domain ORDER BY quality DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, domain, n_tokens, cum_tokens
        |FROM g
        |WHERE cum_tokens - n_tokens < 200 + 150 * (CAST(substr(domain, 4) AS BIGINT) % 4)
        |ORDER BY domain, doc_id""".stripMargin,
    // the identical LCG arithmetic (reduce mod 2^31 before the multiply, so
    // int64 never overflows) and the same (key, id) total order per shard
    "x_shard_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS key
        |  FROM documents)
        |SELECT doc_id, key * 8 // 2147483648 AS shard,
        |  CAST(row_number() OVER (PARTITION BY key * 8 // 2147483648
        |                          ORDER BY key, doc_id) AS INT) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,
    // same segmentation as d_span_dedup, but the filter is corpus-wide
    // distinct-document frequency: segments in >= 100 docs drop everywhere
    "x_boilerplate" ->
      """WITH all_docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'we use cookies accept our terms privacy policy site notice ' || text
        |      ELSE text END AS text
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM all_docs),
        |segs AS (
        |  SELECT doc_id, i AS idx,
        |    array_to_string(w[(i*10+1):(i*10+10)], ' ') AS seg
        |  FROM (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS i
        |        FROM words)),
        |freq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
        |SELECT s.doc_id,
        |  string_agg(s.seg, ' ' ORDER BY s.idx) AS text,
        |  count(*) AS kept_segments
        |FROM segs s JOIN freq f USING (seg)
        |WHERE f.df < 100
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // posting lists from the maintained index == full-scan tokenization
    "x_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> len(t) > 0))) AS term
        |  FROM documents)
        |SELECT term, doc_id FROM toks
        |WHERE term IN ('join', 'merge', 'zzzabsent')
        |ORDER BY term, doc_id""".stripMargin,
    // fuzzy vocabulary match == the same levenshtein band by full scan
    "x_fuzzy_lookup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> len(t) > 0))) AS term
        |  FROM documents),
        |m AS (
        |  SELECT DISTINCT term FROM toks
        |  WHERE abs(len(term) - 4) <= 1 AND levenshtein(term, 'merg') <= 1)
        |SELECT t.term, t.doc_id FROM toks t JOIN m USING (term)
        |ORDER BY term, doc_id""".stripMargin,
    // phrase adjacency from positional postings == full-scan ordinality
    "x_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    t -> len(t) > 0) AS l
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS i FROM toks),
        |a AS (SELECT doc_id, i FROM pos WHERE term = 'hash'),
        |b AS (SELECT doc_id, i FROM pos WHERE term = 'join')
        |SELECT DISTINCT a.doc_id AS doc_id FROM a JOIN b
        |ON a.doc_id = b.doc_id AND b.i = a.i + 1 ORDER BY a.doc_id""".stripMargin,
    // BM25 from the maintained index == the same formula by full scan.
    // Per-doc scores fold in TERM-ASCENDING order on both sides (a plain
    // SUM leaves IEEE association order partition-dependent), and ranking
    // uses the ROUNDED score so the tiebreak never reads sub-rounding noise
    "x_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> len(t) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len) AS avgdl FROM dl),
        |q AS (SELECT unnest(['data', 'join', 'merge']) AS term),
        |lists AS (SELECT tf.* FROM tf JOIN q USING (term)),
        |dfreq AS (SELECT term, count(*) AS df FROM lists GROUP BY 1),
        |scored AS (
        |  SELECT l.doc_id, l.term,
        |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
        |    (l.tf * (1.2 + 1.0) /
        |     (l.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / s.avgdl))) AS sc
        |  FROM lists l JOIN dfreq d USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN stats s),
        |agg AS (
        |  SELECT doc_id,
        |    list_reduce(list(sc ORDER BY term), (a, b) -> a + b) AS score_raw
        |  FROM scored GROUP BY 1),
        |ranked AS (
        |  SELECT doc_id, round(score_raw, 4) AS score,
        |    row_number() OVER (
        |      ORDER BY round(score_raw, 4) DESC, doc_id ASC) AS rank
        |  FROM agg)
        |SELECT doc_id, score, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // stage 1 = the x_bm25_search formula widened to top-20; stage 2 joins
    // the candidates' embeddings and reranks on the raw cosine (both
    // engines fold the dot product in array order — a_ann precedent)
    "x_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> len(t) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len) AS avgdl FROM dl),
        |q AS (SELECT unnest(['data', 'join', 'merge']) AS term),
        |lists AS (SELECT tf.* FROM tf JOIN q USING (term)),
        |dfreq AS (SELECT term, count(*) AS df FROM lists GROUP BY 1),
        |scored AS (
        |  SELECT l.doc_id, l.term,
        |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
        |    (l.tf * (1.2 + 1.0) /
        |     (l.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / s.avgdl))) AS sc
        |  FROM lists l JOIN dfreq d USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN stats s),
        |agg AS (
        |  SELECT doc_id,
        |    list_reduce(list(sc ORDER BY term), (a, b) -> a + b) AS score_raw
        |  FROM scored GROUP BY 1),
        |cand AS (
        |  SELECT doc_id, round(score_raw, 4) AS bm25,
        |    row_number() OVER (
        |      ORDER BY round(score_raw, 4) DESC, doc_id ASC) AS r1
        |  FROM agg),
        |qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        |rer AS (
        |  SELECT c.doc_id, c.bm25,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(q.qvec AS DOUBLE[])) AS cos
        |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id
        |  CROSS JOIN qv q
        |  WHERE c.r1 <= 20),
        |fin AS (
        |  SELECT doc_id, bm25, cos,
        |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
        |  FROM rer)
        |SELECT doc_id, bm25, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM fin WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // chunk windows == SQL list slices over the same whitespace tokens
    "x_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) = 0 THEN 0
        |         WHEN len(toks) <= 32 THEN 1
        |         ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END AS nc
        |  FROM t),
        |e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx FROM c WHERE nc > 0)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  array_to_string(toks[chunk_idx*24+1 : chunk_idx*24+32], ' ') AS chunk_text,
        |  CAST(len(toks[chunk_idx*24+1 : chunk_idx*24+32]) AS INT) AS chunk_tokens
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // x_bpe: greedy BPE encoding replayed in DuckDB. The learning loop is
    // iterative (aggregate pair counts → merge → repeat) and not
    // single-query SQL, so the oracle takes the deterministic learned merge
    // table (Bpe.pinnedGateMerges, self-checked by BpePinnedSpec against the
    // gate corpus) as a VALUES list and replays ENCODING exactly: words are
    // symbol sequences rendered as chr(1)chr(1)-separated strings, one
    // recursion step = merge all left-to-right non-overlapping occurrences
    // of the lowest-ranked present pair (replace() with a boundary-restoring
    // pattern that leaves one separator on each side, so adjacent matches
    // still fire), fixpoint when no learned pair remains; token count =
    // separator count / 2 - 1. Encoding runs per DISTINCT word (vocabulary-
    // sized), then joins back to the per-doc word multiset.
    "x_bpe" -> {
      val vals = graft.functions.Bpe.pinnedGateMerges.zipWithIndex
        .map { case ((a, b), i) => s"($i, '$a', '$b')" }.mkString(", ")
      s"""WITH RECURSIVE
        |merges(rank, a, b) AS (VALUES $vals),
        |words AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        |    FROM documents) WHERE length(w) > 0),
        |init AS (
        |  SELECT w, chr(1)||chr(1)||array_to_string(
        |      list_append([x FOR x IN string_split_regex(w, '') IF x <> ''], '</w>'),
        |      chr(1)||chr(1))||chr(1)||chr(1) AS s
        |  FROM words),
        |enc AS (
        |  SELECT w, s FROM init
        |  UNION ALL
        |  SELECT e.w,
        |    replace(e.s, chr(1)||m.a||chr(1)||chr(1)||m.b||chr(1),
        |                 chr(1)||m.a||m.b||chr(1)) AS s
        |  FROM enc e JOIN LATERAL (
        |    SELECT a, b FROM merges
        |    WHERE contains(e.s, chr(1)||a||chr(1)||chr(1)||b||chr(1))
        |    ORDER BY rank LIMIT 1) m ON true),
        |fin AS (
        |  SELECT w, s FROM enc e
        |  WHERE NOT EXISTS (SELECT 1 FROM merges
        |    WHERE contains(e.s, chr(1)||a||chr(1)||chr(1)||b||chr(1)))),
        |toks AS (
        |  SELECT w,
        |    CAST((length(s) - length(replace(s, chr(1), ''))) // 2 - 1 AS INT) AS n
        |  FROM fin),
        |docw AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        |  FROM documents)
        |SELECT d.doc_id, CAST(COALESCE(SUM(t.n), 0) AS INT) AS n_bpe_tokens
        |FROM documents d
        |LEFT JOIN docw ON d.doc_id = docw.doc_id AND length(docw.w) > 0
        |LEFT JOIN toks t ON docw.w = t.w
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },
    "x_tokens" ->
      """SELECT doc_id, n_chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text)=0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |              / length(text) END AS punct_ratio,
        |    CASE WHEN length(trim(text))=0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(the|a|an|and|or|of|to|in|is|that|it|for|on)\b')) AS DOUBLE) AS stophits,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS nonspace
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, punct_ratio,
        |    CASE WHEN toks = 0 THEN 0.0 ELSE stophits / toks END AS stopword_ratio,
        |    CASE WHEN toks = 0 THEN 0.0 ELSE nonspace / toks END AS mean_word_len,
        |    CAST(toks AS DOUBLE) AS toksd
        |  FROM f)
        |SELECT doc_id,
        |  round(punct_ratio, 6) AS punct_ratio,
        |  round(stopword_ratio, 6) AS stopword_ratio,
        |  round(mean_word_len, 6) AS mean_word_len,
        |  round(
        |    least(toksd / 50.0, 1.0) * least(2000.0 / greatest(toksd, 1.0), 1.0) * 0.4
        |    + (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
        |    + (CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2
        |    + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
        |  6) AS quality
        |FROM g ORDER BY doc_id""".stripMargin,
    "x_langid" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|with|that|for)\b')) AS en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|mit|für|nicht)\b')) AS de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|avec|pour|dans)\b')) AS fr,
        |    len(regexp_extract_all(lower(text), '\b(el|la|los|y|es|con|para|que)\b')) AS es
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'und'
        |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr'
        |       ELSE 'es' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,
    "x_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // bigram Stupid Backoff LM over the lang='en' slice, replayed exactly:
    // same tokenization, per-term round→DECIMAL sum, same 0.4 backoff and
    // 0.4*0.4/N OOV floor, same double division for the mean
    "x_perplexity_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |uni AS (
        |  SELECT u.w1 AS w1, count(*) AS c1
        |  FROM (SELECT w FROM toks WHERE lang = 'en') t, unnest(t.w) AS u(w1)
        |  GROUP BY 1),
        |n AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
        |ref_bg AS (
        |  SELECT u.b AS b, count(*) AS c2
        |  FROM (SELECT [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bs
        |        FROM toks WHERE lang = 'en') t, unnest(t.bs) AS u(b)
        |  GROUP BY 1),
        |occ AS (
        |  SELECT doc_id, u.b AS b
        |  FROM (SELECT doc_id, [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bs
        |        FROM toks) t, unnest(t.bs) AS u(b)),
        |terms AS (
        |  SELECT o.doc_id,
        |    CAST(round(log10(
        |      CASE WHEN bc.c2 IS NOT NULL THEN CAST(bc.c2 AS DOUBLE) / u1.c1
        |           WHEN u2.c1 IS NOT NULL THEN 0.4 * u2.c1 / n.n
        |           ELSE 0.16 / n.n END), 6) AS DECIMAL(18,6)) AS lp
        |  FROM occ o
        |  LEFT JOIN ref_bg bc ON bc.b = o.b
        |  LEFT JOIN uni u1 ON u1.w1 = string_split(o.b, ' ')[1]
        |  LEFT JOIN uni u2 ON u2.w1 = string_split(o.b, ' ')[2]
        |  CROSS JOIN n)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS lp_avg,
        |  CASE WHEN round(CAST(sum(lp) AS DOUBLE) / count(*), 6) >= -1.49
        |       THEN 1 ELSE 0 END AS keep
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // smoothed TF-IDF replayed exactly: same rounded-DECIMAL scores, same
    // (score DESC, term ASC) ranking
    "x_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |occ AS (SELECT doc_id, u.w AS w FROM toks, unnest(toks.w) AS u(w)),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM occ GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w,
        |    CAST(round(tf.tf * log10((n.n + 1) / (df.df + 1)), 6)
        |         AS DECIMAL(18,6)) AS s
        |  FROM tf JOIN df USING (w) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, w, s, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY s DESC, w ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, w AS term, CAST(s AS DOUBLE) AS score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // multinomial NB replayed exactly: same Laplace-smoothed rounded-DECIMAL
    // log terms, same (score DESC, label ASC) argmax
    "x_nb_classify" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        |tc AS (
        |  SELECT lang AS label, u.w AS w, count(*) AS c
        |  FROM train, unnest(train.w) AS u(w) GROUP BY 1, 2),
        |vocab AS (SELECT count(DISTINCT w) AS v FROM tc),
        |lt AS (SELECT label, sum(c) AS n FROM tc GROUP BY 1),
        |dc AS (SELECT lang AS label, count(*) AS docs FROM train GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM train),
        |model AS (
        |  SELECT tc.label, tc.w,
        |    CAST(round(log10(CAST(tc.c + 1 AS DOUBLE) / (lt.n + vocab.v)), 6)
        |         AS DECIMAL(18,6)) AS ll
        |  FROM tc JOIN lt USING (label) CROSS JOIN vocab),
        |stats AS (
        |  SELECT dc.label,
        |    CAST(round(log10(dc.docs / tot.t), 6) AS DECIMAL(18,6)) AS prior,
        |    CAST(round(log10(1.0 / (lt.n + vocab.v)), 6) AS DECIMAL(18,6)) AS llu
        |  FROM dc JOIN lt USING (label) CROSS JOIN vocab CROSS JOIN tot),
        |occ AS (SELECT doc_id, u.w AS w FROM toks, unnest(toks.w) AS u(w)),
        |scored AS (
        |  SELECT o.doc_id, s.label, any_value(s.prior) AS prior,
        |         sum(coalesce(m.ll, s.llu)) AS lsum
        |  FROM occ o CROSS JOIN stats s
        |  LEFT JOIN model m ON m.label = s.label AND m.w = o.w
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT doc_id, label, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY prior + lsum DESC, label ASC) AS rn
        |  FROM scored)
        |SELECT r.doc_id, r.label AS pred, d.lang,
        |  CASE WHEN r.label = d.lang THEN 1 ELSE 0 END AS correct
        |FROM ranked r JOIN documents d USING (doc_id)
        |WHERE rn = 1 ORDER BY r.doc_id""".stripMargin,
    // per-word-position gram expansion via scalar range + unnest in the select
    // list (same DuckDB-1.0 workaround as x_decontam); fractions replay the
    // Spark Column divisions verbatim
    "x_repetition" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |base AS (SELECT doc_id, w, len(w) AS n FROM words),
        |i2 AS (SELECT doc_id, w, unnest(range(1, n)) AS i FROM base WHERE n >= 2),
        |g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g FROM i2),
        |t2 AS (SELECT doc_id, max(c) AS top2
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
        |       GROUP BY doc_id),
        |i5 AS (SELECT doc_id, w, unnest(range(1, n - 3)) AS i FROM base WHERE n >= 5),
        |g5 AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g FROM i5),
        |t5 AS (SELECT doc_id, count(DISTINCT g) AS uniq5 FROM g5 GROUP BY doc_id),
        |s AS (
        |  SELECT b.doc_id, b.n AS n_tokens, len(list_distinct(b.w)) AS uniq1,
        |    coalesce(t2.top2, 0) AS top2, coalesce(t5.uniq5, 0) AS uniq5
        |  FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t5 USING (doc_id)),
        |f AS (
        |  SELECT doc_id, n_tokens,
        |    round(CASE WHEN n_tokens > 0
        |               THEN 1.0 - CAST(uniq1 AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS dup_word_frac,
        |    round(CASE WHEN n_tokens > 0
        |               THEN top2 * 2.0 / n_tokens ELSE 0.0 END, 6) AS top_bigram_frac,
        |    round(CASE WHEN n_tokens >= 5
        |               THEN 1.0 - CAST(uniq5 AS DOUBLE) / (n_tokens - 4) ELSE 0.0 END, 6) AS dup_5gram_frac
        |  FROM s)
        |SELECT doc_id, n_tokens, dup_word_frac, top_bigram_frac, dup_5gram_frac,
        |  CAST(top_bigram_frac <= 0.10 AND dup_word_frac <= 0.60 AS INT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "x_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |         || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         || ' card 4242-4242-4242-4242 host 10.0.'
        |         || CAST(doc_id % 256 AS VARCHAR) || '.7' AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(pii_text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '<CREDIT_CARD>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
        |  CAST(regexp_matches(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |    OR regexp_matches(pii_text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')
        |    OR regexp_matches(pii_text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')
        |    OR regexp_matches(pii_text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b') AS INT) AS has_pii,
        |  CAST(len(string_split_regex(pii_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS INT) AS n_emails
        |FROM p ORDER BY doc_id""".stripMargin,
    // the streamed output (three commits, kill + resume) replays the same
    // redaction the batch pipeline (and this SQL) computes over all docs
    "x_curate_continuous" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(pii_text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '<CREDIT_CARD>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |FROM p ORDER BY doc_id""".stripMargin,
    "x_sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
        |    * 2048 // 2147483648 <
        |  CASE WHEN source = 'src1' THEN 512 WHEN source = 'src0' THEN 1024 ELSE 256 END
        |ORDER BY doc_id""".stripMargin,
    "x_sample_topk" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
        |        * 2048 // 2147483648, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "x_pack_bins" ->
      """SELECT doc_id, source,
        |  CAST(floor(
        |    (sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)
        |    / 4096) AS BIGINT) AS bin
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DuckDB 1.0's range() table function rejects lateral column parameters,
    // so per-word-position expansion goes through scalar range + unnest in the
    // select list instead of a lateral FROM-clause join. The bench set's texts
    // are exactly the doc_id<20 train texts, so bench grams = tg WHERE id<20.
    "x_corpus_stats" ->
      """WITH f AS (
        |  SELECT doc_id, source, lang, n_chars,
        |    CASE WHEN length(text)=0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |              / length(text) END AS punct_ratio,
        |    CASE WHEN length(trim(text))=0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(the|a|an|and|or|of|to|in|is|that|it|for|on)\b')) AS DOUBLE) AS stophits,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS nonspace
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, lang, n_chars, toks, punct_ratio,
        |    CASE WHEN toks = 0 THEN 0.0 ELSE stophits / toks END AS stopword_ratio,
        |    CASE WHEN toks = 0 THEN 0.0 ELSE nonspace / toks END AS mean_word_len,
        |    CAST(toks AS DOUBLE) AS toksd
        |  FROM f),
        |q AS (
        |  SELECT doc_id, source, lang, n_chars, toks,
        |    round(
        |      least(toksd / 50.0, 1.0) * least(2000.0 / greatest(toksd, 1.0), 1.0) * 0.4
        |      + (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
        |    6) AS quality
        |  FROM g)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
        |    AS avg_quality
        |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "d_span_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id < 25),
        |words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM all_docs),
        |spans AS (
        |  SELECT doc_id, i AS idx,
        |    array_to_string(w[(i*10+1):(i*10+10)], ' ') AS span
        |  FROM (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS i
        |        FROM words)),
        |keep AS (
        |  SELECT doc_id, idx, span,
        |    row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
        |  FROM spans)
        |SELECT doc_id,
        |  string_agg(span, ' ' ORDER BY idx) AS text,
        |  count(*) AS kept_spans
        |FROM keep WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d_incremental_dedup" ->
      """WITH newb AS (
        |  SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 410000 AS doc_id, 'fresh ' || text AS text
        |  FROM documents WHERE doc_id < 20),
        |hfp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT doc_id, text FROM newb
        |WHERE md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) NOT IN
        |  (SELECT fp FROM hfp)
        |ORDER BY doc_id""".stripMargin,
    // exact copies collide in every MinHash band (sigSim 1.0) and drop;
    // disjoint-vocabulary synthetics share no shingle with anything and
    // survive; the within-batch duplicated pair keeps its lower id
    "d_incremental_lsh" ->
      """SELECT doc_id + 600000 AS doc_id, FALSE AS kept
        |FROM documents WHERE doc_id < 30
        |UNION ALL
        |SELECT doc_id + 610000 AS doc_id, TRUE AS kept
        |FROM documents WHERE doc_id < 20
        |UNION ALL
        |SELECT CAST(v.id AS BIGINT) AS doc_id, v.kept
        |FROM (VALUES (620000, TRUE), (620001, FALSE)) AS v(id, kept)
        |ORDER BY doc_id""".stripMargin,
    "d_dup_spans" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id < 25),
        |words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM all_docs),
        |idx AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i
        |  FROM words WHERE len(w) >= 8),
        |tg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM idx)
        |SELECT gram, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM tg GROUP BY gram HAVING count(*) >= 2 ORDER BY gram""".stripMargin,
    "x_decontam" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i
        |  FROM words WHERE len(w) >= 8),
        |tg AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM idx),
        |bg AS (SELECT DISTINCT gram FROM tg WHERE doc_id < 20)
        |SELECT doc_id, count(DISTINCT gram) AS n_shared_grams
        |FROM tg JOIN bg USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // every stage replays an individually-green formula; planted copies of
    // doc_id<30 exercise the survivor stage, bench grams = doc_id<20 texts
    "x_curate_e2e" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text, source FROM documents WHERE doc_id < 30),
        |words AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM all_docs),
        |base AS (SELECT doc_id, w, len(w) AS n FROM words),
        |i2 AS (SELECT doc_id, w, unnest(range(1, n)) AS i FROM base WHERE n >= 2),
        |g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g FROM i2),
        |t2 AS (SELECT doc_id, max(c) AS top2
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
        |       GROUP BY doc_id),
        |repf AS (
        |  SELECT b.doc_id, b.n AS n_tokens,
        |    round(CASE WHEN b.n > 0
        |               THEN 1.0 - CAST(len(list_distinct(b.w)) AS DOUBLE) / b.n ELSE 0.0 END, 6) AS dwf,
        |    round(CASE WHEN b.n > 0
        |               THEN coalesce(t2.top2, 0) * 2.0 / b.n ELSE 0.0 END, 6) AS tbf
        |  FROM base b LEFT JOIN t2 USING (doc_id)),
        |qf AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text)=0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |              / length(text) END AS punct_ratio,
        |    CASE WHEN length(trim(text))=0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(the|a|an|and|or|of|to|in|is|that|it|for|on)\b')) AS DOUBLE) AS stophits,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) AS nonspace
        |  FROM all_docs),
        |qg AS (
        |  SELECT doc_id, punct_ratio,
        |    CASE WHEN toks = 0 THEN 0.0 ELSE stophits / toks END AS stopword_ratio,
        |    CASE WHEN toks = 0 THEN 0.0 ELSE nonspace / toks END AS mean_word_len,
        |    CAST(toks AS DOUBLE) AS toksd
        |  FROM qf),
        |qual AS (
        |  SELECT doc_id,
        |    round(least(toksd / 50.0, 1.0) * least(2000.0 / greatest(toksd, 1.0), 1.0) * 0.4
        |      + (CASE WHEN punct_ratio BETWEEN 0.005 AND 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
        |    6) AS quality
        |  FROM qg),
        |surv AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |        FROM all_docs)
        |  GROUP BY fp),
        |dwords AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM all_docs),
        |didx AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i
        |  FROM dwords WHERE len(w) >= 8),
        |tg AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM didx),
        |bg AS (SELECT DISTINCT gram FROM tg WHERE doc_id < 20),
        |contam AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram))
        |SELECT a.doc_id, a.source, q.quality, r.n_tokens
        |FROM all_docs a
        |JOIN repf r USING (doc_id)
        |JOIN qual q USING (doc_id)
        |WHERE r.tbf <= 0.10 AND r.dwf <= 0.60
        |  AND q.quality >= 0.8
        |  AND a.doc_id IN (SELECT doc_id FROM surv)
        |  AND a.doc_id NOT IN (SELECT doc_id FROM contam)
        |  AND (((a.doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
        |    * 2048 // 2147483648 < 1024
        |ORDER BY a.doc_id""".stripMargin,
    // dimension-major per-label mean; i is 1-based in DuckDB lists, Spark's
    // posexplode pos is 0-based → dim = i - 1
    "a_embed_centroids" ->
      """WITH e AS (
        |  SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings)
        |SELECT label, CAST(i - 1 AS INT) AS dim,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
        |FROM e GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "a_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS cos
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "a_ann_ivf_filtered" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS cos
        |  FROM embeddings e JOIN q ON e.label = q.qlabel),
        |ranked AS (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // the on-disk partitioned path is exact at full probes too: same oracle
    "a_ann_ivf_filtered_disk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS cos
        |  FROM embeddings e JOIN q ON e.label = q.qlabel),
        |ranked AS (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "a_ann_lsh_self" ->
      """SELECT vec_id AS qid, vec_id AS cid, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 20 ORDER BY qid""".stripMargin,
    "a_ann_ivf_self" ->
      """SELECT vec_id AS qid, vec_id AS cid, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "a_ann_pq_self" ->
      """SELECT vec_id AS qid, vec_id AS cid
        |FROM embeddings WHERE vec_id < 15 ORDER BY qid""".stripMargin,
    "a_ann_ivfpq_self" ->
      """SELECT vec_id AS qid, vec_id AS cid
        |FROM embeddings WHERE vec_id < 12 ORDER BY qid""".stripMargin,
    // the incrementally maintained index probes at full nprobe => exact:
    // the oracle is brute-force cosine top-3 over all vectors
    "a_ann_incremental" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 6),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) AS cos
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // multimodal: the codec stub is deterministic, so expected values are
    // computable — feature sums were precomputed by replaying the stub on the
    // driver (self-oracle; MultimodalSpec recomputes them in-process too),
    // frame counts and resize geometry are plain arithmetic
    "m_media_features" ->
      """SELECT CAST(media_id AS BIGINT) AS media_id, kind,
      |  CAST(feature_sum AS DOUBLE) AS feature_sum FROM (VALUES
      |(0, 'image', 7.8537),
      |(1, 'audio', 4.9777),
      |(2, 'video', 6.5006),
      |(3, 'image', 7.9933),
      |(4, 'audio', 6.3353),
      |(5, 'video', 7.2107),
      |(6, 'image', 8.0934),
      |(7, 'audio', 7.6928),
      |(8, 'video', 7.1416),
      |(9, 'image', 7.9181),
      |(10, 'audio', 4.5251),
      |(11, 'video', 6.8762),
      |(12, 'image', 8.0343),
      |(13, 'audio', 5.8827),
      |(14, 'video', 6.8072),
      |(15, 'image', 8.0764),
      |(16, 'audio', 7.2403),
      |(17, 'video', 6.7382),
      |(18, 'image', 7.8826),
      |(19, 'audio', 8.5979),
      |(20, 'video', 6.5477),
      |(21, 'image', 7.9986),
      |(22, 'audio', 5.4302),
      |(23, 'video', 7.4543),
      |(24, 'image', 8.0588),
      |(25, 'audio', 6.7878),
      |(26, 'video', 7.7141),
      |(27, 'image', 7.9229),
      |(28, 'audio', 8.1455),
      |(29, 'video', 7.6451),
      |(30, 'image', 8.0622),
      |(31, 'audio', 4.9777),
      |(32, 'video', 7.3797),
      |(33, 'image', 8.0586),
      |(34, 'audio', 6.3353),
      |(35, 'video', 7.3106),
      |(36, 'image', 7.9055),
      |(37, 'audio', 7.6929),
      |(38, 'video', 7.2416),
      |(39, 'image', 8.0077),
      |(40, 'audio', 4.5251),
      |(41, 'video', 7.5015),
      |(42, 'image', 8.0217),
      |(43, 'audio', 5.8827),
      |(44, 'video', 8.408),
      |(45, 'image', 7.9326),
      |(46, 'audio', 7.2404),
      |(47, 'video', 8.2926),
      |(48, 'image', 8.0714),
      |(49, 'audio', 8.5979),
      |(50, 'video', 8.2236),
      |(51, 'image', 8.05),
      |(52, 'audio', 5.4302),
      |(53, 'video', 7.9582),
      |(54, 'image', 7.9348),
      |(55, 'audio', 6.7878),
      |(56, 'video', 7.8892),
      |(57, 'image', 8.0282),
      |(58, 'audio', 8.1454),
      |(59, 'video', 7.8201)
      |) AS t(media_id, kind, feature_sum) ORDER BY media_id""".stripMargin,
    "m_media_frames" ->
      """SELECT media_id, CAST(5 AS BIGINT) AS n_frames
      |FROM range(12) AS t(media_id) WHERE media_id % 3 = 2 ORDER BY media_id""".stripMargin,
    "m_media_resize" ->
      """SELECT media_id,
      |  CASE CAST(media_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(CASE WHEN media_id % 3 = 0 THEN 320 WHEN media_id % 3 = 2 THEN 64 END AS INT) AS w,
      |  CAST(CASE WHEN media_id % 3 = 0 THEN 240 WHEN media_id % 3 = 2 THEN 48 END AS INT) AS h,
      |  CAST(CASE WHEN media_id % 3 = 0 THEN 320 END AS INT) AS decoded_w,
      |  CAST(CASE WHEN media_id % 3 = 0 THEN 240 END AS INT) AS decoded_h
      |FROM range(30) AS t(media_id) ORDER BY media_id""".stripMargin)
}
