package graft.dedup

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines. Every near-dup variant
  * is BUCKETED (LSH bands → band-bucket shuffle → within-bucket pairs): the
  * candidate generation is a hash-join on band keys, never an all-pairs
  * cartesian, so the plan survives a 100× scale-up — pair count is bounded by
  * bucket sizes, and skewed buckets are handled by AQE skew-join splitting.
  */
object Dedup {

  // ---------- exact ----------------------------------------------------------

  /** Exact dedup on raw key columns (hash-aggregate, one shuffle). */
  def exact(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.dropDuplicates(keyCols)

  /** Canonical exact dedup: one survivor (min id) per canonical-text
    * fingerprint — deterministic, so oracle-checkable.
    */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  // ---------- MinHash + LSH --------------------------------------------------

  /** Per-document MinHash signature: array of `numHashes` minima of seeded
    * 64-bit hashes over the shingle set (shingle→minhash, SURVEY brief).
    */
  def minHashSignature(text: Column, shingleSize: Int, numHashes: Int): Column =
    graft.functions.CatalystExprs.minHashSig(
      graft.functions.CatalystExprs.wordShingles(text, shingleSize), numHashes)

  /** Per-band chunk width and mask for splitting an LSH signature into
    * bands. Requires bands to divide bits — a remainder would silently
    * drop the signature's top bits from every bucket key (recall loss) —
    * and handles the 64-bit band: `1L << 64` wraps to 1 on the JVM, so the
    * naive mask would be 0 and every row would land in bucket 0 — the
    * single-bucket all-pairs join this module's header promises never
    * happens. */
  private[graft] def bandSplit(bits: Int, bands: Int): (Int, Long) = {
    require(bands > 0 && bits % bands == 0,
      s"bands ($bands) must divide signature bits ($bits)")
    val perBand = bits / bands
    require(perBand <= 64, s"per-band width $perBand exceeds 64 bits")
    (perBand, if (perBand == 64) -1L else (1L << perBand) - 1)
  }

  /** Shared LSH pair generation: `banded` has columns
    * (band, bucketKey, id, payload); returns (idA, idB, payloadA, payloadB)
    * with idA < idB.
    *
    * The self-join deliberately joins the SAME plan subtree on both sides and
    * renames columns only AFTER the join: both children then produce an
    * identical exchange (same projection, same partitioning keys), so
    * Catalyst's `ReuseExchange` computes and shuffles the signature subtree
    * ONCE and the join reads the one shuffle twice. Renaming before the join
    * (the naive `a`/`b` projections) breaks subtree identity and doubles both
    * the signature computation and the shuffle. Bucket sizes are bounded by
    * LSH design (run exact dedup first so identical-document clusters collapse
    * before banding), and AQE splits skewed band buckets.
    */
  private def bucketPairs(banded: DataFrame): DataFrame = {
    // Explicit hash-repartition on the bucket keys BEFORE the self-join
    // (guide §2.4): with the bare self-join the planner is free to pick a
    // broadcast join at small estimated sizes, and a broadcast self-join
    // computes the signature subtree TWICE (stream side + broadcast side) —
    // measured in the r18-before plans: d_embedding_dup/d_minhash_lsh both
    // scanned and re-signed the corpus twice. Pinning one exchange on
    // exactly the join keys makes both children identical, so the shuffle
    // is planned/computed ONCE (ReuseExchange / AQE stage reuse) and the
    // join reads it twice with no further exchange — signatures per row are
    // computed once at every scale, which is also the plan shape a 100 TB
    // run would get (both sides far past broadcast size).
    val hashed = banded.repartition(col("band"), col("bucketKey"))
    hashed.alias("l")
      .join(
        hashed.alias("r"),
        col("l.band") === col("r.band") && col("l.bucketKey") === col("r.bucketKey") &&
          col("l.id") < col("r.id"))
      .select(
        col("l.id").as("idA"),
        col("r.id").as("idB"),
        col("l.payload").as("payloadA"),
        col("r.payload").as("payloadB"))
  }

  /** Banded MinHash signature rows `(band, bucketKey, id, payload)` — the
    * unit both the in-run candidate join ([[minHashLshCandidates]]) and the
    * maintained cross-run signature index
    * ([[graft.streaming.LshMaintenance]]) operate on. Map-only: signature
    * once per document, band keys derived by hashing signature slices.
    */
  def bandedSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    df.select(
        col(idCol).as("id"),
        minHashSignature(col(textCol), shingleSize, numHashes).as("payload"))
      .select(
        col("id"),
        col("payload"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", slice(col("payload"), b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucketKey")
  }

  /** Signature-level similarity of two MinHash payload arrays: the fraction
    * of equal minima — the unbiased Jaccard estimator LSH verification uses.
    * The payloads must be FULL signatures of `numHashes` minima (the divide
    * encodes that contract); one definition serves both the in-run candidate
    * join and the maintained cross-run index probe. */
  def signatureSimilarity(a: Column, b: Column, numHashes: Int): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1.0).otherwise(0.0)),
      lit(0.0), (acc, v) => acc + v).divide(lit(numHashes))

  /** Candidate pairs via LSH banding: equal band-hash ⇒ candidate. Returns
    * (idA, idB, sigSimilarity) with idA < idB, deduplicated across bands.
    *
    * Plan shape: signature (narrow, computed once) → explode bands (narrow) →
    * ONE shuffle into (band, hash) buckets → within-bucket pair explosion →
    * pair dedup. No cartesian product anywhere.
    */
  def minHashLshCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, shingleSize, numHashes, bands)
    bucketPairs(banded)
      .select(
        col("idA"),
        col("idB"),
        signatureSimilarity(col("payloadA"), col("payloadB"), numHashes).as("sigSim"))
      .groupBy("idA", "idB")
      .agg(max("sigSim").as("sigSim"))
  }

  /** Full near-dup pipeline: LSH candidates verified by exact shingle-set
    * Jaccard ≥ `threshold`. Verification joins texts back by id (hash joins).
    */
  def minHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val cands = minHashLshCandidates(df, idCol, textCol, shingleSize, numHashes, bands)
    val sh = df.select(
      col(idCol).as("__id"),
      array_distinct(TextFunctions.shingles(col(textCol), shingleSize)).as("__sh"))
    cands
      .join(sh.withColumnRenamed("__id", "idA").withColumnRenamed("__sh", "shA"), Seq("idA"))
      .join(sh.withColumnRenamed("__id", "idB").withColumnRenamed("__sh", "shB"), Seq("idB"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("shA"), col("shB"))).cast("double") /
          size(array_union(col("shA"), col("shB"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------- SimHash --------------------------------------------------------

  /** 64-bit SimHash over word tokens: per-bit majority vote of token-hash
    * bits, computed in one native pass ([[graft.functions.CatalystExprs.SimHashExpr]]).
    * Deterministic (FNV-1a + splitmix64 over token bytes); `bits < 64` masks
    * the low bits of the full signature.
    */
  def simHash(text: Column, bits: Int = 64): Column = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    val sig = graft.functions.CatalystExprs.simHash64(text)
    if (bits == 64) sig else sig.bitwiseAND(lit((1L << bits) - 1))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: band the 64 bits into `bands` chunks; equal
    * chunk ⇒ candidate (standard SimHash blocking); verify hamming ≤ maxDist.
    */
  def simHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    val (perBand, mask) = bandSplit(64, bands)
    val sigs = df.select(col(idCol).as("id"), simHash(col(textCol)).as("payload"))
    val chunkArray = array((0 until bands).map(b =>
      shiftright(col("payload"), b * perBand).bitwiseAND(lit(mask))): _*)
    val banded = sigs.select(col("id"), col("payload"), posexplode(chunkArray))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucketKey")
    bucketPairs(banded)
      .select(col("idA"), col("idB"),
        hamming(col("payloadA"), col("payloadB")).as("hamming"))
      .groupBy("idA", "idB")
      .agg(min("hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ---------- duplicate clustering (connected components) --------------------

  /** Label every node of a near-dup pair graph with its connected component's
    * minimum id — the canonical "duplicate cluster" representative (so keeping
    * `id == cluster_id` keeps exactly one survivor per cluster).
    *
    * Min-label propagation: each round is ONE shuffle hash-join
    * (edges ⋈ labels on dst) + a min-aggregation, and labels only decrease,
    * so the fixpoint (labels constant across every component, equal to the
    * component min) is reached in O(cluster diameter) rounds and the result is
    * ITERATION-ORDER-INDEPENDENT — deterministic, hence oracle-checkable
    * against a recursive-CTE reachability query. Near-dup clusters are
    * band-bucket near-cliques with tiny diameters (single digits), so rounds
    * stay small even at corpus scale; for adversarially long chains the
    * large-star/small-star contraction (Kiveris et al., "Connected Components
    * in MapReduce", SoCC'14) bounds rounds at O(log n) — same join shape,
    * only the edge rewrite differs. Each round's labels are eagerly
    * local-checkpointed: `labels` appears twice in the next round's plan
    * (propagation join + convergence diff), so without truncation the logical
    * plan DOUBLES per round and Catalyst analysis goes exponential — the
    * classic iterative-algorithm lineage explosion. Checkpointing makes every
    * round's plan O(1) deep and reads the prior labels from storage once.
    */
  def duplicateClusters(
      pairs: DataFrame,
      idACol: String = "idA",
      idBCol: String = "idB",
      maxIterations: Int = 20): DataFrame = {
    val edges = pairs
      .select(col(idACol).as("src"), col(idBCol).as("dst"))
      .unionByName(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val prev = labels
      val neighborMin = edges
        .join(prev.withColumnRenamed("id", "dst").withColumnRenamed("label", "nlabel"),
          Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("nlabel")).as("nmin"))
        .withColumnRenamed("src", "id")
      val next = prev.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      val changed = next
        .join(prev.withColumnRenamed("label", "prev"), Seq("id"))
        .filter(col("label") < col("prev"))
        .count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    // a non-converged exit would be INDISTINGUISHABLE from success: one
    // connected component would carry several cluster ids, so canonical
    // selection keeps several "survivors" of one duplicate cluster and the
    // duplicates silently stay in the corpus. min-label propagation needs
    // at most the graph diameter in rounds — a diameter past maxIterations
    // means the caller must raise the bound, not receive wrong labels.
    require(converged,
      s"duplicate-cluster label propagation did not converge in " +
        s"$maxIterations iterations (duplicate-chain diameter exceeds the " +
        "bound) — raise maxIterations rather than using split clusters")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Canonical-document selection: within each duplicate cluster keep the
    * highest-quality member (ties to the lowest id) — the "which copy do we
    * train on" decision after clustering. One `row_number` window over
    * cluster-sized partitions (clusters are small by construction — they
    * are near-duplicate groups — so the per-partition sort is bounded; the
    * cross-cluster work distributes on the cluster id). The score column
    * must be pre-rounded so rank never reads sub-rounding float noise.
    */
  def canonicalPerCluster(
      labeled: DataFrame,
      idCol: String = "id",
      clusterCol: String = "cluster_id",
      scoreCol: String = "score"): DataFrame = {
    val w = Window.partitionBy(col(clusterCol)).orderBy(col(scoreCol).desc, col(idCol))
    val ranked = labeled.withColumn("rn", row_number().over(w))
    val canon = ranked.filter(col("rn") === 1)
      .select(col(clusterCol), col(idCol).as("canonical_id"))
    labeled.join(canon, Seq(clusterCol))
      .select(col(idCol), col(clusterCol), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("kept"))
  }

  // ---------- span-level dedup ----------------------------------------------

  /** Span-level dedup with fixed word windows (the practical form of Lee et
    * al. 2022's substring dedup, and C4's span removal): each document is cut
    * into consecutive `window`-word spans, every span keeps only its FIRST
    * global occurrence (ordered by (doc id, span index)), and surviving spans
    * reassemble in order. Documents that lose every span (exact copies)
    * disappear entirely.
    *
    * Plan shape: spans are derived map-only (split + slice lambda, no UDF);
    * the global keep-first is ONE shuffle — a hash aggregate partitioned by
    * the span text (high-cardinality, skew-free) taking `min(struct(id, idx))`
    * with map-side partials, no sort — and reassembly is the second shuffle,
    * partitioned by doc. Documents never shuffle whole; only their spans do,
    * and span volume == corpus token volume.
    *
    * "First occurrence" is the struct-lexicographic minimum of (id, span
    * index): any orderable id type works (bigint, string/UUID, …) with no
    * collision bound — there is no arithmetic encoding to overflow or collide,
    * however long the document or large the id.
    */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 10): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    val words = split(lower(trim(col(textCol))), "\\s+")
    val nSpans = ceil(size(col("__w")) / lit(window.toDouble)).cast("long")
    val spans = df.select(col(idCol), words.as("__w"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L), nSpans - 1),
        i => array_join(
          slice(col("__w"), (i * window + 1).cast("int"), lit(window)), " "))))
      .withColumnRenamed("pos", "__idx").withColumnRenamed("col", "__span")
    spans
      .groupBy(col("__span"))
      .agg(min(struct(col(idCol), col("__idx"))).as("__first"))
      .select(
        col("__first").getField(idCol).as(idCol),
        col("__first").getField("__idx").as("__idx"),
        col("__span"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__idx"), col("__span")))),
            s => s.getField("__span")),
          " ").as(textCol),
        count(lit(1)).as("kept_spans"))
  }

  /** Corpus-frequency boilerplate removal (the C4 / RefinedWeb
    * repeated-paragraph rule): cut each document into consecutive
    * `window`-word segments, count each segment text's DISTINCT-document
    * frequency corpus-wide, and drop EVERY occurrence of segments seen in
    * `minDocFreq` or more documents — nav bars, cookie banners, license
    * headers. Surviving segments reassemble in order; documents that lose
    * all segments (pure boilerplate) drop out.
    *
    * Contrast [[spanDedup]]: span dedup keeps the FIRST occurrence of each
    * repeated span (substring dedup — the copy is the problem); this pass
    * removes ALL copies once a segment crosses the frequency threshold (the
    * segment itself is the problem — the first cookie banner is as worthless
    * as the ten-thousandth).
    *
    * Plan shape: segments derive map-only (split + slice lambda, no UDF)
    * and are computed twice — once under the frequency aggregate, once on
    * the filter side — because recomputing a map-only derivation is cheaper
    * at 100 TB than materializing corpus-scale segment rows. The frequency
    * aggregate shuffles on segment text (map-side partial count-distinct
    * collapses each partition's copies of a hot boilerplate segment before
    * the shuffle, so frequency skew is bounded by partition count); the
    * filter is then a LEFT ANTI join against only the segments that
    * CROSSED the threshold — the small set by construction (at most
    * total-occurrences / minDocFreq distinct segments), so it broadcasts
    * at any corpus size, where joining the surviving-segment frequencies
    * would broadcast nearly the whole vocabulary. Reassembly groups by
    * document: segments shuffle, documents never do, and segment volume ==
    * corpus token volume — the [[spanDedup]] scale shape.
    */
  def removeBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      minDocFreq: Int): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    require(minDocFreq > 1, s"minDocFreq must exceed 1: $minDocFreq")
    val words = split(lower(trim(col(textCol))), "\\s+")
    val nSegs = ceil(size(col("__w")) / lit(window.toDouble)).cast("long")
    val segs = df.select(col(idCol), words.as("__w"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L), nSegs - 1),
        i => array_join(
          slice(col("__w"), (i * window + 1).cast("int"), lit(window)), " "))))
      .withColumnRenamed("pos", "__idx").withColumnRenamed("col", "__seg")
    val boilerplate = segs.groupBy(col("__seg"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__seg"))
    segs.join(boilerplate, Seq("__seg"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__idx"), col("__seg")))),
            s => s.getField("__seg")),
          " ").as(textCol),
        count(lit(1)).as("kept_segments"))
  }

  // ---------- incremental (cross-run) dedup ---------------------------------

  /** Incremental exact dedup: drop rows of `newDocs` whose canonical text
    * fingerprint already exists in `history` — the every-night operation of a
    * continuously ingesting corpus — WITHOUT shuffling the history.
    *
    * Three map-shaped stages:
    *  1. '''Build''': a Bloom filter over history fingerprints
    *     (executor-side partial sketches, driver OR-merge; ~1.2 GB per 10^9
    *     keys at 1% fpp — broadcastable), built once per run.
    *  2. '''Probe''': map-only `mightContain` over the new batch. Negatives
    *     are definitively new (Bloom has no false negatives) and short-circuit
    *     all join work — at a typical 1–10% dup rate, 90%+ of the batch.
    *  3. '''Verify''': Bloom positives (true dups + fpp·|new| false
    *     positives) are exact-checked: the candidate fingerprint set (small)
    *     broadcasts to a semi-join over history, and the confirmed set (also
    *     small) broadcasts back to an anti-join over the positives. History
    *     is scanned map-only with a broadcast probe — never shuffled, never
    *     collected.
    *
    * Equivalent to `newDocs LEFT ANTI JOIN history ON fingerprint` (the
    * oracle), at the cost of ONE history scan + two broadcasts instead of a
    * full two-sided shuffle. The single scan is enforced by persisting the
    * (small: one hash string per row) fingerprint projection for the run:
    * sizing the Bloom filter, building it, and the exact-verify semi-join all
    * read the cached fingerprints, so the 100 TB base relation is read exactly
    * once per nightly run — asserted by accumulator in `DedupSpec`. Callers
    * that know the history cardinality up front (table metadata, commit-log
    * stats) pass `expectedHistoryRows` to size the filter without the count.
    */
  def incrementalDedup(
      newDocs: DataFrame,
      history: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.01,
      expectedHistoryRows: Option[Long] = None): DataFrame = {
    val fpCol = "__graft_fp"
    val newFp = newDocs.withColumn(fpCol, TextFunctions.fingerprint(col(textCol)))
    val histFp = history.select(TextFunctions.fingerprint(col(textCol)).as(fpCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val expected = math.max(expectedHistoryRows.getOrElse(histFp.count()), 64L)
    val bloom = histFp.stat.bloomFilter(fpCol, expected, fpp)
    val bc = newDocs.sparkSession.sparkContext.broadcast(bloom)
    // probe is a plain UDF: Spark exposes no public bloom expression; the
    // per-row cost is a few hashes and the filter is map-only either way
    val mightContain = udf((fp: String) => fp != null && bc.value.mightContainString(fp))
    val negatives = newFp.filter(!mightContain(col(fpCol)))
    val positives = newFp.filter(mightContain(col(fpCol)))
    val candidateFps = positives.select(col(fpCol)).distinct()
    // eagerly materialize the (small) confirmed set off the cached
    // fingerprints, then drop the cache: the returned plan reads only the
    // checkpointed rows, so history is never touched again
    val confirmed = histFp
      .join(broadcast(candidateFps), Seq(fpCol), "left_semi").distinct()
      .localCheckpoint()
    histFp.unpersist()
    val survivors = positives.join(broadcast(confirmed), Seq(fpCol), "left_anti")
    negatives.unionByName(survivors).drop(fpCol)
  }

  // ---------- embedding cosine near-dup -------------------------------------

  /** Embedding near-dup via random-hyperplane LSH: signature band join →
    * within-bucket cosine ≥ threshold. Never all-pairs.
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    val (perBand, mask) = bandSplit(bits, bands)
    // HOIST the vector norm to the per-row payload (guide §2.3: move work
    // from pairs to rows): candidate pairs outnumber rows by orders of
    // magnitude, and `cosine(a,b)` re-derives BOTH norms per pair (3 dot
    // products). Carrying norm = sqrt(dot(v,v)) beside the vector makes
    // each pair one dot + one multiply + one divide — the same sqrt /
    // multiply / divide in the same order, so the result is bit-identical
    // (oracle-EQUAL re-proved). r18: d_embedding_dup pair stage ~5M pairs
    // for 6.4k vectors at sf0.1.
    val sigs = df.select(
      col(idCol).as("id"),
      struct(
        col(vecCol).as("vec"),
        VectorFunctions.norm(col(vecCol)).as("nrm")).as("payload"),
      VectorFunctions.hyperplaneSignature(col(vecCol), dim, bits, seed).as("sig"))
    val chunkArray = array((0 until bands).map(b =>
      shiftright(col("sig"), b * perBand).bitwiseAND(lit(mask))): _*)
    val banded = sigs.select(col("id"), col("payload"), posexplode(chunkArray))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucketKey")
    bucketPairs(banded)
      .select(col("idA"), col("idB"),
        (VectorFunctions.dot(col("payloadA.vec"), col("payloadB.vec")) /
          (col("payloadA.nrm") * col("payloadB.nrm"))).as("cosine"))
      .groupBy("idA", "idB")
      .agg(max("cosine").as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
  }

  // ---------- semantic dedup (SemDeDup) -------------------------------------

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid by cosine,
    * then search near-duplicates only WITHIN a cluster and keep the
    * lowest-id member of each near-dup pair. Returns the input columns plus a
    * `kept` boolean.
    *
    * The paper's two-level pruning is preserved at scale:
    *   - cluster assignment is MAP-ONLY — centroids are a driver-side
    *     broadcast literal (k × dim doubles, metadata-sized), each row
    *     computes k codegen'd cosines, no shuffle;
    *   - candidate pairs come from hyperplane-LSH banding SCOPED BY CLUSTER
    *     (bucket key = (cluster, band-chunk)), so the one shuffle distributes
    *     over k × bands × 2^(bits/bands) buckets and a pair is only verified
    *     when it shares BOTH a cluster and a signature band — never all-pairs,
    *     and never across clusters.
    *
    * Centroids here are the k lowest-id vectors (deterministic, so the result
    * is oracle-checkable); a production pipeline would feed k-means centroids
    * from an offline sample through the `centroids` overload — assignment,
    * banding, and the keep rule are identical either way. Ties in the argmax
    * break toward the lowest centroid index (first occurrence), so identical
    * vectors always co-cluster.
    */
  def semanticDeduplicate(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      threshold: Double,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    val centroids = df.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(k)
      .collect() // k rows of dim floats: metadata-sized, never row-scaled
      .map(_.getSeq[Number](1).map(_.doubleValue()).toSeq)
    semanticDeduplicate(df, idCol, vecCol, dim, centroids, threshold, bits, bands, seed)
  }

  /** SemDeDup with explicit centroids (e.g. offline k-means). */
  def semanticDeduplicate(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      centroids: Seq[Seq[Double]],
      threshold: Double,
      bits: Int,
      bands: Int,
      seed: Long): DataFrame = {
    require(centroids.nonEmpty, "semantic dedup needs at least one centroid")
    require(centroids.forall(_.length == dim), s"centroids must have dim=$dim")
    val (perBand, mask) = bandSplit(bits, bands)
    // argmax over k per-row cosines; array_position takes the FIRST maximal
    // index, so the tie-break is deterministic (lowest centroid wins). The
    // centroid literal is cast to the vector column's element type so the
    // native dot expression sees matching array types.
    val vecType = df.schema(vecCol).dataType
    // same norm hoist as [[embeddingNearDuplicates]] — here it also saves
    // the k redundant self-norms of the per-row centroid argmax (each
    // cosine re-derived sqrt(dot(v,v))); centroid norms constant-fold.
    // Identical arithmetic order per element → bit-identical assignment.
    val cosArr = array(centroids.map(c =>
      VectorFunctions.dot(col("payload.vec"), typedLit(c).cast(vecType)) /
        (col("payload.nrm") * VectorFunctions.norm(typedLit(c).cast(vecType)))): _*)
    val assigned = df.select(
        col(idCol).as("id"),
        struct(
          col(vecCol).as("vec"),
          VectorFunctions.norm(col(vecCol)).as("nrm")).as("payload"))
      .withColumn("cluster", array_position(cosArr, array_max(cosArr)) - 1)
    val sigs = assigned.withColumn(
      "sig", VectorFunctions.hyperplaneSignature(col("payload.vec"), dim, bits, seed))
    val chunkArray = array((0 until bands).map(b =>
      shiftright(col("sig"), b * perBand).bitwiseAND(lit(mask))): _*)
    val banded = sigs.select(col("id"), col("payload"), col("cluster"), posexplode(chunkArray))
      .withColumnRenamed("pos", "band")
      .select(col("id"), col("payload"), col("band"),
        struct(col("cluster"), col("col").as("chunk")).as("bucketKey"))
    val dropped = bucketPairs(banded)
      .filter((VectorFunctions.dot(col("payloadA.vec"), col("payloadB.vec")) /
        (col("payloadA.nrm") * col("payloadB.nrm"))) >= threshold)
      .select(col("idB").as("__dup_id")).distinct()
    df.join(dropped, col(idCol) === col("__dup_id"), "left")
      .withColumn("kept", col("__dup_id").isNull)
      .drop("__dup_id")
  }
}
