package graft.similarity

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding column.
  *
  * - [[bruteForceTopK]] is the exact baseline: broadcast the (small) query set
  *   against the corpus — a BroadcastNestedLoopJoin, which is the correct
  *   plan when |Q| is small (cost |Q|·N dot products, no shuffle of the
  *   corpus). Never a shuffled CartesianProduct.
  * - [[lshTopK]] is the scale path: random-hyperplane signatures bucket the
  *   corpus; each query probes only its matching band buckets (hash join),
  *   reading a small fraction of N.
  * - [[IvfIndex]] is the IVF variant: k centroids (driver k-means-lite),
  *   corpus assigned once (and ideally written bucket-partitioned); queries
  *   scan `nprobe` nearest inverted lists.
  */
object Ann {

  /** Exact top-k per query by cosine. Ties broken by corpus id (deterministic).
    *
    * Norms are HOISTED to the per-row stage (r19; same transformation and
    * bit-identity argument as `Dedup.embeddingNearDuplicates`, r18): the
    * nested-loop join scores every corpus row against every query, so
    * `cosine(c, q)` re-derived both norms |pairs| times — 3 dot products per
    * pair. Carrying `nrm = sqrt(dot(v, v))` per row makes each pair one dot
    * + the same multiply/divide in the same IEEE order → bit-identical.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int): DataFrame = {
    val scored = corpus
      .select(col(corpusId).as("cid"), col(corpusVec).as("cvec"),
        VectorFunctions.norm(col(corpusVec)).as("__cnrm"))
      .join(broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"),
        VectorFunctions.norm(col(queryVec)).as("__qnrm"))))
      .select(
        col("qid"),
        col("cid"),
        (VectorFunctions.dot(col("cvec"), col("qvec")) /
          (col("__cnrm") * col("__qnrm"))).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** LSH-bucketed top-k: only corpus rows sharing a signature band with the
    * query are scored. Recall < 1 by construction; increase `bands`/decrease
    * `bits` per band to trade cost for recall.
    */
  def lshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      dim: Int,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    val (perBand, mask) = graft.dedup.Dedup.bandSplit(bits, bands)
    // norms hoisted to the per-row stage, BEFORE the band explode (r19; the
    // Dedup payload-struct pattern): each row's norm is computed once, rides
    // the payload through the band join and the first() aggregate, and each
    // surviving candidate pair costs one dot instead of three — same IEEE
    // order in the final multiply/divide, so cosine is bit-identical
    def banded(df: DataFrame, id: String, vec: String, idAs: String, pAs: String) =
      df.select(
        col(id).as(idAs),
        struct(col(vec).as("vec"), VectorFunctions.norm(col(vec)).as("nrm")).as(pAs),
        posexplode(array((0 until bands).map(b => shiftright(
          VectorFunctions.hyperplaneSignature(col(vec), dim, bits, seed),
          b * perBand).bitwiseAND(lit(mask))): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "chunk")
    val c = banded(corpus, corpusId, corpusVec, "cid", "cpay")
    val q = banded(queries, queryId, queryVec, "qid", "qpay")
    val cands = c.join(broadcast(q), Seq("band", "chunk"))
      .select(col("qid"), col("cid"), col("cpay"), col("qpay"))
      .groupBy("qid", "cid")
      .agg(first("cpay").as("cpay"), first("qpay").as("qpay"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
    cands
      .select(col("qid"), col("cid"),
        (VectorFunctions.dot(col("cpay.vec"), col("qpay.vec")) /
          (col("cpay.nrm") * col("qpay.nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** IVF index: `numCentroids` centroids refined by `iters` Lloyd steps over a
    * driver-collected sample (centroid count is small; the corpus assignment
    * is the distributed part). At 100 TB the assignment output is written
    * bucket-partitioned so probes touch only `nprobe` partitions.
    */
  final class IvfIndex private (
      val centroids: Array[(Int, Array[Double])],
      assigned: DataFrame) {

    /** corpus rows + their `bucket` column (cached by the caller if reused). */
    def assignments: DataFrame = assigned

    /** Persist the inverted lists bucket-partitioned — the 100 TB layout:
      * a probe of `nprobe` buckets becomes a partition-pruned read that
      * touches only those directories, never the full corpus.
      */
    def writePartitioned(path: String): Unit =
      assigned.write.partitionBy("bucket").parquet(path)

    /** Persist the inverted lists partitioned by (bucket, attr) — the 100 TB
      * layout for FILTERED search: a label-scoped probe prunes on BOTH keys
      * and reads only the probed buckets' matching-attribute directories,
      * never a whole bucket. Requires the attribute in `attrCols` at
      * [[IvfIndex.build]] time.
      */
    def writePartitioned(path: String, attrCol: String): Unit =
      assigned.write.partitionBy("bucket", attrCol).parquet(path)

    /** Read only the probed buckets from a [[writePartitioned]] layout
      * (partition pruning does the work — verify `PartitionFilters` in the
      * scan).
      */
    def readBuckets(spark: SparkSession, path: String, buckets: Seq[Int]): DataFrame =
      spark.read.parquet(path).filter(col("bucket").isin(buckets: _*))

    /** [[topK]] against the partition-pruned on-disk layout instead of the
      * in-memory assignment frame.
      */
    def topKFromPartitioned(
        path: String,
        queries: Seq[(Long, Array[Double])],
        k: Int,
        nprobe: Int)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      val probePairs = queries.flatMap { case (qid, v) =>
        nearestCentroids(v, nprobe).map(b => (qid, b, v.map(_.toFloat)))
      }
      val probes = probePairs.toDF("qid", "bucket", "qvec")
        .withColumn("__qnrm", VectorFunctions.norm(col("qvec")))
      // the bucket list was computed DRIVER-side just above: deriving it
      // locally avoids launching a Spark job per query batch to collect
      // back data the driver already holds
      val needed = probePairs.map(_._2).distinct
      // norms hoisted to the per-row stage (r19): each corpus row joins every
      // probe of its bucket, so cosine re-derived both norms per PAIR; the
      // same multiply/divide order keeps the value bit-identical
      val cands = readBuckets(spark, path, needed)
        .withColumn("__cnrm", VectorFunctions.norm(col("cvec")))
        .join(broadcast(probes), Seq("bucket"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
      cands
        .select(col("qid"), col("cid"),
          (VectorFunctions.dot(col("cvec"), col("qvec")) /
            (col("__cnrm") * col("__qnrm"))).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), round(col("cosine"), 6).as("cosine"), col("rank"))
    }

    /** [[topKWithin]] against a `(bucket, attr)`-partitioned on-disk layout
      * ([[writePartitioned]] with `attrCol`): the scan carries partition
      * filters on BOTH keys — the coarse `isin` over the query set's buckets
      * and attributes prunes directories, then the per-query equality scopes
      * candidates exactly. Same exactness contract as [[topKWithin]] at full
      * `nprobe`.
      */
    def topKWithinFromPartitioned(
        path: String,
        queries: Seq[(Long, Array[Double], Any)],
        attrCol: String,
        k: Int,
        nprobe: Int)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      val probePairs = queries.flatMap { case (qid, v, attr) =>
        nearestCentroids(v, nprobe).map(b => (qid, b, v.map(_.toFloat), attr.toString))
      }
      val probes = probePairs.toDF("qid", "bucket", "qvec", "__qattr")
        .withColumn("__qnrm", VectorFunctions.norm(col("qvec")))
      val needed = probePairs.map(_._2).distinct
      // raw (uncast) values on the partition columns: a cast would block
      // partition pruning — the cast-to-string match lives in the join filter
      val attrs = queries.map(_._3).distinct
      // per-row norm hoist (r19), same bit-identity argument as topK
      val cands = spark.read.parquet(path)
        .filter(col("bucket").isin(needed: _*) && col(attrCol).isin(attrs: _*))
        .withColumn("__cnrm", VectorFunctions.norm(col("cvec")))
        .join(broadcast(probes), Seq("bucket"))
        .filter(col(attrCol).cast("string") === col("__qattr"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
      cands
        .select(col("qid"), col("cid"),
          (VectorFunctions.dot(col("cvec"), col("qvec")) /
            (col("__cnrm") * col("__qnrm"))).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), round(col("cosine"), 6).as("cosine"), col("rank"))
    }

    def nearestCentroids(vec: Array[Double], nprobe: Int): Seq[Int] =
      centroids
        .map { case (i, c) => (i, IvfIndex.l2sq(vec, c)) }
        .sortBy { case (i, d) => (d, i) }
        .take(nprobe)
        .map(_._1)
        .toSeq

    /** Filtered ANN — vector search with a metadata predicate: each query
      * retrieves only candidates whose `attrCol` equals the query's own
      * attribute (label-scoped search, the tenant/language/split filter of a
      * production vector store). The filter applies INSIDE the probed
      * buckets, before the cosine pass — candidates outside the attribute
      * never cost a distance computation. With `nprobe` = all centroids the
      * result is EXACT filtered search (what the oracle checks); smaller
      * probes trade recall the usual IVF way.
      */
    def topKWithin(
        queries: Seq[(Long, Array[Double], Any)],
        attrCol: String,
        k: Int,
        nprobe: Int)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      val probes = queries.flatMap { case (qid, v, attr) =>
        nearestCentroids(v, nprobe).map(b => (qid, b, v.map(_.toFloat), attr.toString))
      }.toDF("qid", "bucket", "qvec", "__qattr")
        .withColumn("__qnrm", VectorFunctions.norm(col("qvec")))
      // per-row norm hoist (r19), same bit-identity argument as topK
      val cands = assigned
        .withColumn("__cnrm", VectorFunctions.norm(col("cvec")))
        .join(broadcast(probes), Seq("bucket"))
        .filter(col(attrCol).cast("string") === col("__qattr"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
      cands
        .select(col("qid"), col("cid"),
          (VectorFunctions.dot(col("cvec"), col("qvec")) /
            (col("__cnrm") * col("__qnrm"))).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), round(col("cosine"), 6).as("cosine"), col("rank"))
    }

    /** Search: probe the `nprobe` nearest inverted lists per query. */
    def topK(
        queries: Seq[(Long, Array[Double])],
        k: Int,
        nprobe: Int)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      val probes = queries.flatMap { case (qid, v) =>
        nearestCentroids(v, nprobe).map(b => (qid, b, v.map(_.toFloat)))
      }.toDF("qid", "bucket", "qvec")
        .withColumn("__qnrm", VectorFunctions.norm(col("qvec")))
      // per-row norm hoist (r19): each corpus row of a probed bucket joins
      // every probe of that bucket — cosine re-derived both norms per PAIR;
      // the same multiply/divide order keeps the value bit-identical
      val cands = assigned
        .withColumn("__cnrm", VectorFunctions.norm(col("cvec")))
        .join(broadcast(probes), Seq("bucket"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid").asc)
      cands
        .select(col("qid"), col("cid"),
          (VectorFunctions.dot(col("cvec"), col("qvec")) /
            (col("__cnrm") * col("__qnrm"))).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), round(col("cosine"), 6).as("cosine"), col("rank"))
    }
  }

  /** Product-quantization index (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): vectors compress to `m` sub-block
    * codes (8 bits each, packed into ONE long — a 64-dim float vector becomes
    * 8 bytes, 32× smaller), and queries scan candidates by ASYMMETRIC
    * distance: a per-query m×ks lookup table of ||q_sub − centroid||², so
    * each candidate costs m table lookups instead of a dim-length vector
    * pass. This is the 100 TB memory story: the scan shuffles/holds packed
    * longs, never raw vectors.
    *
    * Self-retrieval invariant (what the oracle checks): ADC distance is
    * minimized over candidates EXACTLY by the query's own code assignment
    * (encode IS the per-block argmin), so an indexed query always retrieves
    * itself at rank 1 (ties broken by id) — true for ANY codebook quality.
    */
  final class PqIndex private[Ann] (
      val codebooks: Array[Array[Array[Double]]], // [m][ks][dsub]
      encoded: DataFrame) {                       // (cid, codes: long)

    def m: Int = codebooks.length
    def ks: Int = codebooks(0).length
    private def dsub = codebooks(0)(0).length

    /** corpus ids + packed codes (the only thing the scan ever touches). */
    def encodings: DataFrame = encoded

    /** Flattened m×ks ADC lookup table for one query. */
    def lut(q: Array[Double]): Array[Double] = {
      val out = new Array[Double](m * ks)
      var b = 0
      while (b < m) {
        val off = b * dsub
        var c = 0
        while (c < ks) {
          val cent = codebooks(b)(c)
          var d = 0.0
          var j = 0
          val n = math.min(dsub, math.max(q.length - off, 0))
          while (j < n) { val x = q(off + j) - cent(j); d += x * x; j += 1 }
          out(b * ks + c) = d
          c += 1
        }
        b += 1
      }
      out
    }

    /** Top-k by ADC distance: queries broadcast WITH their LUTs; the corpus
      * side is a map-only scan over (cid, codes) — m lookups per candidate,
      * then the bounded per-query top-k.
      */
    def topK(queries: Seq[(Long, Array[Double])], k: Int)(
        implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      val probes = queries.map { case (qid, v) => (qid, lut(v)) }.toDF("qid", "lut")
      val w = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("cid").asc)
      encoded.join(broadcast(probes))
        .select(col("qid"), col("cid"),
          graft.functions.CatalystExprs.pqAdc(col("codes"), col("lut"), m, ks).as("dist"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), col("dist"), col("rank"))
    }
  }

  object PqIndex {
    /** Train per-block codebooks on a driver sample (same deterministic
      * init + Lloyd refinement as [[IvfIndex.build]], independently per
      * sub-block), then encode the corpus distributively in one native pass.
      */
    def build(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        m: Int,
        ks: Int,
        sampleSize: Int = 2000,
        iters: Int = 5,
        presample: Option[Array[Array[Double]]] = None): PqIndex = {
      require(m >= 1 && m <= 8, s"m must be in [1,8] (8-bit codes pack a long), got $m")
      require(ks >= 1 && ks <= 256, s"ks must be in [1,256], got $ks")
      val sample = presample.getOrElse(
        IvfIndex.collectTrainingSample(corpus, idCol, vecCol, sampleSize))
      require(sample.nonEmpty, "empty corpus")
      val dim = sample(0).length
      require(dim % m == 0, s"dim $dim must divide into $m blocks")
      val dsub = dim / m
      val codebooks = Array.tabulate(m) { b =>
        val off = b * dsub
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
        val step = math.max(sub.length / ks, 1)
        var cents: Array[Array[Double]] =
          (0 until ks).map(i => sub((i * step) % sub.length).clone()).toArray
        for (_ <- 0 until iters) {
          val sums = Array.fill(ks)(new Array[Double](dsub))
          val counts = new Array[Long](ks)
          sub.foreach { v =>
            var best = 0; var bestD = Double.MaxValue; var i = 0
            while (i < ks) {
              val d = IvfIndex.l2sq(v, cents(i)); if (d < bestD) { bestD = d; best = i }; i += 1
            }
            counts(best) += 1
            var j = 0; while (j < dsub) { sums(best)(j) += v(j); j += 1 }
          }
          cents = cents.zipWithIndex.map { case (c, i) =>
            if (counts(i) == 0) c else sums(i).map(_ / counts(i))
          }
        }
        cents
      }
      val encoded = corpus.select(
        col(idCol).as("cid"),
        graft.functions.CatalystExprs.pqEncode(col(vecCol), codebooks).as("codes"))
      new PqIndex(codebooks, encoded)
    }
  }

  /** IVF-PQ: inverted lists hold PACKED PQ CODES instead of raw vectors —
    * the FAISS-style composition of the two scale levers this module already
    * proves separately: probes are partition-pruned to `nprobe` buckets
    * (IVF), and the scan inside those buckets is an ADC lookup over 8-byte
    * codes, never a vector pass (PQ, 32× smaller working set). Codes encode
    * the raw vectors (not centroid residuals — the self-retrieval invariant
    * stays exact and oracle-checkable; residual encoding is a recall
    * refinement on the same plan shape).
    *
    * At 100 TB: the on-disk layout is `partitionBy(bucket)` parquet of
    * `(cid, codes)` — a probe reads `nprobe/centroids` of an already-32×-
    * compressed table, and the per-candidate cost is `m` table lookups.
    */
  final class IvfPqIndex private[Ann] (
      val ivf: IvfIndex,
      val pq: PqIndex,
      encoded: DataFrame) { // (cid, bucket, codes)

    /** corpus ids + bucket + packed codes (one map pass over the corpus). */
    def encodings: DataFrame = encoded

    def writePartitioned(path: String): Unit =
      encoded.write.partitionBy("bucket").parquet(path)

    private def adcTopK(
        cands: DataFrame,
        queries: Seq[(Long, Array[Double])],
        k: Int,
        nprobe: Int)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      val probes = queries.flatMap { case (qid, v) =>
        ivf.nearestCentroids(v, nprobe).map(b => (qid, b, pq.lut(v)))
      }.toDF("qid", "bucket", "lut")
      val w = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("cid").asc)
      cands.join(broadcast(probes), Seq("bucket"))
        .select(col("qid"), col("cid"),
          graft.functions.CatalystExprs.pqAdc(
            col("codes"), col("lut"), pq.m, pq.ks).as("dist"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), col("dist"), col("rank"))
    }

    /** ADC top-k over the probed buckets of the in-memory encodings. */
    def topK(queries: Seq[(Long, Array[Double])], k: Int, nprobe: Int)(
        implicit spark: SparkSession): DataFrame =
      adcTopK(encoded, queries, k, nprobe)

    /** ADC top-k off the [[writePartitioned]] layout: the scan carries a
      * bucket partition filter, so only the probed lists' files are read. */
    def topKFromPartitioned(
        path: String,
        queries: Seq[(Long, Array[Double])],
        k: Int,
        nprobe: Int)(implicit spark: SparkSession): DataFrame = {
      import spark.implicits._
      val needed = queries.flatMap { case (_, v) =>
        ivf.nearestCentroids(v, nprobe)
      }.distinct
      adcTopK(
        spark.read.parquet(path).filter(col("bucket").isin(needed: _*)),
        queries, k, nprobe)
    }
  }

  object IvfPqIndex {
    /** Train centroids (IVF) and codebooks (PQ) on driver samples, then
      * assign + encode the corpus in ONE distributed map pass. */
    def build(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        numCentroids: Int,
        m: Int,
        ks: Int,
        sampleSize: Int = 2000,
        iters: Int = 3): IvfPqIndex = {
      val sample = IvfIndex.collectTrainingSample(corpus, idCol, vecCol, sampleSize)
      val ivf = IvfIndex.build(corpus, idCol, vecCol, numCentroids, sampleSize, iters,
        presample = Some(sample))
      val pq = PqIndex.build(corpus, idCol, vecCol, m, ks, sampleSize, iters,
        presample = Some(sample))
      val cents = ivf.centroids.map(_._2)
      val encoded = corpus.select(
        col(idCol).as("cid"),
        graft.functions.CatalystExprs.nearestCentroid(col(vecCol), cents).as("bucket"),
        graft.functions.CatalystExprs.pqEncode(col(vecCol), pq.codebooks).as("codes"))
      new IvfPqIndex(ivf, pq, encoded)
    }
  }

  object IvfIndex {
    /** Driver-side training sample: deterministic (orderBy id, limit) so
      * rebuilds are reproducible. Shared by the IVF and PQ trainers — the
      * composite [[IvfPqIndex.build]] collects ONE sample and hands it to
      * both, instead of running the global-sort-bounded corpus scan twice
      * at index-build time. */
    private[similarity] def collectTrainingSample(corpus: DataFrame,
        idCol: String, vecCol: String, sampleSize: Int): Array[Array[Double]] =
      corpus
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .orderBy("id")
        .limit(sampleSize)
        .collect()
        .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)

    private[similarity] def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    /** Build: deterministic init (every (n/k)-th sampled vector), `iters`
      * Lloyd iterations on a driver sample, then one distributed assignment
      * pass (argmin over k centroid distances, pure column expressions).
      */
    def build(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        numCentroids: Int,
        sampleSize: Int = 2000,
        iters: Int = 3,
        attrCols: Seq[String] = Seq.empty,
        presample: Option[Array[Array[Double]]] = None): IvfIndex = {
      val sample = presample.getOrElse(
        IvfIndex.collectTrainingSample(corpus, idCol, vecCol, sampleSize))
      require(sample.nonEmpty, "empty corpus")
      val step = math.max(sample.length / numCentroids, 1)
      var cents: Array[Array[Double]] =
        (0 until numCentroids).map(i => sample((i * step) % sample.length).clone()).toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(numCentroids)(new Array[Double](cents(0).length))
        val counts = new Array[Long](numCentroids)
        sample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var i = 0
          while (i < numCentroids) {
            val d = l2sq(v, cents(i)); if (d < bestD) { bestD = d; best = i }; i += 1
          }
          counts(best) += 1
          var j = 0; while (j < v.length) { sums(best)(j) += v(j); j += 1 }
        }
        cents = cents.zipWithIndex.map { case (c, i) =>
          if (counts(i) == 0) c else sums(i).map(_ / counts(i))
        }
      }
      // distributed assignment: argmin over centroid distances in one native
      // pass (ties to the lower index, same as the when-fold it replaces)
      val assignment =
        graft.functions.CatalystExprs.nearestCentroid(col(vecCol), cents)
      val assigned = corpus.select(
        Seq(col(idCol).as("cid"), col(vecCol).as("cvec"), assignment.as("bucket")) ++
          attrCols.map(col): _*)
      new IvfIndex(cents.zipWithIndex.map { case (c, i) => (i, c) }, assigned)
    }
  }
}
