package graft.functions

import graft.store.StagedSwap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
  * (random-hyperplane) and an IVF-style (k-means coarse-quantizer)
  * variant as the 100 TB scale path — both turn the O(n·q) scan into a
  * bucketed join that only scores within matching buckets.
  *
  * All hashing/assignment here is DETERMINISTIC and oracle-replicable:
  * LSH planes are ±1 sign vectors derived from md5 (see
  * [[LshBandExpr]]), so the DuckDB gate reproduces bucket ids and
  * candidate pairs bit-for-bit; IVF centroids come from a seeded
  * k-means whose recall is gated against the brute-force oracle.
  */
object Similarity {

  /** Dot product of two float-array columns (codegen'd builtins).
    * Off the hot path — per-row scoring uses the one-pass
    * [[CosineSimExpr]]; this stays for ad-hoc Column math.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. Backed by
    * the one-pass [[CosineSimExpr]].
    */
  def cosine(a: Column, b: Column): Column = DedupExpressions.cosineSim(a, b)

  /** Deterministic ±1/√k random projection of an embedding column to
    * `k` dimensions ([[RandomProjectExpr]] — Achlioptas sign matrix
    * from the md5 plane family, data-independent, one scan pass, no
    * fit step or driver state). Distance-preserving in expectation
    * (Johnson-Lindenstrauss); pair with [[kmeansFitInt8]] or
    * [[cosinePairsLsh]] when the raw dimensionality dominates
    * shuffle width. `planeOffset` selects an independent matrix.
    */
  def randomProject(vec: Column, k: Int, planeOffset: Int = 0): Column =
    DedupExpressions.randomProject(vec, k, planeOffset)

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x|/127, elements → round(x/scale) in [-127, 127].
    * At 100 TB of vectors this is the difference between shuffling/
    * storing 4 bytes and 1 byte per dimension — ANN candidate
    * generation (LSH buckets, IVF cells) runs on the int8 vectors and
    * only the final rerank touches float precision. Returns a struct
    * `(q: array<tinyint>, scale: double)`.
    */
  def quantizeInt8(vec: Column): Column = {
    val scale = greatest(
      aggregate(vec, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double")))),
      lit(java.lang.Double.MIN_NORMAL)) / lit(127.0)
    struct(
      transform(vec, x => round(x.cast("double") / scale).cast("tinyint")).as("q"),
      scale.as("scale"))
  }

  /** Reconstruct approximate floats from [[quantizeInt8]] output. */
  def dequantizeInt8(quantized: Column): Column =
    transform(quantized.getField("q"),
      x => (x.cast("double") * quantized.getField("scale")).cast("float"))

  /** Exact brute-force top-k by cosine against one query vector.
    * One full scan, no shuffle until the final top-k (a TakeOrdered —
    * per-partition heaps then a driver merge). Ties broken by id for
    * determinism.
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(
        col(idCol),
        round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** All-pairs exact cosine ≥ threshold. QUADRATIC — never the gate
    * path; kept only as the small-scale correctness oracle for
    * [[cosinePairsLsh]], which is the 100 TB formulation.
    */
  def cosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** LSH-prefiltered cosine near-dup pairs — the scale path: band each
    * vector (`nBands` bands of `bandBits` sign-planes each), equi-join
    * on (band index, band value) so candidates are only vectors
    * agreeing on at least one full band, then score candidates exactly
    * and keep `cos >= threshold`. No CartesianProduct anywhere: the
    * only join is the banded equi-join, whose key cardinality is
    * bounded by bucket collisions. Recall = 1-(1-p^bandBits)^nBands
    * with p = 1-θ/π; pick more/narrower bands for low thresholds,
    * fewer/wider for near-dup thresholds (and at 100 TB: wider bands —
    * e.g. 16×8 — to keep random-pair collisions, and thus the scored
    * candidate count, sub-quadratic).
    */
  /** @param maxBucketSize degenerate `(band, bv)` buckets above this
    *   are dropped before the pair explode (same contract and default
    *   as [[knnJoin]]; a bucket of B vectors emits B²/2 pairs, so an
    *   uncapped hot bucket is quadratic — high-similarity pairs still
    *   collide in their other, narrower buckets).
    */
  def cosinePairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBands: Int = 16,
      bandBits: Int = 4,
      maxBucketSize: Int = 10000): DataFrame = {
    // band exploding carries ONLY (id, band, bv) — never the vector,
    // which would otherwise be duplicated nBands× through the shuffle;
    // vectors are attached to the (deduped) candidate pairs afterwards
    val banded = bandedBuckets(df, idCol, vecCol, nBands, bandBits)
    val pairs = bucketCandidatePairs(banded, maxBucketSize)
    pairs
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), "id_b")
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Corpus-wide batch kNN join: for EVERY vector, its `k` most
    * similar other vectors by cosine among LSH-band candidates — the
    * batch shape for dedup clustering, diversity sampling, and
    * similarity-graph building ([[annTopK]] answers one query; this
    * answers all of them in one plan). Candidates come from shared
    * `(band, value)` buckets exactly as in [[cosinePairsLsh]] — the
    * band shuffle carries ids only, vectors attach after candidate
    * dedup — then exact cosine + a per-id top-k window. `maxBucketSize`
    * drops degenerate buckets (a bucket of B vectors emits B² candidate
    * rows) just like the dedup path. Approximate by construction: a
    * true neighbor sharing no band with its query is missed; more
    * bands/fewer bits per band trade cost for recall.
    *
    * `bandBits` is SIZED WITH THE CORPUS by default (`bandBits = 0` =
    * auto): expected bucket population is `n / 2^bandBits`, and
    * candidate volume grows with its square, so a fixed default is
    * degenerate at some scale (4 bits at 1M vectors = 62k per bucket,
    * all capped away). Auto derives
    * `bandBits = ceil(log2(n / 32))` (clamped to [1, 24], target
    * bucket ~32) from `nRows` when given, else ONE `df.count()` —
    * the only action in the operator. NOTE that the count is an EAGER
    * job that computes `df`'s lineage once before the operator's own
    * plan computes it again — pipelines that already know the corpus
    * size should pass `nRows` (and ones that don't but reuse `df`
    * should cache it themselves; this operator never caches on the
    * caller's behalf, because its result is lazy and a pinned cache
    * it cannot unpersist would leak past the call). For a bare
    * parquet scan the count is column-pruned to footer metadata, so
    * only DERIVED inputs pay a real recompute. `nRows = Some(_)` is
    * the zero-extra-job path (spec-asserted). HISTORY: the default
    * was a fixed `bandBits = 4` through round 5 — degenerate above
    * ~1M rows (62k-vector buckets all capped away) — and became
    * auto-from-n in round 6. An explicit `bandBits > 0` overrides
    * everything; negative values are rejected.
    *
    * Returns `(idCol, neighbor_id, cos, rk)` with `rk <= k`, ranked by
    * rounded cosine descending (ties by neighbor id — the rounding is
    * what makes rank order engine-exact).
    */
  def knnJoin(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nBands: Int = 16,
      bandBits: Int = 0,
      maxBucketSize: Int = 10000,
      nRows: Option[Long] = None): DataFrame = {
    require(bandBits >= 0, s"bandBits must be >= 0 (0 = auto-size), got $bandBits")
    val bits =
      if (bandBits > 0) bandBits
      else autoBandBits(nRows.getOrElse(df.count()))
    val banded = bandedBuckets(df, idCol, vecCol, nBands, bits)
    // every unordered bucket pair once, then both orientations — each
    // id needs its own neighbor list
    val und = bucketCandidatePairs(banded, maxBucketSize)
    val cand = und.union(und.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val scored = cand
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), "id_b")
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idIsIntegral = df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (idIsIntegral) {
      // per-query top-k via the buffer-capped bottom-k aggregate: the
      // (cos desc, id asc) rank order maps exactly onto the ascending
      // (-cos·1e6, id) long pair (cos is already 6dp-rounded, so the
      // scaling is lossless and adjacent ranks stay separated). A hot
      // vector colliding in nBands full buckets gathers up to
      // nBands·maxBucketSize candidate rows — the window formulation
      // sorted all of them on one reducer; the agg buffer never holds
      // more than 2k.
      val p = -round(col("cos") * lit(1e6)).cast("long")
      scored
        .select(col("id_a"),
          struct(p.as("p"), col("id_b").cast("long").as("t"),
            col("id_b"), col("cos")).as("_e"))
        .groupBy(col("id_a"))
        .agg(DedupExpressions.bottomKBy(col("_e"), k).as("_ks"))
        .select(col("id_a"), posexplode(col("_ks")).as(Seq("_r", "_e")))
        .select(col("id_a").as(idCol), col("_e.id_b").as("neighbor_id"),
          col("_e.cos").as("cos"), (col("_r") + 1).cast("int").as("rk"))
    } else {
      // non-integral ids: the bounded agg's tie key must be a long, so
      // string-keyed corpora keep the window path (rank ties are on the
      // RAW id, which a hash tie-key could not reproduce)
      val w = Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("id_a").as(idCol), col("id_b").as("neighbor_id"),
          col("cos"), col("rk"))
    }
  }

  /** `(id, band, bv)` rows for `nBands` hyperplane-LSH buckets — the
    * shared band explode of [[cosinePairsLsh]] and [[knnJoin]].
    */
  private def bandedBuckets(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nBands: Int,
      bits: Int): DataFrame =
    df.select(
        col(idCol).as("id"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            DedupExpressions.lshBand(col(vecCol), b * bits, bits).as("bv"))): _*))
          .as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bv").as("bv"))

  /** `(id, band, bv)` rows → distinct unordered candidate pairs
    * (`id_a < id_b`) in ONE shuffle — the embedding-side instantiation
    * of [[Dedup.candidatePairsByKey]] (bucket gather via the
    * buffer-capped collect, suffix-slice pair explode; one shared
    * kernel so cap/self-pair semantics can never diverge between the
    * minhash and embedding LSH families).
    */
  private def bucketCandidatePairs(banded: DataFrame, maxBucketSize: Int): DataFrame =
    Dedup.candidatePairsByKey(banded, Seq("band", "bv"), maxBucketSize)

  /** The band-width rule [[knnJoin]] applies when `bandBits = 0`:
    * `ceil(log2(n / targetBucket))`, clamped to [1, 24]. Expected
    * bucket population is then ~`targetBucket` regardless of corpus
    * size — 500 vectors → 4 bits, 1M → 15, 10¹¹ → 24 (the clamp; at
    * that scale raise `targetBucket` or add bands instead).
    */
  def autoBandBits(n: Long, targetBucket: Int = 32): Int =
    math.min(24, math.max(1,
      math.ceil(math.log(math.max(n, 1L).toDouble / targetBucket)
        / math.log(2.0)).toInt))

  /** Random-hyperplane LSH bucket id: `nPlanes` sign bits against the
    * deterministic md5-derived ±1 plane family (global plane indices
    * `0 until nPlanes`) — one imperative pass via [[LshBandExpr]].
    */
  def lshBuckets(vec: Column, nPlanes: Int = 16): Column =
    DedupExpressions.lshBand(vec, 0, nPlanes)

  /** Driver-side twin of [[LshBandExpr]] for query vectors — same
    * planes, same ascending-j double accumulation, so a query's bucket
    * matches what executors assign.
    */
  def lshBandOf(v: Seq[Float], planeOffset: Int, nBits: Int): Long = {
    var band = 0L
    var p = 0
    while (p < nBits) {
      val plane = planeOffset + p
      var acc = 0.0
      var j = 0
      while (j < v.length) {
        val bits = HashUtil.md5Lower64(s"lshplane_${plane}_${j >>> 6}")
        val sign = if (((bits >>> (j & 63)) & 1L) == 1L) 1.0 else -1.0
        acc += v(j).toDouble * sign
        j += 1
      }
      if (acc >= 0.0) band |= (1L << p)
      p += 1
    }
    band
  }

  /** ANN top-k via LSH buckets: score only within the query's bucket
    * plus (optional multi-probe) all buckets at Hamming distance 1.
    * Approximate — recall depends on nPlanes; the scale path for ANN
    * when brute force over 100 TB of vectors is off the table.
    */
  def annTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nPlanes: Int = 16,
      multiProbe: Boolean = true): DataFrame = {
    val bucketed = df.withColumn("_bucket", lshBuckets(col(vecCol), nPlanes))
    val qBucket = lshBandOf(query, 0, nPlanes)
    val probes: Seq[Long] =
      if (multiProbe) qBucket +: (0 until nPlanes).map(i => qBucket ^ (1L << i))
      else Seq(qBucket)
    val q = array(query.map(v => lit(v)): _*)
    bucketed
      .filter(col("_bucket").isin(probes: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------------------------- IVF

  /** Seeded k-means coarse quantizer over a deterministic sample:
    * Lloyd iterations on the driver (sample is small), spherical
    * (centroids unit-normalized each round, so nearest-centroid by
    * plain dot product == by cosine). No RNG: seeds are evenly spaced
    * sample vectors in id order; the whole fit is a pure function of
    * the data. At 100 TB the sample collect is the only driver-side
    * step (bounded by `sampleN`), assignment/probing are distributed.
    */
  def ivfFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      sampleN: Int = 2048,
      iters: Int = 10): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = df
      .orderBy(col(idCol))
      .limit(sampleN)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= k, s"need >= $k sample vectors, got ${sample.length}")
    def normalized(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val points = sample.map(normalized)
    val dim = points.head.length
    // seeds: evenly spaced points in id order (deterministic)
    var centroids = Array.tabulate(k)(i => points((i.toLong * points.length / k).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { d += p(j) * centroids(c)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) // empty cell: keep old centroid
        else normalized(sums(c))
      }
      it += 1
    }
    centroids
  }

  /** Nearest-centroid cell id via the one-pass [[IvfAssignExpr]]
    * (centroids must be unit-normalized, e.g. from [[ivfFit]]).
    */
  def ivfAssign(vec: Column, centroids: Array[Array[Double]]): Column =
    DedupExpressions.ivfAssign(vec, centroids)

  /** The `nProbe` nearest cells to a query vector (driver-side). */
  def ivfProbes(query: Seq[Float], centroids: Array[Array[Double]], nProbe: Int): Seq[Int] = {
    val qn = {
      val v = query.map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    centroids.zipWithIndex
      .map { case (c, i) => (c.zip(qn).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (d, i) => (-d, i) }
      .take(nProbe)
      .map(_._2)
      .toSeq
  }

  /** IVF ANN top-k: assign cells (one pass), scan only the query's
    * `nProbe` nearest cells, exact cosine within them. If `df` already
    * carries an `ivf_cell` column — e.g. loaded from
    * `Container.saveIvfPartitioned`, which wrote
    * `partitionBy("ivf_cell")` — the probe filter lands on the stored
    * column and becomes on-disk partition pruning: the scan reads
    * nProbe/k of the files.
    */
  def annTopKIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      centroids: Array[Array[Double]],
      nProbe: Int = 2): DataFrame = {
    val probes = ivfProbes(query, centroids, nProbe)
    val q = array(query.map(v => lit(v)): _*)
    val withCell =
      if (df.columns.contains("ivf_cell")) df
      else df.withColumn("ivf_cell", ivfAssign(col(vecCol), centroids))
    withCell
      .filter(col("ivf_cell").isin(probes: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF ANN with int8 candidate scoring + float rerank — the
    * quantized serving path [[quantizeInt8]]'s scaladoc promises:
    * candidate generation touches only the probed cells and scores on
    * dequantized int8 (4× smaller scan/shuffle than float32 — at
    * 100 TB of vectors the int8 copy is the one that stays hot), and
    * only the top `k * rerankFactor` candidates are re-scored at full
    * float precision. Here the float column rides in the same frame;
    * in a deployment the int8 table is the persisted index (e.g. via
    * [[graft.store.Container.saveIvfPartitioned]]) and the float
    * fetch is a k·rerankFactor-row point lookup.
    */
  def annTopKIvfQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      centroids: Array[Array[Double]],
      nProbe: Int = 2,
      rerankFactor: Int = 4): DataFrame = {
    val probes = ivfProbes(query, centroids, nProbe)
    val q = array(query.map(v => lit(v)): _*)
    val withCell =
      if (df.columns.contains("ivf_cell")) df
      else df.withColumn("ivf_cell", ivfAssign(col(vecCol), centroids))
    val candidates = withCell
      .filter(col("ivf_cell").isin(probes: _*))
      .withColumn("__qz", quantizeInt8(col(vecCol)))
      .select(col(idCol), col(vecCol),
        round(cosine(dequantizeInt8(col("__qz")), q), 6).as("approx_score"))
      .orderBy(col("approx_score").desc, col(idCol).asc)
      .limit(k * rerankFactor)
    candidates
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** SemDeDup-style semantic deduplication over an embedding column:
    * coarse-cluster the corpus, call vectors within a cluster whose
    * cosine ≥ `tau` duplicates, and keep one representative (smallest
    * id) per duplicate group.
    *
    * The coarse quantizer here is ANCHOR-based rather than iterative
    * k-means: the `k` rows with the smallest md5-derived anchor hash
    * (unsigned, mod 2^31-1 — [[HashUtil.shingleBase]] arithmetic, so
    * the DuckDB oracle re-derives the same anchor set) serve as cell
    * centers, and every vector joins the anchor it is most cosine-
    * similar to (ties → smaller anchor id). That keeps the whole
    * pipeline deterministic and engine-replicable end-to-end — the
    * same role `ivfFit` plays for ANN, where recall (not identity) is
    * the contract.
    *
    * Scale shape (100 TB): anchors are a bounded TakeOrdered (k rows
    * on the driver, broadcast); assignment is one scan with a k-way
    * broadcast cross-score (no shuffle); the candidate self-join is
    * per-cluster (shuffle on cluster id) so cost is Σ|cell|², not
    * |corpus|² — for heavily-skewed cells, pre-bucket the big cells
    * with [[lshBuckets]] first. Components reuse
    * [[Dedup.connectedComponents]] (O(log n) rounds, no driver state).
    *
    * Returns `(idCol, cluster, canon, kept, exempted)`: `canon` is the
    * smallest id of the duplicate component (their own id for
    * uniques), `kept` = id == canon, and `exempted` marks rows whose
    * cell was over `maxCellSize` and therefore never entered the edge
    * join — such rows are all `kept` but NOT certified unique, and a
    * corpus report must surface them (no silent caps: the caller can
    * `filter(col("exempted"))` and re-cluster those cells, or pass
    * `reclusterExempted = true` for the built-in one-level recovery).
    */
  /** @param maxCellSize clusters larger than this are EXCLUDED from
    *   the pairwise edge join (their members all stay "kept" and are
    *   flagged `exempted`) — the same bounded-bucket policy as
    *   `minhashPairs`' maxBucketSize: one degenerate cell of 10⁷
    *   vectors would otherwise emit 5·10¹³ candidate pairs. Size `k`
    *   ~ N/targetCell so the cap never fires on healthy data; when it
    *   fires, re-cluster the big cell with a larger k or pre-bucket
    *   it with [[lshBuckets]].
    * @param reclusterExempted opt-in recovery for over-cap cells: each
    *   hot cell is re-partitioned ONCE with `ceil(4·|cell|/maxCellSize)`
    *   finer sub-anchors (picked by the same md5 order under a
    *   domain-separated `:anchor2` salt, so the whole second level
    *   stays engine-replicable), and sub-cells at or under the cap
    *   enter the edge join normally. Depth is BOUNDED AT ONE level by
    *   design — a sub-cell still over the cap stays `exempted` rather
    *   than recursing unboundedly (expected sub-cell size is
    *   ~maxCellSize/4, so a still-hot sub-cell means pathological
    *   duplication the caller should see, not silently grind through).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 16,
      tau: Double = 0.35,
      maxCellSize: Long = 100000L,
      reclusterExempted: Boolean = false): DataFrame = {
    val anchorHash = {
      val h = DedupExpressions.md5Lower64(
        concat(col(idCol).cast("string"), lit(":anchor")))
      // unsigned-mod-P of the signed md5 long: 2^32 ≡ 2 (mod 2^31-1),
      // so u mod P = (2*hi + lo) mod P — matches DuckDB's UBIGINT `%`
      pmod(
        shiftrightunsigned(h, 32) * lit(2L) + h.bitwiseAND(lit(0xFFFFFFFFL)),
        lit(HashUtil.P))
    }
    val anchors = df
      .select(col(idCol).as("aid"), col(vecCol).as("avec"), anchorHash.as("ah"))
      .orderBy(col("ah"), col("aid")).limit(k)
      .select("aid", "avec")
    val w = Window.partitionBy(idCol)
      .orderBy(col("cos").desc, col("aid").asc)
    // pin: `assigned` feeds BOTH the edge join and the final component
    // join — without it the full-corpus k-way cross-score and window
    // run twice; the pin is registered on the result
    val (assigned, assignedPins) = Pins.pin(df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(anchors))
      .withColumn("cos", DedupExpressions.cosineSim(col(vecCol), col("avec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col(vecCol), col("aid").as("cluster")))
    // at most k rows (one per anchor cell) — broadcasts for free both
    // as the edge-join prefilter and as the exempted flag at the end
    val cellSizes = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("_cs"))
    val okCells = cellSizes.filter(col("_cs") <= maxCellSize).select("cluster")
    val bounded = assigned.join(broadcast(okCells), Seq("cluster"), "left_semi")
    val edges = bounded
      .select(col(idCol).as("id_a"), col(vecCol).as("va"), col("cluster"))
      .join(
        bounded.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("cluster")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(DedupExpressions.cosineSim(col("va"), col("vb")) >= tau)
      .select("id_a", "id_b")
    // one bounded recluster level for hot cells (opt-in): finer
    // sub-anchors within each over-cap cell, same deterministic md5
    // pick under a domain-separated salt
    val reclustered: Option[(DataFrame, DataFrame)] =
      if (!reclusterExempted) None
      else {
        val hotCells = cellSizes.filter(col("_cs") > maxCellSize)
        val hot = assigned.join(broadcast(hotCells), Seq("cluster"))
        val ah2 = {
          val h = DedupExpressions.md5Lower64(
            concat(col(idCol).cast("string"), lit(":anchor2")))
          pmod(
            shiftrightunsigned(h, 32) * lit(2L) + h.bitwiseAND(lit(0xFFFFFFFFL)),
            lit(HashUtil.P))
        }
        val wCell = Window.partitionBy("cluster").orderBy(col("_ah2"), col(idCol))
        val subAnchors = hot
          .withColumn("_ah2", ah2)
          .withColumn("_rn2", row_number().over(wCell))
          .filter(col("_rn2") <=
            ceil(lit(4.0) * col("_cs").cast("double") / lit(maxCellSize.toDouble)).cast("int"))
          .select(col("cluster"), col(idCol).as("said"), col(vecCol).as("savec"))
        val wAsg2 = Window.partitionBy(idCol).orderBy(col("_cos2").desc, col("said").asc)
        val sub = hot.select(col(idCol), col(vecCol), col("cluster"))
          .join(subAnchors, Seq("cluster"))
          .withColumn("_cos2", DedupExpressions.cosineSim(col(vecCol), col("savec")))
          .withColumn("_rn", row_number().over(wAsg2))
          .filter(col("_rn") === 1)
          .select(col(idCol), col(vecCol), col("cluster"), col("said").as("sub"))
        val subSizes = sub.groupBy("cluster", "sub").agg(count(lit(1)).as("_cs2"))
        val okSub = subSizes.filter(col("_cs2") <= maxCellSize).select("cluster", "sub")
        val bounded2 = sub.join(broadcast(okSub), Seq("cluster", "sub"), "left_semi")
        val edges2 = bounded2
          .select(col(idCol).as("id_a"), col(vecCol).as("va"), col("cluster"), col("sub"))
          .join(
            bounded2.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
              col("cluster"), col("sub")),
            Seq("cluster", "sub"))
          .filter(col("id_a") < col("id_b"))
          .filter(DedupExpressions.cosineSim(col("va"), col("vb")) >= tau)
          .select("id_a", "id_b")
        // exempted survives ONLY where a sub-cell is still over cap
        val exempt = sub.join(broadcast(subSizes), Seq("cluster", "sub"))
          .select(col(idCol), (col("_cs2") > maxCellSize).as("_ex2"))
        Some((edges2, exempt))
      }
    val allEdges = reclustered.map { case (e2, _) => edges.unionByName(e2) }.getOrElse(edges)
    val comps = Dedup.connectedComponents(allEdges)
    val base = assigned.select(col(idCol), col("cluster"))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(broadcast(cellSizes), Seq("cluster"))
    val flagged = reclustered match {
      case None =>
        base.select(col(idCol), col("cluster"),
          coalesce(col("component"), col(idCol)).as("canon"),
          (col("_cs") > maxCellSize).as("exempted"))
      case Some((_, exempt)) =>
        base.join(exempt, Seq(idCol), "left")
          .select(col(idCol), col("cluster"),
            coalesce(col("component"), col(idCol)).as("canon"),
            coalesce(col("_ex2"), lit(false)).as("exempted"))
    }
    val out = flagged
      .withColumn("kept", col("canon") === col(idCol))
      .select(col(idCol), col("cluster"), col("canon"), col("kept"),
        col("exempted"))
    Pins.register(out, assignedPins)
    out
  }

  /** Corpus-wide max |component| — the global scale for
    * [[kmeansQuantize]]. `max` is order-independent, so unlike a float
    * sum this is deterministic under Spark's arbitrary partition merge
    * order (and exactly reproducible in the oracle).
    */
  def kmeansGlobalScale(df: DataFrame, vecCol: String): Double = {
    val row = df.agg(max(aggregate(col(vecCol), lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double"))))).as("s"))
      .head()
    require(!row.isNullAt(0),
      "empty corpus (or all-null vectors); no quantization scale")
    val s = row.getDouble(0)
    require(s > 0.0, "corpus is all-zero vectors; no quantization scale")
    s
  }

  /** `round(v * 127 / scale)` per component as an explicit
    * `floor(x + 0.5)` — half-toward-+inf on BOTH engines regardless of
    * their `round` tie conventions. Emits `ARRAY<BIGINT>` in
    * [-127, 127] (plus the +0.5 edge), the integer domain the k-means
    * iteration is exact over.
    */
  def kmeansQuantize(vec: Column, scale: Double): Column =
    transform(vec, x => floor(x.cast("double") * lit(127.0) / lit(scale) + lit(0.5)))

  /** Driver-side twin of [[kmeansQuantize]] for query/eval vectors —
    * the identical round-half-up projection, so a vector quantized on
    * the driver (query literals, broadcast eval tables) lands in the
    * same integer domain as the scan side.
    */
  def quantizeQueryVec(v: Seq[Float], scale: Double): Seq[Long] =
    v.map(x => math.floor(x.toDouble * 127.0 / scale + 0.5).toLong)

  /** Distributed Lloyd's k-means over integer-quantized vectors with
    * integer-ROUNDED centroids — every iteration is bit-reproducible:
    * integer sums are order-independent (a float Lloyd's is not under
    * Spark's nondeterministic partition merge order), the centroid
    * update is `floor((2·sum + n) / 2n)` (round-half-up in exact
    * integer arithmetic), and ties in the assignment go to the lower
    * cell. So the fit is a pure function of the data AND the DuckDB
    * oracle can replay whole iterations, which no float formulation
    * survives.
    *
    * Scale shape per iteration: assignment is scan-side against the
    * broadcast centroid table ([[KMeansAssignExpr]], codegen'd); the
    * only shuffle is the `(cell, dim)`-keyed integer-sum aggregation,
    * map-side combined down to `k·dim` rows (kilobytes at any corpus
    * size) and collected to the driver for the centroid update — no
    * iteration state on executors. The quantized vectors are pinned
    * (MEMORY_AND_DISK) for the loop and dropped in `finally`, so the
    * source text/parquet is scanned ONCE, not once per iteration.
    * Init = the quantized vectors of the `k` smallest ids
    * (deterministic, same convention as [[ivfFit]]'s id-ordered
    * seeds).
    *
    * Returns the final centroid table (`k` rows of `dim` longs);
    * assign with `DedupExpressions.kmeansAssign(kmeansQuantize(vec,
    * scale), centroids)`.
    */
  def kmeansFitInt8(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Double): Array[Array[Long]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // null vectors are EXCLUDED from the fit (they would NPE the init
    // collect and silently vanish from the iteration stats anyway);
    // downstream they assign to a null cell via kmeansAssign's
    // null-propagation — callers filter or impute as policy dictates
    // the quantized frame is the input of EVERY Lloyd iteration (the
    // init collect + `iters` stats scans): pin it so each scan reads
    // int8-scale longs from cache instead of re-reading the source and
    // re-running the quantize projection per iteration (r6 bench:
    // 24.9 s with recompute). The fit is eager, so the cache lives
    // only inside this call — unpersisted in finally, no leak.
    val q = df.select(col(idCol).as("_id"),
        kmeansQuantize(col(vecCol), scale).as("_q"))
      .filter(col("_q").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // wrong-dimension vectors fail LOUD before anything is fit: a
      // LONGER row would bias the centroids silently (kmeansAssign
      // truncates to min length and the sums read only the first d
      // coordinates), a shorter one died with an opaque ANSI
      // element_at error. ONE min/max(size) pass over the pinned
      // frame validates the whole corpus up front — BEFORE the seed
      // collect, so wrong-dim seeds and iters=0 fits are covered too
      // (r12 ADVICE; the guard previously ran only in iteration scans)
      val dims = q.agg(min(size(col("_q"))), max(size(col("_q")))).head()
      require(!dims.isNullAt(0), s"need >= $k non-null vectors, got 0")
      val d = dims.getInt(0)
      require(d == dims.getInt(1),
        s"kmeans fit: mixed vector dimensions ($d vs ${dims.getInt(1)})")
      var cents: Array[Array[Long]] = q.orderBy("_id").limit(k)
        .collect().map(_.getSeq[Long](1).toArray)
      require(cents.length == k, s"need >= $k non-null vectors, got ${cents.length}")
      var it = 0
      while (it < iters) {
        // per-cell coordinate sums as d parallel column aggregates —
        // NOT a posexplode (that shuffled n·d rows per iteration;
        // measured 24.6 s/iter-pair at 1M×64d vs ~8 s this way). Same
        // exact integer sums, map-side combined to k rows/partition.
        val sumCols = (0 until d).map(j =>
          sum(element_at(col("_q"), j + 1)).as(s"_s$j"))
        val stats = q
          .select(DedupExpressions.kmeansAssign(col("_q"), cents).as("_cell"),
            col("_q"))
          .groupBy("_cell")
          .agg(count(lit(1)).as("_n"), sumCols: _*)
          .collect()
        val next = cents.map(_.clone()) // empty cells keep their centroid
        stats.foreach { r =>
          val cell = r.getInt(0)
          val n = r.getLong(1)
          var j = 0
          while (j < d) {
            next(cell)(j) = Math.floorDiv(2L * r.getLong(2 + j) + n, 2L * n)
            j += 1
          }
        }
        cents = next
        it += 1
      }
      cents
    } finally {
      q.unpersist(blocking = false)
    }
  }

  // ------------------------------------------------------------------
  // Embedding PCA / whitening (SemDeDup / ANN preprocessing)
  // ------------------------------------------------------------------

  /** Integer statistics of an embedding column in ONE distributed
    * pass: each float quantizes to `floor(x·2^scaleBits + 0.5)` (floor
    * — not round — because both engines floor identically for every
    * sign), and the pass accumulates the exact Gram matrix
    * `G_ij = Σ q_i·q_j` (upper triangle), the coordinate sums
    * `S_i = Σ q_i`, and the row count as BIGINTs. Sums of integers are
    * order-independent, so the result is bit-identical on any cluster
    * AND in the DuckDB oracle — the float-nondeterminism problem that
    * makes naive covariance un-gateable is gone by construction.
    * Accumulation uses `Math.addExact`: past ~2^63 the pass fails LOUD
    * (lower `scaleBits` — each bit halves headroom twice; default 14
    * holds ~1e9 unit-scale rows).
    *
    * Implementation: one `treeAggregate` over the columnar rows (no
    * boxing — reads `ArrayData` directly), buffer = d(d+1)/2 + d + 1
    * longs (≈ 17 KiB at d = 64). Null vectors are skipped.
    */
  private[functions] def gramStats(
      df: DataFrame, vecCol: String, scaleBits: Int): (Array[Long], Array[Long], Long, Int) = {
    require(scaleBits >= 1 && scaleBits <= 24, s"scaleBits in [1,24], got $scaleBits")
    val sel = df.select(col(vecCol).cast("array<double>"))
    val s = (1L << scaleBits).toDouble
    val rdd = sel.queryExecution.toRdd
    val (gram, sums, cnt, dim) = rdd.treeAggregate(
      (null: Array[Long], null: Array[Long], 0L, 0))(
      seqOp = { case ((g0, s0, n0, d0), row) =>
        if (row.isNullAt(0)) (g0, s0, n0, d0)
        else {
          val arr = row.getArray(0)
          val d = arr.numElements()
          val g = if (g0 == null) new Array[Long](d * (d + 1) / 2) else g0
          val su = if (s0 == null) new Array[Long](d) else s0
          require(d0 == 0 || d == d0,
            s"gramStats: mixed embedding dims ($d0 vs $d)")
          val q = new Array[Long](d)
          var i = 0
          while (i < d) {
            q(i) = math.floor(arr.getDouble(i) * s + 0.5).toLong
            su(i) = Math.addExact(su(i), q(i))
            i += 1
          }
          var idx = 0
          i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              g(idx) = Math.addExact(g(idx), q(i) * q(j))
              idx += 1
              j += 1
            }
            i += 1
          }
          (g, su, n0 + 1, d)
        }
      },
      combOp = { case ((g1, s1, n1, d1), (g2, s2, n2, d2)) =>
        if (g1 == null) (g2, s2, n2, d2)
        else if (g2 == null) (g1, s1, n1, d1)
        else {
          require(d1 == d2, s"gramStats: mixed embedding dims ($d1 vs $d2)")
          var i = 0
          while (i < g1.length) { g1(i) = Math.addExact(g1(i), g2(i)); i += 1 }
          i = 0
          while (i < s1.length) { s1(i) = Math.addExact(s1(i), s2(i)); i += 1 }
          (g1, s1, n1 + n2, d1)
        }
      })
    require(cnt > 0, "gramStats: no non-null vectors")
    (gram, sums, cnt, dim)
  }

  /** The exact quantized Gram matrix as `(i, j, gram)` rows
    * (`0 <= i <= j < d`, BIGINT) — the oracle-gateable face of
    * [[gramStats]] (gate q_pca_gram).
    */
  def gramMatrix(df: DataFrame, vecCol: String, scaleBits: Int = 14): DataFrame = {
    val (gram, _, _, d) = gramStats(df, vecCol, scaleBits)
    val spark = df.sparkSession
    import spark.implicits._
    val rows = for {
      i <- 0 until d
      j <- i until d
    } yield (i.toLong, j.toLong, gram(i * d - i * (i - 1) / 2 + (j - i)))
    rows.toDF("i", "j", "gram")
  }

  /** PCA over the quantized covariance: top-`k` eigenpairs of
    * `C_ij = (n·G_ij − S_i·S_j) / (n²·s²)` (exact BigInt numerator —
    * centering never loses integer precision), extracted by a
    * deterministic cyclic Jacobi sweep on the driver (d×d, d ≈ 64-1024;
    * the DATA pass is the distributed [[gramStats]] scan, the
    * eigensolve is O(d³) driver math — the standard split for tall
    * skinny PCA). Deterministic: fixed sweep order, fixed sweep count,
    * sign convention = largest-|entry| coordinate positive (first on
    * tie). Returns (means, eigenvalues desc, components) —
    * `components(c)` is the c-th eigenvector over ORIGINAL (unscaled)
    * coordinates.
    */
  def pcaComponents(
      df: DataFrame, vecCol: String, k: Int, scaleBits: Int = 14)
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (gram, sums, n, d) = gramStats(df, vecCol, scaleBits)
    require(k <= d, s"k=$k exceeds embedding dim $d")
    val s = (1L << scaleBits).toDouble
    val means = sums.map(_.toDouble / (n.toDouble * s))
    // exact centered numerator, then ONE rounding into double
    val c = Array.ofDim[Double](d, d)
    val den = n.toDouble * n.toDouble * s * s
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val num = BigInt(n) * BigInt(gram(idx)) - BigInt(sums(i)) * BigInt(sums(j))
        val v = num.toDouble / den
        c(i)(j) = v
        c(j)(i) = v
        idx += 1
        j += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(c)
    (means, evals.take(k), evecs.take(k))
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: 30 fixed sweeps
    * over (p < q) in row order (converges to machine precision well
    * before that at d ≤ 1024; fixed count keeps the op deterministic).
    * Returns eigenpairs sorted by eigenvalue DESC (index asc on exact
    * ties), each vector sign-normalized (largest-|entry| coordinate
    * positive, first index on tie).
    */
  private[functions] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 30) {
      var off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off += a(p)(q) * a(p)(q)
          if (a(p)(q) != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // theta == 0 (equal diagonal) still needs the full 45°
            // rotation — signum(0) = 0 would silently skip it
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cos = 1.0 / math.sqrt(t * t + 1.0)
            val sin = t * cos
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = cos * arp - sin * arq
              a(r)(q) = sin * arp + cos * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = cos * apr - sin * aqr
              a(q)(r) = sin * apr + cos * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = cos * vrp - sin * vrq
              v(r)(q) = sin * vrp + cos * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
      if (off < 1e-24) sweep = 30 // converged — remaining sweeps no-op anyway
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map { i =>
      val vec = Array.tabulate(d)(r => v(r)(i))
      var best = 0
      var r = 1
      while (r < d) { if (math.abs(vec(r)) > math.abs(vec(best))) best = r; r += 1 }
      if (vec(best) < 0) vec.map(x => -x) else vec
    }.toArray
    (evals, evecs)
  }

  /** Whiten an embedding column: project onto the top-`k` principal
    * components and scale each to unit variance —
    * `y_c = Σ_i (x_i − mean_i)·V_ci / sqrt(λ_c)` — appended as
    * `outCol` (array<double>, length k). One [[gramStats]] fit pass +
    * one codegen'd [[ProjectVecExpr]] apply scan; the k·d projection
    * matrix ships with the plan. Components with eigenvalue ≤ `minVar`
    * are dropped (whitening would divide by ~0 and amplify noise), so
    * the output may be shorter than `k` on degenerate inputs.
    */
  def whitenVectors(
      df: DataFrame,
      vecCol: String,
      k: Int,
      outCol: String = "white",
      scaleBits: Int = 14,
      minVar: Double = 1e-12): DataFrame = {
    val (means, evals, evecs) = pcaComponents(df, vecCol, k, scaleBits)
    val keep = evals.zip(evecs).filter(_._1 > minVar)
    require(keep.nonEmpty, "whitenVectors: no component above minVar")
    val mat = keep.map { case (ev, vec) =>
      val inv = 1.0 / math.sqrt(ev)
      vec.map(_ * inv)
    }
    df.withColumn(outCol,
      DedupExpressions.projectVec(col(vecCol), means, mat))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — Jégou, Douze & Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search" (TPAMI): split each
  // vector into `m` subvectors, k-means each subspace independently,
  // store only the m byte-sized codes per vector, answer queries with
  // asymmetric distance computation (ADC) — a per-query lookup table
  // of exact subspace distances summed over the codes. The memory
  // shape that makes billion-vector ANN feasible: a 64-dim float
  // vector (256 B) compresses to m codes (m bytes at k ≤ 256).
  //
  // Everything here runs over the int8-quantized domain the repo's
  // k-means is exact in, so codebooks, codes, AND ADC distances are
  // integers — the q_ann_pq oracle replays the WHOLE pipeline
  // (fit → encode → ADC top-k) bit-for-bit, no recall band needed.
  // ------------------------------------------------------------------

  /** Fit `m` independent int8 k-means codebooks, one per subspace —
    * returns `[m][k][dim/m]` integer centroids. Same exactness
    * contract as [[kmeansFitInt8]] (order-independent integer sums,
    * round-half-up centroid division, ties to the lower cell, empty
    * cells keep their centroid, id-ordered deterministic seeds);
    * per iteration the m subproblems run as ONE aggregation job — m
    * cache-backed scans of the pinned quantized table union into a
    * single `(sub, cell)`-keyed integer-sum shuffle of `m·k` rows.
    */
  def pqFitInt8(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int,
      scale: Double): Array[Array[Array[Long]]] = {
    val q = df.select(col(idCol).as("_id"),
        kmeansQuantize(col(vecCol), scale).as("_q"))
    pqLloyd(q, m, k, iters)
  }

  /** The PQ Lloyd core over a prepared `(_id, _q array<bigint>)`
    * frame — shared by [[pqFitInt8]] (quantized raw vectors) and
    * [[ivfPqFit]] (quantized RESIDUALS). Pins `q` for the iteration
    * scans; see [[pqFitInt8]] for the exactness contract.
    */
  private def pqLloyd(
      qIn: DataFrame,
      m: Int,
      k: Int,
      iters: Int): Array[Array[Array[Long]]] = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val q = qIn
      .filter(col("_q").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a wrong-dimension row would otherwise bias the codebooks
      // SILENTLY — kmeansAssign truncates to the shorter length and
      // the per-dim sums skip missing positions while count(_n) still
      // includes the row. Validate the WHOLE corpus up front with one
      // min/max(size) pass over the pinned frame, BEFORE the seed
      // collect — the r12 guard lived only in the iteration scans, so
      // a wrong-dim seed (or any wrong-dim row under iters=0)
      // slipped through (r12 ADVICE).
      val dims = q.agg(min(size(col("_q"))), max(size(col("_q")))).head()
      require(!dims.isNullAt(0), s"need >= $k non-null vectors, got 0")
      val dim = dims.getInt(0)
      require(dim == dims.getInt(1),
        s"pq fit: mixed vector dimensions ($dim vs ${dims.getInt(1)})")
      require(dim % m == 0, s"m=$m must divide dim=$dim")
      val ds = dim / m
      val seeds = q.orderBy("_id").limit(k)
        .collect().map(_.getSeq[Long](1).toArray)
      require(seeds.length == k, s"need >= $k non-null vectors, got ${seeds.length}")
      var cents: Array[Array[Array[Long]]] =
        Array.tabulate(m, k)((sub, c) => seeds(c).slice(sub * ds, (sub + 1) * ds))
      var it = 0
      while (it < iters) {
        val branches = (0 until m).map { sub =>
          val sv = slice(col("_q"), sub * ds + 1, ds)
          q.select(lit(sub).as("_sub"),
            DedupExpressions.kmeansAssign(sv, cents(sub)).as("_cell"),
            sv.as("_sv"))
        }
        val sumCols = (0 until ds).map(j =>
          sum(element_at(col("_sv"), j + 1)).as(s"_s$j"))
        val stats = branches.reduce(_ unionByName _)
          .groupBy("_sub", "_cell")
          .agg(count(lit(1)).as("_n"), sumCols: _*)
          .collect()
        val next = cents.map(_.map(_.clone())) // empty cells keep centroids
        stats.foreach { r =>
          val sub = r.getInt(0)
          val cell = r.getInt(1)
          val n = r.getLong(2)
          var j = 0
          while (j < ds) {
            next(sub)(cell)(j) = Math.floorDiv(2L * r.getLong(3 + j) + n, 2L * n)
            j += 1
          }
        }
        cents = next
        it += 1
      }
      cents
    } finally q.unpersist(blocking = false)
  }

  /** PQ codes of an ALREADY-QUANTIZED vector column (`array<bigint>`,
    * the [[kmeansQuantize]] domain): `array<int>` of `m` cell ids,
    * one scan-side [[DedupExpressions.kmeansAssign]] per subspace.
    */
  def pqEncodeQ(qvec: Column, codebooks: Array[Array[Array[Long]]]): Column = {
    val m = codebooks.length
    val ds = codebooks(0)(0).length
    val codes = array((0 until m).map { sub =>
      DedupExpressions.kmeansAssign(
        slice(qvec, sub * ds + 1, ds), codebooks(sub))
    }: _*)
    // null vectors propagate null codes (the family's null contract);
    // a WRONG-DIMENSION vector fails loud — a silent slice over a
    // short vector would score every centroid 0 and emit a
    // plausible-looking code 0
    when(qvec.isNull, lit(null).cast("array<int>"))
      .when(size(qvec) === lit(m * ds), codes)
      .otherwise(raise_error(concat(
        lit(s"pq: vector dimension "), size(qvec).cast("string"),
        lit(s" != m*ds = ${m * ds}"))))
  }

  /** The exact integer `m × k` ADC table for an already-quantized
    * query against one codebook set: entry `(sub, code)` is the
    * squared L2 distance between the query's `sub`-th slice and that
    * code's centroid. Driver-side — `m·k·ds` integer ops once per
    * query, never per row.
    */
  private def pqAdcTable(
      qq: Seq[Long],
      codebooks: Array[Array[Array[Long]]]): Seq[Seq[Long]] = {
    val m = codebooks.length
    val ds = codebooks(0)(0).length
    (0 until m).map { sub =>
      codebooks(sub).toSeq.map { cent =>
        var d2 = 0L
        var j = 0
        while (j < ds) {
          val diff = qq(sub * ds + j) - cent(j)
          d2 += diff * diff
          j += 1
        }
        d2
      }
    }
  }

  /** PQ codes of the corpus — the PERSISTABLE index payload:
    * `(idCol, codes array<int>)`, one row per non-null vector (null
    * vectors are excluded from the index — [[pqFitInt8]]'s
    * convention; a null code would otherwise need re-filtering at
    * every query). Wrong-dimension vectors fail loud via
    * [[pqEncodeQ]]'s guard. Encode ONCE, serve many: at corpus scale
    * every ADC query over raw vectors re-pays m kmeans-assigns per
    * row, while a query over stored codes pays one table lookup per
    * subspace — see [[savePqEncoded]] / [[pqAdcTopKFromCodes]].
    */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scale: Double,
      codebooks: Array[Array[Array[Long]]]): DataFrame =
    // the fused kernel with no coarse stage (cell = -1, dropped) —
    // one codegen pass instead of the interpreted quantize transform
    // + m slices; same integers. Input-side null drop + a reserved
    // alias, as in ivfPqEncode.
    {
      require(idCol != "__enc", "idCol '__enc' collides with the encode alias")
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol),
          DedupExpressions.ivfPqEncodeVec(col(vecCol), scale,
            Array.empty[Array[Long]], codebooks).as("__enc"))
        .select(col(idCol), col("__enc.codes").as("codes"))
    }

  /** Persist the PQ index: [[pqEncode]]'s `(id, codes)` written as
    * parquet at `path` (overwrite). `m` bytes of code per vector in
    * place of the raw floats — the serving scan reads ~`m/(4·dim)`
    * of the embedding bytes.
    */
  def savePqEncoded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scale: Double,
      codebooks: Array[Array[Array[Long]]],
      path: String): Unit =
    pqEncode(df, idCol, vecCol, scale, codebooks)
      .write.mode("overwrite").parquet(path)

  /** Exact ADC top-`k` over STORED codes (the production serving
    * path — [[savePqEncoded]] wrote them once): precompute the
    * `m × k` integer distance table on the driver, score each row as
    * the sum of its codes' table entries (one scan-side lookup
    * projection, zero shuffles), then a distributed TakeOrdered.
    * Returns `(idCol, adc_dist)` ascending — exact integers,
    * bit-equal to [[pqAdcTopK]] over the raw vectors.
    */
  /** The exact integer ADC distance of a CODES column against one
    * query — the scalar form of the serving scorer, usable in any
    * projection (batch scans, STREAMS — a stateless embedding screen
    * routes/filters incoming vectors by distance to a fixed anchor).
    * Driver builds the `m × k` table once; each row pays m table
    * lookups in the codegen'd [[PqAdcExpr]] kernel. Wrong-length
    * codes fail loud (a stale index written with a different
    * codebook set); null codes yield a null distance.
    */
  def pqAdcDistance(
      codes: Column,
      query: Seq[Float],
      scale: Double,
      codebooks: Array[Array[Array[Long]]]): Column = {
    val m = codebooks.length
    val ds = codebooks(0)(0).length
    require(query.length == m * ds,
      s"query dim ${query.length} != m*ds = ${m * ds}")
    // the kernel's quantization, verbatim (floor(x·127/scale + 0.5))
    val qq = quantizeQueryVec(query, scale)
    DedupExpressions.pqAdc(codes, typedLit(pqAdcTable(qq, codebooks)), "pq adc")
  }

  def pqAdcTopKFromCodes(
      codes: DataFrame,
      idCol: String,
      query: Seq[Float],
      k: Int,
      scale: Double,
      codebooks: Array[Array[Array[Long]]],
      codesCol: String = "codes"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // null codes are EXCLUDED (a null adc_dist would otherwise sort
    // FIRST under Spark's ascending default and occupy top-k slots);
    // the stored layout never contains them, raw-vector callers might
    codes.filter(col(codesCol).isNotNull)
      .select(col(idCol),
        pqAdcDistance(col(codesCol), query, scale, codebooks).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Exact ADC top-`k` over RAW vectors — encodes inline (one full
    * scan + m kmeans-assigns per row) and delegates to
    * [[pqAdcTopKFromCodes]]. One-shot/exploratory use; a serving
    * deployment stores the codes once ([[savePqEncoded]]) and reads
    * them instead.
    */
  def pqAdcTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      scale: Double,
      codebooks: Array[Array[Array[Long]]]): DataFrame =
    pqAdcTopKFromCodes(pqEncode(df, idCol, vecCol, scale, codebooks),
      idCol, query, k, scale, codebooks)


  /** IVF-PQ — the FAISS-style composition: a coarse integer k-means
    * quantizer partitions the corpus into cells, PQ codebooks are fit
    * on the RESIDUALS `q − coarse[cell]` (residuals are integer
    * subtractions, so the whole pipeline stays in the exact domain),
    * and queries probe only the `nProbe` nearest cells. Returns
    * `(coarse [coarseK][dim], codebooks [m][k][dim/m])`.
    */
  def ivfPqFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarseK: Int,
      m: Int,
      k: Int,
      iters: Int,
      scale: Double): (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val coarse = kmeansFitInt8(df, idCol, vecCol, coarseK, iters, scale)
    val cLit = typedLit(coarse.map(_.toSeq).toSeq)
    val dim = coarse(0).length
    val qRaw = kmeansQuantize(col(vecCol), scale)
    // guard BEFORE the residual zip_with: zip_with null-pads the
    // shorter side, so a wrong-dimension vector would reach pqLloyd
    // as a full-length residual with nulls (NPE in the integer sums)
    // or silently bias the codebooks — same loud contract as
    // pqEncodeQ / ivfPqTopK's query path
    val q = when(qRaw.isNull, lit(null).cast("array<bigint>"))
      .when(size(qRaw) === lit(dim), qRaw)
      .otherwise(raise_error(concat(
        lit("ivfpq fit: vector dimension "), size(qRaw).cast("string"),
        lit(s" != $dim"))))
    val res = df.select(col(idCol).as("_id"),
      zip_with(q,
        element_at(cLit, DedupExpressions.kmeansAssign(q, coarse) + 1),
        (a, b) => a - b).as("_q"))
    (coarse, pqLloyd(res, m, k, iters))
  }

  /** IVF-PQ index payload — the PERSISTABLE `(idCol, cell int,
    * codes array<int>)` frame: each vector's coarse cell plus the PQ
    * codes of its integer RESIDUAL against that cell's centroid.
    * Null vectors are excluded (the index convention —
    * [[pqEncode]]); wrong-dimension vectors fail loud BEFORE the
    * residual `zip_with` (which would silently null-pad a short
    * vector into a plausible full-length residual).
    */
  def ivfPqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]]): DataFrame = {
    val m = codebooks.length
    val ds = codebooks(0)(0).length
    val dim = coarse(0).length
    require(m * ds == dim, s"codebooks cover ${m * ds} dims != $dim")
    require(idCol != "__enc", "idCol '__enc' collides with the encode alias")
    // ONE fused codegen pass per row (quantize + coarse argmin +
    // residual + m sub-argmins) — the ingest hot loop; the previous
    // transform + zip_with + m slices paid ~3 interpreted
    // boxed-closure lanes over every component. Same integers.
    // Null vectors are dropped on the INPUT column (the kernel is
    // null iff the vector is) so alias substitution can't re-evaluate
    // the kernel under a pushed-down output filter.
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        DedupExpressions.ivfPqEncodeVec(col(vecCol), scale, coarse, codebooks)
          .as("__enc"))
      .select(col(idCol), col("__enc.cell").as("cell"),
        col("__enc.codes").as("codes"))
  }

  /** Persist the IVF-PQ index PARTITIONED BY COARSE CELL — the
    * 100 TB serving layout: `partitionBy("cell")` puts each cell's
    * codes in its own directory, so a query's `nProbe`-cell filter
    * lands as on-disk PARTITION PRUNING (`PartitionFilters` in the
    * scan — the [[graft.store.Container.saveIvfPartitioned]]
    * precedent) and a top-k reads `nProbe/coarseK` of the FILES
    * instead of scanning, re-quantizing, and re-encoding the whole
    * corpus per query.
    */
  def saveIvfPqEncoded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      path: String): Unit =
    ivfPqEncode(df, idCol, vecCol, scale, coarse, codebooks)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** INCREMENTAL index maintenance: encode a new batch with the SAME
    * frozen index parameters ([[loadIvfPqIndex]]) and APPEND its
    * codes into the cell-partitioned layout — new files land inside
    * the existing cell directories, so partition pruning and every
    * topK/knn reader see old + new rows seamlessly. The ingestion
    * path of a living index: fit once, encode forever; re-fit only
    * when drift degrades recall (caller's policy).
    */
  def appendIvfPqEncoded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      path: String): Unit =
    ivfPqEncode(df, idCol, vecCol, scale, coarse, codebooks)
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Staged rewrite of a cell-partitioned code layout: read a
    * snapshot, repartition so each output task writes whole cells
    * (`filesPerCell == 1` → one file per cell; else a deterministic
    * row-hash salt splits each cell into ≤ `filesPerCell`), write to
    * a `_compacting` sibling and [[StagedSwap.swap]] it in via
    * `_retired`. A crash between the two renames leaves the layout at
    * `_retired` only — the NEXT maintenance call restores it on entry
    * ([[restoreRetiredLayout]]), so the pass is self-healing (a reader
    * in that window sees path-not-found and retries).
    *
    * Writer exclusion REQUIRED: the pass snapshots the directory,
    * so a batch appended concurrently (appendIvfPqEncoded, the
    * streaming sink) would be swept away with the retired copy. Run
    * maintenance with ingest quiesced; as a best-effort guard the
    * pass lists the data files (path + length, the per-cell variant's
    * convention) BEFORE the snapshot DataFrame is constructed — a
    * snapshot's file index is resolved at construction, so a listing
    * taken after it could show an appended file on both sides and
    * pass while the snapshot silently misses the new rows — then
    * re-lists after staging and fails loud, without touching the
    * live layout, if the set changed. `makeSnapshot` is a thunk for
    * exactly that ordering; callers whose snapshot does not read
    * `path` (refit's re-encode of `raw`) still get the append guard.
    */
  private def stagedLayoutRewrite(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      makeSnapshot: () => DataFrame,
      filesPerCell: Int): Unit = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1, got $filesPerCell")
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = StagedSwap.stagingOf(target)
    def listDataFiles(): Set[String] = {
      val it = fs.listFiles(target, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_"))
          b += f.getPath.toString + ":" + f.getLen
      }
      b.result()
    }
    val before = listDataFiles()
    val snapshot = makeSnapshot()
    require(snapshot.columns.contains("cell"),
      s"$path is not a cell-partitioned code layout (no `cell` column)")
    val keyed =
      if (filesPerCell == 1) snapshot.repartition(col("cell"))
      else snapshot.repartition(col("cell"),
        pmod(hash(struct(snapshot.columns.filter(_ != "cell").map(col): _*)),
          lit(filesPerCell)))
    fs.delete(staging, true)
    keyed.write.partitionBy("cell").parquet(staging.toString)
    if (listDataFiles() != before) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"layout at $target changed during the rewrite (concurrent append?) — " +
          "quiesce ingest before compacting/repairing; the live layout is untouched")
    }
    StagedSwap.swap(fs, staging, target, StagedSwap.retiredOf(target))
  }

  /** Self-heal a layout left at `_retired` by a crash between
    * [[stagedLayoutRewrite]]'s two renames (whole-layout form), and
    * any single cells left at `<path>_cellretired/N` by a crash in
    * [[compactIvfPqCells]]'s per-cell window. No-op on a clean
    * layout. Every maintenance entry point calls this first, so the
    * NEXT maintenance tick after any crash restores the layout
    * before reading it.
    */
  private def restoreRetiredLayout(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedSwap.restore(fs, target, StagedSwap.retiredOf(target))
    // per-cell crash recovery, the same rules per cell; stage leftovers
    // are pre-swap garbage either way
    val cellRetired = new Path(target.getParent, target.getName + "_cellretired")
    if (fs.exists(cellRetired)) {
      fs.listStatus(cellRetired).foreach { st =>
        StagedSwap.restore(fs, new Path(target, "cell=" + st.getPath.getName), st.getPath)
      }
      fs.delete(cellRetired, true)
    }
    fs.delete(new Path(target.getParent, target.getName + "_cellstage"), true)
  }

  /** INCREMENTAL per-cell compaction: rewrite ONLY the listed cell
    * directories (each down to ≤ `filesPerCell` files), leaving every
    * other cell's files physically untouched — maintenance cost
    * proportional to the DIRTY fraction instead of the whole-layout
    * shuffle ([[compactIvfPqLayout]] measured ~154 s at 1M×64d; a
    * steady-state ingest window dirties only the hot cells). Each
    * cell is rewritten to a sibling stage dir (`<path>_cellstage/N` —
    * OUTSIDE the layout root, so partition discovery never sees a
    * half-written dir or a `cell=N_x` name that would poison the
    * partition-column type) and swapped via two renames; a crash
    * between them leaves that ONE cell at `<path>_cellretired/N`,
    * which the next maintenance call restores
    * ([[restoreRetiredLayout]]). Same writer-exclusion contract as
    * the whole-layout pass, enforced per cell by a before/after file
    * listing that fails loud without touching the live cell.
    */
  def compactIvfPqCells(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cells: Seq[Long],
      filesPerCell: Int = 1): Unit = {
    restoreRetiredLayout(spark, path)
    perCellStagedRewrite(spark, path, cells, filesPerCell)((_, df) => df)
  }

  /** The per-cell staged-swap machinery shared by [[compactIvfPqCells]]
    * and [[repairIvfPqCells]]: each listed cell directory is read,
    * passed through `transform`, written to a sibling stage dir
    * (`<path>_cellstage/N` — outside the layout root, so partition
    * discovery never sees a half-written dir), and swapped via two
    * renames. Crash window: rewrites run up to 4 cells concurrently,
    * so a driver crash can leave UP TO `lanes` (≤4) cells mid-swap,
    * each at its own `<path>_cellretired/N` — every one independently
    * restored by the next maintenance entry
    * ([[restoreRetiredLayout]]); the
    * before/after file listing (name + length, taken BEFORE the
    * snapshot DataFrame is constructed) fails loud on a concurrent
    * append without touching the live cell.
    */
  private def perCellStagedRewrite(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cells: Seq[Long],
      filesPerCell: Int)(transform: (Long, DataFrame) => DataFrame): Unit = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1, got $filesPerCell")
    if (cells.isEmpty) return
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageRoot = new Path(target.getParent, target.getName + "_cellstage")
    val retiredRoot = new Path(target.getParent, target.getName + "_cellretired")
    fs.mkdirs(retiredRoot)
    // Overlap independent cell rewrites (optimization guide §2.6):
    // each cell's write job is small relative to the cluster, so run
    // a few concurrently from a driver pool and let one cell's tail
    // back-fill with the next cell's tasks — wall cost approaches
    // (dirty work / cluster) instead of Σ(per-cell job latency). Every
    // cell's stage/retired path, file listing, and rename pair are its
    // own; a driver crash can leave up to `lanes` cells mid-swap at
    // _cellretired/N, EACH independently recovered by
    // restoreRetiredLayout — the crash window is `lanes` cells wide,
    // not one.
    def rewriteCell(cell: Long): Unit = {
      val live = new Path(target, s"cell=$cell")
      require(fs.exists(live), s"no cell directory $live in the layout")
      def listFiles(): Set[String] =
        fs.listStatus(live).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(f => f.getPath.getName + ":" + f.getLen).toSet
      val before = listFiles()
      val stage = new Path(stageRoot, cell.toString)
      fs.delete(stage, true)
      val df = transform(cell, spark.read.parquet(live.toString))
      val keyed =
        if (filesPerCell == 1) df.repartition(1)
        else df.repartition(filesPerCell,
          pmod(hash(struct(df.columns.map(col): _*)), lit(filesPerCell)))
      keyed.write.parquet(stage.toString)
      if (listFiles() != before) {
        fs.delete(stage, true)
        throw new IllegalStateException(
          s"cell $cell at $target changed during the rewrite (concurrent " +
            "append?) — quiesce ingest before compacting; the live cell is untouched")
      }
      StagedSwap.swap(fs, stage, live, new Path(retiredRoot, cell.toString))
    }
    val lanes = math.max(1, math.min(4, cells.length))
    if (lanes == 1) cells.foreach(rewriteCell)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes)
      try {
        val futures = cells.map(c => pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = rewriteCell(c)
        }))
        // surface the FIRST failure (after every in-flight cell settles
        // — a half-cancelled swap would widen the crash window)
        futures.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
    fs.delete(stageRoot, true)
    fs.delete(retiredRoot, true)
  }

  /** INCREMENTAL (per-cell) DELETE-SYNC — [[repairIvfPqLayout]]'s
    * O(delta) form: ONE distributed discovery pass finds the code
    * rows whose id left `raw` (the scan reads only `(id, cell)` —
    * column pruning keeps the code bytes on disk; the anti-join
    * shuffles two id columns, never the codes), then ONLY the cells
    * that contain deleted ids are rewritten through the per-cell
    * staged swap ([[perCellStagedRewrite]] — clean cells' files stay
    * byte-identical, same crash/append guards as
    * [[compactIvfPqCells]]). At 100 TB a daily 0.1% delete batch
    * must not cost a full-index shuffle: the whole-layout pass
    * rewrites every cell; this rewrites the dirty fraction.
    *
    * Each dirty cell's rewrite anti-joins against the BROADCAST
    * deleted-id set of that cell — delete deltas are delta-sized by
    * contract (a delete batch approaching corpus scale should take
    * the one-shuffle [[repairIvfPqLayout]] instead, exactly as a
    * mostly-dirty layout takes whole-layout compaction). Returns the
    * repaired cell ids (empty = the `codes ⊆ raw` contract already
    * held — no rewrite, no retired bytes). A cell whose every row
    * was deleted keeps one empty data file (readers see zero rows).
    */
  def repairIvfPqCells(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      raw: DataFrame,
      idCol: String,
      filesPerCell: Int = 1): Seq[Long] = {
    require(idCol != "__cell", "idCol '__cell' collides with the repair alias")
    restoreRetiredLayout(spark, path)
    val df = spark.read.parquet(path)
    require(df.columns.contains(idCol),
      s"layout at $path has no id column '$idCol' (columns: ${df.columns.mkString(", ")})")
    val deleted = df.select(col(idCol), col("cell").cast("long").as("__cell"))
      .join(raw.select(col(idCol)), Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded collect: ≤ coarseK distinct cells
      val dirty = deleted.select("__cell").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      perCellStagedRewrite(spark, path, dirty, filesPerCell) { (cell, cellDf) =>
        cellDf.join(
          broadcast(deleted.filter(col("__cell") === cell).select(col(idCol))),
          Seq(idCol), "left_anti")
      }
      dirty
    } finally {
      deleted.unpersist()
      ()
    }
  }

  /** Compact a cell-partitioned code layout: [[appendIvfPqEncoded]]
    * and the streaming ingest sink land one file SET per batch per
    * touched cell, so at production cadence a cell directory grows
    * 10⁵+ tiny files and the file-pruned reads the layout exists for
    * degrade into open-call storms. This rewrites every `cell=N/`
    * directory down to at most `filesPerCell` files (rows and values
    * unchanged — every serving gate is bit-equal before/after), via
    * the crash-safe staged swap of [[stagedLayoutRewrite]].
    *
    * Shuffle shape: ONE repartition keyed by the cell id (plus a
    * deterministic row-hash salt when `filesPerCell > 1`), so each
    * output task writes whole cells — no tiny-file re-fragmentation
    * on the way out. Run it off the serving path, with INGEST
    * QUIESCED (see [[stagedLayoutRewrite]] — a concurrent append
    * would be swept with the retired copy; a best-effort file-list
    * guard fails loud), at whatever cadence ingest warrants (e.g.
    * when a cell's file count crosses ~10× the target).
    */
  def compactIvfPqLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      filesPerCell: Int = 1): Unit = {
    restoreRetiredLayout(spark, path)
    stagedLayoutRewrite(spark, path, () => spark.read.parquet(path), filesPerCell)
  }

  /** The shared per-cell directory listing of a code layout:
    * `(cell, n_files, bytes)` over data files (names not starting
    * with `_`) — one walk of the coarseK cell dirs, bounded by
    * construction. Serves [[ivfPqLayoutStats]] and the
    * [[compactIvfPqLayoutIfNeeded]] threshold so the two can never
    * disagree about what counts as a layout file.
    */
  private def cellFileCounts(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(target).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .map { d =>
        val files = fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        (d.getPath.getName.stripPrefix("cell=").toLong,
          files.size.toLong, files.map(_.getLen).sum)
      }
  }

  /** Per-cell health report of a code layout — the observable that
    * drives the compaction policy: `(cell, n_rows, n_files, bytes)`,
    * one row per cell directory. Row counts come from ONE distributed
    * aggregation over the stored codes (map-side combined to coarseK
    * rows); file counts/bytes from a driver directory listing
    * (coarseK directories — bounded by construction). A cell whose
    * `n_files` outgrows the compaction target by ~10× is due for
    * [[compactIvfPqLayout]]; `n_rows` skew across cells is the
    * coarse-quantizer drift signal (re-fit when recall degrades).
    *
    * Same quiesce contract as the rewrites: the file listing is
    * captured at CALL time while `n_rows` evaluates at ACTION time,
    * so an append landing between the two skews the rows-per-file
    * signal — run the report with ingest quiesced (or re-call it per
    * collect). Self-heals a crash-windowed layout (`_retired`-only)
    * before listing, like every other maintenance entry point.
    */
  def ivfPqLayoutStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    restoreRetiredLayout(spark, path)
    import spark.implicits._
    val filesDf = cellFileCounts(spark, path).toDF("cell", "n_files", "bytes")
    val rowsDf = spark.read.parquet(path)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_rows"))
    rowsDf.join(filesDf, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_files"), lit(0L)).as("n_files"),
        coalesce(col("bytes"), lit(0L)).as("bytes"))
  }

  /** Threshold-policy compaction: rewrite only when some cell's file
    * count exceeds `maxFilesPerCell` (the stats listing is a driver
    * directory walk — coarseK dirs — so a healthy layout pays no
    * Spark job at all). Returns whether a compaction ran. The cadence
    * wrapper a living-index maintenance cron calls after each ingest
    * window; same writer-exclusion contract as
    * [[compactIvfPqLayout]]. With `incremental = true` only the cells
    * OVER the threshold are rewritten ([[compactIvfPqCells]]) —
    * steady-state cost proportional to the dirty fraction; the
    * default rewrites the whole layout in one shuffle (cheaper when
    * most cells are dirty, e.g. after a backfill).
    */
  def compactIvfPqLayoutIfNeeded(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxFilesPerCell: Int,
      filesPerCell: Int = 1,
      incremental: Boolean = false): Boolean = {
    require(maxFilesPerCell >= 1, s"maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    restoreRetiredLayout(spark, path)
    val dirty = cellFileCounts(spark, path)
      .filter(_._2 > maxFilesPerCell).map(_._1)
    if (dirty.isEmpty) false
    else if (incremental) {
      compactIvfPqCells(spark, path, dirty, filesPerCell); true
    } else { compactIvfPqLayout(spark, path, filesPerCell); true }
  }

  /** RE-FIT migration for a living code layout — the action
    * [[ivfPqRecallReport]] triggers: when ingest has drifted the
    * corpus away from the frozen coarse quantizer/codebooks (falling
    * recall — the FAISS re-train signal), re-fit the index parameters
    * on the CURRENT raw corpus and re-encode the whole layout in one
    * job, swapping in via the same crash-safe staged rewrite as
    * [[compactIvfPqLayout]] (readers see the old index until the
    * swap; a refit also compacts by construction). Returns the new
    * `(scale, coarse, codebooks)` — REPUBLISH them atomically with
    * the layout ([[saveIvfPqIndex]]): codes and params must travel
    * together, since codes written under new params are garbage to a
    * server still holding the old ADC tables. Same writer-exclusion
    * contract as compaction (quiesce ingest; the staged rewrite fails
    * loud if the layout changes mid-pass). The layout at `path` must
    * exist — a first build is [[saveIvfPqEncoded]], not a refit.
    */
  def refitIvfPqLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      coarseK: Int,
      m: Int,
      k: Int,
      iters: Int,
      filesPerCell: Int = 1): (Double, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    restoreRetiredLayout(spark, path)
    // fail FAST on a missing layout — the fit below is the expensive
    // part, and the contract violation should not wait for it
    locally {
      val target = new org.apache.hadoop.fs.Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(target),
        s"no code layout at $path — a first build is saveIvfPqEncoded, not a refit")
    }
    val scale = kmeansGlobalScale(raw, vecCol)
    val (coarse, codebooks) =
      ivfPqFit(raw, idCol, vecCol, coarseK, m, k, iters, scale)
    stagedLayoutRewrite(spark, path,
      () => ivfPqEncode(raw, idCol, vecCol, scale, coarse, codebooks),
      filesPerCell)
    (scale, coarse, codebooks)
  }

  /** DELETE-SYNC for a code layout: drop every code row whose id no
    * longer exists in `raw`, restoring the `codes ⊆ raw` contract the
    * refine paths depend on (a lagging delete otherwise SILENTLY
    * drops that candidate from the refine inner join —
    * [[ivfPqTopKRefined]]'s documented hazard). One left-semi join on
    * the id, then the same crash-safe staged rewrite as
    * [[compactIvfPqLayout]] — so a repair pass also compacts
    * (`filesPerCell`). Run after deletes land in `raw`, before the
    * next refine-serving window.
    */
  def repairIvfPqLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      raw: DataFrame,
      idCol: String,
      filesPerCell: Int = 1): Unit = {
    restoreRetiredLayout(spark, path)
    stagedLayoutRewrite(spark, path, () => {
      val df = spark.read.parquet(path)
      require(df.columns.contains(idCol),
        s"layout at $path has no id column '$idCol' (columns: ${df.columns.mkString(", ")})")
      df.join(raw.select(col(idCol)), Seq(idCol), "left_semi")
    }, filesPerCell)
  }

  /** What one [[maintainIvfPqLayout]] tick did: the cells the
    * delete-sync rewrote (empty = `codes ⊆ raw` already held),
    * whether the fragmentation threshold triggered a compaction,
    * the sample's micro-averaged serving recall
    * (`Σn_hit·1000 div Σn_true`; 1000 on an empty sample — no
    * evidence of degradation is not a refit signal), and the new
    * index params when recall fell below the floor and the layout
    * was re-fit (REPUBLISH them atomically with the layout —
    * [[saveIvfPqIndex]]; `recallPermille` always measures the
    * PRE-refit index, the observation that triggered the action).
    */
  case class IvfPqMaintenanceReport(
      repairedCells: Seq[Long],
      compacted: Boolean,
      recallPermille: Long,
      refitParams: Option[(Double, Array[Array[Long]], Array[Array[Array[Long]]])])

  /** ONE idempotent maintenance tick for a living IVF-PQ layout —
    * the composition an operator actually schedules after each
    * ingest window (ingest QUIESCED, like every pass it calls):
    *
    *   1. crash-recovery sweep ([[restoreRetiredLayout]] — fs-only);
    *   2. DELETE-SYNC ([[repairIvfPqCells]]): one (id, cell)
    *      discovery pass, then only cells holding deleted ids are
    *      rewritten — restores the `codes ⊆ raw` refine contract at
    *      O(delta), not O(corpus);
    *   3. COMPACTION threshold ([[compactIvfPqLayoutIfNeeded]],
    *      incremental): a driver directory listing; only cells over
    *      `maxFilesPerCell` are rewritten — a healthy layout pays
    *      zero Spark jobs here;
    *   4. RECALL report ([[ivfPqRecallReport]] over `queriesSample`
    *      — size the SAMPLE, not the corpus: one bulk ANN retrieval
    *      + one O(sample × corpus) exact pass);
    *   5. RE-FIT ([[refitIvfPqLayout]]) only when the micro-averaged
    *      recall falls below `recallFloorPermille` — fit on the
    *      current corpus, re-encode, crash-safe swap; the returned
    *      params must be republished atomically with the layout.
    *
    * Steady-state tick on a healthy, delete-free, well-fit layout:
    * the discovery pass + the sample recall report — no rewrite, no
    * retired bytes, byte-identical layout. A second tick right after
    * any action sequence is that no-op (idempotence). Index shape
    * for the refit is taken from the passed params
    * (`coarse.length` cells, `codebooks.length × codebooks(0).length`
    * books), so a refit preserves the serving configuration.
    */
  def maintainIvfPqLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      queriesSample: DataFrame,
      qIdCol: String,
      qVecCol: String,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      k: Int,
      nProbe: Int,
      maxFilesPerCell: Int,
      recallFloorPermille: Long,
      refitIters: Int = 2,
      filesPerCell: Int = 1): IvfPqMaintenanceReport = {
    require(recallFloorPermille >= 0 && recallFloorPermille <= 1000,
      s"recallFloorPermille must be in [0, 1000], got $recallFloorPermille")
    restoreRetiredLayout(spark, path)
    val repaired = repairIvfPqCells(spark, path, raw, idCol, filesPerCell)
    val compacted = compactIvfPqLayoutIfNeeded(spark, path, maxFilesPerCell,
      filesPerCell, incremental = true)
    val recall = {
      val agg = ivfPqRecallReport(spark.read.parquet(path), raw,
          queriesSample, qIdCol, qVecCol, idCol, vecCol, k, scale,
          coarse, codebooks, nProbe)
        .agg(sum(col("n_hit")).as("h"), sum(col("n_true")).as("t")).head()
      if (agg.isNullAt(1) || agg.getLong(1) == 0L) 1000L
      else agg.getLong(0) * 1000L / agg.getLong(1)
    }
    val refit =
      if (recall < recallFloorPermille)
        Some(refitIvfPqLayout(spark, path, raw, idCol, vecCol,
          coarseK = coarse.length, m = codebooks.length,
          k = codebooks(0).length, iters = refitIters,
          filesPerCell = filesPerCell))
      else None
    IvfPqMaintenanceReport(repaired, compacted, recall, refit)
  }

  /** Driver-side probe selection + per-probed-cell residual ADC
    * tables, shared by both serving paths. Returns the probed cell
    * ids (ascending by exact integer distance, ties to the lower
    * cell — the kmeansAssign convention) and each probed cell's
    * `m × k` table for the query's residual against that cell.
    */
  private def ivfPqProbeTables(
      query: Seq[Float],
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      nProbe: Int): (Array[Int], Map[Int, Seq[Seq[Long]]]) = {
    require(nProbe >= 1 && nProbe <= coarse.length,
      s"nProbe must be in [1, ${coarse.length}], got $nProbe")
    val m = codebooks.length
    val ds = codebooks(0)(0).length
    val dim = coarse(0).length
    require(query.length == dim, s"query dim ${query.length} != $dim")
    require(m * ds == dim, s"codebooks cover ${m * ds} dims != $dim")
    val qq = quantizeQueryVec(query, scale)
    val probed = coarse.zipWithIndex.map { case (c, i) =>
      var d = 0L; var j = 0
      while (j < dim) { val x = qq(j) - c(j); d += x * x; j += 1 }
      (d, i)
    }.sortBy { case (d, i) => (d, i) }.take(nProbe).map(_._2)
    val tables = probed.map { cell =>
      val rq = (0 until dim).map(j => qq(j) - coarse(cell)(j))
      cell -> pqAdcTable(rq, codebooks)
    }.toMap
    (probed, tables)
  }

  /** Score rows of probed cells against their cell's residual ADC
    * table and take the global top-k. The per-cell tables ship as
    * ONE tiny broadcast `(cell → m×k table)` relation joined on the
    * cell id — `nProbe·m·k` integers TOTAL, off the plan tree —
    * instead of a literal CASE chain that inlined one `m × k` table
    * per probed cell into the projection (O(nProbe·m·k) literals;
    * at production nProbe 32-128 and k 256 that is a megabyte-scale
    * plan re-evaluating the cell guard per branch). Broadcast hash
    * join: zero shuffles, the top-k stays a TakeOrdered.
    */
  private def ivfPqScoreProbed(
      enc: DataFrame,
      idCol: String,
      cellCol: String,
      codesCol: String,
      probed: Array[Int],
      tables: Map[Int, Seq[Seq[Long]]],
      kTop: Int): DataFrame = {
    require(kTop >= 1, s"kTop must be >= 1, got $kTop")
    val spark = enc.sparkSession
    import spark.implicits._
    val tbls = probed.toSeq.map(c => (c, tables(c))).toDF("__pcell", "__tbl")
    // the cell filter BEFORE the join: over the partitioned layout it
    // lands as PartitionFilters (file pruning); over an inline encode
    // it prunes compute. Unprobed cells never reach the scorer.
    enc.filter(col(codesCol).isNotNull &&
        col(cellCol).isin(probed.map(Integer.valueOf): _*))
      .join(broadcast(tbls), col(cellCol) === col("__pcell"))
      .select(col(idCol), col(cellCol).cast("long").as("cell"),
        DedupExpressions.pqAdc(col(codesCol), col("__tbl"), "ivfpq adc")
          .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(kTop)
  }

  /** Exact-integer IVF-PQ ADC top-`k` over STORED codes (the
    * [[saveIvfPqEncoded]] layout read back): probe the `nProbe`
    * nearest coarse cells driver-side, PRUNE PARTITIONS with the
    * cell filter, broadcast-join the per-cell residual ADC tables,
    * and TakeOrdered — no re-quantize, no re-assign, no re-encode.
    * Returns `(idCol, cell, adc_dist)` ascending, ties by id —
    * bit-equal to [[ivfPqTopK]] over the raw vectors.
    */
  def ivfPqTopKFromCodes(
      codes: DataFrame,
      idCol: String,
      query: Seq[Float],
      kTop: Int,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      nProbe: Int,
      cellCol: String = "cell",
      codesCol: String = "codes"): DataFrame = {
    val (probed, tables) =
      ivfPqProbeTables(query, scale, coarse, codebooks, nProbe)
    ivfPqScoreProbed(codes, idCol, cellCol, codesCol, probed, tables, kTop)
  }

  /** Exact-integer IVF-PQ ADC top-`k` over RAW vectors — encodes
    * inline (full scan + coarse assign + m sub-assigns per row; the
    * cell filter prunes COMPUTE, not the scan) and shares
    * [[ivfPqScoreProbed]] with the serving path. One-shot use; a
    * serving deployment stores the codes once ([[saveIvfPqEncoded]])
    * and queries them via [[ivfPqTopKFromCodes]], where the same
    * filter prunes FILES.
    */
  def ivfPqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      kTop: Int,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      nProbe: Int): DataFrame = {
    val (probed, tables) =
      ivfPqProbeTables(query, scale, coarse, codebooks, nProbe)
    ivfPqScoreProbed(
      ivfPqEncode(df, idCol, vecCol, scale, coarse, codebooks),
      idCol, "cell", "codes", probed, tables, kTop)
  }

  /** IVF-PQ with EXACT RE-RANKING — the standard FAISS refine step
    * that makes PQ's lossy distances safe to serve: stage 1 takes the
    * ADC top-`rerank` candidates from the STORED code layout
    * (partition-pruned, [[ivfPqTopKFromCodes]]); stage 2 fetches only
    * those `rerank` rows' raw vectors (the candidate ids ride a tiny
    * broadcast join — at 100 TB this is a point-lookup against the
    * vector table, which an id-bucketed layout turns into file
    * pruning) and re-ranks by the EXACT integer quantized L2
    * distance. Returns `(idCol, cell, adc_dist, exact_dist)` ordered
    * by `(exact_dist, id)` — every column exact-integer, so the gate
    * hash-pins both distance stages. `rerank ≥ kTop` required; ADC
    * recall errors beyond rank `rerank` are the documented
    * approximation (raise `rerank`/`nProbe` to taste).
    */
  def ivfPqTopKRefined(
      codes: DataFrame,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      kTop: Int,
      rerank: Int,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      nProbe: Int): DataFrame = {
    require(kTop >= 1, s"kTop must be >= 1, got $kTop")
    require(rerank >= kTop, s"rerank=$rerank must be >= kTop=$kTop")
    val dim = coarse(0).length
    require(query.length == dim, s"query dim ${query.length} != $dim")
    val cand = ivfPqTopKFromCodes(codes, idCol, query, rerank, scale,
      coarse, codebooks, nProbe)
    val qq = quantizeQueryVec(query, scale)
    // Contract: the code table is a SUBSET of `raw` (encode wrote it
    // from raw) — a candidate missing from raw (codes lagging a
    // delete) drops out of the inner join; keep the two in sync. A
    // candidate PRESENT with a nulled vector fails LOUD — its NULL
    // exact_dist would otherwise sort into the top slot. The inner
    // join keeps `raw`'s scan a broadcast hash probe (a left join
    // from the broadcast candidates cannot build on the small side).
    val qvRaw = kmeansQuantize(col(vecCol), scale)
    // same loud dimension contract as the fit/encode/query paths —
    // zip_with would null-pad a short vector into a null sum
    val qv = when(qvRaw.isNull,
        raise_error(concat(lit("ivfpq refine: candidate id "),
          col(idCol).cast("string"),
          lit(" has a null raw vector — re-encode or repair the table"))))
      .when(size(qvRaw) === lit(dim), qvRaw)
      .otherwise(raise_error(concat(
        lit("ivfpq refine: vector dimension "), size(qvRaw).cast("string"),
        lit(s" != $dim"))))
    raw.join(broadcast(cand), Seq(idCol))
      .select(col(idCol), col("cell"), col("adc_dist"),
        DedupExpressions.intL2(qv, typedLit(qq), "ivfpq refine")
          .as("exact_dist"))
      .orderBy(col("exact_dist").asc, col(idCol).asc)
      .limit(kTop)
  }

  /** BULK ANN retrieval — a QUERY TABLE joined against the stored
    * IVF-PQ code layout (the "fetch neighbors for a million prompts"
    * shape that single-query `ivfPqTopKFromCodes` cannot batch):
    *
    *  1. each query row computes its own `nProbe` probe cells
    *     SCAN-SIDE (exact integer distances to the coarse centroids,
    *     `array_sort` of `(dist, cell)` structs — the kmeansAssign
    *     tie order) and explodes to `(query, probe cell, residual)`;
    *  2. one EQUI-JOIN on the cell id against the code table — with
    *     a broadcastable query side this is a scan-side hash probe,
    *     and because [[saveIvfPqEncoded]] partitioned the codes by
    *     cell, Spark's dynamic partition pruning skips unprobed
    *     cells' files at runtime (the multi-query analog of the
    *     static `PartitionFilters`);
    *  3. the residual ADC distance is computed scan-side from the
    *     codebook literal (`m` sub-distances per candidate row);
    *  4. per-query top-`k` via the buffer-capped [[BottomKByExpr]]
    *     aggregate — a hot query never sorts its candidate set on
    *     one reducer, every buffer is ≤ 2k rows.
    *
    * Everything is exact-integer, so the gate hash-pins distances
    * AND ranks. Returns `(qIdCol, idCol, cell, adc_dist, rk)` —
    * `rk` is the 1-based ascending `(adc_dist, id)` rank.
    *
    * Null contract: a query row with a NULL vector is DROPPED — it
    * contributes no output rows, same as the single-query paths'
    * null-codes convention (`pqAdcTopKFromCodes`) — while a
    * wrong-dimension query fails loud. Callers that must fail on
    * null queries pre-assert (`filter(isnull).isEmpty`) or use
    * [[ivfPqKnnJoinRefined]], whose quantGuard raises with the
    * offending query id.
    *
    * Join strategy (`broadcastQueries`): `None` (default) picks from
    * the DATA — the probe side is `nQueries · nProbe` rows of `m·k`
    * longs each, and the KnnJoinProbe measurement at a production
    * m=16/k=256 shape against 1M stored codes showed broadcast
    * LOSING once that side is large (1k queries = 250 MiB probe
    * side: 13.8 q/s broadcast vs 39.3 q/s shuffle; at 10k queries
    * the 2.5 GiB broadcast exceeds Spark's default 1 GiB
    * `spark.driver.maxResultSize` and FAILS outright), while the
    * small-batch regime (few queries, small tables) keeps the
    * zero-shuffle broadcast win the r12 verdict measured. Auto costs
    * one `count()` of the query table and broadcasts iff the
    * estimated probe side is ≤ [[KnnBroadcastBytesMax]] (64 MiB).
    * `Some(true/false)` forces a mode and skips the count.
    */
  /** Auto-mode probe-side budget for [[ivfPqKnnJoin]]: broadcast only
    * when `nQueries · nProbe · m · k · 8B` fits — above this the
    * measured crossover says the cell-id shuffle join wins (and far
    * above it, broadcast collection breaks `spark.driver.maxResultSize`).
    */
  val KnnBroadcastBytesMax: Long = 64L << 20

  def ivfPqKnnJoin(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codes: DataFrame,
      idCol: String,
      k: Int,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      nProbe: Int,
      cellCol: String = "cell",
      codesCol: String = "codes",
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1 && nProbe <= coarse.length,
      s"nProbe must be in [1, ${coarse.length}], got $nProbe")
    // the join output carries both id columns — same-named sides
    // would make every downstream col(qIdCol) ambiguous
    require(qIdCol != idCol,
      s"qIdCol and idCol are both '$qIdCol' — alias the query id " +
        "(e.g. .withColumnRenamed) before joining")
    // the bottom-k tie key is the corpus id cast to long — same
    // contract knnJoin enforces; a string-keyed corpus would throw an
    // opaque ANSI cast mid-job (or rank nondeterministically with
    // ANSI off), so refuse it loud up front
    codes.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"ivfPqKnnJoin: idCol '$idCol' must be integral (the bottom-k " +
          s"tie key), got ${other.simpleString}")
    }
    val m = codebooks.length
    val ds = codebooks(0)(0).length
    val dim = coarse(0).length
    require(m * ds == dim, s"codebooks cover ${m * ds} dims != $dim")
    val qvRaw = kmeansQuantize(col(qVecCol), scale)
    val qv = when(qvRaw.isNull, lit(null).cast("array<bigint>"))
      .when(size(qvRaw) === lit(dim), qvRaw)
      .otherwise(raise_error(concat(
        lit("ivfpq knn: query dimension "), size(qvRaw).cast("string"),
        lit(s" != $dim"))))
    val cLit = typedLit(coarse.map(_.toSeq).toSeq)
    // per-query probe cells, scan-side: (dist, cell) structs sort by
    // field order == the single-query driver probe's (d, i) tie rule.
    // The distance is the int_l2 kernel — inside a HOF lambda it
    // still evaluates interpreted, but as ONE kernel call per cell
    // (tight imperative loop) instead of dim boxed closures
    val cellDists = transform(sequence(lit(0), lit(coarse.length - 1)), c =>
      struct(
        DedupExpressions.intL2(qv, element_at(cLit, c + 1), "ivfpq knn probe")
          .as("d"),
        c.as("cell")))
    // each (query, probed cell) row carries its OWN m×k residual ADC
    // table, computed ONCE here in the codegen'd PqAdcTableExpr
    // kernel (m·k·ds integer ops per probe row — the multi-query
    // analog of the single-query driver table); every candidate row
    // then pays m table LOOKUPS instead of m·ds interpreted
    // multiply-subtracts. Measured at 1M codes × 1k queries: 132 s
    // with per-candidate math vs ~m·ds/m less work per candidate
    // this way. The table adds m·k longs per probed row to the
    // broadcast — trivial next to the query vectors.
    val rqCol = zip_with(col("_qv"), element_at(cLit, col("_p.cell") + 1),
      (a, b) => a - b)
    // COST NOTE: the table is m·k longs per probed row, replacing the
    // dim-long residual — a k/ds growth of the broadcast (neutral at
    // k≈ds; ~16× at a production m=64/k=256/ds=16 shape). With many
    // queries × large nProbe at production k, size the query batch
    // accordingly or pass broadcastQueries = false (shuffle join on
    // the cell id) — the per-candidate saving is the same either way.
    val tblCol = DedupExpressions.pqAdcTables(col("_rq"), codebooks)
    val probed = queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol), qv.as("_qv"),
        explode(slice(array_sort(cellDists), 1, nProbe)).as("_p"))
      .select(col(qIdCol), col("_p.cell").as("_qcell"), rqCol.as("_rq"))
      .select(col(qIdCol), col("_qcell"), tblCol.as("_tbl"))
    val useBroadcast = broadcastQueries.getOrElse {
      val perProbeRow = codebooks.length.toLong * codebooks(0).length * 8L
      queries.count() * nProbe * perProbeRow <= KnnBroadcastBytesMax
    }
    val qSide = if (useBroadcast) broadcast(probed) else probed
    // per-candidate ADC: m codegen'd lookups into the probe row's table
    val dist = DedupExpressions.pqAdc(col(codesCol), col("_tbl"), "ivfpq knn")
    codes.filter(col(codesCol).isNotNull)
      .join(qSide, col(cellCol) === col("_qcell"))
      .select(col(qIdCol), col(idCol), col(cellCol), dist.as("_adc"))
      .select(col(qIdCol),
        struct(col("_adc").as("p"), col(idCol).cast("long").as("t"),
          col(idCol), col(cellCol).cast("long").as("cell"),
          col("_adc").as("adc_dist")).as("_e"))
      .groupBy(col(qIdCol))
      .agg(DedupExpressions.bottomKBy(col("_e"), k).as("_ks"))
      .select(col(qIdCol), posexplode(col("_ks")).as(Seq("_r", "_e")))
      .select(col(qIdCol), col(s"_e.$idCol"), col("_e.cell"),
        col("_e.adc_dist"), (col("_r") + 1).cast("long").as("rk"))
  }

  /** BULK retrieval WITH exact re-ranking — [[ivfPqKnnJoin]] composed
    * with [[ivfPqTopKRefined]]'s refine stage, the full production
    * retrieval recipe in one call: ADC top-`rerank` candidates per
    * query from the stored codes, then only those rows' raw vectors
    * fetched (one join) and re-ranked per query by the exact integer
    * quantized L2 against THAT query's vector (a broadcast back-join
    * to the query table supplies it). Candidates and queries both
    * ride broadcasts; the per-query final top-`k` is the same
    * buffer-capped bottom-k aggregate. Same loud contracts as the
    * single-query refine (null raw vector raises; codes ⊆ raw).
    * Returns `(qIdCol, idCol, cell, adc_dist, exact_dist, rk)`.
    */
  def ivfPqKnnJoinRefined(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codes: DataFrame,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      nProbe: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val dim = coarse(0).length
    val cand = ivfPqKnnJoin(queries, qIdCol, qVecCol, codes, idCol,
        k = rerank, scale = scale, coarse = coarse, codebooks = codebooks,
        nProbe = nProbe, broadcastQueries = broadcastQueries)
      .drop("rk")
    // same loud contract AND the same diagnostic as the single-query
    // refine: the failing row's ID rides the message so the operator
    // knows which row to repair without a manual probe
    def quantGuard(vc: Column, who: String, idc: Column): Column = {
      val q = kmeansQuantize(vc, scale)
      when(q.isNull,
          raise_error(concat(lit(s"ivfpq knn refine: $who id "),
            idc.cast("string"),
            lit(s" has a null raw vector — re-encode or repair the table"))))
        .when(size(q) === lit(dim), q)
        .otherwise(raise_error(concat(
          lit(s"ivfpq knn refine: $who dimension "), size(q).cast("string"),
          lit(s" != $dim"))))
    }
    val qvs = queries.filter(col(qVecCol).isNotNull)
      .select(col(qIdCol),
        quantGuard(col(qVecCol), "query", col(qIdCol)).as("_qq"))
    val exact = DedupExpressions.intL2(
      quantGuard(col(vecCol), "candidate", col(idCol)), col("_qq"),
      "ivfpq knn refine")
    raw.select(col(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(qvs), Seq(qIdCol))
      .select(col(qIdCol), col(idCol), col("cell"), col("adc_dist"),
        exact.as("_ex"))
      .select(col(qIdCol),
        struct(col("_ex").as("p"), col(idCol).cast("long").as("t"),
          col(idCol), col("cell"), col("adc_dist"),
          col("_ex").as("exact_dist")).as("_e"))
      .groupBy(col(qIdCol))
      .agg(DedupExpressions.bottomKBy(col("_e"), k).as("_ks"))
      .select(col(qIdCol), posexplode(col("_ks")).as(Seq("_r", "_e")))
      .select(col(qIdCol), col(s"_e.$idCol"), col("_e.cell"),
        col("_e.adc_dist"), col("_e.exact_dist"),
        (col("_r") + 1).cast("long").as("rk"))
  }

  /** EXACT integer kNN join — the ground truth for ANN evaluation:
    * each query row's `k` nearest corpus rows by the exact quantized
    * squared L2 distance (the same integer algebra as the refine
    * stage, so ANN output is directly comparable). O(|queries| ×
    * |corpus|) BY DESIGN: the corpus is scanned ONCE with the query
    * table broadcast alongside (BroadcastNestedLoopJoin — zero
    * shuffle, parallel over corpus splits), so the cost knob is the
    * QUERY COUNT — evaluation passes run a query SAMPLE (hundreds
    * estimate recall to ±percent), never the production query load.
    * Null-vector rows on EITHER side are dropped (the layout /
    * knn-join convention — a null vector has no index-space
    * location); a dimension mismatch fails loud in the `int_l2`
    * kernel. Returns `(qIdCol, idCol, exact_dist, rk)`, rank 1-based
    * ascending by `(exact_dist, id)` — every column integer, so
    * gates hash-pin it.
    */
  def exactQuantizedKnnJoin(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      scale: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(qIdCol != idCol,
      s"query id column '$qIdCol' must differ from corpus id column — alias one side")
    val qs = queries.filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("_qid"),
        kmeansQuantize(col(qVecCol), scale).as("_qq"))
    val cs = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), kmeansQuantize(col(vecCol), scale).as("_cq"))
    val scored = cs.crossJoin(broadcast(qs))
      .select(col("_qid"), col(idCol),
        DedupExpressions.intL2(col("_cq"), col("_qq"), "exact knn").as("_ex"))
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idIsIntegral = corpus.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (idIsIntegral) {
      // per-query top-k through the buffer-capped bottom-k aggregate
      // (map-side partials — a query never gathers the corpus on one
      // reducer; the shuffle carries <= |queries|·2k rows)
      scored
        .select(col("_qid"),
          struct(col("_ex").as("p"), col(idCol).cast("long").as("t"),
            col(idCol), col("_ex").as("exact_dist")).as("_e"))
        .groupBy(col("_qid"))
        .agg(DedupExpressions.bottomKBy(col("_e"), k).as("_ks"))
        .select(col("_qid"), posexplode(col("_ks")).as(Seq("_r", "_e")))
        .select(col("_qid").as(qIdCol), col(s"_e.$idCol"),
          col("_e.exact_dist"), (col("_r") + 1).cast("long").as("rk"))
    } else {
      // non-integral ids: the bounded agg's tie key must be a long —
      // keep the window path so rank ties stay on the raw id
      val w = Window.partitionBy("_qid").orderBy(col("_ex").asc, col(idCol).asc)
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("_qid").as(qIdCol), col(idCol),
          col("_ex").as("exact_dist"), col("rk"))
    }
  }

  /** ANN RECALL report — the index-QUALITY observable that pairs with
    * [[ivfPqLayoutStats]] to close the living-index maintenance loop:
    * stats says when to COMPACT (fragmentation), this says when to
    * RE-FIT (a coarse quantizer drifting away from the ingested
    * distribution shows up as falling recall; FAISS re-trains on the
    * same signal). For a query sample, per-query `recall@k` of the
    * production serving path ([[ivfPqKnnJoin]] over the STORED codes)
    * against the exact ground truth ([[exactQuantizedKnnJoin]] over
    * the raw vectors): `(qIdCol, n_true, n_hit, recall_permille)` —
    * all integers (`recall_permille = n_hit·1000 div n_true`), so the
    * gate hash-pins the whole evaluation. Cost = one bulk ANN
    * retrieval + one O(sample × corpus) exact pass — size the SAMPLE,
    * not the corpus. Queries with null vectors are dropped by both
    * paths and absent from the report.
    */
  def ivfPqRecallReport(
      codes: DataFrame,
      raw: DataFrame,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]],
      nProbe: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val ann = ivfPqKnnJoin(queries, qIdCol, qVecCol, codes, idCol,
        k = k, scale = scale, coarse = coarse, codebooks = codebooks,
        nProbe = nProbe, broadcastQueries = broadcastQueries)
      .select(col(qIdCol), col(idCol))
    val truth = exactQuantizedKnnJoin(queries, qIdCol, qVecCol, raw,
      idCol, vecCol, k, scale)
    // ONE reference to the O(sample × corpus) truth subtree: a
    // left-outer marker join + one aggregation (splitting n_hit and
    // n_true into two branches would rely on exchange reuse to avoid
    // paying the brute-force pass twice — not guaranteed under AQE).
    // The ann side is ≤ sample·k id pairs by construction — broadcast
    // it so the marker join never shuffles the truth stream
    truth.join(broadcast(ann.withColumn("_hit", lit(1))),
        Seq(qIdCol, idCol), "left_outer")
      .groupBy(col(qIdCol))
      .agg(count(lit(1)).as("n_true"), count(col("_hit")).as("n_hit"))
      .withColumn("recall_permille", expr("(n_hit * 1000) div n_true"))
  }

  /** Persist the IVF-PQ index PARAMETERS — the artifact that lets a
    * serving job answer queries without re-fitting (the
    * saveTokenizer precedent: train once, every consumer loads):
    * one parquet table of `(kind, sub, idx, vec, scale)` rows —
    * `kind = 'coarse'` carries the coarseK cell centroids,
    * `kind = 'codebook'` the m×k sub-space centroids. Pass
    * `coarse = Array.empty` to persist a plain-PQ index (no cells).
    */
  def saveIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      scale: Double,
      coarse: Array[Array[Long]],
      codebooks: Array[Array[Array[Long]]]): Unit = {
    import spark.implicits._
    val rows =
      coarse.zipWithIndex.toSeq.map { case (c, i) =>
        ("coarse", -1, i, c.toSeq, scale)
      } ++
      codebooks.zipWithIndex.toSeq.flatMap { case (cb, sub) =>
        cb.zipWithIndex.toSeq.map { case (c, code) =>
          ("codebook", sub, code, c.toSeq, scale)
        }
      }
    rows.toDF("kind", "sub", "idx", "vec", "scale")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveIvfPqIndex]] artifact back as
    * `(scale, coarse, codebooks)` — `coarse` is empty for a plain-PQ
    * index. Bounded collect by construction (coarseK + m·k rows).
    *
    * SHAPE-VALIDATED (fail loud, path in the message): a corrupted or
    * partially-written artifact — missing sub rows, jagged vector
    * lengths, inconsistent scale — would otherwise load into jagged
    * codebooks and die later with an opaque index error inside a
    * serving job. Checks: one distinct scale; coarse `idx` contiguous
    * from 0 with equal-length vectors; each codebook sub carries the
    * same number of idx-contiguous, equal-length rows; codebook dims
    * divide the coarse dim (when coarse is present).
    */
  def loadIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Double, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val all = spark.read.parquet(path).collect()
    require(all.nonEmpty, s"empty IVF-PQ index at $path")
    def fail(msg: String): Nothing =
      throw new IllegalStateException(s"corrupt IVF-PQ index at $path: $msg")
    val scales = all.map(_.getAs[Double]("scale")).distinct
    if (scales.length != 1)
      fail(s"${scales.length} distinct scales (${scales.mkString(", ")})")
    val badKinds = all.map(_.getAs[String]("kind")).distinct
      .filterNot(k => k == "coarse" || k == "codebook")
    if (badKinds.nonEmpty) fail(s"unknown kind rows: ${badKinds.mkString(", ")}")
    def contiguous(what: String, rows: Array[org.apache.spark.sql.Row]): Array[Array[Long]] = {
      val sorted = rows.sortBy(_.getAs[Int]("idx"))
      sorted.map(_.getAs[Int]("idx")).zipWithIndex.foreach { case (idx, i) =>
        if (idx != i) fail(s"$what idx gap — expected $i, found $idx " +
          "(partial write or duplicate rows)")
      }
      val vecs = sorted.map(_.getAs[Seq[Long]]("vec").toArray)
      if (vecs.map(_.length).distinct.length > 1)
        fail(s"$what has jagged vector lengths " +
          s"(${vecs.map(_.length).distinct.sorted.mkString(", ")})")
      vecs
    }
    val coarse = contiguous("coarse",
      all.filter(_.getAs[String]("kind") == "coarse"))
    val cbRows = all.filter(_.getAs[String]("kind") == "codebook")
    val subs = cbRows.map(_.getAs[Int]("sub")).distinct.sorted
    val m = if (cbRows.isEmpty) 0 else subs.last + 1
    if (subs.length != m || (subs.nonEmpty && subs.head != 0))
      fail(s"codebook subs not contiguous from 0 (${subs.mkString(", ")})")
    val codebooks = (0 until m).toArray.map { sub =>
      contiguous(s"codebook sub $sub", cbRows.filter(_.getAs[Int]("sub") == sub))
    }
    if (m > 0) {
      val ks = codebooks.map(_.length).distinct
      if (ks.length > 1) fail(s"subs carry different k (${ks.sorted.mkString(", ")})")
      val dss = codebooks.map(_(0).length).distinct
      if (dss.length > 1)
        fail(s"subs carry different sub-dims (${dss.sorted.mkString(", ")})")
      if (coarse.nonEmpty && m * dss.head != coarse(0).length)
        fail(s"codebooks cover ${m * dss.head} dims != coarse dim ${coarse(0).length}")
    }
    (scales.head, coarse, codebooks)
  }

  /** L2-normalize a float vector column to unit length
    * (`array<double>`; null vectors and ALL-ZERO vectors yield null —
    * a zero vector has no direction). The null rides the family's
    * null contract downstream: the encode/fit entry points EXCLUDE
    * null vectors ([[pqEncode]]/[[ivfPqEncode]] filter, the fits skip
    * them), and the top-k paths document the same drop — callers that
    * must fail loud on zero vectors assert `isNotNull` after this
    * projection.
    *
    * THE COSINE SERVING RECIPE: for unit vectors,
    * `||a − b||² = 2 − 2·cos(a, b)`, so L2 top-k over L2-NORMALIZED
    * vectors IS cosine top-k — normalize once at ingest, then every
    * operator in the L2 family ([[pqAdcTopK]], [[ivfPqTopK]], the
    * persisted [[ivfPqTopKFromCodes]] / [[ivfPqKnnJoin]] serving
    * paths, [[knnJoin]]) serves cosine with no new kernels.
    * Normalization is float (gate with a recall band, the q_ann_ivf
    * pattern — the downstream quantized pipeline stays exact-integer
    * AFTER this projection).
    */
  def l2Normalize(vec: Column): Column = DedupExpressions.l2Normalize(vec)

}
