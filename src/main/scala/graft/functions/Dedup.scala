package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for the 100 TB
  * shape: exact dedup is one hash-shuffle; near-dup never goes
  * quadratic — candidate pairs come from LSH band buckets
  * (shingle→minhash→band→bucket-join), so the join key cardinality is
  * bounded by collision groups, not n².
  */
object Dedup {

  /** Exact dedup on `keyCols`: keeps the row with the smallest `idCol`
    * per duplicate group. One shuffle on the group key; with AQE, skewed
    * duplicate groups get split automatically.
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact-duplicate groups on a content hash of `textCol` — returns
    * (content key, n_dups, representative id) for groups of size > 1.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Canonical-representative selection: keep the best-scoring row per
    * duplicate group (e.g. `TextFunctions.qualityScore` over LSH
    * connected components) — dedup that keeps the HIGHEST-quality copy
    * instead of an arbitrary one. Ties break on smallest `idCol` for
    * determinism. One shuffle on the group key.
    */
  def keepBest(df: DataFrame, groupCols: Seq[String], scoreCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** MinHash signature: `k` independent min-hashes over the word
    * `n`-gram shingles — the Column-composed twin of the one-pass
    * [[DedupExpressions.minhashSig]] expression (same hash family,
    * same values; the expression is the hot path). The shingle string
    * is hashed ONCE (md5-lower-64 mod P), then per-lane affine
    * transforms — cheap mod-prime arithmetic, not k string hashes.
    */
  def minhashSignature(text: Column, k: Int = 64, shingleN: Int = 3): Column =
    minhashOfHashes(shingleHashes(text, shingleN), k)

  /** Per-shingle base hashes (the expensive string pass — compute
    * once, reuse across lanes/operators): unsigned
    * `md5_lower64(shingle) mod P`, matching [[HashUtil.shingleBase]].
    * The unsigned mod of a signed Long uses 2^64 ≡ 4 (mod 2^31-1).
    */
  def shingleHashes(text: Column, shingleN: Int = 3): Column =
    transform(TextFunctions.wordShingles(text, shingleN), s => {
      val h = DedupExpressions.md5Lower64(s)
      val p = lit(HashUtil.P)
      pmod(pmod(h, p) + when(h < 0, lit(4L)).otherwise(lit(0L)), p)
    })

  /** k-lane minhash over precomputed base hashes (cheap affine
    * transforms mod the Mersenne prime — overflow-free in 64-bit).
    */
  def minhashOfHashes(hashes: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(hashes,
        h => (lit(HashUtil.laneA(i)) * h + lit(HashUtil.laneB(i))) % lit(HashUtil.P)))
    }: _*)

  /** LSH band keys from a minhash signature: `bands` keys, each the
    * md5-lower-64 of `<band>:<comma-joined signature slice>`. Two docs
    * share a band key iff that signature slice matches exactly (a
    * 2^-64 cross-slice collision only adds a CANDIDATE, which the
    * est_jaccard threshold then scores on the full signature — it
    * cannot corrupt output, so the 8-byte long beats the 32-char md5
    * hex string this used at first: band exchanges move ~3.5x fewer
    * key bytes and the bucket-cap key set becomes broadcast-sized.
    * The oracle replicates the key as `md5_number_lower(...)` of the
    * same concat, like every other hash key in the repo.
    */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      DedupExpressions.md5Lower64(concat_ws(":", lit(b),
        concat_ws(",", slice(signature, b * rowsPerBand + 1, rowsPerBand))))
    }: _*)

  /** `(band, id)` rows → distinct candidate `(id_a, id_b)` pairs, in
    * ONE shuffle. `groupBy(band)` gathers each bucket's ids with the
    * buffer-capped [[BoundedCollectListExpr]] (a hot bucket can never
    * grow a reducer buffer past cap+1 elements), keeps buckets with
    * `2 <= size <= maxBucketSize` — kept buckets are complete because
    * the cap ceiling is maxBucketSize+1 — and emits each in-bucket
    * pair once via the suffix-slice explode (C(n,2) rows, never the
    * n² square). The previous shape paid THREE band-keyed shuffles
    * (count buckets → semi-join the keep-set back → self-join both
    * sides); this pays one, and the per-bucket pair blowup bound is
    * identical (cap² / 2).
    */
  private def bandCandidatePairs(bandedAll: DataFrame, maxBucketSize: Int): DataFrame =
    candidatePairsByKey(bandedAll, Seq("band"), maxBucketSize)

  /** The shared kernel behind [[bandCandidatePairs]] and the
    * embedding path's `(band, bv)` variant — one definition so a fix
    * to the cap/self-pair/explode semantics can never apply to one
    * LSH family and not the other.
    */
  private[functions] def candidatePairsByKey(
      keyed: DataFrame,
      keyCols: Seq[String],
      maxBucketSize: Int): DataFrame =
    bucketPairStream(keyed, keyCols, maxBucketSize).distinct()

  /** The RAW per-bucket pair stream behind [[candidatePairsByKey]]
    * and [[winnowMatches]] — one emission per (bucket, unordered
    * pair), pre-dedup, so count-consumers (winnow's shared-
    * fingerprint tally) and set-consumers (LSH candidates) share one
    * definition of the cap/self-pair/explode semantics.
    */
  private[functions] def bucketPairStream(
      keyed: DataFrame,
      keyCols: Seq[String],
      maxBucketSize: Int): DataFrame =
    keyed.groupBy(keyCols.map(col): _*)
      .agg(DedupExpressions.boundedCollectList(col("id"), maxBucketSize).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucketSize))
      .select(col("_ids"), posexplode(col("_ids")).as(Seq("pa", "ida")))
      .select(col("ida"),
        explode(slice(col("_ids"), col("pa") + lit(2), size(col("_ids")))).as("idb"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"))
      // least==greatest only if the caller passed duplicate ids (two
      // bucket slots, same id) — the old self-join's `id_a < id_b`
      // dropped those self-pairs; keep that contract
      .filter(col("id_a") =!= col("id_b"))

  /** MinHash+LSH candidate pairs with estimated Jaccard.
    *
    * Pipeline: signature per doc → explode band keys → one-shuffle
    * bucket build + in-bucket pair explode ([[bandCandidatePairs]]) →
    * dedupe pairs → estimate similarity as matching signature
    * positions / k. At scale this is the standard
    * shingle→minhash→band→bucket-join: the only shuffle keys are band
    * hashes, and genuinely similar docs collide in ≥1 band with high
    * probability.
    */
  /** @param maxBucketSize band buckets larger than this are dropped
    *   before the pair explode. A bucket of b docs emits b²/2 candidate
    *   pairs — one boilerplate template shared by 100k docs would emit
    *   5e9 pairs from a single bucket. Dropping oversized buckets
    *   bounds the join quadratically per bucket while near-dup PAIRS
    *   still collide in their other, rarer bands (recall loss only for
    *   mega-clusters, which exact-hash dedup already catches).
    */
  /** [[minhashPairs]] over a PRECOMPUTED signature table `(id, sig)` —
    * the 100 TB formulation: signatures are expensive and reused, so
    * materialize them once (parquet/cache), then band with IDS ONLY
    * (the single-pipeline `minhashPairs` carries the 512-byte
    * signature `bands`× through the band shuffle to avoid recomputing
    * it; with a persisted table that tradeoff inverts) and join the
    * signatures back onto the deduped candidate pairs for the
    * estimate.
    *
    * Crossover guidance (measured, local[16] loopback): single-pipeline
    * wins when shuffle is free — 10.7 s vs 13.8 s at 100k docs, 51 s vs
    * 57 s at 1M docs — because the two sig-attach joins cost more than
    * the band-shuffle bytes they save. On a real cluster the band
    * shuffle crosses the NETWORK `bands`× per doc (at 1M docs × 512 B ×
    * 8 bands ≈ 4 GB vs ids-only ≈ 64 MB); use this overload when
    * signatures are already persisted AND shuffle bytes are the binding
    * constraint, single-pipeline [[minhashPairs]] for one-shot runs.
    */
  def minhashPairsFromSigs(
      sigs: DataFrame,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 2000): DataFrame = {
    val rowsPerBand = k / bands
    val bandedAll = sigs.select(
      col("id"), explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val pairs = bandCandidatePairs(bandedAll, maxBucketSize)
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        DedupExpressions.sigMatchRatio(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** @param pinSigs when true (the DEFAULT since r9), the signature
    *   table is eagerly checkpointed so MinHashSigExpr — the most
    *   expensive kernel in the library (tokenize + k minhash lanes
    *   over every shingle) — runs EXACTLY ONCE instead of once per
    *   consumer branch (the lazy plan has three: the band explode and
    *   the two sig-attach joins). Measured r8 quiet-host at 1M docs:
    *   42.9 s lazy vs 18.8 s with sigs materialized — a 2.3× win that
    *   only grows with corpus size, which is why it is now the
    *   default. Costs: the CALL becomes eager (it runs a job before
    *   the result is consumed — pass `pinSigs = false` for pure-lazy
    *   plan inspection or trivially small corpora), and the
    *   ~520 B/doc sig blocks stay cached until
    *   [[graft.functions.Curation.unpin]] on the result,
    *   [[graft.functions.Curation.releaseAllPins]], or session end.
    *   At persistent-index scale prefer stored signatures +
    *   [[minhashPairsFromSigs]] anyway.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 2000,
      pinSigs: Boolean = true): DataFrame = {
    val rowsPerBand = k / bands // r=8 at defaults: collision p = s^8 per
    // band — random pairs (s≈0.4) almost never collide, real near-dups
    // (s≥0.8) hit ≥1 of the 8 bands w.p. ≈1.
    //
    // Signature via the one-pass custom Expression (MinHashSigExpr) —
    // the Column-composed lanes are interpreted HOFs and re-walk the
    // shingle array k times. Repartition first: a small parquet file
    // arrives as ONE split, which would serialize the signature pass.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val sigsLazy = df
      .repartition(par)
      .select(col(idCol).as("id"),
        DedupExpressions.minhashSig(col(textCol), k).as("sig"))
    val (sigs, sigPins) =
      if (pinSigs) Pins.pin(sigsLazy) else (sigsLazy, Set.empty[Int])
    // the band shuffle carries (band, id) ONLY — 16-byte rows. The
    // 64-lane signature (~520 B/doc) attaches AFTER candidate dedup:
    // carrying it through the band stages shuffled ~8× sig bytes per
    // doc (measured 6.5 GB read/1M docs in the curation rehearsal
    // once the bucket filter outgrew its broadcast and the joins went
    // sort-merge; 0.6 GB after the ids-only reshape).
    // sigMatchRatio is band-independent, so distinct-before-score is
    // value-identical to the old per-band score + groupBy max.
    val bandedAll = sigs.select(
      col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val cand = bandCandidatePairs(bandedAll, maxBucketSize)
    // candidate side is dup-rate-bounded (bucket cap) → AQE broadcasts
    // it and the sig scans stream unshuffled
    val out = cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        DedupExpressions.sigMatchRatio(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    if (pinSigs) Pins.register(out, sigPins)
    out
  }

  /** Connected components over an undirected near-dup edge list —
    * alternating LARGE-STAR / SMALL-STAR label propagation (the
    * shuffle-bounded MapReduce formulation: Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round is two
    * groupBy-min shuffles; convergence in O(log n) rounds with NO
    * driver-side iteration over data — the driver loop only counts
    * rounds and checks a fixpoint, which is what makes this the 100 TB
    * formulation (GraphX-style Pregel keeps per-vertex state resident;
    * this needs nothing but the shrinking edge list).
    *
    * Returns `(id, component)` with `component` = the smallest id in
    * the component — the canonical dedup-group key to feed
    * [[keepBest]] (`groupCols = Seq("component")`) and
    * `Curation.hashSplit` (split by component id so near-duplicate
    * groups can never straddle train/validation).
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    // LAZY pins through [[Pins]]: each pinned edge list's first action
    // is its full-coverage fingerprint, which materializes the pin in
    // the same job; the previous round's pin releases once the next is
    // materialized, and the last one is registered on the result
    var (edges, edgePins) = Pins.pin(pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct(), eager = false)
    // One-action set fingerprint replacing the two exceptAll passes per
    // round: edge lists are distinct, so (count, XOR of pair hashes) is
    // an order-independent set identity — equal fingerprints on
    // consecutive rounds = fixpoint. XOR (not sum) so ANSI overflow
    // can't throw; one narrow agg job per round instead of two full
    // edge-list shuffles.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = fingerprint(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR: over the symmetrized graph, hang every neighbor
      // v > u off m = min(N(u) ∪ {u})
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(lsMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR: edges now point big→small; hang u and all its
      // smaller neighbors off their minimum
      val ssMins = ls.groupBy("u").agg(min(col("v")).as("m"))
      val (next, nextPins) = Pins.pin(ls.join(ssMins, "u")
        .select(col("v"), col("m"))
        .unionByName(ssMins.select(col("u").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct(), eager = false)
      val nextSig = fingerprint(next)
      converged = nextSig == sig
      sig = nextSig
      Pins.release(edges, edgePins)
      edges = next
      edgePins = nextPins
      i += 1
    }
    val out = edges.select(col("u").as("id"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
    Pins.register(out, edgePins)
    out
  }

  /** 64-bit SimHash of the word tokens: per bit, sum +1/-1 votes across
    * token hashes; sign → bit. Pure `Column` composition (64
    * aggregate lanes over the token-hash array) — stays in codegen.
    */
  def simhash(text: Column): Column = {
    val hashes = transform(
      filter(split(TextFunctions.normalizeText(text), " "), w => length(w) > 0),
      w => DedupExpressions.md5Lower64(w))
    val bits = (0 until 64).map { bit =>
      val votes = aggregate(
        hashes,
        lit(0L),
        (acc, h) => acc + when(shiftright(h, bit).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << bit)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Contiguous block widths that cut 64 bits into `blocks` runs as
    * evenly as possible (the first `64 % blocks` runs get the extra
    * bit). Shared by [[simhashPairs]] and its oracle-SQL builder so
    * both engines derive identical block boundaries.
    */
  private[graft] def simhashBlockWidths(blocks: Int): Seq[Int] = {
    val base = 64 / blocks
    val extra = 64 % blocks
    Seq.tabulate(blocks)(i => base + (if (i < extra) 1 else 0))
  }

  /** The LSH table key-sets for [[simhashPairs]]: every
    * `(blocks - maxHamming)`-subset of block indices, lexicographic.
    * Pigeonhole: `maxHamming` flips land in at most `maxHamming`
    * blocks, so SOME subset of this size is entirely unflipped — a
    * pair within budget matches exactly on that table's key. Shared
    * with the oracle-SQL builder.
    */
  private[graft] def simhashTables(blocks: Int, maxHamming: Int): Seq[Seq[Int]] = {
    // fail fast BEFORE materializing: `combinations` is a lazy
    // iterator, so bounding it at cap+1 detects an over-budget
    // C(blocks, maxHamming) in O(cap) work — the old eager `.toSeq`
    // tried to build the full list first, so argument combos that
    // passed the earlier range requires (e.g. blocks=40, maxHamming=20
    // -> C(40,20) ~ 1.4e11 subsets) hung/OOMed instead of erroring.
    val capped = (0 until blocks).combinations(blocks - maxHamming)
      .take(1025).map(_.toSeq).toSeq
    require(capped.size <= 1024,
      s"C($blocks, $maxHamming) exceeds 1024 LSH tables — lower blocks or maxHamming")
    capped
  }

  /** SimHash near-duplicate pairs within `maxHamming` bit flips.
    *
    * Block-combination LSH (Manku, Jain & Sarma, WWW'07, §3 — the
    * web-crawl near-dup design): the 64-bit fingerprint is cut into
    * `blocks` contiguous runs, and one LSH table is built per
    * `(blocks - maxHamming)`-subset of runs, keyed on the
    * concatenation of that subset's bits ([[simhashTables]] — by
    * pigeonhole the candidate generator is recall-lossless within the
    * budget). `blocks` trades table count `C(blocks, maxHamming)`
    * against key width `64·(blocks-maxHamming)/blocks`: the naive
    * `maxHamming + 1` blocks gives few tables but 16-bit keys whose
    * FALSE candidates grow as `n²/2^16` — measured 106 s on 1M random
    * docs (27M false candidates); the default `2·maxHamming` gives
    * 32-bit keys (20 tables at the h=3 operating point), collapsing
    * false candidates by 2^16 while the table rows stay `20 × 20 B/doc`.
    * At larger corpora, raise `blocks` further (e.g. 12 → 48-bit keys,
    * 220 tables): false candidates shrink another 2^16 per step while
    * table rows grow linearly — the knob is explicitly the Manku
    * table/key tradeoff.
    *
    * Candidates build in ONE shuffle of `(tbl, key, id)` rows — 20
    * bytes, never text — via [[candidatePairsByKey]] (bucket-capped: a
    * mega-cluster key emits no quadratic pair blowup; those clusters
    * are exact-dedup's job). Pairs then re-score EXACT hamming via
    * `bit_count(xor)` on fingerprints joined back from the scan
    * (8-byte sims; the candidate side is the smaller relation, AQE
    * broadcasts it), so precision is exact and recall within budget is
    * 1 by construction (minus capped buckets).
    *
    * @param maxHamming pairs with hamming distance ≤ this survive.
    *   3 is the Manku et al. operating point for 64-bit fingerprints.
    * @param blocks fingerprint runs; must exceed `maxHamming`.
    *   Default `max(maxHamming·2, maxHamming+1)` (= Manku's 6 blocks
    *   at h=3). `C(blocks, maxHamming)` tables are built — capped at
    *   1024 to keep the fan-out explicit.
    * @param maxBucketSize table-key buckets larger than this are
    *   dropped before the pair explode (see [[minhashPairs]] — same
    *   contract). Near-identical mega-clusters (e.g. empty docs, all
    *   hamming 0) lose recall here by design.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      blocks: Int = 0,
      maxBucketSize: Int = 2000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    require(blocks >= 0, s"blocks must be >= 0 (0 = default), got $blocks")
    val b = if (blocks == 0) math.max(maxHamming * 2, maxHamming + 1) else blocks
    require(b > maxHamming && b <= 64,
      s"blocks must be in (maxHamming, 64], got $b for maxHamming=$maxHamming")
    val tables = simhashTables(b, maxHamming) // fast-fails above 1024 tables
    val widths = simhashBlockWidths(b)
    val offsets = widths.scanLeft(0)(_ + _).init
    val sims = df.select(col(idCol).as("id"),
      DedupExpressions.simhash64(col(textCol)).as("sim"))
    // per-table key: selected block values packed high-to-low by
    // shift+or. Logical right-shift then mask keeps every block value
    // non-negative; selected widths sum to <= 64, so packing never
    // truncates — and the oracle's unsigned HUGEINT divide/mod
    // reconstruction lands on identical values.
    def blockVal(i: Int): Column = {
      val mask = if (widths(i) >= 64) -1L else (1L << widths(i)) - 1
      shiftrightunsigned(col("sim"), offsets(i)).bitwiseAND(lit(mask))
    }
    val keyArr = array(tables.map { sel =>
      sel.foldLeft(lit(0L)) { (acc, bi) =>
        shiftleft(acc, widths(bi)).bitwiseOR(blockVal(bi))
      }
    }: _*)
    val keyed = sims
      .select(col("id"), posexplode(keyArr).as(Seq("tbl", "key")))
      .select(col("tbl"), col("key"), col("id"))
    val pairs = candidatePairsByKey(keyed, Seq("tbl", "key"), maxBucketSize)
    pairs
      .join(sims.select(col("id").as("id_a"), col("sim").as("sim_a")), "id_a")
      .join(sims.select(col("id").as("id_b"), col("sim").as("sim_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity for candidate pairs: explode
    * distinct shingles, self-join on shingle, |∩| / (|A|+|B|-|∩|).
    * The shingle join is the scalable formulation — common shingles are
    * the only join keys; pair with [[minhashPairs]] as a pre-filter at
    * 100 TB so only candidate pairs reach the exact pass.
    */
  /** @param maxShingleFreq shingles occurring in more than this many
    *   docs are dropped from the INTERSECTION join (stop-shingle
    *   removal) — a boilerplate shingle shared by 1M docs would emit
    *   5e11 join rows. |A| and |B| still count all shingles, so the
    *   Jaccard DENOMINATOR is exact and the estimate only loses the
    *   stop-shingles' contribution to the numerator (a lower bound).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleFreq: Int = 10000): DataFrame =
    shingleIntersections(df, idCol, textCol, n, maxShingleFreq,
      sizePrune = Some(threshold))
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Shared candidate-pair machinery for the set-similarity measures:
    * distinct word `n`-gram shingles per doc, keyed by their signed
    * 64-bit md5 (8-byte shuffle keys — the n-gram TEXT never enters an
    * exchange) → docs-per-shingle lists in ONE shuffle (the
    * buffer-capped `boundedCollectList` bounds a hot shingle's
    * aggregation buffer at `maxShingleFreq + 1`, so no count
    * prefilter pass is needed) → shared-shingle prune
    * (`2 <= docs <= maxShingleFreq`: singletons can't contribute to
    * an intersection, and at a random-text corpus they are nearly ALL
    * shingles, so the bound cuts the pair stage's input to ~the true
    * collision set; stop-shingles above the cap leave the numerator
    * as before) →
    * map-side pair explode → `(id_a, id_b, common, n_a, n_b)` with
    * `id_a < id_b`. `n_a`/`n_b` count ALL distinct shingles, so
    * denominators stay exact and only the stop-shingles' numerator
    * contribution is lost (estimates become lower bounds).
    *
    * Measured: the previous string-keyed self-join formulation ran
    * 35+ min on a 1M-doc / 50k-vocab probe corpus; this shape is the
    * same two linear shuffles duplicatedSpans pays (~80 s class).
    */
  /** @param sizePrune when set to the caller's similarity threshold
    *   `t`, pair rows are pruned BEFORE the pair-count shuffle using
    *   the Jaccard size bound: `common <= min(|A|,|B|)`, so
    *   `J >= t` implies `min/(|A|+|B|-min) >= t` — evaluated with the
    *   EXACT same double arithmetic as the final Jaccard filter
    *   (IEEE division is monotone in the numerator and antitone in
    *   the denominator, so no boundary pair that would pass the final
    *   filter can be dropped). Valid for Jaccard only — containment's
    *   denominator is min(|A|,|B|), for which the bound is vacuous
    *   (a tiny doc fully inside a huge one is exactly the case it
    *   exists to catch), so [[containmentPairs]] must pass None.
    */
  private def shingleIntersections(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleFreq: Int,
      sizePrune: Option[Double] = None): DataFrame = {
    // ONE kernel pass: the shingle set is materialized as an attribute
    // below the Generate, so the per-doc size rides each exploded row
    // and into the collect as a (id, n_sh) struct — the old shape
    // derived sizes from a SECOND kernel pass over the corpus and
    // joined them back onto the pairs (two more corpus-keyed shuffles).
    // explode_OUTER + null filter, not plain explode: the inner
    // explode would make the optimizer infer `size(hs) > 0` and
    // re-evaluate the kernel in a scan-side Filter (separate codegen
    // operator — no cross-operator CSE), doubling the tokenize+hash
    // work (the bm25TopDocs lesson; PlanSpec pins ONE kernel site)
    val exploded = df
      .select(col(idCol).as("id"),
        DedupExpressions.shingleSet(col(textCol), n).as("hs"))
      .select(col("id"), size(col("hs")).as("n_sh"),
        explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
    // ONE shuffle of the doc-shingle table: the buffer-capped collect
    // replaces the count-prefilter + keep-set semi-join this used to
    // pay (two extra shuffles of `exploded`, which existed only to
    // keep a hot shingle from blowing up the aggregation buffer —
    // BoundedCollectListExpr bounds the buffer at the source). Kept
    // shingles (2 <= docs <= maxShingleFreq) are complete because the
    // cap ceiling is maxShingleFreq+1; stop-shingles above the cap
    // drop exactly as before.
    val byShingle = exploded.groupBy("h")
      .agg(DedupExpressions.boundedCollectList(
        struct(col("id"), col("n_sh")), maxShingleFreq).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleFreq))
    // emit only position-ordered pairs (suffix slice per element), then
    // orient by value — generates C(n,2) rows per shingle instead of
    // exploding the full n² square and filtering half away
    val oriented = byShingle
      .select(col("ids"), posexplode(col("ids")).as(Seq("pa", "da")))
      .select(col("da"),
        explode(slice(col("ids"), col("pa") + lit(2), size(col("ids")))).as("db"))
      .select(
        when(col("da.id") < col("db.id"), col("da")).otherwise(col("db")).as("a"),
        when(col("da.id") < col("db.id"), col("db")).otherwise(col("da")).as("b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
    val pruned = sizePrune match {
      case Some(t) =>
        val mn = least(col("n_a"), col("n_b")).cast("double")
        oriented.filter(mn / (col("n_a") + col("n_b") - mn) >= t)
      case None => oriented
    }
    // n_a/n_b are functionally determined by the group key; max() just
    // carries them through the (map-side combined) pair count
    pruned
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
  }

  /** Asymmetric containment near-dup pairs: containment of the SMALLER
    * shingle set in the larger, `|A ∩ B| / min(|A|, |B|)`. Catches the
    * quote/excerpt/wrapper case Jaccard misses — a 100-word document
    * fully embedded in a 10k-word page has Jaccard ≈ 0.01 but
    * containment 1.0. The Jaccard size-bound prune is vacuous for this
    * denominator (a tiny doc inside a huge one is exactly the target
    * case), so this path uses PPJoin-style PREFIX FILTERING instead
    * (Xiao, Wang, Lin & Yu 2008, "Efficient Similarity Joins for Near
    * Duplicate Detection" — public WWW'08 formulation):
    *
    *  1. ONE kernel pass → `(id, sorted shingle hashes, n_sh)`, pinned
    *     (three consumers; the pin is registered on the result for
    *     [[DedupExpressions]]-style `Pins.unpin`).
    *  2. A passing pair needs `common/min >= t`, and the overlap is a
    *     subset of the SMALLER doc — so under any global token order
    *     (ascending hash here) the overlap must touch the smaller
    *     doc's first `L` tokens, where `L` is the smallest prefix
    *     whose complement is too small to carry a passing overlap:
    *     position `p` (0-based) is flagged iff
    *     `(n_sh - p) / n_sh >= t` under the EXACT double arithmetic of
    *     the final filter (IEEE division is monotone in the numerator,
    *     so nothing the final filter would keep can be lost). Pairs
    *     are emitted per shingle only when at least one side holds the
    *     shingle in its prefix (the larger side contributes its FULL
    *     set — the asymmetric half of the containment join) — cutting
    *     the per-shingle pair explode from C(n,2) to ~(1-t)·n·n.
    *  3. Candidates dedupe, then verify EXACTLY:
    *     `common = |array_intersect(hs_a, hs_b minus stop-shingles)|`
    *     via two joins against the pinned doc-shingle table (small
    *     candidate side — AQE broadcasts it, the corpus table never
    *     shuffles). Stop shingles (> `maxShingleFreq` docs) leave the
    *     numerator exactly as in [[ngramJaccardPairs]]; their set comes
    *     from a count-only 16-byte-row aggregation over the pin (NOT
    *     from the collect_list output — that would re-run the heavy
    *     shuffle per consumer), is bounded by
    *     `total shingle rows / maxShingleFreq` by pigeonhole, and is
    *     loudly driver-collected. `n_a`/`n_b` still count ALL
    *     shingles, so the denominator is exact and the estimate stays
    *     the same lower bound as before.
    *
    * Returns `(id_a, id_b, containment)` with `id_a < id_b` and
    * containment >= `threshold`.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleFreq: Int = 10000): DataFrame = {
    // LAZY pin: the stop-count collect below is the first action and
    // covers every partition, so the kernel+sort+checkpoint fuses into
    // that job instead of paying a separate eager one
    val (docSh, docShPins) = Pins.pin(df
      .select(col(idCol).as("id"),
        array_sort(DedupExpressions.shingleSet(col(textCol), n)).as("hs"))
      .select(col("id"), col("hs"), size(col("hs")).as("n_sh")),
      eager = false)
    // prefix flag per (doc, position): the suffix strictly after p can
    // carry at most n_sh - p - 1 shared shingles; p is in the prefix
    // while a suffix-only overlap of n_sh - p could still pass
    // stop-shingle set FIRST, as a count-only aggregation over the pin
    // (16-byte shuffle rows, no list buffers) so the heavy collect_list
    // shuffle below executes exactly ONCE — deriving stops from the
    // collect output would re-run it per consumer. The set is bounded
    // by total shingle rows / maxShingleFreq by pigeonhole; require
    // loud anyway before the driver collect.
    val stopHs: Array[Long] = {
      val arr = docSh
        .select(explode(col("hs")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxShingleFreq)
        .select(col("h"))
        .limit(1000001).collect().map(_.getLong(0))
      require(arr.length <= 1000000,
        "containmentPairs: over 1M stop shingles — raise maxShingleFreq " +
          "or pre-clean boilerplate; the exclusion set must stay driver-bounded")
      arr
    }
    val exploded = docSh
      .select(col("id"), col("n_sh"), posexplode_outer(col("hs")).as(Seq("p", "h")))
      .filter(col("h").isNotNull)
      .select(col("h"), struct(col("id"), col("n_sh"),
        ((col("n_sh") - col("p")).cast("double") / col("n_sh").cast("double")
          >= threshold).as("pref")).as("d"))
    val byShingle = exploded.groupBy("h")
      .agg(DedupExpressions.boundedCollectList(col("d"), maxShingleFreq).as("ids"))
    // pair emission, flagged sides only: each unordered pair emits at
    // most once per shingle (flagged x, skip when y is flagged with a
    // smaller id — that orientation emits it)
    val kept = byShingle.filter(size(col("ids")).between(2, maxShingleFreq))
    val cand = kept
      .select(col("ids"), explode(col("ids")).as("x"))
      .filter(col("x.pref"))
      .select(col("x"), explode(col("ids")).as("y"))
      .filter(col("x.id") =!= col("y.id") &&
        (!col("y.pref") || col("x.id") < col("y.id")))
      .select(
        least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_nsh_hits"))
      .drop("_nsh_hits")
    // exact verification on the candidate set: intersect the full
    // sorted shingle arrays (minus stop shingles), denominators from
    // the FULL sizes
    val cleanHs =
      if (stopHs.isEmpty) col("hs")
      else array_except(col("hs"), typedLit(stopHs.toSeq))
    val out = cand
      .join(docSh.select(col("id").as("id_a"), cleanHs.as("_hs_a"),
        col("n_sh").as("n_a")), "id_a")
      .join(docSh.select(col("id").as("id_b"), col("hs").as("_hs_b"),
        col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_hs_a"), col("_hs_b"))).cast("double")
          ./(least(col("n_a"), col("n_b")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
    Pins.register(out, docShPins)
    out
  }

  /** Release the pinned doc-shingle table behind a [[containmentPairs]]
    * result; no-op for any other frame.
    */
  def unpinContainment(df: DataFrame): Unit = Pins.unpin(df)

  /** Winnowing fingerprints per document ([[WinnowExpr]] — MOSS,
    * SIGMOD'03): `(id, pos, h)` rows, ~`2/(w+1)` of the k-gram count,
    * with the guarantee that any cross-document match of at least
    * `w + k - 1` tokens shares a fingerprint. ONE codegen'd
    * projection (positional hashes → window argmins), then the
    * explode — position-aware near-dup evidence at a fraction of the
    * q_dup_spans full-gram volume.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge._
    df.select(col(idCol).as("id"),
        explode(column(WinnowExpr(
          expression(DedupExpressions.shinglePosHashes(col(textCol), k)), w))).as("fp"))
      .select(col("id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
  }

  /** Cross-document fingerprint matches: pairs sharing at least
    * `minShared` DISTINCT winnowed fingerprints, with the count — the
    * MOSS similarity report. Same one-shuffle band shape as the
    * shingle-pair operators: fingerprints group by hash with the
    * buffer-capped collect (hot boilerplate fingerprints drop at
    * `maxBucket`, exactly like stop shingles), each bucket emits its
    * C(n,2) pairs once, then a pair-keyed count.
    */
  def winnowMatches(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4,
      minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("h")).distinct()
    // distinct (id, h) upstream ⇒ one emission per (pair, shared
    // hash), so the pair count IS the distinct-shared-hash count
    bucketPairStream(fp, Seq("h"), maxBucket)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental near-dup dedup of a NEW batch against an existing
    * signature corpus — the continuous-ingest shape: signatures for
    * the whole history are persisted once (e.g. via
    * [[DedupExpressions.minhashSig]] into a `(id, sig)` table) and
    * each arriving batch is screened against them without ever
    * re-reading corpus text.
    *
    * Join algebra: one-pass signatures for the batch → band keys on
    * BOTH sides → band equi-join (batch bands × corpus bands — the
    * corpus side shuffles ids+bands only, never text or vectors) →
    * signature match ratio ≥ `threshold` confirms → min matching
    * corpus id per batch doc. Corpus-side band rows can also be
    * precomputed/persisted, making the incremental cost O(batch) —
    * at 100 TB history + GB-scale batches that is the only shape that
    * works. `maxBucketSize` caps degenerate corpus buckets exactly as
    * in [[minhashPairsFromSigs]].
    *
    * Returns all batch rows as `(idCol, dup_of)` — `dup_of` = smallest
    * matching corpus id, NULL for novel documents.
    */
  def dedupAgainstCorpus(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpusSigs: DataFrame,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 2000): DataFrame =
    dedupAgainstIndex(
      newDocs, idCol, textCol,
      buildSignatureIndex(corpusSigs, bands, k / bands, maxBucketSize),
      threshold)

  /** The persisted half of [[dedupAgainstCorpus]]: signatures plus
    * pre-exploded band rows with oversized buckets already removed.
    * Build ONCE per corpus snapshot and write both frames to storage
    * (plain parquet; the band table is `(id, band)` — 8 rows × ~40 B
    * per doc); every arriving batch then joins against the stored
    * index without recomputing corpus bands or bucket stats. Append
    * `buildSignatureIndex` output of each accepted batch to keep the
    * index rolling forward.
    */
  /** Carries its own banding parameters so a screening call can never
    * silently use a different band layout than the index was built
    * with (mismatched bands ⇒ keys never collide ⇒ every duplicate
    * reported novel).
    */
  final case class SignatureIndex(
      sigs: DataFrame,
      bands: DataFrame,
      nBands: Int,
      rowsPerBand: Int) {
    def k: Int = nBands * rowsPerBand
  }

  /** @param corpusSigs `(id, sig)` — e.g. persisted
    *   [[DedupExpressions.minhashSig]] output.
    */
  def buildSignatureIndex(
      corpusSigs: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 8,
      maxBucketSize: Int = 2000): SignatureIndex = {
    val corpusBands = corpusSigs.select(
      col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val okBuckets = corpusBands.groupBy("band")
      .agg(count(lit(1)).as("_bs"))
      .filter(col("_bs") <= maxBucketSize)
      .select("band")
    SignatureIndex(
      corpusSigs,
      corpusBands.join(okBuckets, Seq("band"), "left_semi"),
      bands, rowsPerBand)
  }

  /** Screen a batch against a prebuilt [[SignatureIndex]] — the
    * incremental cost is O(batch): the batch side computes signatures
    * and bands in one pass; the index side is a stored equi-join
    * target (ids + band keys only, no text, no bucket-stat rescan).
    * The batch's signature width and banding come FROM the index, so
    * the two sides cannot silently diverge.
    */
  def dedupAgainstIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: SignatureIndex,
      threshold: Double = 0.5): DataFrame = {
    // refuse indexes persisted under the pre-r6 STRING (md5 hex) band
    // keys: the equi-join against today's md5Lower64 LONG keys would
    // cast-to-null, match nothing, and silently report every duplicate
    // as novel — the exact failure mode the parameter-carrying
    // SignatureIndex exists to prevent
    val bandType = index.bands.schema("band").dataType
    require(bandType == org.apache.spark.sql.types.LongType,
      s"signature index has $bandType band keys; band keys are md5Lower64 " +
        "longs since round 6 — rebuild the index with buildSignatureIndex")
    val newSigs = newDocs.select(
      col(idCol).as("_nid"),
      DedupExpressions.minhashSig(col(textCol), index.k, 3).as("_nsig"))
    val newBands = newSigs.select(col("_nid"), col("_nsig"),
      explode(lshBandKeys(col("_nsig"), index.nBands, index.rowsPerBand)).as("band"))
    val matches = newBands
      .join(index.bands.select(col("id").as("_cid"), col("band")), Seq("band"))
      .select("_nid", "_nsig", "_cid").dropDuplicates("_nid", "_cid")
      .join(index.sigs.select(col("id").as("_cid"), col("sig").as("_csig")), "_cid")
      .filter(DedupExpressions.sigMatchRatio(col("_nsig"), col("_csig")) >= threshold)
      .groupBy("_nid").agg(min(col("_cid")).as("dup_of"))
    newDocs.select(col(idCol))
      .join(matches.withColumnRenamed("_nid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_of"))
  }

  /** Cross-document duplicated-span detection: find word n-gram spans
    * that occur in ≥ `minDocs` distinct documents and report, per
    * document, how much of it is duplicated text — the
    * "train-data substring dedup" signal (long shared spans mark
    * boilerplate/mirrored content that repetition-sensitive training
    * wants removed) at n-gram rather than suffix-array granularity.
    *
    * Pipeline: one tokenize per document (posexplode — the generator
    * input is evaluated once per row) → n-gram strings rebuilt from
    * `n-1` window `lead`s over (doc, pos) → md5 hash per position →
    * doc-frequency per hash (one shuffle, map-side combined) → join
    * positions of duplicated hashes back (hash-key equi-join) →
    * collapse consecutive duplicated positions into maximal spans
    * (gaps-and-islands over one per-doc window).
    *
    * The window-lead formulation is deliberate: building positional
    * shingles as `transform(sequence(...), i -> array_join(slice(
    * toks, i, n)))` re-evaluates the embedded normalize/split regex
    * per POSITION in interpreted HOF eval (no CSE) — measured as a
    * >20-minute stall at 500k×43 positions where this shape takes
    * seconds. Docs shorter than `n` words contribute no positions.
    *
    * Scale: everything keys on the 8-byte hash or doc id — no
    * all-pairs stage at any point, so cost is linear in corpus token
    * count plus the (small) duplicated slice. Truly universal
    * boilerplate shingles make the df table itself skewed; AQE's
    * skew handling covers the join-back since each hash row is tiny.
    *
    * Returns `(idCol, n_dup_ngrams, n_spans, max_span_tokens)` for
    * documents containing at least one duplicated n-gram.
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(n >= 2, "span n-grams need n >= 2 (for unigram frequency use TextFunctions.corpusRarity)")
    // one-pass positional gram hashes (ShinglePosHashesExpr): the old
    // posexplode + Window.partitionBy(id) with n-1 lead()s shuffled and
    // sorted every token STRING just to reassemble adjacent grams —
    // a per-row kernel needs no shuffle at all, and only 8-byte hashes
    // enter the plan (80 s → window-free at 1M docs, see NOTES r5)
    val positioned = df.select(
      col(idCol).as("id"),
      posexplode(DedupExpressions.shinglePosHashes(col(textCol), n))
        .as(Seq("pos", "h")))
    val dup = positioned.groupBy("h")
      .agg(countDistinct(col("id")).as("_df"))
      .filter(col("_df") >= minDocs)
      .select("h")
    val dupPos = positioned.join(dup, Seq("h"), "left_semi")
    val islands = dupPos.withColumn(
      "grp",
      col("pos") - row_number().over(
        Window.partitionBy("id").orderBy("pos")))
    val spans = islands.groupBy("id", "grp")
      .agg(count(lit(1)).as("span_ngrams"))
    spans.groupBy("id")
      .agg(
        sum(col("span_ngrams")).as("n_dup_ngrams"),
        count(lit(1)).as("n_spans"),
        (max(col("span_ngrams")) + lit(n.toLong - 1)).as("max_span_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /** Exact-substring dedup at n-gram granularity (the REMOVAL
    * complement of [[duplicatedSpans]], in the spirit of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better"): every token covered by an n-gram occurring in >=
    * `minDocs` distinct documents is cut from the NORMALIZED token
    * stream of every document (all occurrences — span identity across
    * documents makes a "keep one copy" choice ill-defined once spans
    * overlap; callers wanting first-copy semantics at line granularity
    * use [[Curation.dedupLines]]).
    *
    * Scale shape: the gram→doc-frequency aggregation and the
    * duplicated-position semi-join shuffle 8-byte hashes (one
    * [[ShinglePosHashesExpr]] scan pass, no gram text anywhere); the
    * covered-token explode is bounded by n × duplicated-gram
    * positions — proportional to the duplicated slice, not the
    * corpus. Per-doc drop lists are bounded by the doc's own token
    * count; duplicate drop positions are collapsed by the rebuild
    * kernel itself ([[DropLinesExpr]] ignores repeats), so no
    * wide `distinct` is needed. The rebuild runs scan-side over the
    * space→newline translated normalized text.
    *
    * Returns one row per input row:
    * `(idCol, n_tokens, n_removed_tokens, clean_text)` where
    * `clean_text` is normalized-token text (lowercased, punctuation
    * stripped) minus the duplicated spans.
    *
    * NB: runs one small EAGER job up front (id-column-pruned
    * uniqueness probe) to pick the one-shuffle doc-frequency plan when
    * ids are unique — the same documented trade as knnJoin's auto band
    * sizing; duplicated ids fall back to the exact countDistinct.
    */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(n >= 2, "span n-grams need n >= 2")
    require(minDocs >= 2, "minDocs < 2 would remove every position")
    val positioned = df.select(
      col(idCol).as("_rs_id"),
      posexplode(DedupExpressions.shinglePosHashes(col(textCol), n))
        .as(Seq("_rs_pos", "_rs_h")))
    // doc frequency over per-doc DISTINCT positional hashes:
    // array_distinct stays scan-side (no ShingleSetExpr whole-text
    // fallback rows for sub-n docs — those can never match a
    // positional gram). The >= minDocs contract needs DISTINCT ids
    // per hash — a plain count would reach minDocs from ONE
    // duplicated input id and wipe that doc's text — but the exact
    // countDistinct pays a second (hash, id) shuffle (~2x this
    // stage). So probe id uniqueness first (an id-column-pruned scan
    // + tiny aggregation, the same documented eager-action trade as
    // knnJoin's auto band sizing): unique ids (the normal case) take
    // the one-shuffle map-side-combined count, duplicated ids fall
    // back to the exact distinct aggregation.
    val perDocDistinct = df
      .select(col(idCol).as("_rs_id"),
        explode(array_distinct(
          DedupExpressions.shinglePosHashes(col(textCol), n))).as("_rs_h"))
    val idsUnique = df.groupBy(col(idCol)).agg(count(lit(1)).as("_rs_c"))
      .filter(col("_rs_c") > 1).isEmpty
    val dup = (if (idsUnique)
        perDocDistinct.groupBy("_rs_h").agg(count(lit(1)).as("_rs_df"))
      else
        perDocDistinct.groupBy("_rs_h")
          .agg(countDistinct(col("_rs_id")).as("_rs_df")))
      .filter(col("_rs_df") >= minDocs)
      .select("_rs_h")
    val dropTok = positioned
      .join(dup, Seq("_rs_h"), "left_semi")
      .select(col("_rs_id"),
        explode(sequence(col("_rs_pos"), col("_rs_pos") + lit(n - 1))).as("_rs_tp"))
      .groupBy(col("_rs_id"))
      .agg(array_distinct(sort_array(collect_list(col("_rs_tp").cast("int"))))
        .as("_rs_drop"))
    // the normalize-regex chain and the rebuild kernel are each
    // materialized in their OWN projection before fan-out: referencing
    // the struct fields straight off a single select re-evaluates the
    // whole regex+kernel chain once per referenced field
    // (CollapseProject duplicates them) — measured 83 s of the
    // operator's 1M-doc wall in exactly that shape
    val withNorm = df.select(col(idCol),
      translate(TextFunctions.normalizeText(coalesce(col(textCol), lit(""))),
        " ", "\n").as("_rs_norm"))
    withNorm
      .join(dropTok.withColumnRenamed("_rs_id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("_rs_norm"),
        DedupExpressions.dropLines(col("_rs_norm"),
          coalesce(col("_rs_drop"), array().cast("array<int>"))).as("_rs_r"))
      .select(col(idCol),
        // an empty normalized text is 0 tokens, not DropLinesExpr's
        // one empty line
        when(col("_rs_norm") === "", lit(0L))
          .otherwise(col("_rs_r.n_lines")).as("n_tokens"),
        col("_rs_r.n_removed").as("n_removed_tokens"),
        translate(col("_rs_r.clean_text"), "\n", " ").as("clean_text"))
  }
}
