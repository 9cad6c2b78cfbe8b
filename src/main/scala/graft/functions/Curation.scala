package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data curation operators: deterministic splits, stratified
  * sampling, and token-budget sequence packing. Not in the reference
  * (its pipeline ends at warehouse storage); these are the steps
  * between a deduped corpus and a training run, designed so every
  * decision is a pure function of the data — rerunnable on any cluster
  * size with identical output, no RNG state to checkpoint.
  */
object Curation {

  /** Deterministic split assignment: `split` column in
    * `[0, weights.size)` with expected proportions `weights`
    * (normalized). The decision is `xxhash64(key, seed)` bucketed into
    * 1e6 slots — stable under repartitioning, adding rows never moves
    * an existing key between splits, and (unlike `randomSplit`) the
    * same key ALWAYS lands on the same side, so near-duplicate groups
    * keyed by their dedup-group id stay together: pass the group id
    * (e.g. from `Dedup.exactGroups` / LSH components) as `key` and
    * train/validation contamination through duplicates is impossible.
    */
  /** @param basis bucket-hash family: `"xxhash"` (default — Spark's
    *   codegen'd xxhash64, fastest) or `"md5"` (first 60 bits of
    *   md5(key:seed) via builtin `md5`/`conv` — a few× slower but
    *   bit-reproducible in any engine with md5, which is how the
    *   driver's DuckDB oracle verifies the split end-to-end; both
    *   bases share every other property)
    */
  /** Leakage-SAFE split: [[hashSplit]] keyed on each document's
    * near-duplicate GROUP, so near-copies can never straddle
    * train/eval (the classic silent eval-inflation bug — a paraphrase
    * of a training doc in the validation set). The group key is the
    * connected component's min id over the caller's near-dup pair
    * table ([[Dedup.connectedComponents]] — pairs from ANY of the
    * family's generators: minhash, simhash, n-gram Jaccard,
    * containment, embedding LSH); documents in no pair split by their
    * own id, bit-identically to plain [[hashSplit]]. Adding corpus
    * docs never reshuffles existing groups (stable, rerunnable).
    * Returns `df` + `(group, split)`.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weights: Seq[Double],
      seed: Long = 42L,
      basis: String = "xxhash"): DataFrame = {
    require(!df.columns.contains("group") && !df.columns.contains("split"),
      "input already has a group/split column")
    val comp = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", idCol)
    val grouped = df
      .join(comp, Seq(idCol), "left")
      .withColumn("group", coalesce(col("component"), col(idCol)))
      .drop("component")
    hashSplit(grouped, col("group"), weights, seed, basis)
  }

  def hashSplit(
      df: DataFrame,
      key: Column,
      weights: Seq[Double],
      seed: Long = 42L,
      basis: String = "xxhash"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
    val total = weights.sum
    val slots = 1000000L
    val bounds = weights.scanLeft(0.0)(_ + _ / total).tail // cumulative upper bounds
      .map(f => (f * slots).toLong)
    val bucket = bucketOf(key, seed, slots, basis)
    val assign = bounds.zipWithIndex.reverse.foldLeft(lit(weights.size - 1)) {
      case (acc, (hi, i)) => when(bucket < lit(hi), lit(i)).otherwise(acc)
    }
    df.withColumn("split", assign.cast("int"))
  }

  /** Deterministic stratified sample: keep ~`fraction(stratum)` of rows
    * per stratum, decided by `xxhash64(key, seed)` — the distributed,
    * rerunnable version of `sampleBy` (no per-partition RNG, so the
    * sample is identical on 1 or 1000 executors and is itself
    * hash-splittable downstream).
    *
    * Default seeds are DOMAIN-SEPARATED across the curation operators
    * (hashSplit 42, stratifiedSample 1042, mixture 2042): reusing one
    * seed for sample-then-split would correlate the two decisions —
    * every surviving row of a `fraction < min(split weight)` sample
    * has a low bucket, so the downstream split's val/test sides come
    * out EMPTY. Keep seeds distinct whenever composing hash-decided
    * operators on the same key.
    */
  def stratifiedSample(
      df: DataFrame,
      stratum: Column,
      fractions: Map[String, Double],
      key: Column,
      seed: Long = 1042L,
      basis: String = "xxhash"): DataFrame = {
    val slots = 1000000L
    val bucket = bucketOf(key, seed, slots, basis)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (s, f)) =>
      when(stratum === lit(s), bucket < lit((f * slots).toLong)).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Shared split/sample bucket hash — `"xxhash"` (codegen'd, default)
    * or `"md5"` (oracle-replicable; see [[hashSplit]]'s basis doc).
    */
  private def bucketOf(key: Column, seed: Long, slots: Long, basis: String): Column =
    basis match {
      case "md5" =>
        conv(substring(md5(concat(key.cast("string"), lit(s":$seed"))), 1, 15), 16, 10)
          .cast("long") % lit(slots)
      case _ => pmod(xxhash64(key, lit(seed)), lit(slots))
    }

  /** Benchmark-contamination detection (the GPT-3/Gopher n-gram
    * overlap check): corpus documents sharing at least `minOverlap`
    * distinct word `n`-grams with any eval-set document. The eval set
    * is small by construction → broadcast; the join key is the
    * shingle, so cost is bounded by shingle collisions across
    * corpus×eval — never corpus². Returns
    * `(corpus_id, eval_id, n_shared)`; feed the corpus ids to an
    * anti-join to quarantine contaminated documents before training.
    */
  def contamination(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      n: Int = 5,
      minOverlap: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // shingle identity = signed-64 md5 (one-pass ShingleSetExpr on both
    // sides): the corpus-side scan emits 8-byte keys straight into the
    // broadcast join — no interpreted normalize/HOF chain, no shingle
    // strings in flight
    val c = corpus.select(
      col(idCol).as("corpus_id"),
      explode(DedupExpressions.shingleSet(col(textCol), n)).as("sh"))
    val e = eval.select(
      col(evalIdCol).as("eval_id"),
      explode(DedupExpressions.shingleSet(col(evalTextCol), n)).as("sh"))
    c.join(broadcast(e), "sh")
      .groupBy("corpus_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** EMBEDDING-space benchmark contamination — the semantic sibling
    * of [[contamination]]: n-gram overlap misses paraphrases and
    * translations, so decontamination reports also screen by
    * embedding distance (the SemDeDup-style check). Flags corpus rows
    * whose embedding sits within `maxDist` (exact integer quantized
    * squared L2 — the int_l2 kernel, bit-replayable by the oracle) of
    * ANY eval-set embedding. The eval set is small by construction →
    * broadcast along ONE corpus scan (BroadcastNestedLoopJoin, no
    * shuffle, no top-k — a range screen, not a kNN); cost =
    * |corpus| · |eval| codegen kernel evaluations, linear in the
    * corpus. For a COSINE threshold, [[Similarity.l2Normalize]] both
    * sides at ingest and use `maxDist ≈ (2 − 2·cosMin)·(127/scale)²`
    * (unit vectors: ||a−b||² = 2 − 2·cos). Null embeddings on either
    * side are dropped (the family convention). Returns
    * `(corpus_id, eval_id, exact_dist)` per contaminated pair;
    * anti-join the corpus ids to quarantine before training.
    */
  def semanticContamination(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      eval: DataFrame,
      evalIdCol: String,
      evalVecCol: String,
      scale: Double,
      maxDist: Long): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    import org.apache.spark.sql.functions.broadcast
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"),
        Similarity.kmeansQuantize(col(vecCol), scale).as("_cq"))
    val e = eval.filter(col(evalVecCol).isNotNull)
      .select(col(evalIdCol).as("eval_id"),
        Similarity.kmeansQuantize(col(evalVecCol), scale).as("_eq"))
    c.crossJoin(broadcast(e))
      .select(col("corpus_id"), col("eval_id"),
        DedupExpressions.intL2(col("_cq"), col("_eq"),
          "semantic contamination").as("exact_dist"))
      .filter(col("exact_dist") <= maxDist)
  }

  /** Stateless COLUMN form of [[semanticContamination]] — the
    * streaming / map-side screen: with the eval set quantized on the
    * driver (bounded by the eval-is-small contract;
    * [[Similarity.quantizeQueryVec]]), emits
    * `(nearest eval INDEX, exact integer L2 to it)` per row through
    * two codegen kernels — argmin over the eval table
    * (`kmeans_assign`, ties to the lower index) plus one `int_l2`
    * recompute — no join, no state, so a streamed screen IS the
    * batch screen row for row. The index is the position in `evalQ`;
    * callers map it back to eval ids. Null vectors ride through as
    * null (the family convention — filter or assert first).
    */
  def semanticScreenCols(
      vec: Column,
      scale: Double,
      evalQ: Array[Array[Long]]): (Column, Column) = {
    require(evalQ.nonEmpty, "empty eval set")
    require(evalQ.forall(_.length == evalQ(0).length),
      "eval vectors must share one dimension")
    val q = Similarity.kmeansQuantize(vec, scale)
    val idx = DedupExpressions.kmeansAssign(q, evalQ)
    val dist = DedupExpressions.intL2(q,
      element_at(typedLit(evalQ.map(_.toSeq).toSeq), idx + lit(1)),
      "semantic screen")
    (idx, dist)
  }

  /** Deterministic uniform sample: the `k` rows with the smallest
    * md5-derived priority (per stratum when `strata` is given) — a
    * mergeable bottom-k sketch, i.e. distributed reservoir sampling
    * with NO RNG state: identical rows on any cluster size, any run,
    * and replicable by any engine with md5. Global sampling uses
    * sort+limit (TakeOrdered: per-partition heaps, driver merge);
    * stratified sampling is one window shuffle on the strata.
    */
  def bottomKSample(
      df: DataFrame,
      key: Column,
      k: Int,
      strata: Seq[String] = Nil,
      seed: Long = 42L): DataFrame = {
    val priority = conv(
      substring(md5(concat(key.cast("string"), lit(s":$seed"))), 1, 15), 16, 10)
      .cast("long")
    if (strata.isEmpty) {
      df.withColumn("__pri", priority)
        .orderBy(col("__pri"), key)
        .limit(k)
        .drop("__pri")
    } else {
      val w = Window.partitionBy(strata.map(col): _*).orderBy(priority, key)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .drop("__rn")
    }
  }

  /** WEIGHTED deterministic sample without replacement — the
    * importance-proportional subsampler a mixture recipe needs when
    * documents should enter the corpus with probability proportional
    * to an integer weight (length, quality score, domain multiplier).
    * Efraimidis & Spirakis 2006 ("Weighted random sampling with a
    * reservoir"): keep the k items with the largest `u^(1/w)`,
    * equivalently the SMALLEST `-ln(u)/w` — computed here as exact
    * integers so the sample is engine-replayable like
    * [[bottomKSample]]:
    *
    * {{{ wkey = round(ln(2^60 / (pri + 1)) · 1e9) div w }}}
    *
    * where `pri ∈ [0, 2^60)` is the md5-derived 15-hex-digit priority
    * (so `(pri+1)/2^60` is the uniform variate, the ln argument is a
    * ratio of exact integers — the family determinism recipe — and
    * the division by the weight is truncating integer div). Larger
    * weights shrink the key ⇒ enter the bottom-k more often; the
    * inclusion probabilities converge to A-ES's up to the 1e-9
    * rounding. Same shapes as the uniform form: global = sort+limit
    * (TakeOrdered per-partition heaps), stratified = one window
    * shuffle. Weights must be >= 1 — checked in-plan, fails loud.
    */
  def weightedBottomKSample(
      df: DataFrame,
      key: Column,
      weight: Column,
      k: Int,
      strata: Seq[String] = Nil,
      seed: Long = 42L): DataFrame = {
    val pri = conv(
      substring(md5(concat(key.cast("string"), lit(s":$seed"))), 1, 15), 16, 10)
      .cast("long")
    val wChecked = when(weight.isNull || weight.cast("long") < 1L,
        raise_error(lit("weightedBottomKSample: weights must be >= 1 and non-null"))
          .cast("long"))
      .otherwise(weight.cast("long"))
    val negLnNano = round(
      log(lit(1152921504606846976.0) / (pri + lit(1L)).cast("double")) * 1e9)
      .cast("long")
    // truncating integer division via `div` (`/` is a double divide)
    df.withColumn("__nl", negLnNano)
      .withColumn("__w", wChecked)
      .withColumn("__wk", expr("__nl div __w"))
      .transform { d =>
        if (strata.isEmpty) d.orderBy(col("__wk"), key).limit(k)
        else {
          val w = Window.partitionBy(strata.map(col): _*).orderBy(col("__wk"), key)
          d.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
            .drop("__rn")
        }
      }
      .drop("__nl", "__w", "__wk")
  }

  /** Per-domain document cap — the Common-Crawl-style anti-spam /
    * anti-SEO measure: no single site may contribute more than `cap`
    * documents to the corpus. Kept rows are the `cap` smallest md5
    * priorities per domain (same RNG-free reservoir semantics as
    * [[bottomKSample]]), so the survivors are a uniform deterministic
    * sample of the site, reproducible on any cluster size.
    *
    * Scale shape: the selection is `groupBy(domain).agg(bottom_k_by)`
    * — [[graft.functions.BottomKByExpr]] keeps at most `2·cap`
    * elements per aggregation buffer with map-side partial
    * aggregation, so a mega-domain (a billion-page site) costs each
    * map partition at most `2·cap` shuffle rows and can never OOM its
    * reducer, where the naive `row_number()` window would sort the
    * whole domain on one task. Kept ids then semi-join back (the keep
    * set is ≤ `cap·|domains|` rows of ids — AQE broadcasts it when
    * small). Two md5-64 lanes make the per-element sort key unique to
    * 2^-128; the priority lane is byte-replicable in the oracle as
    * `('0x' || substr(md5(id || ':seed'), 1, 15))::BIGINT`.
    */
  def capPerDomain(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      cap: Int,
      seed: Long = 42L): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val idStr = col(idCol).cast("string")
    val pri = conv(
      substring(md5(concat(idStr, lit(s":$seed"))), 1, 15), 16, 10).cast("long")
    val tie = DedupExpressions.md5Lower64(concat(idStr, lit(":tie")))
    val kept = df
      .select(col(domainCol).as("_cd_dom"),
        struct(pri.as("p"), tie.as("t"), col(idCol).as("id")).as("_cd_e"))
      .groupBy(col("_cd_dom"))
      .agg(DedupExpressions.bottomKBy(col("_cd_e"), cap).as("_cd_keep"))
      .select(col("_cd_dom"), explode(col("_cd_keep.id")).as("_cd_id"))
    df.join(kept,
      col(domainCol) === col("_cd_dom") && col(idCol) === col("_cd_id"),
      "left_semi")
  }

  /** Domain allow/block filter with public-suffix semantics — the
    * UT1-blocklist-style screen: a listed domain matches itself AND
    * every subdomain (`example.org` blocks `a.b.example.org`), which
    * plain `isin` gets wrong and `endswith` gets wrong differently
    * (`notexample.org` must NOT match `example.org`). Each host
    * expands to its dot-suffix chain (`a.b.c` → `[a.b.c, b.c, c]` —
    * bounded by label count, not corpus size) and matches via
    * `arrays_overlap` against the literal list: a pure projection,
    * zero shuffles, composable with scan pushdown. The list ships in
    * the task closure — fine to ~100k entries; for a list that is
    * itself a distributed table, explode the same chain and
    * anti/semi-join on equality instead (the chain explode keeps it
    * an equi-join — never a regex/LIKE join).
    *
    * `block = true` (default) keeps NON-matching rows; `block =
    * false` inverts to an allowlist. Null/empty hosts match nothing:
    * they are kept under block mode and dropped under allow mode.
    */
  def filterByDomains(
      df: DataFrame,
      domainCol: String,
      domains: Seq[String],
      block: Boolean = true): DataFrame = {
    require(domains.nonEmpty, "domains must not be empty")
    val host = coalesce(col(domainCol), lit(""))
    val parts = split(host, "\\.")
    // bounded HOF: the lambda re-evaluates `split` per element, but a
    // host has ~2-6 labels — corpus-size-independent, not a kernel case
    val chain = transform(
      sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts) - i + 1), "."))
    val matched = arrays_overlap(chain, lit(domains.toArray))
    if (block) df.filter(!matched) else df.filter(matched)
  }

  /** Deterministic corpus mixture: build a training mix from several
    * sources at given sampling rates (e.g. web 0.6 @ 30%, code 1.0,
    * wiki 2 epochs ⇒ rate 2.0 = keep + duplicate). Rates > 1 emit
    * floor(rate) full copies (tagged `mix_epoch`) plus a hash-sampled
    * remainder — all decisions from `xxhash64(key, seed)`, so the mix
    * is reproducible row-for-row on any cluster. Adds `mix_source`.
    */
  def mixture(
      sources: Seq[(String, DataFrame, Double)],
      key: Column,
      seed: Long = 2042L,
      basis: String = "xxhash"): DataFrame = {
    require(sources.nonEmpty && sources.forall(_._3 > 0), "rates must be positive")
    val slots = 1000000L
    val parts = sources.flatMap { case (name, df, rate) =>
      val tagged = df.withColumn("mix_source", lit(name))
      val whole = (0 until rate.toInt).map(e => tagged.withColumn("mix_epoch", lit(e)))
      val fracRate = rate - rate.toInt
      val frac =
        if (fracRate > 0) {
          // fold the epoch index into the seed so each source's
          // fractional slice is an independent hash decision
          val bucket = bucketOf(key, seed + rate.toInt, slots, basis)
          Seq(tagged.filter(bucket < lit((fracRate * slots).toLong))
            .withColumn("mix_epoch", lit(rate.toInt)))
        } else Nil
      whole ++ frac
    }
    parts.reduce(_ unionByName _)
  }

  /** Temperature-flattened mixture over ONE corpus with a domain
    * column (the multilingual/source-balancing sampler: output domain
    * share ∝ `n_d^alpha`, so `alpha = 1` preserves the natural
    * distribution, `alpha → 0` flattens toward uniform, and the
    * usual `alpha = 0.5` sits between). Per-domain sampling rate
    * `rate_d = targetRows · n_d^alpha / Σ_e n_e^alpha / n_d`,
    * executed with [[mixture]]'s semantics inline: `floor(rate)` full
    * epochs plus a hash-thresholded fractional slice — RNG-free,
    * rerunnable, row-for-row identical on any cluster.
    *
    * Determinism across ENGINES (the oracle): `alpha` 1, 0.5, 0.25
    * use only IEEE-exact ops (identity / correctly-rounded `sqrt`);
    * each domain weight snaps to integer MICRO-units
    * (`round(w(n) * 1e6)` — exact on both engines for those alphas),
    * so the denominator is an ORDER-INDEPENDENT integer sum (exact in
    * DECIMAL(38,0) / HUGEINT, converted to double once), and every
    * per-domain rate is a fixed expression tree over per-domain
    * values — bit-identical on any partitioning and in the oracle.
    * Other `alpha` values go through `math.pow`, deterministic per
    * run but only approximately replicable elsewhere.
    *
    * Scale shape (r8, fully distributive — no driver collect at ANY
    * domain cardinality): per-domain counts are one map-side-combined
    * aggregate, the integer denominator is a 1-row broadcast, the
    * per-domain rate table joins back on the domain key (AQE
    * broadcasts it when small), and everything else is a projection +
    * explode. Adds `mix_epoch` (0-based copy index).
    */
  def mixtureByTemperature(
      df: DataFrame,
      domainCol: String,
      key: Column,
      targetRows: Long,
      alpha: Double = 0.5,
      seed: Long = 2042L,
      basis: String = "xxhash"): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val slots = 1000000L
    def w(n: Column): Column = alpha match {
      case 1.0 => n.cast("double")
      case 0.5 => sqrt(n.cast("double"))
      case 0.25 => sqrt(sqrt(n.cast("double")))
      case a => pow(n.cast("double"), lit(a))
    }
    // PINNED domain-bounded count table: it feeds BOTH the denominator
    // aggregate and the rate projection — lazy, each consumer would
    // re-run the corpus-wide groupBy (one extra full scan); pinned,
    // the corpus is counted once. Blocks are released via
    // Curation.unpin on the result (or linger vocab-sized).
    val (counts, countPins) = Pins.pin(df
      .groupBy(col(domainCol).cast("string").as("_mt_dom"))
      .agg(count(lit(1)).as("_mt_n"))
      // integer micro-unit weight: exact, order-independent summation
      .withColumn("_mt_wn", round(w(col("_mt_n")) * lit(1e6)).cast("long")))
    val den = counts.agg(
      sum(col("_mt_wn").cast(DecimalType(38, 0))).cast("double").as("_mt_den"))
    // rate tree mirrors the oracle op for op: targetRows*wn is an
    // EXACT long product (both <= 2^53 in any sane mixture), one
    // double conversion, two divisions
    val rate = (col("_mt_wn") * lit(targetRows)).cast("double") /
      col("_mt_den") / col("_mt_n").cast("double")
    val ratesDf = counts.crossJoin(broadcast(den))
      .select(col("_mt_dom"),
        rate.cast("long").as("_mt_epochs"),
        ((rate - rate.cast("long").cast("double")) * lit(slots))
          .cast("long").as("_mt_thr"))
    val bucket = bucketOf(key, seed, slots, basis)
    val total = col("_mt_epochs") +
      when(bucket < col("_mt_thr"), lit(1L)).otherwise(lit(0L))
    val out = df.join(ratesDf, col(domainCol).cast("string") === col("_mt_dom"))
      .withColumn("_mt_total", total)
      // null sequence when total == 0 — explode drops the row
      .withColumn("mix_epoch",
        explode(when(col("_mt_total") > 0, sequence(lit(0L), col("_mt_total") - 1))))
      .drop("_mt_dom", "_mt_epochs", "_mt_thr", "_mt_total")
    Pins.register(out, countPins)
    out
  }

  /** Token-budget sequence packing (LLM pretraining "sample packing"):
    * assign documents, in `orderBy` order, to consecutive packs of
    * ~`budget` tokens. `pack_id = floor(exclusive-prefix-sum / budget)`
    * — contiguous first-fit where a pack may overflow by at most one
    * document, in exchange for a formulation with no stateful scan
    * that is exactly reproducible in ANSI SQL (the gate oracle runs
    * the equivalent window in DuckDB).
    *
    * The global prefix sum is the scale hazard: `Window.orderBy(...)`
    * with no partition key funnels 100 TB through ONE task. Instead,
    * the classic two-phase formulation: range-repartition on the
    * order key, per-partition window cumsum (parallel), then add each
    * partition's exclusive offset — a ~numPartitions-row driver
    * scan-sum broadcast back as a literal map. Emits `pack_id`,
    * `pack_pos` (rank within pack), and `cum_tokens`.
    *
    * Always returns a MATERIALIZED result with the internal phase-1/2
    * cache already released — repeated packings in one session never
    * accumulate cached RDDs, and no public path leaks a pinned
    * full-corpus cache (a `materialize = false` escape hatch used to;
    * it's gone). For write-through pipelines that want the lazy plan
    * exactly once, use [[packSequencesRun]], which scopes the cache
    * to one action.
    */
  def packSequences(
      df: DataFrame,
      tokens: Column,
      budget: Long,
      orderBy: Seq[Column],
      numPartitions: Int = 0): DataFrame = {
    val (out, parted, partedPins) = packSequencesInternal(df, tokens, budget, orderBy, numPartitions)
    // pin the finished result (registered on it, for unpin and
    // releaseAllPins), then release the phase-1/2 pin
    val (pinned, pins) = Pins.pin(out)
    Pins.release(parted, partedPins)
    Pins.register(pinned, pins)
    pinned
  }

  /** Length-bucketed ("curriculum") packing: documents pack in
    * ascending token-count order (ties broken by `id`) instead of
    * corpus order, so each pack holds similar-length documents — the
    * common real-world packing mode that minimizes intra-batch padding
    * and gives a short-to-long curriculum. Identical two-phase
    * distributed prefix sum as [[packSequences]] (the range
    * repartition now ranges over (tokens, id), which also balances
    * skewed length distributions across partitions); only the pack
    * order differs.
    */
  def packSequencesByLength(
      df: DataFrame,
      tokens: Column,
      budget: Long,
      id: Column,
      numPartitions: Int = 0): DataFrame =
    packSequences(df, tokens, budget, orderBy = Seq(tokens, id),
      numPartitions)

  /** [[packSequences]] for write-through pipelines: runs `action` on
    * the LAZY packed plan and releases the internal phase-1/2 cache in
    * a `finally` — the only way to honor the cache-lifetime contract
    * without materializing the whole result first. Use this (not
    * `materialize = false`) when the next step is a single write.
    */
  def packSequencesRun[T](
      df: DataFrame,
      tokens: Column,
      budget: Long,
      orderBy: Seq[Column],
      numPartitions: Int = 0)(action: DataFrame => T): T = {
    val (out, parted, partedPins) = packSequencesInternal(df, tokens, budget, orderBy, numPartitions)
    try action(out)
    finally Pins.release(parted, partedPins)
  }

  /** Overlapping-window document chunking (the context-window prep
    * step for training/RAG): word tokens per doc are cut into chunks
    * of `maxTokens` with `overlap` tokens shared between consecutive
    * chunks. Returns one row per chunk: `(idCol, chunk_idx,
    * start_tok, end_tok, n_tokens, chunk_text)`.
    *
    * Shape: one tokenize per doc (posexplode), chunk membership as
    * integer arithmetic per token (a token belongs to ≤
    * ⌈maxTokens/stride⌉ chunks — exploded via a tiny sequence, never
    * a per-position HOF over the full doc), then one shuffle on
    * (doc, chunk) to reassemble chunk text in token order. Every
    * boundary decision is integer-exact and engine-replicable; all
    * divisions run on non-negative operands so truncating and
    * flooring division agree.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int = 512,
      overlap: Int = 64): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, "need 0 <= overlap < maxTokens")
    // chunking is a per-DOCUMENT computation: the one-pass ChunkDocsExpr
    // kernel replaces the posexplode + per-doc count window + chunk-
    // membership explode + (doc, chunk) reassembly groupBy — TWO
    // corpus-wide shuffles of every token string — with a scan-side
    // projection + posexplode. Zero exchanges; composes with pushdown.
    df.select(
        col(idCol),
        explode(DedupExpressions.chunkDocs(col(textCol), maxTokens, overlap))
          .as("_c"))
      .select(
        col(idCol),
        col("_c.chunk_idx").as("chunk_idx"),
        col("_c.start_tok").as("start_tok"),
        col("_c.end_tok").as("end_tok"),
        col("_c.n_tokens").as("n_tokens"),
        col("_c.chunk_text").as("chunk_text"))
  }

  /** Cluster-proportional downsampling: given a duplicate-group (or
    * cluster) assignment, keep `1 + floor(log2(group size))`
    * representatives per group — the standard compromise between
    * full dedup (keep 1) and no dedup (natural frequency still
    * carries signal). Selection is deterministic: members ranked by
    * md5 of their id (ties by id). The quota is computed
    * INTEGER-exactly as `length(bin(size))` — no float log2 to
    * diverge across engines. One shuffle on the group key.
    *
    * Returns the kept rows as `(idCol, groupCol, group_size, rk)`.
    */
  def downsampleGroups(
      df: DataFrame,
      idCol: String,
      groupCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol)
    val order = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.select(col(idCol), col(groupCol))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(order))
      .filter(col("rk") <= length(bin(col("group_size"))))
  }

  /** C4-style boilerplate line removal: a line (trimmed) that occurs
    * in >= `minDocs` DISTINCT documents — within the same `groupCols`
    * scope if given (the per-domain template case), else corpus-wide —
    * is removed from every document that contains it. Blank lines are
    * never counted as boilerplate (and are kept). Line order inside a
    * document is preserved; a document whose every line is boilerplate
    * survives with `clean_text = ""` so the caller decides whether to
    * drop it.
    *
    * Scale shape: NO shuffle ever carries line text. The exploded
    * occurrence table is projected to `(groupCols, line-md5, id, pos)`
    * before anything wide — the frequency aggregation, the
    * boiler-key semi-join, and the per-doc drop-list aggregation all
    * move ~45-byte rows (false merges need an md5 collision, ~2^-128
    * at any corpus size). The drop-list `collect_list` is keyed by
    * document and so bounded by a single doc's line count — a footer
    * shared by a billion docs adds one row per doc, never a hot key.
    * `clean_text` is then rebuilt SCAN-side: re-split the original
    * text and drop the flagged positions (an indexed `filter` over
    * the doc's own lines). The boiler-key set and the drop-list side
    * of the final join are tiny relative to the corpus (only keys
    * clearing `minDocs`, only docs with a hit), so AQE broadcasts
    * both at runtime; worst case they degrade to SMJs that still
    * shuffle doc text exactly once, at doc granularity. Measured in
    * the curation rehearsal at 1M docs: 1173 -> ~300 MB shuffle read,
    * 39 -> ~8 s vs the line-granularity join+regroup formulation.
    * The source is scanned and exploded twice (occurrences + final
    * rebuild) — persist the input upstream if the scan dominates.
    *
    * Rows with equal `idCol` are NOT merged (one output row per input
    * row; ids are assumed unique as everywhere in this module).
    *
    * Returns `(idCol, n_lines, n_removed, clean_text)`.
    */
  def removeBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 2,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would remove every non-blank line")
    val gcols = groupCols.map(col)
    // non-blank line occurrences; text dropped (16-byte binary md5
    // key) before any exchange
    val occ = df
      .select(
        (col(idCol).as("_bp_id") +: gcols) :+
          posexplode(split(coalesce(col(textCol), lit("")), "\n"))
            .as(Seq("_bp_pos", "_bp_line")): _*)
      .filter(trim(col("_bp_line")) =!= "")
      .select(
        (col("_bp_id") +: gcols) :+ col("_bp_pos") :+
          unhex(md5(trim(col("_bp_line")))).as("_bp_key"): _*)
    val joinKeys = groupCols :+ "_bp_key"
    val boilerKeys = occ
      .groupBy(joinKeys.map(col): _*)
      .agg(count_distinct(col("_bp_id")).as("_bp_docs"))
      .filter(col("_bp_docs") >= minDocs)
      .select(joinKeys.map(col): _*)
    // positions to drop, one bounded list per doc that has any hit
    val dropPos = occ
      .join(boilerKeys, joinKeys, "left_semi")
      .groupBy(col("_bp_id"))
      .agg(sort_array(collect_list(col("_bp_pos"))).as("_bp_drop"))
    df.select((col(idCol) +: gcols) :+ col(textCol): _*)
      .join(dropPos.withColumnRenamed("_bp_id", idCol), Seq(idCol), "left")
      .withColumn("_bp_r", DedupExpressions.dropLines(
        coalesce(col(textCol), lit("")),
        coalesce(col("_bp_drop"), array().cast("array<int>"))))
      .select(col(idCol),
        col("_bp_r.n_lines"), col("_bp_r.n_removed"), col("_bp_r.clean_text"))
  }

  /** RefinedWeb-style global line dedup: every repeated (trimmed,
    * non-blank) line keeps ONE occurrence corpus-wide — the one with
    * the smallest `(idCol, position)` — and every later occurrence is
    * removed from its document. Complements
    * [[removeBoilerplateLines]]: that operator removes ALL occurrences
    * of lines frequent across >= minDocs documents (template
    * boilerplate); this one keeps the first copy of ANY repeat,
    * including repeats inside a single document (copy-paste runs,
    * mirrored articles). Blank lines are never deduped; line order is
    * preserved.
    *
    * Scale shape mirrors [[removeBoilerplateLines]]: no shuffle
    * carries line text. Occurrences project to `(line-md5, id, pos)`
    * before anything wide; the global keeper per line key is a
    * map-side-combined `min(struct(id, pos))` — deliberately NOT a
    * `row_number` window, whose per-key sort would hand a
    * universally-shared line (every doc's footer) to one reducer as a
    * single hot partition. The keeper table (one 40-byte row per
    * distinct line) joins back on the 16-byte key, so hot keys fan
    * out against exactly one row; drop lists aggregate per DOC
    * (bounded by a doc's own line count); `clean_text` is rebuilt
    * scan-side by the one-pass [[DropLinesExpr]] kernel.
    *
    * Returns `(idCol, n_lines, n_removed, clean_text)`.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = df
      .select(col(idCol).as("_ld_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("_ld_pos", "_ld_line")))
      .filter(trim(col("_ld_line")) =!= "")
      .select(col("_ld_id"), col("_ld_pos"),
        unhex(md5(trim(col("_ld_line")))).as("_ld_key"))
    // singleton lines have nothing to drop; pruning them in the same
    // aggregation keeps the join-back side proportional to the
    // REPEATED slice of the corpus
    val keeper = occ
      .groupBy(col("_ld_key"))
      .agg(min(struct(col("_ld_id"), col("_ld_pos"))).as("_ld_keep"),
        count(lit(1)).as("_ld_n"))
      .filter(col("_ld_n") > 1)
      .select("_ld_key", "_ld_keep")
    val dropPos = occ
      .join(keeper, Seq("_ld_key"), "inner")
      .filter(col("_ld_id") =!= col("_ld_keep._ld_id") ||
        col("_ld_pos") =!= col("_ld_keep._ld_pos"))
      .groupBy(col("_ld_id"))
      .agg(sort_array(collect_list(col("_ld_pos"))).as("_ld_drop"))
    df.select(col(idCol), col(textCol))
      .join(dropPos.withColumnRenamed("_ld_id", idCol), Seq(idCol), "left")
      .withColumn("_ld_r", DedupExpressions.dropLines(
        coalesce(col(textCol), lit("")),
        coalesce(col("_ld_drop"), array().cast("array<int>"))))
      .select(col(idCol),
        col("_ld_r.n_lines"), col("_ld_r.n_removed"), col("_ld_r.clean_text"))
  }

  private def packSequencesInternal(
      df: DataFrame,
      tokens: Column,
      budget: Long,
      orderBy: Seq[Column],
      numPartitions: Int): (DataFrame, DataFrame, Set[Int]) = {
    require(budget > 0, "budget must be positive")
    val lazyParted =
      (if (numPartitions > 0) df.repartitionByRange(numPartitions, orderBy: _*)
       else df.repartitionByRange(orderBy: _*))
        .sortWithinPartitions(orderBy: _*)
        .withColumn("__pid", spark_partition_id())
        // null token counts pack as 0-width documents (getLong below
        // would NPE on null otherwise)
        .withColumn("__tok", coalesce(tokens.cast("long"), lit(0L)))
    // The pin is CORRECTNESS, not just perf: phase 2 must see the
    // exact partition boundaries phase 1 summed, and range
    // partitioning RE-SAMPLES boundaries on recompute — under a bare
    // cache(), losing an executor (its cached blocks + shuffle files)
    // would silently recompute phase 2 against DIFFERENT boundaries
    // than phase 1 counted: wrong answers, not a crash. A Pins pin is
    // a reliable checkpoint when a checkpoint dir is set (the cluster
    // contract: boundaries frozen in files, executor loss re-reads
    // them); the localCheckpoint fallback TRUNCATES lineage, so block
    // loss fails the job loudly instead of resampling. Ownership:
    // released by the public packSequences / packSequencesRun
    // wrappers — every public path.
    val (parted, partedPins) = Pins.pin(lazyParted)
    // phase 1: per-partition totals (numPartitions rows to the driver)
    val partials = parted.groupBy(col("__pid")).agg(sum(col("__tok")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = partials.keys.toSeq.sorted
    val offsets = pids.zip(pids.scanLeft(0L)((acc, p) => acc + partials(p)).init).toMap
    // phase 2: per-partition running sum seeded with the partition's
    // offset. NOT a Window.partitionBy("__pid"): Catalyst cannot see
    // that range partitions are pid-homogeneous and would hash-shuffle
    // the full data again — a sorted mapPartitions pass needs no
    // shuffle at all (rows are already in orderBy order per partition).
    val schemaOut = parted.schema
      .add("cum_tokens", org.apache.spark.sql.types.LongType)
      .add("pack_id", org.apache.spark.sql.types.LongType)
    val pidIdx = parted.schema.fieldIndex("__pid")
    val tokIdx = parted.schema.fieldIndex("__tok")
    val offsetsMap = offsets // immutable, ~numPartitions entries per task
    val withPack = parted.mapPartitions { it =>
      var run = Long.MinValue
      it.map { r =>
        if (run == Long.MinValue) run = offsetsMap.getOrElse(r.getInt(pidIdx), 0L)
        val tok = r.getLong(tokIdx)
        run += tok
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ run :+ ((run - tok) / budget))
      }
    }(org.apache.spark.sql.Encoders.row(schemaOut))
    val out = withPack
      .withColumn("pack_pos",
        row_number().over(Window.partitionBy(col("pack_id")).orderBy(orderBy: _*)).cast("long"))
      .drop("__pid", "__tok")
    (out, parted, partedPins)
  }

  /** Global 1-based rank over a TOTAL order, without the
    * single-partition window a naive `row_number() OVER (ORDER BY …)`
    * plans (Spark funnels the whole table through one task there —
    * the op that silently stops scaling first in a curation
    * pipeline). Same two-phase shape as [[packSequences]]:
    * range-partition on the order columns, per-partition counts to
    * the driver (numPartitions longs), then a sorted mapPartitions
    * running counter seeded with each partition's offset — no global
    * sort barrier beyond the range exchange itself.
    *
    * Curation uses: curriculum ordering (rank by a difficulty score),
    * exact top-percentile cuts, and score CALIBRATION across
    * different scorers via [[rankNormalize]]'s ECDF.
    *
    * `orderBy` must be a total order (include a unique id as the last
    * key — ties crossing a partition boundary would otherwise rank
    * arbitrarily). Nulls: Spark ranks null keys FIRST ascending;
    * DuckDB defaults to NULLS LAST — keep null keys out of oracle'd
    * orders. Result is pinned (reliable checkpoint when a dir is
    * set); the phase-1/2 cache is released before returning.
    */
  def rankBy(
      df: DataFrame,
      orderBy: Seq[Column],
      numPartitions: Int = 0): DataFrame =
    rankInternal(df, orderBy, numPartitions)._1

  /** [[rankBy]] plus the exact-integer ECDF: `pct_micro = rank · 1e6
    * div n` — the rank-transform normalization that makes scores from
    * different scorers comparable (both engines compute the division
    * identically on non-negative integers).
    */
  def rankNormalize(
      df: DataFrame,
      orderBy: Seq[Column],
      numPartitions: Int = 0): DataFrame = {
    val (ranked, n) = rankInternal(df, orderBy, numPartitions)
    require(n < 9000000000000L,
      s"rankNormalize: $n rows overflow the micro-ECDF multiply (rank * 1e6 < 2^63)")
    ranked.withColumn("pct_micro", expr(s"(rank * 1000000) div ${math.max(n, 1L)}L"))
  }

  /** Token-budget corpus selection — "the best slice of the corpus
    * that fits N training tokens", the data-budget allocation every
    * pretraining run starts with: rows in `orderBy` order are kept
    * while their cumulative `tokensCol` stays within `budget`
    * (inclusive; the boundary row that would overflow is excluded
    * deterministically). Exact GLOBAL prefix sums with NO
    * single-partition window — [[rankBy]]'s two-phase shape carrying
    * a token accumulator next to the row counter: range partition on
    * the order, per-partition (count, token-sum) to the driver,
    * offset-seeded running totals in sorted `mapPartitions`. Returns
    * the kept rows + `(rank, cum_tokens)`; `orderBy` must be total
    * (append the id) and `tokensCol` a non-negative LONG — negatives
    * and nulls fail loud, never a silently wrong budget.
    */
  def selectToBudget(
      df: DataFrame,
      orderBy: Seq[Column],
      tokensCol: String,
      budget: Long,
      numPartitions: Int = 0): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(df.schema(tokensCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"selectToBudget: $tokensCol must be LONG (cast upstream)")
    twoPhase(df, orderBy, numPartitions, Some(tokensCol),
      // filter BEFORE the result pin: only the kept slice
      // materializes — a small budget over a huge corpus must not
      // checkpoint the whole ranked table
      pre = _.filter(col("cum_tokens") <= budget))._1
  }

  private def rankInternal(
      df: DataFrame,
      orderBy: Seq[Column],
      numPartitions: Int): (DataFrame, Long) =
    twoPhase(df, orderBy, numPartitions, tokensCol = None, pre = identity)

  /** The ONE two-phase global-order engine behind [[rankBy]],
    * [[rankNormalize]] and [[selectToBudget]]: range partition on the
    * order, sort within partitions, per-partition (count[, token
    * sum]) to the driver, offset-seeded running totals in a sorted
    * `mapPartitions` — a global `rank` (and `cum_tokens` when
    * `tokensCol` is set) with NO single-partition window or sort at
    * any scale. `pre` transforms the counted frame before the result
    * pin (selectToBudget's budget filter — only the kept slice
    * materializes).
    *
    * Durability: phase 2 is only correct against the exact partition
    * boundaries phase 1 counted, and range partitioning RE-SAMPLES on
    * recompute — so the intermediate is [[Pins]]-frozen (reliable
    * checkpoint with a dir set, lineage-truncated localCheckpoint
    * otherwise), released in a finally so the loud data paths
    * (negative/NULL token counts, overflow) can't leak it.
    */
  private def twoPhase(
      df: DataFrame,
      orderBy: Seq[Column],
      numPartitions: Int,
      tokensCol: Option[String],
      pre: DataFrame => DataFrame): (DataFrame, Long) = {
    require(orderBy.nonEmpty, "need at least one order column")
    val clash = (Seq("__pid", "rank") ++ tokensCol.map(_ => "cum_tokens"))
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already has reserved output columns: ${clash.mkString(", ")}")
    val lazyParted =
      (if (numPartitions > 0) df.repartitionByRange(numPartitions, orderBy: _*)
       else df.repartitionByRange(orderBy: _*))
        .sortWithinPartitions(orderBy: _*)
        .withColumn("__pid", spark_partition_id())
    val (parted, partedPins) = Pins.pin(lazyParted)
    try {
      val aggs = count(lit(1)).as("c") +:
        tokensCol.map(t => sum(col(t)).as("t")).toSeq
      val partials = parted.groupBy(col("__pid"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          // a group row implies >= 1 input row, so a NULL sum means
          // every token in the partition was NULL — loud
          val toks = tokensCol.map { _ =>
            require(!r.isNullAt(2),
              s"NULL token count in partition ${r.getInt(0)}")
            r.getLong(2)
          }.getOrElse(0L)
          r.getInt(0) -> ((r.getLong(1), toks))
        }.toMap
      val pids = partials.keys.toSeq.sorted
      val rankOff = pids.zip(pids.scanLeft(0L)((a, p) =>
        a + partials(p)._1).init).toMap
      val tokOff = pids.zip(pids.scanLeft(0L)((a, p) =>
        Math.addExact(a, partials(p)._2)).init).toMap
      val total = partials.values.map(_._1).sum
      val withTokens = tokensCol.isDefined
      val schemaOut = {
        val base = parted.schema.add("rank", org.apache.spark.sql.types.LongType)
        if (withTokens) base.add("cum_tokens", org.apache.spark.sql.types.LongType)
        else base
      }
      val pidIdx = parted.schema.fieldIndex("__pid")
      val tokIdx = tokensCol.map(parted.schema.fieldIndex).getOrElse(-1)
      val ranked = parted.mapPartitions { it =>
        var rank = Long.MinValue
        var cum = 0L
        it.map { r =>
          if (rank == Long.MinValue) {
            rank = rankOff.getOrElse(r.getInt(pidIdx), 0L)
            cum = tokOff.getOrElse(r.getInt(pidIdx), 0L)
          }
          rank += 1L
          if (withTokens) {
            require(!r.isNullAt(tokIdx), "NULL token count — fill or filter upstream")
            val t = r.getLong(tokIdx)
            require(t >= 0, s"negative token count $t")
            cum = Math.addExact(cum, t)
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rank :+ cum)
          } else {
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rank)
          }
        }
      }(org.apache.spark.sql.Encoders.row(schemaOut))
        .drop("__pid")
      val (pinned, pins) = Pins.pin(pre(ranked))
      Pins.register(pinned, pins)
      (pinned, total)
    } finally Pins.release(parted, partedPins)
  }

  /** DSIR-style importance weights (Xie et al., NeurIPS 2023, "Data
    * Selection for Language Models via Importance Resampling"):
    * per-document log importance weight `log p_target(x) - log p_raw(x)`
    * under bag-of-hashed-ngram unigram+bigram language models. Every
    * feature hashes into a power-of-two bucket space (`md5Lower64 &
    * (buckets-1)` — a plain bit-mask, identical on signed Spark longs
    * and unsigned DuckDB md5 numbers), so BOTH language models are
    * bounded at `buckets` rows regardless of corpus size: the raw-LM
    * aggregation is one map-side-combined groupBy with ≤ `buckets`
    * output rows, the log-ratio table broadcasts, and scoring is a
    * broadcast-join + per-doc sum — the whole operator shuffles
    * nothing wider than `(doc id, partial sums)` at any corpus scale.
    * Add-1 smoothing keeps buckets unseen in either side finite.
    *
    * Weights are integer NANO-nats (`round(ln(ratio) * 1e9)` per
    * bucket, summed exactly as longs) — the same cross-engine
    * determinism recipe as `unigramSurprisal`.
    *
    * Execution (r8.2, superseding r7's pinned-explode shape and the
    * r8.1 pinned-result tightening): at the default 65536 buckets
    * both LMs fit a driver array by CONSTRUCTION (the whole point of
    * the bucket hash), so the scan path collects the two
    * vocab-bounded count tables, builds the dense log-ratio array
    * (8 B × buckets), and scores the corpus in ONE
    * [[graft.functions.ClassifierScoreExpr]] projection — two count
    * passes + one scoring pass total, no feature explode, no cached
    * blocks, no joins, and the per-doc aggregation shuffles exactly
    * `(id, n_feats, logw)` partial sums. The count collects make the
    * call eager on the LM side; the scoring frame stays lazy. Bucket
    * spaces above `scanMaxBuckets` use the distributed join path
    * (pinned feature explode + broadcast ratio table; the surviving
    * result pin is released with [[Curation.unpin]]). Duplicate ids
    * merge their features on both paths.
    *
    * Returns `(idCol, n_feats, logw_nano)` for every raw row
    * (feature-less docs get `n_feats = 0, logw_nano = 0`).
    */
  /** Unigram + bigram occurrence hashes, bucketed to `buckets` slots
    * (`& mask` of the signed md5-64 keeps the low bits — identical to
    * the oracle's unsigned `& mask`); n-grams shorter than the doc
    * yield their positional hashes, docs shorter than n contribute
    * nothing at that n (ShinglePosHashesExpr semantics). Shared
    * feature map of [[dsirWeights]] and [[trainTokenClassifier]] /
    * [[classifierScore]] — train and apply MUST hash identically.
    */
  private def ngramBuckets(
      df: DataFrame, t: String, id: Option[String], buckets: Int): DataFrame = {
    val mask = lit((buckets - 1).toLong)
    val h = explode(concat(
      DedupExpressions.shinglePosHashes(col(t), 1),
      DedupExpressions.shinglePosHashes(col(t), 2))).as("_h")
    val base = id match {
      case Some(i) => df.select(col(i).as("_id"), h)
      case None => df.select(h)
    }
    base.withColumn("_b", col("_h").bitwiseAND(mask)).drop("_h")
  }

  /** @param scanMaxBuckets bucket-space bound for the SCAN path: when
    *   `buckets <= scanMaxBuckets` (default 2^20 — an 8 MiB log-ratio
    *   array, same ship-with-the-plan contract as the classifier's
    *   512 KiB weights), both language models are collected to the
    *   driver as dense arrays and scoring is ONE
    *   [[graft.functions.ClassifierScoreExpr]] projection over the
    *   corpus (its kernel hashes exactly the `ngramBuckets`
    *   unigram+bigram features): two count passes + one scoring pass,
    *   no feature explode, no pinned blocks, no joins. Larger bucket
    *   spaces fall back to the distributed join path (pinned feature
    *   explode + broadcast ratio table — release with [[unpin]]).
    */
  def dsirWeights(
      raw: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      buckets: Int = 65536,
      scanMaxBuckets: Int = 1 << 20): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    if (buckets <= scanMaxBuckets) dsirWeightsScan(raw, idCol, textCol, target, targetTextCol, buckets)
    else dsirWeightsJoin(raw, idCol, textCol, target, targetTextCol, buckets)
  }

  /** Scan path: driver-held dense LMs + one kernel pass (see
    * [[dsirWeights]]'s scanMaxBuckets doc). The log-ratio arithmetic
    * replicates the join path's Catalyst expression op for op
    * (divisions in the same tree order, `java.lang.Math.log`,
    * HALF_UP rounding — Spark's `round` on doubles), so both paths
    * and the DuckDB oracle agree bit for bit.
    */
  /** Dense per-bucket feature counts in ONE pass with NO shuffle at
    * all: the unigram+bigram hash arrays stream out of the scan and
    * increment a per-partition long[buckets] accumulator that
    * treeAggregate merges (512 KiB at the default 2^16 buckets, 8 MiB
    * at the 2^20 scan ceiling — partition-local, never per-row). The
    * explode + groupBy formulation this replaces shuffled one row per
    * FEATURE OCCURRENCE (~10^8 rows at 1M docs; measured 17.7 s for
    * classifier training, ~5 s this way). Counts are identical
    * integers — same kernel, same `& mask` bucketing.
    */
  private def bucketCountsDense(
      df: DataFrame, t: String, buckets: Int): Array[Long] = {
    val mask = (buckets - 1).toLong
    val sel = df.select(concat(
      DedupExpressions.shinglePosHashes(col(t), 1),
      DedupExpressions.shinglePosHashes(col(t), 2)).as("_hs"))
    val agg = sel.queryExecution.toRdd.treeAggregate(null: Array[Long])(
      seqOp = (acc0, row) => {
        val acc = if (acc0 == null) new Array[Long](buckets) else acc0
        if (!row.isNullAt(0)) {
          val arr = row.getArray(0)
          val n = arr.numElements()
          var i = 0
          while (i < n) {
            acc((arr.getLong(i) & mask).toInt) += 1
            i += 1
          }
        }
        acc
      },
      combOp = (a, b) =>
        if (a == null) b
        else if (b == null) a
        else {
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        })
    if (agg == null) new Array[Long](buckets) else agg
  }

  private def dsirWeightsScan(
      raw: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      buckets: Int): DataFrame = {
    val cr = bucketCountsDense(raw, textCol, buckets)
    val ct = bucketCountsDense(target, targetTextCol, buckets)
    val tr = cr.sum
    val tt = ct.sum
    val lr = Array.tabulate(buckets) { b =>
      val ratio = ((ct(b) + 1L).toDouble / (tt + buckets.toLong).toDouble) /
        ((cr(b) + 1L).toDouble / (tr + buckets.toLong).toDouble)
      BigDecimal(math.log(ratio) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // one kernel projection; duplicate ids merge their features via
    // the sum — identical to the join path's explode + groupBy(_id)
    raw.select(col(idCol).as("_id"),
        DedupExpressions.classifierScoreScan(
          coalesce(col(textCol), lit("")), lr).as("_s"))
      .groupBy(col("_id"))
      .agg(sum(col("_s.n_feats")).as("n_feats"),
        sum(col("_s.logit_nano")).as("logw_nano"))
      .select(col("_id").as(idCol), col("n_feats"), col("logw_nano"))
  }

  /** Distributed join path for bucket spaces too large to hold as a
    * driver array (see [[dsirWeights]]).
    */
  private def dsirWeightsJoin(
      raw: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      buckets: Int): DataFrame = {
    // one tokenize+hash pass over each corpus; everything downstream
    // reads the pinned hash frames / count tables
    val (rawEx, rawExPins) = Pins.pin(ngramBuckets(raw, textCol, Some(idCol), buckets))
    val tgtEx = ngramBuckets(target, targetTextCol, None, buckets)
    val (rawCounts, rcPins) = Pins.pin(rawEx.groupBy("_b").agg(count(lit(1)).as("_cr")))
    val (tgtCounts, tcPins) = Pins.pin(tgtEx.groupBy("_b").agg(count(lit(1)).as("_ct")))
    val totals = rawCounts.agg(sum("_cr").as("_tr"))
      .crossJoin(tgtCounts.agg(sum("_ct").as("_tt")))
    // full bucket spine so buckets unseen on either side still get a
    // smoothed ratio; all tables here are <= `buckets` rows
    val lr = raw.sparkSession.range(buckets).select(col("id").as("_b"))
      .join(rawCounts, Seq("_b"), "left")
      .join(tgtCounts, Seq("_b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("_b"),
        round(log(
          ((coalesce(col("_ct"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("_tt"), lit(0L)) + lit(buckets.toLong)).cast("double")) /
          ((coalesce(col("_cr"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("_tr"), lit(0L)) + lit(buckets.toLong)).cast("double"))) * lit(1e9))
          .cast("long").as("_lr_nano"))
    val scored = rawEx.join(broadcast(lr), "_b")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("_lr_nano")).as("logw_nano"))
    val weights = raw.select(col(idCol).as("_id")).distinct()
      .join(scored, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw_nano"), lit(0L)).as("logw_nano"))
    // pin the compact result, then release the corpus-sized feature
    // explode and the count tables — the only blocks that survive the
    // call are 3 longs per doc, releasable via Curation.unpin
    val (out, outPins) = Pins.pin(weights)
    Pins.release(out, rawExPins ++ rcPins ++ tcPins)
    Pins.register(out, outPins)
    out
  }

  /** Release the cached blocks behind a frame returned by a pinning
    * operator ([[dsirWeights]], and the pinned variants in
    * TextFunctions/Dedup); no-op for any other frame. Call once the
    * result (or anything derived from it, e.g. [[dsirResample]]'s
    * selection) has been materialized/persisted.
    */
  def unpin(df: DataFrame): Unit = Pins.unpin(df)

  /** Release EVERY registered pin from any graft operator — the
    * session-hygiene backstop when per-result [[unpin]] calls were
    * skipped (e.g. a long-lived notebook session that ran many
    * dsirWeights/pageRank/containmentPairs calls). Only call between
    * pipelines: results whose pins are released must already be
    * materialized. Returns the number of cached RDDs released. See
    * [[Pins.releaseAll]] for the reliable-checkpoint caveat.
    */
  def releaseAllPins(spark: org.apache.spark.sql.SparkSession): Int =
    Pins.releaseAll(spark)

  /** DSIR selection: keep the `k` raw documents with the largest
    * Gumbel-perturbed importance weight — the Gumbel-max trick makes
    * top-k by `logw + Gumbel(0,1)` an exact sample WITHOUT replacement
    * from `softmax(logw)`, which is the paper's resampling step, but
    * with the noise derived deterministically from `md5Lower64("dsir:"
    * <seed> ":" <id>)` instead of RNG state: the selection is a pure
    * function of the data, rerunnable on any cluster size (same
    * design rule as [[hashSplit]]/[[mixture]]). `gumbel = false`
    * degrades to plain arg-top-k by weight (the paper's "top-k
    * heuristic" baseline). Ties break on id. The sort is a
    * `TakeOrderedAndProject` — per-partition top-k then a k-row
    * driver merge, never a global sort.
    *
    * Returns `(idCol, n_feats, logw_nano, key_nano)`, `key_nano`
    * descending.
    */
  def dsirResample(
      raw: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      k: Int,
      buckets: Int = 65536,
      gumbel: Boolean = true,
      seed: Long = 2042L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = dsirWeights(raw, idCol, textCol, target, targetTextCol, buckets)
    // u in (0,1): top 53 bits of the id hash, offset by 1/2 ulp so
    // neither log is ever passed 0 — bit-identical in DuckDB as
    // ((md5_number_lower(...) >> 11) + 0.5) / 9007199254740992.0
    val u = (shiftrightunsigned(
        graft.functions.DedupExpressions.md5Lower64(
          concat_ws(":", lit("dsir"), lit(seed), col(idCol).cast("string"))), 11)
        .cast("double") + lit(0.5)) / lit(9007199254740992.0)
    val key =
      if (gumbel) col("logw_nano") + round(-log(-log(u)) * lit(1e9)).cast("long")
      else col("logw_nano")
    w.withColumn("key_nano", key)
      .orderBy(col("key_nano").desc, col(idCol))
      .limit(k)
  }

  /** Train a fastText-style hashed linear quality classifier from
    * LABELED positive/negative corpora: per feature bucket, the
    * add-1-smoothed log-odds `ln(P(b|pos) / P(b|neg))` in integer
    * nano-nats — the exact Naive-Bayes weights a bag-of-ngrams
    * logistic model converges toward under class-balanced sampling,
    * computed in closed form (no SGD state, no iteration order, so
    * the "training" is deterministic on any cluster and replicable by
    * the oracle). This is the FineWeb-Edu / GPT-3-quality-filter
    * shape: label a small seed set (reference corpus vs crawl), train
    * token weights, score everything.
    *
    * Same algebra as [[dsirWeights]] with the two corpora made
    * explicit (target→pos, raw→neg) and the output decoupled from
    * scoring: the returned `(bucket, w_nano)` table is bounded at
    * `buckets` rows regardless of corpus size — persist it once,
    * apply it to any number of batches via [[classifierScore]]
    * (including as a stateless streaming stage: scoring is a
    * broadcast join + per-doc sum).
    */
  /** @param scanMaxBuckets bucket spaces up to this (default 2^20,
    *   an 8 MiB dense count array) train via TWO shuffle-free
    *   [[bucketCountsDense]] passes and build the weight table on the
    *   driver — 17.7 s → ~5 s at 1M docs vs the explode + groupBy
    *   shape, bit-identical weights (the log-ratio replicates the
    *   Catalyst expression op for op: double divisions in the same
    *   tree order, `Math.log`, HALF_UP rounding — the dsirWeightsScan
    *   recipe, already oracle-proven). Larger spaces keep the
    *   distributed join formulation.
    */
  def trainTokenClassifier(
      pos: DataFrame,
      posTextCol: String,
      neg: DataFrame,
      negTextCol: String,
      buckets: Int = 65536,
      scanMaxBuckets: Int = 1 << 20): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    if (buckets <= scanMaxBuckets) {
      val cp = bucketCountsDense(pos, posTextCol, buckets)
      val cn = bucketCountsDense(neg, negTextCol, buckets)
      val tp = cp.sum
      val tn = cn.sum
      val rows = (0 until buckets).map { b =>
        val ratio = ((cp(b) + 1L).toDouble / (tp + buckets.toLong).toDouble) /
          ((cn(b) + 1L).toDouble / (tn + buckets.toLong).toDouble)
        (b.toLong, BigDecimal(math.log(ratio) * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      val spark = pos.sparkSession
      import spark.implicits._
      rows.toDF("bucket", "w_nano")
    } else {
      val pC = ngramBuckets(pos, posTextCol, None, buckets)
        .groupBy("_b").agg(count(lit(1)).as("_cp"))
      val nC = ngramBuckets(neg, negTextCol, None, buckets)
        .groupBy("_b").agg(count(lit(1)).as("_cn"))
      val totals = pC.agg(sum("_cp").as("_tp"))
        .crossJoin(nC.agg(sum("_cn").as("_tn")))
      pos.sparkSession.range(buckets).select(col("id").as("bucket"))
        .join(pC.withColumnRenamed("_b", "bucket"), Seq("bucket"), "left")
        .join(nC.withColumnRenamed("_b", "bucket"), Seq("bucket"), "left")
        .crossJoin(broadcast(totals))
        .select(col("bucket"),
          round(log(
            ((coalesce(col("_cp"), lit(0L)) + lit(1L)).cast("double") /
              (coalesce(col("_tp"), lit(0L)) + lit(buckets.toLong)).cast("double")) /
            ((coalesce(col("_cn"), lit(0L)) + lit(1L)).cast("double") /
              (coalesce(col("_tn"), lit(0L)) + lit(buckets.toLong)).cast("double"))) * lit(1e9))
            .cast("long").as("w_nano"))
    }
  }

  /** Score a corpus under a [[trainTokenClassifier]] weight table and
    * flag keeps: per doc, `logit_nano = Σ w_nano(bucket(feature))`
    * summed exactly as longs, and `keep = n_feats > 0 &&
    * logit_nano >= thresholdNano · n_feats` — i.e. the MEAN per-
    * feature logit clears the threshold, compared in integers so the
    * decision (not just the score) is bit-replicable cross-engine.
    * Feature-less docs never pass (nothing to judge them on — the
    * rule filter owns empty-doc policy).
    *
    * Scale shape: one [[graft.functions.ShinglePosHashesExpr]] kernel
    * scan; the weight table broadcasts (≤ `buckets` rows); nothing
    * wider than `(id, partial sums)` shuffles; the input spine
    * left-joins scores back so every input row gets a verdict. The
    * weights argument is any `(bucket, w_nano)` table — reuse one
    * training run across batches/streams; `buckets` must match the
    * training call (checked against the weight table's row bound is
    * impossible lazily, so it is the caller's contract, stated here).
    */
  /** @param scanMaxBuckets like [[dsirWeights]]'s: when
    *   `buckets <= scanMaxBuckets` (default 2^20, an 8 MiB array) AND
    *   the weight table turns out to be the full power-of-two spine
    *   `trainTokenClassifier` emits, the weights are collected once
    *   and scoring is the join-free [[classifierScoreScan]] kernel
    *   followed by a `(id, 2 longs)` merge aggregation — measured
    *   18.1 s → ~5 s at 1M docs vs the feature-explode join. Bit-
    *   identical by construction: on a FULL spine the inner join
    *   drops nothing, and the post-scan groupBy reproduces the join
    *   path's duplicate-id merge. A partial/filtered weight table (or
    *   a larger bucket space) falls back to the join path, whose
    *   inner join IS the filter semantics. The scan path makes the
    *   call eager by one tiny job (the weights collect).
    */
  def classifierScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      thresholdNano: Long = 0L,
      buckets: Int = 65536,
      scanMaxBuckets: Int = 1 << 20): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    val dense: Option[Array[Long]] =
      if (buckets > scanMaxBuckets) None
      else {
        val rows = weights.select(col("bucket"), col("w_nano"))
          .orderBy("bucket").collect()
        if (rows.length == buckets &&
            rows.iterator.zipWithIndex.forall { case (r, i) => r.getLong(0) == i })
          Some(rows.map(_.getLong(1)))
        else None // partial spine: inner-join filter semantics intended
      }
    val verdict = (d: DataFrame) => d.withColumn("keep",
      col("n_feats") > 0 &&
        col("logit_nano") >= lit(thresholdNano) * col("n_feats"))
    dense match {
      case Some(w) =>
        verdict(df
          .select(col(idCol).as("_id"),
            DedupExpressions.classifierScoreScan(
              coalesce(col(textCol), lit("")), w).as("_cs"))
          .groupBy(col("_id"))
          .agg(sum(col("_cs.n_feats")).as("n_feats"),
            sum(col("_cs.logit_nano")).as("logit_nano"))
          .select(col("_id").as(idCol), col("n_feats"), col("logit_nano")))
      case None =>
        val scored = ngramBuckets(df, textCol, Some(idCol), buckets)
          .join(broadcast(weights.select(col("bucket").as("_b"), col("w_nano"))), "_b")
          .groupBy(col("_id"))
          .agg(count(lit(1)).as("n_feats"), sum(col("w_nano")).as("logit_nano"))
        verdict(df.select(col(idCol).as("_id")).distinct()
          .join(scored, Seq("_id"), "left")
          .select(col("_id").as(idCol),
            coalesce(col("n_feats"), lit(0L)).as("n_feats"),
            coalesce(col("logit_nano"), lit(0L)).as("logit_nano")))
    }
  }

  /** Collect a [[trainTokenClassifier]] weight table into the dense
    * bucket-indexed array [[classifierScoreScan]] ships with the task
    * closure (512 KiB at the default 65536 buckets — broadcast-sized
    * by construction, never corpus-sized).
    */
  def collectClassifierWeights(weights: DataFrame): Array[Long] = {
    val w = weights.orderBy("bucket").select("w_nano")
      .collect().map(_.getLong(0))
    require(w.length >= 2 && (w.length & (w.length - 1)) == 0,
      s"expected a full power-of-two bucket spine, got ${w.length} rows — " +
        "pass trainTokenClassifier's output unfiltered")
    w
  }

  /** Join-free [[classifierScore]] twin for a DRIVER-HELD weight
    * array: one [[graft.functions.ClassifierScoreExpr]] scan pass —
    * a pure projection, so it runs unchanged as a STATELESS streaming
    * stage (q_stream_classifier shares the batch gate's oracle).
    * Same verdict contract as [[classifierScore]].
    */
  def classifierScoreScan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: Array[Long],
      thresholdNano: Long = 0L): DataFrame =
    df.select(col(idCol),
        DedupExpressions.classifierScoreScan(
          coalesce(col(textCol), lit("")), weights).as("_cs"))
      .select(col(idCol),
        col("_cs.n_feats").as("n_feats"),
        col("_cs.logit_nano").as("logit_nano"))
      .withColumn("keep",
        col("n_feats") > 0 &&
          col("logit_nano") >= lit(thresholdNano) * col("n_feats"))
}
