package graft.functions

import graft.SparkSpec

import org.apache.spark.sql.functions._

class CurationContaminationSpec extends SparkSpec {
  import spark.implicits._

  test("contamination flags only docs overlapping the eval set") {
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("id", "text")
    val corpus = Seq(
      (1L, "prefix words the quick brown fox jumps over the lazy dog and more"),
      (2L, "completely unrelated text about spark catalyst plans and shuffles"),
      (3L, "quick brown fox alone")) // < n words of overlap at n=5
      .toDF("id", "text")
    val hits = Curation.contamination(corpus, "id", "text", eval, "id", "text",
        n = 5, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.map(h => (h._1, h._2)).toSeq == Seq((1L, 100L)))
    assert(hits.head._3 >= 2)
  }

  test("semanticContamination: exact L2 range screen vs driver reference, nulls dropped") {
    val rnd = new scala.util.Random(79)
    val base = (0 until 30).map { i =>
      (i.toLong, (0 until 8).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    // a paraphrase-shaped near-duplicate of eval vec 0: tiny jitter
    val near = (100L, base(0)._2.map(x => (x + 0.01f)))
    val corpus = (base.drop(2) :+ near).toDF("vec_id", "embedding")
      .union(Seq((101L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val eval = base.take(2).toDF("eid", "embedding")
    val all = (base :+ near).toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(all, "embedding")
    def quant(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 127.0 / scale + 0.5).toLong)
    def d(a: Seq[Float], b: Seq[Float]): Long =
      quant(a).zip(quant(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val maxDist = 500L
    val got = Curation.semanticContamination(corpus, "vec_id", "embedding",
        eval, "eid", "embedding", scale, maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (cid, cv) <- base.drop(2) :+ near
      (eid, ev) <- base.take(2)
      dist = d(cv, ev) if dist <= maxDist
    } yield (cid, eid, dist)).toSet
    assert(got == want, s"\n$got\nvs\n$want")
    assert(got.exists(_._1 == 100L), "the near-duplicate must be flagged")
    assert(!got.exists(_._1 == 101L), "null embeddings must be dropped")
  }

  test("semanticScreenCols: argmin + exact dist vs driver reference; null rides through") {
    val rnd = new scala.util.Random(83)
    val vecs = (0 until 20).map { i =>
      (i.toLong, (0 until 8).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
      .union(Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val evalQ = vecs.take(3)
      .map(v => Similarity.quantizeQueryVec(v._2, scale).toArray).toArray
    val (idx, dist) = Curation.semanticScreenCols(col("embedding"), scale, evalQ)
    val got = df.select(col("vec_id"), idx.as("i"), dist.as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getLong(2))))).toMap
    vecs.foreach { case (id, v) =>
      val q = Similarity.quantizeQueryVec(v, scale)
      val ds = evalQ.map(e => q.zip(e).map { case (a, b) => (a - b) * (a - b) }.sum)
      val best = ds.zipWithIndex.minBy { case (d, i) => (d, i) }
      assert(got(id).contains((best._2, best._1)), s"row $id")
    }
    assert(got(99L).isEmpty, "null vector must ride through as null")
    // the tie rule is a CONTRACT (oracle: ORDER BY dist, eval_id):
    // a duplicated eval vector ties exactly — the LOWER index must win
    val dupEval = Array(evalQ(1), evalQ(0), evalQ(1))
    val (ti, td) = Curation.semanticScreenCols(col("embedding"), scale, dupEval)
    val tie = vecs.take(5).toDF("vec_id", "embedding")
      .select(col("vec_id"), ti.as("i"), td.as("d"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    vecs.take(5).foreach { case (id, v) =>
      val q = Similarity.quantizeQueryVec(v, scale)
      val ds = dupEval.map(e => q.zip(e).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(tie(id) == ds.zipWithIndex.minBy { case (d, i) => (d, i) }.swap, s"row $id")
      if (ds(0) <= ds(1) && ds(0) <= ds(2))
        assert(tie(id)._1 == 0, s"row $id: index-2 duplicate beat index 0")
    }
    assert(tie(1L)._1 == 0 && tie(1L)._2 == 0L,
      "eval vec 1 duplicated at indices 0 and 2: the tie must resolve to 0")
  }

  test("bottomKSample is deterministic, size-bounded, and stratum-stable") {
    val df = spark.range(0, 500).select(
      col("id"), (col("id") % 4).cast("string").as("grp"))
    val s1 = Curation.bottomKSample(df, col("id"), k = 5, strata = Seq("grp"))
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted.toSeq
    val s2 = Curation.bottomKSample(df.repartition(13), col("id"), k = 5, strata = Seq("grp"))
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted.toSeq
    assert(s1 == s2)                      // partitioning-independent
    assert(s1.groupBy(_._1).forall(_._2.size == 5))
    // global variant: exact k, same rows regardless of layout
    val g1 = Curation.bottomKSample(df, col("id"), k = 7)
      .collect().map(_.getLong(0)).sorted.toSeq
    val g2 = Curation.bottomKSample(df.repartition(17), col("id"), k = 7)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(g1 == g2 && g1.size == 7)
  }
}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("chunkDocuments: overlapping windows with exact boundaries") {
    val docs = Seq(
      (1L, (0 until 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only two"))
      .toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, "doc_id", "text", maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 4L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 3L, 7L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 6L, 10L, 4L, "t6 t7 t8 t9"),
      (2L, 0L, 0L, 2L, 2L, "only two")))
  }

  test("downsampleGroups: 1+floor(log2(size)) deterministic reps per group") {
    val df = (1L to 5L).map(i => (i, "a")).++(Seq((10L, "b"))).toDF("id", "grp")
    val kept = Curation.downsampleGroups(df, "id", "grp").collect()
    val byGrp = kept.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byGrp == Map("a" -> 3, "b" -> 1)) // bin(5)='101' -> 3; bin(1)='1' -> 1
    // deterministic across runs
    val again = Curation.downsampleGroups(df, "id", "grp").collect()
    assert(kept.map(_.getLong(0)).sorted.toSeq == again.map(_.getLong(0)).sorted.toSeq)
  }

  test("hashSplit: deterministic, disjoint, ~proportional, group-stable") {
    val df = spark.range(20000).toDF("id")
      .withColumn("grp", col("id") % 1000) // 20 rows per group
    val a = Curation.hashSplit(df, col("grp"), Seq(0.8, 0.1, 0.1))
    val b = Curation.hashSplit(df, col("grp"), Seq(0.8, 0.1, 0.1))
    // deterministic across invocations
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // every group entirely on one side (no train/val contamination)
    assert(a.groupBy("grp").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count() == 0)
    // proportions within tolerance
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(math.abs(counts(0) / 20000.0 - 0.8) < 0.05, s"split 0: $counts")
    assert(math.abs(counts(1) / 20000.0 - 0.1) < 0.04, s"split 1: $counts")
    // different seed ⇒ different assignment
    val c = Curation.hashSplit(df, col("grp"), Seq(0.8, 0.1, 0.1), seed = 7L)
    assert(a.join(c.withColumnRenamed("split", "split2"), Seq("id", "grp"))
      .filter(col("split") =!= col("split2")).count() > 0)
  }

  test("selectToBudget == cumulative-window strawman; boundary doc excluded; loud paths") {
    val df = spark.range(5000).toDF("id")
      .withColumn("score", pmod(hash(col("id"), lit(3)), lit(1000)))
      .withColumn("toks", pmod(hash(col("id"), lit(9)), lit(97)).cast("long") + 1L)
    val budget = 40000L
    for (parts <- Seq(0, 1, 7)) {
      val got = Curation.selectToBudget(
          df, Seq(col("score").desc, col("id").asc), "toks", budget, parts)
        .select("id", "rank", "cum_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id").asc)
      val want = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_tokens", sum(col("toks")).over(
          w.rowsBetween(Long.MinValue, 0)))
        .filter(col("cum_tokens") <= budget)
        .select("id", "rank", "cum_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"parts=$parts diverged")
      // the boundary row (first over budget) is excluded, not clamped
      val maxCum = got.map(_._3).max
      assert(maxCum <= budget && got.size < 5000)
    }
    intercept[IllegalArgumentException] {
      Curation.selectToBudget(df, Seq(col("score")), "toks", -1L)
    }
    intercept[IllegalArgumentException] {
      Curation.selectToBudget(
        df.withColumn("toks", col("toks").cast("int")), Seq(col("score")), "toks", 10L)
    }
    val neg = df.withColumn("toks",
      when(col("id") === 17L, lit(-5L)).otherwise(col("toks")))
    val e = intercept[Exception] {
      Curation.selectToBudget(neg, Seq(col("score").desc, col("id")), "toks", 40000L).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("negative token count")))
  }

  test("leakageSafeSplit: near-dup components never straddle splits; singletons == hashSplit") {
    // docs 1-2-3 chained near-dups (one component, min id 1), 10-11 a
    // pair, 20/21/22 singletons
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Curation.leakageSafeSplit(docs, "doc_id", pairs, Seq(0.5, 0.5))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L && got(3L)._1 == 1L,
      s"chained component must share min-id group: $got")
    assert(got(1L)._2 == got(2L)._2 && got(2L)._2 == got(3L)._2,
      "component straddled splits")
    assert(got(10L)._2 == got(11L)._2, "pair straddled splits")
    // singletons: group = own id, split bit-identical to plain hashSplit
    val plain = Curation.hashSplit(
        Seq(20L, 21L, 22L).toDF("doc_id"), col("doc_id"), Seq(0.5, 0.5))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    Seq(20L, 21L, 22L).foreach { id =>
      assert(got(id)._1 == id && got(id)._2 == plain(id), s"singleton $id diverged")
    }
    intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(
        docs.withColumn("split", lit(0)), "doc_id", pairs, Seq(0.5, 0.5))
    }
  }

  test("stratifiedSample: per-stratum fractions, deterministic") {
    val df = spark.range(30000).toDF("id")
      .withColumn("lang", when(col("id") % 3 === 0, "en")
        .when(col("id") % 3 === 1, "de").otherwise("fr"))
    val s = Curation.stratifiedSample(
      df, col("lang"), Map("en" -> 0.5, "de" -> 0.1), col("id"))
    val counts = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("en") / 10000.0 - 0.5) < 0.05, s"en: $counts")
    assert(math.abs(counts("de") / 10000.0 - 0.1) < 0.04, s"de: $counts")
    assert(!counts.contains("fr"), "unlisted stratum must drop")
    assert(s.except(Curation.stratifiedSample(
      df, col("lang"), Map("en" -> 0.5, "de" -> 0.1), col("id"))).count() == 0)
  }

  test("mixture: epochs + fractional remainder, deterministic, tagged") {
    val web = spark.range(10000).toDF("id").withColumn("src", lit("w"))
    val code = spark.range(1000).toDF("id").withColumn("src", lit("c"))
    val mix = Curation.mixture(
      Seq(("web", web, 0.3), ("code", code, 2.5)), col("id"))
    val counts = mix.groupBy("mix_source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("web") / 10000.0 - 0.3) < 0.03, s"web: $counts")
    // 2 full epochs + ~0.5 sampled remainder
    assert(math.abs(counts("code") / 1000.0 - 2.5) < 0.1, s"code: $counts")
    assert(mix.filter(col("mix_source") === "code")
      .groupBy("mix_epoch").count().count() == 3)
    // reproducible
    val mix2 = Curation.mixture(
      Seq(("web", web, 0.3), ("code", code, 2.5)), col("id"))
    assert(mix.except(mix2).count() == 0 && mix2.except(mix).count() == 0)
  }

  test("keepBest picks highest score per group, id tiebreak") {
    val df = Seq(
      (1L, "g1", 0.5), (2L, "g1", 0.9), (3L, "g1", 0.9),
      (4L, "g2", 0.1)
    ).toDF("id", "grp", "score")
    val kept = Dedup.keepBest(df, Seq("grp"), "score", "id")
      .orderBy("grp").select("id").as[Long].collect().toSeq
    assert(kept == Seq(2L, 4L))
  }

  private def md5Pri(key: String, seed: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$key:$seed".getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  test("weightedBottomKSample: exact integer A-ES replay; weight bias; w<1 loud") {
    val rnd = new scala.util.Random(19)
    val rows = (1L to 200L).map(i => (i, 1L + rnd.nextInt(30).toLong))
    val df = rows.toDF("id", "w")
    val got = Curation.weightedBottomKSample(df, col("id"), col("w"), k = 25)
      .select("id").as[Long].collect().toSet
    val want = rows.map { case (id, w) =>
      val nl = math.round(math.log(1152921504606846976.0 / (md5Pri(id.toString, 42L) + 1)) * 1e9)
      (nl / w, id)
    }.sorted.take(25).map(_._2).toSet
    assert(got == want)

    // inclusion bias: item B carries 50x the weight of A -> across 60
    // seeds, k=1 must pick B the overwhelming majority of the time
    val two = Seq((1L, 1L), (2L, 50L)).toDF("id", "w")
    val picks = (1 to 60).map { s =>
      Curation.weightedBottomKSample(two, col("id"), col("w"), k = 1, seed = s.toLong)
        .select("id").as[Long].head()
    }
    assert(picks.count(_ == 2L) >= 48, s"heavy item picked ${picks.count(_ == 2L)}/60")

    val e = intercept[Exception] {
      Curation.weightedBottomKSample(
        Seq((1L, 0L)).toDF("id", "w"), col("id"), col("w"), k = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("weights must be >= 1")))
  }

  test("weightedBottomKSample stratified: per-stratum k, same key algebra") {
    val rows = (1L to 100L).map(i => (i, if (i <= 50) "a" else "b", 1L + i % 7))
    val got = Curation.weightedBottomKSample(
        rows.toDF("id", "g", "w"), col("id"), col("w"), k = 5, strata = Seq("g"))
      .select("g", "id").as[(String, Long)].collect().toSeq
    assert(got.count(_._1 == "a") == 5 && got.count(_._1 == "b") == 5)
    val wantA = rows.filter(_._2 == "a").map { case (id, _, w) =>
      val nl = math.round(math.log(1152921504606846976.0 / (md5Pri(id.toString, 42L) + 1)) * 1e9)
      (nl / w, id)
    }.sorted.take(5).map(_._2).toSet
    assert(got.filter(_._1 == "a").map(_._2).toSet == wantA)
  }

  test("rankBy: global rank equals a row_number over the total order at any partitioning") {
    val rnd = new scala.util.Random(31)
    val rows = (1L to 500L).map(i => (i, rnd.nextInt(40).toLong)) // heavy ties
    val df = rows.toDF("id", "score").repartition(7)
    val want = rows.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((id, _), i) => (id, i + 1L) }.toMap
    for (np <- Seq(0, 1, 3, 16)) {
      val got = Curation.rankBy(df, Seq(col("score"), col("id")), numPartitions = np)
        .select("id", "rank").as[(Long, Long)].collect().toMap
      assert(got == want, s"numPartitions=$np")
    }
  }

  test("rankNormalize: exact integer micro-ECDF; cache released; result pinned") {
    val df = (1L to 8L).toDF("id")
    spark.sharedState.cacheManager.clearCache()
    val got = Curation.rankNormalize(df, Seq(col("id")), numPartitions = 3)
      .select("id", "rank", "pct_micro").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == (1L to 8L).map(i => (i, i, i * 1000000L / 8L)))
    assert(spark.sharedState.cacheManager.isEmpty,
      "rankBy leaked its phase-1/2 cache")
  }

  test("packSequences: contiguous packs, bounded overflow, exact prefix sums") {
    val docs = Seq((1L, 300L), (2L, 500L), (3L, 400L), (4L, 900L),
      (5L, 100L), (6L, 250L), (7L, 800L))
      .toDF("doc_id", "n_tokens")
    val packed = Curation.packSequences(
        docs, col("n_tokens"), budget = 1000L, orderBy = Seq(col("doc_id")),
        numPartitions = 3)
      .orderBy("doc_id")
      .select("doc_id", "cum_tokens", "pack_id", "pack_pos")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // prefix sums: 300 800 1200 2100 2200 2450 3250
    assert(packed.map(_._2) == Seq(300L, 800L, 1200L, 2100L, 2200L, 2450L, 3250L))
    // pack = floor(exclusive-cum / 1000): 0 0 0 1 2 2 2
    assert(packed.map(_._3) == Seq(0L, 0L, 0L, 1L, 2L, 2L, 2L))
    assert(packed.map(_._4) == Seq(1L, 2L, 3L, 1L, 1L, 2L, 3L))
  }

  test("packSequences leaves no cached plan behind on any public path") {
    val docs = spark.range(500).toDF("doc_id").withColumn("n", lit(10L))
    spark.sharedState.cacheManager.clearCache()
    Curation.packSequences(docs, col("n"), 100L, Seq(col("doc_id")),
      numPartitions = 4).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "packSequences leaked its internal phase-1/2 cache")
    Curation.packSequencesRun(docs, col("n"), 100L, Seq(col("doc_id")),
      numPartitions = 4)(_.count())
    assert(spark.sharedState.cacheManager.isEmpty,
      "packSequencesRun leaked its internal phase-1/2 cache")
  }

  test("packSequences registers its result pin; releaseAllPins frees every cached RDD it made") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val packed = Curation.packSequences(
      spark.range(500).toDF("doc_id").withColumn("n", lit(10L)),
      col("n"), 100L, Seq(col("doc_id")), numPartitions = 4)
    assert(packed.count() == 500)
    assert(Pins.registered(packed).nonEmpty, "the result pin is not registered")
    Curation.releaseAllPins(spark)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"cached RDDs left after releaseAllPins: $left")
  }

  test("rankBy/packSequences freeze phase boundaries in checkpoint FILES " +
      "under a checkpoint dir; ranks survive total block loss") {
    // The cluster contract (VERDICT r9 #1): range partitioning
    // re-samples boundaries on recompute, so phase 2's offsets are
    // only valid against the exact partitions phase 1 counted. With a
    // checkpoint dir the intermediate pins RELIABLY — executor loss
    // re-reads files instead of silently resampling. This spec runs
    // both operators under a dir, then simulates total executor block
    // loss (unpersist every RDD) and re-reads the results: identical.
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    sc.setCheckpointDir(dir)
    try {
      val rnd = new scala.util.Random(77)
      val rows = (1L to 400L).map(i => (i, rnd.nextInt(25).toLong))
      val df = rows.toDF("id", "score").repartition(9)
      val want = rows.sortBy(r => (r._2, r._1)).zipWithIndex
        .map { case ((id, _), i) => (id, i + 1L) }.toMap
      def rddCheckpointDirs(): Int = {
        def walk(f: java.io.File): Int =
          (if (f.isDirectory && f.getName.startsWith("rdd-")) 1 else 0) +
            Option(f.listFiles()).toSeq.flatten.map(walk).sum
        walk(new java.io.File(new java.net.URI(sc.getCheckpointDir.get)))
      }
      val before = rddCheckpointDirs()
      val ranked = Curation.rankBy(df, Seq(col("score"), col("id")), numPartitions = 5)
      assert(ranked.select("id", "rank").as[(Long, Long)].collect().toMap == want)
      // the INTERMEDIATE (phase-boundary frame) and the result both
      // live as reliable-checkpoint FILES: >= 2 new rdd-* dirs
      assert(rddCheckpointDirs() - before >= 2,
        "rankBy under a checkpoint dir did not write reliable checkpoints " +
          "for both the boundary intermediate and the result")
      val packed = Curation.packSequences(
        df, col("score"), 50L, Seq(col("id")), numPartitions = 5)
      val packBefore = packed.select("id", "cum_tokens", "pack_id")
        .as[(Long, Long, Long)].collect().map { case (a, b, c) => a -> (b, c) }.toMap
      assert(rddCheckpointDirs() - before >= 4,
        "packSequences under a checkpoint dir did not write reliable " +
          "checkpoints for both the boundary intermediate and the result")
      // durability: unpersist the RESULT frames' own blocks (a no-op
      // in reliable mode — the data is files, not executor memory) and
      // re-read; identical answers prove nothing depends on
      // executor-resident state after the call returns
      Seq(ranked, packed).foreach(Pins.unpin)
      assert(ranked.select("id", "rank").as[(Long, Long)].collect().toMap == want,
        "ranks changed after block release — result not durably pinned")
      val packAfter = packed.select("id", "cum_tokens", "pack_id")
        .as[(Long, Long, Long)].collect().map { case (a, b, c) => a -> (b, c) }.toMap
      assert(packAfter == packBefore,
        "pack assignment changed after block release — boundaries not durably pinned")
    } finally {
      // restore the no-dir default for the other suites (the field is
      // private; reflection is the only unset path)
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("packSequences plan never funnels through a single partition") {
    val docs = spark.range(1000).toDF("doc_id").withColumn("n", lit(10L))
    val plan = Curation.packSequences(
        docs, col("n"), 100L, Seq(col("doc_id")), numPartitions = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global single-task stage in packing plan:\n$plan")
  }

  test("packSequencesByLength: ascending-length packs, multi == single partition") {
    val docs = spark.range(5000).toDF("doc_id")
      .withColumn("n_tokens", pmod(hash(col("doc_id")), lit(900)) + 100)
    val multi = Curation.packSequencesByLength(
      docs, col("n_tokens"), 4096L, col("doc_id"), numPartitions = 13)
    val single = Curation.packSequencesByLength(
      docs, col("n_tokens"), 4096L, col("doc_id"), numPartitions = 1)
    assert(multi.select("doc_id", "cum_tokens", "pack_id", "pack_pos")
      .except(single.select("doc_id", "cum_tokens", "pack_id", "pack_pos"))
      .count() == 0)
    // packs are filled in ascending token-count order: cum_tokens is
    // monotone in (n_tokens, doc_id) order
    val rows = multi.orderBy("n_tokens", "doc_id")
      .select("cum_tokens").as[Long].collect()
    assert(rows.toSeq == rows.sorted.toSeq)
    // each pack's min length >= the previous pack's max length can be
    // violated only at the single boundary doc; check pack ids are
    // nondecreasing in length order
    val packIds = multi.orderBy("n_tokens", "doc_id")
      .select("pack_id").as[Long].collect()
    assert(packIds.toSeq == packIds.sorted.toSeq)
  }

  test("packSequences matches single-partition formulation at scale factors") {
    val docs = spark.range(5000).toDF("doc_id")
      .withColumn("n_tokens", pmod(hash(col("doc_id")), lit(900)) + 100)
    val multi = Curation.packSequences(
      docs, col("n_tokens"), 4096L, Seq(col("doc_id")), numPartitions = 13)
    val single = Curation.packSequences(
      docs, col("n_tokens"), 4096L, Seq(col("doc_id")), numPartitions = 1)
    assert(multi.select("doc_id", "cum_tokens", "pack_id", "pack_pos")
      .except(single.select("doc_id", "cum_tokens", "pack_id", "pack_pos"))
      .count() == 0)
  }

  test("dsirWeights ranks target-domain docs above off-domain docs") {
    // raw = 20 "science" docs + 20 "spam" docs; target = 10 held-out
    // science docs. Science docs must score strictly higher.
    def doc(vocab: Seq[String], salt: Int): String =
      (0 until 30).map(i => vocab((i * 7 + salt * 13) % vocab.size)).mkString(" ")
    val sci = Seq("atom", "cell", "energy", "quantum", "gene", "orbit", "enzyme", "field")
    val spam = Seq("win", "free", "click", "now", "prize", "offer", "cash", "deal")
    val raw = ((0 until 20).map(i => (i.toLong, doc(sci, i))) ++
      (20 until 40).map(i => (i.toLong, doc(spam, i)))).toDF("id", "text")
    val target = (100 until 110).map(i => (i.toLong, doc(sci, i))).toDF("id", "text")
    val w = Curation.dsirWeights(raw, "id", "text", target, "text", buckets = 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val minSci = (0 until 20).map(i => w(i.toLong)).min
    val maxSpam = (20 until 40).map(i => w(i.toLong)).max
    assert(minSci > maxSpam,
      s"science floor $minSci should exceed spam ceiling $maxSpam")
    // every raw row present, even ones sharing no bucket with target
    assert(w.size == 40)
    intercept[IllegalArgumentException] {
      Curation.dsirWeights(raw, "id", "text", target, "text", buckets = 1000)
    }
  }

  test("dsirWeights scan path pins nothing and matches the join path bit for bit") {
    def doc(vocab: Seq[String], salt: Int): String =
      (0 until 30).map(i => vocab((i * 7 + salt * 13) % vocab.size)).mkString(" ")
    val sci = Seq("atom", "cell", "energy", "quantum", "gene", "orbit")
    val raw = (0 until 10).map(i => (i.toLong, doc(sci, i))).toDF("id", "text")
    val target = (100 until 105).map(i => (i.toLong, doc(sci, i))).toDF("id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // default = scan path: driver-held LMs, one kernel projection, no
    // cached blocks at all
    val w = Curation.dsirWeights(raw, "id", "text", target, "text", buckets = 4096)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "scan path must not leave cached blocks")
    val scanRows = w.orderBy("id").collect().map(_.toSeq).toSeq
    assert(scanRows.size == 10)
    // forced join path (scanMaxBuckets below buckets): carried-ADVICE
    // contract — exactly the compact result pin survives, unpin frees it
    val wj = Curation.dsirWeights(raw, "id", "text", target, "text",
      buckets = 4096, scanMaxBuckets = 2)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size == 1,
      s"exactly the result pin may survive the join path, got ${during.size}")
    // the two paths must agree bit for bit (same divisions, same log,
    // same HALF_UP rounding)
    assert(wj.orderBy("id").collect().map(_.toSeq).toSeq == scanRows)
    Curation.unpin(wj)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"unpin must release the result blocks: $after")
    Curation.unpin(wj) // idempotent no-op
  }

  test("dsirResample: deterministic Gumbel top-k, target-domain enriched") {
    def doc(vocab: Seq[String], salt: Int): String =
      (0 until 30).map(i => vocab((i * 7 + salt * 13) % vocab.size)).mkString(" ")
    val sci = Seq("atom", "cell", "energy", "quantum", "gene", "orbit", "enzyme", "field")
    val spam = Seq("win", "free", "click", "now", "prize", "offer", "cash", "deal")
    val raw = ((0 until 20).map(i => (i.toLong, doc(sci, i))) ++
      (20 until 40).map(i => (i.toLong, doc(spam, i)))).toDF("id", "text")
    val target = (100 until 110).map(i => (i.toLong, doc(sci, i))).toDF("id", "text")
    def run() = Curation.dsirResample(raw, "id", "text", target, "text", k = 10)
      .collect().map(_.getLong(0)).toSeq
    val first = run()
    assert(first == run(), "resample must be a pure function of the data")
    assert(first.size == 10)
    // with weights this separated the Gumbel noise cannot flip domains
    assert(first.forall(_ < 20L), s"selected off-domain ids: $first")
    // keys are sorted descending in the output
    val keys = Curation.dsirResample(raw, "id", "text", target, "text", k = 10)
      .collect().map(_.getLong(3)).toSeq
    assert(keys == keys.sortBy(-_))
  }
}

class DomainCurationSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("capPerDomain keeps exactly cap per hot domain, all of small ones, " +
      "and matches the row_number formulation under any partitioning") {
    // one mega-domain (500 rows), one at the cap, one under it
    val df = (0 until 500).map(i => (i.toLong, "hot.example.com")) ++
      (500 until 510).map(i => (i.toLong, "atcap.example.com")) ++
      (510 until 513).map(i => (i.toLong, "small.example.com"))
    val docs = df.toDF("id", "domain")
    val out = Curation.capPerDomain(docs, "id", "domain", cap = 10)
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted.toSeq
    assert(out.count(_._1 == "hot.example.com") == 10)
    assert(out.count(_._1 == "atcap.example.com") == 10)
    assert(out.count(_._1 == "small.example.com") == 3)
    // reference semantics: row_number over the identical priority
    val pri = conv(substring(md5(concat(col("id").cast("string"), lit(":42"))), 1, 15), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy(pri, col("id"))
    val ref = docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted.toSeq
    assert(out == ref)
    // partitioning-independent (partial-agg merge path exercised)
    val out13 = Curation.capPerDomain(docs.repartition(13), "id", "domain", cap = 10)
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted.toSeq
    assert(out13 == out)
  }

  test("capPerDomain plan: bounded aggregate, no window") {
    val docs = spark.range(100).select(col("id"), lit("d").as("domain"))
    val plan = Curation.capPerDomain(docs, "id", "domain", cap = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bottom_k_by"), plan)
    assert(!plan.contains("Window"), "cap must not sort whole domains on one task")
  }

  test("filterByDomains: suffix semantics, block and allow modes, null-safe") {
    val hosts = Seq(
      (1L, "a.b.example.org"),   // subdomain of listed -> match
      (2L, "example.org"),       // exact -> match
      (3L, "notexample.org"),    // suffix-of-string but not of DOMAIN -> no match
      (4L, "org"),               // bare public suffix, not listed -> no match
      (5L, "example.com"),       // unrelated
      (6L, null.asInstanceOf[String]))
      .toDF("id", "host")
    val list = Seq("example.org", "blocked.test")
    val blocked = Curation.filterByDomains(hosts, "host", list)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(blocked == Seq(3L, 4L, 5L, 6L))
    val allowed = Curation.filterByDomains(hosts, "host", list, block = false)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(allowed == Seq(1L, 2L))
  }

  test("bottomKBy aggregate: merge path equals global sort under skew") {
    val df = spark.range(0, 1000).repartition(17)
      .select((col("id") % 3).as("g"),
        struct(
          DedupExpressions.md5Lower64(col("id").cast("string")).as("p"),
          col("id").as("t"), col("id").as("id")).as("e"))
    val got = df.groupBy("g").agg(DedupExpressions.bottomKBy(col("e"), 4).as("keep"))
      .select(col("g"), explode(col("keep.id")).as("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val ref = spark.range(0, 1000)
      .select((col("id") % 3).as("g"), col("id"),
        DedupExpressions.md5Lower64(col("id").cast("string")).as("p"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("p"), col("id"))))
      .filter(col("rn") <= 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == ref)
  }
}

class ClassifierSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def doc(vocab: Seq[String], salt: Int): String =
    (0 until 30).map(i => vocab((i * 7 + salt * 13) % vocab.size)).mkString(" ")
  private val sci = Seq("atom", "cell", "energy", "quantum", "gene", "orbit", "enzyme", "field")
  private val spam = Seq("win", "free", "click", "now", "prize", "offer", "cash", "deal")

  test("trainTokenClassifier + classifierScore separate held-out domains; " +
      "empty docs never keep; deterministic under repartitioning") {
    val pos = (0 until 20).map(i => (i.toLong, doc(sci, i))).toDF("id", "text")
    val neg = (0 until 20).map(i => (i.toLong, doc(spam, i))).toDF("id", "text")
    val w = Curation.trainTokenClassifier(pos, "text", neg, "text", buckets = 4096)
    assert(w.count() == 4096)
    // held-out docs (salts the training never saw)
    val apply = ((100 until 110).map(i => (i.toLong, doc(sci, i))) ++
      (200 until 210).map(i => (i.toLong, doc(spam, i))) :+
      (300L, "")).toDF("id", "text")
    val out = Curation.classifierScore(apply, "id", "text", w, buckets = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val (sciRows, rest) = out.partition(_._1 < 200)
    val (spamRows, empty) = rest.partition(_._1 < 300)
    assert(sciRows.forall(_._4), s"science docs must keep: ${sciRows.toSeq}")
    assert(spamRows.forall(!_._4), s"spam docs must not keep: ${spamRows.toSeq}")
    assert(empty.head._2 == 0 && !empty.head._4, "empty doc: no feats, never kept")
    // pure function of the data
    val again = Curation.classifierScore(apply.repartition(13), "id", "text", w, buckets = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("classifierScore threshold: raising it strictly shrinks the keep set") {
    val pos = (0 until 10).map(i => (i.toLong, doc(sci, i))).toDF("id", "text")
    val neg = (0 until 10).map(i => (i.toLong, doc(spam, i))).toDF("id", "text")
    val w = Curation.trainTokenClassifier(pos, "text", neg, "text", buckets = 4096)
    val mixed = (0 until 10).map { i =>
      // blend: i science tokens out of 10
      val words = (0 until 10).map(j => if (j < i) sci(j % sci.size) else spam(j % spam.size))
      (i.toLong, words.mkString(" "))
    }.toDF("id", "text")
    def keeps(t: Long) = Curation.classifierScore(mixed, "id", "text", w,
      thresholdNano = t, buckets = 4096).filter(col("keep")).count()
    val loose = keeps(-2000000000L)
    val mid = keeps(0L)
    val tight = keeps(2000000000L)
    assert(loose >= mid && mid >= tight)
    assert(loose > tight, s"thresholds must bite: $loose / $mid / $tight")
  }
}

class TemperatureMixtureSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("alpha=1 with targetRows=|df| reproduces the corpus exactly") {
    val df = (0 until 300).map(i => (i.toLong, if (i < 240) "big" else "small"))
      .toDF("id", "dom")
    val out = Curation.mixtureByTemperature(df, "dom", col("id"), targetRows = 300, alpha = 1.0)
    assert(out.count() == 300)
    assert(out.select("mix_epoch").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("alpha=0.5 flattens a skewed corpus toward the small domain") {
    val df = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small"))).toDF("id", "dom")
    val out = Curation.mixtureByTemperature(df, "dom", col("id"), targetRows = 500)
      .groupBy("dom").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val total = out.values.sum
    assert(math.abs(total - 500L) < 50, s"total $total should approximate targetRows")
    // input share of small = 10%; sqrt-flattened target share = sqrt(100)/(sqrt(900)+sqrt(100)) = 25%
    val smallShare = out("small").toDouble / total
    assert(smallShare > 0.18 && smallShare < 0.32, s"small share $smallShare")
    // deterministic under repartitioning
    val again = Curation.mixtureByTemperature(
        df.repartition(13), "dom", col("id"), targetRows = 500)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    val first = Curation.mixtureByTemperature(df, "dom", col("id"), targetRows = 500)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(again == first)
  }

  test("rates above 1 emit whole epochs; rate 2.0 duplicates exactly") {
    // two equal domains, alpha=1, targetRows = 2x corpus -> rate exactly 2.0
    val df = (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "dom")
    val out = Curation.mixtureByTemperature(df, "dom", col("id"), targetRows = 200, alpha = 1.0)
    assert(out.count() == 200)
    val epochs = out.groupBy("mix_epoch").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(epochs == Map(0L -> 100L, 1L -> 100L))
  }

  test("high-cardinality domains run distributively (no driver collect, no cap)") {
    // r8: the rate table stays a DataFrame end to end, so a 2000-domain
    // mixture needs no maxDomains guard — alpha=1 with targetRows=|df|
    // must reproduce the corpus exactly regardless of cardinality
    val df = (0 until 4000).map(i => (i.toLong, s"d${i % 2000}")).toDF("id", "dom")
    val out = Curation.mixtureByTemperature(df, "dom", col("id"),
      targetRows = 4000, alpha = 1.0)
    assert(out.count() == 4000)
    assert(out.select("mix_epoch").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
  }
}

class ClassifierScanSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("classifierScoreScan == classifierScore on every row, incl. null/empty text") {
    val pos = (0 until 15).map(i => (i.toLong, s"atom cell energy doc $i")).toDF("id", "text")
    val neg = (0 until 15).map(i => (i.toLong, s"win free click doc $i")).toDF("id", "text")
    val wDf = Curation.trainTokenClassifier(pos, "text", neg, "text", buckets = 4096)
    val w = Curation.collectClassifierWeights(wDf)
    assert(w.length == 4096)
    val apply = Seq(
      (1L, "atom cell energy quantum"), (2L, "win free click now"),
      (3L, "mixed atom win text"), (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("id", "text")
    // scanMaxBuckets = 2 forces the JOIN path — otherwise this would
    // compare the r9 auto-selected scan path against itself
    val batch = Curation.classifierScore(apply, "id", "text", wDf, buckets = 4096,
        scanMaxBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val scan = Curation.classifierScoreScan(apply, "id", "text", w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(scan == batch)
    // the r9 auto-selected scan path must equal both, including on
    // DUPLICATE ids (merged features) and a null-text row
    val withDups = apply.unionByName(Seq((3L, "atom atom")).toDF("id", "text"))
    val viaJoin = Curation.classifierScore(withDups, "id", "text", wDf,
        buckets = 4096, scanMaxBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val viaAuto = Curation.classifierScore(withDups, "id", "text", wDf, buckets = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(viaAuto == viaJoin, "auto scan path diverged from the join path")
    // a PARTIAL weight table must fall back to the join path's
    // inner-join filter semantics (not the dense array)
    val partial = wDf.filter(col("bucket") % 2 === 0)
    val viaPartial = Curation.classifierScore(apply, "id", "text", partial, buckets = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaPartialJoin = Curation.classifierScore(apply, "id", "text", partial,
        buckets = 4096, scanMaxBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaPartial == viaPartialJoin, "partial spine must keep join semantics")
    // the scan is a pure projection: no exchange in its plan
    val plan = Curation.classifierScoreScan(apply, "id", "text", w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("trainTokenClassifier: dense scan path == distributed join path, bit-exact") {
    val pos = (0 until 25).map(i => (i.toLong, s"atom cell energy ion flux doc$i")).toDF("id", "text")
    val neg = (0 until 25).map(i => (i.toLong, s"win free click now prize doc$i")).toDF("id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dense = rows(Curation.trainTokenClassifier(pos, "text", neg, "text", buckets = 4096))
    val join = rows(Curation.trainTokenClassifier(pos, "text", neg, "text",
      buckets = 4096, scanMaxBuckets = 2))
    assert(dense == join, "dense treeAggregate weights diverged from the join path")
  }

  test("collectClassifierWeights rejects a filtered (non-spine) table") {
    val pos = Seq((1L, "a b")).toDF("id", "text")
    val neg = Seq((1L, "c d")).toDF("id", "text")
    val wDf = Curation.trainTokenClassifier(pos, "text", neg, "text", buckets = 1024)
    intercept[IllegalArgumentException] {
      Curation.collectClassifierWeights(wDf.filter(col("w_nano") > 0))
    }
  }
}
