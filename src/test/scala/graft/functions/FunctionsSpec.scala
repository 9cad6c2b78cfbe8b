package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text / dedup / similarity / multimodal operator specs. */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("v")).head().getAs[T]("v")

  test("tokenCount") {
    assert(one[Int](TextFunctions.tokenCount(col("text")), "a b  c") == 3)
    assert(one[Int](TextFunctions.tokenCount(col("text")), "  ") == 0)
    assert(one[Int](TextFunctions.tokenCount(col("text")), "one") == 1)
  }

  test("bpeTokenCount: ceil(len/4) per word + punctuation") {
    // "hello" -> 2, "hi" -> 1, '!' -> 1
    assert(one[Long](TextFunctions.bpeTokenCount(col("text")), "hello hi!") == 4L)
  }

  test("normalizeText strips punctuation and collapses whitespace") {
    assert(one[String](TextFunctions.normalizeText(col("text")), " Héllo,  WORLD!! 42 ") ==
      "h llo world 42")
  }

  test("corpusRarity counts occurrences of corpus-rare tokens") {
    val docs = Seq((1L, "aa bb aa"), (2L, "aa cc")).toDF("doc_id", "text")
    val out = TextFunctions.corpusRarity(docs, "doc_id", "text", maxCount = 2L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_rare"),
         r.getAs[Double]("rare_frac"))).toMap
    // aa occurs 3x (not rare at maxCount=2); bb, cc once each
    assert(out == Map(1L -> (3L, 1L, 0.333333), 2L -> (2L, 1L, 0.5)))
  }

  test("corpusRarity: r9 scan path == join fallback; null/empty docs absent; empty frequent set") {
    val rnd = new scala.util.Random(5)
    val docs = ((0 until 60).map { i =>
      (i.toLong, (0 until (3 + rnd.nextInt(12))).map(_ => s"t${rnd.nextInt(25)}").mkString(" "))
    } ++ Seq((100L, ""), (101L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    for (mc <- Seq(1L, 3L, 10L)) {
      val scan = rows(TextFunctions.corpusRarity(docs, "doc_id", "text", maxCount = mc))
      val join = rows(TextFunctions.corpusRarity(docs, "doc_id", "text", maxCount = mc,
        maxFrequentCollect = 0)) // force the join fallback
      assert(scan == join, s"maxCount=$mc: scan path diverged from join path")
      assert(!scan.exists(r => r._1 >= 100L), "empty/null docs must produce no row")
    }
    // maxCount above every corpus count: frequent set empty, all rare
    val allRare = rows(TextFunctions.corpusRarity(docs, "doc_id", "text", maxCount = 10000L))
    assert(allRare.forall(r => r._2 == r._3 && r._4 == 1.0))
  }

  test("stopword / punct ratios") {
    assert(math.abs(one[Double](TextFunctions.stopwordRatio(col("text")), "the cat is here") - 0.5) < 1e-9)
    assert(math.abs(one[Double](TextFunctions.punctRatio(col("text")), "ab,.") - 0.5) < 1e-9)
    assert(one[Double](TextFunctions.stopwordRatio(col("text")), "") == 0.0)
  }

  test("meanWordLength") {
    assert(math.abs(one[Double](TextFunctions.meanWordLength(col("text")), "ab abcd") - 3.0) < 1e-9)
  }

  test("qualityScore in [0,1] and ordered sensibly") {
    val good = one[Double](TextFunctions.qualityScore(col("text")),
      "the quick brown fox jumps over the lazy dog and runs far away into the woods " * 5)
    val bad = one[Double](TextFunctions.qualityScore(col("text")), "!!! ,,, ;;; :::")
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("langId votes on marker words") {
    assert(one[String](TextFunctions.langId(col("text")), "the cat and the dog of war is that") == "en")
    assert(one[String](TextFunctions.langId(col("text")), "der hund und die katze ist nicht") == "de")
    assert(one[String](TextFunctions.langId(col("text")), "zzz qqq") == "und")
  }

  test("wordShingles") {
    def shingles(n: Int, text: String): Seq[String] =
      Seq(text).toDF("text").select(TextFunctions.wordShingles(col("text"), n).as("v"))
        .head().getSeq[String](0)
    assert(shingles(2, "a b c") == Seq("a b", "b c"))
    assert(shingles(3, "a b") == Seq("a b"))
  }

  test("fingerprint is normalization-invariant") {
    val a = one[Long](TextFunctions.fingerprint(col("text")), "Hello, World!")
    val b = one[Long](TextFunctions.fingerprint(col("text")), "hello   world")
    assert(a == b)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today " * 4
  private lazy val docs = Seq(
    (0L, base),
    (1L, base + " extra tail words"), // near-dup of 0
    (2L, "completely different content about spark catalyst optimizer rules and physical plans"),
    (3L, "yet another unrelated document mentioning minhash banding and jaccard estimation theory"),
    (4L, base)) // exact dup of 0
    .toDF("id", "text")

  test("bm25TopDocs: query-term density ranks, idf discounts common terms") {
    val docs = Seq(
      (1L, "spark join window stream join window stream"), // all terms, dense
      (2L, "spark join table scan filter merge sort data"), // one term
      (3L, "table scan filter merge sort data row batch"), // no terms
      (4L, "join window stream"), // all terms, short doc
      (5L, "the the the the the the the the the the")
    ).toDF("id", "text")
    val got = TextFunctions.bm25TopDocs(docs, "id", "text",
      Seq("join", "window", "stream"), k = 10).collect()
    val ids = got.map(_.getLong(0)).toSeq
    assert(!ids.contains(3L) && !ids.contains(5L))
    assert(ids.take(2).toSet == Set(1L, 4L), s"dense docs must lead: $ids")
    assert(ids.last == 2L)
    val byId = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == 3L && byId(4L) == 3L && byId(2L) == 1L) // n_hits
    intercept[IllegalArgumentException] {
      TextFunctions.bm25TopDocs(docs, "id", "text", Seq(), k = 1)
    }
    intercept[IllegalArgumentException] {
      TextFunctions.bm25TopDocs(docs, "id", "text", Seq("!!"), k = 1)
    }
  }

  test("hybridTopDocs fuses BM25 and cosine ranks reciprocally") {
    val docs = Seq(
      (0L, "join window stream join window"), // lex-strong
      (1L, "table scan filter merge sort"), // lex-zero, vec-strong
      (2L, "join window table scan data"), // lex-mid
      (3L, "row batch data column value")).toDF("id", "text")
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), // query vector source
      (1L, Seq(0.99f, 0.1f, 0f, 0f)), // nearest to query
      (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0.9f, 0.4f, 0f))).toDF("vec_id", "embedding")
    val out = TextFunctions.hybridTopDocs(
      docs, "id", "text", emb, "vec_id", "embedding",
      Seq("join", "window"), Seq(1f, 0f, 0f, 0f), k = 4)
    val rows = out.collect().map(r =>
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3))).toSeq
    // doc 0: lex rank 1 AND vec rank 1 (it IS the query vector) -> top
    assert(rows.head._1 == 0L)
    // doc 1 has no query terms: lex_rank null, still present via vec arm
    val d1 = rows.find(_._1 == 1L).get
    assert(d1._2.isEmpty && d1._3.isDefined)
    // doc 3: no lex hits, vec rank exists -> present with null lex
    assert(rows.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
    // fused score descends
    assert(rows.map(_._4) == rows.map(_._4).sortBy(-_))
    intercept[IllegalArgumentException] {
      TextFunctions.hybridTopDocs(docs, "id", "text", emb, "vec_id", "embedding",
        Seq("join"), Seq(1f, 0f, 0f, 0f), k = 10, poolN = 5)
    }
  }

  test("hybridTopDocs discards null vec scores instead of ranking them first") {
    // carried-ADVICE regression: cosine null-propagates on a null
    // embedding, and a null key sorts FIRST in the ascending struct
    // sort — without the isNotNull filter the null-vector docs would
    // take vec ranks 1..m and shift every real candidate's rank.
    val docs = Seq(
      (0L, "join window stream"),
      (1L, "join window"),
      (2L, "table scan")).toDF("id", "text")
    val emb = Seq(
      (0L, Some(Seq(1f, 0f))),
      (1L, None), // null embedding -> null cosine
      (2L, Some(Seq(0.9f, 0.1f)))).toDF("vec_id", "embedding")
    val rows = TextFunctions.hybridTopDocs(
      docs, "id", "text", emb, "vec_id", "embedding",
      Seq("join"), Seq(1f, 0f), k = 3)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    // doc 0 IS the query vector: vec rank 1; doc 2 next; doc 1 (null
    // vec) must have NO vec rank, not rank 1
    assert(rows(0L).contains(1L), s"doc 0 must hold vec rank 1: $rows")
    assert(rows(2L).contains(2L), s"doc 2 must hold vec rank 2: $rows")
    assert(rows(1L).isEmpty, s"null-vec doc must have null vec_rank: $rows")
  }

  test("hybridTopDocs composes with an IVF vec arm (q_hybrid_ann shape)") {
    // the production path: semantic arm = pre-fit IVF with an nProbe
    // cell scan. With nProbe = k (all cells probed) the IVF arm is
    // exhaustive, so the fusion must equal the brute-force-armed run
    // row for row; a real deployment lowers nProbe and accepts the
    // recall gate's floor instead of equality.
    val docs = (0L until 30L).map(i =>
      (i, if (i % 3 == 0) s"join window stream doc$i" else s"table scan doc$i"))
      .toDF("id", "text")
    val emb = (0L until 30L).map { i =>
      val a = (i % 7).toFloat / 7f
      (i, Seq(math.cos(a).toFloat, math.sin(a).toFloat, (i % 5) / 5f, 0.1f))
    }.toDF("vec_id", "embedding")
    val qv = Seq(1f, 0f, 0.2f, 0.1f)
    val cents = Similarity.ivfFit(emb, "vec_id", "embedding", k = 4, sampleN = 30)
    val ivfArm: (org.apache.spark.sql.DataFrame, String, String, Seq[Float], Int) =>
        org.apache.spark.sql.DataFrame =
      (e, i, v, q, n) => Similarity.annTopKIvf(e, i, v, q, n, cents, nProbe = 4)
    val got = TextFunctions.hybridTopDocs(docs, "id", "text", emb, "vec_id",
      "embedding", Seq("join", "window"), qv, k = 10, vecArm = ivfArm)
      .collect().map(_.toSeq).toSeq
    val want = TextFunctions.hybridTopDocs(docs, "id", "text", emb, "vec_id",
      "embedding", Seq("join", "window"), qv, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"all-cells IVF arm must match brute force:\n$got\n$want")
  }

  test("bm25 length normalization uses the same tokenizer as tf/df") {
    // punctuation changes whitespace token counts but not normalized
    // ones — scores must be identical doc-for-doc
    val plain = Seq(
      (1L, "join window stream table scan"),
      (2L, "join join window data row batch merge sort")).toDF("id", "text")
    val punct = Seq(
      (1L, "Join, window; STREAM table scan!"),
      (2L, "join... join (window) data row batch merge sort")).toDF("id", "text")
    def scores(df: org.apache.spark.sql.DataFrame) =
      TextFunctions.bm25TopDocs(df, "id", "text", Seq("join", "window"), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(scores(plain) == scores(punct))
  }

  test("dedupAgainstIndex refuses a pre-r6 string-banded index") {
    val sigs = Seq((1L, Seq.fill(64)(7L))).toDF("id", "sig")
    val strBands = Seq((1L, "a3f9")).toDF("id", "band")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(
        Seq((2L, "some text")).toDF("id", "text"), "id", "text",
        Dedup.SignatureIndex(sigs, strBands, 8, 8))
    }
    assert(e.getMessage.contains("rebuild the index"))
  }

  test("exact dedup keeps smallest id per key group") {
    val d = Dedup.exact(docs, "id", Seq("text"))
    assert(d.count() == 4)
    assert(d.filter(col("id") === 4L).count() == 0)
  }

  test("exactGroups finds the duplicate group") {
    val g = Dedup.exactGroups(docs, "id", "text").collect()
    assert(g.length == 1 && g(0).getAs[Long]("n_dups") == 2 && g(0).getAs[Long]("keep_id") == 0L)
  }

  test("dedupAgainstCorpus flags batch docs near-duplicate to persisted sigs") {
    val corpus = Seq((0L, base),
      (2L, "completely different content about spark catalyst optimizer rules and physical plans"))
      .toDF("id", "text")
    val sigs = corpus.select(col("id"),
      DedupExpressions.minhashSig(col("text"), 64, 3).as("sig"))
    val batch = Seq(
      (10L, base + " extra tail words"), // near-dup of corpus doc 0
      (11L, "novel doc about flink watermarks and state backends entirely"))
      .toDF("id", "text")
    val out = Dedup.dedupAgainstCorpus(batch, "id", "text", sigs, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out == Map(10L -> Some(0L), 11L -> None))
    // prebuilt-index path produces the identical screening result
    val viaIndex = Dedup.dedupAgainstIndex(
        batch, "id", "text", Dedup.buildSignatureIndex(sigs), threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(viaIndex == out)
  }

  test("duplicatedSpans collapses shared 8-grams into maximal spans") {
    val spanDocs = Seq(
      (1L, "a b c d e f g h i j"),          // shingles at pos 0,1,2; 0,1 shared
      (2L, "a b c d e f g h i q r s"),      // shares a..h and b..i with doc 1
      (3L, "totally unrelated words only here nothing shared at all now"),
      (4L, "short doc"))                    // < 8 words: no shingles
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(spanDocs, "doc_id", "text", n = 8, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_ngrams"), r.getAs[Long]("n_spans"),
         r.getAs[Long]("max_span_tokens"))).toMap
    // both docs: one island of 2 consecutive duplicated 8-grams = 9 tokens
    assert(out == Map(1L -> (2L, 1L, 9L), 2L -> (2L, 1L, 9L)))
  }

  test("removeDuplicatedSpans cuts every covered token, keeps unique text") {
    val spanDocs = Seq(
      (1L, "a b c d e f g h i j"),          // dup grams at pos 0,1 -> tokens 0..8
      (2L, "a b c d e f g h i q r s"),      // shares a..h and b..i with doc 1
      (3L, "totally unrelated words only here nothing shared at all now"),
      (4L, "short doc"),                    // < 8 words: untouched
      (5L, ""))                             // empty: 0 tokens
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(spanDocs, "doc_id", "text",
        n = 8, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed_tokens"),
         r.getAs[String]("clean_text"))).toMap
    assert(out == Map(
      1L -> (10L, 9L, "j"),
      2L -> (12L, 9L, "q r s"),
      3L -> (10L, 0L, "totally unrelated words only here nothing shared at all now"),
      4L -> (2L, 0L, "short doc"),
      5L -> (0L, 0L, "")))
  }

  test("removeDuplicatedSpans: duplicate input ids never self-duplicate; null text is 0 tokens") {
    val txt = "p q r s t u v w x y"
    val docs = Seq(
      (7L, txt), (7L, txt), // same id twice: countDistinct sees ONE doc
      (8L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text",
        n = 8, minDocs = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed_tokens"),
        r.getAs[String]("clean_text"))).toSeq.sorted
    assert(out == Seq(
      (7L, 10L, 0L, txt), (7L, 10L, 0L, txt), (8L, 0L, 0L, "")))
  }

  test("minhashPairs finds planted near-dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L))) // exact dup: est_jaccard 1.0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("boundedCollectList: kept groups complete, hot groups capped at cap+1") {
    val rows = (0 until 3).map(i => ("small", i.toLong)) ++
      (0 until 10).map(i => ("hot", 100L + i))
    val df = rows.toDF("k", "v").repartition(8) // force partial-buffer merges
    val got = df.groupBy("k")
      .agg(DedupExpressions.boundedCollectList(col("v"), 5).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // under-cap group: complete and exact (order-insensitive)
    assert(got("small").sorted == Seq(0L, 1L, 2L))
    // over-cap group: detectable (size == cap+1), never materialized in full
    assert(got("hot").length == 6)
    assert(got("hot").forall(v => v >= 100L && v < 110L))
    intercept[IllegalArgumentException] {
      DedupExpressions.boundedCollectList(col("v"), 0)
    }
  }

  test("minhashPairs bucket cap: over-cap buckets drop, pairs survive rarer bands") {
    // 60 docs sharing one template would, uncapped, emit C(60,2) pairs
    // from every band; cap 50 drops those buckets entirely
    val tpl = (0 until 40).map(i => s"w$i").mkString(" ")
    val clones = (0L until 60L).map(i => (i, tpl))
    val capped = Dedup.minhashPairs(clones.toDF("id", "text"), "id", "text",
      threshold = 0.5, maxBucketSize = 50)
    assert(capped.count() == 0L)
    val uncapped = Dedup.minhashPairs(clones.toDF("id", "text"), "id", "text",
      threshold = 0.5, maxBucketSize = 2000)
    assert(uncapped.count() == 60L * 59L / 2L)
  }

  test("simhash: near-dups have small hamming distance") {
    val hs = docs.select(col("id"),
        DedupExpressions.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0L), hs(4L)) == 0)
    assert(ham(hs(0L), hs(1L)) < ham(hs(0L), hs(2L)))
  }

  test("simhashPairs == brute-force hamming pairs (recall-lossless within budget)") {
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val corpus = (0L until 40L).map { i =>
      if (i < 10L) (i, base) // exact clones: hamming 0
      else if (i < 20L) (i, base.replace(s"tok${i - 10}", s"edit$i")) // one-word edits
      else (i, (0 until 30).map(j => s"r${i}x$j").mkString(" ")) // unrelated
    }.toDF("id", "text")
    val got = Dedup.simhashPairs(corpus, "id", "text", maxHamming = 3, maxBucketSize = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val hs = corpus.select(col("id"), DedupExpressions.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pigeonhole guarantee: EVERY pair within the budget must surface —
    // the blocked candidate stage is recall-lossless at <= maxHamming,
    // and the bit_count(xor) rescore makes precision exact
    val want = (for {
      a <- hs.keys; b <- hs.keys if a < b
      h = java.lang.Long.bitCount(hs(a) ^ hs(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("simhashPairs bucket cap drops mega-cluster blocks; bad args rejected") {
    val tpl = (0 until 40).map(i => s"w$i").mkString(" ")
    val clones = (0L until 60L).map(i => (i, tpl)).toDF("id", "text")
    // 60 identical fingerprints: every block bucket holds all 60 ids,
    // so cap 50 drops them all (exact dedup's job, not LSH's)
    assert(Dedup.simhashPairs(clones, "id", "text", maxBucketSize = 50).count() == 0L)
    assert(Dedup.simhashPairs(clones, "id", "text", maxBucketSize = 2000).count() ==
      60L * 59L / 2L)
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(clones, "id", "text", maxHamming = 32))
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(clones, "id", "text", maxBucketSize = 1))
  }

  test("ngramJaccardPairs computes exact jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(pairs((0L, 4L)) - 1.0) < 1e-9)
  }

  test("jaccard size-ratio prune keeps exact-boundary pairs; containment unpruned") {
    // A = 6 words -> 4 trigram shingles, B = A + one word -> 5 shingles
    // containing all of A's: J = 4/(4+5-4) = 0.8 EXACTLY. The r8
    // pre-shuffle size prune (min/(na+nb-min) >= t) must not drop the
    // boundary pair the final filter keeps.
    val a = "w1 w2 w3 w4 w5 w6"
    val docs = Seq((1L, a), (2L, s"$a w7")).toDF("id", "text")
    val j = Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(j == Seq((1L, 2L, 0.8)), s"boundary pair lost: $j")
    // above the boundary the pair must vanish...
    assert(Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.81).count() == 0)
    // ...while containment (A fully inside B) stays 1.0 at any size
    // ratio — the measure the prune must NOT apply to
    val bigDoc = (1 to 200).map(i => s"x$i").mkString(" ")
    val wrap = Seq((1L, a), (2L, s"$bigDoc $a")).toDF("id", "text")
    val c = Dedup.containmentPairs(wrap, "id", "text", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(c == Seq((1L, 2L, 1.0)), s"small-inside-big containment lost: $c")
  }

  test("containmentPairs PPJoin == brute force at every threshold (randomized)") {
    // the r9 prefix-filter completeness claim, property-tested: on
    // seeded corpora with planted excerpts, the candidate+verify
    // pipeline must equal a driver-side brute force over the exact
    // same shingle sets (including the non-stop numerator semantics —
    // stop set empty here), for thresholds from permissive to strict
    import graft.functions.{DedupExpressions => DE}
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 120).map(i => s"w$i")
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until (8 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // plant excerpts: doc 100+i = a random contiguous slice of doc i
    val planted = (0 until 12).map { i =>
      val words = base(i)._2.split(" ")
      val from = rnd.nextInt(math.max(1, words.length - 6))
      val len = 5 + rnd.nextInt(words.length - from - 4 max 1)
      (100L + i, words.slice(from, from + len).mkString(" "))
    }
    val docs = (base ++ planted).toDF("id", "text")
    // exact shingle sets via the same kernel the operator uses
    val sets = docs.select(col("id"), DE.shingleSet(col("text"), 3).as("hs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toMap
    for (t <- Seq(0.3, 0.5, 0.8, 0.95)) {
      val expected = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a < b && sa.nonEmpty && sb.nonEmpty
        c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
        if c >= t
      } yield (a, b, BigDecimal(c).setScale(9, BigDecimal.RoundingMode.HALF_UP))).toSet
      val got = Dedup.containmentPairs(docs, "id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP))).toSet
      assert(got == expected,
        s"t=$t: missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("Array-param expressions compare by content (semanticEquals/CSE contract)") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
    val s = BoundReference(0, StringType, nullable = true)
    val v = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val l = BoundReference(0, ArrayType(LongType), nullable = true)
    val i = BoundReference(0, LongType, nullable = true)
    def twice(mk: => Expression): Unit = {
      val (a, b) = (mk, mk) // identical args, distinct array instances
      assert(a == b && a.hashCode == b.hashCode && a.semanticEquals(b),
        s"${a.getClass.getSimpleName} compares by reference")
    }
    twice(QueryTfExpr(s, Array(1L, 2L)))
    twice(OovStatsExpr(s, Array(1L, 2L)))
    twice(ClassifierScoreExpr(s, Array(1L, 2L, 3L, 4L)))
    twice(IvfAssignExpr(v, Array(Array(1.0, 0.0), Array(0.0, 1.0))))
    twice(KMeansAssignExpr(l, Array(Array(1L, 2L), Array(3L, 4L))))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    bloom.putLong(7L)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    twice(BloomMightContainExpr(i, bytes.clone()))
    // and distinct contents must NOT compare equal
    assert(QueryTfExpr(s, Array(1L, 2L)) != QueryTfExpr(s, Array(1L, 3L)))
    assert(IvfAssignExpr(v, Array(Array(1.0))) != IvfAssignExpr(v, Array(Array(2.0))))
  }

  test("custom expressions reject wrong-typed input at ANALYSIS time") {
    val df = Seq(Tuple1(1L)).toDF("id")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(DedupExpressions.minhashSig(col("id"), 64)).collect()
    }
    assert(e.getMessage.contains("STRING"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(DedupExpressions.cosineSim(col("id"), col("id"))).collect()
    }
    assert(e2.getMessage.contains("ARRAY"))
  }

  test("minhashSignature expression is deterministic and k-wide") {
    val s1 = docs.select(DedupExpressions.minhashSig(col("text"), 32).as("s"))
      .head().getSeq[Long](0)
    val s2 = docs.select(DedupExpressions.minhashSig(col("text"), 32).as("s"))
      .head().getSeq[Long](0)
    assert(s1 == s2 && s1.size == 32)
  }
}

class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private def reference(ws: Seq[String], k: Int, w: Int): Seq[(Int, Long)] = {
    if (ws.length < k) return Nil
    val hs = (0 to ws.length - k).map(i => HashUtil.md5Lower64(ws.slice(i, i + k).mkString(" ")))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var last = -1
    for (p <- 0 to math.max(hs.length - w, 0)) {
      val end = math.min(p + w, hs.length)
      var best = p
      for (i <- p + 1 until end)
        if (java.lang.Long.compareUnsigned(hs(i), hs(best)) <= 0) best = i
      if (best != last) { out += ((best + 1, hs(best))); last = best }
    }
    out.toSeq
  }

  test("winnowFingerprints == naive reference on randomized docs; density ~2/(w+1)") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 60).map { i =>
      (i.toLong, (1 to 2 + rnd.nextInt(60)).map(_ => s"t${rnd.nextInt(30)}").mkString(" "))
    }
    val got = Dedup.winnowFingerprints(docs.toDF("id", "text"), "id", "text", k = 4, w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    var grams = 0L
    var selected = 0L
    docs.foreach { case (id, text) =>
      val ws = text.split(" ").toSeq
      val want = reference(ws, 4, 4)
      assert(got.getOrElse(id, Nil) == want, s"doc $id diverged")
      grams += math.max(ws.length - 3, 0)
      selected += want.size
    }
    // the paper's expected density is 2/(w+1) = 0.4; allow a wide band
    assert(selected < grams, "winnowing selected every gram")
    assert(selected.toDouble / grams > 0.15 && selected.toDouble / grams < 0.65,
      s"implausible density ${selected.toDouble / grams}")
  }

  test("the w+k-1 guarantee: a shared 7-token run always shares a fingerprint") {
    val rnd = new scala.util.Random(23)
    val shared = (1 to 7).map(i => s"run$i").mkString(" ") // w + k - 1 = 7
    val docs = (0 until 20).map { i =>
      val pad1 = (1 to 5 + rnd.nextInt(20)).map(_ => s"a${rnd.nextInt(500)}").mkString(" ")
      val pad2 = (1 to 5 + rnd.nextInt(20)).map(_ => s"b${rnd.nextInt(500)}").mkString(" ")
      (i.toLong, s"$pad1 $shared $pad2")
    }
    val pairs = Dedup.winnowMatches(docs.toDF("id", "text"), "id", "text",
        k = 4, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (a <- 0 until 20; b <- a + 1 until 20)
      assert(pairs.contains((a.toLong, b.toLong)),
        s"guaranteed match ($a, $b) missing — the SIGMOD'03 property broke")
  }

  test("winnowMatches == brute-force distinct shared fingerprints") {
    val rnd = new scala.util.Random(31)
    val docs = (0 until 30).map { i =>
      (i.toLong, (1 to 10 + rnd.nextInt(30)).map(_ => s"t${rnd.nextInt(12)}").mkString(" "))
    }
    val got = Dedup.winnowMatches(docs.toDF("id", "text"), "id", "text",
        k = 4, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fps = docs.map { case (id, text) =>
      id -> reference(text.split(" ").toSeq, 4, 4).map(_._2).toSet
    }.toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      n = (fps(a) intersect fps(b)).size if n >= 2
    } yield (a, b) -> n.toLong).toMap
    assert(got == want, s"diff keys: ${(got.keySet diff want.keySet) ++ (want.keySet diff got.keySet)}")
  }
}

class ShingleSetExprSpec extends SparkSpec {
  import spark.implicits._

  test("one-pass distinct shingle hashes match the Column twin on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val got = docs.select(col("doc_id"),
        DedupExpressions.shingleSet(col("text"), 3).as("hs"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).toList)
    val want = docs.select(col("doc_id"),
        array_distinct(transform(TextFunctions.wordShingles(col("text"), 3),
          s => DedupExpressions.md5Lower64(s))).as("hs"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).toList)
    assert(got.length == 500 && got.toSeq == want.toSeq)
  }

  test("short and empty texts yield the whole-text shingle") {
    val out = Seq("one two", "").toDF("text")
      .select(DedupExpressions.shingleSet(col("text"), 3).as("hs"))
      .collect().map(_.getSeq[Long](0).toList)
    assert(out(0) == List(HashUtil.md5Lower64("one two")))
    assert(out(1) == List(HashUtil.md5Lower64("")))
  }

  test("positional gram hashes match the slice/array_join twin; short docs empty") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    for (n <- Seq(1, 3, 8)) {
      val words = filter(split(TextFunctions.normalizeText(col("text")), " "),
        w => length(w) > 0)
      val twin = when(size(words) < n, array().cast("array<long>"))
        .otherwise(transform(sequence(lit(1), size(words) - (n - 1)),
          i => DedupExpressions.md5Lower64(array_join(slice(words, i, lit(n)), " "))))
      val got = docs.select(DedupExpressions.shinglePosHashes(col("text"), n).as("hs"))
        .collect().map(_.getSeq[Long](0).toList)
      val want = docs.select(twin.as("hs"))
        .collect().map(_.getSeq[Long](0).toList)
      assert(got.toSeq == want.toSeq, s"n=$n")
    }
    val short = Seq("a b c").toDF("text")
      .select(DedupExpressions.shinglePosHashes(col("text"), 8))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("jacobiEigen solves a known symmetric system exactly enough") {
    // [[2,1],[1,2]] -> eigenvalues 3, 1; vectors (1,1)/sqrt2, (1,-1)/sqrt2
    val (evals, evecs) = Similarity.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(evals(0) - 3.0) < 1e-12 && math.abs(evals(1) - 1.0) < 1e-12)
    val r = 1.0 / math.sqrt(2.0)
    assert(evecs(0).zip(Array(r, r)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(math.abs(math.abs(evecs(1)(0)) - r) < 1e-12 &&
      evecs(1)(0) * evecs(1)(1) < 0)
  }

  test("projectVec: short vectors pad missing coordinates with 0; short means fail loud") {
    // a missing coordinate is x_i = 0, which still contributes the
    // centering term -means(i)*mat(c)(i) — NOT a silently-skipped term
    val means = Array(10.0, 20.0)
    val mat = Array(Array(1.0, 1.0))
    val df = Seq((1L, Seq(3.0, 4.0)), (2L, Seq(3.0))).toDF("id", "v")
    val got = df.select(col("id"),
        DedupExpressions.projectVec(col("v"), means, mat).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == Seq((3.0 - 10.0) + (4.0 - 20.0)))
    assert(got(2L) == Seq((3.0 - 10.0) + (0.0 - 20.0)))
    val e = intercept[IllegalArgumentException](
      ProjectVecExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(lit(Array(1.0))),
        Array(1.0), Array(Array(1.0, 2.0))))
    assert(e.getMessage.contains("mean"))
  }

  test("pcaComponents recovers a planted dominant direction; whitening normalizes") {
    // data = t * u + small noise, u = (1,1,0,0)/sqrt2: top component
    // must align with u and carry almost all variance
    val u = Array(0.7071f, 0.7071f, 0f, 0f)
    val rows = (0 until 400).map { i =>
      val t = ((i % 41) - 20) * 0.1f
      val noise = Array(0f, 0f, (((i * 13) % 7) - 3) * 0.004f, (((i * 29) % 5) - 2) * 0.004f)
      (i.toLong, u.map(_ * t).zip(noise).map { case (a, b) => a + b }.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (means, evals, evecs) = Similarity.pcaComponents(df, "embedding", k = 2)
    assert(evals(0) > 50 * evals(1), s"dominant direction not dominant: ${evals.toSeq}")
    val cosTop = evecs(0).zip(u).map { case (a, b) => a * b }.sum
    assert(math.abs(cosTop) > 0.999, s"top component misaligned: ${evecs(0).toSeq}")
    assert(means.forall(m => math.abs(m) < 0.05))
    // whitened: both kept components mean ~0 / var ~1, and the
    // projection kernel equals a driver-side replay on every row
    val w = Similarity.whitenVectors(df, "embedding", k = 2)
    val ys = w.select(col("vec_id"), col("white")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val kDim = ys.head._2.length
    for (c <- 0 until kDim) {
      val col = ys.map(_._2(c))
      val m = col.sum / col.length
      val v = col.map(y => (y - m) * (y - m)).sum / col.length
      // means derive from QUANTIZED data while the projection reads
      // raw floats — the residual mean is O(0.5/2^14) per coordinate
      assert(math.abs(m) < 1e-4, s"component $c mean $m")
      assert(math.abs(v - 1.0) < 0.02, s"component $c var $v")
    }
    // determinism: a repartitioned rerun yields identical doubles
    // (integer gram => identical covariance => identical Jacobi)
    val w2 = Similarity.whitenVectors(df.repartition(7), "embedding", k = 2)
      .select(col("vec_id"), col("white")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(w2.toSeq == ys.toSeq, "whitening must be partition-invariant")
  }

  test("gramMatrix: null vectors skipped, mixed dims fail loud") {
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f))), (2L, Some(Seq(0.5f, -1.0f))),
      (3L, None)).toDF("vec_id", "embedding")
    val g = Similarity.gramMatrix(df, "embedding", scaleBits = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // q1 = (1024, 2048), q2 = (512, -1024)
    assert(g((0L, 0L)) == 1024L * 1024 + 512L * 512)
    assert(g((0L, 1L)) == 1024L * 2048 + 512L * -1024)
    assert(g((1L, 1L)) == 2048L * 2048 + 1024L * 1024)
    val bad = Seq((1L, Seq(1.0f)), (2L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.gramMatrix(bad, "embedding").collect()
    }
    assert(ex.getMessage != null)
  }

  test("pqFitInt8 == m independent sub-space kmeansFitInt8 runs; ADC == driver reference") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val m = 4; val ds = 4
    val pq = Similarity.pqFitInt8(df, "vec_id", "embedding",
      m = m, k = 3, iters = 2, scale = scale)
    assert(pq.map(_.map(_.toSeq).toSeq).toSeq ==
      Similarity.pqFitInt8(df, "vec_id", "embedding", m = m, k = 3,
        iters = 2, scale = scale).map(_.map(_.toSeq).toSeq).toSeq,
      "pq fit must be deterministic")
    // the fused one-job-per-iteration fit must equal m INDEPENDENT
    // whole-vector fits over the sliced inputs
    for (sub <- 0 until m) {
      val sliced = df.select(col("vec_id"),
        slice(col("embedding"), sub * ds + 1, ds).as("embedding"))
      val solo = Similarity.kmeansFitInt8(sliced, "vec_id", "embedding",
        k = 3, iters = 2, scale = scale)
      assert(pq(sub).map(_.toSeq).toSeq == solo.map(_.toSeq).toSeq,
        s"subspace $sub diverged from the independent fit")
    }
    // m = 1 degenerates to plain k-means: codes == assign cells
    val pq1 = Similarity.pqFitInt8(df, "vec_id", "embedding",
      m = 1, k = 3, iters = 2, scale = scale)
    val one = df.select(col("vec_id"),
        Similarity.pqEncodeQ(Similarity.kmeansQuantize(col("embedding"), scale), pq1).as("c"),
        DedupExpressions.kmeansAssign(
          Similarity.kmeansQuantize(col("embedding"), scale), pq1(0)).as("cell"))
      .collect()
    one.foreach(r => assert(r.getSeq[Int](1) == Seq(r.getInt(2))))
    // ADC top-k == an exhaustive driver replay of the same algebra
    val query = vecs(7)._2
    val got = Similarity.pqAdcTopK(df, "vec_id", "embedding", query,
        k = 10, scale = scale, codebooks = pq)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 127.0 / scale + 0.5).toLong).toArray
    val qq = quant(query)
    def assignCell(sv: Array[Long], cents: Array[Array[Long]]): Int =
      cents.zipWithIndex.minBy { case (c, i) =>
        (c.zip(sv).map { case (a, b) => (a - b) * (a - b) }.sum, i) }._2
    val want = vecs.map { case (id, v) =>
      val vq = quant(v)
      val dist = (0 until m).map { sub =>
        val sv = vq.slice(sub * ds, sub * ds + ds)
        val cell = assignCell(sv, pq(sub))
        val cent = pq(sub)(cell)
        val qs = qq.slice(sub * ds, sub * ds + ds)
        qs.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      (id, dist)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    assert(got == want, s"ADC diverged:\n$got\nvs\n$want")
    intercept[IllegalArgumentException] {
      Similarity.pqFitInt8(df, "vec_id", "embedding", m = 5, k = 3,
        iters = 1, scale = scale) // 5 does not divide 16
    }
  }

  test("ivfPqFit/ivfPqTopK == manual residual composition and driver ADC reference") {
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 2, scale = scale)
    // coarse == the plain integer k-means fit
    val plain = Similarity.kmeansFitInt8(df, "vec_id", "embedding",
      k = 3, iters = 2, scale = scale)
    assert(coarse.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
    // driver reference: quantize, assign, residual, PQ-encode, probe,
    // ADC — all exact integers
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 127.0 / scale + 0.5).toLong).toArray
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def cellOf(q: Array[Long], cents: Array[Array[Long]]): Int =
      cents.zipWithIndex.minBy { case (c, i) => (d2(c, q), i) }._2
    val ds = 4
    val query = vecs(5)._2
    val qq = quant(query)
    val probed = coarse.zipWithIndex
      .map { case (c, i) => (d2(qq, c), i) }.sorted.take(2).map(_._2)
    val want = vecs.flatMap { case (id, v) =>
      val vq = quant(v)
      val cell = cellOf(vq, coarse)
      if (!probed.contains(cell)) None
      else {
        val res = vq.zip(coarse(cell)).map { case (a, b) => a - b }
        val rq = qq.zip(coarse(cell)).map { case (a, b) => a - b }
        val dist = (0 until 4).map { sub =>
          val sv = res.slice(sub * ds, sub * ds + ds)
          val code = cellOf(sv, cbs(sub))
          d2(rq.slice(sub * ds, sub * ds + ds), cbs(sub)(code))
        }.sum
        Some((id, cell.toLong, dist))
      }
    }.sortBy { case (id, _, d) => (d, id) }.take(8)
    val got = Similarity.ivfPqTopK(df, "vec_id", "embedding", query,
        kTop = 8, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"IVF-PQ diverged:\n$got\nvs\n$want")
    // rows in unprobed cells never appear, even with huge kTop
    val all = Similarity.ivfPqTopK(df, "vec_id", "embedding", query,
        kTop = 1000, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 1)
      .collect()
    assert(all.forall(_.getLong(1) == probed.head.toLong))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(df, "vec_id", "embedding", query,
        kTop = 1, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 9)
    }
    // wrong-dimension rows fail LOUD (the zip_with residual would
    // otherwise null-pad them into plausible codes), nulls drop
    val mixed = df.unionByName(Seq(
        (98L, Seq(0.1f, 0.2f)), (99L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding"))
    val e = intercept[Exception] {
      Similarity.ivfPqTopK(mixed, "vec_id", "embedding", query,
        kTop = 3, scale = scale, coarse = coarse, codebooks = cbs,
        nProbe = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("vector dimension")), msgs(e).mkString(" | "))
    val nullOnly = df.unionByName(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val topN = Similarity.ivfPqTopK(nullOnly, "vec_id", "embedding", query,
        kTop = 3, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(_.getLong(0))
    assert(!topN.contains(99L))
  }

  test("persisted PQ/IVF-PQ codes serve bit-equal top-k; fit fails loud on wrong dims") {
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val query = vecs(5)._2
    // plain PQ: stored (id, codes) answers the same top-k as the
    // raw-vector path, bit for bit (distances included)
    val pq = Similarity.pqFitInt8(df, "vec_id", "embedding",
      m = 4, k = 3, iters = 2, scale = scale)
    val pqDir = java.nio.file.Files.createTempDirectory("graft-pqc")
      .resolve("codes").toString
    Similarity.savePqEncoded(df, "vec_id", "embedding", scale, pq, pqDir)
    val pqGot = Similarity.pqAdcTopKFromCodes(spark.read.parquet(pqDir),
        "vec_id", query, k = 10, scale = scale, codebooks = pq)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pqWant = Similarity.pqAdcTopK(df, "vec_id", "embedding", query,
        k = 10, scale = scale, codebooks = pq)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pqGot == pqWant, s"persisted PQ diverged:\n$pqGot\nvs\n$pqWant")
    // IVF-PQ: the cell-partitioned layout answers bit-equal to the
    // inline-encode path at every nProbe
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 2, scale = scale)
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-ivfpqc")
      .resolve("codes").toString
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale,
      coarse, cbs, ivfDir)
    val stored = spark.read.parquet(ivfDir)
    for (nProbe <- Seq(1, 2, 3)) {
      val got = Similarity.ivfPqTopKFromCodes(stored, "vec_id", query,
          kTop = 8, scale = scale, coarse = coarse, codebooks = cbs,
          nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val want = Similarity.ivfPqTopK(df, "vec_id", "embedding", query,
          kTop = 8, scale = scale, coarse = coarse, codebooks = cbs,
          nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want,
        s"persisted IVF-PQ diverged at nProbe=$nProbe:\n$got\nvs\n$want")
    }
    // the stored layout is partitioned by cell and carries every
    // non-null row exactly once
    assert(stored.count() == 60)
    assert(stored.select("cell").distinct().count() <= 3)
    // FIT inputs with a wrong-dimension row fail loud too (the silent
    // codebook bias / null-padded residual NPE this guard closes):
    // both the plain-PQ Lloyd scans and the residual construction
    val mixed = df.unionByName(
      Seq((98L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e1 = intercept[Exception] {
      Similarity.pqFitInt8(mixed, "vec_id", "embedding",
        m = 4, k = 3, iters = 1, scale = scale)
    }
    assert(msgs(e1).exists(_.contains("vector dimension")), msgs(e1).mkString(" | "))
    val e2 = intercept[Exception] {
      Similarity.ivfPqFit(mixed, "vec_id", "embedding",
        coarseK = 3, m = 4, k = 3, iters = 1, scale = scale)
    }
    assert(msgs(e2).exists(_.contains("vector dimension")), msgs(e2).mkString(" | "))
  }

  test("IVF-PQ index artifact round-trips; refined top-k == driver exact re-rank") {
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 2, scale = scale)
    // artifact: save + load returns the identical parameters (the
    // saveTokenizer precedent — serving jobs never re-fit)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx")
      .resolve("idx").toString
    Similarity.saveIvfPqIndex(spark, idxDir, scale, coarse, cbs)
    val (s2, c2, b2) = Similarity.loadIvfPqIndex(spark, idxDir)
    assert(s2 == scale)
    assert(c2.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq)
    assert(b2.map(_.map(_.toSeq).toSeq).toSeq == cbs.map(_.map(_.toSeq).toSeq).toSeq)
    // plain-PQ artifact: empty coarse round-trips as empty
    val pqIdxDir = java.nio.file.Files.createTempDirectory("graft-pq-idx")
      .resolve("idx").toString
    Similarity.saveIvfPqIndex(spark, pqIdxDir, scale, Array.empty, cbs)
    val (s3, c3, b3) = Similarity.loadIvfPqIndex(spark, pqIdxDir)
    assert(s3 == scale && c3.isEmpty)
    assert(b3.map(_.map(_.toSeq).toSeq).toSeq == cbs.map(_.map(_.toSeq).toSeq).toSeq)
    // refined serving: ADC top-rerank candidates from stored codes,
    // exact integer re-rank — equals the driver reference end to end
    val codesDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-rc")
      .resolve("codes").toString
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale,
      coarse, cbs, codesDir)
    val query = vecs(5)._2
    val got = Similarity.ivfPqTopKRefined(spark.read.parquet(codesDir), df,
        "vec_id", "embedding", query, kTop = 5, rerank = 12, scale = scale,
        coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 127.0 / scale + 0.5).toLong).toArray
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qq = quant(query)
    val cand = Similarity.ivfPqTopK(df, "vec_id", "embedding", query,
        kTop = 12, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byId = vecs.toMap
    val want = cand.map { case (id, cell, adc) =>
      (id, cell, adc, d2(quant(byId(id)), qq))
    }.sortBy { case (id, _, _, ex) => (ex, id) }.take(5)
    assert(got == want, s"refined top-k diverged:\n$got\nvs\n$want")
    // the exact winner can differ from the ADC winner — the refine
    // stage must actually reorder when ADC and exact disagree; assert
    // the output is exact-ordered (not adc-ordered)
    assert(got.map(_._4) == got.map(_._4).sorted)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRefined(spark.read.parquet(codesDir), df,
        "vec_id", "embedding", query, kTop = 10, rerank = 5, scale = scale,
        coarse = coarse, codebooks = cbs, nProbe = 2)
    }
    // a candidate whose raw vector was NULLED fails loud (its NULL
    // exact_dist would otherwise sort into the top slot)
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    val victim = got.head._1
    val holed = df.select(col("vec_id"),
      when(col("vec_id") === victim, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val eNull = intercept[Exception] {
      Similarity.ivfPqTopKRefined(spark.read.parquet(codesDir), holed,
        "vec_id", "embedding", query, kTop = 5, rerank = 12, scale = scale,
        coarse = coarse, codebooks = cbs, nProbe = 2).collect()
    }
    assert(msgs2(eNull).exists(_.contains("null raw vector")),
      msgs2(eNull).mkString(" | "))
    // scoring stored codes with a DIFFERENT codebook set (wrong m)
    // fails loud instead of emitting NULL distances that sort first
    val cbs2 = Similarity.pqFitInt8(df, "vec_id", "embedding",
      m = 2, k = 3, iters = 1, scale = scale)
    val pq4Dir = java.nio.file.Files.createTempDirectory("graft-pq-m4")
      .resolve("codes").toString
    val cbs4 = Similarity.pqFitInt8(df, "vec_id", "embedding",
      m = 4, k = 3, iters = 1, scale = scale)
    Similarity.savePqEncoded(df, "vec_id", "embedding", scale, cbs4, pq4Dir)
    val eM = intercept[Exception] {
      Similarity.pqAdcTopKFromCodes(spark.read.parquet(pq4Dir), "vec_id",
        query, k = 5, scale = scale, codebooks = cbs2).collect()
    }
    assert(msgs2(eM).exists(_.contains("stored code length")),
      msgs2(eM).mkString(" | "))
  }

  test("ivfPqKnnJoin == per-query ivfPqTopKFromCodes for every query") {
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 2, scale = scale)
    val dir = java.nio.file.Files.createTempDirectory("graft-knn-codes")
      .resolve("codes").toString
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale, coarse, cbs, dir)
    val codes = spark.read.parquet(dir)
    val queries = df.filter(col("vec_id") < 7)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.ivfPqKnnJoin(queries, "query_id", "embedding",
        codes, "vec_id", k = 5, scale = scale, coarse = coarse,
        codebooks = cbs, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(x => (x._1, x._5))
    val want = (0L until 7L).flatMap { qid =>
      val q = vecs(qid.toInt)._2
      Similarity.ivfPqTopKFromCodes(codes, "vec_id", q, kTop = 5,
          scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
        .collect().zipWithIndex
        .map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), r.getLong(2), (i + 1).toLong) }
    }
    assert(got == want, s"knn join diverged:\n$got\nvs\n$want")
    // the broadcastQueries=false escape hatch (big query sets at
    // production m·k: shuffle join on the cell id) returns the same
    // rows — the flag changes the JOIN STRATEGY only
    val gotNb = Similarity.ivfPqKnnJoin(queries, "query_id", "embedding",
        codes, "vec_id", k = 5, scale = scale, coarse = coarse,
        codebooks = cbs, nProbe = 2, broadcastQueries = Some(false))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(x => (x._1, x._5))
    assert(gotNb == want, s"non-broadcast knn join diverged:\n$gotNb\nvs\n$want")
    // a null query vanishes; a wrong-dimension query fails loud
    val withNull = queries.unionByName(Seq(
        (99L, null.asInstanceOf[Seq[Float]])).toDF("query_id", "embedding"))
    val okIds = Similarity.ivfPqKnnJoin(withNull, "query_id", "embedding",
        codes, "vec_id", k = 2, scale = scale, coarse = coarse,
        codebooks = cbs, nProbe = 2)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    assert(okIds == (0L until 7L).toSet)
    val bad = Seq((98L, Seq(0.1f, 0.2f))).toDF("query_id", "embedding")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      Similarity.ivfPqKnnJoin(bad, "query_id", "embedding", codes, "vec_id",
        k = 2, scale = scale, coarse = coarse, codebooks = cbs,
        nProbe = 2).collect()
    }
    assert(msgs(e).exists(_.contains("query dimension")), msgs(e).mkString(" | "))
    // bulk refined == per-query single-query refined, for every query
    val gotR = Similarity.ivfPqKnnJoinRefined(queries, "query_id",
        "embedding", codes, df, "vec_id", "embedding", k = 3, rerank = 8,
        scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq.sortBy(x => (x._1, x._6))
    val wantR = (0L until 7L).flatMap { qid =>
      val q = vecs(qid.toInt)._2
      Similarity.ivfPqTopKRefined(codes, df, "vec_id", "embedding", q,
          kTop = 3, rerank = 8, scale = scale, coarse = coarse,
          codebooks = cbs, nProbe = 2)
        .collect().zipWithIndex
        .map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            (i + 1).toLong) }
    }
    assert(gotR == wantR, s"bulk refined diverged:\n$gotR\nvs\n$wantR")
    // bulk refine keeps the single-query refine's LOUD contracts:
    // a candidate with a nulled raw vector raises WITH its id, and
    // degenerate k/rerank are rejected up front by name
    val victimR = gotR.head._2
    val holedR = df.select(col("vec_id"),
      when(col("vec_id") === victimR, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val eNullR = intercept[Exception] {
      Similarity.ivfPqKnnJoinRefined(queries, "query_id", "embedding",
        codes, holedR, "vec_id", "embedding", k = 3, rerank = 8,
        scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
        .collect()
    }
    assert(msgs(eNullR).exists(m =>
        m.contains("null raw vector") && m.contains(victimR.toString)),
      msgs(eNullR).mkString(" | "))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoinRefined(queries, "query_id", "embedding",
        codes, df, "vec_id", "embedding", k = 5, rerank = 3,
        scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoinRefined(queries, "query_id", "embedding",
        codes, df, "vec_id", "embedding", k = 0, rerank = 3,
        scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
    }
    // non-integral corpus ids refuse loud (the bottom-k tie key is an
    // id cast to long — an ANSI cast would otherwise throw mid-job)
    val strCodes = codes.select(
      concat(lit("doc_"), col("vec_id")).as("vec_id"),
      col("cell"), col("codes"))
    val eStr = intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoin(queries, "query_id", "embedding", strCodes,
        "vec_id", k = 2, scale = scale, coarse = coarse, codebooks = cbs,
        nProbe = 2)
    }
    assert(eStr.getMessage.contains("must be integral"), eStr.getMessage)
    // same-named query/corpus id columns refuse loud (ambiguous refs)
    val eDup = intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoin(
        queries.withColumnRenamed("query_id", "vec_id"), "vec_id",
        "embedding", codes, "vec_id", k = 2, scale = scale,
        coarse = coarse, codebooks = cbs, nProbe = 2)
    }
    assert(eDup.getMessage.contains("alias the query id"), eDup.getMessage)
  }

  test("pq null/dimension contracts: nulls excluded from top-k, wrong dim loud") {
    val rnd = new scala.util.Random(13)
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 8).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = base.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val pq = Similarity.pqFitInt8(df, "vec_id", "embedding",
      m = 2, k = 2, iters = 1, scale = scale)
    // a null-embedding row must NOT occupy a top-k slot (Spark's
    // ascending sort puts nulls first — the finding this spec pins)
    val withNull = df.unionByName(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val top = Similarity.pqAdcTopK(withNull, "vec_id", "embedding",
        base(0)._2, k = 5, scale = scale, codebooks = pq)
      .collect().map(_.getLong(0))
    assert(!top.contains(99L), s"null row leaked into top-k: ${top.toSeq}")
    assert(top.length == 5)
    // wrong-dimension vectors fail LOUD, never a plausible code 0
    val short = Seq((7L, Seq(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.pqAdcTopK(short, "vec_id", "embedding",
        base(0)._2, k = 1, scale = scale, codebooks = pq).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("vector dimension")), msgs(e).mkString(" | "))
  }

  test("kmeansFitInt8 recovers planted blobs, deterministically") {
    // 4 well-separated blobs in 8 dims; id order interleaves blobs so
    // the id-ordered init starts with one seed per blob
    val centers = Seq(
      Seq.fill(8)(0.9f), Seq.fill(8)(-0.9f),
      (0 until 8).map(j => if (j < 4) 0.9f else -0.9f),
      (0 until 8).map(j => if (j < 4) -0.9f else 0.9f))
    val vecs = (0 until 80).map { i =>
      val c = centers(i % 4)
      // deterministic +-0.05 jitter
      (i.toLong, c.zipWithIndex.map { case (v, j) =>
        v + (((i * 31 + j * 7) % 11) - 5) * 0.01f
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    def fit() = Similarity.kmeansFitInt8(df, "vec_id", "embedding",
      k = 4, iters = 3, scale = scale)
    val cents = fit()
    assert(cents.map(_.toSeq).toSeq == fit().map(_.toSeq).toSeq, "fit must be deterministic")
    val cells = df.select(col("vec_id"),
        DedupExpressions.kmeansAssign(
          Similarity.kmeansQuantize(col("embedding"), scale), cents).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    // every blob lands in exactly one cell, and blobs get distinct cells
    val byBlob = cells.groupBy(_._1 % 4).map { case (b, xs) => b -> xs.map(_._2).toSet }
    assert(byBlob.values.forall(_.size == 1), s"blob split across cells: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 4, s"blobs collapsed: $byBlob")
    intercept[IllegalArgumentException] {
      Similarity.kmeansFitInt8(df, "vec_id", "embedding", k = 0, iters = 1, scale = scale)
    }
    intercept[IllegalArgumentException] {
      Similarity.kmeansGlobalScale(
        Seq((1L, Seq(0f, 0f))).toDF("vec_id", "embedding"), "embedding")
    }
  }

  test("cosine on known vectors") {
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f), Seq(2f, 0f))).toDF("a", "b", "c")
    assert(df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0) == 0.0)
    assert(math.abs(df.select(Similarity.cosine(col("a"), col("c"))).head().getDouble(0) - 1.0) < 1e-9)
    assert(df.select(Similarity.dot(col("a"), col("c"))).head().getDouble(0) == 2.0)
  }

  test("bruteForceTopK ranks by cosine") {
    val df = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(-1f, 0f, 0f)))
      .toDF("id", "vec")
    val top = Similarity.bruteForceTopK(df, "id", "vec", Seq(1f, 0f, 0f), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("semanticDedup merges identical vectors whatever the anchor draw") {
    // two well-separated groups of IDENTICAL vectors: identical vectors
    // have identical cosines to every anchor, so they always share a
    // cluster, and tau=0.99 edges merge each group to its smallest id
    val df = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(1f, 0f, 0f)), (3L, Seq(1f, 0f, 0f)),
      (10L, Seq(0f, 1f, 0f)), (11L, Seq(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding", k = 2, tau = 0.99)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("canon"), r.getAs[Boolean]("kept"))).toMap
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) && out(3L) == (1L, false))
    assert(out(10L) == (10L, true) && out(11L) == (10L, false))
    // tau above any cosine: nothing merges
    val none = Similarity.semanticDedup(df, "vec_id", "embedding", k = 2, tau = 1.01)
    assert(none.filter(!col("kept")).count() == 0)
    assert(out.size == 5 &&
      Similarity.semanticDedup(df, "vec_id", "embedding", k = 2, tau = 0.99)
        .filter(col("exempted")).count() == 0)
    // over-cap cell: every member survives but is flagged, not silent.
    // 5 vectors in <= 2 cells means some cell exceeds cap=2 whatever
    // the anchor draw; exempted must equal cell-size > cap, row by row
    val capped = Similarity.semanticDedup(
        df, "vec_id", "embedding", k = 2, tau = 0.99, maxCellSize = 2L)
      .collect()
    val cells = capped.groupBy(_.getAs[Long]("cluster"))
    assert(cells.values.exists(_.length > 2))
    cells.values.foreach { rows =>
      val over = rows.length > 2
      assert(rows.forall(_.getAs[Boolean]("exempted") == over))
      if (over) assert(rows.forall(_.getAs[Boolean]("kept")))
    }
  }

  test("semanticDedup reclusterExempted recovers planted hot cells") {
    // a 40-vector angular fan with k=1 → ONE cell of 40, far over cap
    // 10: without recovery every row is exempted; with it the :anchor2
    // sub-split assigns by nearest sub-anchor over SPREAD vectors, so
    // sub-cells land under the cap and exempted drops to 0. (Identical
    // vectors would NOT split — same cosine to every sub-anchor — and
    // correctly stay exempted; that is the documented pathological
    // case, so the fixture uses distinct directions.)
    val df = (1L to 40L).map { i =>
      val th = (i - 1) * (math.Pi / 2) / 39.0
      (i, Seq(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    val plain = Similarity.semanticDedup(
      df, "vec_id", "embedding", k = 1, tau = 0.999, maxCellSize = 10L)
    assert(plain.filter(col("exempted")).count() == 40L)
    val rec = Similarity.semanticDedup(
        df, "vec_id", "embedding", k = 1, tau = 0.999, maxCellSize = 10L,
        reclusterExempted = true)
      .collect()
    assert(rec.count(_.getAs[Boolean]("exempted")) == 0)
    // structural invariants: one kept row per component, canon is the
    // component minimum, non-kept rows point at a kept canon
    val byCanon = rec.groupBy(_.getAs[Long]("canon"))
    assert(rec.count(_.getAs[Boolean]("kept")) == byCanon.size)
    byCanon.foreach { case (canon, rows) =>
      assert(rows.map(_.getAs[Long]("vec_id")).min == canon)
    }
  }

  test("cosinePairs finds the close pair only") {
    val df = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.95f, 0.05f)), (3L, Seq(0f, 1f)))
      .toDF("id", "vec")
    val pairs = Similarity.cosinePairs(df, "id", "vec", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("knnJoin: every id gets ranked neighbors; identical vectors rank first") {
    // ids 1/2 identical (cos 1.0 — must be each other's rank 1);
    // id 3 similar; id 4 orthogonal-ish but still a candidate when
    // bands collide. Every returned rank must be <= k and start at 1.
    val df = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(0.9f, 0.1f, 0f, 0f)), (4L, Seq(0f, 0f, 1f, 0f)))
      .toDF("id", "vec")
    val out = Similarity.knnJoin(df, "id", "vec", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byId = out.groupBy(_._1)
    assert(byId(1L).find(_._4 == 1).get._2 == 2L) // identical twin first
    assert(byId(2L).find(_._4 == 1).get._2 == 1L)
    assert(out.forall(r => r._4 >= 1 && r._4 <= 2))
    // symmetric candidate generation: both directions present
    assert(byId.contains(1L) && byId.contains(2L) && byId.contains(3L))
  }

  test("knnJoin auto-size with nRows runs zero jobs at build time") {
    // the carried-ADVICE no-recompute contract: passing nRows skips
    // the eager df.count() entirely — building the (lazy) result plan
    // must launch no Spark job at all.
    val df = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("id", "vec")
    val otherJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val grp = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (grp.contains("knn-zero-jobs-sentinel")) sentinelSeen.incrementAndGet()
        else otherJobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Similarity.knnJoin(df, "id", "vec", k = 1, nRows = Some(3L))
      // listener delivery is async but FIFO: run a sentinel job and
      // wait until ITS start event lands — any (incorrect) eager job
      // from the knnJoin build was posted earlier, so it must already
      // have been counted by then. No fixed sleep, no false pass.
      spark.sparkContext.setJobGroup("knn-zero-jobs-sentinel", "sentinel")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sentinelSeen.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sentinelSeen.get() >= 1, "sentinel job-start event never delivered")
      assert(otherJobs.get() == 0,
        s"nRows path launched ${otherJobs.get()} job(s)")
      assert(out.columns.toSeq ==
        Seq("id", "neighbor_id", "cos", "rk")) // plan built, still lazy
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("knnJoin rejects negative bandBits; 0 means auto-size") {
    val df = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Similarity.knnJoin(df, "id", "vec", k = 1, bandBits = -3)
    }
    assert(e.getMessage.contains("bandBits"))
  }

  test("quantizeInt8 round-trips within quantization error; cosine preserved") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 20L).map(i => (i, Seq.fill(16)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "vec")
      .withColumn("qz", Similarity.quantizeInt8(col("vec")))
      .withColumn("deq", Similarity.dequantizeInt8(col("qz")))
    // element-wise error bounded by scale/2 = max|x|/254
    val rows = df.select(col("vec"), col("deq"), col("qz").getField("scale")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0); val d = r.getSeq[Float](1); val s = r.getDouble(2)
      v.zip(d).foreach { case (x, y) =>
        assert(math.abs(x - y) <= s / 2 + 1e-6, s"err ${math.abs(x - y)} > ${s / 2}")
      }
    }
    // cosine on dequantized vectors stays close to float cosine
    val c = df.crossJoin(df.select(col("vec").as("v2"), col("deq").as("d2")).limit(1))
      .select(
        Similarity.cosine(col("vec"), col("v2")).as("exact"),
        Similarity.cosine(col("deq"), col("d2")).as("approx"))
      .collect()
    c.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.02))
  }

  test("annTopK finds the planted nearest neighbor") {
    val dim = 8
    val rng = new scala.util.Random(3)
    val vecs = (0L until 50L).map(i => i -> Array.fill(dim)(rng.nextGaussian().toFloat))
    val q = vecs(7)._2.map(v => v + 0.01f * rng.nextGaussian().toFloat)
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")
    val got = Similarity.annTopK(df, "id", "vec", q.toSeq, k = 3)
      .collect().map(_.getLong(0))
    assert(got.contains(7L))
  }

  test("LshBandExpr matches the driver-side twin bit-for-bit (oracle invariant)") {
    val rng = new scala.util.Random(17)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(64)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "vec")
    val got = df.select(col("id"),
        DedupExpressions.lshBand(col("vec"), 3, 16).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (i, v) =>
      assert(got(i) == Similarity.lshBandOf(v, 3, 16), s"vec $i")
    }
  }

  test("randomProject: deterministic, exact power-of-2 linearity, independent offsets") {
    val rng = new scala.util.Random(23)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(64)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "vec")
    def proj(c: org.apache.spark.sql.Column, off: Int) =
      Similarity.randomProject(c, k = 4, planeOffset = off)
    val a = df.select(col("id"), proj(col("vec"), 0).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = df.select(col("id"), proj(col("vec"), 0).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b) // deterministic
    assert(a.values.forall(_.length == 4))
    // scaling by 2 is exact in IEEE, so projection commutes with it
    val doubled = df.select(col("id"),
        proj(transform(col("vec"), x => x * lit(2.0f)), 0).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.foreach { case (i, _) =>
      assert(doubled(i) == a(i).map(_ * 2.0), s"vec $i") }
    // a different plane offset draws an independent sign matrix
    val other = df.select(col("id"), proj(col("vec"), 500).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(vecs.exists { case (i, _) => other(i) != a(i) })
  }

  test("MinHashSigExpr / SimHash64Expr match their Column-composed twins (oracle invariant)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "spark catalyst plans optimize declarative queries",
      "short", "", "a b", "repeated words repeated words repeated words")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val expr = df.select(col("id"),
        DedupExpressions.minhashSig(col("text"), 16).as("sig"),
        DedupExpressions.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val cols = df.select(col("id"),
        Dedup.minhashSignature(col("text"), 16).as("sig"),
        Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    texts.indices.foreach { i =>
      assert(expr(i)._1 == cols(i)._1, s"minhash sig diverged for doc $i")
      assert(expr(i)._2 == cols(i)._2, s"simhash diverged for doc $i")
    }
  }

  test("minhashPairsFromSigs (persisted-signature path) matches minhashPairs") {
    val docs = (0L until 60L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      (i, if (i % 4 == 0) base else s"$base doc $i variant ${i % 7} tail words here")
    }.toDF("doc_id", "text")
    val direct = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sigs = docs.select(col("doc_id").as("id"),
      DedupExpressions.minhashSig(col("text"), 64).as("sig"))
    val fromSigs = Dedup.minhashPairsFromSigs(sigs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(direct == fromSigs && direct.nonEmpty)
  }

  test("cosinePairsLsh result is a subset of exact cosinePairs; high-sim pairs kept") {
    val rng = new scala.util.Random(5)
    val base = Array.fill(16)(rng.nextGaussian().toFloat)
    val vecs = (0L until 30L).map { i =>
      if (i % 3 == 0) // planted near-dups of `base`
        (i, base.map(v => v + 0.02f * rng.nextGaussian().toFloat).toSeq)
      else (i, Seq.fill(16)(rng.nextGaussian().toFloat))
    }
    val df = vecs.toDF("id", "vec")
    val exact = Similarity.cosinePairs(df, "id", "vec", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(df, "id", "vec", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    // planted clones are ~identical: every band agrees -> full recall
    assert(lsh == exact)
  }

  test("scrubPii redacts urls, emails, ips; piiCounts counts them") {
    val df = Seq(
      "mail me at a.b+c@test-site.org or see https://x.y/z?a=1 from 192.168.0.1 ok",
      "clean text with no pii at all").toDF("text")
    val rows = df.select(
      TextFunctions.scrubPii(col("text")).as("s"),
      TextFunctions.piiCounts(col("text")).as("p")).collect()
    assert(rows(0).getString(0) == "mail me at <EMAIL> or see <URL> from <IP> ok")
    assert(rows(0).getStruct(1).toSeq == Seq(1L, 1L, 1L))
    assert(rows(1).getString(0) == "clean text with no pii at all")
    assert(rows(1).getStruct(1).toSeq == Seq(0L, 0L, 0L))
  }

  test("repetitionRatio: 0 for distinct text, high for boilerplate loops") {
    val df = Seq(
      "one two three four five six seven eight",            // all distinct 3-grams
      ("spam ham eggs " * 20).trim                          // heavy repetition
    ).toDF("text")
    val r = df.select(TextFunctions.repetitionRatio(col("text")).as("r"))
      .collect().map(_.getDouble(0))
    assert(r(0) == 0.0)
    assert(r(1) > 0.9)
  }

  test("connectedComponents matches a BFS reference on a random graph") {
    val rng = new scala.util.Random(21)
    val n = 60
    val edges = (0 until 80).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // BFS reference
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    edges.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!expected.contains(start)) {
        var frontier = List(start); val seen = scala.collection.mutable.Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).filterNot(seen)
          frontier.foreach(seen.add)
        }
        val root = seen.min
        seen.foreach(v => expected(v) = root)
      }
    }
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap)
  }

  test("connectedComponents registers its last pin; releaseAllPins reclaims it") {
    val sc = spark.sparkContext
    val comps = Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
    assert(comps.collect().length == 5)
    val pins = Pins.registered(comps)
    assert(pins.nonEmpty && pins.forall(sc.getPersistentRDDs.contains),
      "the last round's pin must be live and registered on the result")
    assert(Curation.releaseAllPins(spark) >= pins.size)
    assert(pins.forall(id => !sc.getPersistentRDDs.contains(id)),
      "releaseAllPins must unpersist the connectedComponents pin")
  }

  test("connectedComponents feeds contamination-safe hashSplit keys") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
    val split = Curation.hashSplit(comps, col("component"), Seq(0.5, 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every member of a component lands in the same split
    split.groupBy(_._2).values.foreach { grp =>
      assert(grp.map(_._3).distinct.length == 1)
    }
  }

  test("ivf_cell-partitioned layout: the probe filter partition-prunes the scan") {
    val rng = new scala.util.Random(23)
    val vecs = (0L until 400L).map(i => (i, Seq.fill(16)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "vec")
    val cents = Similarity.ivfFit(df, "id", "vec", k = 4, sampleN = 400)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").resolve("v").toString
    df.withColumn("ivf_cell", Similarity.ivfAssign(col("vec"), cents))
      .write.partitionBy("ivf_cell").parquet(tmp)
    val all = spark.read.parquet(tmp)
    val probe = all.filter(col("ivf_cell") === 0)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"), plan)
    // pruned scan reads exactly the cell's rows
    val cell0 = df.withColumn("c", Similarity.ivfAssign(col("vec"), cents))
      .filter(col("c") === 0).count()
    assert(probe.count() == cell0 && cell0 > 0)
  }

  test("saveIvfPartitioned: persisted layout partition-prunes annTopKIvf") {
    val rng = new scala.util.Random(31)
    val vecs = (0L until 300L).map(i => (i, Seq.fill(16)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("_oid", "vec")
      .withColumn(graft.model.Meta.START, lit(0.0))
      .withColumn(graft.model.Meta.END, lit(null).cast("double"))
    val cents = Similarity.ivfFit(df, "_oid", "vec", k = 4, sampleN = 300)
    val p = java.nio.file.Files.createTempDirectory("graft-ivfc").resolve("t").toString
    val c = new graft.store.Container(spark, "t", df, Some(p))
      .saveIvfPartitioned("vec", cents)
    val q = vecs(7)._2
    val persisted = Similarity.annTopKIvf(c.df, "_oid", "vec", q, k = 3, cents, nProbe = 2)
    val plan = persisted.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the probe filter lands on the stored partition column -> pruning
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"), plan)
    val fresh = Similarity.annTopKIvf(df, "_oid", "vec", q, k = 3, cents, nProbe = 2)
    assert(persisted.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      fresh.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("ivfFit + annTopKIvf recover the brute-force top-3") {
    val rng = new scala.util.Random(9)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "vec")
    val cents = Similarity.ivfFit(df, "id", "vec", k = 4, sampleN = 200)
    assert(cents.length == 4)
    // centroids unit-normalized
    cents.foreach(c => assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
    val q = vecs(13)._2
    val ann = Similarity.annTopKIvf(df, "id", "vec", q, k = 3, cents, nProbe = 2)
      .collect().map(_.getLong(0))
    assert(ann.contains(13L)) // its own cell is always probed first
  }

  test("annTopKIvfQuantized matches the float IVF top-k after rerank") {
    val rng = new scala.util.Random(9)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "vec")
    val cents = Similarity.ivfFit(df, "id", "vec", k = 4, sampleN = 200)
    val q = vecs(13)._2
    val fl = Similarity.annTopKIvf(df, "id", "vec", q, k = 3, cents, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    val qz = Similarity.annTopKIvfQuantized(df, "id", "vec", q, k = 3, cents, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    // same candidate cells + float rerank: int8 approximation must not
    // change the final top-3
    assert(qz == fl)
  }

  test("compactIvfPqLayout: many append batches -> <= filesPerCell files, bit-equal serving") {
    val rnd = new scala.util.Random(53)
    val vecs = (0 until 80).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale)
    val root = java.nio.file.Files.createTempDirectory("graft-cmp-t")
    val dir = root.resolve("codes").toString
    Similarity.saveIvfPqEncoded(df.filter(col("vec_id") % 8 === 0),
      "vec_id", "embedding", scale, coarse, cbs, dir)
    (1 to 7).foreach { i =>
      Similarity.appendIvfPqEncoded(df.filter(col("vec_id") % 8 === i),
        "vec_id", "embedding", scale, coarse, cbs, dir)
    }
    def cellFiles(): Map[String, Int] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(c => c.getName ->
          c.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val before = cellFiles()
    assert(before.values.max >= 8,
      s"append batches should fragment a cell dir, got $before")
    val q = vecs(5)._2
    val want = Similarity.ivfPqTopKFromCodes(spark.read.parquet(dir), "vec_id",
        q, kTop = 7, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Similarity.compactIvfPqLayout(spark, dir, filesPerCell = 1)
    val after = cellFiles()
    assert(after.keySet == before.keySet, s"compaction changed cells: $after")
    assert(after.values.max == 1, s"expected 1 file per cell, got $after")
    val got = Similarity.ivfPqTopKFromCodes(spark.read.parquet(dir), "vec_id",
        q, kTop = 7, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"compaction changed values:\n$got\nvs\n$want")
    // no staging/retired leftovers after a clean swap
    val sibs = root.toFile.listFiles().map(_.getName).toSet
    assert(sibs == Set("codes"), s"staged dirs leaked: $sibs")
    // crash recovery: a crash between the two renames leaves the
    // layout at `_retired` only; the next maintenance call restores
    // it before proceeding (self-healing)
    val codesDir = root.resolve("codes")
    val retiredDir = root.resolve("codes_retired")
    java.nio.file.Files.move(codesDir, retiredDir)
    Similarity.compactIvfPqLayout(spark, dir, filesPerCell = 1)
    assert(java.nio.file.Files.exists(codesDir) &&
      !java.nio.file.Files.exists(retiredDir))
    val healed = Similarity.ivfPqTopKFromCodes(spark.read.parquet(dir), "vec_id",
        q, kTop = 7, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(healed == want, "recovery from the crash window lost rows")
    // the health report matches the filesystem AND the stored rows,
    // and the threshold policy skips a healthy layout / fires on a
    // fragmented one
    val stats = Similarity.ivfPqLayoutStats(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats.keySet == cellFiles().keySet.map(_.stripPrefix("cell=").toLong))
    stats.foreach { case (c, (nRows, nFiles)) =>
      assert(nFiles == cellFiles()(s"cell=$c"), s"cell $c file count")
      assert(nRows > 0)
    }
    assert(stats.values.map(_._1).sum ==
      spark.read.parquet(dir).count(), "stats row counts != layout rows")
    assert(!Similarity.compactIvfPqLayoutIfNeeded(spark, dir, maxFilesPerCell = 4),
      "healthy layout must not be rewritten")
    // fragment again with FRESH ids (duplicating existing ids would
    // legitimately change serving output — appends are not idempotent)
    val extra = (80 until 96).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.appendIvfPqEncoded(extra.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", scale, coarse, cbs, dir)
    Similarity.appendIvfPqEncoded(extra.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", scale, coarse, cbs, dir)
    def serve(): Seq[(Long, Long, Long)] =
      Similarity.ivfPqTopKFromCodes(spark.read.parquet(dir), "vec_id",
          q, kTop = 7, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want2 = serve()
    // some cell now holds >= 3 file sets (post-compaction 1 + two appends)
    assert(Similarity.compactIvfPqLayoutIfNeeded(spark, dir, maxFilesPerCell = 2),
      "fragmented layout must compact")
    assert(cellFiles().values.max == 1)
    assert(serve() == want2, "threshold compaction changed values")
    // filesPerCell > 1 splits deterministically and stays bit-equal
    Similarity.compactIvfPqLayout(spark, dir, filesPerCell = 2)
    assert(cellFiles().values.max <= 2)
    assert(serve() == want2)
  }

  test("compactIvfPqCells: only dirty cells rewritten, serving bit-equal, crash-safe") {
    val rnd = new scala.util.Random(97)
    val vecs = (0 until 70).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale)
    val root = java.nio.file.Files.createTempDirectory("graft-cellcmp-t")
    val dir = root.resolve("codes").toString
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale, coarse, cbs, dir)
    Similarity.compactIvfPqLayout(spark, dir)          // baseline: 1 file/cell
    // dirty exactly ONE cell: append only rows assigned to it
    val byCell = Similarity.ivfPqEncode(df, "vec_id", "embedding", scale, coarse, cbs)
      .select("vec_id", "cell").collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val hot = byCell.maxBy(_._2.size)._1
    val hotRows = df.filter(col("vec_id").isInCollection(byCell(hot)))
    (1 to 3).foreach { _ =>
      Similarity.appendIvfPqEncoded(hotRows, "vec_id", "embedding",
        scale, coarse, cbs, dir)
    }
    def cellFileNames(): Map[String, Set[String]] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(c => c.getName ->
          c.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
        .toMap
    }
    val before = cellFileNames()
    assert(before(s"cell=$hot").size > 2,
      s"hot cell should be fragmented past the threshold: $before")
    assert(before.filterKeys(_ != s"cell=$hot").values.forall(_.size == 1))
    val q = vecs(3)._2
    def serve(): Seq[(Long, Long, Long)] =
      Similarity.ivfPqTopKFromCodes(spark.read.parquet(dir), "vec_id",
          q, kTop = 9, scale = scale, coarse = coarse, codebooks = cbs,
          nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = serve()
    // incremental threshold pass touches ONLY the dirty cell
    assert(Similarity.compactIvfPqLayoutIfNeeded(spark, dir,
      maxFilesPerCell = 2, incremental = true))
    val after = cellFileNames()
    assert(after(s"cell=$hot").size == 1, s"dirty cell not compacted: $after")
    before.filterKeys(_ != s"cell=$hot").foreach { case (c, files) =>
      assert(after(c) == files, s"clean cell $c was rewritten")
    }
    assert(serve() == want, "incremental compaction changed values")
    // no stage/retired leftovers beside the layout
    assert(root.toFile.listFiles().map(_.getName).toSet == Set("codes"))
    // crash window: the hot cell left at _cellretired only; the next
    // maintenance entry (stats here) self-heals before listing
    val cellDir = java.nio.file.Paths.get(dir, s"cell=$hot")
    val retired = java.nio.file.Paths.get(s"${dir}_cellretired", hot.toString)
    java.nio.file.Files.createDirectories(retired.getParent)
    java.nio.file.Files.move(cellDir, retired)
    val stats = Similarity.ivfPqLayoutStats(spark, dir)
      .collect().map(r => r.getLong(0)).toSet
    assert(stats.contains(hot.toLong), "crash recovery lost the retired cell")
    assert(java.nio.file.Files.exists(cellDir) &&
      !java.nio.file.Files.exists(retired.getParent))
    assert(serve() == want, "recovery from the per-cell crash window lost rows")
    // unknown cell fails loud
    intercept[IllegalArgumentException] {
      Similarity.compactIvfPqCells(spark, dir, Seq(999L))
    }
  }

  test("repairIvfPqLayout drops codes whose id left raw; refine serves the survivors") {
    val rnd = new scala.util.Random(59)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale)
    val dir = java.nio.file.Files.createTempDirectory("graft-rep-t")
      .resolve("codes").toString
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale, coarse, cbs, dir)
    // "delete" a third of the corpus from raw AFTER the layout exists
    val surviving = df.filter(col("vec_id") % 3 =!= 1)
    Similarity.repairIvfPqLayout(spark, dir, surviving, "vec_id")
    val ids = spark.read.parquet(dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == vecs.map(_._1).filter(_ % 3 != 1).toSet,
      "repair must keep exactly the surviving ids")
    // the refined path now works over the repaired layout: candidates
    // all resolve in raw (codes subset-of raw restored), and the result
    // equals refining over codes encoded from the surviving corpus
    val q = vecs(2)._2
    val got = Similarity.ivfPqTopKRefined(spark.read.parquet(dir), surviving,
        "vec_id", "embedding", q, kTop = 5, rerank = 12, scale = scale,
        coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val want = Similarity.ivfPqTopKRefined(
        Similarity.ivfPqEncode(surviving, "vec_id", "embedding", scale, coarse, cbs),
        surviving, "vec_id", "embedding", q, kTop = 5, rerank = 12,
        scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got == want, s"repaired refine diverged:\n$got\nvs\n$want")
  }

  test("repairIvfPqCells: O(delta) delete sync — clean cells byte-identical, crash-safe, idempotent") {
    val rnd = new scala.util.Random(59)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale)
    val root = java.nio.file.Files.createTempDirectory("graft-repc-t")
    val dir = root.resolve("codes").toString
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale, coarse, cbs, dir)
    Similarity.compactIvfPqLayout(spark, dir) // baseline: 1 file/cell
    // delete ids from ONE cell only — the O(delta) scenario
    val byCell = Similarity.ivfPqEncode(df, "vec_id", "embedding", scale, coarse, cbs)
      .select("vec_id", "cell").collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val hot = byCell.maxBy(_._2.size)._1
    val deletedIds = byCell(hot).toSeq.sorted.take(3)
    val surviving = df.filter(!col("vec_id").isInCollection(deletedIds))
    def cellBytes(): Map[String, Map[String, Seq[Byte]]] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(c => c.getName -> c.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName ->
            java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap)
        .toMap
    }
    val before = cellBytes()
    val repaired = Similarity.repairIvfPqCells(spark, dir, surviving, "vec_id")
    assert(repaired == Seq(hot.toLong),
      s"only the cell holding deleted ids is dirty, got $repaired")
    val after = cellBytes()
    // clean cells: files BYTE-IDENTICAL (same names, same content)
    before.filterKeys(_ != s"cell=$hot").foreach { case (c, files) =>
      assert(after(c) == files, s"clean cell $c was rewritten")
    }
    // the layout now holds exactly the surviving ids
    val ids = spark.read.parquet(dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == vecs.map(_._1).toSet -- deletedIds)
    // refined serving == refining over codes encoded from the survivors
    val q = vecs(2)._2
    def refined(codes: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Similarity.ivfPqTopKRefined(codes, surviving, "vec_id", "embedding",
          q, kTop = 5, rerank = 12, scale = scale, coarse = coarse,
          codebooks = cbs, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(refined(spark.read.parquet(dir)) ==
      refined(Similarity.ivfPqEncode(surviving, "vec_id", "embedding",
        scale, coarse, cbs)), "per-cell repaired refine diverged")
    // idempotence: the contract already holds -> no dirty cells, and
    // the ENTIRE layout (including the repaired cell) is byte-untouched
    assert(Similarity.repairIvfPqCells(spark, dir, surviving, "vec_id").isEmpty)
    assert(cellBytes() == after, "idempotent repair must not move bytes")
    // no stage/retired leftovers beside the layout
    assert(root.toFile.listFiles().map(_.getName).toSet == Set("codes"))
    // per-cell crash window: repaired cell left at _cellretired only;
    // the next repair call self-heals before discovery
    val cellDir = java.nio.file.Paths.get(dir, s"cell=$hot")
    val retired = java.nio.file.Paths.get(s"${dir}_cellretired", hot.toString)
    java.nio.file.Files.createDirectories(retired.getParent)
    java.nio.file.Files.move(cellDir, retired)
    assert(Similarity.repairIvfPqCells(spark, dir, surviving, "vec_id").isEmpty)
    assert(java.nio.file.Files.exists(cellDir) &&
      !java.nio.file.Files.exists(retired.getParent))
    assert(spark.read.parquet(dir).count() == surviving.count(),
      "crash recovery lost the retired cell")
    // a cell whose EVERY row is deleted keeps one empty file — readers
    // see zero rows from it, serving stays correct
    val cold = byCell.keys.filter(_ != hot).minBy(c => byCell(c).size)
    val surviving2 = surviving.filter(!col("vec_id").isInCollection(byCell(cold)))
    val repaired2 = Similarity.repairIvfPqCells(spark, dir, surviving2, "vec_id")
    assert(repaired2 == Seq(cold.toLong))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"cell=$cold")))
    val ids2 = spark.read.parquet(dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids2 == ids -- byCell(cold))
  }

  test("maintainIvfPqLayout: recall floor triggers refit; healthy tick is a byte-identical no-op") {
    val rnd = new scala.util.Random(73)
    val base = (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val drift = (50 until 90).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 4 - 2).toFloat))
    }
    val baseDf = base.toDF("vec_id", "embedding")
    val full = (base ++ drift).toDF("vec_id", "embedding")
    val scale0 = Similarity.kmeansGlobalScale(baseDf, "embedding")
    val (c0, b0) = Similarity.ivfPqFit(baseDf, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale0)
    val root = java.nio.file.Files.createTempDirectory("graft-maint-t")
    val dir = root.resolve("codes").toString
    Similarity.saveIvfPqEncoded(baseDf, "vec_id", "embedding", scale0, c0, b0, dir)
    Similarity.appendIvfPqEncoded(drift.toDF("vec_id", "embedding"),
      "vec_id", "embedding", scale0, c0, b0, dir)
    // the drifted rows are the poorly-served sample under the stale
    // quantizer — deterministic for this seed, recall < 1000
    val qdf = drift.take(8).toDF("query_id", "embedding")
    val m = Similarity.maintainIvfPqLayout(spark, dir, full, "vec_id",
      "embedding", qdf, "query_id", "embedding", scale0, c0, b0,
      k = 5, nProbe = 2, maxFilesPerCell = 8, recallFloorPermille = 1000,
      refitIters = 1)
    assert(m.recallPermille < 1000,
      s"drift scenario must show degraded recall, got ${m.recallPermille}")
    assert(m.repairedCells.isEmpty && !m.compacted,
      s"no deletes, healthy file counts: $m")
    assert(m.refitParams.nonEmpty, "recall below floor must trigger the refit")
    val (s1, c1, b1) = m.refitParams.get
    // refit fit == a fresh fit on the current corpus (the republish params)
    val sWant = Similarity.kmeansGlobalScale(full, "embedding")
    val (cW, bW) = Similarity.ivfPqFit(full, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = sWant)
    assert(s1 == sWant && c1.map(_.toSeq).toSeq == cW.map(_.toSeq).toSeq &&
      b1.map(_.map(_.toSeq).toSeq).toSeq == bW.map(_.map(_.toSeq).toSeq).toSeq)
    // healthy steady-state tick under the NEW params: byte-identical no-op
    def layoutBytes(): Map[String, Seq[Byte]] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
          .map(p => p.toString ->
            java.nio.file.Files.readAllBytes(p).toSeq).toMap
      } finally walk.close()
    }
    val beforeTick = layoutBytes()
    val m2 = Similarity.maintainIvfPqLayout(spark, dir, full, "vec_id",
      "embedding", qdf, "query_id", "embedding", s1, c1, b1,
      k = 5, nProbe = 2, maxFilesPerCell = 8, recallFloorPermille = 0,
      refitIters = 1)
    assert(m2.repairedCells.isEmpty && !m2.compacted && m2.refitParams.isEmpty,
      s"healthy tick must take no action: $m2")
    assert(layoutBytes() == beforeTick, "healthy tick must not move bytes")
    // an empty query sample reads as no-evidence (1000), never a refit
    val m3 = Similarity.maintainIvfPqLayout(spark, dir, full, "vec_id",
      "embedding", qdf.filter(col("query_id") < 0), "query_id", "embedding",
      s1, c1, b1, k = 5, nProbe = 2, maxFilesPerCell = 8,
      recallFloorPermille = 1000, refitIters = 1)
    assert(m3.recallPermille == 1000L && m3.refitParams.isEmpty)
  }

  test("restoreRetiredLayout drops a stale whole-layout _retired copy (crash after swap)") {
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 30).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 2, m = 4, k = 2, iters = 1, scale = scale)
    val root = java.nio.file.Files.createTempDirectory("graft-retired-t")
    val dir = root.resolve("codes")
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale, coarse, cbs,
      dir.toString)
    val want = spark.read.parquet(dir.toString).count()
    // crash after the SECOND rename but before the delete: target AND
    // _retired both exist; the retired copy is the just-replaced
    // layout and must be dropped by the next maintenance entry
    val retired = root.resolve("codes_retired")
    java.nio.file.Files.createDirectories(retired)
    java.nio.file.Files.walk(dir).forEach { p =>
      val t = retired.resolve(dir.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    Similarity.ivfPqLayoutStats(spark, dir.toString).collect()
    assert(!java.nio.file.Files.exists(retired),
      "stale _retired copy must be dropped when the live layout exists")
    assert(spark.read.parquet(dir.toString).count() == want)
  }

  test("refitIvfPqLayout: drifted corpus re-fit, re-encode, crash-safe swap") {
    val rnd = new scala.util.Random(73)
    val base = (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    // the drift: later ingest with twice the spread — the stale
    // quantizer's scale/centroids no longer fit it
    val drift = (50 until 90).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 4 - 2).toFloat))
    }
    val baseDf = base.toDF("vec_id", "embedding")
    val full = (base ++ drift).toDF("vec_id", "embedding")
    val scale0 = Similarity.kmeansGlobalScale(baseDf, "embedding")
    val (c0, b0) = Similarity.ivfPqFit(baseDf, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale0)
    val root = java.nio.file.Files.createTempDirectory("graft-refit-t")
    val dir = root.resolve("codes").toString
    Similarity.saveIvfPqEncoded(baseDf, "vec_id", "embedding", scale0, c0, b0, dir)
    Similarity.appendIvfPqEncoded(drift.toDF("vec_id", "embedding"),
      "vec_id", "embedding", scale0, c0, b0, dir)
    val (s1, c1, b1) = Similarity.refitIvfPqLayout(spark, dir, full,
      "vec_id", "embedding", coarseK = 3, m = 4, k = 3, iters = 1)
    // returned params == a fresh fit on the full corpus
    val sWant = Similarity.kmeansGlobalScale(full, "embedding")
    val (cW, bW) = Similarity.ivfPqFit(full, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = sWant)
    assert(s1 == sWant, "refit scale")
    assert(c1.map(_.toSeq).toSeq == cW.map(_.toSeq).toSeq, "refit coarse")
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq ==
      bW.map(_.map(_.toSeq).toSeq).toSeq, "refit codebooks")
    // stored rows == a fresh encode under the new params
    def rowSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Seq[Int])] =
      df.select(col("vec_id"), col("cell").cast("long"), col("codes"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    assert(rowSet(spark.read.parquet(dir)) ==
      rowSet(Similarity.ivfPqEncode(full, "vec_id", "embedding", s1, c1, b1)),
      "refitted layout rows != fresh encode")
    // clean swap: no staging/retired leftovers
    assert(root.toFile.listFiles().map(_.getName).toSet == Set("codes"))
    // serving over the refitted layout == serving over a fresh save
    val q = drift.head._2
    def serve(path: String): Seq[(Long, Long, Long)] =
      Similarity.ivfPqTopKFromCodes(spark.read.parquet(path), "vec_id",
          q, kTop = 7, scale = s1, coarse = c1, codebooks = b1, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fresh = root.resolve("fresh").toString
    Similarity.saveIvfPqEncoded(full, "vec_id", "embedding", s1, c1, b1, fresh)
    assert(serve(dir) == serve(fresh), "refit serving diverged from fresh save")
  }

  test("fused encode kernel == staged driver reference; loud contracts") {
    val rnd = new scala.util.Random(89)
    val vecs = (0 until 40).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale)
    // driver re-derivation of the whole chain: quantize -> coarse
    // argmin (strict <) -> residual -> per-sub argmin
    def refEncode(v: Seq[Float]): (Int, Seq[Int]) = {
      val q = Similarity.quantizeQueryVec(v, scale).toArray
      def l2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val cell = coarse.zipWithIndex.minBy { case (c, i) => (l2(q, c), i) }._2
      val r = q.zip(coarse(cell)).map { case (a, b) => a - b }
      val ds = cbs(0)(0).length
      val codes = cbs.zipWithIndex.map { case (cb, sub) =>
        val sl = r.slice(sub * ds, sub * ds + ds)
        cb.zipWithIndex.minBy { case (c, i) => (l2(sl, c), i) }._2
      }
      (cell, codes.toSeq)
    }
    val got = Similarity.ivfPqEncode(df, "vec_id", "embedding", scale, coarse, cbs)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == refEncode(v), s"row $id")
    }
    // plain PQ: same kernel, no coarse stage
    val pq = Similarity.pqFitInt8(df, "vec_id", "embedding",
      m = 4, k = 3, iters = 1, scale = scale)
    val gotPq = Similarity.pqEncode(df, "vec_id", "embedding", scale, pq)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.take(5).foreach { case (id, v) =>
      val q = Similarity.quantizeQueryVec(v, scale).toArray
      val ds = pq(0)(0).length
      val want = pq.zipWithIndex.map { case (cb, sub) =>
        val sl = q.slice(sub * ds, sub * ds + ds)
        cb.zipWithIndex.minBy { case (c, i) =>
          (sl.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, i) }._2
      }.toSeq
      assert(gotPq(id) == want, s"pq row $id")
    }
    // contracts: null vector dropped; wrong dim and null element loud
    val withNull = df.union(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    assert(!Similarity.ivfPqEncode(withNull, "vec_id", "embedding",
      scale, coarse, cbs).collect().map(_.getLong(0)).contains(99L))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val short = Seq((7L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Similarity.ivfPqEncode(short, "vec_id", "embedding", scale, coarse, cbs)
        .collect()
    }
    assert(msgs(e1).exists(_.contains("vector dimension")), msgs(e1).mkString(" | "))
    val holed = spark.sql(
      "SELECT 7L AS vec_id, array(" +
        (0 until 16).map(i => if (i == 3) "CAST(NULL AS FLOAT)" else s"CAST(0.$i AS FLOAT)")
          .mkString(", ") + ") AS embedding")
    val e2 = intercept[Exception] {
      Similarity.ivfPqEncode(holed, "vec_id", "embedding", scale, coarse, cbs)
        .collect()
    }
    assert(msgs(e2).exists(_.contains("null vector component")), msgs(e2).mkString(" | "))
    // numeric-array parity: an INTEGER vector column encodes exactly
    // like its float cast (the pre-kernel chain quantized any numeric
    // array via x.cast("double"))
    val intDf = spark.sql("SELECT 1L AS vec_id, array(" +
      (1 to 16).mkString(", ") + ") AS embedding")
    val gotInt = Similarity.ivfPqEncode(intDf, "vec_id", "embedding",
        scale, coarse, cbs)
      .collect().map(r => (r.getInt(1), r.getSeq[Int](2))).head
    assert(gotInt == refEncode((1 to 16).map(_.toFloat)), "int-array encode")
  }

  test("intL2 kernel: reference math, null array, dim mismatch, null element") {
    val rnd = new scala.util.Random(61)
    val rows = (0 until 40).map { i =>
      (i.toLong,
        Seq.fill(8)(rnd.between(-100L, 100L)),
        Seq.fill(8)(rnd.between(-100L, 100L)))
    }
    val got = rows.toDF("id", "a", "b")
      .select(col("id"), DedupExpressions.intL2(col("a"), col("b"), "spec").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, a, b) =>
      val want = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(got(id) == want, s"id $id")
    }
    // null array -> null (the caller's null contract)
    val n = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) a, array(1L, 2L) b")
      .select(DedupExpressions.intL2(col("a"), col("b"), "spec")).collect()
    assert(n(0).isNullAt(0))
    // dimension mismatch fails loud with the caller's context
    val e1 = intercept[Exception] {
      spark.sql("SELECT array(1L, 2L, 3L) a, array(1L, 2L) b")
        .select(DedupExpressions.intL2(col("a"), col("b"), "specctx")).collect()
    }
    assert(e1.getMessage.contains("specctx") && e1.getMessage.contains("dimension"),
      e1.getMessage)
    // a null ELEMENT fails loud (UnsafeArrayData would read it as 0)
    val e2 = intercept[Exception] {
      spark.sql("SELECT array(1L, NULL, 3L) a, array(1L, 2L, 3L) b")
        .select(DedupExpressions.intL2(col("a"), col("b"), "specctx")).collect()
    }
    assert(e2.getMessage.contains("null vector component"), e2.getMessage)
  }

  test("exactQuantizedKnnJoin == driver brute force; null vectors dropped; string-id fallback") {
    val rnd = new scala.util.Random(67)
    val vecs = (0 until 50).map { i =>
      (i.toLong, (0 until 8).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
      .union(Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    def quant(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 127.0 / scale + 0.5).toLong)
    def dist(a: Seq[Float], b: Seq[Float]): Long =
      quant(a).zip(quant(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val queries = df.filter(col("vec_id") < 3 || col("vec_id") === 99)
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = Similarity.exactQuantizedKnnJoin(queries, "qid", "embedding",
        df, "vec_id", "embedding", k = 4, scale = scale)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (q <- 0L until 3L) {
      val want = vecs.map { case (id, v) => (id, dist(v, vecs(q.toInt)._2)) }
        .sortBy { case (id, d) => (d, id) }.take(4)
      val g = got.filter(_._1 == q).sortBy(_._4).map(r => (r._2, r._3)).toSeq
      assert(g == want, s"query $q:\n$g\nvs\n$want")
    }
    assert(!got.exists(_._1 == 99L), "null-vector query must be dropped")
    assert(!got.exists(_._2 == 99L), "null corpus vector must be dropped")
    // same-name id columns are a silent-collision hazard -> loud
    intercept[IllegalArgumentException] {
      Similarity.exactQuantizedKnnJoin(
        df, "vec_id", "embedding", df, "vec_id", "embedding", 4, scale)
    }
    // string corpus ids keep the window path; ranks tie on the RAW id
    val sdf = df.select(concat(lit("v"), col("vec_id")).as("vec_id"), col("embedding"))
    val sGot = Similarity.exactQuantizedKnnJoin(queries, "qid", "embedding",
        sdf, "vec_id", "embedding", k = 4, scale = scale)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    for (q <- 0L until 3L) {
      val want = vecs.map { case (id, v) => (s"v$id", dist(v, vecs(q.toInt)._2)) }
        .sortBy { case (id, d) => (d, id) }.take(4)
      val g = sGot.filter(_._1 == q).sortBy(_._4).map(r => (r._2, r._3)).toSeq
      assert(g == want, s"string-id query $q:\n$g\nvs\n$want")
    }
  }

  test("ivfPqRecallReport = per-query intersection of the ANN and exact top-k") {
    val rnd = new scala.util.Random(71)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until 16).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 3, m = 4, k = 3, iters = 1, scale = scale)
    val dir = java.nio.file.Files.createTempDirectory("graft-rec-t")
      .resolve("codes").toString
    Similarity.saveIvfPqEncoded(df, "vec_id", "embedding", scale, coarse, cbs, dir)
    val queries = df.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding"))
    val k = 5
    val report = Similarity.ivfPqRecallReport(spark.read.parquet(dir), df,
        queries, "qid", "embedding", "vec_id", "embedding",
        k = k, scale = scale, coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val annSets = Similarity.ivfPqKnnJoin(queries, "qid", "embedding",
        spark.read.parquet(dir), "vec_id", k = k, scale = scale,
        coarse = coarse, codebooks = cbs, nProbe = 2)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val trueSets = Similarity.exactQuantizedKnnJoin(queries, "qid", "embedding",
        df, "vec_id", "embedding", k = k, scale = scale)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(report.keySet == (0L until 4L).toSet)
    report.foreach { case (q, (nTrue, nHit, permille)) =>
      val want = (annSets(q) intersect trueSets(q)).size.toLong
      assert(nTrue == trueSets(q).size.toLong, s"query $q n_true")
      assert(nHit == want, s"query $q n_hit")
      assert(permille == want * 1000L / nTrue, s"query $q recall_permille")
    }
  }

  test("loadIvfPqIndex fails loud on corrupt artifacts, round-trips clean ones") {
    val rnd = new scala.util.Random(61)
    val vecs = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(_ => (rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val scale = Similarity.kmeansGlobalScale(df, "embedding")
    val (coarse, cbs) = Similarity.ivfPqFit(df, "vec_id", "embedding",
      coarseK = 2, m = 2, k = 2, iters = 1, scale = scale)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-t")
    val good = dir.resolve("good").toString
    Similarity.saveIvfPqIndex(spark, good, scale, coarse, cbs)
    val (s2, c2, b2) = Similarity.loadIvfPqIndex(spark, good)
    assert(s2 == scale && c2.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq &&
      b2.map(_.map(_.toSeq).toSeq).toSeq == cbs.map(_.map(_.toSeq).toSeq).toSeq)
    def corrupt(name: String)(
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
      val p = dir.resolve(name).toString
      f(spark.read.parquet(good)).coalesce(1).write.parquet(p)
      p
    }
    // a missing codebook row (partial write)
    val holed = corrupt("holed")(d =>
      d.filter(!(col("kind") === "codebook" && col("sub") === 1 && col("idx") === 0)))
    val e1 = intercept[IllegalStateException] { Similarity.loadIvfPqIndex(spark, holed) }
    assert(e1.getMessage.contains(holed) && e1.getMessage.contains("idx"),
      e1.getMessage)
    // jagged vector lengths
    val jagged = corrupt("jagged")(d =>
      d.withColumn("vec", when(col("kind") === "coarse" && col("idx") === 0,
        slice(col("vec"), 1, 3)).otherwise(col("vec"))))
    val e2 = intercept[IllegalStateException] { Similarity.loadIvfPqIndex(spark, jagged) }
    assert(e2.getMessage.contains("jagged"), e2.getMessage)
    // two distinct scales
    val twoScale = corrupt("twoscale")(d =>
      d.withColumn("scale", when(col("kind") === "coarse", col("scale") * 2)
        .otherwise(col("scale"))))
    val e3 = intercept[IllegalStateException] { Similarity.loadIvfPqIndex(spark, twoScale) }
    assert(e3.getMessage.contains("scale"), e3.getMessage)
  }

  test("l2Normalize: unit norms, cosine identity, zero/null/null-component contracts") {
    val df = Seq(
      (1L, Seq(3f, 4f, 0f)),
      (2L, Seq(0f, 0f, 0f)),                  // zero vector -> null
      (3L, null.asInstanceOf[Seq[Float]]))    // null -> null
      .toDF("id", "v")
    val rows = df.select(col("id"), Similarity.l2Normalize(col("v")).as("u"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    // kernel multiplies by 1/norm (one divide per row, not per
    // component) — compare with tolerance
    assert(rows(1L).zip(Seq(0.6, 0.8, 0.0))
      .forall { case (a, b) => math.abs(a - b) < 1e-15 }, rows(1L).toString)
    assert(rows(2L) == null && rows(3L) == null)
    // the serving identity: L2 distance over normalized == 2 - 2*cos
    val rnd = new scala.util.Random(67)
    val pair = Seq(
      (1L, Seq.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)),
      (2L, Seq.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("id", "v")
      .select(col("id"), col("v"), Similarity.l2Normalize(col("v")).as("u"))
      .orderBy("id").collect()
    val u1 = pair(0).getSeq[Double](2); val u2 = pair(1).getSeq[Double](2)
    val d2 = u1.zip(u2).map { case (a, b) => (a - b) * (a - b) }.sum
    val v1 = pair(0).getSeq[Float](1).map(_.toDouble)
    val v2 = pair(1).getSeq[Float](1).map(_.toDouble)
    val cos = v1.zip(v2).map { case (a, b) => a * b }.sum /
      (math.sqrt(v1.map(x => x * x).sum) * math.sqrt(v2.map(x => x * x).sum))
    assert(math.abs(d2 - (2.0 - 2.0 * cos)) < 1e-12,
      s"||a-b||^2=$d2 vs 2-2cos=${2.0 - 2.0 * cos}")
    // null component fails loud, not a silent zero
    val holed = Seq((1L, Seq(Some(1f), None, Some(2f)))).toDF("id", "v")
    val e = intercept[Exception] {
      holed.select(Similarity.l2Normalize(col("v"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null component")), msgs(e).mkString(" | "))
  }

  test("pqAdcTables kernel: wrong-dimension residual fails loud; table matches driver math") {
    val cbs: Array[Array[Array[Long]]] = Array(
      Array(Array(1L, 2L), Array(3L, -1L)),
      Array(Array(0L, 0L), Array(5L, 5L)))
    val df = Seq((1L, Seq(2L, 2L, 2L, 2L))).toDF("id", "rq")
    val got = df.select(DedupExpressions.pqAdcTables(col("rq"), cbs))
      .head().getSeq[scala.collection.Seq[Long]](0).map(_.toList).toList
    // sub0 vs (1,2): (2-1)^2+(2-2)^2=1; vs (3,-1): 1+9=10
    // sub1 vs (0,0): 4+4=8;             vs (5,5): 9+9=18
    assert(got == List(List(1L, 10L), List(8L, 18L)), got.toString)
    val short = Seq((1L, Seq(2L, 2L, 2L))).toDF("id", "rq")
    val e = intercept[Exception] {
      short.select(DedupExpressions.pqAdcTables(col("rq"), cbs)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("residual dimension")), msgs(e).mkString(" | "))
    // out-of-range stored code fails loud through the pq_adc kernel
    val codes = Seq((1L, Seq(0, 7))).toDF("id", "codes")
    val tbl = org.apache.spark.sql.functions.typedLit(
      Seq(Seq(1L, 2L), Seq(3L, 4L)))
    val e2 = intercept[Exception] {
      codes.select(DedupExpressions.pqAdc(col("codes"), tbl, "spec")).collect()
    }
    assert(msgs(e2).exists(_.contains("out of range")), msgs(e2).mkString(" | "))
    // a NULL code ELEMENT fails loud too — UnsafeArrayData would
    // otherwise read the null slot as code 0 and emit a plausible
    // wrong distance
    val holedCodes = Seq((1L, Seq(Some(0), None))).toDF("id", "codes")
    val e3 = intercept[Exception] {
      holedCodes.select(DedupExpressions.pqAdc(col("codes"), tbl, "spec")).collect()
    }
    assert(msgs(e3).exists(_.contains("null code element")), msgs(e3).mkString(" | "))
    // a NULL RESIDUAL element fails loud in the table kernel too (r13
    // ADVICE: UnsafeArrayData reads a null slot as 0 — a plausibly
    // wrong ADC table; previously shielded only because int_l2
    // evaluated the same vector first in the knn probe stage)
    val holedRes = Seq((1L, Seq(Some(2L), None, Some(2L), Some(2L))))
      .toDF("id", "rq")
    val e4 = intercept[Exception] {
      holedRes.select(DedupExpressions.pqAdcTables(col("rq"), cbs)).collect()
    }
    assert(msgs(e4).exists(_.contains("null residual element")),
      msgs(e4).mkString(" | "))
  }

  test("mixed-dimension corpora fail loud at fit time even with iters=0") {
    // r12 ADVICE: the dim guard ran only inside iteration scans, so a
    // wrong-dim row among the seeds (or any wrong-dim row with
    // iters=0) produced mixed centroids silently
    val mixed = Seq(
      (1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f, 0.4f, 0.5f)), (3L, Seq(0.5f, 0.6f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.kmeansFitInt8(mixed, "vec_id", "embedding",
        k = 2, iters = 0, scale = 1.0)
    }
    assert(e1.getMessage.contains("mixed vector dimensions"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqFitInt8(mixed, "vec_id", "embedding",
        m = 1, k = 2, iters = 0, scale = 1.0)
    }
    assert(e2.getMessage.contains("mixed vector dimensions"), e2.getMessage)
  }
}

class MultimodalSpec extends SparkSpec {

  test("sniffMime detects magic bytes; binary dedup groups by content sha") {
    val assets = Multimodal.syntheticAssets(spark, 120)
    val mimes = assets
      .select(col("modality"), Multimodal.sniffMime(col("content")).as("mime"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mimes == Map(
      "image" -> "image/png", "audio" -> "audio/mpeg", "video" -> "video/x-msvideo"))
    // unknown payloads fall through
    import spark.implicits._
    val other = Seq(Array[Byte](1, 2, 3)).toDF("content")
      .select(Multimodal.sniffMime(col("content"))).head().getString(0)
    assert(other == "application/octet-stream")

    val groups = Multimodal.binaryDedupGroups(assets, "asset_id", "content").collect()
    // payloads repeat every 39 ids: 39 groups, sizes 3-4, keep_id = r
    assert(groups.length == 39)
    assert(groups.map(_.getAs[Long]("n_dups")).forall(n => n == 3 || n == 4))
    assert(groups.map(_.getAs[Long]("keep_id")).sorted.toSeq == (0L until 39L))
  }

  test("media header parsers: real byte layouts, endianness, truncation, JPEG marker walk") {
    import spark.implicits._
    val assets = Multimodal.syntheticMediaAssets(spark, 40)
    val got = Multimodal.mediaMeta(assets, "asset_id", "content")
      .collect().map(r => r.getLong(0) -> r).toMap
    (0 until 40).foreach { i =>
      val r = got(i.toLong)
      val (w, h) = (100 + i % 37, 50 + i % 23)
      (i % 4: @unchecked) match {
        case 0 =>
          assert(r.getString(1) == "image/png" && r.getInt(2) == w && r.getInt(3) == h, s"$i: $r")
        case 1 =>
          assert(r.getString(1) == "image/gif" && r.getInt(2) == w && r.getInt(3) == h, s"$i: $r")
        case 2 =>
          assert(r.getString(1) == "image/jpeg" && r.getInt(2) == w && r.getInt(3) == h, s"$i: $r")
        case 3 =>
          val (ch, rate, bits) = (1 + i % 2, 8000 + 1000 * (i % 5), 8 + 8 * (i % 2))
          val nData = 1000 + i % 500
          assert(r.getString(1) == "audio/x-wav" && r.isNullAt(2) &&
            r.getInt(4) == ch && r.getInt(5) == rate && r.getInt(6) == bits &&
            r.getLong(7) == nData * 1000L / (rate.toLong * ch * bits / 8), s"$i: $r")
      }
    }
    // hand-built cases: truncated PNG (signature only), JPEG with no
    // SOF before EOI, JPEG whose SOF sits after TWO variable APPn
    // segments (proves the scan walks the chain, not a fixed offset),
    // and garbage — all must come back null, never a wrong guess
    def be16(v: Int) = Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val sofAfterTwoApps: Array[Byte] =
      Array[Byte](0xff.toByte, 0xd8.toByte) ++
        Array[Byte](0xff.toByte, 0xe1.toByte) ++ be16(9) ++ Array.fill[Byte](7)(0x41) ++
        Array[Byte](0xff.toByte, 0xee.toByte) ++ be16(5) ++ Array.fill[Byte](3)(0x42) ++
        Array[Byte](0xff.toByte, 0xc2.toByte) ++ be16(11) ++
        Array[Byte](8) ++ be16(777) ++ be16(333) ++ Array[Byte](1, 1, 0x11, 0) ++
        Array[Byte](0xff.toByte, 0xd9.toByte)
    // adversarial u32 >= 2^31 dims: must null (ANSI cast would throw)
    val hugePng: Array[Byte] =
      Multimodal.PngMagic ++ Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes("UTF-8") ++
        Array[Byte](0x80.toByte, 0, 0, 0) ++ Array[Byte](0, 0, 0, 1) ++
        Array[Byte](8, 6, 0, 0, 0) ++ Array[Byte](0, 0, 0, 0)
    val cases = Seq(
      ("png-truncated", Multimodal.PngMagic),
      ("png-overflow-width", hugePng),
      ("jpeg-no-sof", Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte)),
      ("garbage", Array[Byte](1, 2, 3, 4)))
    cases.foreach { case (name, bytes) =>
      val row = Seq(Tuple1(bytes)).toDF("content")
        .select(JpegDimsExpr(col("content")).as("d"),
          Multimodal.pngDims(col("content")).as("p")).head()
      assert(row.isNullAt(0) && row.isNullAt(1), s"$name must parse to null")
    }
    val deep = Seq(Tuple1(sofAfterTwoApps)).toDF("content")
      .select(JpegDimsExpr(col("content")).as("d")).head().getStruct(0)
    assert(deep.getInt(0) == 333 && deep.getInt(1) == 777,
      s"marker walk failed past APPn segments: $deep")
  }

  test("WAV chunk walk: non-canonical layouts parse; canonical == Column path; garbage nulls") {
    import spark.implicits._
    val assets = Multimodal.syntheticMediaAssets(spark, 40) // canonical wavs at i%4==3
    // canonical files: kernel == fixed-offset Column parse
    val both = assets.filter(col("asset_id") % 4 === 3)
      .select(col("asset_id"),
        Multimodal.wavFormat(col("content")).as("a"),
        WavChunkExpr(col("content")).as("b"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getStruct(1) == r.getStruct(2),
      s"kernel diverged from the canonical parse at ${r.getLong(0)}"))
    // non-canonical layouts: the Column path refuses, the walker parses
    val wavs = Multimodal.syntheticWavAssets(spark, 20)
    val nc = wavs.filter(col("asset_id") % 4 =!= 0)
      .select(col("asset_id"),
        Multimodal.wavFormat(col("content")).as("a"),
        WavChunkExpr(col("content")).as("b"))
      .collect()
    assert(nc.nonEmpty)
    nc.foreach { r =>
      assert(r.isNullAt(1), s"canonical parse accepted a non-canonical layout: $r")
      val i = r.getLong(0)
      val b = r.getStruct(2)
      assert(b.getInt(0) == 1 + (i % 2).toInt &&
        b.getInt(1) == 8000 + 1000 * (i % 5).toInt &&
        b.getInt(2) == 8 + 8 * (i % 2).toInt, s"walker misparsed $i: $b")
    }
    // garbage / truncated / missing chunks -> null
    for (bad <- Seq(Array[Byte](1, 2, 3), "RIFF1234WAVE".getBytes("UTF-8"),
        ("RIFF" + " " * 4 + "WAVEfmt ").getBytes("UTF-8"))) {
      val row = Seq(Tuple1(bad)).toDF("content")
        .select(WavChunkExpr(col("content"))).head()
      assert(row.isNullAt(0), s"expected null for ${bad.length}-byte garbage")
    }
  }

  test("extractFeatures: schema, shape, determinism") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    val f = Multimodal.extractFeatures(assets, dim = 8)
    assert(f.schema.fieldNames.toSeq == Seq("asset_id", "modality", "features"))
    val rows = f.collect()
    assert(rows.length == 30)
    assert(rows.forall(_.getSeq[Float](2).size == 8))
    val again = Multimodal.extractFeatures(assets, dim = 8).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("decoder kernel initializes once per partition, not per row") {
    val assets = Multimodal.syntheticAssets(spark, 100).repartition(4)
    Multimodal.kernelInits.set(0)
    Multimodal.extractFeatures(assets, dim = 4).count()
    val inits = Multimodal.kernelInits.get()
    assert(inits == 4, s"expected 4 partition inits, got $inits")
  }

  test("planFrameSamples: only videos, capped frames, correct timestamps") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    val plan = Multimodal.planFrameSamples(assets, everyMs = 1000L, maxFrames = 4)
    val rows = plan.collect()
    assert(rows.nonEmpty)
    val byAsset = rows.groupBy(_.getLong(0))
    assert(byAsset.values.forall(_.length <= 4))
    assert(rows.forall(r => r.getLong(2) % 1000L == 0L))
    val videoIds = assets.filter(col("modality") === "video")
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(byAsset.keySet.subsetOf(videoIds))
  }
}
