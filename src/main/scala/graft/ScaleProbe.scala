package graft

import graft.model.Meta
import graft.store.Container
import graft.temporal.TemporalOps._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale probe: synthesizes data 1-2 orders of magnitude beyond sf0.1
  * in /tmp and drives the stateful operators, printing wall times.
  * Catches the nonlinear cliffs (skew, explode blowups, window spills)
  * that 600k-row correctness runs hide.
  * `sbt "runMain graft.ScaleProbe [rows] [docs]"`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val nEvents = args.lift(0).map(_.toLong).getOrElse(10000000L) // 10M
    val nDocs = args.lift(1).map(_.toLong).getOrElse(500000L) // 500k
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // --- synthetic versioned events: 100k users x 100 versions -------
    val users = nEvents / 100
    val ev = spark.range(nEvents).repartition(32).select(
      (col("id") % users).as(Meta.OID),
      (col("id") / users).cast("double").as(Meta.START),
      (pmod(hash(col("id")), lit(5))).cast("string").as("event_type"),
      (pmod(hash(col("id"), lit(1)), lit(10000)) / lit(100.0)).as("value"))
    val versioned = ev.withColumn(Meta.END,
      lead(col(Meta.START), 1).over(Window.partitionBy(Meta.OID).orderBy(Meta.START)))

    timed(s"window versions ($nEvents rows)") { versioned.count() }
    timed("onDate snapshot") { versioned.onDate(50.0).count() }
    timed("history 30-point grid") { versioned.history((0 until 30).map(_ * 3.0)).count() }
    timed("lastVersion per oid") { versioned.lastVersion.count() }
    timed("lastChain") {
      versioned.filter(col("event_type") =!= "0").lastChain().count()
    }

    // --- SCD2 upsert: rotate half the users --------------------------
    val hashed = versioned
      .withColumn(Meta.HASH, Meta.contentHashOf(
        "event_type" -> col("event_type"), "value" -> col("value")))
      .withColumn(Meta.ID, Meta.genId(col(Meta.OID), col(Meta.START), col(Meta.END)))
    val current = hashed.filter(col(Meta.END).isNull)
    val incoming = current
      .filter(col(Meta.OID) % 2 === 0)
      .withColumn("value", col("value") + 1.0)
      .withColumn(Meta.START, col(Meta.START) + 100.0)
      .withColumn(Meta.HASH, Meta.contentHashOf(
        "event_type" -> col("event_type"), "value" -> col("value")))
    timed(s"SCD2 upsert (${users} keys)") {
      new Container(spark, "probe", hashed).upsert(incoming).df.count()
    }

    // --- sessionize --------------------------------------------------
    timed("sessionize") {
      graft.operators.Sessionize.sessions(
        ev.withColumnRenamed(Meta.START, "t"), Meta.OID, "t", gapSeconds = 0.5).count()
    }

    // --- minhash LSH over synthetic docs -----------------------------
    val words = Array("spark", "query", "row", "data", "join", "filter",
      "window", "stream", "table", "scan", "merge", "sort", "key", "hash",
      "plan", "code", "node", "task", "stage", "shuffle")
    val wordsCol = array(words.toIndexedSeq.map(lit): _*)
    val docs = spark.range(nDocs).repartition(32).select(
      col("id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        i => element_at(wordsCol, pmod(hash(col("id"), i), lit(20)) + 1))).as("text"))
    timed(s"minhash signatures ($nDocs docs)") {
      docs.select(functions.DedupExpressions.minhashSig(col("text"), 64).as("s"))
        .select(avg(element_at(col("s"), 1))).head()
    }
    timed("minhash LSH pairs (default: pinSigs=true since r9)") {
      // r8/r9: the default pins signatures — MinHashSigExpr runs once
      // instead of once per consumer branch
      val out = functions.Dedup.minhashPairs(docs, "id", "text", threshold = 0.9)
      val n = out.count()
      functions.Curation.unpin(out)
      n
    }
    timed("minhash LSH pairs (pinSigs=false, lazy)") {
      functions.Dedup.minhashPairs(
        docs, "id", "text", threshold = 0.9, pinSigs = false).count()
    }
    timed("minhash LSH pairs (persisted sigs)") {
      // the 100 TB shape: signatures materialized once, ids-only bands
      val sigs = docs.select(col("id"),
        functions.DedupExpressions.minhashSig(col("text"), 64).as("sig")).cache()
      sigs.count()
      val n = functions.Dedup.minhashPairsFromSigs(sigs, threshold = 0.9).count()
      sigs.unpersist()
      n
    }
    timed("simhash all docs") {
      docs.select(functions.DedupExpressions.simhash64(col("text")).as("h"))
        .select(avg(col("h"))).head()
    }
    timed("quality score all docs (one-pass expr)") {
      docs.select(functions.TextStatsExpr(col("text")).getField("quality").as("q"))
        .select(sum(col("q"))).head()
    }
    timed("quality score all docs (Column HOFs)") {
      docs.select(functions.TextFunctions.qualityScore(col("text")).as("q"))
        .select(sum(col("q"))).head()
    }

    // --- LSH bucket assignment: one-pass expr vs interpreted HOFs ----
    val dim = 64
    val vecs = spark.range(1000000L).repartition(32).select(
      col("id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => (pmod(hash(col("id"), j), lit(2000)) / lit(1000.0) - 1.0)
          .cast("float")).as("v"))
    timed("lsh band 16 planes (LshBandExpr, 1M x 64d)") {
      vecs.select(functions.DedupExpressions.lshBand(col("v"), 0, 16).as("b"))
        .select(avg(col("b"))).head()
    }
    timed("lsh band 16 planes (aggregate/zip_with HOFs)") {
      // the pre-round-3 formulation: one interpreted dot per plane
      val rng = new scala.util.Random(42L)
      val planes = Seq.fill(16)(Seq.fill(dim)(rng.nextGaussian()))
      val bits = planes.zipWithIndex.map { case (p, i) =>
        val pc = array(p.map(lit): _*)
        val dot = aggregate(
          zip_with(col("v"), pc, (x, y) => x.cast("double") * y),
          lit(0.0), (acc, x) => acc + x)
        when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
      }
      vecs.select(bits.reduce((a, b) => a.bitwiseOR(b)).as("b"))
        .select(avg(col("b"))).head()
    }

    // --- token packing: two-phase distributed prefix sum -------------
    timed(s"packSequences ($nEvents rows)") {
      graft.functions.Curation.packSequences(
          ev.withColumnRenamed(Meta.START, "t"),
          pmod(hash(col("value")), lit(900)) + 100, budget = 4096L,
          orderBy = Seq(col(Meta.OID), col("t")), numPartitions = 64)
        .agg(max("pack_id")).head()
    }

    // --- global rank via range partitions vs the 1-task window -------
    timed(s"rankBy ($nEvents rows, 64 range partitions)") {
      graft.functions.Curation.rankBy(
          ev, Seq(col("value"), col(Meta.OID), col(Meta.START)),
          numPartitions = 64)
        .agg(max("rank")).head()
    }
    timed(s"row_number single-partition window ($nEvents rows, strawman)") {
      ev.withColumn("rank", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("value"), col(Meta.OID), col(Meta.START))))
        .agg(max("rank")).head()
    }

    // --- new curation ops over the synthetic corpora -----------------
    timed(s"duplicatedSpans ($nDocs docs)") {
      // 20-word vocab × 50-word docs: ~43 positional 8-grams/doc, most
      // unique — measures the hash groupBy + join-back at ~20M shingles
      functions.Dedup.duplicatedSpans(docs, "id", "text").count()
    }
    timed(s"corpusRarity ($nDocs docs)") {
      functions.TextFunctions.corpusRarity(docs, "id", "text", maxCount = 1000L)
        .agg(sum("n_rare")).head()
    }
    timed("knnJoin top-5 (100k vecs, auto bands)") {
      // no hand-tuning: bandBits=0 derives ceil(log2(100k/32)) = 12
      // from the passed estimate — ~24 per bucket, candidate volume
      // quadratic-in-24, not in n
      functions.Similarity.knnJoin(
        vecs.filter(col("id") < 100000L), "id", "v", k = 5,
        nBands = 8, nRows = Some(100000L)).count()
    }
    timed("knnJoin auto-count cost (1M vecs, bandBits=0, no nRows)") {
      // the eager df.count() the bandBits=0 default runs when nRows is
      // not supplied — the lineage-recompute cost the scaladoc tells
      // pipelines to skip by passing the estimate
      vecs.count()
    }
    timed("knnJoin banding bounded at 1M (auto bits, max bucket)") {
      // the sizing rule at 1M: autoBandBits → 15, expected bucket
      // ~30 — prove the max over ALL (band, bucket) cells stays
      // hundreds, not the 62k/bucket a fixed 4-bit default gives
      val bits = functions.Similarity.autoBandBits(1000000L)
      val mx = vecs.select(explode(array((0 until 4).map(b =>
          functions.DedupExpressions.lshBand(col("v"), b * bits, bits)): _*))
          .as("bv"))
        .groupBy("bv").agg(count(lit(1)).as("n"))
        .agg(max("n")).head().getLong(0)
      println(s"[probe]   autoBandBits(1M)=$bits maxBucket=$mx")
      assert(mx < 10000L, s"degenerate bucket at auto sizing: $mx")
      mx
    }
    timed("kmeansFitInt8 (1M vecs, k=16, 2 iters)") {
      // two full integer Lloyd's iterations over 1M 64-d vectors: per
      // iteration one scan + a (cell,dim)-keyed shuffle of k*64 rows
      val scale = functions.Similarity.kmeansGlobalScale(vecs, "v")
      val cents = functions.Similarity.kmeansFitInt8(
        vecs, "id", "v", k = 16, iters = 2, scale = scale)
      val cells = vecs.select(functions.DedupExpressions.kmeansAssign(
          functions.Similarity.kmeansQuantize(col("v"), scale), cents).as("c"))
        .groupBy("c").count().count()
      println(s"[probe]   kmeans non-empty cells: $cells / 16")
      assert(cells == 16L, s"degenerate fit: only $cells/16 cells populated")
      cells
    }
    timed("semanticDedup (100k vecs, k=256)") {
      // k scales with corpus size to bound Σ|cell|² — ~390-vector cells
      functions.Similarity.semanticDedup(
        vecs.filter(col("id") < 100000L), "id", "v", k = 256, tau = 0.35)
        .filter(!col("kept")).count()
    }
    timed(s"chunkDocuments ($nDocs docs)") {
      functions.Curation.chunkDocuments(docs, "id", "text",
        maxTokens = 32, overlap = 8).count()
    }
    timed(s"downsampleGroups ($nDocs docs, 1k groups)") {
      functions.Curation.downsampleGroups(
        docs.withColumn("grp", pmod(hash(col("id")), lit(1000))), "id", "grp")
        .count()
    }
    timed(s"removeBoilerplateLines ($nDocs docs)") {
      // re-chunk the single-line docs into 10-token lines (the gate's
      // trick); near-random lines mean few removals — this measures
      // the explode + line-key agg + join-back machinery itself
      val ws = split(col("text"), " ")
      val lined = docs.select(col("id"),
        array_join(transform(sequence(lit(0L), lit(4L)),
          i => array_join(slice(ws, (i * 10 + 1).cast("int"), lit(10)), " ")),
          "\n").as("text"))
      functions.Curation.removeBoilerplateLines(lined, "id", "text")
        .agg(sum("n_removed")).head()
    }
    timed(s"qualityFilter ($nDocs docs)") {
      functions.TextFunctions.qualityFilter(docs, "id", "text")
        .filter(!col("keep")).count()
    }
    timed(s"tfidfTopTerms ($nDocs docs)") {
      functions.TextFunctions.tfidfTopTerms(docs, "id", "text", k = 3).count()
    }
    timed(s"unigramSurprisal ($nDocs docs)") {
      functions.TextFunctions.unigramSurprisal(docs, "id", "text")
        .agg(sum("nll_nano")).head()
    }
    timed(s"bm25TopDocs ($nDocs docs, 3-term query)") {
      // the r7 one-tokenizer-pass QueryTfExpr path: only query-matched
      // terms leave the scan, so this measures kernel + narrow shuffle
      functions.TextFunctions.bm25TopDocs(
        docs, "id", "text", Seq("spark", "join", "shuffle"), k = 25).count()
    }
    timed(s"hybridTopDocs brute arm ($nDocs docs)") {
      functions.TextFunctions.hybridTopDocs(
        docs, "id", "text",
        vecs.filter(col("id") < 100000L), "id", "v",
        Seq("spark", "join"), (0 until dim).map(_ => 0.1f), k = 20).count()
    }
    timed(s"dsirResample ($nDocs docs, r7 pinned-hash path)") {
      // one raw text pass + one target pass; pins released inside
      val target = docs.filter(pmod(col("id"), lit(10)) === 0)
      functions.Curation.dsirResample(
        docs, "id", "text", target, "text", k = 1000).count()
    }
    // containmentPairs standalone, on a NON-degenerate corpus: 50k-word
    // vocabulary (shingles mostly unique → the rare-filter passes them,
    // unlike the 20-word corpus above where every shingle is a stop
    // shingle), with every 50th doc replaced by a 20-word excerpt of
    // its successor — planted containment-1.0 pairs the join must find.
    val exWord = (d: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
      concat(lit("w"), pmod(hash(d, i), lit(50000)).cast("string"))
    val rich = spark.range(nDocs).repartition(32).select(
      col("id"),
      when(col("id") % 50 === 0 && col("id") + 1 < nDocs,
        concat_ws(" ", transform(sequence(lit(0), lit(19)),
          i => exWord(col("id") + 1, i))))
        .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(49)),
          i => exWord(col("id"), i))))
        .as("text"))
    timed(s"containmentPairs ($nDocs docs, 50k vocab, planted excerpts)") {
      val n = functions.Dedup.containmentPairs(rich, "id", "text").count()
      println(s"[probe]   containment pairs found: $n (planted ~${nDocs / 50})")
      n
    }
    timed(s"dedupAgainstCorpus (50k batch vs ${nDocs} corpus sigs)") {
      val corpusSigs = docs.filter(col("id") % 10 =!= 0).select(col("id"),
        functions.DedupExpressions.minhashSig(col("text"), 64).as("sig"))
      functions.Dedup.dedupAgainstCorpus(
        docs.filter(col("id") % 10 === 0).limit(50000), "id", "text", corpusSigs)
        .filter(col("dup_of").isNotNull).count()
    }

    // --- connected components at 1M edges ----------------------------
    // chains of length 5 + a few hubs: several rounds to converge, so
    // the per-round fingerprint action (vs r3's two exceptAll shuffles)
    // dominates the convergence-check cost being measured
    val ccEdges = spark.range(1000000L).select(
      col("id").as("id_a"),
      when(pmod(col("id"), lit(5)) < 4, col("id") + 1)
        .otherwise(pmod(col("id"), lit(1000)) * 5).as("id_b"))
    timed("connectedComponents (1M edges)") {
      functions.Dedup.connectedComponents(ccEdges).count()
    }

    // --- graph rounds at 1M edges (50x the graph_iterate bench) -------
    // 2,000 communities of 100 nodes, one edge in 10 leaving its
    // community; a range-backed frame has a size estimate, so the
    // vertex blocks are sized from it
    val grEdges = spark.range(1000000L).select(
      (col("id") % 200000L).as("src"),
      when(pmod(col("id"), lit(10)) === 0, pmod(hash(col("id")), lit(200000L)))
        .otherwise((col("id") % 200000L) / 100 * 100 + pmod(hash(col("id"), lit(1)), lit(100L)))
        .as("dst"))
    timed("pageRank(8) + labelPropagation(5) (1M edges)") {
      val pr = functions.Graphs.pageRank(grEdges, "src", "dst", 8)
      val lp = functions.Graphs.labelPropagation(grEdges, "src", "dst", 5)
      println(s"[probe]   vertex blocks: ${pr.rdd.getNumPartitions}, " +
        s"labels: ${lp.select(countDistinct("label")).head().getLong(0)}")
      Seq(pr, lp).foreach(functions.Graphs.unpin)
    }

    // --- deptree closure over a wide link graph ----------------------
    // 10-ary tree: the last hops' fringes are ~90% of the graph, so
    // past DeptreeIsinMax the loop switches to the r8 distributed
    // fringe (DataFrame fringe/seen, per-hop localCheckpoint, no
    // driver round-trip until the final collect). 1M oids ≈ the
    // verdict's bounded-driver-memory bar.
    def linkContainer(n: Long): Container = new Container(spark, s"links$n",
      spark.range(n).select(
        col("id").as(Meta.OID),
        filter(transform(sequence(lit(1L), lit(10L)), j => col("id") * 10 + j),
          c => c < n).as("children"))
        .withColumn(Meta.START, lit(0.0))
        .withColumn(Meta.END, lit(null).cast("double")))
    timed("deptree closure (1M nodes, distributed fringe)") {
      val size = linkContainer(1000000L).deptree("children", Seq(0L), date = "~").size
      println(s"[probe]   closure size: $size (expect 1000000)")
      assert(size == 1000000, s"incomplete closure: $size")
      size
    }
    timed("deptree closure (200k nodes, isin-literal fringe)") {
      linkContainer(200000L)
        .deptree("children", Seq(0L), date = "~", isinMax = Int.MaxValue).size
    }

    // --- bloom-pruned full-resync anti-join --------------------------
    // 10M source ids vs 6M-id target: 40% are true misses. The bloom
    // classifies them without the join; only the maybe sliver shuffles.
    val srcIds = spark.range(nEvents).select(col("id"))
    val tgtIds = spark.range(nEvents).filter(pmod(col("id"), lit(5)) < 3)
      .select(col("id").as(Meta.OID))
    val tgtC = new Container(spark, "resync", tgtIds
      .withColumn(Meta.START, lit(0.0))
      .withColumn(Meta.END, lit(null).cast("double")))
    timed(s"missedOids plain anti-join ($nEvents ids)") {
      srcIds.join(tgtIds.withColumnRenamed(Meta.OID, "id"), Seq("id"), "left_anti").count()
    }
    timed(s"missedOids bloom-pruned ($nEvents ids)") {
      etl.Delta.missedOids(srcIds, "id", tgtC, fpp = 0.01).count()
    }
    locally {
      val bloomN = tgtIds.count()
      val bloom = tgtIds.stat.bloomFilter(Meta.OID, bloomN, 0.01)
      val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
      val sliver = srcIds.filter(
        functions.DedupExpressions.bloomMightContain(col("id"), bytes)).count()
      println(f"[probe] bloom sliver entering anti-join: $sliver%d / $nEvents%d " +
        f"(${100.0 * sliver / nEvents}%.1f%% — scan reduction ${100.0 - 100.0 * sliver / nEvents}%.1f%%)")
    }

    // --- z-order clustering write (one range shuffle + sort) ---------
    val zDir = java.nio.file.Files.createTempDirectory("probe-z").toString
    timed(s"zorder cluster+write ($nEvents rows)") {
      graft.operators.ZOrder.cluster(
          ev.withColumnRenamed(Meta.START, "t"), Seq("t", Meta.OID), numPartitions = 64)
        .write.mode("overwrite").parquet(zDir)
    }
    spark.stop()
  }
}
