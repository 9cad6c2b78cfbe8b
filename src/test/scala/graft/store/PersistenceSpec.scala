package graft.store

import graft.SparkSpec
import graft.model.Meta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

class PersistenceSpec extends SparkSpec {
  import spark.implicits._

  test("save partitions by is_current; find(date=null) partition-prunes the scan") {
    withTempDir("graft-persist") { tmp =>
      val dir = tmp.resolve("t").toString
      val hist = Seq(
        (1L, 100.0, Some(200.0), "old"),
        (1L, 200.0, None, "new"),
        (2L, 100.0, None, "only"))
        .toDF("_oid", "_start", "_end", "v")
        .select(col("_oid"), col("_start"),
          col("_end").cast(DoubleType).as("_end"), col("v"))
        .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
        .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col("_end")))
      val c = new Container(spark, "t", hist, Some(dir))
      c.save()

      val loaded = Container.load(spark, "t", dir)
      val snap = loaded.find(date = null)
      assert(snap.count() == 2)
      val plan = snap.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("is_current"),
        s"expected partition pruning on is_current, got:\n$plan")

      // history queries still see everything
      assert(loaded.count(date = "~") == 3)
      // and upsert over the loaded state keeps working
      val inc = Seq((2L, 300.0, "changed")).toDF("_oid", "_start", "v")
        .withColumn(Meta.END, lit(null).cast(DoubleType))
        .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
        .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col(Meta.END)))
      loaded.upsert(inc)
      assert(loaded.df.filter(col("_oid") === 2L).count() == 2)

      // the load -> mutate -> save loop: state's lineage still READS the
      // destination path; a naive overwrite deletes it before the plan
      // runs and loses the table (round-1 ADVICE high finding)
      loaded.save()
      val reloaded = Container.load(spark, "t", dir)
      assert(reloaded.count(date = "~") == 4)
      assert(reloaded.find(date = null).count() == 2)

      // and again through the Z-ordered writer (same staged-swap path)
      reloaded.saveZOrdered("_oid")
      assert(Container.load(spark, "t", dir).count(date = "~") == 4)
    }
  }

  test("a save cut between its two renames is restored by load") {
    withTempDir("graft-persist-crash") { root =>
      val live = root.resolve("t")
      val rows = Seq((1L, 100.0, "a"), (2L, 100.0, "b"), (3L, 100.0, "c"))
        .toDF("_oid", "_start", "v")
        .withColumn(Meta.END, lit(null).cast(DoubleType))
        .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
        .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col(Meta.END)))
      new Container(spark, "t", rows, Some(live.toString)).save()
      val retired = root.resolve("t_retired")
      Files.move(live, retired)
      val loaded = Container.load(spark, "t", live.toString)
      assert(Files.exists(live) && !Files.exists(retired))
      assert(loaded.count(date = "~") == 3)
      // a later save through the same swap keeps every row
      loaded.save()
      assert(Container.load(spark, "t", live.toString).count(date = "~") == 3)
      assert(root.toFile.list().toSet == Set("t"), "staged dirs leaked")
    }
  }
}

class BucketedSpec extends SparkSpec {
  import spark.implicits._
  import graft.temporal.TemporalOps._

  test("bucketed save: per-_oid window runs without Exchange") {
    val df = Seq(
      (1L, 10.0, Some(20.0), "a"), (1L, 20.0, None, "b"), (2L, 10.0, None, "c"))
      .toDF("_oid", "_start", "_end", "v")
      .select(col("_oid"), col("_start"),
        col("_end").cast(DoubleType).as("_end"), col("v"))
      .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
      .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col("_end")))
    val c = new Container(spark, "bt", df)
    c.saveBucketed("bucketed_t", numBuckets = 4)

    val lastV = spark.table("bucketed_t").lastVersion
    val plan = lastV.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed per-oid window should not shuffle, got:\n$plan")
    val got = lastV.collect().map(r => r.getAs[Long]("_oid") -> r.getAs[String]("v")).toMap
    assert(got == Map(1L -> "b", 2L -> "c"))
    spark.sql("DROP TABLE IF EXISTS bucketed_t")
  }

  test("co-bucketed join: two saveBucketed tables join with ZERO Exchange") {
    def mk(name: String, rows: Seq[(Long, Double, Option[Double], String)]): Unit = {
      val df = rows.toDF("_oid", "_start", "_end", "v")
        .select(col("_oid"), col("_start"),
          col("_end").cast(DoubleType).as("_end"), col("v"))
        .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
        .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col("_end")))
      new Container(spark, name, df).saveBucketed(name, numBuckets = 4)
    }
    mk("cobkt_a", Seq((1L, 10.0, None, "a1"), (2L, 10.0, None, "a2"), (3L, 10.0, None, "a3")))
    mk("cobkt_b", Seq((1L, 10.0, None, "b1"), (2L, 10.0, None, "b2"), (9L, 10.0, None, "b9")))
    // SMJ over two co-bucketed scans: the required HashPartitioning
    // comes off BOTH scans — at 100 TB this join moves zero bytes
    val j = spark.table("cobkt_a").select(col("_oid"), col("v").as("va"))
      .join(spark.table("cobkt_b").select(col("_oid"), col("v").as("vb")), "_oid")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join should not shuffle, got:\n$plan")
      val got = j.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set((1L, "a1", "b1"), (2L, "a2", "b2")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    spark.sql("DROP TABLE IF EXISTS cobkt_a")
    spark.sql("DROP TABLE IF EXISTS cobkt_b")
  }
}

class ExtensionsSpec extends SparkSpec {

  test("minhash_sig / simhash64 callable from spark.sql") {
    new graft.GraftExtensions().register(spark)
    import spark.implicits._
    Seq(("a b c d e f g h", 1L)).toDF("text", "id").createOrReplaceTempView("docs")
    val row = spark.sql(
      "SELECT size(minhash_sig(text, 16, 2)) AS k, simhash64(text) AS h FROM docs").head()
    assert(row.getInt(0) == 16)
    assert(row.getLong(1) != 0L)
  }

  test("normalize_unicode callable from spark.sql; literal form validated") {
    new graft.GraftExtensions().register(spark)
    import spark.implicits._
    // decomposed e + combining acute (U+0301), and the fi ligature
    Seq(("cafe\u0301 \uFB01n", 1L)).toDF("text", "id")
      .createOrReplaceTempView("uni_docs")
    val row = spark.sql(
      """SELECT normalize_unicode(text) AS nfc,
        |       normalize_unicode(text, 'NFKC') AS nfkc FROM uni_docs""".stripMargin).head()
    assert(spark.sql("SELECT normalize_text('A,b  C!') AS n").head().getString(0) == "a b c")
    assert(row.getString(0) == "caf\u00e9 \uFB01n") // composed; ligature kept
    assert(row.getString(1) == "caf\u00e9 fin")      // NFKC also folds the ligature
    val err = intercept[Exception] {
      spark.sql("SELECT normalize_unicode(text, 'NFX') FROM uni_docs").head()
    }
    assert(err.getMessage.contains("NFC|NFD|NFKC|NFKD") ||
      err.getCause != null && err.getCause.getMessage.contains("NFC|NFD|NFKC|NFKD"))
  }

  test("text_stats / cosine_sim callable from spark.sql") {
    new graft.GraftExtensions().register(spark)
    import spark.implicits._
    Seq(("the quick brown fox.", Array(1.0f, 0.0f), Array(1.0f, 0.0f)))
      .toDF("text", "a", "b").createOrReplaceTempView("ext_docs")
    val row = spark.sql(
      "SELECT text_stats(text).n_tokens AS n, cosine_sim(a, b) AS c FROM ext_docs").head()
    assert(row.getInt(0) == 4)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-9)
  }

  test("md5_lower64 / sig_match_ratio / lsh_band callable from spark.sql") {
    new graft.GraftExtensions().register(spark)
    import spark.implicits._
    Seq(("abc", Array(1L, 2L, 3L, 4L), Array(1L, 2L, 9L, 4L), Array(0.5f, -0.25f)))
      .toDF("s", "sa", "sb", "vec").createOrReplaceTempView("ext_fns")
    val row = spark.sql(
      """SELECT md5_lower64(s) AS h, sig_match_ratio(sa, sb) AS r,
        |  lsh_band(vec, 0, 8) AS b FROM ext_fns""".stripMargin).head()
    assert(row.getLong(0) == graft.functions.HashUtil.md5Lower64("abc"))
    assert(math.abs(row.getDouble(1) - 0.75) < 1e-9)
    // same band value as the Column API
    val viaCol = Seq(Tuple1(Array(0.5f, -0.25f))).toDF("vec")
      .select(graft.functions.DedupExpressions.lshBand(col("vec"), 0, 8).as("b"))
      .head().getLong(0)
    assert(row.getLong(2) == viaCol)
  }
}

class IncrementalStoreSpec extends SparkSpec {

  private def wrap(df: DataFrame): DataFrame = df
    .withColumn(Meta.END, lit(null).cast(DoubleType))
    .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
    .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col(Meta.END)))

  private def batchIn(s: SparkSession, rows: Seq[(Long, Double, String)]): DataFrame =
    wrap(s.createDataFrame(rows).toDF("_oid", "_start", "v"))

  private def batch(rows: (Long, Double, String)*): DataFrame = batchIn(spark, rows)

  private def rows(df: DataFrame): Seq[String] =
    df.select("_oid", "_start", "_end", "v", "_hash", "_id").collect().map(_.toString).toSeq.sorted

  private def parquetFiles(dir: java.nio.file.Path): Int =
    Option(dir.toFile.listFiles()).fold(0)(_.count(_.getName.endsWith(".parquet")))

  /** The dirs under `root` a flush may leave: none staged, one snapshot. */
  private def assertClean(root: java.nio.file.Path): Unit = {
    val names = root.toFile.listFiles().filter(_.isDirectory).map(_.getName)
    assert(!names.exists(_.startsWith("flush_v")), names.mkString(","))
    assert(names.count(_.startsWith("current_v")) == 1, names.mkString(","))
  }

  test("append-only history + snapshot replacement across flushes") {
    withTempDir("graft-inc") { tmp =>
      val root = tmp.resolve("t").toString
      val s = IncrementalStore.open(spark, "t", root)

      s.flushUpsert(batch((1L, 10.0, "a"), (2L, 10.0, "x")))
      assert(s.currentDf.count() == 2)
      assert(s.history.isEmpty)

      // flush 2: oid 1 changes, oid 2 unchanged, oid 3 new
      s.flushUpsert(batch((1L, 20.0, "b"), (2L, 20.0, "x"), (3L, 20.0, "n")))
      val cur = s.currentDf.collect().map(r => r.getAs[Long]("_oid") -> r.getAs[String]("v")).toMap
      assert(cur == Map(1L -> "b", 2L -> "x", 3L -> "n"))
      val hist = s.history.get.collect()
      assert(hist.length == 1)
      assert(hist(0).getAs[Long]("_oid") == 1L && hist(0).getAs[Double]("_end") == 20.0)
      assert(hist(0).getAs[String]("_id") == "1:10.0")
      assert(s.df.count() == 4)

      // flush 3: idempotent re-flush adds nothing, not even an empty file
      val historyFiles = parquetFiles(java.nio.file.Paths.get(root, "history"))
      s.flushUpsert(batch((1L, 30.0, "b"), (2L, 30.0, "x"), (3L, 30.0, "n")))
      assert(s.df.count() == 4)
      assert(parquetFiles(java.nio.file.Paths.get(root, "history")) == historyFiles)
      assert(s.currentDf.filter(col("_oid") === 1L).head().getAs[Double]("_start") == 20.0)

      // current-only read never lists the history directory
      val plan = s.currentDf.queryExecution.executedPlan.toString
      assert(plan.contains("current_v") && !plan.contains("history"))
    }
  }

  test("an empty batch onto a snapshot leaves snapshot and history as they were") {
    withTempDir("graft-inc-empty") { tmp =>
      val root = tmp.resolve("t")
      val s = IncrementalStore.open(spark, "t", root.toString)
      s.flushUpsert(batch((1L, 10.0, "a"), (2L, 10.0, "x")))
      s.flushUpsert(batch((1L, 20.0, "b")))
      val (cur, hist) = (rows(s.currentDf), rows(s.history.get))
      val historyFiles = parquetFiles(root.resolve("history"))
      s.flushUpsert(batch())
      assert(rows(s.currentDf) == cur && rows(s.history.get) == hist)
      assert(parquetFiles(root.resolve("history")) == historyFiles)
      assertClean(root)
    }
  }

  test("an empty batch onto a 0-row snapshot commits nothing and stays readable") {
    withTempDir("graft-inc-none") { tmp =>
      val root = tmp.resolve("t")
      val s = IncrementalStore.open(spark, "t", root.toString)
      s.flushUpsert(batch())
      val columns = s.currentDf.columns.toSeq
      assert(s.currentDf.count() == 0 && s.history.isEmpty)
      val v = s.readManifest()
      // the merge has no rows, so the partitioned write makes no partition dir
      s.stage(s.currentDf, batch(), v + 1)
      assert(!Files.exists(root.resolve(s"flush_v${v + 1}").resolve(s"${Scd2.Closed}=false")))
      s.recover()
      s.flushUpsert(batch())
      assert(s.readManifest() == v)
      assert(s.currentDf.columns.toSeq == columns && s.currentDf.count() == 0)
      assert(s.history.isEmpty && s.df.count() == 0)
      assertClean(root)
    }
  }

  test("one flush onto a snapshot computes each incoming row once") {
    withTempDir("graft-inc-once") { tmp =>
      val root = tmp.resolve("t").toString
      val s = IncrementalStore.open(spark, "t", root)
      s.flushUpsert(batch((0L, 10.0, "v0"), (1L, 10.0, "x")))
      val computed = spark.sparkContext.longAccumulator("incoming rows computed")
      val counted = udf { (v: String) => computed.add(1); v }.asNondeterministic()
      val n = 50
      val incoming = wrap(spark.range(n).select(col("id").as("_oid"), lit(20.0).as("_start"),
        counted(concat(lit("v"), (col("id") % 3).cast(StringType))).as("v")))
      s.flushUpsert(incoming)
      assert(computed.sum == n, s"the batch was computed ${computed.sum.toDouble / n} times")
      // oid 0 is unchanged, oid 1 rotates
      assert(s.currentDf.count() == n && s.history.get.count() == 1)
    }
  }

  test("a flush cut after any step reopens as exactly before or after it") {
    withTempDir("graft-inc-cut") { tmp =>
      // no coalescing: several write tasks, so several closed-row files
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val oids = 1L to 8L
      val a = batchIn(ss, oids.map(o => (o, 10.0, s"a$o")))
      val b = batchIn(ss, oids.map(o => (o, 20.0, s"b$o")) :+ ((9L, 20.0, "n9")))
      val c = batchIn(ss, oids.map(o => (o, 30.0, s"c$o")) :+ ((10L, 30.0, "n10")))
      def seeded(tag: String) = {
        val root = Files.createDirectory(tmp.resolve(tag)).resolve("t")
        (root, IncrementalStore.open(ss, "t", root.toString).flushUpsert(a).flushUpsert(b))
      }
      val before = rows(seeded("before")._2.df)
      val after = rows(seeded("after")._2.flushUpsert(c).df)
      assert(before.length == 17 && after.length == 26)

      def archiveOne(root: java.nio.file.Path, v: Long): Unit = {
        val staged = root.resolve(s"flush_v$v").resolve(s"${Scd2.Closed}=true").toFile
          .listFiles().filter(_.getName.endsWith(".parquet"))
        assert(staged.length >= 2, "the cut needs a closed file left to move")
        Files.move(staged.head.toPath, root.resolve("history").resolve(staged.head.getName))
      }
      // the flush's steps in order; MANIFEST commits at the third
      val steps = Seq[(String, (IncrementalStore, java.nio.file.Path, Long) => Unit)](
        ("stage", (s, _, v) => s.stage(s.currentDf, c, v)),
        ("publish", (s, _, v) => s.publish(v)),
        ("commit", (s, _, v) => s.writeManifest(v)),
        ("one closed file archived", (_, root, v) => archiveOne(root, v)),
        ("archive", (s, _, v) => s.archive(v)))
      def reopensAs(root: java.nio.file.Path, cut: String, want: Seq[String]): Unit = {
        val reopened = IncrementalStore.open(ss, "t", root.toString)
        assert(rows(reopened.df) == want, s"cut after $cut")
        val keys = reopened.df.select("_oid", "_start").collect().toSeq
        assert(keys.distinct.length == keys.length, s"duplicate (_oid, _start) after $cut")
        assertClean(root)
        assert(!Files.exists(root.resolve("MANIFEST.next")), s"MANIFEST.next left after $cut")
        // the batch flushed again after recovery: no closed row twice
        assert(rows(reopened.flushUpsert(c).df) == after, s"re-flush after $cut")
      }
      for (k <- 1 to steps.length) {
        val cut = steps(k - 1)._1
        val (root, s) = seeded(cut.replace(' ', '-'))
        val v = s.readManifest() + 1
        steps.take(k).foreach(_._2(s, root, v))
        reopensAs(root, cut, if (k >= 3) after else before)
      }

      // cuts inside the commit, after publish: the new MANIFEST.next torn
      // or complete beside MANIFEST (not committed), or alone once
      // MANIFEST is deleted (committed)
      val commitCuts = Seq[(String, Boolean, (FileSystem, Path, Long) => Unit)](
        ("MANIFEST.next torn", false, (fs, r, v) => put(fs, new Path(r, "MANIFEST.next"), s"$v")),
        ("MANIFEST.next written", false,
          (fs, r, v) => put(fs, new Path(r, "MANIFEST.next"), s"$v\n")),
        ("MANIFEST deleted", true, (fs, r, v) => {
          put(fs, new Path(r, "MANIFEST.next"), s"$v\n")
          fs.delete(new Path(r, "MANIFEST"), false)
        }))
      for ((cut, committed, write) <- commitCuts) {
        val (root, s) = seeded(cut.replace(' ', '-'))
        val v = s.readManifest() + 1
        s.stage(s.currentDf, c, v)
        s.publish(v)
        write(hadoopFs(ss, root), new Path(root.toString), v)
        reopensAs(root, cut, if (committed) after else before)
      }
    }
  }

  private def hadoopFs(s: SparkSession, root: java.nio.file.Path): FileSystem =
    FileSystem.get(root.toUri, s.sparkContext.hadoopConfiguration)

  private def put(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("a first flush cut inside its commit reopens as the empty store") {
    withTempDir("graft-inc-cut-first") { tmp =>
      val root = tmp.resolve("t")
      val a = batch((1L, 10.0, "a"), (2L, 10.0, "x"))
      val first = rows(IncrementalStore.open(spark, "t", root.toString).flushUpsert(a).df)
      // MANIFEST.next torn and alone: written by the first flush only
      val fs = hadoopFs(spark, root)
      fs.delete(new Path(root.toString, "MANIFEST"), false)
      put(fs, new Path(root.toString, "MANIFEST.next"), "1")
      val reopened = IncrementalStore.open(spark, "t", root.toString)
      assert(reopened.readManifest() == 0L)
      assert(reopened.current.isEmpty && reopened.history.isEmpty)
      assert(root.toFile.list().toSeq.filter(n => n.startsWith("current_v") || n.startsWith("MANIFEST"))
        .isEmpty)
      assert(rows(reopened.flushUpsert(a).df) == first)
    }
  }

  test("a compaction cut between its two renames is restored by open") {
    withTempDir("graft-inc-crash") { tmp =>
      val root = tmp.resolve("t")
      val s = IncrementalStore.open(spark, "t", root.toString)
      (1 to 3).foreach(i => s.flushUpsert(batch((1L, i * 10.0, s"a$i"), (2L, i * 10.0, s"b$i"))))
      assert(s.df.count() == 6)
      // crash window: history moved aside, the staged copy not yet in
      Files.move(root.resolve("history"), root.resolve("history_retired"))
      val reopened = IncrementalStore.open(spark, "t", root.toString)
      assert(Files.exists(root.resolve("history")) &&
        !Files.exists(root.resolve("history_retired")))
      assert(reopened.df.count() == 6)
      reopened.compactHistory(targetFiles = 1)
      assert(reopened.df.count() == 6)
      assert(reopened.history.get.count() == 4)
    }
  }
}

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("history compaction shrinks file count, preserves rows") {
    withTempDir("graft-cmp") { tmp =>
      val root = tmp.resolve("t").toString
      val s = IncrementalStore.open(spark, "t", root)
      def b(start: Double, v: String) =
        Seq((1L, start, v), (2L, start, v + "2")).toDF("_oid", "_start", "v")
          .withColumn(Meta.END, lit(null).cast(DoubleType))
          .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
          .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col(Meta.END)))
      // 5 flushes, each rotating both oids -> 8 closed versions appended
      (1 to 5).foreach(i => s.flushUpsert(b(i * 10.0, s"v$i")))
      val before = s.history.get.count()
      assert(before == 8)
      val filesBefore = new java.io.File(root, "history").listFiles()
        .count(_.getName.endsWith(".parquet"))
      s.compactHistory(targetFiles = 1)
      val filesAfter = new java.io.File(root, "history").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(filesAfter == 1 && filesAfter < filesBefore)
      assert(s.history.get.count() == before)
      assert(s.df.count() == before + 2)
    }
  }
}
