package graft.store

import graft.SparkSpec
import graft.model.Meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** SCD2 upsert invariants over random batch sequences, checked against
  * an in-memory sequential oracle (the reference's semantics:
  * sqlalchemy.py:906-975 + container goldens), through both write
  * paths: `Container.upsert` and `IncrementalStore.flushUpsert`.
  */
class UpsertPropertySpec extends SparkSpec {

  private def toBatch(objs: Seq[(Long, String, Double)], s: SparkSession = spark): DataFrame =
    s.createDataFrame(objs).toDF("_oid", "v", "_start")
      .withColumn(Meta.END, lit(null).cast(DoubleType))
      .withColumn(Meta.HASH, Meta.contentHashOf("v" -> col("v")))
      .withColumn(Meta.ID, Meta.genId(col("_oid"), col("_start"), col(Meta.END)))
      .select("_oid", "_start", "_end", "v", "_hash", "_id")

  test("random batch sequences match a sequential in-memory oracle") {
    // the suite's default session, then 1 and 7 uncoalesced write tasks:
    // the rows must not depend on the task count
    val sessions = spark +: Seq(1, 7).map { partitions =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s
    }
    for (session <- sessions) {
      val rng = new Random(42)
      for (trial <- 0 until 3) {
        withTempDir("graft-prop") { tmp =>
          // oracle state: oid -> list of (start, end?, value)
          var oracle = Map.empty[Long, List[(Double, Option[Double], String)]]
          var c: Container = new Container(session, "p", toBatch(Nil, session))
          val store = IncrementalStore.open(session, "p", tmp.resolve("s").toString)
          var t = 0.0
          for (_ <- 0 until 5) {
            t += 10.0
            val batch = (0 until 8).map { _ =>
              val oid = rng.nextInt(5).toLong
              val v = s"v${rng.nextInt(3)}"
              (oid, v, t)
            }.distinct.groupBy(_._1).map(_._2.head).toSeq // one row per oid per batch
            // apply to oracle
            for ((oid, v, start) <- batch) {
              val versions = oracle.getOrElse(oid, Nil)
              versions.headOption match {
                case Some((s0, None, v0)) if v0 == v => // dup: no-op
                case Some((s0, None, v0)) =>
                  oracle += oid -> ((start, None, v) :: (s0, Some(start), v0) :: versions.tail)
                case _ =>
                  oracle += oid -> ((start, None, v) :: versions)
              }
            }
            c.upsert(toBatch(batch, session))
            store.flushUpsert(toBatch(batch, session))
          }
          val expected = oracle.flatMap { case (oid, vs) =>
            vs.map { case (s, e, v) => (oid, s, e, v) }
          }.toSet
          // the same sequence through both SCD2 write paths
          for ((path, df) <- Seq("upsert" -> c.df, "flushUpsert" -> store.df)) {
            val got = df.select("_oid", "_start", "_end", "v").collect()
              .map(r => (r.getLong(0), r.getDouble(1),
                if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
              .toSet
            val at = s"trial $trial via $path at ${session.conf.get("spark.sql.shuffle.partitions")} partitions"
            assert(got == expected, at)
            // invariants: exactly one open version per touched oid;
            // closed versions chain (end == next start)
            val byOid = got.groupBy(_._1)
            byOid.foreach { case (oid, vs) =>
              assert(vs.count(_._3.isEmpty) == 1, s"oid $oid open-version count, $at")
              val sorted = vs.toSeq.sortBy(_._2)
              sorted.sliding(2).foreach {
                case Seq(a, b) => assert(a._3.contains(b._2), s"oid $oid chain break, $at")
                case _ =>
              }
            }
          }
        }
      }
    }
  }

  test("same (_oid, _start) twice in a batch: the pick ignores row order and partitioning") {
    val initial = Seq((1L, "z", 5.0), (2L, "y", 5.0))
    val batch = Seq((1L, "a", 10.0), (1L, "b", 10.0), (2L, "x", 10.0))
    def rows(df: DataFrame): Seq[String] =
      df.select("_oid", "_start", "_end", "v", "_hash", "_id").collect().map(_.toString).toSeq.sorted
    val runs = for {
      partitions <- Seq(1, 7)
      order <- Seq(batch, batch.reverse)
    } yield withTempDir("graft-tie") { tmp =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      val c = new Container(s, "p", toBatch(initial, s)).upsert(toBatch(order, s))
      val store = IncrementalStore.open(s, "p", tmp.resolve("s").toString)
      store.flushUpsert(toBatch(initial, s)).flushUpsert(toBatch(order, s))
      (rows(c.df), rows(store.df))
    }
    val (viaUpsert, viaFlush) = runs.head
    assert(viaUpsert.length == 4, s"expected 2 closed + 2 current rows, got $viaUpsert")
    assert(viaUpsert == viaFlush, "upsert and flushUpsert picked differently")
    runs.foreach(r => assert(r == runs.head, s"pick moved: $r vs ${runs.head}"))
  }
}
