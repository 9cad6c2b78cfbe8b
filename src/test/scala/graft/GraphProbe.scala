package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe for the Graphs operators: synthetic graphs of three
  * shapes (`GRAPH_PROBE_KIND`):
  *
  *  - `powerlaw` (default): each node emits 5 edges to hash-biased
  *    targets — low ids collect quadratically more in-links, like
  *    hosts do.
  *  - `community`: planted partition (100-node communities, edges
  *    in-community) — LPA converges in a few rounds, so late rounds
  *    have neighbors voting the SAME label (the dup-factor regime the
  *    r14 raw-vote exchange bet against).
  *  - `hub`: 95% of nodes point at one of 8 hubs — the §2.5 skew
  *    regime where one reducer receives a hot node's entire
  *    uncombined vote list.
  *
  * `sbt "Test/runMain graft.GraphProbe [nNodes] [iters] [ops]"` where
  * `ops` is a comma list from pagerank,lpa,hits (default pagerank).
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val nNodes = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val iters = args.lift(1).map(_.toInt).getOrElse(8)
    val ops = args.lift(2).getOrElse("pagerank").split(",").toSet
    val kind = sys.env.getOrElse("GRAPH_PROBE_KIND", "powerlaw")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      // GRAPH_PROBE_AQE=false A/Bs the adaptive re-planning share of
      // the per-round floor (r14 measurement)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAPH_PROBE_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val edges: DataFrame = kind match {
      case "community" =>
        // 100-node communities; each node links 5 in-community peers
        spark.range(nNodes).select(col("id").as("src"),
            explode(sequence(lit(0), lit(4))).as("k"))
          .select(col("src"),
            ((col("src") - pmod(col("src"), lit(100))) +
              pmod(hash(col("src"), col("k")), lit(100))).as("dst"))
          .filter(col("src") =!= col("dst"))
      case "hub" =>
        // 95% of nodes vote into 8 hubs, 5% spray uniformly
        spark.range(nNodes).select(col("id").as("src"),
            explode(sequence(lit(0), lit(4))).as("k"))
          .select(col("src"),
            when(pmod(hash(col("src"), col("k")), lit(100)) < 95,
                pmod(hash(col("k")), lit(8)))
              .otherwise(pmod(hash(col("src"), col("k"), lit(7)), lit(nNodes)))
              .cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
      case _ =>
        spark.range(nNodes).select(col("id").as("src"),
            explode(sequence(lit(0), lit(4))).as("k"))
          .select(col("src"),
            (pmod(hash(col("src"), col("k")), lit(nNodes)) *
              pmod(hash(col("k"), col("src")), lit(nNodes)) / lit(nNodes))
              .cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
    }
    edges.write.mode("overwrite").parquet("/tmp/graph_probe_edges")
    val saved = spark.read.parquet("/tmp/graph_probe_edges")
    println(s"[probe] kind=$kind edges=${saved.count()} nodes<=$nNodes iters=$iters")

    if (ops("pagerank")) {
      val t0 = System.nanoTime()
      val pr = functions.Graphs.pageRank(saved, "src", "dst", iterations = iters)
      val top = pr.orderBy(desc("rank_nano")).limit(5).collect()
      println(f"[probe] pageRank ($nNodes nodes, $iters iters)  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      println(s"[probe] top ranks: ${top.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ")}")
      functions.Graphs.unpin(pr)
    }
    if (ops("lpa")) {
      val t0 = System.nanoTime()
      val lp = functions.Graphs.labelPropagation(saved, "src", "dst", iterations = iters)
      val nComm = lp.select(countDistinct(col("label"))).head.getLong(0)
      println(f"[probe] labelPropagation ($nNodes nodes, $iters iters)  ${(System.nanoTime() - t0) / 1e9}%8.2f s  communities=$nComm")
      functions.Graphs.unpin(lp)
    }
    if (ops("hits")) {
      val t0 = System.nanoTime()
      val ht = functions.Graphs.hits(saved, "src", "dst", iterations = iters)
      val top = ht.orderBy(desc("auth_micro")).limit(3).collect()
      println(f"[probe] hits ($nNodes nodes, $iters iters)  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      println(s"[probe] top auth: ${top.map(r => s"${r.getLong(0)}:${r.getLong(2)}").mkString(" ")}")
      functions.Graphs.unpin(ht)
    }
    spark.stop()
  }
}
