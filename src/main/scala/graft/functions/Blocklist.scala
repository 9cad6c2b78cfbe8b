package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern blocklist scanning — the bad-word / PII-term / URL
  * blocklist filter of a large-scale curation sweep, as ONE
  * Aho-Corasick automaton pass per document (Aho & Corasick 1975,
  * "Efficient string matching: an aid to bibliographic search").
  *
  * The scale argument: a production blocklist is thousands of terms.
  * As a regex alternation or per-pattern `contains` chain the scan is
  * O(len · patterns) with a plan whose expression tree grows with the
  * list; the automaton is O(len + matches) per document REGARDLESS of
  * pattern count, the pattern set ships once inside the serialized
  * expression (the automaton itself rebuilds lazily per executor —
  * only the strings cross the wire), and the whole thing stays inside
  * whole-stage codegen like the sibling scan kernels
  * ([[TextStatsExpr]], `ClassifierScoreExpr`).
  *
  * Match semantics: EVERY occurrence of every pattern counts —
  * overlapping and nested included (`"aaa"` vs pattern `"aa"` is 2;
  * patterns `"he"`/`"she"`/`"hers"` all fire inside `"ushers"`). That
  * is the standard Aho-Corasick output contract and what a
  * SQL-position-scan oracle replays exactly. Matching is case-exact:
  * callers wanting case folding lower BOTH sides (the [[Blocklist
  * .hits]] wrapper does), so engine parity is the engines' shared
  * `lower`, not a per-char folding convention baked into the kernel.
  */
object Blocklist {

  /** Per-document blocklist hit stats in one automaton pass.
    *
    * @return `(idCol, n_hits, n_patterns, checksum)` — total
    *         occurrences over all patterns, distinct patterns that
    *         fired, and the order-proof fingerprint
    *         `Σ count(p) · (index(p) + 1)` that pins WHICH patterns
    *         fired how often without emitting an array column.
    */
  def hits(
      df: DataFrame,
      idCol: String,
      textCol: String,
      patterns: Seq[String],
      foldCase: Boolean = true): DataFrame = {
    val text = if (foldCase) lower(col(textCol)) else col(textCol)
    val pats = if (foldCase) patterns.map(_.toLowerCase(java.util.Locale.ROOT)) else patterns
    if (foldCase) {
      // the checksum is index-weighted, so collapsing case-fold
      // collisions silently would change WHICH index a hit reports —
      // fail with the collision named instead of the kernel's generic
      // distinctness error
      val collided = pats.groupBy(identity).collect { case (p, g) if g.size > 1 => p }
      require(collided.isEmpty,
        s"blocklist hits: patterns collide after case folding: ${collided.mkString(", ")} — " +
          "pass distinct case-folded patterns or foldCase = false")
    }
    val st = BlocklistCountExpr(text, pats)
    df.select(col(idCol), st.as("_bl"))
      .select(col(idCol),
        col("_bl.n_hits").as("n_hits"),
        col("_bl.n_patterns").as("n_patterns"),
        col("_bl.checksum").as("checksum"))
  }

  /** [[hits]] composed into the filter a pipeline actually runs: drop
    * every document in which ANY pattern occurs.
    */
  def filterClean(
      df: DataFrame,
      textCol: String,
      patterns: Seq[String],
      foldCase: Boolean = true): DataFrame = {
    val text = if (foldCase) lower(col(textCol)) else col(textCol)
    // ANY-hit semantics don't care about indices, so case-fold
    // collisions dedupe safely here (unlike [[hits]]' checksum)
    val pats =
      if (foldCase) patterns.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      else patterns
    df.filter(BlocklistCountExpr(text, pats).getField("n_hits") === 0L)
  }
}

/** Aho-Corasick automaton over chars. Built once per (executor,
  * expression) from the pattern strings; the byte footprint is
  * O(Σ|p|) nodes with transitions in one open-addressing long-keyed
  * table (key = node << 16 | char), goto/fail resolved at build time
  * into the standard next-function loop, and per-node output lists
  * pre-flattened through the fail chain so the scan never walks links.
  */
private[functions] final class AhoCorasick(patterns: IndexedSeq[String]) {
  private val nPatterns = patterns.length
  // trie sized to worst case Σ|p| + 1 nodes
  private val maxNodes = patterns.map(_.length).sum + 1
  private val fail = new Array[Int](maxNodes)
  // open-addressing transition table: keys (node << 16 | char), power
  // of two sized at ~2x entries for short probe chains
  private val cap = {
    var c = 16
    while (c < (maxNodes + 1) * 2) c <<= 1
    c
  }
  private val keys = new Array[Long](cap)
  private val vals = new Array[Int](cap)
  java.util.Arrays.fill(keys, -1L)
  private var nNodes = 1

  private def put(node: Int, c: Char, to: Int): Unit = {
    val k = (node.toLong << 16) | c
    var i = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & (cap - 1))
    while (keys(i) != -1L && keys(i) != k) i = (i + 1) & (cap - 1)
    keys(i) = k
    vals(i) = to
  }

  private def get(node: Int, c: Char): Int = {
    val k = (node.toLong << 16) | c
    var i = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & (cap - 1))
    while (keys(i) != -1L) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & (cap - 1)
    }
    -1
  }

  // per-node emitted pattern ids, flattened through fail links after
  // the BFS so the scan emits with one array walk
  private val outs: Array[Array[Int]] = {
    val trieOut = Array.fill(maxNodes)(List.empty[Int])
    var p = 0
    while (p < nPatterns) {
      val s = patterns(p)
      require(s.nonEmpty, "blocklist patterns must be non-empty")
      var node = 0
      var i = 0
      while (i < s.length) {
        val nxt = get(node, s.charAt(i))
        node = if (nxt >= 0) nxt else {
          val id = nNodes
          nNodes += 1
          put(node, s.charAt(i), id)
          id
        }
        i += 1
      }
      trieOut(node) ::= p
      p += 1
    }
    // BFS fail links over the explicit trie edges
    val order = new Array[Int](nNodes)
    var head = 0
    var tail = 0
    // collect root children by scanning the table once (edges are few)
    var ti = 0
    while (ti < cap) {
      if (keys(ti) != -1L && (keys(ti) >>> 16) == 0L) {
        fail(vals(ti)) = 0
        order(tail) = vals(ti)
        tail += 1
      }
      ti += 1
    }
    // child lists per node for BFS: rebuild from the table (node-major)
    val childKeys = Array.fill(nNodes)(List.empty[(Char, Int)])
    ti = 0
    while (ti < cap) {
      if (keys(ti) != -1L) {
        val node = (keys(ti) >>> 16).toInt
        val c = (keys(ti) & 0xFFFFL).toChar
        childKeys(node) ::= ((c, vals(ti)))
      }
      ti += 1
    }
    while (head < tail) {
      val u = order(head)
      head += 1
      for ((c, v) <- childKeys(u)) {
        // fail(v): longest proper suffix state with a c-transition
        var f = fail(u)
        var nxt = get(f, c)
        while (nxt < 0 && f != 0) {
          f = fail(f)
          nxt = get(f, c)
        }
        fail(v) = if (nxt >= 0 && nxt != v) nxt else 0
        order(tail) = v
        tail += 1
      }
    }
    // flatten outputs through fail chains in BFS order (fail(v) is
    // always processed before v)
    val flat = new Array[Array[Int]](nNodes)
    flat(0) = trieOut(0).toArray
    var oi = 0
    while (oi < tail) {
      val v = order(oi)
      flat(v) = (trieOut(v) ++ flat(fail(v)).toList).toArray
      oi += 1
    }
    flat
  }

  /** Scan `text`, incrementing `counts(patternId)` for every
    * occurrence (overlaps and nested matches included).
    */
  def scan(text: UTF8String, counts: Array[Long]): Unit = {
    val s = text.toString
    var node = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      var nxt = get(node, c)
      while (nxt < 0 && node != 0) {
        node = fail(node)
        nxt = get(node, c)
      }
      node = if (nxt >= 0) nxt else 0
      val out = outs(node)
      var j = 0
      while (j < out.length) {
        counts(out(j)) += 1L
        j += 1
      }
      i += 1
    }
  }
}

/** One-pass blocklist stats kernel; see [[Blocklist]]. Only the
  * pattern STRINGS serialize — the automaton is a transient lazy per
  * executor. Codegen emits a reference-object call so the expression
  * stays inside the whole-stage span (QueryTfExpr's pattern).
  */
case class BlocklistCountExpr(child: Expression, patterns: Seq[String])
    extends UnaryExpression {
  require(patterns.nonEmpty, "blocklist requires at least one pattern")
  require(patterns.distinct.length == patterns.length,
    "blocklist patterns must be distinct (duplicates would double-count)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"blocklist_hits requires a STRING column, got $t")
  }

  override def dataType: DataType = BlocklistCountExpr.schema

  @transient private lazy val ac = new AhoCorasick(patterns.toIndexedSeq)

  /** Kernel; public for the codegen `addReferenceObj` call. */
  def compute(input: UTF8String): InternalRow = {
    val counts = new Array[Long](patterns.length)
    ac.scan(input, counts)
    var hits = 0L
    var fired = 0
    var checksum = 0L
    var p = 0
    while (p < counts.length) {
      hits += counts(p)
      if (counts(p) > 0L) fired += 1
      checksum += counts(p) * (p + 1L)
      p += 1
    }
    new GenericInternalRow(Array[Any](hits, fired, checksum))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blocklist", this, classOf[BlocklistCountExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): BlocklistCountExpr =
    copy(child = c)
  override def prettyName: String = "blocklist_hits"
}

object BlocklistCountExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_hits", LongType, nullable = false),
    StructField("n_patterns", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  def apply(text: Column, patterns: Seq[String]): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(new BlocklistCountExpr(expression(text), patterns))
  }
}
