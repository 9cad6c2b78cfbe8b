package graft.functions

import java.util.Arrays

/** Open-addressing hash table from a key of one or two longs to a
  * dense slot `0 until size` (slots are handed out in insertion
  * order), with `columns` long values per slot. Keys, values and the
  * probe table are flat primitive arrays, so a table is a handful of
  * objects however many entries it holds: the per-partition node
  * index and the message pre-combine of the [[Graphs]] rounds.
  * Linear probing at a load factor of at most 1/2.
  */
private[functions] final class LongTable(keyWidth: Int, columns: Int, expected: Int)
    extends Serializable {
  require(keyWidth == 1 || keyWidth == 2, s"keyWidth must be 1 or 2, got $keyWidth")

  private var cap = Integer.highestOneBit(math.max(expected, 2) * 2 - 1)
  private var keys = new Array[Long](cap * keyWidth)
  private var vals = Array.fill(columns)(new Array[Long](cap))
  private var table = new Array[Int](2 * cap) // slot + 1; 0 = empty cell
  private var n = 0

  def size: Int = n

  /** The cell of `table` holding key `(a, b)`, or the empty cell where
    * it would go.
    */
  private def cell(a: Long, b: Long): Int = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
    val mask = table.length - 1
    var i = (h ^ (h >>> 33)).toInt & mask
    while (table(i) != 0 && !holds(table(i) - 1, a, b)) i = (i + 1) & mask
    i
  }

  private def holds(s: Int, a: Long, b: Long): Boolean =
    keys(s * keyWidth) == a && (keyWidth == 1 || keys(s * keyWidth + 1) == b)

  /** The slot of key `(a, b)`, or -1. */
  def find(a: Long, b: Long = 0L): Int = table(cell(a, b)) - 1

  /** The slot of key `(a, b)`, added with zero values if absent. */
  def slot(a: Long, b: Long = 0L): Int = {
    val i = cell(a, b)
    if (table(i) != 0) table(i) - 1
    else if (n == cap) { grow(); slot(a, b) }
    else {
      keys(n * keyWidth) = a
      if (keyWidth == 2) keys(n * keyWidth + 1) = b
      table(i) = n + 1
      n += 1
      n - 1
    }
  }

  private def grow(): Unit = {
    cap *= 2
    keys = Arrays.copyOf(keys, cap * keyWidth)
    vals = vals.map(Arrays.copyOf(_, cap))
    table = new Array[Int](2 * cap)
    for (s <- 0 until n) table(cell(key(s), key(s, 1))) = s + 1
  }

  /** Part `j` of slot `s`'s key (0 for the second part of a one-long key). */
  def key(s: Int, j: Int = 0): Long = if (j < keyWidth) keys(s * keyWidth + j) else 0L

  def value(c: Int, s: Int): Long = vals(c)(s)

  def set(c: Int, s: Int, v: Long): Unit = vals(c)(s) = v

  /** Adds `v` to value `c` of slot `s`; an overflow throws. */
  def add(c: Int, s: Int, v: Long): Unit = vals(c)(s) = Math.addExact(vals(c)(s), v)

  /** Every key part, then every value, each a column in slot order. */
  def columns: Array[Array[Long]] =
    Array.tabulate(keyWidth)(j => Array.tabulate(n)(key(_, j))) ++
      vals.map(Arrays.copyOf(_, n))
}

private[functions] object LongTable {

  /** An index of `ids`, which must be distinct: `find(ids(i)) == i`. */
  def of(ids: Array[Long]): LongTable = {
    val t = new LongTable(1, 0, ids.length)
    ids.foreach(t.slot(_))
    t
  }
}
