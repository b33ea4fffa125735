package graft.kg.text

import scala.collection.immutable.AbstractSet

/** An immutable string set held as one array sorted by (hash code, string
  * order), with the hash codes in a parallel int array.
  *
  * Keyword sets are built once and intersected many times in the
  * extractor's scoring loops (cluster assignment, requirement satisfaction,
  * orphan repair). Here an intersection is a merge over the two hash arrays,
  * or a binary search per element of the smaller side when the sizes are
  * far apart (the ordered-set intersection of HERO, SIGMOD 2024). Strings
  * are compared only on equal hashes, and by identity first: the token
  * scanner hands out one interned String per token and thread. A CHAMP
  * `Set[String]` instead probes a trie and calls the boxed `==` per element.
  *
  * Two more views make the common cases cheap: a 64-bit signature (one bit
  * per hash) rules out most disjoint pairs before any merge, and sets of
  * more than 16 strings (the stop lists) answer `contains` from an
  * open-addressing table over the hashes, built on first use.
  *
  * It is a `Set[String]`, so equality, `contains` and iteration mean what
  * they mean for any set; iteration order is the sorted order. It must
  * stay `Serializable`: Spark closures capture ontology concepts, whose
  * keyword sets are `TokenSet`s.
  */
final class TokenSet private (private val toks: Array[String], private val hashes: Array[Int])
    extends AbstractSet[String] with Serializable {

  override def size: Int = toks.length
  override def knownSize: Int = toks.length
  override def isEmpty: Boolean = toks.length == 0
  def iterator: Iterator[String] = toks.iterator

  private val signature: Long = {
    var sig = 0L
    var i = 0
    while (i < hashes.length) { sig |= 1L << (hashes(i) & 63); i += 1 }
    sig
  }

  /** Open-addressing table: slot → index + 1 (0 = empty). */
  @transient private lazy val table: Array[Int] = {
    val t = new Array[Int](Integer.highestOneBit(toks.length * 4))
    var i = 0
    while (i < toks.length) {
      var slot = TokenSet.spread(hashes(i)) & (t.length - 1)
      while (t(slot) != 0) slot = (slot + 1) & (t.length - 1)
      t(slot) = i + 1
      i += 1
    }
    t
  }

  def contains(s: String): Boolean = {
    val h = TokenSet.hash(s)
    if (toks.length <= 16) TokenSet.search(toks, hashes, 0, toks.length, s, h) >= 0
    else {
      val t = table
      var slot = TokenSet.spread(h) & (t.length - 1)
      while (t(slot) != 0) {
        val i = t(slot) - 1
        if (hashes(i) == h && TokenSet.compare(toks(i), s) == 0) return true
        slot = (slot + 1) & (t.length - 1)
      }
      false
    }
  }

  def incl(s: String): Set[String] =
    if (contains(s)) this else TokenSet.from(iterator ++ Iterator.single(s))

  def excl(s: String): Set[String] =
    if (!contains(s)) this else TokenSet.from(iterator.filter(t => TokenSet.compare(t, s) != 0))

  /** This set minus the elements `stops` contains, in the same order. */
  def without(stops: scala.collection.Set[String]): TokenSet = {
    val keep = new Array[Boolean](toks.length)
    var m = 0
    var i = 0
    while (i < toks.length) {
      if (!stops.contains(toks(i))) { keep(i) = true; m += 1 }
      i += 1
    }
    if (m == toks.length) this
    else {
      val t = new Array[String](m)
      val h = new Array[Int](m)
      var j = 0
      i = 0
      while (i < toks.length) {
        if (keep(i)) { t(j) = toks(i); h(j) = hashes(i); j += 1 }
        i += 1
      }
      new TokenSet(t, h)
    }
  }

  /** |this ∩ that|, counting at most `cap` common elements. */
  def overlap(that: TokenSet, cap: Int): Int = {
    val small = if (size <= that.size) this else that
    val large = if (small eq this) that else this
    if ((signature & that.signature) == 0L) return 0
    val ns = small.size
    val nl = large.size
    var n = 0
    var i = 0
    if (ns * 8 <= nl) {
      // far apart: binary-search each small element in the rest of large
      var lo = 0
      while (i < ns && n < cap) {
        val k = TokenSet.search(large.toks, large.hashes, lo, nl, small.toks(i), small.hashes(i))
        if (k >= 0) { n += 1; lo = k + 1 } else lo = -k - 1
        i += 1
      }
    } else {
      var j = 0
      while (i < ns && j < nl && n < cap) {
        val hs = small.hashes(i)
        val hl = large.hashes(j)
        if (hs < hl) i += 1
        else if (hs > hl) j += 1
        else {
          val c = TokenSet.compare(small.toks(i), large.toks(j))
          if (c == 0) { n += 1; i += 1; j += 1 }
          else if (c < 0) i += 1
          else j += 1
        }
      }
    }
    n
  }
}

object TokenSet {

  val empty: TokenSet = new TokenSet(new Array[String](0), new Array[Int](0))

  @inline private def hash(s: String): Int = if (s == null) 0 else s.hashCode

  @inline private def spread(h: Int): Int = h ^ (h >>> 16)

  /** String order with an identity shortcut; null sorts first. */
  @inline private def compare(a: String, b: String): Int =
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1 else a.compareTo(b)

  /** Order of the arrays: hash code, then string order. */
  @inline private def before(ha: Int, a: String, hb: Int, b: String): Boolean =
    ha < hb || (ha == hb && compare(a, b) < 0)

  private object Order extends java.util.Comparator[String] {
    def compare(a: String, b: String): Int = {
      val ha = hash(a)
      val hb = hash(b)
      if (ha != hb) Integer.compare(ha, hb) else TokenSet.compare(a, b)
    }
  }

  /** Index of `s` in `toks[from, to)`, else `-(insertion point) - 1`. */
  private def search(toks: Array[String], hashes: Array[Int], from: Int, to: Int,
      s: String, h: Int): Int = {
    var lo = from
    var hi = to - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val hm = hashes(mid)
      val c = if (hm < h) -1 else if (hm > h) 1 else compare(toks(mid), s)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return mid
    }
    -(lo + 1)
  }

  /** The set of the first `n` strings of `buf` (duplicates allowed). `buf`
    * is reordered in place. */
  private[text] def fromBuffer(buf: Array[String], n: Int): TokenSet = {
    if (n == 0) return empty
    val hs = new Array[Int](n)
    var i = 0
    if (n > 32) {
      java.util.Arrays.sort(buf, 0, n, Order)
      while (i < n) { hs(i) = hash(buf(i)); i += 1 }
    } else {
      // insertion sort: keyword sets are a few dozen tokens
      while (i < n) {
        val s = buf(i)
        val h = hash(s)
        var j = i - 1
        while (j >= 0 && before(h, s, hs(j), buf(j))) {
          buf(j + 1) = buf(j); hs(j + 1) = hs(j); j -= 1
        }
        buf(j + 1) = s; hs(j + 1) = h
        i += 1
      }
    }
    var m = 1
    i = 1
    while (i < n) {
      if (hs(i) != hs(m - 1) || compare(buf(i), buf(m - 1)) != 0) {
        buf(m) = buf(i); hs(m) = hs(i); m += 1
      }
      i += 1
    }
    new TokenSet(java.util.Arrays.copyOf(buf, m), if (m == n) hs else java.util.Arrays.copyOf(hs, m))
  }

  def from(it: IterableOnce[String]): TokenSet = {
    val arr = it.iterator.toArray
    fromBuffer(arr, arr.length)
  }

  /** `s` itself when it is a TokenSet, else its elements as one. */
  def of(s: scala.collection.Set[String]): TokenSet = s match {
    case t: TokenSet => t
    case _ => from(s)
  }
}
