package graft.kg.text

import java.util.Locale
import scala.collection.mutable

/** Pure text normalization utilities.
  *
  * Semantics re-expressed from the reference's deterministic text layer
  * (Legal-Knowledge-Graphs `extractor.py:749-846` — whitespace-collapse with
  * index mapping, quote→span alignment, Turkish-aware case folding,
  * tokenization and keyword sets). Everything here is pure, deterministic and
  * serializable so it can run inside Spark tasks without driver state.
  */
object Normalize {

  /** Collapse whitespace runs to a single space, returning the normalized
    * string and a map from normalized index → original index.
    * Mirrors `_normalize_with_mapping` (extractor.py:749-770).
    */
  def normalizeWithMapping(raw: String): (String, Array[Int]) = {
    val sb = new java.lang.StringBuilder(raw.length)
    val map = new mutable.ArrayBuilder.ofInt
    map.sizeHint(raw.length)
    var inWs = false
    var i = 0
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (Character.isWhitespace(ch)) {
        if (!inWs) { sb.append(' '); map += i; inWs = true }
      } else {
        sb.append(ch); map += i; inWs = false
      }
      i += 1
    }
    (sb.toString, map.result())
  }

  /** The string of [[normalizeWithMapping]] without the index map; `raw`
    * itself when every whitespace char in it is a lone space. */
  def collapseWhitespace(raw: String): String = {
    var i = 0
    var prevWs = false
    while (i < raw.length) {
      val c = raw.charAt(i)
      if ((c <= ' ' || c >= 0x80) && Character.isWhitespace(c)) {
        if (c != ' ' || prevWs) return normalizeWithMapping(raw)._1
        prevWs = true
      } else prevWs = false
      i += 1
    }
    raw
  }

  private val TrLowerFrom = "İIŞÇÖÜĞ"
  private val TrLowerTo   = "iışçöüğ"

  /** Turkish-aware lowercase: İ→i, I→ı plus standard lowering
    * (extractor.py:776-781). */
  def turkishLower(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val j = TrLowerFrom.indexOf(c.toInt)
      sb.append(if (j >= 0) TrLowerTo.charAt(j) else c)
      i += 1
    }
    sb.toString.toLowerCase(Locale.ROOT)
  }

  /** True iff every char is < 0x80 — the fast-path guard that lets the
    * scanner below skip the full-string `toLowerCase` copy (ASCII lowering
    * is context-free, so per-char lowering is bit-identical; non-ASCII text
    * keeps the locale-correct full-string path). */
  private[graft] def isAscii(text: String): Boolean = {
    var i = 0
    val n = text.length
    while (i < n) { if (text.charAt(i) >= 0x80) return false; i += 1 }
    true
  }

  @inline private def asciiWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  @inline private def asciiFold(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** [start, end) slice with `A`-`Z` lowered, copying once. */
  private def lowerSlice(text: String, start: Int, end: Int): String = {
    val out = new Array[Char](end - start)
    var i = start
    while (i < end) {
      out(i - start) = asciiFold(text.charAt(i))
      i += 1
    }
    new String(out)
  }

  /** Per-thread token intern. Tokens are drawn from a small recurring
    * vocabulary, so the scanner returns ONE canonical String per distinct
    * token instead of a fresh substring per occurrence — token Strings were
    * the extractor's top allocation site, and the canonical copies carry a
    * cached hashCode for all the keyword-set operations downstream.
    * Open-addressing over a power-of-two table keyed by the char region
    * with `A`-`Z` lowered (a ROOT-lowered region has none, so one fold
    * serves both scanner paths); the table doubles until `MaxCap`, after
    * which new tokens fall back to plain allocation (pathological
    * vocabularies stay bounded). */
  private final class TokenIntern {
    private var cap = 1 << 12
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var size = 0
    private val MaxCap = 1 << 17

    private def regionEq(k: String, text: String, start: Int, end: Int): Boolean = {
      if (k.length != end - start) return false
      var i = 0
      val n = k.length
      while (i < n) {
        if (asciiFold(text.charAt(start + i)) != k.charAt(i)) return false
        i += 1
      }
      true
    }

    private def grow(): Unit = {
      val old = keys
      cap <<= 1
      mask = cap - 1
      keys = new Array[String](cap)
      var i = 0
      while (i < old.length) {
        val k = old(i)
        if (k != null) {
          var slot = k.hashCode & mask
          while (keys(slot) != null) slot = (slot + 1) & mask
          keys(slot) = k
        }
        i += 1
      }
    }

    /** Canonical lowered String for text[start, end); `h` is the
      * `String.hashCode` of that lowered region. */
    def get(text: String, start: Int, end: Int, h: Int): String = {
      var slot = h & mask
      var k = keys(slot)
      while (k != null) {
        if (k.hashCode == h && regionEq(k, text, start, end)) return k
        slot = (slot + 1) & mask
        k = keys(slot)
      }
      val fresh = lowerSlice(text, start, end)
      if (size < (cap - (cap >> 2))) { // load factor <= 0.75
        keys(slot) = fresh
        size += 1
      } else if (cap < MaxCap) {
        grow()
        var s2 = h & mask
        while (keys(s2) != null) s2 = (s2 + 1) & mask
        keys(s2) = fresh
        size += 1
      } // else: table full — hand out the fresh copy uninterned
      fresh
    }
  }

  private val Interned = ThreadLocal.withInitial[TokenIntern](() => new TokenIntern)

  /** |a ∩ b| without allocating the intersection, counting at most `cap`
    * hits — the clustering/autofill/repair scorers only ever compare or cap
    * the overlap size. The scanner's sets are [[TokenSet]]s, which intersect
    * by an ordered merge; any other set is converted first. */
  def overlap(a: Set[String], b: Set[String], cap: Int = Int.MaxValue): Int =
    TokenSet.of(a).overlap(TokenSet.of(b), cap)

  /** EN + TR + FR function-word stopword set (extractor.py:1069-1083). */
  val Stopwords: Set[String] = TokenSet.from(Seq(
    "the", "a", "an", "and", "or", "to", "of", "in", "on", "for", "by", "with", "without",
    "is", "was", "were", "are", "be", "been", "being", "as", "at", "from", "that", "this",
    "it", "its", "their", "his", "her", "they", "them", "he", "she", "we", "our", "you",
    "not", "no", "yes", "shall", "may", "must", "can", "could", "would", "should",
    "bir", "ile", "için", "icin", "olan", "olarak", "dair", "daha", "sonra", "önce",
    "kadar", "gibi", "tarafından", "tarafindan", "göre", "gore", "ise", "veya",
    "ancak", "fakat", "ama", "ayrıca", "ayrica", "dolayı", "dolayi", "ilgili",
    "üzerine", "uzerine", "hakkında", "hakkinda", "karşı", "karsi", "bakımından",
    "bakimindan", "suretiyle", "niteliğinde", "niteligi", "kapsamında", "kapsaminda",
    "dans", "pour", "avec", "sur", "par", "une", "des", "les", "aux", "est",
    "que", "qui", "sont", "été", "pas", "ont", "cette", "ces", "mais", "aussi"
  ))

  /** The one token scanner: the distinct word tokens of the lowered text
    * with length ≥ `minLen` and not in `stops`, built in one pass. Words are
    * `(?U)\\w+` runs when `unicodeWords` (extractor.py:1110-1116), else
    * `[a-z0-9_]+` runs (the repair engine's tokenizer,
    * repair_orphans.py:152-154). ASCII input, the overwhelming case, is
    * scanned in place and lowered per char; any other input is lowered once
    * with `Locale.ROOT` first. A ROOT-lowered string holds no `A`-`Z`, so
    * `asciiWordChar` is exactly `[a-z0-9_]` on it, and chars that lower to
    * ASCII word chars (the Kelvin sign) count. The token's hash is summed
    * while its chars are read, and sub-minimum tokens are skipped before
    * any lookup or copy. */
  private def scan(text: String, unicodeWords: Boolean, minLen: Int, stops: Set[String]): TokenSet = {
    if (text == null || text.isEmpty) return TokenSet.empty
    val ascii = isAscii(text)
    val s = if (ascii) text else text.toLowerCase(Locale.ROOT)
    val unicode = unicodeWords && !ascii
    val tin = Interned.get()
    var buf = new Array[String](16)
    var k = 0
    val n = s.length
    var i = 0
    while (i < n) {
      val start = i
      var h = 0
      var c = s.charAt(i)
      while (if (unicode) Character.isLetterOrDigit(c) || c == '_' else asciiWordChar(c)) {
        h = h * 31 + asciiFold(c)
        i += 1
        c = if (i < n) s.charAt(i) else ' '
      }
      if (i == start) i += 1
      else if (i - start >= minLen) {
        val t = tin.get(s, start, i, h)
        if (!stops.contains(t)) {
          if (k == buf.length) buf = java.util.Arrays.copyOf(buf, k * 2)
          buf(k) = t
          k += 1
        }
      }
    }
    TokenSet.fromBuffer(buf, k)
  }

  /** Tokens of length ≥ 4 minus stopwords (extractor.py:1119-1121); the
    * engine's hottest set constructor. */
  def keywordSet(text: String): TokenSet = scan(text, unicodeWords = true, 4, Stopwords)

  /** The ≥ 4-char word tokens of texts, each text instance scanned once:
    * `keywords(t)` is `keywordSet(t)` and `words(t)` is `tokenSet(t, 4)`,
    * and other stop lists derive from `words` the same way. Texts are keyed
    * by identity (node texts are shared instances; hashing them would read
    * every char). One instance serves one extract call and keeps nothing
    * past it. */
  final class TextWords {
    private val cache = new java.util.IdentityHashMap[String, TokenSet]
    def words(text: String): TokenSet = {
      var w = cache.get(text)
      if (w == null) { w = tokenSet(text, 4); cache.put(text, w) }
      w
    }
    def keywords(text: String): TokenSet = words(text).without(Stopwords)
  }

  /** Unicode word tokens of length ≥ `minLen` minus `stops`. */
  def tokenSet(text: String, minLen: Int, stops: Set[String] = TokenSet.empty): TokenSet =
    scan(text, unicodeWords = true, minLen, stops)

  /** ASCII word tokens ≥ `minLen` minus `stops` (the repair engine's
    * keyword_set shape, repair_orphans.py:157-160). */
  def asciiKeywordSet(text: String, minLen: Int, stops: Set[String]): TokenSet =
    scan(text, unicodeWords = false, minLen, stops)

  /** Case-insensitive (optionally Turkish-folded) substring test (extractor.py:1124-1129). */
  def containsPhrase(haystack: String, phrase: String, turkish: Boolean = false): Boolean = {
    if (haystack == null || haystack.isEmpty || phrase == null || phrase.isEmpty) false
    else if (turkish) turkishLower(haystack).contains(turkishLower(phrase))
    else haystack.toLowerCase(Locale.ROOT).contains(phrase.toLowerCase(Locale.ROOT))
  }

  private val NegativeCues = List("without ", "no ", "not ", "denied", "refused", "failed to")

  /** Negation-cue heuristic for requirement satisfaction (extractor.py:1306-1309). */
  def looksNegative(text: String): Boolean = {
    val t = if (text == null) "" else text.toLowerCase(Locale.ROOT)
    NegativeCues.exists(t.contains)
  }

  /** Case fold that keeps every char at its index: ROOT lowering, except
    * that U+0130 (İ), the one char whose ROOT lowercase is two chars, folds
    * to `i`. Positions found in the folded text are positions in `s`. */
  private def caseFold(s: String): String = s.replace('\u0130', 'i').toLowerCase(Locale.ROOT)

  /** Find (start, end) offsets of a quoted snippet inside a document after
    * whitespace normalization (extractor.py:792-846 `align_quote_to_span`).
    * Tries an exact match, then a case-insensitive one, then, when
    * `turkish`, the Turkish fold; every fold keeps the normalized indices,
    * so one offset map serves all three.
    */
  def alignQuote(docText: String, quote: String, turkish: Boolean = false): Option[(Int, Int)] = {
    if (quote == null) return None
    val q = quote.trim
    if (q.isEmpty) return None
    val (normDoc, docMap) = normalizeWithMapping(docText)
    val normQ = normalizeWithMapping(q)._1
    var pos = normDoc.indexOf(normQ)
    if (pos == -1) pos = caseFold(normDoc).indexOf(caseFold(normQ))
    if (pos == -1 && turkish) pos = turkishLower(normDoc).indexOf(turkishLower(normQ))
    if (pos == -1) return None
    val start = docMap(pos)
    val end = docMap(pos + normQ.length - 1) + 1
    if (start < 0 || end <= start || end > docText.length) None else Some((start, end))
  }

  private val HexChars = "0123456789abcdef".toCharArray

  // one digest instance + output buffer per thread: getInstance allocates
  // provider wiring on every call, digests run once per node/edge/anchor
  // (digest() resets the instance, so reuse is safe), and digesting into the
  // reusable buffer + emitting exactly the requested hex width avoids the
  // digest byte[] plus the full-hex-then-take String copies
  private val Sha256 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("SHA-256"))
  private val Sha1 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("SHA-1"))
  private val DigestBuf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](32))

  private def digestHexN(md: java.security.MessageDigest, s: String, hexChars: Int): String = {
    md.update(s.getBytes("UTF-8"))
    val buf = DigestBuf.get()
    val len = md.digest(buf, 0, buf.length)
    val n = math.min(hexChars, len * 2)
    val out = new Array[Char](n)
    var i = 0
    while (i < n) {
      val b = buf(i >> 1) & 0xff
      out(i) = if ((i & 1) == 0) HexChars(b >>> 4) else HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** sha256 hex digest (full). */
  def sha256Hex(s: String): String = digestHexN(Sha256.get(), s, 64)

  /** Document id: "sha256:" + first 12 hex chars (extractor.py:4488). */
  def docId(text: String): String = "sha256:" + digestHexN(Sha256.get(), text, 12)

  /** Anchor text hash: first 16 hex chars of sha256 (extractor.py:1686-1689). */
  def textHash16(s: String): String = digestHexN(Sha256.get(), s, 16)

  /** sha1 hex digest, used for deterministic edge-id tags (extractor.py:4778). */
  def sha1Hex8(s: String): String = digestHexN(Sha1.get(), s, 8)
}
