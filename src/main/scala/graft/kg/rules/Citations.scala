package graft.kg.rules

import graft.kg.ontology.Jurisdiction
import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** A regex-detected citation span with exact char offsets. */
final case class CitationHit(
    citation: String,
    startChar: Int,
    endChar: Int,
    citationType: String,
    caseName: Option[String],
    caseYear: Option[Int]
)

/** Deterministic citation extraction for Indian / ECHR / Turkish legal text.
  *
  * Pattern grammar re-expressed in Java regex from the reference's citation
  * pre-pass (citation_preprocess.py:58-261); overlap dedup keeps the longest
  * span (citation_preprocess.py:374-394). This is the "accuracy floor" scan
  * that feeds precedent-node induction.
  */
object Citations {

  private def p(re: String): Pattern =
    Pattern.compile(re, Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE)

  // --- Indian ---
  private val InAir = p("""\bAIR\s+(\d{4})\s+(SC|Del|Bom|Mad|Cal|All|Ker|Kar|Pat|P&H|Guj|AP|HP|J&K|Ori|Raj|MP|Gau|Tri|NOC)\s+\d+""")
  private val InSccParen = p("""\(\d{4}\)\s+\d{1,2}\s+SCC\s+\d+""")
  private val InSccOnline = p("""\b\d{4}\s+SCC\s+OnLine\s+(?:SC|Del|Bom|Mad|Cal|All|Ker|Kar|Pat|P[\s&]*H|Guj|AP|HP|J[\s&]*K|Ori|Raj|MP|Gau|Tri|Chh|Utt|Jhar)\s+\d+""")
  private val InScr = p("""(?:\(\d{4}\)\s+\d{1,2}\s+SCR\s+\d+|\d{4}\s+SCR\s*\(\d{1,2}\)\s+\d+)""")
  private val InCaseNumber = p("""\b(?:Crl\.?\s*A\.?|W\.?P\.?\s*\(?\s*(?:C|Crl)\.?\s*\)?|SLP\s*\(?\s*(?:C|Crl)\.?\s*\)?|C\.?A\.?|T\.?C\.?\s*\(?\s*C\.?\s*\)?|M\.?A\.?)\s*(?:No\.?\s*)?\d+\s+of\s+\d{4}""")
  private val InManu = p("""\bMANU/[A-Z]{2}/\d+/\d{4}""")
  private val InIlr = p("""\bILR\s+\d{4}\s+[A-Z]{2,4}\s+\d+""")

  // --- ECHR ---
  private val EchrAppNo = p("""\b[Aa]pplication\s+nos?\.?\s+(\d{1,6}/\d{2,4})(?:\s+and\s+\d{1,6}/\d{2,4})*""")
  private val EchrBareAppNo = p("""\bnos?\.?\s+(\d{1,6}/\d{2,4})""")
  private val EchrNameFrag = """[A-ZÀ-Ž][A-Za-zÀ-žà-ž'\-]+"""
  private val EchrCaseV = Pattern.compile(
    s"""($EchrNameFrag(?:\\s+(?:and|et)\\s+(?:Others|Autres|$EchrNameFrag))*)\\s+v\\.?\\s+((?:the\\s+)?$EchrNameFrag(?:\\s+$EchrNameFrag)*)\\s*(?:\\[(?:GC|dec\\.|comm\\.)\\])?""")
  private val EchrSeries = p("""\b(?:Series\s+A\s+no\.?\s*\d+|Reports?\s+(?:of\s+Judgments\s+and\s+Decisions\s+)?\d{4}(?:\-[IVXLCDM]+)?)""")
  private val EchrReportYear = p("""\bECHR\s+\d{4}(?:\s*[-–]\s*[IVXLCDM]+)?(?:\s*\(extracts?\))?""")

  // --- Turkish ---
  private val TrAymEk = p("""\b(?:AYM|Anayasa\s+Mahkemesi)\s*[,;]?\s*E\.?\s*(\d{4})/(\d+)\s*[,;]\s*K\.?\s*(\d{4})/(\d+)""")
  private val TrEkCombined = p("""(\d{4})/(\d+)\s*E\.\s*[,;]\s*(\d{4})/(\d+)\s*K\.""")
  private val TrYargitay = p("""\bYarg[ıi]tay\s+(?:\d+\.\s*)?(?:Ceza|Hukuk|Daire)\s*(?:si|Dairesi)?\s*[,;]?\s*(?:E\.?\s*\d{4}/\d+)?""")
  private val TrDanistay = p("""\bDan[ıi][şs]tay\s+(?:\d+\.\s*)?(?:Daire|İdari\s+Dava)\s*(?:si|Dairesi)?\s*[,;]?\s*(?:E\.?\s*\d{4}/\d+)?""")
  private val TrBasvuru = p("""\b(?:[Bb]a[şs]vuru\s+(?:numaras[ıi]|[Nn]o\.?))\s*[,:;]?\s*(\d{4}/\d+)""")
  private val TrRg = p("""\b(?:Resm[iî]\s+Gazete|R\.?\s*G\.?)\s*[,:;]?\s*(?:tarih|say[ıi])?\s*[,:;]?\s*\d+[./]\d+[./]?\d*""")
  private val TrKanun = p("""\b(\d{3,5})\s+say[ıi]l[ıi]\s+(?:Kanun|(?:T\.?)?(?:C\.?)?K\.?|HMK|CMK|TMK|TTK|[A-ZÇĞİÖŞÜ]{2,5})""")
  private val TrEsas = p("""\b(?:E\.?\s*(\d{4})/(\d+)|(\d{4})/(\d+)\s*E\.)""")
  private val TrKarar = p("""\b(?:K\.?\s*(\d{4})/(\d+)|(\d{4})/(\d+)\s*K\.)""")

  val IndianPatterns: List[(Pattern, String)] = List(
    InAir -> "air", InSccParen -> "scc", InSccOnline -> "scc_online",
    InScr -> "scr", InManu -> "manu", InIlr -> "ilr", InCaseNumber -> "case_number")

  val EchrPatterns: List[(Pattern, String)] = List(
    EchrAppNo -> "echr_appno", EchrCaseV -> "echr_case_v", EchrSeries -> "echr_series",
    EchrReportYear -> "echr_report", EchrBareAppNo -> "echr_bare_appno")

  val TurkishPatterns: List[(Pattern, String)] = List(
    TrAymEk -> "tr_aym", TrEkCombined -> "tr_ek_combined", TrYargitay -> "tr_yargitay",
    TrDanistay -> "tr_danistay", TrBasvuru -> "tr_basvuru", TrRg -> "tr_resmi_gazete",
    TrKanun -> "tr_kanun", TrEsas -> "tr_esas", TrKarar -> "tr_karar")

  /** The jurisdiction's citation grammar; throws on a spelling
    * [[Jurisdiction.parse]] does not accept. */
  def patternsFor(jurisdiction: String): List[(Pattern, String)] =
    Jurisdiction.parse(jurisdiction) match {
      case Jurisdiction.India  => IndianPatterns
      case Jurisdiction.Echr   => EchrPatterns
      case Jurisdiction.Turkey => TurkishPatterns
    }

  private val YearRe = Pattern.compile("""\b((?:19|20)\d{2})\b""")

  /** First 4-digit year in a citation string (citation_preprocess.py:366-372). */
  def extractYear(text: String): Option[Int] = {
    val m = YearRe.matcher(text)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** "Name v. Name" immediately preceding a reporter citation (", AIR 1978
    * SC 597") — used to attach a case name to Indian/Turkish citations whose
    * patterns carry none, enabling cross-conversation canonicalization by
    * name↔citation co-occurrence. */
  private val PrecedingNameRe = Pattern.compile(
    s"""($EchrNameFrag(?:\\s+$EchrNameFrag)*)\\s+v(?:s?)\\.?\\s+((?:the\\s+)?$EchrNameFrag(?:\\s+(?:of\\s+)?$EchrNameFrag)*)[,\\s]*$$""")

  /** Literal anchors for the Indian grammar: every IN pattern's match
    * contains one of these case-insensitive literals ("air", "scc", "scr",
    * "manu", "ilr") or — for case-number citations — an "of" token flanked
    * by digits across whitespace ("123 of 2020"). Scanning ±R around anchor
    * occurrences is exact for matches shorter than R (same bound the digit
    * windows relied on) while touching a tiny fraction of running text:
    * indexOf is intrinsified, so the (backtracking) patterns run only where
    * a citation can actually be. */
  private val InAnchorLits = Array("air", "scc", "scr", "manu", "ilr")

  /** Anchor literal index → bitmask over IndianPatterns (scc gates both the
    * paren and OnLine grammars; the "of" detector gates case_number). */
  private val InAnchorMasks = Array(1 << 0, (1 << 1) | (1 << 2), 1 << 3, 1 << 4, 1 << 5)
  private val OfMask = 1 << 6

  /** Case-insensitive indexOf of a LOWERCASE ASCII literal, scanning the
    * ORIGINAL text — offsets are trivially 1:1 (String.toLowerCase could
    * expand length, e.g. U+0130 İ → "i̇", shifting Matcher.region bounds),
    * and no lowered copy of the conversation text is allocated (the copy was
    * a profiled allocation hot spot). `c | 0x20` folds only A-Z→a-z for the
    * chars we compare against (ASCII letters/digits). */
  private def indexOfIgnoreCase(text: String, lit: String, from: Int): Int = {
    val n = text.length
    val m = lit.length
    var i = from
    while (i + m <= n) {
      var j = 0
      while (j < m && {
        val c = text.charAt(i + j)
        val f = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        f == lit.charAt(j)
      }) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }

  /** Merged anchor windows (start, end, patternMask) for the Indian grammar.
    * Anchor scanning is case-insensitive with offsets 1:1 to the ORIGINAL
    * text: the common path lowers once and uses the intrinsified
    * String.indexOf (char-by-char folding profiled 4× slower), guarded by a
    * length check — for the rare text whose lowercase EXPANDS (U+0130 İ →
    * "i̇"), offsets would shift, so it falls back to the manual folding
    * scan on the original string. */
  private def indianAnchorWindows(text: String, radius: Int = 64): List[(Int, Int, Int)] = {
    val n = text.length
    val low = text.toLowerCase(java.util.Locale.ROOT)
    val sameLen = low.length == n
    @inline def find(lit: String, from: Int): Int =
      if (sameLen) low.indexOf(lit, from) else indexOfIgnoreCase(text, lit, from)
    val starts = ArrayBuffer.empty[(Int, Int)] // (anchorPos, mask)
    var a = 0
    while (a < InAnchorLits.length) {
      val lit = InAnchorLits(a)
      val mask = InAnchorMasks(a)
      var i = find(lit, 0)
      while (i >= 0) { starts += ((i, mask)); i = find(lit, i + 1) }
      a += 1
    }
    // "\d+\s+of\s+\d{4}": an "of" with a digit before and after across ws
    var i = find("of", 0)
    while (i >= 0) {
      var b = i - 1
      while (b >= 0 && Character.isWhitespace(text.charAt(b))) b -= 1
      if (b >= 0 && b < i && text.charAt(b) >= '0' && text.charAt(b) <= '9') {
        var f = i + 2
        while (f < n && Character.isWhitespace(text.charAt(f))) f += 1
        if (f < n && f > i + 2 && text.charAt(f) >= '0' && text.charAt(f) <= '9')
          starts += ((i, OfMask))
      }
      i = find("of", i + 1)
    }
    val out = ArrayBuffer.empty[(Int, Int, Int)]
    for ((s, mask) <- starts.sortInPlace()(Ordering.by(_._1))) {
      val ws = math.max(0, s - radius)
      val we = math.min(n, s + radius)
      if (out.nonEmpty && out.last._2 >= ws) {
        val (ps, pe, pm) = out.remove(out.length - 1)
        out += ((ps, math.max(pe, we), pm | mask))
      } else out += ((ws, we, mask))
    }
    out.toList
  }

  /** Merged [digit−R, digit+R] windows over the text. Every IN citation
    * pattern — and every TR pattern except the two court-mention grammars
    * (see turkishCourtWindows) — REQUIRES a digit inside the match and
    * matches are far shorter than R, so scanning only these windows is
    * exact while skipping the digit-free bulk of running text (regex
    * backtracking was the extraction profile's top cost). */
  private def digitWindows(text: String, radius: Int = 200): List[(Int, Int)] = {
    val out = ArrayBuffer.empty[(Int, Int)]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c >= '0' && c <= '9') {
        val ws = math.max(0, i - radius)
        val we = math.min(n, i + radius)
        if (out.nonEmpty && out.last._2 >= ws) {
          val (ps, _) = out.remove(out.length - 1)
          out += ((ps, we))
        } else out += ((ws, we))
      }
      i += 1
    }
    out.toList
  }

  /** TrYargitay / TrDanistay are the only TR patterns whose digit groups are
    * OPTIONAL (`(?:E\.?\s*\d{4}/\d+)?`), so digit windows alone would miss a
    * digit-free "Yargıtay … Dairesi" mention sitting > R chars from any
    * number — a divergence from the full-scan semantics the windows must
    * reproduce exactly. This scans for the two court stems under the same
    * case folding the patterns use (A-Z→a-z, I/İ/ı→i, Ş→ş, plus the one
    * non-obvious java.util.regex CASE_INSENSITIVE|UNICODE_CASE equivalence
    * that folds into these stems: long-s U+017F 'ſ'→'s'; the patterns
    * spell `Yarg[ıi]tay` / `Dan[ıi][şs]tay`, and no other Unicode char
    * case-folds to the stem letters y/a/r/g/i/t/d/n/s/ş under
    * Character.toUpperCase/toLowerCase, which is what the regex engine
    * compares) and windows [stem−8, stem+R] around each occurrence: a
    * match can only START at a stem, and 8 chars of left context keep \b
    * honest at the window edge. */
  private def turkishCourtWindows(text: String, radius: Int = 200): List[(Int, Int)] = {
    val n = text.length
    @inline def fold(c: Char): Char = c match {
      case 'I' | 'İ' | 'ı' => 'i'
      case 'Ş' => 'ş'
      case 'ſ' => 's' // U+017F LONG S: regex case-folds it to 's'
      case c if c >= 'A' && c <= 'Z' => (c + 32).toChar
      case c => c
    }
    @inline def stemAt(i: Int, stem: String): Boolean = {
      if (i + stem.length > n) false
      else {
        var j = 0
        while (j < stem.length && fold(text.charAt(i + j)) == stem.charAt(j)) j += 1
        j == stem.length
      }
    }
    val out = ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < n) {
      if (stemAt(i, "yargitay") || stemAt(i, "daniştay") || stemAt(i, "danistay"))
        out += ((math.max(0, i - 8), math.min(n, i + radius)))
      i += 1
    }
    out.toList
  }

  /** Merge possibly-overlapping windows from several sources into disjoint
    * sorted spans. */
  private def mergeSpans(spans: List[(Int, Int)]): List[(Int, Int)] = {
    val out = ArrayBuffer.empty[(Int, Int)]
    for ((s, e) <- spans.sortBy(_._1)) {
      if (out.nonEmpty && out.last._2 >= s) {
        val (ps, pe) = out.remove(out.length - 1)
        out += ((ps, math.max(pe, e)))
      } else out += ((s, e))
    }
    out.toList
  }

  /** Scan text for citation hits with offsets, then dedupe overlapping spans
    * keeping the longest (sort by (start, -len), greedy sweep). Throws on a
    * jurisdiction spelling [[Jurisdiction.parse]] does not accept, whatever
    * the text. */
  def extract(text: String, jurisdiction: String): List[CitationHit] = {
    val j = Jurisdiction.parse(jurisdiction)
    if (text == null || text.isEmpty) return Nil
    j match {
      // ECHR has digit-free patterns (Name v. Name) → full scan
      case Jurisdiction.Echr => extractFull(text, EchrPatterns)
      // every IN pattern contains a literal anchor → anchor-window region scan
      case Jurisdiction.India =>
        val raw = ArrayBuffer.empty[CitationHit]
        for ((ws, we, mask) <- indianAnchorWindows(text))
          extractRegion(text, ws, we, IndianPatterns, mask, raw)
        dedupeOverlapping(raw.toList)
      // TR scans digit windows PLUS court-stem windows: Yargıtay/Danıştay
      // mentions are the only TR patterns that can match with NO digit in
      // the text (see turkishCourtWindows)
      case Jurisdiction.Turkey =>
        val raw = ArrayBuffer.empty[CitationHit]
        val seen = scala.collection.mutable.Set.empty[(Int, Int, String)]
        val windows = mergeSpans(digitWindows(text) ++ turkishCourtWindows(text))
        for ((ws, we) <- windows; hit <- extractFull(text.substring(ws, we), TurkishPatterns)) {
          val shifted = hit.copy(startChar = hit.startChar + ws, endChar = hit.endChar + ws)
          val key = (shifted.startChar, shifted.endChar, shifted.citationType)
          if (!seen.contains(key)) { seen += key; raw += shifted }
        }
        dedupeOverlapping(raw.toList)
    }
  }

  /** Run the patterns over text[ws, we) via Matcher.region with TRANSPARENT
    * bounds (\b and lookbehind see the true surrounding text, unlike the
    * substring path where window edges look like string edges) — absolute
    * offsets, no substring copy. Insertion order (window-major, then pattern
    * order) matches the legacy scan so dedupeOverlapping's stable sort keeps
    * identical winners. */
  private def extractRegion(
      text: String, ws: Int, we: Int,
      pats: List[(Pattern, String)], mask: Int, raw: ArrayBuffer[CitationHit]): Unit = {
    var bit = 0
    for ((pat, ctype) <- pats) {
      val run = (mask & (1 << bit)) != 0
      bit += 1
      if (!run) ()
      else {
      val m = pat.matcher(text)
      m.region(ws, we).useTransparentBounds(true).useAnchoringBounds(false)
      while (m.find()) {
        val citationText = m.group(0).trim
        val caseName = {
          val from = math.max(0, m.start() - 80)
          val back = text.substring(from, m.start())
          val nm = PrecedingNameRe.matcher(back)
          if (nm.find()) Some(s"${nm.group(1)} v. ${nm.group(2)}") else None
        }
        raw += CitationHit(citationText, m.start(), m.end(), ctype, caseName,
          extractYear(citationText))
      }
      }
    }
  }

  private def extractFull(text: String, pats: List[(Pattern, String)]): List[CitationHit] = {
    val raw = ArrayBuffer.empty[CitationHit]
    for ((pat, ctype) <- pats) {
      val m = pat.matcher(text)
      while (m.find()) {
        val citationText = m.group(0).trim
        val caseName =
          if (ctype == "echr_case_v" && m.groupCount() >= 2)
            Option(m.group(1)).zip(Option(m.group(2))).map { case (a, b) => s"$a v. $b" }
          else {
            // look back ≤80 chars for an adjacent "Name v. Name,"
            val from = math.max(0, m.start() - 80)
            val back = text.substring(from, m.start())
            val nm = PrecedingNameRe.matcher(back)
            if (nm.find()) Some(s"${nm.group(1)} v. ${nm.group(2)}") else None
          }
        raw += CitationHit(citationText, m.start(), m.end(), ctype, caseName,
          extractYear(citationText))
      }
    }
    dedupeOverlapping(raw.toList)
  }

  /** Keep the longest span among overlaps (citation_preprocess.py:374-394). */
  def dedupeOverlapping(hits: List[CitationHit]): List[CitationHit] = {
    if (hits.isEmpty) return Nil
    val sorted = hits.sortBy(h => (h.startChar, -(h.endChar - h.startChar)))
    val out = ArrayBuffer.empty[CitationHit]
    var lastEnd = -1
    for (h <- sorted) {
      if (h.startChar >= lastEnd) { out += h; lastEnd = h.endChar }
    }
    out.toList
  }
}
