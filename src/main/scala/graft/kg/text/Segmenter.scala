package graft.kg.text

import scala.collection.mutable.ArrayBuffer

/** A text segment with stable char offsets into the assembled document. */
final case class TextSegment(
    text: String,
    startChar: Int,
    endChar: Int,
    paraIndex: Int,
    sentIndex: Int // -1 for paragraph segments
) {
  def displayLocation: String =
    if (sentIndex >= 0) s"$paraIndex:$sentIndex" else paraIndex.toString
}

/** A document segmented into paragraphs + sentences with exact offsets. */
final case class SegmentedDoc(
    docId: String,
    fullText: String,
    paragraphs: Vector[TextSegment],
    sentences: Vector[TextSegment]
) {
  /** Smallest segment fully containing [start, end) — sentence first, then
    * paragraph (extractor.py:1672-1680 `get_segment_at`). */
  def segmentAt(start: Int, end: Int): Option[TextSegment] =
    sentences.find(s => s.startChar <= start && s.endChar >= end)
      .orElse(paragraphs.find(p => p.startChar <= start && p.endChar >= end))
}

/** Paragraph + sentence segmentation with stable char offsets.
  *
  * Regex semantics re-expressed from the reference segmentation
  * (extractor.py:1698-1772): optional section-header boundary injection is NOT
  * applied here (we never mutate the text — offsets must stay stable against
  * the assembled conversation document); paragraph split on blank lines,
  * numbered-item line starts, or sentence-final newlines; sentence split on
  * terminal punctuation followed by whitespace and an upper-case/digit start.
  *
  * The two boundary rules are hand-written scans with the exact semantics of
  * successive `Matcher.find()` calls of these patterns (ExtractionProps holds
  * them equal on random text):
  *   - paragraphs: `\n\s*\n|\n(?=\d+\.?\s)|(?<=\.)\s*\n`
  *   - sentences:  `(?<=[.!?])\s+(?=[A-ZÀ-ÖØ-Þ0-9İŞĞÇÖÜ])`
  * `\s` is the regex's ASCII class `[ \t\n\x0B\f\r]`.
  */
object Segmenter {

  @inline private def isSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // \t \n \x0B \f \r

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** `[A-ZÀ-ÖØ-Þ0-9İŞĞÇÖÜ]` (Ç, Ö and Ü already lie in the Latin-1 ranges). */
  @inline private def isSentenceStart(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || isDigit(c) ||
      (c >= '\u00C0' && c <= '\u00DE' && c != '\u00D7') ||
      c == '\u0130' || c == '\u015E' || c == '\u011E'

  /** Index of the last `\n` in the whitespace run starting at `i`, or -1. */
  private def lastNewlineInRun(t: String, i: Int): Int = {
    var j = i
    var last = -1
    while (j < t.length && isSpace(t.charAt(j))) {
      if (t.charAt(j) == '\n') last = j
      j += 1
    }
    last
  }

  /** End of the paragraph-break match that starts at `i`, or -1: the three
    * alternatives tried in pattern order, each with its greedy extent. */
  private def paragraphBreakAt(t: String, i: Int): Int = {
    val c = t.charAt(i)
    if (c == '\n') {
      val nl = lastNewlineInRun(t, i + 1)
      if (nl >= 0) return nl + 1                       // \n\s*\n
      var d = i + 1
      while (d < t.length && isDigit(t.charAt(d))) d += 1
      if (d > i + 1 && d < t.length && (isSpace(t.charAt(d)) ||
          (t.charAt(d) == '.' && d + 1 < t.length && isSpace(t.charAt(d + 1)))))
        return i + 1                                   // \n(?=\d+\.?\s)
      if (i > 0 && t.charAt(i - 1) == '.') i + 1 else -1 // (?<=\.)\s*\n
    } else if (i > 0 && t.charAt(i - 1) == '.' && isSpace(c)) {
      val nl = lastNewlineInRun(t, i)                  // (?<=\.)\s*\n
      if (nl >= 0) nl + 1 else -1
    } else -1
  }

  /** Match ends of the paragraph pattern over `t`, in order. A match can
    * only start at a `\n` or right after a `.`, so the scan jumps between
    * those (`indexOf`) instead of trying every position. */
  private[graft] def paragraphBreaks(t: String): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var nl = t.indexOf('\n')
    var dot = t.indexOf('.')
    var i = 0
    while (i < t.length && (nl >= 0 || dot >= 0)) {
      if (nl >= 0 && nl < i) nl = t.indexOf('\n', i)
      if (dot >= 0 && dot + 1 < i) dot = t.indexOf('.', i - 1)
      val p = math.min(if (nl >= 0) nl else Int.MaxValue, if (dot >= 0) dot + 1 else Int.MaxValue)
      if (p < t.length) {
        val e = paragraphBreakAt(t, p)
        if (e >= 0) { out += e; i = e } else i = p + 1
      } else i = t.length
    }
    out.result()
  }

  /** Match ends of the sentence pattern over `t.substring(from, to)`, as
    * offsets into `t`: lookbehind and lookahead do not see past the region. */
  private[graft] def sentenceBreaks(t: String, from: Int, to: Int): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var i = from + 1
    while (i < to) {
      val p = t.charAt(i - 1)
      if ((p == '.' || p == '!' || p == '?') && isSpace(t.charAt(i))) {
        var j = i + 1
        while (j < to && isSpace(t.charAt(j))) j += 1
        if (j < to && isSentenceStart(t.charAt(j))) out += j
        i = j + 1 // a char after whitespace has no terminal char before it
      } else i += 1
    }
    out.result()
  }

  def segment(text: String, docId: String): SegmentedDoc = {
    val paragraphs = ArrayBuffer.empty[TextSegment]
    val sentences = ArrayBuffer.empty[TextSegment]

    val breaks = paragraphBreaks(text)
    var pi = 0
    while (pi <= breaks.length) {
      val start = if (pi == 0) 0 else breaks(pi - 1)
      val end = if (pi == breaks.length) text.length else breaks(pi)
      // trim bounds computed in place (String.trim semantics: chars <= ' '),
      // so each non-empty paragraph/sentence costs exactly ONE substring
      var adjStart = start
      var adjEnd = end
      while (adjStart < adjEnd && text.charAt(adjStart) <= ' ') adjStart += 1
      while (adjEnd > adjStart && text.charAt(adjEnd - 1) <= ' ') adjEnd -= 1
      if (adjEnd > adjStart) {
        val paraSeg = TextSegment(text.substring(adjStart, adjEnd), adjStart, adjEnd,
          paragraphs.length, -1)
        paragraphs += paraSeg

        val sentBreaks = sentenceBreaks(text, adjStart, adjEnd)
        var si = 0
        var sentIdx = 0
        while (si <= sentBreaks.length) {
          val sStart = if (si == 0) adjStart else sentBreaks(si - 1)
          val sEnd = if (si == sentBreaks.length) adjEnd else sentBreaks(si)
          var ts = sStart
          var te = sEnd
          while (ts < te && text.charAt(ts) <= ' ') ts += 1
          while (te > ts && text.charAt(te - 1) <= ' ') te -= 1
          if (te > ts) {
            sentences += TextSegment(text.substring(ts, te), sStart, sEnd,
              paraSeg.paraIndex, sentIdx)
            sentIdx += 1
          }
          si += 1
        }
      }
      pi += 1
    }

    SegmentedDoc(docId, text, paragraphs.toVector, sentences.toVector)
  }
}
