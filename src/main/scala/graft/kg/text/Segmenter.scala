package graft.kg.text

import java.util.regex.Pattern
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
  */
object Segmenter {

  private val ParaPattern: Pattern =
    Pattern.compile("\\n\\s*\\n|\\n(?=\\d+\\.?\\s)|(?<=\\.)\\s*\\n")

  private val SentPattern: Pattern =
    Pattern.compile("(?<=[.!?])\\s+(?=[A-ZÀ-ÖØ-Þ0-9İŞĞÇÖÜ])")

  def segment(text: String, docId: String): SegmentedDoc = {
    val paragraphs = ArrayBuffer.empty[TextSegment]
    val sentences = ArrayBuffer.empty[TextSegment]

    val paraStarts = ArrayBuffer(0)
    val pm = ParaPattern.matcher(text)
    while (pm.find()) paraStarts += pm.end()
    paraStarts += text.length

    var pi = 0
    while (pi < paraStarts.length - 1) {
      val start = paraStarts(pi)
      val end = paraStarts(pi + 1)
      // trim bounds computed in place (String.trim semantics: chars <= ' '),
      // so each non-empty paragraph/sentence costs exactly ONE substring —
      // the raw-substring + trim + regex-replaceFirst triple was a profiled
      // allocation hot spot
      var adjStart = start
      var adjEnd = end
      while (adjStart < adjEnd && text.charAt(adjStart) <= ' ') adjStart += 1
      while (adjEnd > adjStart && text.charAt(adjEnd - 1) <= ' ') adjEnd -= 1
      if (adjEnd > adjStart) {
        val paraText = text.substring(adjStart, adjEnd)
        val paraSeg = TextSegment(paraText, adjStart, adjEnd, paragraphs.length, -1)
        paragraphs += paraSeg

        val sentStarts = ArrayBuffer(0)
        val sm = SentPattern.matcher(paraText)
        while (sm.find()) sentStarts += sm.end()
        sentStarts += paraText.length

        var si = 0
        var sentIdx = 0
        while (si < sentStarts.length - 1) {
          val sStart = sentStarts(si)
          val sEnd = sentStarts(si + 1)
          var ts = sStart
          var te = sEnd
          while (ts < te && paraText.charAt(ts) <= ' ') ts += 1
          while (te > ts && paraText.charAt(te - 1) <= ' ') te -= 1
          if (te > ts) {
            sentences += TextSegment(
              paraText.substring(ts, te), adjStart + sStart, adjStart + sEnd,
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
