package graft

import graft.kg.text.{Normalize, Segmenter}
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite {

  test("normalizeWithMapping collapses whitespace and maps back") {
    val (norm, map) = Normalize.normalizeWithMapping("a  b\t\nc")
    assert(norm == "a b c")
    assert(map.toSeq == Seq(0, 1, 3, 4, 6))
  }

  test("alignQuote finds spans after whitespace mangling") {
    val doc = "The quick   brown\nfox jumps over the lazy dog."
    val Some((s, e)) = Normalize.alignQuote(doc, "quick brown fox")
    assert(doc.substring(s, e) == "quick   brown\nfox")
  }

  test("alignQuote is case-insensitive fallback") {
    val doc = "Natural Justice requires a hearing."
    val Some((s, e)) = Normalize.alignQuote(doc, "natural justice")
    assert(doc.substring(s, e) == "Natural Justice")
  }

  // ROOT-lowering U+0130 (İ) yields two chars; the case fold must not shift
  // the indices it finds
  test("alignQuote's case-insensitive fallback does not overrun after İ") {
    assert(Normalize.alignQuote("İİİ abc", "ABC") == Some((4, 7)))
  }

  test("alignQuote's case-insensitive fallback keeps offsets after İ") {
    val doc = "İstanbul mahkemesi karar verdi"
    assert(Normalize.alignQuote(doc, "KARAR") == Some((19, 24)))
    assert(doc.substring(19, 24) == "karar")
  }

  test("alignQuote property: recovers any substring modulo whitespace") {
    // deterministic property sweep (hash-derived docs, no RNG state)
    val base = "The disciplinary  authority passed\tan order terminating services without a hearing.\nThe petitioner filed a writ."
    for (a <- 0 until base.length - 8; len <- List(5, 8, 17)) {
      val b = math.min(a + len, base.length)
      val q = base.substring(a, b)
      if (q.trim.nonEmpty) {
        val res = Normalize.alignQuote(base, q)
        assert(res.isDefined, s"align failed for [$q]")
        val (s, e) = res.get
        val normRecovered = Normalize.normalizeWithMapping(base.substring(s, e))._1
        val normQ = Normalize.normalizeWithMapping(q.trim)._1
        assert(normRecovered.equalsIgnoreCase(normQ))
      }
    }
  }

  test("turkishLower handles dotted/dotless i") {
    assert(Normalize.turkishLower("İSTANBUL") == "istanbul")
    assert(Normalize.turkishLower("DIŞ") == "dış")
  }

  test("keywordSet drops stopwords and short tokens") {
    val kw = Normalize.keywordSet("The order was passed without hearing the petitioner")
    assert(kw.contains("order"))
    assert(kw.contains("hearing"))
    assert(kw.contains("petitioner"))
    assert(!kw.contains("the"))
    assert(!kw.contains("was"))
  }

  test("looksNegative detects negation cues") {
    assert(Normalize.looksNegative("dismissed without hearing"))
    assert(Normalize.looksNegative("the request was denied"))
    assert(!Normalize.looksNegative("a fair hearing was granted"))
  }

  test("segmentation: offsets reproduce the document text exactly") {
    val text = "FACTS\n\n1. The petitioner was dismissed. He filed a writ.\n\n2. The court heard the matter.\nIt reserved judgment."
    val doc = Segmenter.segment(text, "d1")
    assert(doc.paragraphs.nonEmpty && doc.sentences.nonEmpty)
    for (s <- doc.sentences)
      assert(text.substring(s.startChar, s.endChar).trim == s.text)
    for (p <- doc.paragraphs)
      assert(text.substring(p.startChar, p.endChar) == p.text)
    // strictly increasing sentence starts
    val starts = doc.sentences.map(_.startChar)
    assert(starts == starts.sorted)
  }

  test("segmentation: sentences split on terminal punctuation + capital") {
    val doc = Segmenter.segment("The appeal is allowed. Costs are awarded! Is this final? Yes.", "d2")
    assert(doc.sentences.map(_.text) ==
      Vector("The appeal is allowed.", "Costs are awarded!", "Is this final?", "Yes."))
  }

  test("docId and hashes are stable") {
    assert(Normalize.docId("abc") == "sha256:" + Normalize.sha256Hex("abc").take(12))
    assert(Normalize.textHash16("").length == 16)
    // empty-anchor hash constant (extractor.py:139)
    assert(Normalize.textHash16("") == "e3b0c44298fc1c14")
  }
}
