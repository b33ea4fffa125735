package graft

import graft.kg.extract.DocExtractor
import graft.kg.text.Segmenter
import org.scalacheck.{Gen, Prop, Properties}

import java.util.Locale
import java.util.regex.Pattern

/** The hand-written scanners and the cue twins of the extractor against the
  * regexes they stand for. */
object ExtractionProps extends Properties("graft.extract") {

  /** The segmentation rules as regexes: the scanners must find exactly the
    * match ends of successive `find()` calls. */
  private val ParaPattern: Pattern =
    Pattern.compile("\\n\\s*\\n|\\n(?=\\d+\\.?\\s)|(?<=\\.)\\s*\\n")
  private val SentPattern: Pattern =
    Pattern.compile("(?<=[.!?])\\s+(?=[A-ZÀ-ÖØ-Þ0-9İŞĞÇÖÜ])")

  private def findEnds(p: Pattern, s: String): Seq[Int] = {
    val m = p.matcher(s)
    Iterator.continually(m).takeWhile(_.find()).map(_.end()).toList
  }

  /** Short strings over the boundary alphabet: terminal punctuation, the
    * regex whitespace class, digits, ASCII letters, the Turkish capitals and
    * the Latin-1 capital range À-Þ (× included, which the class leaves out). */
  private val boundaryText: Gen[String] = {
    val alphabet = (". ! ? \n \r \t \u000B \f".split(' ').toSeq :+ " ") ++
      ('0' to '9').map(_.toString) ++ Seq("a", "b", "Z", "Q", "x") ++
      "İŞĞÇÖÜ".map(_.toString) ++ ('À' to 'Þ').map(_.toString) ++
      Seq("ş", "ı", "ö", "\n\n", ".\n", ". ", "1. ", "\n2 ")
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet))).map(_.mkString)
  }

  property("paragraph scan equals the paragraph regex's find() ends") =
    Prop.forAll(boundaryText) { s =>
      Segmenter.paragraphBreaks(s).toSeq == findEnds(ParaPattern, s)
    }

  property("sentence scan equals the sentence regex's find() ends on any region") =
    Prop.forAll(boundaryText, Gen.chooseNum(0, 40), Gen.chooseNum(0, 40)) { (s, a, b) =>
      val from = math.min(math.min(a, b), s.length)
      val to = math.min(math.max(a, b), s.length)
      Segmenter.sentenceBreaks(s, from, to).toSeq ==
        findEnds(SentPattern, s.substring(from, to)).map(_ + from)
    }

  /** ASCII sentences built from the cue regexes' own words, in random case,
    * with random ASCII letters, digits, punctuation and whitespace between
    * them: the only text on which a twin runs. Being ASCII, they hold no
    * Kelvin sign or long s, the two non-ASCII chars a case-insensitive
    * ASCII letter can match. */
  private val cueSentence: Gen[String] = {
    val cueWords = DocExtractor.cues.flatMap(_.regex.split("[^a-z]+")).filter(_.length >= 2).distinct
    val piece = Gen.frequency(
      6 -> Gen.oneOf(cueWords),
      2 -> Gen.alphaStr.map(_.take(6)),
      1 -> Gen.oneOf(" ", "  ", "\t", "\n", ", ", ". ", "-", "_", "'", "(", "1", "42"))
    val word = piece.flatMap(w => Gen.oneOf(w, w.toUpperCase(Locale.ROOT), w.capitalize,
      w.map(c => if (c % 3 == 0) c.toUpper else c)))
    Gen.chooseNum(1, 14).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  }

  property("each cue twin over the lowered ASCII sentence equals its rule") =
    Prop.forAll(cueSentence) { s =>
      val lower = s.toLowerCase(Locale.ROOT)
      DocExtractor.cues.forall { cue =>
        val m = new cue.Matching
        m.find(s, null) == m.find(s, lower)
      }
    }
}
