package graft

import graft.kg.rules.{CitationHit, Citations}
import graft.kg.text.{Normalize, Segmenter}
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck property suites (native ScalaCheck runner; FIXTURES.md §5). */
object TextProps extends Properties("graft.text") {

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val wsGen = Gen.oneOf(" ", "  ", "\t", "\n", " \n ")
  private val docGen: Gen[String] = for {
    words <- Gen.nonEmptyListOf(wordGen)
    seps <- Gen.listOfN(words.size, wsGen)
  } yield words.zip(seps).map { case (w, s) => w + s }.mkString

  property("normalizeWithMapping collapses all whitespace runs to one space") =
    Prop.forAll(docGen) { doc =>
      val (norm, map) = Normalize.normalizeWithMapping(doc)
      !norm.contains("  ") && map.length == norm.length &&
        map.forall(i => i >= 0 && i < doc.length)
    }

  property("normalizeWithMapping maps every non-ws char back to itself") =
    Prop.forAll(docGen) { doc =>
      val (norm, map) = Normalize.normalizeWithMapping(doc)
      norm.indices.forall(i => norm(i) == ' ' || doc(map(i)) == norm(i))
    }

  property("alignQuote recovers any interior substring modulo whitespace") =
    Prop.forAll(docGen, Gen.chooseNum(0, 30), Gen.chooseNum(1, 20)) { (doc, off, len) =>
      val a = math.min(off, math.max(0, doc.length - 2))
      val b = math.min(a + len, doc.length)
      val q = doc.substring(a, b)
      q.trim.isEmpty || {
        Normalize.alignQuote(doc, q).exists { case (s, e) =>
          Normalize.normalizeWithMapping(doc.substring(s, e))._1
            .equalsIgnoreCase(Normalize.normalizeWithMapping(q.trim)._1)
        }
      }
    }

  property("segmentation offsets are consistent and ordered") =
    Prop.forAll(docGen) { doc =>
      val d = Segmenter.segment(doc, "x")
      d.sentences.forall(s =>
        s.startChar >= 0 && s.endChar <= doc.length && s.startChar < s.endChar &&
          doc.substring(s.startChar, s.endChar).trim == s.text) &&
        d.sentences.map(_.startChar) == d.sentences.map(_.startChar).sorted
    }

  property("tokenize equals the regex spec (?U)\\w+ on lowered text") = {
    val re = "(?U)\\w+".r
    Prop.forAll(docGen) { doc =>
      Normalize.tokenSet(doc, 1) ==
        re.findAllIn(doc.toLowerCase(java.util.Locale.ROOT)).toSet
    }
  }

  property("keywordSet is a subset of tokens, all length >= 4, no stopwords") =
    Prop.forAll(docGen) { doc =>
      val toks = Normalize.tokenSet(doc, 1)
      val kw = Normalize.keywordSet(doc)
      kw.subsetOf(toks) && kw.forall(t => t.length >= 4 && !Normalize.Stopwords(t))
    }

  // citation overlap dedup invariants (citation_preprocess.py:374-394)
  private val hitGen: Gen[CitationHit] = for {
    start <- Gen.chooseNum(0, 200)
    len <- Gen.chooseNum(1, 40)
  } yield CitationHit("c", start, start + len, "t", None, None)

  property("overlap dedup output spans are pairwise non-overlapping, sorted") =
    Prop.forAll(Gen.listOf(hitGen)) { hits =>
      val out = Citations.dedupeOverlapping(hits)
      out.sliding(2).forall {
        case List(a, b) => a.endChar <= b.startChar
        case _ => true
      }
    }

  property("overlap dedup keeps every non-overlapping input") =
    Prop.forAll(Gen.listOf(hitGen)) { hits =>
      val out = Citations.dedupeOverlapping(hits).toSet
      // any input hit not overlapping ANY other input must survive
      hits.filter(h => hits.forall(o =>
        (o eq h) || o.endChar <= h.startChar || o.startChar >= h.endChar))
        .forall(out.contains)
    }

  private val legalDocGen: Gen[String] = {
    val frags = Gen.oneOf(
      "As held in Maneka Gandhi v. Union of India, AIR 1978 SC 597, ",
      "see (2017) 9 SCC 1 and MANU/SC/0133/1978; ",
      "W.P.(C) No. 567 of 2020 was filed. ",
      "no digits in this clause at all, plain prose. ",
      "Section 302 IPC applies. ",
      "5237 sayili Kanun uyarinca E. 2018/123, K. 2019/456. ",
      "a very long digit-free stretch of ordinary language follows here. ")
    Gen.nonEmptyListOf(frags).map(_.mkString)
  }

  property("digit-window citation scan equals full scan (in/tr)") =
    Prop.forAll(legalDocGen, Gen.oneOf("in", "tr")) { (doc, j) =>
      val windowed = Citations.extract(doc, j)
      // reference: brute-force over the whole text via a 1-window radius
      // covering everything (radius >= doc length forces a single window)
      val full = Citations.extract("0" + doc, j) // keep impl honest separately
      // direct comparison: run the pattern list manually
      val pats = Citations.patternsFor(j)
      val manual = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[CitationHit]
        for ((pat, ctype) <- pats) {
          val m = pat.matcher(doc)
          while (m.find()) buf += CitationHit(m.group(0).trim, m.start(), m.end(), ctype, None, None)
        }
        Citations.dedupeOverlapping(buf.toList)
      }
      windowed.map(h => (h.startChar, h.endChar, h.citationType)) ==
        manual.map(h => (h.startChar, h.endChar, h.citationType))
    }

  property("turkish lower is idempotent") =
    Prop.forAll(Gen.asciiPrintableStr, Gen.oneOf("İIŞÇÖÜĞıişçöüğ", "")) { (s, tr) =>
      val x = s + tr
      Normalize.turkishLower(Normalize.turkishLower(x)) == Normalize.turkishLower(x)
    }

  // ---- round-5 fast paths vs the pre-optimization reference formulas ------
  // mixed ASCII / Turkish / unicode text: exercises the ASCII fast paths,
  // the locale-correct fallbacks, AND the dispatch between them
  private val mixedGen: Gen[String] = Gen.listOf(Gen.oneOf(
    wordGen,
    Gen.oneOf("İstanbul", "ILGILI", "şart", "müracaat", "ğĞüÜ", "Maßstab",
      "№42", "CamelCase", "a_b_c", "42nd"),
    Gen.oneOf(" ", ", ", ". ", "_", "-", "  ", "\n"))).map(_.mkString)

  /** The pre-optimization tokenizer: full-string lowercase, one scanner. */
  private def legacyTokenize(text: String): List[String] = {
    if (text == null || text.isEmpty) return Nil
    val low = text.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < low.length) {
      val c = low.charAt(i)
      if (Character.isLetterOrDigit(c) || c == '_') {
        val start = i
        while (i < low.length && {
          val ch = low.charAt(i); Character.isLetterOrDigit(ch) || ch == '_'
        }) i += 1
        out += low.substring(start, i)
      } else i += 1
    }
    out.toList
  }

  private def legacyAsciiTokenize(text: String): List[String] = {
    if (text == null || text.isEmpty) return Nil
    val low = text.toLowerCase(java.util.Locale.ROOT)
    def w(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < low.length) {
      if (w(low.charAt(i))) {
        val start = i
        while (i < low.length && w(low.charAt(i))) i += 1
        out += low.substring(start, i)
      } else i += 1
    }
    out.toList
  }

  private val stopsGen = Gen.oneOf(Set.empty[String], Normalize.Stopwords)

  property("tokenize matches the full-lowercase reference scan") =
    Prop.forAll(mixedGen, Gen.chooseNum(1, 5), stopsGen) { (s, k, stops) =>
      Normalize.tokenSet(s, k, stops) ==
        legacyTokenize(s).filter(t => t.length >= k && !stops.contains(t)).toSet
    }

  property("keywordSet/tokenSet match the tokenize-filter formulas") =
    Prop.forAll(mixedGen) { s =>
      Normalize.keywordSet(s) == legacyTokenize(s).iterator
        .filter(t => t.length >= 4 && !Normalize.Stopwords.contains(t)).toSet &&
      Normalize.tokenSet(s, 3) == legacyTokenize(s).filter(_.length >= 3).toSet
    }

  property("asciiKeywordSet matches the ascii reference scan") =
    Prop.forAll(mixedGen, Gen.chooseNum(1, 5), stopsGen) { (s, k, stops) =>
      Normalize.asciiKeywordSet(s, k, stops) ==
        legacyAsciiTokenize(s).filter(t => t.length >= k && !stops.contains(t)).toSet
    }

  property("alignQuote recovers an upper-cased interior substring of mixed text") =
    Prop.forAll(mixedGen, Gen.chooseNum(0, 30), Gen.chooseNum(1, 20)) { (doc, off, len) =>
      val a = math.min(off, math.max(0, doc.length - 2))
      val b = math.min(a + len, doc.length)
      // per-char upper-casing keeps the length ('ß' stays 'ß')
      val q = doc.substring(a, b).map(Character.toUpperCase)
      q.trim.isEmpty || {
        Normalize.alignQuote(doc, q).exists { case (s, e) =>
          Normalize.normalizeWithMapping(doc.substring(s, e))._1
            .equalsIgnoreCase(Normalize.normalizeWithMapping(q.trim)._1)
        }
      }
    }

  property("overlap equals intersect size, with and without cap") =
    Prop.forAll(Gen.listOf(wordGen), Gen.listOf(wordGen), Gen.chooseNum(0, 5)) {
      (a0, b0, cap) =>
        val a = a0.toSet
        val b = b0.toSet
        Normalize.overlap(a, b) == a.intersect(b).size &&
          Normalize.overlap(a, b, cap) == math.min(cap, a.intersect(b).size)
    }

  property("relation normalize folds like the replace-chain formula") =
    Prop.forAll(mixedGen) { s =>
      // the chain is idempotent, so if the one-pass fold matches it,
      // normalizing the pre-folded string must be a fixpoint of normalize
      val folded = s.trim.toLowerCase.replace("-", "_").replace(" ", "_")
        .replaceAll("_+", "_")
      graft.kg.rules.Relations.normalize(s) ==
        graft.kg.rules.Relations.normalize(folded)
    }

  property("digest helpers match a fresh MessageDigest") =
    Prop.forAll(mixedGen) { s =>
      def ref(alg: String) = {
        val md = java.security.MessageDigest.getInstance(alg)
        md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      }
      Normalize.sha256Hex(s) == ref("SHA-256") &&
        Normalize.docId(s) == "sha256:" + ref("SHA-256").take(12) &&
        Normalize.textHash16(s) == ref("SHA-256").take(16) &&
        Normalize.sha1Hex8(s) == ref("SHA-1").take(8)
    }
}
