package graft

import graft.kg.extract.DocExtractor
import graft.kg.gen.TranscriptGen
import graft.kg.ontology.{Jurisdiction, Ontology}
import graft.kg.rules.Citations
import org.scalatest.funsuite.AnyFunSuite
import java.util.Locale

/** The ECHR and Turkish fixture conversations (turn index → text), shared
  * with the Spark-path jurisdiction test in SparkPipelineSpec. */
object JurisdictionSpec {
  val echrTurns: Seq[(Int, String)] = Seq(
    0 -> "The applicant complained under Article 3 of the Convention about the conditions of detention.",
    1 -> "In Selmouni v. France [GC], no. 25803/94, the Court held that the Convention is a living instrument.",
    2 -> "The question is whether the treatment attained the minimum level of severity.",
    3 -> "We hold that there has been a violation of Article 3 of the Convention.",
    4 -> "The application is accordingly allowed.")

  val trTurns: Seq[(Int, String)] = Seq(
    0 -> "Başvurucu, 5237 sayılı Kanun uyarınca verilen karar nedeniyle başvuruda bulunmuştur.",
    1 -> "AYM, E.2018/123, K.2019/456 sayılı kararında ölçülülük ilkesini değerlendirmiştir.",
    2 -> "The question is whether the restriction was proportionate.",
    3 -> "We hold that the interference was not proportionate to the aim pursued.",
    4 -> "The appeal is allowed.")
}

/** End-to-end extraction over ECHR and Turkish fixture conversations,
  * exercising the M2/M3 citation grammars, the per-jurisdiction ontologies,
  * and the Turkish case-fold path. */
class JurisdictionSpec extends AnyFunSuite {

  test("echr: ontology loads and extraction finds echr citations + concepts") {
    val o = Ontology.echr
    assert(o.concepts.size == 55)
    assert(o.patterns.nonEmpty)
    val g = DocExtractor.extract("echr_fix", JurisdictionSpec.echrTurns, o, jurisdiction = "echr")
    val precedents = g.nodes.filter(_.nodeType == "precedent")
    assert(precedents.nonEmpty)
    assert(precedents.exists(p => Option(p.caseName).exists(_.contains("Selmouni"))))
    assert(g.nodes.exists(_.nodeType == "holding"))
    assert(g.edges.nonEmpty)
  }

  test("turkish: ontology loads and extraction handles turkish citations + fold") {
    val o = Ontology.turkish
    assert(o.concepts.size == 77)
    val g = DocExtractor.extract("tr_fix", JurisdictionSpec.trTurns, o, jurisdiction = "tr")
    val precedents = g.nodes.filter(_.nodeType == "precedent")
    assert(precedents.exists(_.citationType.startsWith("tr_")), precedents.map(_.citationType).toString)
    assert(g.summary.nSentences > 0)
  }

  test("jurisdiction routing") {
    assert(Ontology.forJurisdiction("echr").concepts.size == 55)
    assert(Ontology.forJurisdiction("turkey").concepts.size == 77)
    assert(Ontology.forJurisdiction("in").concepts.size == 54)
  }

  test("every spelling of a jurisdiction runs the same rules") {
    def graph(turns: Seq[(Int, String)], j: String) =
      DocExtractor.extract("c", turns, Ontology.forJurisdiction(j), j)
    // an upper-case key phrase that only the Turkish fold matches
    val trFold = JurisdictionSpec.trTurns :+
      (5 -> "Mahkeme KAMULAŞTIRMA konusunu değerlendirmiştir.")
    val inTurns = TranscriptGen.conversation("conv_000001", 14).map(t => (t.turn_idx, t.text))
    val differing = for {
      (turns, spellings) <- Seq(
        trFold -> Seq("tr", "TR", "Turkey", " tr "),
        JurisdictionSpec.echrTurns -> Seq("echr", "eu", "ECHR"),
        inTurns -> Seq("in", "IN", "India"))
      expected = graph(turns, spellings.head)
      j <- spellings.tail if graph(turns, j) != expected
    } yield s"'$j'"
    // a Turkish default locale lowers "IN" to "ın"; the spelling is read
    // under Locale.ROOT
    val saved = Locale.getDefault
    val inUnderTr =
      try {
        Locale.setDefault(Locale.forLanguageTag("tr"))
        graph(inTurns, "IN") == graph(inTurns, "in")
      } finally Locale.setDefault(saved)
    assert(differing.isEmpty && inUnderTr,
      s"differ from the canonical spelling: ${differing.mkString(", ")}; " +
        s"'IN' under a Turkish default locale equals 'in': $inUnderTr")
    assert(graph(trFold, "tr").nodes.exists(_.conceptId == "DOCTRINE_EXPROPRIATION"))
  }

  test("a jurisdiction outside in|india, echr|eu, tr|turkey is refused") {
    for (bad <- Seq("xx", "", null)) {
      intercept[IllegalArgumentException](Jurisdiction.parse(bad))
      intercept[IllegalArgumentException](Ontology.forJurisdiction(bad))
      intercept[IllegalArgumentException](Citations.extract("AIR 1978 SC 597", bad))
    }
    assert(Seq("in", "India", "EU", " Turkey ").map(Jurisdiction.parse(_).code) ==
      Seq("in", "in", "echr", "tr"))
  }

  test("turkish fold applies in concept phrase matching") {
    // a concept phrase with dotted-I content must match its upper-case form
    // under the Turkish fold but not under plain ROOT lowering of İ
    val hay = "İDARİ İŞLEMİN İPTALİ"
    assert(graft.kg.text.Normalize.turkishLower(hay) == "idari işlemin iptali")
  }

  test("turkish: digit-free court mentions are found far from any digit") {
    // TrYargitay/TrDanistay are the only TR patterns whose digit groups are
    // optional; the digit-window scan alone would miss a court mention
    // > 200 chars from every number (full-scan semantics must hold)
    val filler = "bu dosya hakkinda uzun bir anlatim yer almaktadir " * 12 // ~600 digit-free chars
    val text = filler + "Yargıtay Ceza Dairesi karari dikkate alinmistir. " +
      filler + "DANIŞTAY Daire gorusu de benzerdir." + filler
    val hits = graft.kg.rules.Citations.extract(text, "tr")
    assert(hits.exists(h => h.citationType == "tr_yargitay"), hits.toString)
    assert(hits.exists(h => h.citationType == "tr_danistay"), hits.toString)
    // offsets are exact against the original text
    for (h <- hits)
      assert(text.substring(h.startChar, h.endChar).trim.startsWith(h.citation.take(8)))
    // and with a digit present, the windows still agree with themselves:
    // the same mention near a digit yields the same citation strings
    val near = "sayi 12345 " + "Yargıtay Ceza Dairesi karari dikkate alinmistir."
    val nearHits = graft.kg.rules.Citations.extract(near, "tr")
    assert(nearHits.exists(_.citationType == "tr_yargitay"))
    // U+017F LONG S: regex CASE_INSENSITIVE|UNICODE_CASE folds 'ſ' to 's',
    // so a digit-free "Danıſtay …" matches a full scan — the stem fold must
    // window it too (the last case-fold equivalence the fold handles)
    val longS = filler + "Danıſtay Daire gorusu de benzerdir." + filler
    val longSHits = graft.kg.rules.Citations.extract(longS, "tr")
    assert(longSHits.exists(_.citationType == "tr_danistay"), longSHits.toString)
  }

  test("extraction does not depend on the default locale") {
    // orphan-repair explanations once printed their score as "10,0" under a
    // Turkish or German default locale; every graph field must be the same
    // bytes under any default locale
    val inputs =
      TranscriptGen.turns(50, 14).groupBy(_.conv_id).toSeq.sortBy(_._1).map { case (c, ts) =>
        (c, ts.sortBy(_.turn_idx).map(t => (t.turn_idx, t.text)), "in")
      } ++ Seq(("echr_fix", JurisdictionSpec.echrTurns, "echr"),
        ("tr_fix", JurisdictionSpec.trTurns, "tr"))
    // the case folds the generated text does not reach: an actor with an
    // upper-case I, a lower-case `right_` concept id (its RIGHT_ guard
    // upper-cases it), an upper-case warning (its class reads a fold), a
    // relation and the requires/defeaters markers
    def folds(): Seq[Any] = Seq(
      Seq("PETITIONER İ", "UNION OF INDIA Ş", "IN", "Rİ THE STATE").map(a =>
        graft.kg.rules.Actors.coerceActor(a)),
      Ontology.bestConceptMatch("right_to_fair_hearing",
        "natural justice audi alteram partem fair hearing", Ontology.default.concepts),
      Seq("EDGE E_1 REPAIRED: FLIPPED", "ORPHAN F1 REPAIRED WITH 1 EDGE(S)",
        "EDGE E_2 DROPPED: NO MATRIX ENTRY").map(graft.kg.extract.GraphAssembly.classifyWarning),
      graft.kg.rules.Relations.normalize("RELIES ON İT"),
      Ontology.normalizeRequires(List("[or]", "item i", "[ignore]")),
      Ontology.normalizeRequires("[or] first item; second item"))
    def graphs(locale: Locale) = {
      val saved = Locale.getDefault
      try {
        Locale.setDefault(locale)
        (inputs.map { case (c, turns, j) =>
          DocExtractor.extract(c, turns, Ontology.forJurisdiction(j), j)
        }, folds())
      } finally Locale.setDefault(saved)
    }
    val (root, rootFolds) = graphs(Locale.ROOT)
    assert(root.exists(_.edges.exists(e => Option(e.explanation).exists(_.startsWith("Orphan repair: score=")))))
    for (tag <- Seq("tr-TR", "de-DE")) {
      val (gs, fs) = graphs(Locale.forLanguageTag(tag))
      val differing = gs.zip(root)
        .collect { case (g, r) if g != r => g.summary.convId }
      assert(differing.isEmpty, s"under $tag: ${differing.size} graphs differ: " +
        differing.take(5).mkString(", "))
      assert(fs == rootFolds, s"under $tag: $fs != $rootFolds")
    }
  }
}
