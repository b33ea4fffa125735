package graft

import graft.kg.extract.DocExtractor
import graft.kg.gen.TranscriptGen
import org.scalatest.funsuite.AnyFunSuite

/** Pure (no-Spark) tests of the per-conversation extraction pipeline over a
  * hand-written fixture conversation, mirroring the reference's scripted
  * full-pipeline tests (unified_testing_bench.py:1035-1065,
  * test_extraction.py:432-615). */
class ExtractorSpec extends AnyFunSuite {

  // A fixture conversation exercising every node rule: facts (event cues, one
  // negative), an issue ("whether"), arguments (contends/submits), precedents
  // (AIR citation + following signal), concepts (natural-justice key phrase),
  // holding (primary_holding signal), outcome (disposition).
  val turns: Seq[(Int, String)] = Seq(
    0 -> "This matter concerns a dispute between Ram Kumar and State of Punjab arising in 1998.",
    1 -> "The petitioner Ram Kumar was dismissed from service without being granted any opportunity of hearing in 1998.",
    2 -> "No notice was served upon the petitioner and no enquiry was conducted before the order was passed.",
    3 -> "The petitioner contends that the order was passed without affording a fair opportunity to answer the allegations.",
    4 -> "The respondent submits that the procedure followed was just, fair and reasonable in the circumstances.",
    5 -> "As held in A.K. Kraipak v. Union of India, AIR 1970 SC 150, the rules of natural justice operate in areas not covered by any law validly made.",
    6 -> "The question is whether the impugned order violates the principles of natural justice.",
    7 -> "We hold that the impugned order cannot be sustained as it was passed in violation of the principles of natural justice.",
    8 -> "In the result, the appeal is accordingly allowed and the impugned order is set aside.")

  lazy val g = DocExtractor.extract("conv_fix", turns)

  test("full graph validation: clean on extracted graphs, reference-format warnings on broken ones") {
    import graft.kg.extract.GraphAssembly
    // the extractor's own output validates clean
    assert(GraphAssembly.validateGraph(g.nodes, g.edges, g.justificationSets).isEmpty,
      GraphAssembly.validateGraph(g.nodes, g.edges, g.justificationSets).mkString("; "))
    // planted violations produce the reference's exact warning formats
    val badEdge = g.edges.head.copy(id = "e_bad", source = "zz9",
      supportGroupIds = Seq("js99"), confidence = "high", anchor = null)
    val w = GraphAssembly.validateGraph(g.nodes, g.edges :+ badEdge, g.justificationSets)
    assert(w.exists(_ == "Edge e_bad: source 'zz9' not found"), w.mkString("; "))
    assert(w.exists(_ == "Edge e_bad: support_group_id 'js99' not found"))
    assert(w.exists(_ == "Edge e_bad: HIGH/MEDIUM confidence requires anchor"))
    val dupNode = g.nodes.head
    val w2 = GraphAssembly.validateGraph(g.nodes :+ dupNode, g.edges, g.justificationSets)
    assert(w2.exists(_ == s"Duplicate node ID: '${dupNode.id}'"))
    // orphan JS + target mismatch + missing DETERMINES
    val looseJs = g.justificationSets.head.copy(id = "js98", targetId = "zz8")
    val w3 = GraphAssembly.validateGraph(g.nodes, g.edges, g.justificationSets :+ looseJs)
    assert(w3.exists(_ == "JustificationSet js98: target 'zz8' not found"))
    assert(w3.exists(_ == "JustificationSet js98: no edges belong to this set"))
    val noDet = g.edges.filterNot(_.relation == "determines")
    val w4 = GraphAssembly.validateGraph(g.nodes, noDet, g.justificationSets)
    assert(w4.contains("Outcome exists but no DETERMINES edge points to it"))
  }

  test("nodes and edges carry provenance; anchors expose secondary spans") {
    assert(g.nodes.forall(_.provenance != null))
    assert(g.nodes.forall(n => n.provenance.extractionMethod == n.method))
    assert(g.nodes.forall(_.provenance.promptId == "graft_rule_engine_v1"))
    assert(g.nodes.forall(_.provenance.timestamp == null)) // determinism
    assert(g.edges.forall(_.provenance != null))
    assert(g.edges.filter(_.id.startsWith("e_repair_"))
      .forall(_.provenance.extractionMethod == "inference"))
    // v1 anchors have no secondary spans, but the schema carries the field
    assert(g.nodes.filter(_.anchor != null).forall(_.anchor.secondarySpans.isEmpty))
  }

  test("node induction finds every node type") {
    val byType = g.nodes.groupBy(_.nodeType).view.mapValues(_.size).toMap
    assert(byType.getOrElse("fact", 0) >= 1, s"facts: $byType")
    assert(byType.getOrElse("issue", 0) == 1)
    assert(byType.getOrElse("argument", 0) >= 2)
    assert(byType.getOrElse("holding", 0) == 1)
    assert(byType.getOrElse("precedent", 0) >= 1)
    assert(byType.getOrElse("outcome", 0) == 1)
    assert(byType.getOrElse("concept", 0) >= 1)
  }

  test("anchors carry exact offsets into the assembled document") {
    val fullText = DocExtractor.assemble(turns)
    for (n <- g.nodes if n.anchor != null) {
      val span = fullText.substring(n.anchor.startChar, n.anchor.endChar)
      assert(span.trim == n.anchor.surfaceText.trim || span == n.anchor.surfaceText,
        s"anchor mismatch for ${n.id}")
      assert(n.anchor.textHash == graft.kg.text.Normalize.textHash16(span))
    }
  }

  test("outcome disposition derived from cue") {
    val o = g.nodes.find(_.nodeType == "outcome").get
    assert(o.disposition == "allowed")
  }

  test("holding resolves the single issue and determines the outcome") {
    val h = g.nodes.find(_.nodeType == "holding").get
    val i = g.nodes.find(_.nodeType == "issue").get
    assert(h.resolvesIssue == i.id)
    assert(g.edges.exists(e => e.source == h.id && e.target == i.id && e.relation == "resolves"))
    assert(g.edges.exists(e =>
      e.source == h.id && e.target == "outcome" &&
        (e.relation == "determines" || e.relation == "contributes_to")))
  }

  test("precedent treatment edge from signal + citation co-occurrence") {
    val p = g.nodes.find(_.nodeType == "precedent").get
    val h = g.nodes.find(_.nodeType == "holding").get
    assert(g.edges.exists(e => e.source == h.id && e.target == p.id && e.relation == "follows"))
  }

  test("every edge satisfies the validation matrix") {
    for (e <- g.edges) {
      val (ok, msg) = graft.kg.rules.Relations.validate(e.source, e.target, e.relation)
      assert(ok, s"${e.id}: $msg")
    }
  }

  test("edges are deduped by (source, target, relation) and sorted") {
    val sigs = g.edges.map(e => (e.source, e.target, e.relation))
    assert(sigs == sigs.distinct)
    assert(sigs == sigs.sortBy(identity))
  }

  test("edge endpoints reference existing nodes") {
    val ids = g.nodes.map(_.id).toSet
    for (e <- g.edges) {
      assert(ids.contains(e.source), s"missing source ${e.source}")
      assert(ids.contains(e.target), s"missing target ${e.target}")
    }
  }

  test("justification sets attach support_group_ids to support edges") {
    assert(g.justificationSets.nonEmpty)
    val js = g.justificationSets.find(_.isPrimary).get
    val h = g.nodes.find(_.nodeType == "holding").get
    assert(js.targetId == h.id)
    val tagged = g.edges.filter(_.supportGroupIds.contains(js.id))
    assert(tagged.nonEmpty)
    assert(tagged.forall(e => e.target == h.id &&
      (e.relation == "supports" || e.relation == "grounds")))
  }

  test("reasoning chain traverses upstream support structure") {
    assert(g.chains.size == 1)
    val ch = g.chains.head
    assert(ch.issueId == g.nodes.find(_.nodeType == "issue").get.id)
    assert(ch.holdingId == g.nodes.find(_.nodeType == "holding").get.id)
    assert(ch.edgeIds.nonEmpty)
    assert(ch.justificationSetId != null)
  }

  test("fixture conversation earns gold tier") {
    assert(g.summary.qualityTier == "gold", s"warnings: ${g.warnings.mkString("; ")}")
  }

  test("extraction is deterministic") {
    val g2 = DocExtractor.extract("conv_fix", scala.util.Random.shuffle(turns.toList))
    assert(g2.nodes == g.nodes)
    assert(g2.edges == g.edges)
    assert(g2.chains == g.chains)
  }

  test("generated conversations extract non-trivially at any id") {
    for (i <- List(0, 7, 123)) {
      val cid = f"conv_$i%06d"
      val conv = TranscriptGen.conversation(cid, 14)
      val cg = DocExtractor.extract(cid, conv.map(t => (t.turn_idx, t.text)))
      assert(cg.nodes.nonEmpty, cid)
      assert(cg.edges.nonEmpty, cid)
      assert(cg.summary.nHoldings >= 1, cid)
      assert(cg.summary.nOutcomes == 1, cid)
    }
  }

  test("40-turn conversation summary golden (locks long-doc behavior)") {
    val cid = "conv_000003"
    val conv = TranscriptGen.conversation(cid, 40)
    val g = DocExtractor.extract(cid, conv.map(t => (t.turn_idx, t.text)))
    val s = g.summary
    // snapshot of counts; regenerate deliberately on rule changes
    val snapshot = (s.nParagraphs, s.nSentences, s.nFacts, s.nConcepts, s.nIssues,
      s.nArguments, s.nHoldings, s.nPrecedents, s.nEdges, s.nChains, s.qualityTier)
    val again = DocExtractor.extract(cid, conv.map(t => (t.turn_idx, t.text))).summary
    assert(snapshot == (again.nParagraphs, again.nSentences, again.nFacts,
      again.nConcepts, again.nIssues, again.nArguments, again.nHoldings,
      again.nPrecedents, again.nEdges, again.nChains, again.qualityTier))
    assert(s.nHoldings >= 1 && s.nOutcomes == 1 && s.nEdges > 10)
    assert(s.qualityTier == "gold")
  }

  test("golden triple set for the fixture conversation") {
    val triples = g.edges.map(e => (e.source, e.relation, e.target)).toSet
    val h = g.nodes.find(_.nodeType == "holding").get.id
    val i = g.nodes.find(_.nodeType == "issue").get.id
    val p = g.nodes.find(_.nodeType == "precedent").get.id
    // structural spine that must always be present
    assert(triples.contains((h, "resolves", i)))
    assert(triples.contains((h, "follows", p)))
    assert(triples.exists { case (s, r, o) => s == h && o == "outcome" })
    // support edges into the holding from the natural-justice cluster
    assert(triples.exists { case (s, r, o) => s.startsWith("c") && r == "grounds" && o == h })
  }

  // --- M8 make_anchor validate/repair (extractor.py:2619-2700) -------------

  test("makeAnchor: valid offsets pass through with hash + display") {
    val doc = graft.kg.text.Segmenter.segment("First point here. Second one.\n\nNext para follows.", "d1")
    val s1 = doc.sentences(1) // "Second one."
    val a = DocExtractor.makeAnchor(doc, Some(s1.startChar), Some(s1.startChar + s1.text.length)).get
    assert(a.startChar == s1.startChar && a.endChar == s1.startChar + s1.text.length)
    assert(a.surfaceText == "Second one.")
    assert(a.displayLocation == "0:1")
    assert(a.textHash == graft.kg.text.Normalize.textHash16("Second one."))
  }

  test("makeAnchor: invalid offsets repair via quote alignment, Turkish fallback honored") {
    val doc = graft.kg.text.Segmenter.segment("First point here. Second one.", "d1")
    val a = DocExtractor.makeAnchor(doc, Some(5), Some(99999),
      quoteForAlignment = Some("Second one.")).get
    assert(doc.fullText.substring(a.startChar, a.endChar) == "Second one.")
    // surface_text falls back to the extracted text when not supplied
    assert(a.surfaceText == "Second one.")
    // Turkish-aware repair: quote differs only by Turkish casing (I vs ı)
    val tdoc = graft.kg.text.Segmenter.segment("ILIK sular aktı burada.", "d2")
    assert(DocExtractor.makeAnchor(tdoc, None, None,
      quoteForAlignment = Some("ılık"), turkish = true).isDefined)
    assert(DocExtractor.makeAnchor(tdoc, None, None,
      quoteForAlignment = Some("ılık"), turkish = false).isEmpty)
  }

  test("makeAnchor: whitespace-only span repairs via quote; unrepairable returns None") {
    val doc = graft.kg.text.Segmenter.segment("Alpha beta.\n\nGamma delta.", "d1")
    val ws = doc.fullText.indexOf("\n")
    // whitespace span with a quote -> repaired onto the quote's span
    val a = DocExtractor.makeAnchor(doc, Some(ws), Some(ws + 2),
      quoteForAlignment = Some("Gamma delta.")).get
    assert(doc.fullText.substring(a.startChar, a.endChar) == "Gamma delta.")
    assert(a.displayLocation == "1:0")
    // whitespace span without a quote -> None
    assert(DocExtractor.makeAnchor(doc, Some(ws), Some(ws + 2)).isEmpty)
    // invalid offsets + unfindable quote -> None
    assert(DocExtractor.makeAnchor(doc, Some(-3), Some(-1),
      quoteForAlignment = Some("zz unfindable")).isEmpty)
    // null offsets, no quote -> None
    assert(DocExtractor.makeAnchor(doc, None, None).isEmpty)
    // the empty-hash constant is sha256("") truncated to 16 hex chars
    assert(DocExtractor.EmptyAnchorHash == graft.kg.text.Normalize.textHash16(""))
  }

  // --- J3 argmaxCluster (extractor.py:1409-1637 _assign_by_score) ----------

  test("argmaxCluster: ontology + pseudo candidates, thresholds, first-max tie-break") {
    import graft.kg.ontology.{MatchText, Ontology}
    val cands = List("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM",
      "PSEUDO_A", "PSEUDO_B")
    val labels = Map("PSEUDO_A" -> "speedy trial guarantee",
      "PSEUDO_B" -> "speedy trial compensation")
    def pick(text: String, min: Int) = DocExtractor.argmaxCluster(
      MatchText.of(text, turkish = false), cands, min, Ontology.default, labels, turkish = false)
    // key-phrase hit beats pseudo keyword overlap
    assert(pick("a fair opportunity to answer was denied", 3)
      .contains("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM"))
    // pseudo overlap: 2 shared keywords, min 2 passes, min 3 rejects
    assert(pick("speedy trial rights", 2).contains("PSEUDO_A"))
    assert(pick("speedy trial rights", 3).isEmpty)
    // tie between PSEUDO_A and PSEUDO_B (both overlap 2): first candidate wins
    assert(pick("the speedy trial question", 2).contains("PSEUDO_A"))
    // zero score -> None regardless of threshold
    assert(pick("zzz qqq", 2).isEmpty)
  }
  test("ontology concepts and keyword sets stay Java-serializable after extraction") {
    import graft.kg.ontology.{ConceptDef, MatchText, Ontology}
    import graft.kg.text.{Normalize, TokenSet}
    import java.io._
    def roundTrip[T](x: T): T = {
      val bytes = new ByteArrayOutputStream
      val out = new ObjectOutputStream(bytes)
      out.writeObject(x); out.close()
      new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[T]
    }
    assert(g.nodes.nonEmpty) // an extraction in this JVM fills the concepts' lazy keyword sets
    val text = turns(7)._2
    // Spark UDFs capture ConceptDefs of the shared default ontology (SparkEntry q34)
    Ontology.default.concepts.values.foreach { c =>
      c.conceptKeywords; c.requiresKeywords; c.idAndTextKeywords; c.requiresKeywordSets
      val back = roundTrip(c)
      assert(back == c)
      assert(back.conceptKeywords == c.conceptKeywords)
      assert(Ontology.conceptMatchScore(text, back) == Ontology.conceptMatchScore(text, c), c.id)
    }
    val mt = MatchText.of(text, turkish = false)
    assert(roundTrip(mt) == mt)
    // a set large enough to answer `contains` from its transient hash table
    val big: TokenSet = Normalize.keywordSet(turns.map(_._2).mkString(" "))
    assert(big.size > 16)
    big.contains("natural") // builds the table before serializing
    val bigBack = roundTrip(big)
    assert(bigBack == big && big.forall(bigBack.contains) && !bigBack.contains("zzz"))
  }
}
