package graft.kg.extract

import graft.kg.model._
import graft.kg.ontology.{ConceptDef, Jurisdiction, MatchText, Ontology, OntologyData}
import graft.kg.rules.{Citations, Relations}
import graft.kg.text.{Normalize, SegmentedDoc, Segmenter, TextSegment, TokenSet}

import java.util.Locale
import java.util.regex.Pattern
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** GraftExtract v1 — the deterministic, rule-based per-conversation extractor.
  *
  * Re-expresses the reference pipeline (extractor.py `extract`,
  * lines 4474-4877) with the LLM passes replaced by the reference's own rule
  * grammar, exactly as specified by the project north rule:
  *
  *   1. Assemble turns (stable `(conv_id, turn_idx)` order, "\n" join —
  *      run_iltur.py:513-530) → segment into paragraphs/sentences with exact
  *      char offsets (extractor.py:1698-1772).
  *   2. Mention detection: citation regex grammar (citation_preprocess.py) +
  *      signal-phrase grammar + ontology key-phrase hits, per sentence.
  *   3. Rule-based node induction (sentence classifiers below).
  *   4. Auto-fill `resolves_issue` (extractor.py:4587-4628).
  *   5. Concept-centric clustering (extractor.py:1409-1637).
  *   6. Edge induction: signal-grammar intra-sentence edges + gated
  *      intra-cluster support edges (replacing the LLM pass 8, constrained by
  *      the same validation matrix extractor.py:568-738) + deterministic
  *      structural edges (extractor.py:4119-4191) → normalize/validate/repair
  *      → dedupe (extractor.py:4026-4049).
  *   7. Justification sets (extractor.py:4194-4276), reasoning chains
  *      (extractor.py:4290-4369), validation + quality tier
  *      (extractor.py:4822-4862).
  *
  * Node-induction rules (the v1 sentence classifiers; each deterministic,
  * anchor = the matching sentence span):
  *   - issue:     sentence matches the issue-cue regex ("whether", "the
  *                question/issue is/arises", "falls for consideration", ...).
  *   - holding:   sentence contains a `primary_holding` or
  *                `ratio_decidendi_marker` signal phrase (is_ratio = true).
  *   - outcome:   LAST sentence matching the disposition regex; the
  *                disposition enum value is derived from the matched verb.
  *   - argument:  sentence matches the submission-cue regex ("contends",
  *                "submits", "argues", "urged", ...); actor from the cue's
  *                subject via the actor alias table (extractor.py:365-563).
  *   - fact:      sentence matches the event-cue regex and is not already an
  *                issue/holding/outcome/argument sentence.
  *   - concept:   one node per ontology concept with ≥1 key-phrase or
  *                establishing-case hit anywhere in the document (anchor =
  *                first hitting sentence).
  *   - precedent: one node per overlap-deduped citation hit.
  *
  * All ids are order-derived (prefix + 1-based rank by anchor start), so any
  * partitioning of conversations across executors produces identical output.
  */
object DocExtractor {

  // --- v1 sentence-classifier cue regexes -----------------------------------

  /** A sentence-classifier cue: its rule is the lower-case regex matched
    * CASE_INSENSITIVE|UNICODE_CASE against the sentence. On a pure-ASCII
    * sentence the rule's case-sensitive twin over the ASCII-lowered sentence
    * finds the same: an ASCII char folds only to ASCII chars and to the
    * Kelvin sign and long s, which such a sentence cannot hold, and lowering
    * keeps every `\b` (ExtractionProps holds twin and rule equal). */
  private[graft] final class Cue(val regex: String) {
    require(regex == regex.toLowerCase(Locale.ROOT), s"cue regex must be lower case: $regex")
    private val rule = Pattern.compile(regex, Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE)
    private val twin = Pattern.compile(regex)
    /** Reusable matchers, for one extract call. */
    final class Matching {
      private val ruleM = rule.matcher("")
      private val twinM = twin.matcher("")
      /** Does the cue occur in `text`? `asciiLower` is `text` lowered when
        * `text` is pure ASCII, else null. */
      def find(text: String, asciiLower: String): Boolean =
        if (asciiLower != null) twinM.reset(asciiLower).find() else ruleM.reset(text).find()
    }
  }
  private def cre(s: String) = new Cue(s)

  private val IssueCue = cre(
    """\b(whether\b|the\s+(?:question|issue)\s+(?:is|arises|that\s+arises)|falls?\s+for\s+(?:consideration|determination)|issue\s+before\s+(?:us|the\s+court)|point\s+for\s+determination)""")

  private val DispositionCues: List[(Cue, String)] = List(
    cre("""\b(?:appeal|petition|application|writ\s+petition|slp|revision)s?\s+(?:is|are|stands?)\s+(?:accordingly\s+)?partly\s+allowed\b""") -> "partly_allowed",
    cre("""\b(?:appeal|petition|application|writ\s+petition|slp|revision)s?\s+(?:is|are|stands?)\s+(?:accordingly\s+)?allowed\b""") -> "allowed",
    cre("""\b(?:appeal|petition|application|writ\s+petition|slp|revision)s?\s+(?:is|are|stands?)\s+(?:accordingly\s+)?(?:dismissed|rejected)\b""") -> "dismissed",
    cre("""\b(?:matter|case)s?\s+(?:is|are|stands?)\s+remanded\b|\bremand(?:ed)?\s+(?:to|the\s+matter)\b""") -> "remanded",
    cre("""\b(?:conviction|order|judgment|decree)s?\s+(?:is|are|stands?)?\s*(?:hereby\s+)?set\s+aside\b""") -> "set_aside",
    cre("""\b(?:sentence|order|decree)s?\s+(?:is|are|stands?)\s+modified\b""") -> "modified")

  private val ArgCue = cre(
    """\b(?:contend(?:s|ed)?|submit(?:s|ted)?|argue(?:s|d)?|urged|canvassed|assert(?:s|ed)?)\b""")

  private val FactCue = cre(
    """\b(?:filed|issued|passed\s+an?\s+order|arrested|convicted|sentenced|terminated|dismissed\s+from\s+service|executed|entered\s+into|served|received|granted|rejected\s+the\s+application|acquired|notified|published|registered|lodged|paid|deposited|awarded)\b""")

  /** Every sentence-classifier cue. */
  private[graft] val cues: List[Cue] = IssueCue :: ArgCue :: FactCue :: DispositionCues.map(_._1)

  /** Surface cues for argument-actor detection: every alias key of the
    * reference's full actor map (underscores → spaces so multi-word forms
    * match prose), plus counsel phrasing. The matched RAW cue goes through
    * Actors.coerceActor, so alias + heuristic coverage equals the
    * reference's (extractor.py:365-563). Single-letter/ambiguous initials
    * ("pp") are excluded from surface scanning. */
  private val ActorCues: List[(String, String)] =
    (graft.kg.rules.Actors.ActorAliases.keys
      .filter(k => k.length >= 4 && k != "states") // "states" shadows "state(s)" prose hits
      .map(k => k.replace('_', ' ') -> k)
      .toList :+ ("learned counsel" -> "third_party"))
      .sortBy(_._1)
  private val ActorCueScan = graft.kg.text.PhraseAutomaton.build(ActorCues.map(_._1).toIndexedSeq)
  private val ActorCueRaw: Array[String] = ActorCues.map(_._2).toArray

  /** Pattern names (across the IN/ECHR/TR grammars) whose hit marks a
    * holding sentence. */
  private val HoldingPatterns: Set[String] = Set(
    "primary_holding", "ratio_decidendi_marker",            // IN
    "violation_finding",                                    // ECHR + TR
    "no_violation_finding", "cassation_outcome")            // TR

  /** Treatment-pattern name → (holding→precedent relation) mapping, across
    * jurisdictions. The relation strings run through
    * normalize→matrix→repair like every edge. */
  private val TreatmentPatterns: Map[String, String] = Map(
    "following_precedent" -> "follows",                     // IN
    "distinguishing_precedent" -> "distinguishes",
    "doubting_precedent" -> "doubts",
    "overruling_precedent" -> "overrules",
    "explaining_precedent" -> "explains",
    "precedent_following" -> "follows",                     // ECHR
    "precedent_distinguishing" -> "distinguishes",
    "precedent_developing" -> "explains",
    "settled_case_law" -> "follows",                        // TR
    "precedent_self_citation" -> "follows",
    "change_of_case_law" -> "overrules")

  /** Patterns that create fact→concept edges when co-occurring in a sentence. */
  private val FactConceptPatterns: Map[String, String] = Map(
    "doctrine_invocation" -> "triggers",
    "requirement_failure" -> "negates",
    "conjunctive_satisfaction (AND logic)" -> "satisfies",
    "disjunctive_sufficiency (OR logic)" -> "partially_satisfies")

  // cheap lowercase-substring prefilters: a sentence can only match the
  // corresponding classifier regex if it contains one of these literals, so
  // the (backtracking) regex runs on a small fraction of sentences
  private val IssuePrefilter = Array("whether", "question", "issue", "consideration", "determination")
  private val ArgPrefilter = Array("contend", "submit", "argue", "urged", "canvass", "assert")
  private val FactPrefilter = Array("filed", "issued", "passed", "arrest", "convict",
    "sentenc", "terminat", "dismissed", "execut", "entered", "served", "received",
    "granted", "rejected", "acquir", "notif", "publish", "register", "lodged",
    "paid", "deposit", "awarded")
  private val DispositionPrefilter = Array("allowed", "dismissed", "rejected",
    "remand", "set aside", "modified")

  private def containsAny(low: String, lits: Array[String]): Boolean = {
    var i = 0
    while (i < lits.length) { if (low.contains(lits(i))) return true; i += 1 }
    false
  }

  final case class SignalHit(patternName: String, phrase: String, sentIdx: Int)
  final case class ConceptHit(conceptId: String, phrase: String, sentIdx: Int, offsetInSent: Int)

  /** Assemble turns into the conversation document: stable turn order, "\n"
    * join (the reference's list-join adaptation, run_iltur.py:513-530).
    * Ties on turn_idx (malformed input) are broken by text so the result is a
    * TOTAL order — arrival order after a shuffle is arbitrary. */
  def assemble(turns: Seq[(Int, String)]): String =
    turns.map(t => (t._1, Option(t._2).getOrElse("")))
      .sortBy(identity).map(_._2).mkString("\n")

  /** Stage-4 resolves_issue argmax (extractor.py:4587-4628): overlap of the
    * holding's \w{4,} keyword set with each issue's, stable tie-break on
    * issue order (the reference iterates in extraction order keeping strict
    * '>'), None when the holding keyword set is empty. Public so the oracle
    * harness drives the REAL operator on planted keyword sets. */
  def resolveIssueArgmax(hw: Set[String], issueKw: IndexedSeq[Set[String]]): Option[Int] =
    if (hw.isEmpty || issueKw.isEmpty) None
    else Some(issueKw.indices.maxBy(i => (Normalize.overlap(issueKw(i), hw), -i)))

  /** Holding→outcome linkage plan (extractor.py:4119-4191): per ratio
    * holding, relation "determines" (critical, strong) when its keyword
    * overlap with the outcome is ≥ 1, else "contributes_to" — unless ALL
    * overlaps are zero, in which case only the latest-by-anchor holding
    * (max (anchorStart, id)) gets "determines". Returns the relation per
    * input position. Public for the oracle harness. */
  def outcomeLinkPlan(scored: Seq[(Int, Int, String)]): Seq[String] = { // (overlap, anchorStart, id)
    if (scored.isEmpty) Nil
    else if (scored.forall(_._1 == 0)) {
      val best = scored.maxBy { case (_, start, id) => (start, id) }
      scored.map(s => if (s._3 == best._3) "determines" else "contributes_to")
    } else
      scored.map(s => if (s._1 >= 1) "determines" else "contributes_to")
  }

  /** Edge dedup by (source, target, relation): keep the best
    * (confidenceRank, id) witness per key, then deterministic output order
    * (extractor.py:4026-4049). Public so the oracle harness drives the
    * REAL operator on planted edge rows. */
  def dedupeEdges(edges: scala.collection.Seq[EdgeRow]): Vector[EdgeRow] =
    edges.groupBy(e => (e.source, e.target, e.relation))
      .map { case (_, group) =>
        group.maxBy(e => (Relations.ConfidenceRank.getOrElse(e.confidence, 0), e.id))
      }
      .toVector
      .sorted(EdgeOrder)

  /** Edge output order: (source, target, relation, id). */
  private[extract] val EdgeOrder: Ordering[EdgeRow] = new Ordering[EdgeRow] {
    def compare(a: EdgeRow, b: EdgeRow): Int = {
      var c = a.source.compareTo(b.source)
      if (c == 0) c = a.target.compareTo(b.target)
      if (c == 0) c = a.relation.compareTo(b.relation)
      if (c == 0) c = a.id.compareTo(b.id)
      c
    }
  }

  /** Stage-5 requirement satisfaction argmax (extractor.py:1600-1629):
    * score each candidate fact (id, keywordSet, looksNegative) by keyword
    * overlap with the requirement's set, −2 negation penalty floored at 0,
    * FIRST strict-'>' argmax, None below score 1. Public for the oracle
    * harness. */
  def satisfyRequirement(
      reqKw: Set[String],
      facts: Seq[(String, Set[String], Boolean)]): Option[String] = {
    var bestFact: String = null
    var bestScore = 0
    for ((fid, fkw, neg) <- facts) {
      var s = Normalize.overlap(reqKw, fkw)
      if (neg) s = math.max(0, s - 2)
      if (s > bestScore) { bestScore = s; bestFact = fid }
    }
    if (bestFact != null && bestScore >= 1) Some(bestFact) else None
  }

  /** Stage-5 score-fallback cluster assignment (extractor.py:1409-1637
    * `_assign_by_score` and the issue/holding fallbacks): argmax of
    * conceptMatchScoreFast over ontology candidates / keyword overlap over
    * pseudo-cluster candidates, FIRST strict-'>' winner in candidate order,
    * None below `minScore`. Ontology candidates are pre-pruned through the
    * inverted keyword index (exactness-preserving — a concept can only
    * score > 0 when it shares an index keyword with the text or sits in
    * `alwaysCandidates`). Public so the oracle harness drives the REAL
    * operator on planted texts/candidates; extract() calls this. */
  def argmaxCluster(
      mt: MatchText,
      candidates: Iterable[String],
      minScore: Int,
      ontology: OntologyData,
      pseudoLabel: String => String,
      turkish: Boolean): Option[String] =
    argmaxOver(mt, ontology.candidateConcepts(mt.keywords),
      clusterCandidates(candidates, ontology, pseudoLabel), minScore, turkish)

  /** One candidate of the score-fallback assignment: an ontology concept
    * (`cdef`, and its index in `OntologyData.conceptIds`), or a pseudo
    * cluster (`cdef` null, scored by overlap with `pseudoKw`, the keywords of
    * its id and label). */
  private final class ClusterCandidate(
      val cid: String, val cdef: ConceptDef, val conceptIdx: Int, val pseudoKw: TokenSet)

  private def clusterCandidates(cids: Iterable[String], ontology: OntologyData,
      pseudoLabel: String => String): Array[ClusterCandidate] =
    cids.iterator.map { cid =>
      ontology.concepts.get(cid) match {
        case Some(cdef) => new ClusterCandidate(cid, cdef,
          java.util.Arrays.binarySearch(ontology.conceptIds.asInstanceOf[Array[AnyRef]], cid), null)
        case None => new ClusterCandidate(cid, null, -1,
          Normalize.keywordSet(cid + " " + pseudoLabel(cid)))
      }
    }.toArray

  /** [[argmaxCluster]] over prepared candidates; `possible` is
    * `ontology.candidateConcepts(mt.keywords)`. */
  private def argmaxOver(mt: MatchText, possible: Array[Boolean],
      candidates: Array[ClusterCandidate], minScore: Int, turkish: Boolean): Option[String] = {
    var best: String = null
    var bestScore = 0
    var i = 0
    while (i < candidates.length) {
      val c = candidates(i)
      if (c.cdef == null || possible(c.conceptIdx)) {
        val s =
          if (c.cdef != null) Ontology.conceptMatchScoreFast(mt, c.cdef, turkish = turkish)
          else mt.keywords.overlap(c.pseudoKw, Int.MaxValue)
        if (s > bestScore) { bestScore = s; best = c.cid }
      }
      i += 1
    }
    if (best != null && bestScore >= minScore) Some(best) else None
  }

  /** P7 cluster gate + G1 intra-cluster support fan-out
    * (extractor.py:4756-4817): emit edges only when the cluster has >=2
    * member slots (duplicates counted, as the reference's len() sums do)
    * AND (a holding, an issue, or >=2 arguments); holdings take precedence
    * over issues; per-target fan-out in fact->concept->argument->precedent
    * order with each type's members sorted. Returns (src, tgt, relation)
    * in emission order — ids/anchors are attached by the caller. Public so
    * the oracle harness (q75) drives the REAL gate + ordering; extract()
    * calls this per live cluster. */
  def clusterEdgePlan(members: String => scala.collection.Seq[String])
      : List[(String, String, String)] = {
    val types = List("fact", "concept", "issue", "argument", "holding", "precedent")
    val total = types.iterator.map(members(_).size).sum
    val gate = total >= 2 &&
      (members("holding").nonEmpty || members("issue").nonEmpty ||
        members("argument").size >= 2)
    if (!gate) Nil
    else {
      val out = List.newBuilder[(String, String, String)]
      val hs = members("holding").toList.sorted
      val is = members("issue").toList.sorted
      if (hs.nonEmpty) {
        for (h <- hs) {
          for (f <- members("fact").toList.sorted) out += ((f, h, "supports"))
          for (c <- members("concept").toList.sorted) out += ((c, h, "grounds"))
          for (a <- members("argument").toList.sorted) out += ((a, h, "supports"))
          for (p <- members("precedent").toList.sorted) out += ((p, h, "supports"))
        }
      } else if (is.nonEmpty) {
        for (i <- is) {
          for (f <- members("fact").toList.sorted) out += ((f, i, "triggers"))
          for (c <- members("concept").toList.sorted) out += ((c, i, "addresses"))
          for (a <- members("argument").toList.sorted) out += ((a, i, "addresses"))
          for (p <- members("precedent").toList.sorted) out += ((p, i, "addresses"))
        }
      }
      out.result()
    }
  }

  /** sha256("")[:16] — the hash an anchor over empty extracted text carries
    * (extractor.py:139 EMPTY_ANCHOR_HASH). */
  val EmptyAnchorHash = "e3b0c44298fc1c14"

  /** M8 anchor construction with validation + repair (extractor.py:2619-2700
    * `make_anchor`): claimed offsets pass through when sane
    * (0 <= start < end <= len); invalid offsets repair via quote alignment
    * (Turkish-aware fallback only on this first repair, extractor.py:2651);
    * a span whose extracted text is empty/whitespace (EMPTY_ANCHOR_HASH)
    * retries the plain quote repair; still empty → None. surfaceText
    * defaults to the first 150 chars of the extracted text. Public so the
    * oracle harness drives the REAL validate/repair path on planted
    * (doc, claimed-span, quote) triples. */
  def makeAnchor(
      doc: SegmentedDoc,
      startChar: Option[Int],
      endChar: Option[Int],
      surfaceText: Option[String] = None,
      quoteForAlignment: Option[String] = None,
      turkish: Boolean = false): Option[Anchor] = {
    val docLen = doc.fullText.length
    var s = startChar.getOrElse(-1)
    var e = endChar.getOrElse(-1)
    var ok = startChar.isDefined && endChar.isDefined && 0 <= s && s < e && e <= docLen
    val repairQuote = quoteForAlignment.orElse(surfaceText)
    if (!ok) repairQuote.foreach { q =>
      Normalize.alignQuote(doc.fullText, q, turkish).foreach { case (rs, re) =>
        s = rs; e = re; ok = true
      }
    }
    if (!ok) return None
    var actual = doc.fullText.substring(s, e)
    var hash = Normalize.textHash16(actual)
    if (hash == EmptyAnchorHash || actual.trim.isEmpty)
      repairQuote.flatMap(q => Normalize.alignQuote(doc.fullText, q)).foreach {
        case (rs, re) =>
          s = rs; e = re
          actual = doc.fullText.substring(s, e)
          hash = Normalize.textHash16(actual)
      }
    if (hash == EmptyAnchorHash || actual.trim.isEmpty) return None
    val display = doc.segmentAt(s, e).map(_.displayLocation).orNull
    Some(Anchor(doc.docId, s, e, hash, display,
      surfaceText.getOrElse(actual.take(150))))
  }

  /** A node's text, a space and its anchor's surface text: the text keyword
    * sets of stages 4 and 6 are taken from. Words never span the space, so
    * when the surface text is the node text (every sentence node) the text
    * alone has the same word set. */
  private def textAndSurface(n: Node): String = {
    val text = Option(n.text).getOrElse("")
    val surface = Option(n.anchor).map(_.surfaceText).getOrElse("")
    if (text == surface) text else text + " " + surface
  }

  def anchorFor(doc: SegmentedDoc, seg: TextSegment): Anchor =
    Anchor(doc.docId, seg.startChar, seg.endChar,
      Normalize.textHash16(doc.fullText.substring(seg.startChar, seg.endChar)),
      seg.displayLocation, seg.text)

  def anchorForSpan(doc: SegmentedDoc, start: Int, end: Int): Anchor = {
    val loc = doc.segmentAt(start, end).map(_.displayLocation).getOrElse("")
    Anchor(doc.docId, start, end,
      Normalize.textHash16(doc.fullText.substring(start, end)), loc,
      doc.fullText.substring(start, end))
  }

  /** Run the full per-conversation pipeline. */
  def extract(
      convId: String,
      turns: Seq[(Int, String)],
      ontology: OntologyData = Ontology.default,
      jurisdiction: String = "in",
      repairOrphans: Boolean = true): ConvGraph = {

    val turkish = Jurisdiction.parse(jurisdiction) == Jurisdiction.Turkey
    val fullText = assemble(turns)
    val docId = Normalize.docId(fullText)
    val doc = Segmenter.segment(fullText, docId)
    val warnings = ArrayBuffer.empty[String]
    val words = new Normalize.TextWords
    // one anchor (one text hash) per segment, however many nodes and edges
    // it anchors
    val anchors = new java.util.IdentityHashMap[TextSegment, Anchor]
    def anchorOf(seg: TextSegment): Anchor = {
      var a = anchors.get(seg)
      if (a == null) { a = anchorFor(doc, seg); anchors.put(seg, a) }
      a
    }

    // ---- Stage 2: mention detection ----------------------------------------
    val citations = Citations.extract(fullText, jurisdiction)

    val sentLower: Vector[String] =
      doc.sentences.map(s =>
        if (turkish) Normalize.turkishLower(s.text) else s.text.toLowerCase(Locale.ROOT))

    // One Aho-Corasick pass per sentence over the ontology's full mention
    // grammar (signal phrases + concept key phrases + establishing cases),
    // replacing the per-phrase contains/indexOf loops. Emission re-imposes
    // the legacy ordering contracts: signal hits per sentence in (pattern
    // name, phrase order) — entry-id order by construction — and concept
    // hits in concept-id order with key-phrase hits shadowing case hits
    // (the scan loop only consulted establishing cases when no key phrase
    // matched; offsets are min-over-occurrences either way).
    val scan = if (turkish) ontology.compiledScanTurkish else ontology.compiledScan
    val signalHits = ArrayBuffer.empty[SignalHit]
    val conceptHits = ArrayBuffer.empty[ConceptHit]
    val concepts = ontology.sortedConcepts
    // per-sentence hit state as stamp arrays (stamp = sentence index): no
    // per-hit boxing/hashing, no per-sentence clearing
    val nEntries = scan.entries.length
    val nConcepts = scan.conceptIds.length
    val sigSeen = new Array[Int](math.max(1, nEntries))
    java.util.Arrays.fill(sigSeen, -1)
    val phSeen = new Array[Int](nConcepts); java.util.Arrays.fill(phSeen, -1)
    val caSeen = new Array[Int](nConcepts); java.util.Arrays.fill(caSeen, -1)
    val phOff = new Array[Int](nConcepts)
    val caOff = new Array[Int](nConcepts)
    // primitive int hit buffers: an ArrayBuffer[Int] boxes every append in
    // the DFA sink (Integer.valueOf was ~5% of extraction samples); these
    // grow-on-demand arrays keep the hit callback allocation-free
    var sigArr = new Array[Int](64); var sigN = 0
    var conceptArr = new Array[Int](64); var conceptN = 0
    var sentIdx = 0
    val sink = new graft.kg.text.PhraseAutomaton.Sink {
      def hit(pid: Int, start: Int): Unit = scan.entryKind(pid) match {
        case 0 =>
          if (sigSeen(pid) != sentIdx) {
            sigSeen(pid) = sentIdx
            if (sigN == sigArr.length) sigArr = java.util.Arrays.copyOf(sigArr, sigN * 2)
            sigArr(sigN) = pid; sigN += 1
          }
        case 1 =>
          val ci = scan.entryConceptIdx(pid)
          if (phSeen(ci) != sentIdx) {
            if (caSeen(ci) != sentIdx) {
              if (conceptN == conceptArr.length) conceptArr = java.util.Arrays.copyOf(conceptArr, conceptN * 2)
              conceptArr(conceptN) = ci; conceptN += 1
            }
            phSeen(ci) = sentIdx; phOff(ci) = start
          } else if (start < phOff(ci)) phOff(ci) = start
        case _ =>
          val ci = scan.entryConceptIdx(pid)
          if (caSeen(ci) != sentIdx) {
            if (phSeen(ci) != sentIdx) {
              if (conceptN == conceptArr.length) conceptArr = java.util.Arrays.copyOf(conceptArr, conceptN * 2)
              conceptArr(conceptN) = ci; conceptN += 1
            }
            caSeen(ci) = sentIdx; caOff(ci) = start
          } else if (start < caOff(ci)) caOff(ci) = start
      }
    }
    var si = 0
    while (si < doc.sentences.length) {
      sentIdx = si
      sigN = 0; conceptN = 0
      scan.automaton.scan(sentLower(si), sink)
      // legacy orders: signal hits by entry id = (pattern name, phrase
      // order); concept hits by concept id (= concept index); key-phrase
      // offsets shadow establishing-case offsets (sort = the former
      // ArrayBuffer.sortInPlace, ascending)
      if (sigN > 0) {
        java.util.Arrays.sort(sigArr, 0, sigN)
        var j = 0
        while (j < sigN) {
          val pid = sigArr(j)
          signalHits += SignalHit(scan.entries(pid).name, scan.entryPhrases(pid), si)
          j += 1
        }
      }
      if (conceptN > 0) {
        java.util.Arrays.sort(conceptArr, 0, conceptN)
        var j = 0
        while (j < conceptN) {
          val ci = conceptArr(j)
          conceptHits += ConceptHit(scan.conceptIds(ci), "", si,
            if (phSeen(ci) == si) phOff(ci) else caOff(ci))
          j += 1
        }
      }
      si += 1
    }

    // ---- Stage 3: node induction --------------------------------------------
    val sigBySent: Map[Int, List[SignalHit]] =
      signalHits.toList.groupBy(_.sentIdx)

    // the cue twins' input: the lowered sentence when it is pure ASCII
    // (a Turkish fold is not an ASCII lowering), else null
    val sentAsciiLower: Vector[String] = doc.sentences.indices.map(i =>
      if (!turkish && Normalize.isAscii(doc.sentences(i).text)) sentLower(i) else null).toVector
    def cueIn(cue: Cue#Matching, i: Int): Boolean =
      cue.find(doc.sentences(i).text, sentAsciiLower(i))
    val issueCue = new IssueCue.Matching
    val argCue = new ArgCue.Matching
    val factCue = new FactCue.Matching
    val dispositionCues = DispositionCues.map { case (c, d) => (new c.Matching, d) }

    // each sentence gets at most one of holding, issue, argument (in that
    // precedence) and outcome; a fact sentence has none of them. The class
    // test runs first, so a cue regex never runs on a sentence it cannot
    // change.
    val nSent = doc.sentences.length
    val isHolding = new Array[Boolean](nSent)
    signalHits.foreach(h => if (HoldingPatterns.contains(h.patternName)) isHolding(h.sentIdx) = true)
    val holdingSents = (0 until nSent).filter(isHolding).toVector
    val issueSents = (0 until nSent).filter(i =>
      !isHolding(i) && containsAny(sentLower(i), IssuePrefilter) && cueIn(issueCue, i)).toVector
    val outcomeSentOpt: Option[(Int, String)] = {
      // last matching sentence wins (operative tail, like the AYM window
      // selector's last-occurrence rule); within that sentence the FIRST cue
      // in priority order wins ("appeal is allowed ... order is set aside"
      // → allowed)
      var found: Option[(Int, String)] = None
      var i = nSent - 1
      while (found.isEmpty && i >= 0) {
        if (containsAny(sentLower(i), DispositionPrefilter))
          found = dispositionCues.collectFirst { case (m, d) if cueIn(m, i) => (i, d) }
        i -= 1
      }
      found
    }
    val classified = isHolding.clone()
    issueSents.foreach(classified(_) = true)
    val argSents = (0 until nSent).filter(i =>
      !classified(i) && containsAny(sentLower(i), ArgPrefilter) && cueIn(argCue, i)).toVector
    argSents.foreach(classified(_) = true)
    outcomeSentOpt.foreach { case (i, _) => classified(i) = true }
    val factSents = (0 until nSent).filter(i =>
      !classified(i) && containsAny(sentLower(i), FactPrefilter) && cueIn(factCue, i)).toVector

    val nodes = ArrayBuffer.empty[Node]
    def blankNode(id: String, ntype: String, text: String, anchor: Anchor,
                  confidence: String, method: String): Node =
      Node(convId, id, ntype, text, null, null, null, null, null,
        isRatio = false, null, null, null, null, null, null,
        confidence, anchor, method)

    // facts
    factSents.zipWithIndex.foreach { case (i, n) =>
      val seg = doc.sentences(i)
      nodes += blankNode(s"f${n + 1}", "fact", seg.text, anchorOf(seg), "high", "rule")
        .copy(factType = "event",
          relevance = "supporting")
    }
    // concepts: one per distinct ontology concept, anchored at first hit
    val conceptFirstHit: List[(String, ConceptHit)] = conceptHits.toList
      .groupBy(_.conceptId).toList
      .map { case (cid, hits) => (cid, hits.minBy(h => (h.sentIdx, h.offsetInSent))) }
      .sortBy { case (cid, h) => (h.sentIdx, h.offsetInSent, cid) }
    conceptFirstHit.zipWithIndex.foreach { case ((cid, hit), n) =>
      val seg = doc.sentences(hit.sentIdx)
      val cdef = ontology.concepts(cid)
      nodes += blankNode(s"c${n + 1}", "concept", cdef.label, anchorOf(seg), "high", "rule")
        .copy(conceptId = cid, kind = cdef.kind, relevance = "supporting")
    }
    // issues
    issueSents.zipWithIndex.foreach { case (i, n) =>
      val seg = doc.sentences(i)
      nodes += blankNode(s"i${n + 1}", "issue", seg.text, anchorOf(seg), "high", "rule")
    }
    // arguments: actor from the earliest alias-cue occurrence coerced through
    // the reference's full actor map + heuristics (extractor.py:365-563);
    // scheme from deterministic cue buckets, normalized to the 19-value enum
    val actorCueAt = new Array[Int](ActorCueRaw.length)
    argSents.zipWithIndex.foreach { case (i, n) =>
      val seg = doc.sentences(i)
      val low = sentLower(i)
      // argmin over (first position, -cueLen, raw) of the cues in the
      // sentence; one automaton pass finds every cue's first position
      java.util.Arrays.fill(actorCueAt, -1)
      ActorCueScan.scan(low, (pid, start) => if (actorCueAt(pid) < 0) actorCueAt(pid) = start)
      var bestPos = Int.MaxValue
      var bestNegLen = 0
      var bestRaw: String = null
      var pid = 0
      while (pid < actorCueAt.length) {
        val p = actorCueAt(pid)
        if (p >= 0) {
          val nl = -ActorCueScan.phraseLengths(pid)
          val raw = ActorCueRaw(pid)
          if (bestRaw == null || p < bestPos ||
              (p == bestPos && (nl < bestNegLen ||
                (nl == bestNegLen && raw < bestRaw)))) {
            bestPos = p; bestNegLen = nl; bestRaw = raw
          }
        }
        pid += 1
      }
      val actor =
        if (bestRaw != null) graft.kg.rules.Actors.coerceActor(bestRaw)
        else "third_party"
      val scheme = graft.kg.rules.Actors.coerceScheme(
        graft.kg.rules.Actors.inferScheme(low))
      nodes += blankNode(s"a${n + 1}", "argument", seg.text, anchorOf(seg), "high", "rule")
        .copy(actor = actor, claim = seg.text, schemes = Seq(scheme))
    }
    // holdings
    holdingSents.zipWithIndex.foreach { case (i, n) =>
      val seg = doc.sentences(i)
      nodes += blankNode(s"h${n + 1}", "holding", seg.text, anchorOf(seg), "high", "rule")
        .copy(isRatio = true)
    }
    // precedents
    citations.zipWithIndex.foreach { case (c, n) =>
      val a = anchorForSpan(doc, c.startChar, c.endChar)
      nodes += blankNode(s"p${n + 1}", "precedent", c.citation, a, "high", "regex")
        .copy(caseName = c.caseName.orNull, citation = c.citation,
          citationType = c.citationType,
          caseYear = c.caseYear.map(Int.box).orNull)
    }
    // outcome
    outcomeSentOpt.foreach { case (i, disp) =>
      val seg = doc.sentences(i)
      nodes += blankNode("outcome", "outcome", seg.text, anchorOf(seg), "high", "rule")
        .copy(disposition = disp)
    }

    val byType: Map[String, Vector[Node]] = nodes.toVector.groupBy(_.nodeType)
    val facts = byType.getOrElse("fact", Vector.empty)
    val conceptNodes = byType.getOrElse("concept", Vector.empty)
    val issues = byType.getOrElse("issue", Vector.empty)
    val args = byType.getOrElse("argument", Vector.empty)
    var holdings = byType.getOrElse("holding", Vector.empty)
    val precedents = byType.getOrElse("precedent", Vector.empty)
    val outcome = byType.getOrElse("outcome", Vector.empty).headOption

    // ---- Stage 4: auto-fill resolves_issue (extractor.py:4587-4628) ---------
    if (holdings.nonEmpty && issues.nonEmpty) {
      val kwBilingualCache = mutable.Map.empty[String, Set[String]]
      def kwBilingual(n: Node): Set[String] = kwBilingualCache.getOrElseUpdate(n.id,
        // \b\w{4,}\b equivalent via the shared scanner (extractor.py:4601)
        words.words(textAndSurface(n)))
      val issueKw = issues.map(kwBilingual)
      holdings =
        if (issues.size == 1) holdings.map(_.copy(resolvesIssue = issues.head.id))
        else holdings.map { h =>
          resolveIssueArgmax(kwBilingual(h), issueKw) match {
            case Some(i) => h.copy(resolvesIssue = issues(i).id)
            case None => h
          }
        }
    }

    // ---- Stage 5: clustering (extractor.py:1409-1637) -----------------------
    final case class Cluster(
        id: String, label: String, logic: String,
        requires: List[String],
        members: mutable.Map[String, ArrayBuffer[String]] =
          mutable.Map("fact" -> ArrayBuffer.empty[String], "concept" -> ArrayBuffer.empty[String],
            "issue" -> ArrayBuffer.empty[String], "argument" -> ArrayBuffer.empty[String],
            "holding" -> ArrayBuffer.empty[String], "precedent" -> ArrayBuffer.empty[String]))

    // Clusters are materialized LAZILY on first member: pre-seeding every
    // ontology concept allocated ~54 Cluster shells (6 buffers each) per
    // conversation for a handful of live ones. The legacy LinkedHashMap
    // insertion order (sorted ontology cids, then pseudo clusters in
    // creation order) — which downstream tie-breaks depend on — is
    // reconstructed from `concepts` + `pseudoOrder` wherever iteration
    // order matters.
    val clusters = mutable.HashMap.empty[String, Cluster]
    val pseudoOrder = ArrayBuffer.empty[String]
    def clusterOf(cid: String): Cluster = clusters.getOrElseUpdate(cid,
      Cluster(cid, ontology.concepts(cid).label, ontology.concepts(cid).logic,
        ontology.concepts(cid).requires))
    def canonicalClusterIds: Iterator[String] =
      concepts.iterator.map(_._1) ++ pseudoOrder.iterator

    val membership = mutable.Map.empty[String, ArrayBuffer[String]]
    def addMember(clusterId: String, n: Node): Unit = {
      clusterOf(clusterId).members(n.nodeType) += n.id
      membership.getOrElseUpdate(n.id, ArrayBuffer.empty) += clusterId
    }

    // concepts → their ontology cluster (exact by construction)
    val conceptNodeCluster = mutable.Map.empty[String, String]
    for (c <- conceptNodes) {
      val best = Ontology.bestConceptMatch(c.conceptId, c.text, ontology.concepts)
        .getOrElse(c.conceptId)
      if (!ontology.concepts.contains(best) && !clusters.contains(best)) {
        clusters(best) = Cluster(best, c.text, "and", Nil)
        pseudoOrder += best
      }
      conceptNodeCluster(c.id) = best
      addMember(best, c)
    }

    // Pre-process each node's text ONCE (within this call); scoring against
    // all 54 clusters is then O(phrases) substring checks per cluster (the
    // naive per-pair re-normalization was the extraction hot spot).
    final class NodeText(text: String) {
      val mt: MatchText = MatchText.of(text, turkish, words.keywords(text))
      lazy val possible: Array[Boolean] = ontology.candidateConcepts(mt.keywords)
    }
    val nodeTextCache = mutable.HashMap.empty[String, NodeText]
    def textOf(text: String): NodeText = nodeTextCache.getOrElseUpdate(text, new NodeText(text))
    def mtOf(text: String): MatchText = textOf(text).mt

    // candidate list in legacy insertion order (all ontology cids + pseudos
    // created by the concept pass above — later passes never add clusters),
    // with pseudo labels resolved from the live cluster table
    val allCandidates: Array[ClusterCandidate] =
      clusterCandidates(canonicalClusterIds.toList, ontology, cid => clusters(cid).label)

    // score-fallback assignment = the public argmaxCluster (oracle-driven in
    // q70) over the cached node text and the prepared candidates
    def argmaxClusterLocal(text: String, candidates: Array[ClusterCandidate], minScore: Int): Option[String] = {
      val nt = textOf(text)
      argmaxOver(nt.mt, nt.possible, candidates, minScore, turkish)
    }
    // issues: no primary_concepts in v1 → score fallback (min 3)
    for (i <- issues)
      argmaxClusterLocal(i.text, allCandidates, 3).foreach(cid => addMember(cid, i))
    // holdings: via resolves_issue → issue clusters, else score fallback
    for (h <- holdings) {
      val viaIssue = Option(h.resolvesIssue).toList
        .flatMap(iid => membership.getOrElse(iid, ArrayBuffer.empty).toList)
      if (viaIssue.nonEmpty) viaIssue.foreach(cid => clusters(cid).members("holding") += h.id)
      if (viaIssue.nonEmpty) membership.getOrElseUpdate(h.id, ArrayBuffer.empty) ++= viaIssue
      else argmaxClusterLocal(h.text, allCandidates, 3).foreach(cid => addMember(cid, h))
    }
    // facts / arguments: min score 2, only clusters with issues/holdings/concepts
    // (constant during fact/argument/precedent assignment — those additions
    // never seed new clusters — so computed once, not per node)
    val seededClusters: Array[ClusterCandidate] = allCandidates.filter(c =>
      clusters.get(c.cid).exists(cl => cl.members("issue").nonEmpty ||
        cl.members("holding").nonEmpty || cl.members("concept").nonEmpty))
    for (f <- facts)
      argmaxClusterLocal(f.text, seededClusters, 2).foreach(cid => addMember(cid, f))
    for (a <- args)
      argmaxClusterLocal(a.text, seededClusters, 2).foreach(cid => addMember(cid, a))
    // precedents: establishing-case containment first, else score
    for (p <- precedents) {
      val name = Option(p.caseName).getOrElse("").toLowerCase(Locale.ROOT)
      val hits = if (name.nonEmpty)
        concepts.collect { case (cid, cdef)
          if cdef.establishingCasesLower.exists(_.contains(name)) => cid }
      else Nil
      if (hits.nonEmpty) hits.foreach(cid => addMember(cid, p))
      else argmaxClusterLocal(List(Option(p.caseName), Option(p.citation)).flatten.mkString(" "),
        seededClusters, 2).foreach(cid => addMember(cid, p))
    }

    // requirement satisfaction (extractor.py:1600-1629)
    val requirementRows = ArrayBuffer.empty[RequirementRow]
    val factById = facts.map(f => f.id -> f).toMap
    for (cid <- canonicalClusterIds; cl <- clusters.get(cid)
         if cl.requires.nonEmpty && cl.members("fact").nonEmpty) {
      val reqKwSets = ontology.concepts.get(cid).map(_.requiresKeywordSets)
        .getOrElse(Map.empty[String, TokenSet])
      val factCands = cl.members("fact").toList.map { fid =>
        val f = factById(fid)
        (fid, mtOf(f.text).keywords, Normalize.looksNegative(f.text))
      }
      for (req <- cl.requires) {
        val reqKw = reqKwSets.getOrElse(req, Normalize.keywordSet(req))
        requirementRows += RequirementRow(convId, cid, req,
          satisfyRequirement(reqKw, factCands).orNull)
      }
    }

    // prune empty clusters; LinkedHashMap in the legacy insertion order
    // (sorted ontology cids, then pseudos) — JS tie-breaks iterate it
    val liveClusters = mutable.LinkedHashMap.from(
      canonicalClusterIds.flatMap(cid =>
        clusters.get(cid).filter(_.members.values.exists(_.nonEmpty)).map(cid -> _)))

    // ---- Stage 6: edge induction --------------------------------------------
    val rawEdges = ArrayBuffer.empty[EdgeRow]
    def mkEdge(id: String, src: String, tgt: String, rel: String, conf: String,
               strength: String, critical: Boolean, anchor: Anchor,
               explanation: String, method: String): EdgeRow =
      EdgeRow(convId, id, src, tgt, rel, conf, strength, critical,
        Seq.empty, explanation, anchor, method, null)

    // (a) signal-grammar edges
    val holdingBySent: Map[Int, Node] = holdingSents.zip(holdings).toMap
    val factBySent: Map[Int, Node] =
      factSents.zip(facts).toMap
    val conceptNodeByCid: Map[String, Node] = conceptNodes.map(c => c.conceptId -> c).toMap
    val conceptHitsBySent: Map[Int, List[String]] =
      conceptHits.toList.groupBy(_.sentIdx).map { case (k, v) => k -> v.map(_.conceptId).distinct.sorted }

    // precedent treatment: paragraph-level co-occurrence (the sentence
    // splitter fragments on name abbreviations like "A.K.", so the signal and
    // the citation routinely land in different sentence fragments of the same
    // paragraph/turn): nearest holding → precedent, relation from the
    // treatment pattern.
    val sigByPara: Map[Int, List[SignalHit]] =
      signalHits.toList.groupBy(h => doc.sentences(h.sentIdx).paraIndex)
    val precedentsByPara: Map[Int, Vector[Node]] = precedents.groupBy { p =>
      doc.paragraphs.indexWhere(pg =>
        pg.startChar <= p.anchor.startChar && pg.endChar >= p.anchor.startChar)
    }
    for ((pi, hitList) <- sigByPara.toList.sortBy(_._1);
         patName <- hitList.map(_.patternName).distinct.sorted
           if TreatmentPatterns.contains(patName);
         ps <- precedentsByPara.get(pi).toList; p <- ps) {
      if (holdings.nonEmpty && pi >= 0) {
        val paraStart = doc.paragraphs(pi).startChar
        val h = holdings.minBy(h0 => (math.abs(h0.anchor.startChar - paraStart), h0.id))
        val rel = TreatmentPatterns(patName)
        rawEdges += mkEdge(s"e_${h.id}_${rel}_${p.id}", h.id, p.id, rel, "high",
          "strong", critical = false, anchorOf(doc.paragraphs(pi)), null, "rule")
      }
    }
    // fact→concept pattern edges
    for ((i, hitList) <- sigBySent.toList.sortBy(_._1);
         hit <- hitList; relRaw <- FactConceptPatterns.get(hit.patternName).toList;
         f <- factBySent.get(i).toList;
         cid <- conceptHitsBySent.getOrElse(i, Nil);
         c <- conceptNodeByCid.get(cid).toList) {
      val conf = ontology.patterns.get(hit.patternName).flatMap(_.confidence).getOrElse("medium")
      rawEdges += mkEdge(s"e_${f.id}_${relRaw}_${c.id}", f.id, c.id, relRaw, conf,
        "moderate", critical = false, anchorOf(doc.sentences(i)), null, "rule")
    }

    // anchor of the first node with each id
    val firstAnchor = mutable.HashMap.empty[String, Anchor]
    nodes.foreach(n => if (!firstAnchor.contains(n.id)) firstAnchor(n.id) = n.anchor)
    // (b) gated intra-cluster support edges (replaces LLM pass 8; gate per
    //     extractor.py:4756-4763: ≥2 nodes and (holding or issue or ≥2 args))
    for ((cid, cl) <- liveClusters.toList.sortBy(_._1)) {
      val plan = clusterEdgePlan(cl.members(_))
      if (plan.nonEmpty) {
        val tag = Normalize.sha1Hex8(cid)
        var n = 0
        for ((src, tgt, rel) <- plan) {
          n += 1
          val srcAnchor = firstAnchor.get(src).orNull
          rawEdges += mkEdge(s"e_${tag}_$n", src, tgt, rel, "medium", "moderate",
            critical = false, srcAnchor, null, "rule")
        }
      }
    }

    // (c) structural edges (extractor.py:4119-4191)
    for (h <- holdings; iid <- Option(h.resolvesIssue)) {
      rawEdges += mkEdge(s"e_${h.id}_resolves_$iid", h.id, iid, "resolves",
        if (h.anchor != null) "high" else "inferred", "strong", critical = false,
        h.anchor, if (h.anchor != null) null else "Inferred from holding.resolves_issue field",
        "rule")
    }
    outcome.foreach { o =>
      val outcomeKw = words.keywords(textAndSurface(o))
      val ratioHoldings = holdings.filter(_.isRatio)
      if (ratioHoldings.nonEmpty) {
        val scored = ratioHoldings.map(h =>
          (words.keywords(h.text).overlap(outcomeKw, Int.MaxValue), h))
        // relation per holding incl. the all-zero latest-by-anchor fallback
        // (extractor.py:4160-4168) — shared with the oracle harness; a
        // missing anchor sorts as -1 (extractor.py:4164 `a.start_char if a
        // else -1`), not NPE
        val rels = outcomeLinkPlan(scored.map { case (ov, h) =>
          (ov, Option(h.anchor).map(_.startChar).getOrElse(-1), h.id) })
        for (((_, h), rel) <- scored.zip(rels)) {
          val (critical, strength) =
            if (rel == "determines") (true, "strong") else (false, "moderate")
          val anch = Option(o.anchor).getOrElse(h.anchor)
          rawEdges += mkEdge(s"e_${h.id}_${rel}_outcome", h.id, "outcome", rel,
            if (anch != null) "high" else "inferred", strength, critical, anch,
            if (anch != null) null else "Inferred outcome linkage", "rule")
        }
      }
    }

    // normalize → validate → repair → drop (extractor.py:3676-3695 semantics)
    val repairedEdges = rawEdges.flatMap { e =>
      val rel = Relations.normalize(e.relation)
      val (ok, _) = Relations.validate(e.source, e.target, rel)
      if (ok) Some(e.copy(relation = rel))
      else Relations.repair(e.source, e.target, rel) match {
        case Some((s2, t2, r2, note)) =>
          warnings += s"edge ${e.id} repaired: $note"
          // repaired edges get downgraded confidence (extractor.py:3800-3819)
          Some(e.copy(source = s2, target = t2, relation = r2,
            confidence = if (e.confidence == "high") "medium" else e.confidence,
            repairNote = note))
        case None =>
          warnings += s"edge ${e.id} dropped: no matrix entry for ${Relations.nodeTypeFromId(e.source)}->${Relations.nodeTypeFromId(e.target)}"
          None
      }
    }

    // dedupe by (source, target, relation), keep best confidence, stable sort
    val dedupedPreRepair: Vector[EdgeRow] = dedupeEdges(repairedEdges)

    // orphan repair runs BEFORE justification sets so repaired support edges
    // feed JS/chain construction (the reference applies it post-hoc;
    // repair_orphans.py:411-641 — same scoring, earlier placement)
    val allNodesPreJs = (facts ++ conceptNodes ++ issues ++ args ++ holdings ++
      precedents ++ outcome.toVector)
    val deduped: Vector[EdgeRow] =
      if (repairOrphans) {
        val (rep, repWarnings) = OrphanRepair.repair(allNodesPreJs, dedupedPreRepair, words = words)
        warnings ++= repWarnings
        rep
      } else dedupedPreRepair

    // ---- Stage 7: justification sets (extractor.py:4194-4276) ---------------
    // liveClusters preserves creation order (LinkedHashMap), so the
    // cids-per-holding lists carry the reference's tie-break order
    val holdingClusterIds: Map[String, List[String]] =
      liveClusters.toList.flatMap { case (cid, cl) => cl.members("holding").map(_ -> cid) }
        .groupBy(_._1).map { case (h, l) => h -> l.map(_._2) }
    val clusterPickInfo: String => GraphAssembly.ClusterPick = cid => {
      val cl = liveClusters(cid)
      GraphAssembly.ClusterPick(cl.requires.nonEmpty,
        cl.members("fact").size + cl.members("concept").size + cl.members("precedent").size,
        cl.logic, cl.label)
    }
    val (jsRows, supportGroupsByEdge) = GraphAssembly.buildJustificationSets(
      convId, holdings.map(_.id), deduped, holdingClusterIds, clusterPickInfo)
    val finalEdges = deduped.map(e =>
      supportGroupsByEdge.get(e.id) match {
        case Some(groups) => e.copy(supportGroupIds = groups)
        case None => e
      })

    // ---- Stage 8: reasoning chains (extractor.py:4290-4369) -----------------
    val primaryJsFor: Map[String, String] =
      jsRows.filter(_.isPrimary).map(j => j.targetId -> j.id).toMap
    val nodeTypeById: Map[String, String] = nodes.map(n => n.id -> n.nodeType).toMap
    val chains = GraphAssembly.buildChains(
      convId, issues.map(_.id),
      holdings.map(h => (h.id, h.resolvesIssue)),
      finalEdges, primaryJsFor, nodeTypeById)

    // ---- Stage 9: validation + tier (extractor.py:4822-4862) ----------------
    // full graph.validate (schema_v2_1.py:622-704): endpoints, support-group
    // target match, confidence/anchor coherence, JS membership, duplicate
    // ids, anchor offset sanity, outcome DETERMINES requirement
    warnings ++= GraphAssembly.validateGraph(allNodesPreJs, finalEdges, jsRows)

    val tier = GraphAssembly.computeTier(
      warnings.toSeq, holdings.nonEmpty, outcome.nonEmpty, chains.nonEmpty)

    // stamp provenance (schema_v2_1.py:233-257): method + engine id; no
    // timestamps (determinism — the reference's canonicalizer nulls them too)
    def prov(method: String): Provenance =
      Provenance(method, null, "graft_rule_engine_v1", null, null, null)
    val allNodes = allNodesPreJs.map(n => n.copy(provenance = prov(n.method)))
    val stampedEdges = finalEdges.map(e => e.copy(provenance = prov(e.method)))
    val summary = ConvSummary(convId, docId, fullText.length, turns.size,
      doc.paragraphs.size, doc.sentences.size,
      facts.size, conceptNodes.size, issues.size, args.size, holdings.size,
      precedents.size, outcome.size, finalEdges.size, jsRows.size, chains.size,
      warnings.size, tier)

    ConvGraph(summary, allNodes, stampedEdges, jsRows.toVector, chains.toVector,
      liveClusters.toList.sortBy(_._1).flatMap { case (cid, cl) =>
        cl.members.toList.sortBy(_._1).flatMap { case (ntype, ids) =>
          ids.map(nid => ClusterMemberRow(convId, cid, cl.label, cl.logic, nid, ntype))
        }
      }.toVector,
      requirementRows.toVector, warnings.toVector)
  }
}
