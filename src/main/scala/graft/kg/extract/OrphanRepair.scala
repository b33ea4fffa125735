package graft.kg.extract

import graft.kg.model.{EdgeRow, Node}
import graft.kg.rules.Relations
import graft.kg.text.{Normalize, TokenSet}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Orphan repair: connect nodes that ended up with no edges via
  * keyword-overlap + anchor-proximity scored candidate edges.
  *
  * Faithful re-expression of the reference repair engine
  * (repair_orphans.py:324-641), validated edge-for-edge against fixtures
  * generated by that script over the reference's published graph corpus
  * (ReferenceParitySpec):
  *
  *  - its own ASCII tokenizer + 248-word stop list (repair_orphans.py:96-160,
  *    wider than the extractor's stop list),
  *  - per-type composite node text (repair_orphans.py:214-239),
  *  - per-type target priorities and default relations, direction chosen by
  *    matrix membership (repair_orphans.py:36-91),
  *  - keyword-overlap base score gated at `minScore` BEFORE the
  *    connected-candidate bonus (+0.5) is added (repair_orphans.py:526-543),
  *  - proximity bonuses (<300:+2, <800:+1, <2000:+0.5) and type bonuses:
  *    argument→issue claim overlap ≥3 (+1.5), fact→holding accepted finding
  *    (+1.0), precedent with substantive treatment (+1.0), concept→holding
  *    with resolves_issue (+0.5),
  *  - candidates kept in node order and sorted stably by score (ties keep
  *    node order, matching Python's stable list.sort),
  *  - ≤2 edges per orphan (runner-up needs ≥3.5), no duplicate signatures,
  *    no bidirectional pairs, and a connected set that grows as edges are
  *    added (earlier repairs feed later orphans' +0.5 bonus),
  *  - `e_repair_{n}` ids, confidence=inferred, weak/moderate strength from
  *    the final score.
  *
  * Legitimate orphans (rejected/undecided facts, background facts,
  * rejected/unaddressed arguments, mentioned/obiter concepts, merely cited
  * precedents — repair_orphans.py:256-291) are left alone.
  */
object OrphanRepair {

  private val DefaultRelations: Map[(String, String), String] = Map(
    ("fact", "argument") -> "supports", ("fact", "holding") -> "supports",
    ("fact", "issue") -> "triggers", ("fact", "concept") -> "triggers",
    ("concept", "issue") -> "addresses", ("concept", "holding") -> "grounds",
    ("concept", "argument") -> "supports", ("concept", "concept") -> "requires",
    ("argument", "issue") -> "addresses", ("argument", "holding") -> "supports",
    ("argument", "argument") -> "responds_to", ("argument", "concept") -> "supports",
    ("precedent", "argument") -> "supports", ("precedent", "holding") -> "supports",
    ("precedent", "concept") -> "supports", ("precedent", "issue") -> "supports",
    ("holding", "issue") -> "addresses", ("holding", "holding") -> "supports",
    ("holding", "concept") -> "grounds", ("holding", "precedent") -> "follows",
    ("issue", "issue") -> "specializes", ("issue", "concept") -> "requires",
    ("issue", "holding") -> "addresses", ("issue", "argument") -> "addresses",
    ("issue", "precedent") -> "addresses")

  private val TargetPriorities: Map[String, List[String]] = Map(
    "fact" -> List("argument", "holding", "issue", "concept"),
    "concept" -> List("issue", "holding", "argument", "concept"),
    "argument" -> List("issue", "holding", "argument", "concept"),
    "precedent" -> List("argument", "holding", "concept", "issue"),
    "issue" -> List("holding", "concept", "argument", "issue", "precedent"),
    "holding" -> List("issue", "holding", "concept", "precedent"))

  /** The repair engine's own stop list — base stopwords + legal/ECHR noise
    * (repair_orphans.py:96-160, ALL_STOPS, ported verbatim). */
  val RepairStops: Set[String] = TokenSet.from(Seq(
    "a", "about", "above", "accordance", "accordingly", "accused", "act", "admissibility",
    "admissible", "after", "against", "all", "allegation", "alleged", "alleging", "also",
    "an", "and", "ankara", "any", "appeal", "appellant", "applicant", "applicants",
    "application", "appreciation", "are", "argued", "article", "as", "asserted", "asserts",
    "at", "authorities", "authority", "award", "be", "been", "before", "being",
    "bench", "between", "both", "but", "by", "can", "case", "chamber",
    "civil", "claimed", "claims", "commission", "committee", "compensation", "complainant", "complaint",
    "complaints", "concluded", "concludes", "considered", "considering", "considers", "contended", "contends",
    "contested", "contracting", "convention", "costs", "could", "council", "counsel", "court",
    "criminal", "damage", "damages", "declared", "declares", "decree", "defence", "democratic",
    "division", "domestic", "during", "each", "europe", "european", "euros", "every",
    "exhaustion", "expenses", "finding", "for", "found", "freedom", "freedoms", "from",
    "furthermore", "government", "grand", "had", "has", "have", "he", "held",
    "her", "herein", "high", "his", "holds", "however", "ill-founded", "impugned",
    "in", "inadmissible", "interference", "into", "is", "istanbul", "it", "its",
    "judgment", "judgments", "justification", "justified", "learned", "legitimate", "lower", "maintained",
    "maintains", "manifestly", "margin", "matter", "may", "measure", "measures", "more",
    "moreover", "must", "national", "necessary", "nevertheless", "no", "non-pecuniary", "not",
    "noted", "observations", "observed", "of", "on", "opinion", "or", "order",
    "other", "our", "over", "particular", "parties", "party", "pecuniary", "petition",
    "petitioner", "point", "prescribed", "present", "procedural", "procedure", "proceedings", "proportionality",
    "proportionate", "prosecution", "protection", "protocol", "protocols", "provision", "question", "reasonable",
    "reference", "regard", "reiterated", "reiterates", "remedies", "remedy", "respect", "respondent",
    "revision", "right", "rights", "rule", "said", "same", "satisfaction", "satisfied",
    "section", "shall", "she", "should", "society", "some", "state", "stated",
    "states", "strasbourg", "submissions", "submit", "submitted", "such", "supreme", "than",
    "that", "the", "their", "them", "therefore", "thereof", "these", "they",
    "this", "those", "through", "to", "trial", "tribunal", "turkey", "turkish",
    "unanimously", "under", "unreasonable", "upon", "view", "violated", "violating", "violation",
    "was", "we", "were", "whereas", "wherein", "whether", "which", "whom",
    "whose", "will", "with", "without", "would", "writ", "yes", "you"))

  /** keyword_set (repair_orphans.py:157-160): ASCII tokens ≥ 4 chars minus
    * the repair stop list. */
  def repairKeywords(text: String): TokenSet =
    Normalize.asciiKeywordSet(text, 4, RepairStops)

  /** [[repairKeywords]] of `text`, from the words of `words` when the text
    * is pure ASCII (there the repair tokenizer and the word scanner read the
    * same tokens). */
  private def repairKeywords(text: String, words: Normalize.TextWords): TokenSet =
    if (text != null && Normalize.isAscii(text)) words.words(text).without(RepairStops)
    else repairKeywords(text)

  /** Field-level legitimate-orphan predicate (is_legitimate_orphan,
    * repair_orphans.py:242-262) — public so the oracle harness can drive it
    * on planted field combinations. */
  def legitimateOrphan(
      nodeType: String, courtFinding: String, factType: String,
      courtResponse: String, relevance: String, treatment: String): Boolean = nodeType match {
    case "fact" =>
      courtFinding == "rejected" || courtFinding == "not_decided" ||
        factType == "background"
    case "argument" =>
      courtResponse == "rejected" || courtResponse == "not_addressed"
    case "concept" => relevance == "mentioned" || relevance == "obiter"
    case "precedent" => treatment == "cited"
    case _ => false
  }

  private def isLegitimateOrphan(n: Node): Boolean =
    legitimateOrphan(n.nodeType, n.courtFinding, n.factType,
      n.courtResponse, n.relevance, n.treatment)

  /** Per-type composite matching text (get_node_text,
    * repair_orphans.py:214-239). The loader/extractor stores the remaining
    * composite parts in `text`; the typed fields re-attach here. */
  private def nodeText(n: Node): String = n.nodeType match {
    case "concept" => joinPresent(n.conceptId, n.text, null)
    case "precedent" => joinPresent(n.citation, n.text, n.caseName)
    case _ => Option(n.text).getOrElse("")
  }

  /** The non-null parts joined by single spaces. */
  private def joinPresent(a: String, b: String, c: String): String = {
    val sb = new java.lang.StringBuilder
    var first = true
    def add(p: String): Unit = if (p != null) {
      if (!first) sb.append(' ')
      sb.append(p)
      first = false
    }
    add(a); add(b); add(c)
    sb.toString
  }

  /** Anchor midpoint, or -1 without a usable anchor. */
  private def anchorMid(n: Node): Int = {
    val a = n.anchor
    if (a != null && a.endChar > a.startChar && a.startChar >= 0) (a.startChar + a.endChar) / 2
    else -1
  }

  /** The score in the explanation's one-decimal form, `"%.1f"` under
    * `Locale.ROOT` written out: every score is a positive overlap count
    * plus multiples of 0.5, so its tenths are exact and nothing rounds. */
  private[extract] def oneDecimal(score: Double): String = {
    val tenths = Math.round(score * 10)
    s"${tenths / 10}.${tenths % 10}"
  }

  /** Per-pair candidate scoring + direction choice (repair_orphans.py:36-91,
    * 454-543): direction from relation-matrix membership (forward pair wins,
    * else reversed), default relation per type pair, keyword-overlap base
    * score (None when 0), proximity and type-specific bonuses, the
    * `minScore` gate applied BEFORE the +0.5 connected-candidate bonus.
    * Returns (score, relation, source id, target id). `repair()` calls this
    * for every (orphan, candidate) pair; public so the oracle harness can
    * drive the REAL scoring path on planted nodes (q73). `claimKw` is a
    * thunk because the claim keyword set is only needed in the
    * argument→issue arm (and is per-orphan, cached by the caller). */
  def candidateEdge(
      orphan: Node, cand: Node,
      orphanKw: Set[String], candKw: Set[String],
      claimKw: () => Set[String],
      connected: Boolean,
      minScore: Double): Option[(Double, String, String, String)] =
    direction(orphan.nodeType, cand.nodeType).flatMap { case (forward, rel) =>
      scorePair(orphan, cand, anchorMid(orphan), anchorMid(cand),
        TokenSet.of(orphanKw), TokenSet.of(candKw), () => TokenSet.of(claimKw()),
        connected, minScore, forward, rel)
    }

  private final class TargetDirection(val forward: Boolean, val relation: String)

  /** Node types as small ints: the index into the arrays below (the last
    * code is every other type). */
  private val TypeCodes = Vector("fact", "concept", "issue", "argument", "holding", "precedent")
  private def typeCode(nodeType: String): Int = {
    val c = TypeCodes.indexOf(nodeType)
    if (c >= 0) c else TypeCodes.length
  }

  /** Per orphan type, per candidate type code: the direction and default
    * relation when the candidate type is one of the orphan type's targets
    * and has a direction, else null. */
  private val TargetDirections: Map[String, Array[TargetDirection]] =
    TargetPriorities.map { case (orphanType, targets) =>
      orphanType -> Array.tabulate(TypeCodes.length + 1) { code =>
        if (code < TypeCodes.length && targets.contains(TypeCodes(code)))
          direction(orphanType, TypeCodes(code)).map { case (fwd, rel) =>
            new TargetDirection(fwd, rel)
          }.orNull
        else null
      }
    }
  private val NoTargets = new Array[TargetDirection](TypeCodes.length + 1)

  /** (forward, default relation) for an orphan of `orphanType` and a
    * candidate of `candType`: the forward pair when the matrix has it, else
    * the reversed pair, else None. */
  private def direction(orphanType: String, candType: String): Option[(Boolean, String)] = {
    val pair = (orphanType, candType)
    val rev = (candType, orphanType)
    if (Relations.Matrix.contains(pair))
      Some((true, DefaultRelations.getOrElse(pair, Relations.Matrix(pair).toList.sorted.head)))
    else if (Relations.Matrix.contains(rev))
      Some((false, DefaultRelations.getOrElse(rev, Relations.Matrix(rev).toList.sorted.head)))
    else None
  }

  /** Scoring body of [[candidateEdge]] with the direction/relation already
    * resolved — `repair()` resolves direction once per (orphan, candidate
    * TYPE) instead of per pair (two matrix lookups + tuple allocations per
    * pair were measurable in the O(orphans × candidates) loop). Bonus
    * accumulation order is IDENTICAL to the reference. */
  private def scorePair(
      orphan: Node, cand: Node,
      orphanMid: Int, candMid: Int,
      orphanKw: TokenSet, candKw: TokenSet,
      claimKw: () => TokenSet,
      connected: Boolean,
      minScore: Double,
      forward: Boolean, rel: String): Option[(Double, String, String, String)] = {
    val src = if (forward) orphan.id else cand.id
    val tgt = if (forward) cand.id else orphan.id
    val overlap = orphanKw.overlap(candKw, Int.MaxValue)
    if (overlap == 0) None
    else {
      var score = overlap.toDouble
      if (orphanMid >= 0 && candMid >= 0) {
        val d = math.abs(orphanMid - candMid)
        if (d < 300) score += 2.0
        else if (d < 800) score += 1.0
        else if (d < 2000) score += 0.5
      }
      if (orphan.nodeType == "argument" && cand.nodeType == "issue" &&
        claimKw().overlap(candKw, 3) >= 3) score += 1.5
      if (orphan.nodeType == "fact" && cand.nodeType == "holding" &&
        orphan.courtFinding == "accepted") score += 1.0
      if (orphan.nodeType == "precedent" &&
        (orphan.treatment == "followed" || orphan.treatment == "applied" ||
          orphan.treatment == "distinguished")) score += 1.0
      if (orphan.nodeType == "concept" && cand.nodeType == "holding" &&
        cand.resolvesIssue != null && cand.resolvesIssue.nonEmpty) score += 0.5
      // min-score gate applies BEFORE the connected bonus
      // (repair_orphans.py:526-543)
      if (score < minScore) None
      else Some((if (connected) score + 0.5 else score, rel, src, tgt))
    }
  }

  /** Convenience overload computing keyword sets from the nodes' composite
    * text — the oracle-harness entry point. */
  def candidateEdge(orphan: Node, cand: Node, connected: Boolean,
      minScore: Double): Option[(Double, String, String, String)] =
    candidateEdge(orphan, cand,
      repairKeywords(nodeText(orphan)), repairKeywords(nodeText(cand)),
      () => repairKeywords(
        if (orphan.claim != null) orphan.claim else orphan.text),
      connected, minScore)

  /** `candidates` stably sorted by descending score (ties keep their
    * order, as Python's list.sort): an insertion sort, since an orphan has
    * tens of candidates, that compares the scores unboxed once each. */
  private def byScoreDescending(
      candidates: ArrayBuffer[(Double, String, String, String)]): Array[(Double, String, String, String)] = {
    val out = candidates.toArray
    val scores = out.map(_._1)
    var i = 1
    while (i < out.length) {
      val c = out(i)
      val s = scores(i)
      var j = i - 1
      while (j >= 0 && scores(j) < s) { out(j + 1) = out(j); scores(j + 1) = scores(j); j -= 1 }
      out(j + 1) = c
      scores(j + 1) = s
      i += 1
    }
    out
  }

  /** Returns (repaired edges, warnings). Input edges are assumed deduped.
    * `words` may carry the caller's scans of the node texts. */
  def repair(
      nodes: Vector[Node],
      edges: Vector[EdgeRow],
      minScore: Double = 2.0,
      maxEdgesPerOrphan: Int = 2,
      runnerUpThreshold: Double = 3.5,
      words: Normalize.TextWords = new Normalize.TextWords): (Vector[EdgeRow], Vector[String]) = {

    val convId = nodes.headOption.map(_.convId).getOrElse("")
    val eligible = nodes.filter(n => n.nodeType != "outcome")
    val connected = mutable.Set.empty[String]
    edges.foreach { e => connected += e.source; connected += e.target }
    // orphans as indices into the eligible array (same member set and id
    // order as the previous node-valued list)
    val eligibleArr = eligible.toArray
    val texts = eligibleArr.map(nodeText)
    val orphanIdxs = eligibleArr.indices
      .filter { i =>
        val n = eligibleArr(i)
        !connected.contains(n.id) && texts(i).trim.length >= 10 &&
          !isLegitimateOrphan(n)
      }
      .sortBy(eligibleArr(_).id)
    if (orphanIdxs.isEmpty) return (edges, Vector.empty)

    // per eligible index: keyword set (lazy), anchor midpoint, and whether
    // the node has an edge (repairs connect more as they are added)
    val kwArr = new Array[TokenSet](eligibleArr.length)
    def kwAt(i: Int): TokenSet = {
      var s = kwArr(i)
      if (s == null) { s = repairKeywords(texts(i), words); kwArr(i) = s }
      s
    }
    val mids = eligibleArr.map(anchorMid)
    val typeCodes = eligibleArr.map(n => typeCode(n.nodeType))
    val isConnected = eligibleArr.map(n => connected.contains(n.id))
    def markConnected(id: String): Unit =
      eligibleArr.indices.foreach(i => if (eligibleArr(i).id == id) isConnected(i) = true)

    val existingSigs = mutable.Set.empty[(String, String, String)]
    val connectedPairs = mutable.Set.empty[Set[String]]
    val existingIds = mutable.Set.empty[String]
    edges.foreach { e =>
      existingSigs += ((e.source, e.target, e.relation))
      connectedPairs += Set(e.source, e.target)
      existingIds += e.id
    }

    val newEdges = ArrayBuffer.empty[EdgeRow]
    val warnings = ArrayBuffer.empty[String]
    var counter = 0

    for (oi <- orphanIdxs) {
      val orphan = eligibleArr(oi)
      val targets = TargetDirections.getOrElse(orphan.nodeType, NoTargets)
      val orphanKw = kwAt(oi)
      // claim keywords are per-ORPHAN, not per-pair — computed once here
      lazy val claimKw: TokenSet =
        repairKeywords(if (orphan.claim != null) orphan.claim else orphan.text, words)
      // (score, relation, src, tgt) in candidate-node order — the sort below
      // is stable, so equal scores keep this order (reference list.sort)
      val candidates = ArrayBuffer.empty[(Double, String, String, String)]
      val claimOf = () => claimKw
      var cj = 0
      while (cj < eligibleArr.length) {
        val cand = eligibleArr(cj)
        val t = targets(typeCodes(cj))
        if (t != null && cand.id != orphan.id)
          scorePair(orphan, cand, mids(oi), mids(cj), orphanKw, kwAt(cj), claimOf,
            isConnected(cj), minScore, t.forward, t.relation)
            .foreach(candidates += _)
        cj += 1
      }
      var added = 0
      var stop = false
      for ((score, rel, src, tgt) <- byScoreDescending(candidates) if !stop) {
        if (added >= maxEdgesPerOrphan || (added >= 1 && score < runnerUpThreshold))
          stop = true
        else {
          val sig = (src, tgt, rel)
          val pairKey = Set(src, tgt)
          if (!existingSigs.contains(sig) && !connectedPairs.contains(pairKey)) {
            counter += 1
            var id = s"e_repair_$counter"
            while (existingIds.contains(id)) { counter += 1; id = s"e_repair_$counter" }
            newEdges += EdgeRow(
              convId, id, src, tgt, rel,
              confidence = "inferred",
              strength = if (score < 4.0) "weak" else "moderate",
              isCritical = false,
              supportGroupIds = Seq.empty,
              // Locale.ROOT: the decimal point must not follow the default locale
              explanation = "Orphan repair: score=" + oneDecimal(score) + ", " +
                s"${Relations.nodeTypeFromId(src)}->${Relations.nodeTypeFromId(tgt)}",
              anchor = null,
              method = "inference",
              repairNote = null)
            existingSigs += sig
            existingIds += id
            connectedPairs += pairKey
            markConnected(src)
            markConnected(tgt)
            added += 1
          }
        }
      }
      if (added > 0) warnings += s"orphan ${orphan.id} repaired with $added edge(s)"
    }

    ((edges ++ newEdges).sorted(DocExtractor.EdgeOrder), warnings.toVector)
  }

  /** Only the repair-added edges, in creation order — the comparable unit of
    * the reference script's output (its `new_edges` list). */
  def repairAddedEdges(nodes: Vector[Node], edges: Vector[EdgeRow]): Vector[EdgeRow] =
    repair(nodes, edges)._1.filter(_.id.startsWith("e_repair_"))
      .sortBy(e => e.id.stripPrefix("e_repair_").toInt)
}
