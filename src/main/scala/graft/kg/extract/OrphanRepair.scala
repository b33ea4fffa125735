package graft.kg.extract

import graft.kg.model.{EdgeRow, Node}
import graft.kg.rules.Relations
import graft.kg.text.Normalize
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
  val RepairStops: Set[String] = Set(
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
    "whose", "will", "with", "without", "would", "writ", "yes", "you")

  /** keyword_set (repair_orphans.py:157-160): ASCII tokens ≥ 4 chars minus
    * the repair stop list. */
  def repairKeywords(text: String): Set[String] =
    Normalize.asciiKeywordSet(text, 4, RepairStops)

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
    case "concept" =>
      List(Option(n.conceptId), Option(n.text)).flatten.mkString(" ")
    case "precedent" =>
      List(Option(n.citation), Option(n.text), Option(n.caseName)).flatten.mkString(" ")
    case _ => Option(n.text).getOrElse("")
  }

  private def anchorMid(n: Node): Option[Int] =
    Option(n.anchor).flatMap(a =>
      if (a.endChar > a.startChar && a.startChar >= 0)
        Some((a.startChar + a.endChar) / 2)
      else None)

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
      minScore: Double): Option[(Double, String, String, String)] = {
    val pair = (orphan.nodeType, cand.nodeType)
    val rev = (cand.nodeType, orphan.nodeType)
    if (Relations.Matrix.contains(pair))
      scorePair(orphan, cand, orphanKw, candKw, claimKw, connected, minScore,
        forward = true, DefaultRelations.getOrElse(pair,
          Relations.Matrix(pair).toList.sorted.head))
    else if (Relations.Matrix.contains(rev))
      scorePair(orphan, cand, orphanKw, candKw, claimKw, connected, minScore,
        forward = false, DefaultRelations.getOrElse(rev,
          Relations.Matrix(rev).toList.sorted.head))
    else None
  }

  /** Scoring body of [[candidateEdge]] with the direction/relation already
    * resolved — `repair()` resolves direction once per (orphan, candidate
    * TYPE) instead of per pair (two matrix lookups + tuple allocations per
    * pair were measurable in the O(orphans × candidates) loop). Bonus
    * accumulation order is IDENTICAL to the reference. */
  private def scorePair(
      orphan: Node, cand: Node,
      orphanKw: Set[String], candKw: Set[String],
      claimKw: () => Set[String],
      connected: Boolean,
      minScore: Double,
      forward: Boolean, rel: String): Option[(Double, String, String, String)] = {
    val src = if (forward) orphan.id else cand.id
    val tgt = if (forward) cand.id else orphan.id
    val overlap = Normalize.overlap(orphanKw, candKw)
    if (overlap == 0) None
    else {
      var score = overlap.toDouble
      for (om <- anchorMid(orphan); cm <- anchorMid(cand)) {
        val d = math.abs(om - cm)
        if (d < 300) score += 2.0
        else if (d < 800) score += 1.0
        else if (d < 2000) score += 0.5
      }
      if (orphan.nodeType == "argument" && cand.nodeType == "issue" &&
        Normalize.overlap(claimKw(), candKw) >= 3) score += 1.5
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

  /** Returns (repaired edges, warnings). Input edges are assumed deduped. */
  def repair(
      nodes: Vector[Node],
      edges: Vector[EdgeRow],
      minScore: Double = 2.0,
      maxEdgesPerOrphan: Int = 2,
      runnerUpThreshold: Double = 3.5): (Vector[EdgeRow], Vector[String]) = {

    val convId = nodes.headOption.map(_.convId).getOrElse("")
    val eligible = nodes.filter(n => n.nodeType != "outcome")
    val connected = mutable.Set.empty[String]
    edges.foreach { e => connected += e.source; connected += e.target }
    // orphans as indices into the eligible array (same member set and id
    // order as the previous node-valued list)
    val eligibleArr = eligible.toArray
    val orphanIdxs = eligibleArr.indices
      .filter { i =>
        val n = eligibleArr(i)
        !connected.contains(n.id) && nodeText(n).trim.length >= 10 &&
          !isLegitimateOrphan(n)
      }
      .sortBy(eligibleArr(_).id)
    if (orphanIdxs.isEmpty) return (edges, Vector.empty)

    // keyword sets cached by ELIGIBLE INDEX (lazy): the previous id-keyed
    // map hashed the node-id string twice per candidate pair
    val kwArr = new Array[Set[String]](eligibleArr.length)
    def kwAt(i: Int): Set[String] = {
      var s = kwArr(i)
      if (s == null) { s = repairKeywords(nodeText(eligibleArr(i))); kwArr(i) = s }
      s
    }

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
      val priorities = TargetPriorities.getOrElse(orphan.nodeType, Nil)
      // direction + default relation depend only on the TYPE pair: resolve
      // once per (orphan, priority type) — parallel arrays double as the
      // priorities.contains membership test (≤ 4 entries, linear scan)
      val prioTypes = priorities.toArray
      val prioFwd = new Array[Boolean](prioTypes.length)
      val prioRel = new Array[String](prioTypes.length) // null = no valid direction
      var pi = 0
      while (pi < prioTypes.length) {
        val t = prioTypes(pi)
        val pair = (orphan.nodeType, t)
        val rev = (t, orphan.nodeType)
        if (Relations.Matrix.contains(pair)) {
          prioFwd(pi) = true
          prioRel(pi) = DefaultRelations.getOrElse(pair,
            Relations.Matrix(pair).toList.sorted.head)
        } else if (Relations.Matrix.contains(rev)) {
          prioFwd(pi) = false
          prioRel(pi) = DefaultRelations.getOrElse(rev,
            Relations.Matrix(rev).toList.sorted.head)
        }
        pi += 1
      }
      val orphanKw = kwAt(oi)
      // claim keywords are per-ORPHAN, not per-pair — computed once here
      lazy val claimKw: Set[String] = {
        val claimText = if (orphan.claim != null) orphan.claim else orphan.text
        repairKeywords(claimText)
      }
      // (score, relation, src, tgt) in candidate-node order — the sort below
      // is stable, so equal scores keep this order (reference list.sort)
      val candidates = ArrayBuffer.empty[(Double, String, String, String)]
      var cj = 0
      while (cj < eligibleArr.length) {
        val cand = eligibleArr(cj)
        var ti = -1
        var x = 0
        while (x < prioTypes.length && ti < 0) {
          if (prioTypes(x) == cand.nodeType) ti = x
          x += 1
        }
        if (ti >= 0 && cand.id != orphan.id && prioRel(ti) != null)
          scorePair(orphan, cand, orphanKw, kwAt(cj), () => claimKw,
            connected.contains(cand.id), minScore, prioFwd(ti), prioRel(ti))
            .foreach(candidates += _)
        cj += 1
      }
      val sorted = candidates.sortBy(-_._1) // stable: ties keep node order
      var added = 0
      var stop = false
      for ((score, rel, src, tgt) <- sorted if !stop) {
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
              explanation = "Orphan repair: score=" +
                "%.1f".formatLocal(java.util.Locale.ROOT, score) + ", " +
                s"${Relations.nodeTypeFromId(src)}->${Relations.nodeTypeFromId(tgt)}",
              anchor = null,
              method = "inference",
              repairNote = null)
            existingSigs += sig
            existingIds += id
            connectedPairs += pairKey
            connected += src
            connected += tgt
            added += 1
          }
        }
      }
      if (added > 0) warnings += s"orphan ${orphan.id} repaired with $added edge(s)"
    }

    ((edges ++ newEdges).sortBy(e => (e.source, e.target, e.relation, e.id)),
      warnings.toVector)
  }

  /** Only the repair-added edges, in creation order — the comparable unit of
    * the reference script's output (its `new_edges` list). */
  def repairAddedEdges(nodes: Vector[Node], edges: Vector[EdgeRow]): Vector[EdgeRow] =
    repair(nodes, edges)._1.filter(_.id.startsWith("e_repair_"))
      .sortBy(e => e.id.stripPrefix("e_repair_").toInt)
}
