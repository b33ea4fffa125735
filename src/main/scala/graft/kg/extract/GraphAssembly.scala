package graft.kg.extract

import graft.kg.model.{ChainRow, EdgeRow, JustificationSetRow}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Deterministic graph-assembly layers shared by the rule extractor and the
  * reference-parity replay: justification-set construction, reasoning-chain
  * synthesis and quality-tier grading. Each is a pure function of
  * (nodes, edges, cluster state) — validated against the reference's
  * published per-case graphs in ReferenceParitySpec.
  */
object GraphAssembly {

  /** What the JS builder needs to know about one cluster
    * (extractor.py:4203-4214). `sizeFcp` counts facts+concepts+precedents
    * memberships INCLUDING duplicates, as the reference's len() does. */
  final case class ClusterPick(hasRequires: Boolean, sizeFcp: Int,
                               logic: String, label: String)

  /** Best cluster for a holding: maximize (has-requires, member count); ties
    * keep the FIRST candidate in cluster-creation order — Python's max()
    * keeps the first of equal keys (extractor.py:4207-4214). */
  def pickCluster(cids: List[String], info: String => ClusterPick): Option[String] = {
    if (cids.isEmpty) return None
    var best = cids.head
    var bestKey = {
      val i = info(best); (if (i.hasRequires) 1 else 0, i.sizeFcp)
    }
    for (cid <- cids.tail) {
      val i = info(cid)
      val key = (if (i.hasRequires) 1 else 0, i.sizeFcp)
      if (key._1 > bestKey._1 || (key._1 == bestKey._1 && key._2 > bestKey._2)) {
        best = cid; bestKey = key
      }
    }
    Some(best)
  }

  /** Build justification sets deterministically
    * (build_justification_sets_v4, extractor.py:4194-4276): one primary JS
    * per holding with support (supports|grounds) in-edges, logic/label from
    * the picked cluster; an OR defeater JS when undercut in-edges exist.
    * Returns the JS rows plus each edge's support-group memberships. */
  def buildJustificationSets(
      convId: String,
      holdingIds: Seq[String], // extraction order — drives js{n} numbering
      edges: Vector[EdgeRow],
      holdingClusters: Map[String, List[String]], // cids in cluster-creation order
      clusterInfo: String => ClusterPick)
      : (Vector[JustificationSetRow], Map[String, Seq[String]]) = {
    val jsRows = ArrayBuffer.empty[JustificationSetRow]
    val supportGroupsByEdge = mutable.Map.empty[String, ArrayBuffer[String]]
    var jsCounter = 1
    for (h <- holdingIds) {
      val supportEdges = edges.filter(e =>
        e.target == h && (e.relation == "supports" || e.relation == "grounds"))
      if (supportEdges.nonEmpty) {
        val cidOpt = pickCluster(holdingClusters.getOrElse(h, Nil), clusterInfo)
        val logic = cidOpt.map(c => clusterInfo(c).logic).getOrElse("and")
        val label = cidOpt.map(c => s"${clusterInfo(c).label} support").orNull
        val jsId = s"js$jsCounter"; jsCounter += 1
        jsRows += JustificationSetRow(convId, jsId, h,
          if (logic == "or") "or" else "and", label, isPrimary = true, "high")
        supportEdges.foreach(e =>
          supportGroupsByEdge.getOrElseUpdate(e.id, ArrayBuffer.empty) += jsId)

        val defeaterEdges = edges.filter(e => e.target == h && e.relation == "undercuts")
        if (defeaterEdges.nonEmpty) {
          val djsId = s"js$jsCounter"; jsCounter += 1
          jsRows += JustificationSetRow(convId, djsId, h, "or",
            s"${Option(label).getOrElse(h)} defeaters", isPrimary = false, "medium")
          defeaterEdges.foreach(e =>
            supportGroupsByEdge.getOrElseUpdate(e.id, ArrayBuffer.empty) += djsId)
        }
      }
    }
    (jsRows.toVector, supportGroupsByEdge.view.mapValues(_.toSeq).toMap)
  }

  /** Synthesize reasoning chains (synthesize_reasoning_chains_v4,
    * extractor.py:4290-4369): one chain per (issue, resolving holding), BFS
    * over in-edges skipping structural relations, stable first-seen dedup,
    * deterministic narrative. Edge traversal order follows the EDGE LIST
    * order (the reference groups edges by target in list order). */
  def buildChains(
      convId: String,
      issueIds: Seq[String],                  // extraction order
      holdings: Seq[(String, String)],        // (holdingId, resolvesIssue), extraction order
      edges: Vector[EdgeRow],
      primaryJsFor: Map[String, String],
      nodeTypeById: Map[String, String]): Vector[ChainRow] = {
    val chains = ArrayBuffer.empty[ChainRow]
    val structural = Set("resolves", "determines", "contributes_to")
    val edgesTo: Map[String, Vector[EdgeRow]] = edges.groupBy(_.target)
    for (issue <- issueIds; (hid, resolves) <- holdings if resolves == issue) {
      val factIds = ArrayBuffer.empty[String]
      val conceptIds = ArrayBuffer.empty[String]
      val argIds = ArrayBuffer.empty[String]
      val edgeIds = ArrayBuffer.empty[String]
      val critical = ArrayBuffer.empty[String]
      val visited = mutable.Set.empty[String]
      val queue = mutable.Queue(hid)
      while (queue.nonEmpty) {
        val nid = queue.dequeue()
        if (!visited.contains(nid)) {
          visited += nid
          for (e <- edgesTo.getOrElse(nid, Vector.empty)
               if !structural.contains(e.relation)) {
            edgeIds += e.id
            if (e.isCritical) critical += e.source
            nodeTypeById.get(e.source) match {
              case Some("fact") => factIds += e.source
              case Some("concept") => conceptIds += e.source
              case Some("argument") => argIds += e.source
              case _ =>
            }
            if (!visited.contains(e.source)) queue += e.source
          }
        }
      }
      def uniq(xs: ArrayBuffer[String]): Seq[String] = xs.distinct.toSeq
      val parts = ArrayBuffer(s"Issue $issue resolved by holding $hid.")
      if (factIds.nonEmpty) parts += s"Facts: ${uniq(factIds).mkString(", ")}."
      if (conceptIds.nonEmpty) parts += s"Concepts: ${uniq(conceptIds).mkString(", ")}."
      if (argIds.nonEmpty) parts += s"Arguments: ${uniq(argIds).mkString(", ")}."
      chains += ChainRow(convId, s"rc_${issue}_$hid", issue, hid,
        uniq(factIds), uniq(conceptIds), uniq(argIds), uniq(edgeIds),
        primaryJsFor.get(hid).orNull, uniq(critical), parts.mkString(" "))
    }
    chains.toVector
  }

  /** Full graph validation (LegalReasoningGraph.validate,
    * schema_v2_1.py:622-704 + Edge.validate :524-533): endpoint existence,
    * support-group existence + target match, confidence/anchor coherence,
    * justification-set membership, duplicate node/edge ids, anchor offset
    * sanity, and the outcome DETERMINES requirement. Warning strings use the
    * reference's exact formats so tier gating classifies them identically. */
  def validateGraph(
      nodes: Vector[graft.kg.model.Node],
      edges: Vector[EdgeRow],
      js: Vector[JustificationSetRow]): Vector[String] = {
    val w = ArrayBuffer.empty[String]
    val allIds = nodes.map(_.id).toSet ++ js.map(_.id)
    val jsIds = js.map(_.id).toSet
    val jsTargets = js.map(j => j.id -> j.targetId).toMap

    for (e <- edges) {
      if (!allIds.contains(e.source)) w += s"Edge ${e.id}: source '${e.source}' not found"
      if (!allIds.contains(e.target)) w += s"Edge ${e.id}: target '${e.target}' not found"
      for (sg <- Option(e.supportGroupIds).getOrElse(Seq.empty)) {
        if (!jsIds.contains(sg))
          w += s"Edge ${e.id}: support_group_id '$sg' not found"
        else if (e.target != jsTargets(sg))
          w += s"Edge ${e.id}: target '${e.target}' doesn't match " +
            s"justification set '$sg' target '${jsTargets(sg)}'"
      }
      if ((e.confidence == "high" || e.confidence == "medium") && e.anchor == null)
        w += s"Edge ${e.id}: HIGH/MEDIUM confidence requires anchor"
      if (e.confidence == "inferred" && (e.explanation == null || e.explanation.isEmpty))
        w += s"Edge ${e.id}: INFERRED confidence requires explanation"
    }

    val memberCounts = edges.iterator
      .flatMap(e => Option(e.supportGroupIds).getOrElse(Seq.empty))
      .foldLeft(Map.empty[String, Int])((m, id) => m.updated(id, m.getOrElse(id, 0) + 1))
    for (j <- js) {
      if (!allIds.contains(j.targetId))
        w += s"JustificationSet ${j.id}: target '${j.targetId}' not found"
      if (memberCounts.getOrElse(j.id, 0) == 0)
        w += s"JustificationSet ${j.id}: no edges belong to this set"
    }

    val seen = mutable.Set.empty[String]
    for (n <- nodes.filterNot(_.nodeType == "outcome")) {
      if (seen.contains(n.id)) w += s"Duplicate node ID: '${n.id}'"
      seen += n.id
    }
    for (j <- js) {
      if (seen.contains(j.id)) w += s"Duplicate node ID: '${j.id}'"
      seen += j.id
    }
    val seenEdges = mutable.Set.empty[String]
    for (e <- edges) {
      if (seenEdges.contains(e.id)) w += s"Duplicate edge ID: '${e.id}'"
      seenEdges += e.id
    }

    for (n <- nodes if n.nodeType != "outcome" && n.anchor != null) {
      if (n.anchor.startChar < 0) w += s"Node ${n.id}: anchor start_char < 0"
      if (n.anchor.endChar <= n.anchor.startChar)
        w += s"Node ${n.id}: anchor end_char <= start_char"
    }

    nodes.find(_.nodeType == "outcome").foreach { o =>
      val hasDetermining = edges.exists(e => e.target == o.id && e.relation == "determines")
      if (!hasDetermining) w += "Outcome exists but no DETERMINES edge points to it"
    }
    w.toVector
  }

  private val ErrorPatterns = List("error", "missing", "not found", "duplicate",
    "requires anchor", "doesn't match", "invalid", "failed", "exceeds")
  private val CosmeticPatterns = List("repaired", "coerced", "normalized", "flipped")

  /** Warning severity class used by the tier gate and the corpus aggregate
    * validation (extractor.py:4832-4847): case-insensitive substring match —
    * error patterns win over cosmetic ones; everything else is substantive. */
  def classifyWarning(w: String): String = {
    val lw = w.toLowerCase(java.util.Locale.ROOT)
    if (ErrorPatterns.exists(lw.contains)) "error"
    else if (CosmeticPatterns.exists(lw.contains)) "cosmetic"
    else "substantive"
  }

  /** Quality tier from warnings + structural completeness
    * (extractor.py:4832-4862). */
  def computeTier(warnings: Seq[String], hasHoldings: Boolean,
                  hasOutcome: Boolean, hasChains: Boolean): String = {
    val errorCount = warnings.count(classifyWarning(_) == "error")
    val substantive = warnings.count(classifyWarning(_) == "substantive")
    if (errorCount == 0 && substantive <= 15 && hasHoldings && hasOutcome && hasChains) "gold"
    else if (errorCount <= 2 && substantive <= 30 && hasHoldings && hasOutcome) "silver"
    else if (errorCount <= 5) "bronze"
    else "reject"
  }
}
