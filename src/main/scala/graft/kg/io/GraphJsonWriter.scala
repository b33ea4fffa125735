package graft.kg.io

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.kg.model.{Anchor, ChainRow, EdgeRow, JustificationSetRow, Node, Provenance}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Writer for the reference's published per-case graph JSON format — the
  * inverse of RefGraphJson. Emits the schema-v2.1 layout (typed node lists,
  * outcome object, edges with support_group_ids, justification_sets,
  * reasoning_chains, _meta), so graphs produced by this engine are drop-in
  * artifacts for consumers of the reference corpus, and parsed reference
  * graphs round-trip (RefGraphJsonSpec).
  *
  * At corpus scale the output is a (case_id, json) table — one row per case,
  * written as any bucketed format — rather than the reference's
  * one-file-per-case layout (millions of small files don't survive a real
  * object store).
  */
object GraphJsonWriter {

  private val mapper = new ObjectMapper()

  private def anchorNode(o: ObjectNode, field: String, a: Anchor): Unit = {
    if (a == null) { o.putNull(field); return }
    val n = o.putObject(field)
    n.put("doc_id", a.docId)
    n.put("start_char", a.startChar)
    n.put("end_char", a.endChar)
    n.put("text_hash", a.textHash)
    n.put("display_location", a.displayLocation)
    val ss = n.putArray("secondary_spans")
    Option(a.secondarySpans).getOrElse(Nil).foreach { s =>
      val sn = ss.addObject()
      sn.put("start_char", s.startChar)
      sn.put("end_char", s.endChar)
    }
    n.put("surface_text", a.surfaceText)
  }

  private def provNode(o: ObjectNode, p: Provenance): Unit = {
    if (p == null) { o.putNull("provenance"); return }
    val n = o.putObject("provenance")
    n.put("extraction_method", p.extractionMethod)
    n.put("model_id", p.modelId)
    n.put("prompt_id", p.promptId)
    n.put("run_id", p.runId)
    if (p.temperature == null) n.putNull("temperature")
    else n.put("temperature", p.temperature.doubleValue())
    n.put("timestamp", p.timestamp)
  }

  private def strArray(o: ObjectNode, field: String, xs: Seq[String]): Unit = {
    val a = o.putArray(field)
    Option(xs).getOrElse(Nil).foreach(a.add)
  }

  private def nodeJson(n: Node, arr: ArrayNode): Unit = {
    val o = arr.addObject()
    o.put("id", n.id)
    o.put("type", n.nodeType)
    n.nodeType match {
      case "fact" =>
        o.put("text", n.text)
        anchorNode(o, "anchor", n.anchor)
        o.put("fact_type", n.factType)
        o.put("court_finding", n.courtFinding)
      case "concept" =>
        o.put("concept_id", n.conceptId)
        o.put("text", n.text)
        anchorNode(o, "anchor", n.anchor)
        o.put("relevance", n.relevance)
        o.put("kind", n.kind)
      case "issue" =>
        o.put("text", n.text)
        anchorNode(o, "anchor", n.anchor)
      case "argument" =>
        o.put("claim", if (n.claim != null) n.claim else n.text)
        anchorNode(o, "anchor", n.anchor)
        o.put("actor", n.actor)
        strArray(o, "schemes", n.schemes)
        o.put("court_response", n.courtResponse)
      case "holding" =>
        o.put("text", n.text)
        anchorNode(o, "anchor", n.anchor)
        o.put("is_ratio", n.isRatio)
        o.put("resolves_issue", n.resolvesIssue)
      case "precedent" =>
        o.put("citation", n.citation)
        anchorNode(o, "anchor", n.anchor)
        o.put("case_name", n.caseName)
        if (n.caseYear == null) o.putNull("case_year")
        else o.put("case_year", n.caseYear.intValue())
        o.put("citation_type", n.citationType)
        o.put("text", n.text)
        o.put("treatment", n.treatment)
        o.put("relevance", n.relevance)
      case _ =>
    }
    o.put("confidence", n.confidence)
    provNode(o, n.provenance)
  }

  /** One case graph → the reference's JSON document. */
  def toJson(
      caseId: String,
      nodes: Seq[Node],
      edges: Seq[EdgeRow],
      js: Seq[JustificationSetRow],
      chains: Seq[ChainRow],
      qualityTier: String,
      validationWarnings: Seq[String],
      schemaVersion: String = "2.1.2"): String = {
    val root = mapper.createObjectNode()
    root.put("case_id", caseId)
    for (t <- Seq("fact" -> "facts", "concept" -> "concepts", "issue" -> "issues",
      "argument" -> "arguments", "holding" -> "holdings", "precedent" -> "precedents")) {
      val arr = root.putArray(t._2)
      nodes.filter(_.nodeType == t._1).foreach(nodeJson(_, arr))
    }
    nodes.find(_.nodeType == "outcome") match {
      case Some(o) =>
        val on = root.putObject("outcome")
        on.put("id", o.id)
        on.put("type", "outcome")
        on.put("disposition", o.disposition)
        anchorNode(on, "anchor", o.anchor)
        on.put("relief_summary", o.text)
        on.put("confidence", o.confidence)
        provNode(on, o.provenance)
      case None => root.putNull("outcome")
    }
    val jsArr = root.putArray("justification_sets")
    js.foreach { j =>
      val o = jsArr.addObject()
      o.put("id", j.id)
      o.put("type", "justification_set")
      o.put("target_id", j.targetId)
      o.put("logic", j.logic)
      o.put("label", j.label)
      o.put("is_primary", j.isPrimary)
      o.put("confidence", j.confidence)
      o.putNull("provenance")
    }
    val eArr = root.putArray("edges")
    edges.foreach { e =>
      val o = eArr.addObject()
      o.put("id", e.id)
      o.put("source", e.source)
      o.put("target", e.target)
      o.put("relation", e.relation)
      anchorNode(o, "anchor", e.anchor)
      o.put("explanation", e.explanation)
      o.put("confidence", e.confidence)
      o.put("strength", e.strength)
      strArray(o, "support_group_ids", e.supportGroupIds)
      o.put("is_critical", e.isCritical)
      provNode(o, e.provenance)
    }
    val cArr = root.putArray("reasoning_chains")
    chains.foreach { c =>
      val o = cArr.addObject()
      o.put("id", c.id)
      o.put("issue_id", c.issueId)
      strArray(o, "fact_ids", c.factIds)
      strArray(o, "concept_ids", c.conceptIds)
      strArray(o, "argument_ids", c.argumentIds)
      o.put("holding_id", c.holdingId)
      strArray(o, "edge_ids", c.edgeIds)
      o.put("justification_set_id", c.justificationSetId)
      strArray(o, "critical_nodes", c.criticalNodes)
      o.put("narrative", c.narrative)
    }
    val meta = root.putObject("_meta")
    meta.put("schema_version", schemaVersion)
    meta.put("quality_tier", qualityTier)
    meta.put("extraction_model", "graft_rule_engine_v1")
    meta.putNull("extraction_timestamp") // determinism
    meta.put("retry_attempts", 0)
    strArray(meta, "validation_warnings", validationWarnings)
    mapper.writeValueAsString(root)
  }

  /** Distributed corpus export: one (case_id, json) row per conversation of
    * the extracted [[graft.kg.pipeline.MatRow]] union — graphs re-assembled
    * and serialized inside the task, no shuffle, no collects. */
  def corpus(spark: SparkSession, union: DataFrame): DataFrame = {
    import spark.implicits._
    graft.kg.pipeline.KgPipeline.graphsOf(union).map { g =>
      (g.summary.convId, toJson(g.summary.convId, g.nodes, g.edges,
        g.justificationSets, g.chains, g.summary.qualityTier, g.warnings))
    }.toDF("case_id", "json")
  }
}
