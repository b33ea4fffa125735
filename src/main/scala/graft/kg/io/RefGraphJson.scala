package graft.kg.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.kg.model.{Anchor, ChainRow, EdgeRow, JustificationSetRow, Node}
import scala.jdk.CollectionConverters._

/** Reader for the reference's published per-case graph JSON format
  * (schema v2.1.x — the layout of the published per-case graphs under
  * iltur_graphs/ and the schema_v2_1.py node classes): typed node lists, edges with
  * support_group_ids, justification_sets, reasoning_chains and _meta
  * (tier, warnings, cluster_summary). Nodes are returned in the reference's
  * canonical list order (facts, concepts, issues, arguments, holdings,
  * precedents, outcome) with per-type composite matching text assembled the
  * way the repair engine expects (repair_orphans.py:214-239).
  */
object RefGraphJson {

  final case class RefCluster(cid: String, label: String, logic: String,
                              sizeFcp: Int, holdings: List[String])

  final case class RefGraph(
      caseId: String,
      nodes: Vector[Node],              // reference list order
      edges: Vector[EdgeRow],           // file order (pre-repair + repair)
      justificationSets: Vector[JustificationSetRow],
      chains: Vector[ChainRow],
      clusters: Vector[RefCluster],     // cluster-creation (file key) order
      qualityTier: String,
      validationWarnings: Vector[String]) {
    /** Edges as extracted, before the post-hoc orphan-repair script ran. */
    def baseEdges: Vector[EdgeRow] = edges.filterNot(_.id.startsWith("e_repair_"))
  }

  private val mapper = new ObjectMapper()

  private def optText(n: JsonNode, field: String): String = {
    val v = n.path(field)
    if (v.isMissingNode || v.isNull) null else v.asText()
  }

  private def joined(n: JsonNode, fields: String*): String = {
    val parts = fields.flatMap(f => Option(optText(n, f))).filter(_.nonEmpty)
    if (parts.isEmpty) null else parts.mkString(" ")
  }

  private def anchor(n: JsonNode): Anchor = {
    val a = n.path("anchor")
    if (a.isMissingNode || a.isNull) null
    else Anchor(
      optText(a, "doc_id"),
      a.path("start_char").asInt(-1),
      a.path("end_char").asInt(-1),
      optText(a, "text_hash"),
      optText(a, "display_location"),
      optText(a, "surface_text"),
      secondarySpans = {
        val ss = a.path("secondary_spans")
        if (!ss.isArray) Nil
        else ss.elements().asScala.map(s =>
          graft.kg.model.SpanRef(
            s.path("start_char").asInt(-1), s.path("end_char").asInt(-1))).toSeq
      })
  }

  private def provenance(n: JsonNode): graft.kg.model.Provenance = {
    val p = n.path("provenance")
    if (p.isMissingNode || p.isNull) null
    else graft.kg.model.Provenance(
      optText(p, "extraction_method"), optText(p, "model_id"),
      optText(p, "prompt_id"), optText(p, "run_id"),
      if (p.path("temperature").isNumber) Double.box(p.path("temperature").asDouble()) else null,
      optText(p, "timestamp"))
  }

  private def blank(convId: String, id: String, ntype: String, j: JsonNode): Node =
    Node(convId, id, ntype, null, null, null, null, null, null,
      isRatio = false, null, null, null, null, null, null,
      optText(j, "confidence"), anchor(j), "reference",
      provenance = provenance(j))

  private def strSeq(n: JsonNode, field: String): Seq[String] = {
    val v = n.path(field)
    if (v.isMissingNode || v.isNull || !v.isArray) Seq.empty
    else v.elements().asScala.map(_.asText()).toSeq
  }

  /** Parse one reference graph JSON document. */
  def parse(json: String): RefGraph = {
    val root = mapper.readTree(json)
    val caseId = Option(optText(root, "case_id")).getOrElse("ref")

    def nodesOf(field: String): Vector[JsonNode] = {
      val v = root.path(field)
      if (!v.isArray) Vector.empty else v.elements().asScala.toVector
    }

    val facts = nodesOf("facts").map { j =>
      blank(caseId, j.path("id").asText(), "fact", j).copy(
        text = optText(j, "text"),
        factType = optText(j, "fact_type"),
        courtFinding = optText(j, "court_finding"))
    }
    val concepts = nodesOf("concepts").map { j =>
      blank(caseId, j.path("id").asText(), "concept", j).copy(
        // repair-engine composite minus concept_id (re-attached from the
        // typed field): interpretation + unlisted label/description
        text = joined(j, "interpretation", "unlisted_label", "unlisted_description"),
        conceptId = optText(j, "concept_id"),
        kind = optText(j, "kind"),
        relevance = optText(j, "relevance"))
    }
    val issues = nodesOf("issues").map { j =>
      blank(caseId, j.path("id").asText(), "issue", j).copy(
        text = optText(j, "text"))
    }
    val args = nodesOf("arguments").map { j =>
      blank(caseId, j.path("id").asText(), "argument", j).copy(
        text = joined(j, "claim", "court_reasoning"),
        claim = optText(j, "claim"),
        actor = optText(j, "actor"),
        courtResponse = optText(j, "court_response"),
        schemes = strSeq(j, "schemes"))
    }
    val holdings = nodesOf("holdings").map { j =>
      blank(caseId, j.path("id").asText(), "holding", j).copy(
        text = joined(j, "text", "reasoning_summary"),
        isRatio = j.path("is_ratio").asBoolean(false),
        resolvesIssue = optText(j, "resolves_issue"))
    }
    val precedents = nodesOf("precedents").map { j =>
      blank(caseId, j.path("id").asText(), "precedent", j).copy(
        // composite minus citation/case_name (typed fields)
        text = joined(j, "cited_proposition", "cited_holding"),
        caseName = optText(j, "case_name"),
        citation = optText(j, "citation"),
        citationType = optText(j, "citation_type"),
        relevance = optText(j, "relevance"),
        treatment = optText(j, "treatment"),
        caseYear = {
          val y = j.path("case_year")
          if (y.isInt) Int.box(y.asInt()) else null
        })
    }
    val outcome = {
      val o = root.path("outcome")
      if (o.isMissingNode || o.isNull) Vector.empty
      else Vector(blank(caseId, Option(optText(o, "id")).getOrElse("outcome"), "outcome", o)
        .copy(text = optText(o, "relief_summary"),
          disposition = optText(o, "disposition")))
    }
    val nodes = facts ++ concepts ++ issues ++ args ++ holdings ++ precedents ++ outcome

    val edges = nodesOf("edges").map { j =>
      EdgeRow(caseId, j.path("id").asText(),
        j.path("source").asText(), j.path("target").asText(),
        j.path("relation").asText(),
        optText(j, "confidence"), optText(j, "strength"),
        j.path("is_critical").asBoolean(false),
        strSeq(j, "support_group_ids"),
        optText(j, "explanation"), anchor(j),
        method = "reference", repairNote = null,
        provenance = provenance(j))
    }

    val js = nodesOf("justification_sets").map { j =>
      JustificationSetRow(caseId, j.path("id").asText(),
        optText(j, "target_id"), optText(j, "logic"), optText(j, "label"),
        j.path("is_primary").asBoolean(false), optText(j, "confidence"))
    }

    val chains = nodesOf("reasoning_chains").map { j =>
      ChainRow(caseId, j.path("id").asText(),
        optText(j, "issue_id"), optText(j, "holding_id"),
        strSeq(j, "fact_ids"), strSeq(j, "concept_ids"), strSeq(j, "argument_ids"),
        strSeq(j, "edge_ids"), optText(j, "justification_set_id"),
        strSeq(j, "critical_nodes"), optText(j, "narrative"))
    }

    val meta = root.path("_meta")
    val clusters = {
      val cs = meta.path("cluster_summary")
      if (!cs.isObject) Vector.empty
      else cs.fields().asScala.toVector.map { ent =>
        val cid = ent.getKey
        val s = ent.getValue
        val sizeFcp = Seq("facts", "concepts", "precedents")
          .map(f => if (s.path(f).isArray) s.path(f).size() else 0).sum
        RefCluster(cid, optText(s, "label"), optText(s, "logic"), sizeFcp,
          strSeq(s, "holdings").toList)
      }
    }

    RefGraph(caseId, nodes, edges, js, chains, clusters,
      optText(meta, "quality_tier"),
      strSeq(meta, "validation_warnings").toVector)
  }

  def parseFile(path: String): RefGraph =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
}
