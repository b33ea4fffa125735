package graft.kg.query

import graft.kg.pipeline.KgPipeline
import graft.kg.query.GraphOps.str
import graft.kg.rules.Relations
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Per-graph quality scoring (1-10) — the corpus evaluation operator
  * (evaluate_graphs.py:90-305): weighted deductions from edge validity,
  * connectivity (orphan rate), issue resolution and anchor quality, computed
  * per conversation.
  */
object GraphQuality {

  /** Tier-gated corpus iteration predicate (eval_retrieval_v2.py:62-85
    * `iter_graphs` tier_filter): keep a graph when its lower-cased quality
    * tier is in `tiers`; a missing/null tier behaves like "" and is always
    * skipped when a filter is given — the reference's
    * `g.get("quality_tier", "").lower() not in tier_filter` skip branch.
    * A plain Column predicate, so Catalyst pushes it to the scan. */
  def tierFilter(tierCol: org.apache.spark.sql.Column, tiers: Set[String]): org.apache.spark.sql.Column =
    lower(coalesce(tierCol, lit(""))).isin(tiers.toSeq.map(_.toLowerCase).sorted: _*)

  /** Composite per-conversation quality report + 1-10 score, one row per
    * conversation with a node or an edge, computed by a Scala function over
    * each conversation's rows
    * ([[graft.kg.pipeline.KgPipeline.byConversation]]). Rates:
    *  - edge validity: edges whose (source type, target type, relation)
    *    is in [[Relations.Matrix]], types read from the ids;
    *  - connectivity: non-outcome node ROWS (duplicates count) whose id is
    *    an edge endpoint, over all non-outcome node rows;
    *  - issue resolution: DISTINCT issue ids some holding resolves, over
    *    the distinct issue ids;
    *  - anchor quality: node rows with `anchor.endChar > anchor.startChar`.
    * A rate whose denominator is empty (no edges, no non-outcome nodes, no
    * issues, no nodes) is 0.0. */
  def score(nodes: DataFrame, edges: DataFrame): DataFrame = {
    def rate(n: Int, of: Int): Double = if (of == 0) 0.0 else n.toDouble / of
    // explicit floor(x·10^k + 0.5)/10^k rounding: pure IEEE double
    // arithmetic that any engine reproduces bit-exactly, unlike a decimal
    // round() (Spark rounds the shortest decimal repr, DuckDB the binary
    // value — they disagree on x.xx5 scores)
    def round(x: Double, scale: Double): Double = math.floor(x * scale + 0.5) / scale
    implicit val enc = Encoders.product[(String, Double, Double, Double, Double, Double)]
    KgPipeline.byConversation(
      nodes.select(col("convId"), col("id"), col("nodeType"), col("resolvesIssue"),
        coalesce(col("anchor.endChar") > col("anchor.startChar"), lit(false)).as("anchored")),
      edges.select("convId", "source", "target", "relation")) { case (conv, Seq(ns, es)) =>
      def typed(t: String) = ns.filter(str(_, "nodeType") == t)
      val validity = rate(es.count(e => Relations.Matrix.get((Relations.nodeTypeFromId(str(e, "source")),
        Relations.nodeTypeFromId(str(e, "target")))).exists(_(str(e, "relation")))), es.size)
      val endpoints = es.flatMap(e => Seq(str(e, "source"), str(e, "target"))).toSet
      val nonOutcome = ns.filter(n => str(n, "nodeType") != null && str(n, "nodeType") != "outcome")
      val connectivity = rate(nonOutcome.count(n => str(n, "id") != null && endpoints(str(n, "id"))),
        nonOutcome.size)
      val issues = typed("issue").map(str(_, "id")).filter(_ != null).distinct
      val resolved = typed("holding").map(str(_, "resolvesIssue")).toSet
      val resolution = rate(issues.count(resolved), issues.size)
      val anchors = rate(ns.count(_.getAs[Boolean]("anchored")), ns.size)
      // weighted 1-10: validity 3, connectivity 3, resolution 2, anchors 1
      val quality = 1.0 + validity * 3.0 + connectivity * 3.0 + resolution * 2.0 + anchors * 1.0
      Seq((conv, round(validity, 1e4), round(connectivity, 1e4), round(resolution, 1e4),
        round(anchors, 1e4), round(quality, 100.0)))
    }.toDF("conv_id", "edge_validity", "connectivity", "issue_resolution", "anchor_quality",
      "quality_score")
  }
}
