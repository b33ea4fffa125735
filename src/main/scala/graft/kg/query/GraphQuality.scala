package graft.kg.query

import graft.kg.rules.Relations
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-graph quality scoring (1-10) — the corpus evaluation operator
  * (evaluate_graphs.py:90-305): weighted deductions from edge validity,
  * connectivity (orphan rate), issue resolution and anchor quality, computed
  * relationally per conversation.
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

  /** Composite per-conversation quality report + 1-10 score.
    *
    * One aggregation pass per input table (edges, nodes) and ONE join, instead
    * of four independent per-conv aggregations + an endpoint distinct + two
    * row-level joins + three full-outer joins. Per-graph membership questions
    * (is this node an edge endpoint? is this issue resolved by some holding?)
    * are answered against per-conversation id arrays carried out of the
    * aggregations — graphs are per-conversation and bounded, so the arrays
    * stay small at any corpus scale. Row semantics are preserved exactly:
    * connectivity counts non-outcome node ROWS whose id is an endpoint
    * (collect_list keeps duplicate rows), issue resolution counts DISTINCT
    * issue ids (the old groupBy(conv, issue_id) collapsed duplicates), and a
    * conv missing from either side yields null → 0.0 fills exactly as the old
    * full-outer chain did (0/0 divisions are null pre-fill in both shapes). */
  def score(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val validTriples: Seq[String] = Relations.Matrix.toSeq.flatMap {
      case ((s, t), rels) => rels.map(r => s"$s|$t|$r")
    }.sorted
    val typeOf = udf((id: String) => Relations.nodeTypeFromId(id))

    val edgeAgg = edges
      .withColumn("sig", concat_ws("|",
        typeOf(col("source")), typeOf(col("target")), col("relation")))
      .groupBy(col("convId").as("conv_id"))
      .agg(
        (count_if(col("sig").isin(validTriples: _*)) / count(lit(1))).as("edge_validity"),
        array_distinct(flatten(collect_list(array(col("source"), col("target")))))
          .as("endpoints"))

    val nodeAgg = nodes
      .groupBy(col("convId").as("conv_id"))
      .agg(
        (count_if(col("anchor").isNotNull &&
          col("anchor.endChar") > col("anchor.startChar")) / count(lit(1)))
          .as("anchor_quality"),
        count_if(col("nodeType") =!= "outcome").as("n_non_outcome"),
        collect_list(when(col("nodeType") =!= "outcome", col("id")))
          .as("non_outcome_ids"),
        array_distinct(collect_list(when(col("nodeType") === "issue", col("id"))))
          .as("issue_ids"),
        collect_set(when(col("nodeType") === "holding", col("resolvesIssue")))
          .as("resolves"))

    edgeAgg.join(nodeAgg, Seq("conv_id"), "full_outer")
      .withColumn("connectivity",
        size(filter(col("non_outcome_ids"), x => array_contains(col("endpoints"), x)))
          .cast("double") / col("n_non_outcome"))
      .withColumn("issue_resolution",
        size(array_intersect(col("issue_ids"), col("resolves"))).cast("double") /
          size(col("issue_ids")))
      .na.fill(0.0)
      // weighted 1-10: validity 3, connectivity 3, resolution 2, anchors 1.
      // Rounding is the explicit floor(x·10^k + 0.5)/10^k form: pure IEEE
      // double arithmetic that any engine reproduces bit-exactly, unlike
      // round(), whose half-boundary behavior depends on the engine's
      // decimal-conversion strategy (Spark rounds the shortest decimal
      // repr, DuckDB the binary value — they disagree on x.xx5 scores).
      .withColumn("quality_score", floor((lit(1.0) +
        col("edge_validity") * 3.0 + col("connectivity") * 3.0 +
        col("issue_resolution") * 2.0 + col("anchor_quality") * 1.0) * 100.0 + 0.5) / 100.0)
      .select(col("conv_id"),
        (floor(col("edge_validity") * 10000.0 + 0.5) / 10000.0).as("edge_validity"),
        (floor(col("connectivity") * 10000.0 + 0.5) / 10000.0).as("connectivity"),
        (floor(col("issue_resolution") * 10000.0 + 0.5) / 10000.0).as("issue_resolution"),
        (floor(col("anchor_quality") * 10000.0 + 0.5) / 10000.0).as("anchor_quality"),
        col("quality_score"))
  }
}
