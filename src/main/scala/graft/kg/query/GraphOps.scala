package graft.kg.query

import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph query operators over the materialized node/edge/JS tables —
  * Dataset re-expressions of the reference's per-graph methods
  * (schema_v2_1.py:778-910, extractor.py:4372-4460). All but [[reachable]]
  * are relational: joins + conditional buckets + boolean aggregates; no
  * per-row graph objects. [[reachable]] walks each conversation's edges in
  * memory, on the same per-conversation runs extraction uses.
  */
object GraphOps {

  /** Toulmin structure of each argument (get_toulmin_structure,
    * schema_v2_1.py:781-806, matched EXACTLY): only SUPPORTS in-edges bucket
    * into grounds/warrants/backing by source type; rebuttals are
    * attacks/rebuts/undercuts of any source type; other relations (e.g. a
    * fact that GROUNDS an argument) contribute nothing — the reference
    * ignores them. Validated against fixtures computed from the published
    * graphs (ReferenceParitySpec). */
  def toulmin(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val typed = edges.alias("e")
      .join(nodes.select(col("convId"), col("id"), col("nodeType")).alias("s"),
        col("e.convId") === col("s.convId") && col("e.source") === col("s.id"))
      .join(nodes.filter(col("nodeType") === "argument")
        .select(col("convId"), col("id")).alias("a"),
        col("e.convId") === col("a.convId") && col("e.target") === col("a.id"))
      .select(col("e.convId").as("conv_id"), col("a.id").as("argument_id"),
        col("e.source").as("source"), col("s.nodeType").as("src_type"),
        col("e.relation").as("relation"))
    typed
      .withColumn("bucket",
        when(col("relation").isin("attacks", "rebuts", "undercuts"), "rebuttals")
          .when(col("relation") === "supports" && col("src_type") === "fact", "grounds")
          .when(col("relation") === "supports" && col("src_type") === "concept", "warrants")
          .when(col("relation") === "supports" && col("src_type") === "precedent", "backing")
          .otherwise("other"))
      .groupBy(col("conv_id"), col("argument_id"))
      .agg(
        sort_array(collect_list(when(col("bucket") === "grounds", col("source")))).as("grounds"),
        sort_array(collect_list(when(col("bucket") === "warrants", col("source")))).as("warrants"),
        sort_array(collect_list(when(col("bucket") === "backing", col("source")))).as("backing"),
        sort_array(collect_list(when(col("bucket") === "rebuttals", col("source")))).as("rebuttals"))
  }

  /** Support structure per holding (get_holding_support,
    * schema_v2_1.py:807-836, matched EXACTLY): `grounding_concepts` are the
    * sources of ALL grounds in-edges (the reference collects them without a
    * source-type filter), `supporting_facts` the fact-typed sources of
    * supports in-edges, plus the ids of every justification set targeting
    * the holding. Validated against fixtures computed from the published
    * graphs (ReferenceParitySpec). */
  def holdingSupport(nodes: DataFrame, edges: DataFrame, js: DataFrame): DataFrame = {
    val in = edges.alias("e")
      .join(nodes.filter(col("nodeType") === "holding")
        .select(col("convId"), col("id")).alias("h"),
        col("e.convId") === col("h.convId") && col("e.target") === col("h.id"))
      .join(nodes.select(col("convId"), col("id"), col("nodeType")).alias("s"),
        col("e.convId") === col("s.convId") && col("e.source") === col("s.id"))
      .select(col("e.convId").as("conv_id"), col("h.id").as("holding_id"),
        col("e.source").as("source"), col("s.nodeType").as("src_type"),
        col("e.relation").as("relation"))
    val support = in.groupBy(col("conv_id"), col("holding_id"))
      .agg(
        sort_array(collect_list(when(
          col("relation") === "grounds",
          col("source")))).as("grounding_concepts"),
        sort_array(collect_list(when(
          col("src_type") === "fact" && col("relation") === "supports",
          col("source")))).as("supporting_facts"))
    val jsAgg = js.groupBy(col("convId").as("conv_id"), col("targetId").as("holding_id"))
      .agg(sort_array(collect_list(col("id"))).as("justification_sets"))
    support.join(jsAgg, Seq("conv_id", "holding_id"), "left")
  }

  /** Edges belonging to a justification set (get_justification_members,
    * schema_v2_1.py:778-779): explode support_group_ids. */
  def justificationMembers(edges: DataFrame): DataFrame =
    edges.select(col("convId").as("conv_id"), col("id").as("edge_id"),
        col("source"), explode(col("supportGroupIds")).as("js_id"))

  /** Counterfactual node removal: which holdings lose ALL their primary-JS
    * support if `removed` disappears (counterfactual_remove_node_v4,
    * extractor.py:4372-4460 — AND logic: any member removed breaks the set;
    * OR logic: broken only when every member is removed). */
  def counterfactual(
      nodes: DataFrame, edges: DataFrame, js: DataFrame,
      removedNodeId: String): DataFrame = {
    val members = justificationMembers(edges)
    val withLogic = members.join(
      js.select(col("convId").as("conv_id"), col("id").as("js_id"),
        col("targetId").as("holding_id"), col("logic"), col("isPrimary")),
      Seq("conv_id", "js_id"))
      .filter(col("isPrimary"))
    withLogic.groupBy(col("conv_id"), col("holding_id"), col("js_id"), col("logic"))
      .agg(
        count(lit(1)).as("n_members"),
        count_if(col("source") === removedNodeId).as("n_removed"))
      .withColumn("js_broken",
        when(col("logic") === "and", col("n_removed") > 0)
          .otherwise(col("n_removed") === col("n_members")))
      .groupBy(col("conv_id"), col("holding_id"))
      .agg(bool_and(col("js_broken")).as("holding_unsupported"))
      .filter(col("holding_unsupported"))
      .select(col("conv_id"), col("holding_id"))
  }

  /** Published-schema concept counterfactual (counterfactual_remove_concept,
    * schema_v2_1.py:836-886, matched exactly; distinct from the extractor's
    * v4 variant above): per holding, a justification set survives unless the
    * removed concept is a member AND (logic is "and" OR it was the only
    * member); a holding with justification sets is affected when none
    * survive; a holding without any is affected when the concept directly
    * grounds it. Returns (conv_id, holding_id, affected, reason) plus a
    * DETERMINES-edge outcome flag via `counterfactualOutcomeFlag`. */
  def counterfactualRemoveConcept(
      nodes: DataFrame, edges: DataFrame, js: DataFrame,
      conceptNodeId: String): DataFrame = {
    val holdings = nodes.filter(col("nodeType") === "holding")
      .select(col("convId").as("conv_id"), col("id").as("holding_id"))
    // members of each justification set = sources of its member edges
    val members = edges
      .select(col("convId").as("conv_id"), col("source"),
        explode(col("supportGroupIds")).as("js_id"))
    val jsInfo = js.select(col("convId").as("conv_id"), col("id").as("js_id"),
      col("targetId").as("holding_id"), col("logic"))
    val perJs = jsInfo.join(members, Seq("conv_id", "js_id"), "left")
      .groupBy(col("conv_id"), col("holding_id"), col("js_id"), col("logic"))
      .agg(
        count_if(col("source") === conceptNodeId).as("n_removed"),
        count_if(col("source").isNotNull &&
          col("source") =!= conceptNodeId).as("n_remaining"))
      .withColumn("survives",
        when(col("n_removed") === 0, true)
          .otherwise(col("logic") =!= "and" && col("n_remaining") > 0))
    val withJs = perJs.groupBy(col("conv_id"), col("holding_id"))
      .agg((count_if(col("survives")) === 0).as("affected"))
      .withColumn("reason",
        when(col("affected"), "all justification paths broken"))
    // holdings without any justification set: affected iff the concept
    // directly grounds them
    val grounded = edges.filter(col("relation") === "grounds" &&
        col("source") === conceptNodeId)
      .select(col("convId").as("conv_id"), col("target").as("holding_id"))
      .distinct().withColumn("directly_grounded", lit(true))
    val withoutJs = holdings
      .join(jsInfo.select(col("conv_id"), col("holding_id")).distinct(),
        Seq("conv_id", "holding_id"), "left_anti")
      .join(grounded, Seq("conv_id", "holding_id"), "left")
      .select(col("conv_id"), col("holding_id"),
        coalesce(col("directly_grounded"), lit(false)).as("affected"),
        when(coalesce(col("directly_grounded"), lit(false)),
          "concept directly grounds holding (no justification sets defined)").as("reason"))
    withJs.select(col("conv_id"), col("holding_id"), col("affected"), col("reason"))
      .unionByName(withoutJs)
  }

  /** Outcome flag for counterfactualRemoveConcept: a conversation's outcome
    * is affected when any DETERMINES edge originates from an affected
    * holding (schema_v2_1.py:880-885). */
  def counterfactualOutcomeFlag(
      removed: DataFrame, edges: DataFrame): DataFrame = {
    val det = edges.filter(col("relation") === "determines")
      .select(col("convId").as("conv_id"), col("source").as("holding_id"))
      .withColumn("has_det", lit(true))
    removed.join(det, Seq("conv_id", "holding_id"), "left")
      .groupBy(col("conv_id"))
      .agg(max(col("affected") && coalesce(col("has_det"), lit(false)))
        .as("outcome_affected"))
  }

  /** Counterfactual with OUTCOME propagation (extractor.py:4430-4460): the
    * outcome is affected when every holding carrying a DETERMINES edge into
    * it becomes unsupported by the removal. Returns
    * (conv_id, outcome_affected, broken_holdings). */
  def counterfactualOutcome(
      nodes: DataFrame, edges: DataFrame, js: DataFrame,
      removedNodeId: String): DataFrame = {
    val broken = counterfactual(nodes, edges, js, removedNodeId)
      .withColumn("is_broken", lit(true))
    val determines = edges.filter(col("relation") === "determines")
      .select(col("convId").as("conv_id"), col("source").as("holding_id"))
    determines
      .join(broken.withColumnRenamed("holding_id", "holding_id"),
        Seq("conv_id", "holding_id"), "left")
      .groupBy(col("conv_id"))
      .agg(
        bool_and(coalesce(col("is_broken"), lit(false))).as("outcome_affected"),
        sort_array(collect_list(when(col("is_broken"), col("holding_id")))).as("broken_holdings"))
  }

  /** BFS shortest path start→end (trace_reasoning_path,
    * schema_v2_1.py:890-910, matched EXACTLY): adjacency in edge-list order,
    * first path found wins, empty when unreachable. Pure per-conversation
    * function — a conversation graph is small; [[reachable]] below is the
    * corpus-scale, depth-capped set form of the walk. Fixture-validated
    * against paths computed from the published graphs (QuerySpec). */
  def tracePath(edges: Seq[graft.kg.model.EdgeRow],
                startId: String, endId: String): Seq[String] = {
    val adj = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[String]]
    edges.foreach(e =>
      adj.getOrElseUpdate(e.source, scala.collection.mutable.ArrayBuffer.empty) += e.target)
    val queue = scala.collection.mutable.Queue((startId, List(startId)))
    val visited = scala.collection.mutable.Set(startId)
    while (queue.nonEmpty) {
      val (node, path) = queue.dequeue()
      if (node == endId) return path.reverse
      for (n <- adj.getOrElse(node, scala.collection.mutable.ArrayBuffer.empty)
           if !visited.contains(n)) {
        visited += n
        queue += ((n, n :: path))
      }
    }
    Seq.empty
  }

  /** Depth-capped forward reachability from `startNodeId` in every
    * conversation (trace_reasoning_path's walk, schema_v2_1.py:890-910, as
    * a set): `(conv_id, id)` once for every node first reached at depth
    * 1..`maxDepth`, including the start node itself when a cycle leads back
    * to it. One pass, no driver loop: the edges are hash-partitioned on `convId`
    * and sorted, and each conversation's consecutive run
    * ([[graft.kg.pipeline.KgPipeline.runs]], the grouping extraction uses)
    * is walked breadth-first in memory. Edges with a null `convId`,
    * `source` or `target` are dropped before the walk: a null names no
    * conversation and no node. The three columns must be strings. */
  def reachable(
      spark: SparkSession, edges: DataFrame,
      startNodeId: String, maxDepth: Int = 10): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    import spark.implicits._
    edges.select(col("convId"), col("source"), col("target")).na.drop()
      .repartition(col("convId"))
      // target as last key: a total order, so the walk never depends on
      // shuffle arrival order
      .sortWithinPartitions(col("convId"), col("source"), col("target"))
      .as[(String, String, String)]
      .mapPartitions(it => KgPipeline.runs(it)(_._1).flatMap { case (conv, run) =>
        val next = run.groupMap(_._2)(_._3)
        val seen = scala.collection.mutable.HashSet.empty[String]
        var frontier = Vector(startNodeId)
        var depth = 0
        val reached = Vector.newBuilder[(String, String)]
        while (frontier.nonEmpty && depth < maxDepth) {
          frontier = frontier.flatMap(next.getOrElse(_, Vector.empty)).filter(seen.add)
          reached ++= frontier.map(conv -> _)
          depth += 1
        }
        reached.result()
      })
      .toDF("conv_id", "id")
  }
}
