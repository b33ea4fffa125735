package graft.kg.query

import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Graph query operators over the materialized node/edge/JS tables —
  * Dataset re-expressions of the reference's per-graph methods
  * (schema_v2_1.py:778-910, extractor.py:4372-4460). The per-graph ones
  * ([[toulmin]], [[holdingSupport]], [[counterfactual]], [[reachable]]) run
  * as small Scala functions over each conversation's rows, on one
  * `convId` exchange ([[graft.kg.pipeline.KgPipeline.byConversation]]);
  * inputs are read by column name, so any frame carrying the named columns
  * works. The published-schema concept counterfactual and its outcome
  * flags stay relational: joins and boolean aggregates.
  */
object GraphOps {

  private[query] def str(r: Row, c: String): String = r.getAs[String](c)

  /** The source rows of a conversation's edges into nodes of type
    * `targetType`: one (target, source, source type, relation) per edge,
    * source node row and target node row — duplicate node rows repeat the
    * edge, as a join would. Nodes with a null id match nothing. */
  private def typedInEdges(ns: Vector[Row], es: Vector[Row], targetType: String) = {
    val typesOf = ns.filter(str(_, "id") != null).groupMap(str(_, "id"))(str(_, "nodeType"))
    for {
      e <- es
      nTargets = typesOf.getOrElse(str(e, "target"), Vector.empty).count(_ == targetType)
      if nTargets > 0
      srcType <- typesOf.getOrElse(str(e, "source"), Vector.empty)
      _ <- 1 to nTargets
    } yield (str(e, "target"), str(e, "source"), srcType, str(e, "relation"))
  }

  /** The sorted sources of the in-edges whose (source type, relation)
    * satisfies `p`. */
  private def sourcesWhere(in: Seq[(String, String, String, String)])(
      p: (String, String) => Boolean): Seq[String] =
    in.collect { case (_, src, srcType, rel) if p(srcType, rel) => src }.sorted

  /** Toulmin structure of each argument (get_toulmin_structure,
    * schema_v2_1.py:781-806, matched EXACTLY): only SUPPORTS in-edges bucket
    * into grounds/warrants/backing by source type; rebuttals are
    * attacks/rebuts/undercuts of any source type; other relations (e.g. a
    * fact that GROUNDS an argument) contribute nothing — the reference
    * ignores them. One row per argument with an in-edge from a node of its
    * conversation. Fixtures computed from the published graphs check it
    * in QuerySpec's reference-corpus test, which needs the reference
    * corpus. */
  def toulmin(nodes: DataFrame, edges: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[(String, String, Seq[String], Seq[String], Seq[String], Seq[String])]
    KgPipeline.byConversation(nodes.select("convId", "id", "nodeType"),
      edges.select("convId", "source", "target", "relation")) { case (conv, Seq(ns, es)) =>
      typedInEdges(ns, es, "argument").groupBy(_._1).toSeq.map { case (arg, in) =>
        def supportsFrom(t: String) = sourcesWhere(in)((srcType, rel) => rel == "supports" && srcType == t)
        (conv, arg, supportsFrom("fact"), supportsFrom("concept"), supportsFrom("precedent"),
          sourcesWhere(in)((_, rel) => rel == "attacks" || rel == "rebuts" || rel == "undercuts"))
      }
    }.toDF("conv_id", "argument_id", "grounds", "warrants", "backing", "rebuttals")
  }

  /** Support structure per holding (get_holding_support,
    * schema_v2_1.py:807-836, matched EXACTLY): `grounding_concepts` are the
    * sources of ALL grounds in-edges (the reference collects them without a
    * source-type filter), `supporting_facts` the fact-typed sources of
    * supports in-edges, plus the ids of every justification set targeting
    * the holding (null when none does). One row per holding with an in-edge
    * from a node of its conversation. Fixtures computed from the published
    * graphs check it in QuerySpec's reference-corpus test, which needs the
    * reference corpus. */
  def holdingSupport(nodes: DataFrame, edges: DataFrame, js: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[(String, String, Seq[String], Seq[String], Seq[String])]
    KgPipeline.byConversation(nodes.select("convId", "id", "nodeType"),
      edges.select("convId", "source", "target", "relation"),
      js.select("convId", "id", "targetId")) { case (conv, Seq(ns, es, jss)) =>
      val jsOf = jss.filter(str(_, "targetId") != null).groupMap(str(_, "targetId"))(str(_, "id"))
      typedInEdges(ns, es, "holding").groupBy(_._1).toSeq.map { case (h, in) =>
        (conv, h, sourcesWhere(in)((_, rel) => rel == "grounds"),
          sourcesWhere(in)((srcType, rel) => srcType == "fact" && rel == "supports"),
          jsOf.get(h).map(ids => ids.filter(_ != null).sorted: Seq[String]).orNull)
      }
    }.toDF("conv_id", "holding_id", "grounding_concepts", "supporting_facts", "justification_sets")
  }

  /** Edges belonging to a justification set (get_justification_members,
    * schema_v2_1.py:778-779): explode support_group_ids. */
  def justificationMembers(edges: DataFrame): DataFrame =
    edges.select(col("convId").as("conv_id"), col("id").as("edge_id"),
        col("source"), explode(col("supportGroupIds")).as("js_id"))

  /** Counterfactual node removal: which holdings lose ALL their primary-JS
    * support if `removed` disappears (counterfactual_remove_node_v4,
    * extractor.py:4372-4460 — AND logic: any member removed breaks the set;
    * OR logic: broken only when every member is removed). A set's members
    * are the sources of the edges listing it in `supportGroupIds`; a set
    * without members, or not primary, plays no part. */
  def counterfactual(
      nodes: DataFrame, edges: DataFrame, js: DataFrame,
      removedNodeId: String): DataFrame = {
    implicit val enc = Encoders.product[(String, String)]
    KgPipeline.byConversation(edges.select("convId", "source", "supportGroupIds"),
      js.select("convId", "id", "targetId", "logic", "isPrimary")) { case (conv, Seq(es, jss)) =>
      val members = es.flatMap(e => Option(e.getAs[Seq[String]]("supportGroupIds")).toSeq.flatten
        .filter(_ != null).map(_ -> str(e, "source"))).groupMap(_._1)(_._2)
      val removed = (s: String) => s != null && s == removedNodeId
      jss.filter(_.getAs[Any]("isPrimary") == true)
        .map(j => (str(j, "targetId"), str(j, "id"), str(j, "logic"))).distinct
        .flatMap { case (h, id, logic) => members.get(id).map(ms =>
          h -> (if (logic == "and") ms.exists(removed) else ms.forall(removed))) }
        .groupMap(_._1)(_._2).toSeq
        .collect { case (h, broken) if broken.forall(identity) => (conv, h) }
    }.toDF("conv_id", "holding_id")
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
    * to it. One pass, no driver loop: each conversation's edges are walked
    * breadth-first in memory ([[graft.kg.pipeline.KgPipeline.byConversation]]).
    * Edges with a null `convId`, `source` or `target` are dropped before the
    * walk: a null names no conversation and no node. The three columns must
    * be strings. */
  def reachable(
      spark: SparkSession, edges: DataFrame,
      startNodeId: String, maxDepth: Int = 10): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    implicit val enc = Encoders.product[(String, String)]
    KgPipeline.byConversation(edges.select("convId", "source", "target").na.drop()) {
      case (conv, Seq(es)) =>
        val next = es.groupMap(str(_, "source"))(str(_, "target"))
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
    }.toDF("conv_id", "id")
  }
}
