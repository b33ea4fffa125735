package graft.kg.canonical

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-conversation entity canonicalization.
  *
  * The reference deduplicates concepts only WITHIN one document
  * (extractor.py:4052-4104, group by concept_id + keep best anchor). At
  * corpus scale the same entities recur across conversations; this module
  * assigns every concept/precedent mention a global `canonical_id`:
  *
  *  - concepts: the ontology concept_id IS the canonical key (the broadcast
  *    alias dictionary already linked mentions to it).
  *  - precedents: each mention carries up to two keys — a name key
  *    ("case:" + normalized case name) and a citation key ("cit:" + type +
  *    normalized citation string). Mentions observed with BOTH keys create
  *    candidate-match edges; connected components over the name↔citation
  *    bipartite graph (union-find) merge e.g. "Maneka Gandhi v. Union of
  *    India" with "AIR 1978 SC 597" wherever either appears alone. The
  *    canonical id is the lexicographically smallest key in the component
  *    (deterministic under any partitioning).
  *
  * This module owns the mention-key format. The Column expressions below
  * build it relationally; [[mentionKey]] is their JVM twin, used by the
  * extractor to tag edge endpoints as it emits them.
  *
  * Hot entities (famous precedents appearing in most conversations) make the
  * component label and the final groupBy skewed — mitigated by AQE skew-join
  * handling plus the two-phase (salted) aggregation in `entityStats`.
  *
  * Nothing here persists: every returned frame is plain lazy lineage, so
  * frames from any number of calls may be held and acted on in any order.
  */
object Canonicalizer {

  private def normName(c: Column) =
    lower(regexp_replace(trim(c), "\\s+", " "))

  private def citKey: Column =
    concat(lit("cit:"), col("citationType"), lit(":"), normName(col("citation")))

  private def conceptKey: Column = concat(lit("concept:"), col("conceptId"))

  /** Column form of [[mentionKey]] over node columns. */
  private def mentionKeyCol: Column =
    when(col("nodeType") === "concept", conceptKey)
      .when(col("nodeType") === "precedent", citKey)

  private val WhitespaceRun = java.util.regex.Pattern.compile("\\s+")

  /** JVM twin of `normName`, exact to Spark's string semantics: `trim`
    * strips only U+0020 (a tab survives it and becomes a space below),
    * `regexp_replace` is java.util.regex, and `lower` under Spark's default
    * ICU case mappings lowers a pure-ASCII string bytewise and anything else
    * with `UCharacter.toLowerCase`. */
  private def normNameJvm(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    val collapsed = WhitespaceRun.matcher(s.substring(a, b)).replaceAll(" ")
    if (collapsed.forall(_ < 0x80)) collapsed.toLowerCase(java.util.Locale.ROOT)
    else com.ibm.icu.lang.UCharacter.toLowerCase(collapsed)
  }

  /** Pre-component key of one mention: "concept:" + conceptId for a
    * concept, "cit:" + citationType + ":" + normalized citation for a
    * precedent, null for any other node type or a null key field. Equal to
    * the Column keys of [[precedentKeys]] (`cit_key`) and
    * [[canonicalConcepts]] (`canonical_id`) for the same fields. */
  def mentionKey(nodeType: String, conceptId: String,
                 citationType: String, citation: String): String = nodeType match {
    case "concept" if conceptId != null => "concept:" + conceptId
    case "precedent" if citationType != null && citation != null =>
      "cit:" + citationType + ":" + normNameJvm(citation)
    case _ => null
  }

  /** A no-op, kept only because the perfbench harness calls it after its
    * query mix. Nothing in this module persists, so there is nothing to
    * release. */
  def releaseCaches(spark: SparkSession): Unit = ()

  /** Per-mention keys for precedent nodes: (convId, id, nameKey?, citKey). */
  def precedentKeys(nodes: DataFrame): DataFrame =
    nodes.filter(col("nodeType") === "precedent")
      .select(
        col("convId"), col("id"),
        when(col("caseName").isNotNull,
          concat(lit("case:"), normName(col("caseName")))).as("name_key"),
        citKey.as("cit_key"))

  /** The candidate-match edges: one (name_key, cit_key) pair per
    * precedent mention. A citation key never seen with a name is in no pair
    * (its null name key drops the pair): every lookup misses it and resolves
    * it to itself, so it needs no self-edge. */
  private[canonical] def namePairs(keys: DataFrame): DataFrame =
    keys.select(col("name_key").as("src"), col("cit_key").as("dst"))

  /** Name↔citation components (id, component) over the distinct
    * (name_key, cit_key) pairs, by `runAuto`. */
  private def components(spark: SparkSession, keys: DataFrame): DataFrame =
    ConnectedComponents.runAuto(spark, namePairs(keys))

  /** Mention → canonical_id for every precedent node. The `precedentKeys`
    * projection is cheap, so it is recomputed for the component job and
    * the final (broadcast) lookup rather than persisted. */
  def canonicalPrecedents(spark: SparkSession, nodes: DataFrame): DataFrame = {
    val keys = precedentKeys(nodes)
    keys
      .join(components(spark, keys).withColumnRenamed("id", "cit_key"), Seq("cit_key"), "left")
      .select(col("convId"), col("id"),
        coalesce(col("component"), col("cit_key")).as("canonical_id"))
  }

  /** Mention → canonical_id for every concept node (broadcast-dictionary key). */
  def canonicalConcepts(nodes: DataFrame): DataFrame =
    nodes.filter(col("nodeType") === "concept")
      .select(col("convId"), col("id"), conceptKey.as("canonical_id"))

  /** Full mention→canonical mapping (precedents ∪ concepts; other node kinds
    * are conversation-local by nature and keep conv-scoped ids). */
  def mentionMap(spark: SparkSession, nodes: DataFrame): DataFrame =
    canonicalPrecedents(spark, nodes).union(canonicalConcepts(nodes))

  /** Fallback for edges that arrive without `subjKey`/`objKey`: derive them
    * from the nodes with ONE co-partitioned join on convId against a
    * per-conversation id → key map. Both endpoints resolve from the same
    * map, so the mapping side has a single exchange (its aggregation) that
    * both lookups share, and the edge side at most one, keyed by convId.
    * Node ids are unique within a conversation; an id carrying two
    * different keys fails the map build instead of duplicating edges. */
  private def tagEndpoints(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val keyMaps = nodes.select(col("convId"), col("id"), mentionKeyCol.as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("convId"))
      .agg(map_from_entries(collect_set(struct(col("id"), col("key")))).as("keys"))
    edges.join(keyMaps, Seq("convId"), "left")
      .withColumn("subjKey", col("keys")(col("source")))
      .withColumn("objKey", col("keys")(col("target")))
  }

  /** Rewrite the triple table onto canonical entity ids (the cross-document
    * analog of rewire_edges_after_dedup, extractor.py:4107-4116): output
    * `conv_id, subj, pred, obj`.
    *
    * Job shape: edges from [[graft.kg.pipeline.KgPipeline.canonicalInputsDirect]]
    * arrive TAGGED — the extractor wrote each endpoint's pre-component key
    * ([[mentionKey]]) into `subjKey`/`objKey` when it emitted the edge.
    * [[ConnectedComponents.labels]] gathers the distinct name↔citation
    * pairs in one job with no exchange (on a persisted, not yet cached
    * input, the job that fills the cache) and labels them on the driver;
    * the endpoints are then rewritten map-side from a broadcast of the
    * labels that differ from their key ([[rewriteMapSide]]), so the returned
    * frame has no Exchange and no join. Above the local threshold the
    * distributed loop labels the keys and two probe joins rewrite the
    * endpoints ([[rewriteJoined]]). Untagged edges (planted frames, the
    * columnar kg_* memo, the `nodesDirect`/`edgesDirect` paths) are
    * selected by schema and go through `tagEndpoints` first, which adds its
    * convId-keyed exchanges. */
  def canonicalTriples(spark: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    val tagged =
      if (edges.columns.contains("subjKey") && edges.columns.contains("objKey")) edges
      else tagEndpoints(nodes, edges)
    val pairs = namePairs(precedentKeys(nodes))
    ConnectedComponents.labels(pairs, ConnectedComponents.DefaultLocalThreshold) match {
      case Left(labels) => rewriteMapSide(tagged, labels)
      case Right(comps) => rewriteJoined(tagged, comps)
    }
  }

  /** The endpoint rule of the rewrite: the component label of the
    * endpoint's key, else the key itself (a key in no pair is its own
    * component), else the conversation-scoped id "convId/id" (an endpoint
    * that is neither a concept nor a precedent). [[rewriteJoined]] holds
    * its Column twin. */
  private def endpoint(label: String, key: String, convId: String, id: String): String =
    if (label != null) label
    else if (key != null) key
    else if (convId == null || id == null) null
    else convId + "/" + id

  private lazy val taggedEdgeEncoder =
    Encoders.product[(String, String, String, String, String, String)]
  private lazy val tripleEncoder = Encoders.product[(String, String, String, String)]

  /** The local branch: each edge row is rewritten by [[endpoint]] in a
    * typed map from the labels that differ from their key, shipped once per
    * executor as a broadcast. */
  private[canonical] def rewriteMapSide(tagged: DataFrame, labels: Map[String, String]): DataFrame = {
    val moved = tagged.sparkSession.sparkContext.broadcast(labels.filter { case (k, v) => k != v })
    tagged.select("convId", "source", "relation", "target", "subjKey", "objKey")
      .as(taggedEdgeEncoder)
      .mapPartitions { it =>
        val m = moved.value
        def label(key: String) = if (key == null) null else m.getOrElse(key, null)
        it.map { case (conv, source, relation, target, subjKey, objKey) =>
          (conv, endpoint(label(subjKey), subjKey, conv, source), relation,
            endpoint(label(objKey), objKey, conv, target))
        }
      }(tripleEncoder).toDF("conv_id", "subj", "pred", "obj")
  }

  /** The distributed branch: each endpoint key probes the
    * components(id, component) frame through a left join, and the
    * endpoint rule is the Column twin of [[endpoint]]. */
  private[canonical] def rewriteJoined(tagged: DataFrame, comps: DataFrame): DataFrame = {
    def probe(df: DataFrame, key: String, comp: String) =
      df.join(comps.select(col("id").as(key), col("component").as(comp)), Seq(key), "left")
    probe(probe(tagged, "subjKey", "subj_comp"), "objKey", "obj_comp")
      .select(
        col("convId").as("conv_id"),
        coalesce(col("subj_comp"), col("subjKey"),
          concat(col("convId"), lit("/"), col("source"))).as("subj"),
        col("relation").as("pred"),
        coalesce(col("obj_comp"), col("objKey"),
          concat(col("convId"), lit("/"), col("target"))).as("obj"))
  }

  /** Per-canonical-entity mention counts via two-phase SALTED aggregation:
    * hot entities (a doctrine cited in most conversations) would skew a
    * single groupBy at 10^12-turn scale, so phase 1 pre-aggregates on
    * (entity, salt) and phase 2 combines the S partial rows per entity. */
  def entityStats(spark: SparkSession, nodes: DataFrame, salts: Int = 16): DataFrame = {
    val mapping = mentionMap(spark, nodes)
    mapping
      .withColumn("salt", pmod(hash(col("convId")), lit(salts)))
      .groupBy(col("canonical_id"), col("salt"))
      .agg(count(lit(1)).as("partial_mentions"),
        approx_count_distinct(col("convId")).as("partial_convs"))
      .groupBy(col("canonical_id"))
      .agg(sum(col("partial_mentions")).as("n_mentions"),
        sum(col("partial_convs")).as("n_convs_approx"))
  }
}
