package graft.kg.query

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** EXACT port of the reference's corpus evaluation script
  * (evaluate_graphs.py) over the published per-case graph JSON: per-graph
  * edge validity (against the script's OWN stricter matrix,
  * evaluate_graphs.py:17-57 — deliberately different from the schema's
  * Relations.Matrix), connectivity/orphans (:142-184), reasoning
  * completeness (:187-221), anchor quality (:223-240), semantic sanity
  * (:242-288) and the 1-10 quality score (:290-305, round-half-even like
  * Python's round), plus the corpus summary report (:438-499).
  *
  * Fixture-tested against the published script run on current published
  * graphs (scripts/gen_grapheval_fixture.py — the committed
  * evaluation_outputs/ predate the current corpus, so parity targets the
  * CODE, as with the orphan-repair fixtures). [[GraphQuality]] remains the
  * engine-native per-conversation analog over node/edge tables.
  */
object GraphEval {

  /** evaluate_graphs.py:17-57 — verbatim. */
  val ValidEdgeRelations: Map[(String, String), Set[String]] = Map(
    ("fact", "argument") -> Set("grounds", "supports", "rebuts", "undercuts"),
    ("fact", "concept") -> Set("triggers", "negates", "partially_satisfies", "satisfies", "claims_satisfies"),
    ("fact", "holding") -> Set("supports", "grounds"),
    ("fact", "issue") -> Set("triggers", "supports", "addresses"),
    ("concept", "holding") -> Set("grounds", "supports"),
    ("concept", "concept") -> Set("requires", "excludes", "specializes", "conflicts_with"),
    ("concept", "argument") -> Set("supports", "grounds", "rebuts", "undercuts"),
    ("concept", "issue") -> Set("requires", "addresses"),
    ("argument", "holding") -> Set("supports", "contributes_to"),
    ("argument", "issue") -> Set("addresses", "concedes"),
    ("argument", "argument") -> Set("attacks", "supports_arg", "responds_to"),
    ("argument", "concept") -> Set("supports", "grounds", "rebuts", "undercuts", "claims_satisfies"),
    ("holding", "outcome") -> Set("determines", "contributes_to"),
    ("holding", "issue") -> Set("resolves", "partially_resolves", "addresses"),
    ("holding", "precedent") -> Set("follows", "applies", "distinguishes", "overrules", "doubts", "explains"),
    ("holding", "concept") -> Set("supports", "grounds", "constrains", "undercuts", "negates"),
    ("holding", "holding") -> Set("supports", "conflicts_with", "specializes", "constrains", "undercuts"),
    ("precedent", "argument") -> Set("supports"),
    ("precedent", "concept") -> Set("supports", "grounds", "establishes"),
    ("precedent", "holding") -> Set("supports"),
    ("precedent", "issue") -> Set("addresses", "supports"),
    ("issue", "concept") -> Set("requires", "addresses"),
    ("issue", "holding") -> Set("addresses", "requires"),
    ("issue", "argument") -> Set("addresses", "requires"),
    ("issue", "precedent") -> Set("addresses"),
    ("issue", "issue") -> Set("specializes", "conflicts_with", "requires"))

  private val Prefixes = Seq(
    "f" -> "fact", "c" -> "concept", "i" -> "issue", "a" -> "argument",
    "h" -> "holding", "p" -> "precedent", "js" -> "justification_set")

  /** evaluate_graphs.py:58-75 — NOTE: a prefix + exactly ONE more char of
    * any kind also matches (the reference's `len == len(prefix)+1` clause). */
  def nodeTypeFromId(id: String): String = {
    if (id == "outcome") return "outcome"
    for ((p, t) <- Prefixes) {
      // Python "".isdigit() is False: a bare prefix ("f") matches nothing
      if (id.startsWith(p) &&
        (id.length == p.length + 1 ||
          (id.length > p.length && id.substring(p.length).forall(_.isDigit))))
        return t
    }
    "unknown"
  }

  final case class EvalResult(
      caseId: String,
      edgeValidityRate: Double,
      invalidEdgeCount: Int,
      invalidEdgePatterns: Seq[String],
      connectivityRate: Double,
      orphanCount: Int,
      orphanNodes: Seq[String],       // sorted (Python set order is unstable)
      issuesResolvedRate: Double,
      holdingsConnectedRate: Double,
      unresolvedIssues: Seq[String],  // sorted
      missingAnchorCount: Int,
      missingAnchorNodes: Seq[String],
      warningsCount: Int,
      warningsFirst10: Seq[String],
      duplicateCount: Int,
      actorDistribution: Map[String, Int],
      invalidConceptCount: Int,
      qualityScore: Double,
      nodeCounts: Map[String, Int])

  private val Sections = Seq("facts", "concepts", "issues", "arguments", "holdings", "precedents")

  private def arr(g: JsonNode, f: String): Seq[JsonNode] = {
    val a = g.path(f)
    if (!a.isArray) Nil else a.elements().asScala.toSeq
  }

  private def optText(n: JsonNode, f: String): String = {
    val v = n.path(f)
    if (v.isMissingNode || v.isNull) null else v.asText()
  }

  /** Python round(x, n): round-half-even. */
  def pyRound(x: Double, n: Int): Double =
    BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  /** evaluate_graphs.py:290-305. */
  def qualityScore(edgeValidity: Double, connectivity: Double,
                   issuesResolved: Double, warnings: Int, missingAnchors: Int): Double = {
    var s = 10.0
    s -= (1 - edgeValidity) * 3
    s -= (1 - connectivity) * 2
    s -= (1 - issuesResolved) * 2
    s -= math.min(warnings * 0.1, 2.0)
    s -= math.min(missingAnchors * 0.1, 1.0)
    math.max(1.0, pyRound(s, 2))
  }

  /** Full per-graph evaluation (evaluate_single_graph, :307-384) over a
    * published-format graph JSON document. */
  def evaluate(root: JsonNode, validConceptIds: Set[String], fallbackId: String): EvalResult = {
    val caseId = Option(optText(root, "case_id")).getOrElse(fallbackId)
    val edges = arr(root, "edges")

    // 1. edge validity (:90-139)
    var validCount = 0
    val invalidPatterns = scala.collection.mutable.ArrayBuffer.empty[String]
    for (e <- edges) {
      val st = nodeTypeFromId(Option(optText(e, "source")).getOrElse(""))
      val tt = nodeTypeFromId(Option(optText(e, "target")).getOrElse(""))
      val rel = Option(optText(e, "relation")).getOrElse("")
      ValidEdgeRelations.get((st, tt)) match {
        case Some(rels) if rels.contains(rel) => validCount += 1
        case _ => invalidPatterns += s"${st.head}->${tt.head}:$rel"
      }
    }
    val edgeValidity = if (edges.isEmpty) 1.0 else validCount.toDouble / edges.size

    // 2. connectivity (:142-184)
    val allIds = scala.collection.mutable.LinkedHashSet.empty[String]
    for (sec <- Sections; n <- arr(root, sec); id = optText(n, "id"); if id != null)
      allIds += id
    val outcome = root.path("outcome")
    if (outcome.isObject)
      allIds += Option(optText(outcome, "id")).getOrElse("outcome")
    val connected = scala.collection.mutable.HashSet.empty[String]
    for (e <- edges) {
      val s = optText(e, "source"); val t = optText(e, "target")
      if (s != null && s.nonEmpty) connected += s
      if (t != null && t.nonEmpty) connected += t
    }
    for (h <- arr(root, "holdings"); r = optText(h, "resolves_issue"); if r != null && r.nonEmpty) {
      Option(optText(h, "id")).foreach(connected += _)
      connected += r
    }
    val orphans = allIds.toSeq.filterNot(connected.contains)
    val connectivity =
      if (allIds.isEmpty) 1.0 else allIds.count(connected.contains).toDouble / allIds.size

    // 3. reasoning completeness (:187-221)
    val issueIds = arr(root, "issues").flatMap(n => Option(optText(n, "id"))).toSet
    val resolvedTargets = arr(root, "holdings")
      .flatMap(h => Option(optText(h, "resolves_issue"))).filter(_.nonEmpty).toSet
    val unresolved = (issueIds -- resolvedTargets).toSeq
    val issuesResolved =
      if (issueIds.isEmpty) 1.0 else (issueIds & resolvedTargets).size.toDouble / issueIds.size
    val holdingIds = arr(root, "holdings").flatMap(n => Option(optText(n, "id"))).toSet
    val holdingsToOutcome = edges.flatMap { e =>
      val s = optText(e, "source")
      if (s != null && holdingIds.contains(s) && optText(e, "target") == "outcome") Some(s) else None
    }.toSet
    val holdingsConnected =
      if (holdingIds.isEmpty) 1.0 else holdingsToOutcome.size.toDouble / holdingIds.size

    // 4. anchor quality (:223-240)
    val missingAnchor = for {
      sec <- Sections
      n <- arr(root, sec)
      conf = Option(optText(n, "confidence")).getOrElse("low")
      if conf == "high" || conf == "medium"
      a = n.path("anchor")
      if a.isMissingNode || a.isNull || !a.isObject || !a.has("start_char")
    } yield Option(optText(n, "id")).getOrElse("unknown")

    // 5. semantic sanity (:242-288)
    val seenTexts = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(String, String)]]
    for (sec <- Seq("facts", "concepts", "issues", "arguments", "holdings"); n <- arr(root, sec)) {
      val text = Option(optText(n, "text")).getOrElse("")
      val normalized = text.take(100).toLowerCase.trim.replaceAll("\\s+", " ")
      if (normalized.nonEmpty)
        seenTexts.getOrElseUpdate(normalized, scala.collection.mutable.ArrayBuffer.empty) +=
          ((sec, Option(optText(n, "id")).getOrElse("unknown")))
    }
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val duplicates = seenTexts.filter(_._2.length > 1)
    for ((_, nodes) <- duplicates) {
      // Python's repr of the (section, id) tuple list
      val repr = nodes.map { case (s, i) => s"('$s', '$i')" }.mkString("[", ", ", "]")
      warnings += s"Duplicate text found: $repr"
    }
    val actors = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (a <- arr(root, "arguments"); act = optText(a, "actor"); if act != null && act.nonEmpty)
      actors(act) = actors.getOrElse(act, 0) + 1
    var invalidConcepts = 0
    for (c <- arr(root, "concepts"); cid = optText(c, "concept_id"); if cid != null && cid.nonEmpty)
      if (!cid.startsWith("UNLISTED_") && !validConceptIds.contains(cid)) {
        invalidConcepts += 1
        warnings += s"Invalid concept_id: $cid"
      }

    val score = qualityScore(edgeValidity, connectivity, issuesResolved,
      warnings.length, missingAnchor.length)

    EvalResult(
      caseId = caseId,
      edgeValidityRate = pyRound(edgeValidity, 4),
      invalidEdgeCount = invalidPatterns.length,
      invalidEdgePatterns = invalidPatterns.toSeq,
      connectivityRate = pyRound(connectivity, 4),
      orphanCount = orphans.length,
      orphanNodes = orphans.sorted,
      issuesResolvedRate = pyRound(issuesResolved, 4),
      holdingsConnectedRate = pyRound(holdingsConnected, 4),
      unresolvedIssues = unresolved.sorted,
      missingAnchorCount = missingAnchor.length,
      missingAnchorNodes = missingAnchor,
      warningsCount = warnings.length,
      warningsFirst10 = warnings.take(10).toSeq,
      duplicateCount = duplicates.size,
      actorDistribution = actors.toMap,
      invalidConceptCount = invalidConcepts,
      qualityScore = score,
      nodeCounts = (Sections.map(s => s -> arr(root, s).size) ++
        Seq("edges" -> edges.size, "reasoning_chains" -> arr(root, "reasoning_chains").size)).toMap)
  }

  private val mapper = new ObjectMapper()

  def evaluateJson(json: String, validConceptIds: Set[String], fallbackId: String): Option[EvalResult] =
    try Some(evaluate(mapper.readTree(json), validConceptIds, fallbackId))
    catch { case _: Exception => None }

  /** Valid concept ids from a compiled-ontology JSON (load_ontology, :77-87). */
  def ontologyConceptIds(json: String): Set[String] = {
    val root = mapper.readTree(json)
    val c = root.path("concepts")
    if (!c.isObject) Set.empty
    else c.fieldNames().asScala.toSet
  }

  /** Distributed corpus evaluation: one published graph JSON per task row. */
  def evalCorpus(spark: SparkSession, dir: String,
                 validConceptIds: Set[String]): Dataset[EvalResult] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[EvalResult]
    implicit val tupEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
    val ids = spark.sparkContext.broadcast(validConceptIds)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.json")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .filter(r => !r._1.endsWith("checkpoint.json"))
      .mapPartitions(_.flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".json")
        evaluateJson(new String(bytes, java.nio.charset.StandardCharsets.UTF_8), ids.value, base)
      })
  }

  /** Corpus summary (main, :438-499). NOTE the reference counts invalid
    * edge patterns from each case's FIRST FIVE only (it aggregates the
    * truncated per-case lists) — mirrored verbatim. */
  def summary(results: Dataset[EvalResult]): DataFrame = {
    val df = results.toDF()
    df.agg(
      count(lit(1)).as("valid_cases"),
      round(avg(col("edgeValidityRate")), 4).as("edge_validity_rate"),
      round(avg(col("connectivityRate")), 4).as("connectivity_rate"),
      round(avg(col("issuesResolvedRate")), 4).as("issues_resolved_rate"),
      round(avg(col("holdingsConnectedRate")), 4).as("holdings_connected_rate"),
      round(avg(col("qualityScore")), 4).as("quality_score"))
  }

  /** most_common_invalid_edge_patterns (top-10 by count): aggregated from
    * the first five invalid patterns per case, like the reference. */
  def commonInvalidPatterns(results: Dataset[EvalResult]): DataFrame =
    results.toDF()
      .select(explode(slice(col("invalidEdgePatterns"), 1, 5)).as("pattern"))
      .groupBy(col("pattern")).count()
      .orderBy(col("count").desc, col("pattern").asc)
      .limit(10)
}
