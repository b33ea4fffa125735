package graft.kg.query

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Case-to-case retrieval + leave-one-out outcome prediction — the
  * deterministic core of the reference's eval_concept_retrieval.py (v4.1),
  * ported exactly:
  *
  *  - concept-token normalization with abbreviation expansion and section
  *    canonicalization (eval_concept_retrieval.py:85-126);
  *  - fuzzy concept similarity over best-match token Jaccard (:138-190);
  *  - statute-family profiles (:200-221) and per-signal IDFs (:356-364);
  *  - weighted Jaccard / counter cosine / precedent overlap (:410-434);
  *  - combined_similarity with the published v4.1 signal-only weights
  *    (:437-490) — the text channel is pluggable; when absent it falls back
  *    to the family Jaccard exactly like the reference without sklearn;
  *  - top-k retrieval with the reference's stable tie order (:508-527);
  *  - the four neighbor-vote prediction methods (:533-583);
  *  - fixed- and swept-threshold metrics (:586-609).
  *
  * All of the above is fixture-tested against the published script run on
  * 60 published graphs (scripts/gen_caseretrieval_fixture.py). The text
  * channel follows TfidfVectorizer's documented formula (sublinear tf,
  * smooth idf, l2, 1-2 grams, min_df, max_features by corpus frequency) in
  * [[CaseTextTfidf]]; sklearn itself is not in this container, so its
  * frozen stop list is a parameter (the formula, not the word list, is the
  * operator).
  *
  * Scale: profile extraction is per-graph (file-parallel); the LOO
  * evaluation is embarrassingly parallel per query over broadcast profiles
  * ([[leaveOneOut]] with a SparkSession) — no pairwise shuffle.
  */
object CaseRetrieval {

  val RelevanceWeight: Map[String, Double] =
    Map("central" -> 3.0, "supporting" -> 1.5, "mentioned" -> 0.5, "obiter" -> 0.25)

  val AbbrevMap: Map[String, String] = Map(
    "ipc" -> "indian_penal_code", "crpc" -> "code_criminal_procedure",
    "cpc" -> "code_civil_procedure", "coa" -> "constitution_india",
    "con" -> "constitution", "const" -> "constitution", "art" -> "article",
    "sec" -> "section", "s" -> "section", "subs" -> "subsection",
    "cl" -> "clause", "r" -> "rule", "o" -> "order", "sch" -> "schedule",
    "para" -> "paragraph", "amdt" -> "amendment")

  val LegalStop: Set[String] = Set(
    "act", "the", "of", "for", "and", "in", "to", "under", "with", "by",
    "a", "an", "on", "or")

  private val SectionRe =
    "^(?:s|sec|section|art|article|rule|order|cl|clause|para|subs|subsection)(\\d+[a-z]?)$".r

  /** eval_concept_retrieval.py:90-126. */
  def normalizeConceptTokens(conceptId: String): Set[String] = {
    val raw = if (conceptId.startsWith("UNLISTED_")) conceptId.substring(9) else conceptId
    val tokens = raw.toLowerCase.split("[_\\-\\s/]+")
    val out = scala.collection.mutable.HashSet.empty[String]
    for (tok <- tokens if tok.nonEmpty && !LegalStop.contains(tok)) {
      SectionRe.findFirstMatchIn(tok) match {
        case Some(m) => out += s"sec_${m.group(1)}"
        case None =>
          AbbrevMap.get(tok) match {
            case Some(expanded) =>
              for (sub <- expanded.split("_") if sub.nonEmpty && !LegalStop.contains(sub))
                out += sub
            case None =>
              if (tok.nonEmpty && tok.forall(_.isDigit)) out += s"sec_$tok"
              else out += tok
          }
      }
    }
    out.toSet
  }

  /** :129-135. */
  def fuzzyTokenJaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val union = (a | b).size
    if (union == 0) 0.0 else (a & b).size.toDouble / union
  }

  /** :200-205. The regex runs on the ORIGINAL-case raw id, case-insensitive. */
  private val FamilyRe = java.util.regex.Pattern.compile(
    "^(.+?)_(?:S\\d|ART\\d|SCHEDULE|SUBS\\d|RULE\\d|ORDER\\d|SEC\\d|CL\\d|PARA\\d|ITEM\\d)",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  def extractStatuteFamily(conceptId: String): Option[String] = {
    if (!conceptId.startsWith("UNLISTED_")) return None
    val raw = conceptId.substring(9)
    val m = FamilyRe.matcher(raw)
    Some("FAMILY_" + (if (m.find() && m.start() == 0) m.group(1).toUpperCase else raw.toUpperCase))
  }

  /** `conceptOrder` carries the Python-dict first-insertion order of
    * `allConcepts` — the only place iteration order is observable (the
    * fuzzy index's first-best tie rule). VectorMap would be the natural
    * container but is not java-Serializable (needed for the Spark
    * broadcast). */
  final case class Profile(
      caseId: String,
      label: Option[Int],
      ontologyConcepts: Map[String, Double],
      statuteFamilies: Map[String, Double],
      allConcepts: Map[String, Double],
      conceptOrder: Vector[String],
      schemes: Map[String, Int],
      precedentCitations: Set[String],
      factTypes: Map[String, Int],
      edgeTypes: Map[String, Int],
      outcome: Option[String],
      conceptText: String,
      fullCaseText: String)

  private def arr(g: JsonNode, f: String): Seq[JsonNode] = {
    val a = g.path(f)
    if (!a.isArray) Nil else a.elements().asScala.toSeq
  }

  private def str(n: JsonNode, f: String): Option[String] = {
    val v = n.path(f)
    if (v.isTextual) Some(v.asText()) else None
  }

  private def strippedParts(parts: Seq[Option[String]]): Seq[String] =
    parts.flatten.map(_.trim).filter(_.nonEmpty)

  /** build_concept_text (:224-234). */
  def buildConceptText(concepts: Seq[JsonNode]): String =
    concepts.flatMap { c =>
      strippedParts(Seq(str(c, "unlisted_label"), str(c, "unlisted_description"),
        str(c, "interpretation"))) ++
        str(c, "concept_id").filter(_.nonEmpty)
          .map(_.replace("UNLISTED_", "").replace("_", " ")).toSeq
    }.mkString(" ")

  /** build_full_case_text (:237-294). */
  def buildFullCaseText(g: JsonNode): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (f <- arr(g, "facts")) parts ++= strippedParts(Seq(str(f, "text")))
    for (i <- arr(g, "issues")) parts ++= strippedParts(Seq(str(i, "text")))
    for (a <- arr(g, "arguments"))
      parts ++= strippedParts(Seq(str(a, "claim"), str(a, "court_reasoning")))
    for (h <- arr(g, "holdings"))
      parts ++= strippedParts(Seq(str(h, "text"), str(h, "reasoning_summary")))
    for (c <- arr(g, "concepts"))
      parts ++= strippedParts(Seq(str(c, "unlisted_label"),
        str(c, "unlisted_description"), str(c, "interpretation")))
    for (p <- arr(g, "precedents"))
      parts ++= strippedParts(Seq(str(p, "cited_proposition")))
    parts.mkString(" ")
  }

  /** extract_concept_profile (:320-353). */
  def extractProfile(g: JsonNode, label: Option[Int]): Profile = {
    val all = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val onto = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val families = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val concepts = arr(g, "concepts")
    for (c <- concepts; cid <- str(c, "concept_id")) {
      val w = RelevanceWeight.getOrElse(str(c, "relevance").getOrElse("mentioned"), 0.5)
      all(cid) = math.max(all.getOrElse(cid, 0.0), w)
      if (!cid.startsWith("UNLISTED_"))
        onto(cid) = math.max(onto.getOrElse(cid, 0.0), w)
    }
    for (c <- concepts; cid <- str(c, "concept_id"); fam <- extractStatuteFamily(cid)) {
      val w = RelevanceWeight.getOrElse(str(c, "relevance").getOrElse("mentioned"), 0.5)
      families(fam) = math.max(families.getOrElse(fam, 0.0), w)
    }
    val schemes = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (a <- arr(g, "arguments"); s <- arr(a, "schemes") if s.isTextual)
      schemes(s.asText()) = schemes.getOrElse(s.asText(), 0) + 1
    val precedents = arr(g, "precedents").flatMap(p => str(p, "citation")).toSet
    val factTypes = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (f <- arr(g, "facts"); t <- str(f, "fact_type"))
      factTypes(t) = factTypes.getOrElse(t, 0) + 1
    val edgeTypes = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (e <- arr(g, "edges"); r <- str(e, "relation"))
      edgeTypes(r) = edgeTypes.getOrElse(r, 0) + 1
    val outcome = {
      val o = g.path("outcome")
      if (o.isObject) str(o, "disposition") else None
    }
    Profile(
      caseId = str(g, "case_id").getOrElse("unknown"),
      label = label,
      ontologyConcepts = onto.toMap,
      statuteFamilies = families.toMap,
      allConcepts = all.toMap,
      conceptOrder = all.keys.toVector,
      schemes = schemes.toMap,
      precedentCitations = precedents,
      factTypes = factTypes.toMap,
      edgeTypes = edgeTypes.toMap,
      outcome = outcome,
      conceptText = buildConceptText(concepts),
      fullCaseText = buildFullCaseText(g))
  }

  /** compute_idf_multi (:356-364). */
  def idfMulti(profiles: Seq[Profile]): (Map[String, Double], Map[String, Double]) = {
    val n = profiles.size
    if (n == 0) return (Map.empty, Map.empty)
    val ontoDf = scala.collection.mutable.HashMap.empty[String, Int]
    val famDf = scala.collection.mutable.HashMap.empty[String, Int]
    for (p <- profiles) {
      for (c <- p.ontologyConcepts.keys) ontoDf(c) = ontoDf.getOrElse(c, 0) + 1
      for (f <- p.statuteFamilies.keys) famDf(f) = famDf.getOrElse(f, 0) + 1
    }
    (ontoDf.map { case (c, d) => c -> math.log(n.toDouble / (1 + d)) }.toMap,
      famDf.map { case (f, d) => f -> math.log(n.toDouble / (1 + d)) }.toMap)
  }

  /** _weighted_jaccard (:410-418). */
  def weightedJaccard(a: Map[String, Double], b: Map[String, Double],
                      idf: Map[String, Double] = null): Double = {
    val shared = a.keySet & b.keySet
    val union = a.keySet | b.keySet
    if (union.isEmpty) return 0.0
    if (idf != null && shared.nonEmpty) {
      val n = shared.toSeq.map(c => idf.getOrElse(c, 1.0) * math.min(a(c), b(c))).sum
      val d = union.toSeq.map(c =>
        idf.getOrElse(c, 1.0) * math.max(a.getOrElse(c, 0.0), b.getOrElse(c, 0.0))).sum
      if (d > 0) n / d else 0.0
    } else shared.size.toDouble / union.size
  }

  /** _cosine over count maps (:421-427); a zero magnitude reads as 1 like
    * the reference's `or 1`. */
  def counterCosine(a: Map[String, Int], b: Map[String, Int]): Double = {
    val keys = a.keySet | b.keySet
    if (keys.isEmpty) return 0.0
    val dot = keys.toSeq.map(k => a.getOrElse(k, 0).toDouble * b.getOrElse(k, 0)).sum
    val na = math.sqrt(a.values.map(v => v.toDouble * v).sum)
    val nb = math.sqrt(b.values.map(v => v.toDouble * v).sum)
    dot / ((if (na == 0) 1.0 else na) * (if (nb == 0) 1.0 else nb))
  }

  /** precedent_overlap (:430-434). */
  def precedentOverlap(a: Profile, b: Profile): Double = {
    if (a.precedentCitations.isEmpty && b.precedentCitations.isEmpty) return 0.0
    val u = a.precedentCitations | b.precedentCitations
    if (u.isEmpty) 0.0 else (a.precedentCitations & b.precedentCitations).size.toDouble / u.size
  }

  /** Fuzzy concept index (:138-190): per-case token sets precomputed;
    * first-best ties follow concept insertion order like Python dicts. */
  final class FuzzyConceptIndex(profiles: Seq[Profile], val threshold: Double = 0.25) {
    private val caseTokens: Map[String, Seq[(String, Set[String])]] =
      profiles.map(p =>
        p.caseId -> p.conceptOrder.map(cid => cid -> normalizeConceptTokens(cid))).toMap

    def fuzzyConceptSimilarity(a: Profile, b: Profile): Double = {
      val ta = caseTokens.getOrElse(a.caseId, Nil)
      val tb = caseTokens.getOrElse(b.caseId, Nil)
      if (ta.isEmpty || tb.isEmpty) return 0.0
      var total = 0.0
      for ((cidA, toksA) <- ta) {
        val wA = a.allConcepts.getOrElse(cidA, 0.5)
        var bestSim = 0.0
        var bestWB = 0.0
        for ((cidB, toksB) <- tb) {
          val sim = fuzzyTokenJaccard(toksA, toksB)
          if (sim > bestSim) { bestSim = sim; bestWB = b.allConcepts.getOrElse(cidB, 0.5) }
        }
        if (bestSim >= threshold) total += bestSim * math.min(wA, bestWB)
      }
      val possible = a.allConcepts.values.sum
      if (possible == 0) 0.0 else math.min(total / possible, 1.0)
    }
  }

  /** combined_similarity v4.1 (:437-490). `textSim` pluggable; None with
    * w_text > 0 falls back to the family Jaccard like the reference. */
  final case class Weights(
      text: Double = 0.55, fuzzy: Double = 0.35, family: Double = 0.10,
      precedent: Double = 0.0, scheme: Double = 0.0, edgeType: Double = 0.0,
      factType: Double = 0.0, ontology: Double = 0.0)

  def combinedSimilarity(
      a: Profile, b: Profile, w: Weights,
      ontoIdf: Map[String, Double], familyIdf: Map[String, Double],
      fuzzy: FuzzyConceptIndex,
      textSim: Option[(String, String) => Double] = None): Double = {
    var sim = 0.0
    if (fuzzy != null && w.fuzzy > 0) sim += w.fuzzy * fuzzy.fuzzyConceptSimilarity(a, b)
    if (w.ontology > 0) sim += w.ontology * weightedJaccard(a.ontologyConcepts, b.ontologyConcepts, ontoIdf)
    if (w.family > 0) sim += w.family * weightedJaccard(a.statuteFamilies, b.statuteFamilies, familyIdf)
    if (w.text > 0) textSim match {
      case Some(ts) => sim += w.text * ts(a.caseId, b.caseId)
      case None => sim += w.text * weightedJaccard(a.statuteFamilies, b.statuteFamilies, familyIdf)
    }
    if (w.precedent > 0) sim += w.precedent * precedentOverlap(a, b)
    if (w.scheme > 0) sim += w.scheme * counterCosine(a.schemes, b.schemes)
    if (w.factType > 0) sim += w.factType * counterCosine(a.factTypes, b.factTypes)
    if (w.edgeType > 0) sim += w.edgeType * counterCosine(a.edgeTypes, b.edgeTypes)
    sim
  }

  final case class Neighbor(
      caseId: String, similarity: Double, label: Option[Int], outcome: Option[String],
      sharedConcepts: Seq[String], sharedFamilies: Seq[String], sharedPrecedents: Seq[String])

  /** retrieve_similar (:508-527): sort by similarity desc, STABLE — ties
    * keep corpus order, like Python's sort. */
  def retrieveSimilar(
      query: Profile, corpus: Seq[Profile], k: Int, w: Weights,
      ontoIdf: Map[String, Double], familyIdf: Map[String, Double],
      fuzzy: FuzzyConceptIndex,
      textSim: Option[(String, String) => Double] = None): Seq[Neighbor] = {
    val scored = corpus.filter(_.caseId != query.caseId)
      .map(p => (combinedSimilarity(query, p, w, ontoIdf, familyIdf, fuzzy, textSim), p))
    scored.sortBy(-_._1).take(k).map { case (sim, p) =>
      Neighbor(p.caseId, sim, p.label, p.outcome,
        (query.ontologyConcepts.keySet & p.ontologyConcepts.keySet).toSeq.sorted,
        (query.statuteFamilies.keySet & p.statuteFamilies.keySet).toSeq.sorted,
        (query.precedentCitations & p.precedentCitations).toSeq.sorted)
    }
  }

  /** predict_from_neighbors (:533-583). Returns (pred, prob). */
  def predict(neighbors: Seq[Neighbor], method: String,
              familyIdf: Map[String, Double], threshold: Double = 0.5): (Int, Double) = {
    if (neighbors.isEmpty) return (0, 0.5)
    method match {
      case "majority_vote" =>
        val votes = neighbors.flatMap(_.label)
        if (votes.isEmpty) return (0, 0.5)
        val prob = votes.sum.toDouble / votes.size
        (if (prob >= threshold) 1 else 0, prob)
      case "weighted_vote" =>
        var wa = 0.0; var wr = 0.0
        for (n <- neighbors; l <- n.label) {
          val w = math.max(n.similarity, 0.0)
          if (l == 1) wa += w else wr += w
        }
        val t = wa + wr
        if (t == 0) (0, 0.5) else {
          val prob = wa / t
          (if (prob >= threshold) 1 else 0, prob)
        }
      case "distance_decay_vote" =>
        var wa = 0.0; var wr = 0.0
        for ((n, rank) <- neighbors.zipWithIndex; l <- n.label) {
          val w = math.max(n.similarity, 0.0) * math.exp(-0.3 * rank)
          if (l == 1) wa += w else wr += w
        }
        val t = wa + wr
        if (t == 0) (0, 0.5) else {
          val prob = wa / t
          (if (prob >= threshold) 1 else 0, prob)
        }
      case "family_cluster_aggregate" =>
        val fs = scala.collection.mutable.HashMap.empty[String, (Double, Double)]
        for (n <- neighbors; l <- n.label; fid <- n.sharedFamilies) {
          val fw = familyIdf.getOrElse(fid, 1.0)
          val (a0, r0) = fs.getOrElse(fid, (0.0, 0.0))
          fs(fid) = if (l == 1) (a0 + fw, r0) else (a0, r0 + fw)
        }
        val ta = fs.values.map(_._1).sum
        val tr = fs.values.map(_._2).sum
        val t = ta + tr
        val prob = if (t > 0) ta / t else 0.5
        (if (prob >= threshold) 1 else 0, prob)
      case other => throw new IllegalArgumentException(s"Unknown: $other")
    }
  }

  final case class Metrics(accuracy: Double, f1: Double, precision: Double, recall: Double)

  /** _compute_metrics_at_threshold (:586-597). */
  def metricsAt(trues: Seq[Int], probs: Seq[Double], threshold: Double): Metrics = {
    val preds = probs.map(p => if (p >= threshold) 1 else 0)
    val acc = preds.zip(trues).count(x => x._1 == x._2).toDouble / trues.size
    val tp = preds.zip(trues).count(x => x._1 == 1 && x._2 == 1)
    val fp = preds.zip(trues).count(x => x._1 == 1 && x._2 == 0)
    val fn = preds.zip(trues).count(x => x._1 == 0 && x._2 == 1)
    val pr = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
    val rc = if (tp + fn > 0) tp.toDouble / (tp + fn) else 0.0
    val f1 = if (pr + rc > 0) 2 * pr * rc / (pr + rc) else 0.0
    Metrics(acc, f1, pr, rc)
  }

  /** find_optimal_threshold (:600-609): np.arange(0.20, 0.80, 0.01) — which
    * yields 61 float64 values 0.2 + 0.01·i for i in 0..60 (the last one is
    * 0.8000000000000005, included by numpy's ceil length rule) — first
    * strictly-better wins. */
  def optimalThreshold(trues: Seq[Int], probs: Seq[Double], metric: String = "f1"): (Double, Double) = {
    var bestT = 0.5; var bestV = 0.0
    var t = 0.20 // numpy accumulates start += step (verified), not start + i*step
    var i = 0
    while (i <= 60) {
      val m = metricsAt(trues, probs, t)
      val v = metric match {
        case "f1" => m.f1
        case "accuracy" => m.accuracy
        case "precision" => m.precision
        case "recall" => m.recall
      }
      if (v > bestV) { bestV = v; bestT = t }
      t += 0.01
      i += 1
    }
    (bestT, bestV)
  }

  /** ROC AUC via the Mann-Whitney statistic with average ranks for ties
    * (equals sklearn's roc_auc_score, which the reference reports). */
  def rocAuc(trues: Seq[Int], probs: Seq[Double]): Double = {
    val n1 = trues.count(_ == 1).toDouble
    val n0 = trues.size - n1
    require(n1 > 0 && n0 > 0, "AUC needs both classes")
    val sorted = probs.zip(trues).sortBy(_._1)
    val ranks = new Array[Double](sorted.length)
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
      val avg = (i + j + 2) / 2.0 // 1-based average rank
      for (t <- i to j) ranks(t) = avg
      i = j + 1
    }
    val r1 = sorted.indices.collect { case t if sorted(t)._2 == 1 => ranks(t) }.sum
    (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n0)
  }

  final case class LooResult(method: String, trues: Seq[Int], preds: Seq[Int], probs: Seq[Double]) {
    def fixed: Metrics = metricsAt(trues, probs, 0.5)
    def optimal: (Double, Metrics) = {
      val (t, _) = optimalThreshold(trues, probs)
      (t, metricsAt(trues, probs, t))
    }
  }

  val Methods: Seq[String] = Seq(
    "majority_vote", "weighted_vote", "distance_decay_vote", "family_cluster_aggregate")

  /** LOO is an eval-corpus operator: profiles are driver-resident and
    * broadcast (the reference's own design — its eval corpora are ≤ ~2.5k
    * cases). This cap makes corpus-scale misuse fail loudly instead of
    * OOMing the driver; for per-query retrieval over a large corpus use
    * [[retrieveSimilar]] against a distributed profile table instead. */
  val MaxLooProfiles: Int = 100000

  /** Leave-one-out evaluation (run_leave_one_out, :828-884). With a
    * SparkSession the per-query work (retrieve + 4 votes) fans out over
    * broadcast profiles — embarrassingly parallel, no pairwise shuffle;
    * without one it runs inline (fixture-scale). */
  def leaveOneOut(
      profiles: Seq[Profile], k: Int = 10, w: Weights = Weights(),
      textSim: Option[(String, String) => Double] = None,
      spark: Option[SparkSession] = None): Map[String, LooResult] = {
    require(profiles.size <= MaxLooProfiles,
      s"leaveOneOut holds all profiles on the driver and is meant for " +
        s"eval corpora (<= $MaxLooProfiles profiles); got ${profiles.size}. " +
        s"For corpus-scale retrieval use retrieveSimilar per query over a " +
        s"distributed profile table.")
    val (ontoIdf, familyIdf) = idfMulti(profiles)
    val fuzzy = new FuzzyConceptIndex(profiles)

    def one(i: Int): Seq[(String, Int, Int, Double)] = {
      val qp = profiles(i)
      val rem = profiles.zipWithIndex.collect { case (p, j) if j != i => p }
      val nbrs = retrieveSimilar(qp, rem, k, w, ontoIdf, familyIdf, fuzzy, textSim)
      Methods.map { m =>
        val (pred, prob) = predict(nbrs, m, familyIdf)
        (m, qp.label.getOrElse(-1), pred, prob)
      }
    }

    val rows: Seq[(Int, Seq[(String, Int, Int, Double)])] = spark match {
      case Some(s) =>
        val bc = s.sparkContext.broadcast((profiles, ontoIdf, familyIdf))
        // recompute the fuzzy index per partition from the broadcast
        s.sparkContext.parallelize(profiles.indices, math.min(profiles.size, 256))
          .mapPartitions { it =>
            val (ps, oi, fi) = bc.value
            val fz = new FuzzyConceptIndex(ps)
            it.map { i =>
              val qp = ps(i)
              val rem = ps.zipWithIndex.collect { case (p, j) if j != i => p }
              val nbrs = retrieveSimilar(qp, rem, k, w, oi, fi, fz, None)
              i -> Methods.map { m =>
                val (pred, prob) = predict(nbrs, m, fi)
                (m, qp.label.getOrElse(-1), pred, prob)
              }
            }
          }.collect().toSeq.sortBy(_._1)
      case None => profiles.indices.map(i => i -> one(i))
    }

    Methods.map { m =>
      val per = rows.map(_._2.find(_._1 == m).get)
      m -> LooResult(m, per.map(_._2), per.map(_._3), per.map(_._4))
    }.toMap
  }
}
