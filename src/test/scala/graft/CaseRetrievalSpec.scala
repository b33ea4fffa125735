package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.kg.query.CaseRetrieval
import graft.kg.query.CaseRetrieval._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** CaseRetrieval vs the PUBLISHED eval_concept_retrieval.py, fixture-exact:
  * the fixture is generated by running the published script's functions on
  * 60 published graphs with labels from the published structured corpus
  * (scripts/gen_caseretrieval_fixture.py); the text channel runs in the
  * reference's defined no-sklearn fallback mode (family Jaccard). Float
  * comparisons use 1e-9: the reference sums over Python sets whose
  * iteration order is hash-seed dependent, so its own last-ulp results vary
  * per process. */
class CaseRetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("graft-caseretrieval-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val mapper = new ObjectMapper()
  private lazy val fx: JsonNode = mapper.readTree(
    getClass.getResourceAsStream("/graft/caseretrieval_fixture.json"))

  private def mapOf(n: JsonNode): Map[String, Double] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
  private def imapOf(n: JsonNode): Map[String, Int] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
  private def seqOf(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  private lazy val profiles: Seq[Profile] = {
    val labels = fx.path("labels")
    fx.path("profiles").elements().asScala.map { _.path("case_id").asText() }.toSeq
      .map { cid =>
        val g = mapper.readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/root/reference/iltur_graphs/$cid.json")))
        extractProfile(g, Some(labels.path(cid).asInt()))
      }
  }

  /** The fixture's own profiles, read field by field (every channel plus
    * `concept_text` and `full_case_text`): the input for checks that need
    * realistic profiles but not the reference graphs. `conceptOrder` is the
    * key order of `all_concepts`, which the generator wrote in the
    * reference's insertion order. */
  private lazy val fixtureProfiles: Seq[Profile] =
    fx.path("profiles").elements().asScala.map { pj =>
      val outcome = pj.path("outcome")
      Profile(
        caseId = pj.path("case_id").asText(),
        label = Some(pj.path("label").asInt()),
        ontologyConcepts = mapOf(pj.path("ontology_concepts")),
        statuteFamilies = mapOf(pj.path("statute_families")),
        allConcepts = mapOf(pj.path("all_concepts")),
        conceptOrder = pj.path("all_concepts").fieldNames().asScala.toVector,
        schemes = imapOf(pj.path("schemes")),
        precedentCitations = seqOf(pj.path("precedent_citations")).toSet,
        factTypes = imapOf(pj.path("fact_types")),
        edgeTypes = imapOf(pj.path("edge_types")),
        outcome = if (outcome.isTextual) Some(outcome.asText()) else None,
        conceptText = pj.path("concept_text").asText(),
        fullCaseText = pj.path("full_case_text").asText())
    }.toSeq

  private def near(a: Double, b: Double, tol: Double = 1e-9) = math.abs(a - b) <= tol

  test("concept-token normalization and statute families are string-exact") {
    assume(new java.io.File("/root/reference/iltur_graphs").isDirectory)
    var n = 0
    for (e <- fx.path("concept_tokens").fields().asScala) {
      assert(normalizeConceptTokens(e.getKey).toSeq.sorted == seqOf(e.getValue), e.getKey)
      n += 1
    }
    assert(n > 100)
    for (e <- fx.path("concept_families").fields().asScala) {
      val exp = if (e.getValue.isNull) None else Some(e.getValue.asText())
      assert(extractStatuteFamily(e.getKey) == exp, e.getKey)
    }
  }

  test("profile extraction matches the reference field-exactly (60 graphs)") {
    assume(new java.io.File("/root/reference/iltur_graphs").isDirectory)
    val byId = profiles.map(p => p.caseId -> p).toMap
    for (pj <- fx.path("profiles").elements().asScala) {
      val cid = pj.path("case_id").asText()
      val p = byId(cid)
      assert(p.label.contains(pj.path("label").asInt()), cid)
      assert(p.ontologyConcepts == mapOf(pj.path("ontology_concepts")), cid)
      assert(p.statuteFamilies == mapOf(pj.path("statute_families")), cid)
      assert(p.allConcepts == mapOf(pj.path("all_concepts")), cid)
      assert(p.schemes == imapOf(pj.path("schemes")), cid)
      assert(p.precedentCitations == seqOf(pj.path("precedent_citations")).toSet, cid)
      assert(p.factTypes == imapOf(pj.path("fact_types")), cid)
      assert(p.edgeTypes == imapOf(pj.path("edge_types")), cid)
      assert(p.conceptText == pj.path("concept_text").asText(), cid)
      assert(p.fullCaseText == pj.path("full_case_text").asText(), cid)
    }
  }

  test("IDFs and all pairwise similarity channels match (1770 pairs)") {
    assume(new java.io.File("/root/reference/iltur_graphs").isDirectory)
    val (ontoIdf, familyIdf) = idfMulti(profiles)
    for ((k, v) <- mapOf(fx.path("onto_idf"))) assert(near(ontoIdf(k), v), k)
    for ((k, v) <- mapOf(fx.path("family_idf"))) assert(near(familyIdf(k), v), k)
    val byId = profiles.map(p => p.caseId -> p).toMap
    val fuzzy = new FuzzyConceptIndex(profiles)
    var n = 0
    for (pj <- fx.path("pairs").elements().asScala) {
      val a = byId(pj.path("a").asText()); val b = byId(pj.path("b").asText())
      assert(near(fuzzy.fuzzyConceptSimilarity(a, b), pj.path("fuzzy").asDouble()), s"fuzzy $a $b")
      assert(near(weightedJaccard(a.statuteFamilies, b.statuteFamilies, familyIdf),
        pj.path("family_jac").asDouble()), "family")
      assert(near(weightedJaccard(a.ontologyConcepts, b.ontologyConcepts, ontoIdf),
        pj.path("onto_jac").asDouble()), "onto")
      assert(near(precedentOverlap(a, b), pj.path("precedent").asDouble()), "precedent")
      assert(near(counterCosine(a.schemes, b.schemes), pj.path("scheme_cos").asDouble()), "scheme")
      assert(near(counterCosine(a.factTypes, b.factTypes), pj.path("fact_cos").asDouble()), "fact")
      assert(near(counterCosine(a.edgeTypes, b.edgeTypes), pj.path("edge_cos").asDouble()), "edge")
      assert(near(combinedSimilarity(a, b, Weights(), ontoIdf, familyIdf, fuzzy, None),
        pj.path("combined_default").asDouble()), "combined")
      n += 1
    }
    assert(n == 1770)
  }

  test("top-k retrieval order and LOO predictions replay exactly") {
    assume(new java.io.File("/root/reference/iltur_graphs").isDirectory)
    val (ontoIdf, familyIdf) = idfMulti(profiles)
    val fuzzy = new FuzzyConceptIndex(profiles)
    val k = fx.path("k").asInt()
    for ((rj, i) <- fx.path("retrieval").elements().asScala.toSeq.zipWithIndex) {
      val qp = profiles(i)
      assert(qp.caseId == rj.path("query").asText())
      val rem = profiles.zipWithIndex.collect { case (p, j) if j != i => p }
      val nbrs = retrieveSimilar(qp, rem, k, Weights(), ontoIdf, familyIdf, fuzzy, None)
      val exp = rj.path("neighbors").elements().asScala.toSeq
      assert(nbrs.size == exp.size, qp.caseId)
      for ((n, e) <- nbrs.zip(exp)) {
        assert(n.caseId == e.path("case_id").asText(), s"${qp.caseId} order")
        assert(near(n.similarity, e.path("similarity").asDouble()), s"${qp.caseId} sim")
        assert(n.sharedFamilies == seqOf(e.path("shared_families")), s"${qp.caseId} fams")
      }
    }
    // leave-one-out: per-method probs/preds arrays + fixed/optimal metrics
    val loo = leaveOneOut(profiles, k, Weights(), None, None)
    for (m <- Methods) {
      val r = loo(m)
      val ej = fx.path("loo").path(m)
      val expProbs = ej.path("probs").elements().asScala.map(_.asDouble()).toSeq
      val expPreds = ej.path("preds").elements().asScala.map(_.asDouble().toInt).toSeq
      assert(r.probs.size == expProbs.size)
      for (((g, e), idx) <- r.probs.zip(expProbs).zipWithIndex)
        assert(near(g, e), s"$m prob $idx")
      assert(r.preds == expPreds, s"$m preds")
      val em = fx.path("metrics").path(m)
      val fixed = r.fixed
      assert(near(fixed.accuracy, em.path("fixed").path("accuracy").asDouble()), s"$m acc")
      assert(near(fixed.f1, em.path("fixed").path("f1").asDouble()), s"$m f1")
      val (optT, opt) = r.optimal
      assert(near(optT, em.path("opt_threshold").asDouble(), 1e-9), s"$m t*")
      assert(near(opt.f1, em.path("opt").path("f1").asDouble()), s"$m opt f1")
      assert(near(opt.accuracy, em.path("opt").path("accuracy").asDouble()), s"$m opt acc")
    }
    // and the Spark-parallel LOO agrees with the inline one
    val looSpark = leaveOneOut(profiles, k, Weights(), None, Some(spark))
    for (m <- Methods) {
      assert(looSpark(m).preds == loo(m).preds, s"$m spark preds")
      assert(looSpark(m).probs.zip(loo(m).probs).forall(x => near(x._1, x._2)), s"$m spark probs")
    }
  }

  test("text tf-idf channel: formula-exact on a hand-computed corpus") {
    import graft.kg.query.CaseTextTfidf
    val stop = Set("the", "a")
    // corpus: 3 docs; vocab after min_df=2 keeps terms in >= 2 docs
    val idx = CaseTextTfidf.build(Seq(
      ("d1", "the cat sat on the mat"),
      ("d2", "the cat ate the fish"),
      ("d3", "dogs and cats play")), stop, maxFeatures = 5000, minDf = 1)
    // tokens >= 2 chars: d1 = cat sat on mat (+bigrams of filtered seq)
    // self-similarity is 1 (l2-normalized), symmetric, in [0,1]
    for (d <- Seq("d1", "d2", "d3")) assert(math.abs(idx.similarity(d, d) - 1.0) < 1e-12)
    assert(idx.similarity("d1", "d2") == idx.similarity("d2", "d1"))
    assert(idx.similarity("d1", "d2") > 0) // share "cat"
    assert(idx.similarity("d1", "d3") == 0.0) // no shared surviving term
    assert(idx.similarity("d1", "nope") == 0.0)
    // hand-check one weight path: n=3; "cat" df=2 -> idf = ln(4/3)+1; unique
    // bigrams have df=1, idf = ln(2)+1; d2 vector: cat + (ate, fish) + bigrams
    val idfCat = math.log(4.0 / 3.0) + 1
    val idfUniq = math.log(2.0) + 1
    // d1: terms cat,sat,on,mat + 3 bigrams, each tf=1 -> weight=idf
    val d1w = Seq(idfCat) ++ Seq.fill(6)(idfUniq)
    val norm1 = math.sqrt(d1w.map(x => x * x).sum)
    // d2: cat,ate,fish + 2 bigrams
    val d2w = Seq(idfCat) ++ Seq.fill(4)(idfUniq)
    val norm2 = math.sqrt(d2w.map(x => x * x).sum)
    val expected = (idfCat / norm1) * (idfCat / norm2)
    assert(math.abs(idx.similarity("d1", "d2") - expected) < 1e-12)
    // min_df=2 drops every unique term -> only "cat" survives
    val idx2 = CaseTextTfidf.build(Seq(
      ("d1", "the cat sat on the mat"),
      ("d2", "the cat ate the fish"),
      ("d3", "dogs and cats play")), stop, minDf = 2)
    assert(idx2.vocabularySize == 1)
    assert(math.abs(idx2.similarity("d1", "d2") - 1.0) < 1e-12)
    // max_features keeps top by corpus count, ties alphabetical
    val idx3 = CaseTextTfidf.build(Seq(
      ("a", "xx yy"), ("b", "xx zz"), ("c", "xx yy zz aa")), Set.empty,
      maxFeatures = 2, minDf = 1)
    assert(idx3.vocabularySize == 2) // "xx"(3) + one of count-2 ties... "xx yy"? counts: xx=3, yy=2, zz=2, bigrams=1 each -> top2 = xx, yy (alphabetical tie-break yy < zz)
    assert(idx3.similarity("a", "b") > 0)    // share xx
    assert(idx3.similarity("a", "c") > idx3.similarity("b", "c")) // a,c also share yy
    // end-to-end: LOO with the text channel on the fixture profiles runs
    // and yields valid probabilities
    val ts = CaseTextTfidf.textSim(fixtureProfiles, stop)
    val loo = leaveOneOut(fixtureProfiles, 10, Weights(), Some(ts), None)
    for (m <- Methods; p <- loo(m).probs) assert(p >= 0.0 && p <= 1.0)
  }

  test("leaveOneOut refuses corpus-scale profile sets with a clear message") {
    val p = CaseRetrieval.Profile("c", Some(1), Map.empty, Map.empty, Map.empty,
      Vector.empty, Map.empty, Set.empty, Map.empty, Map.empty, None, "", "")
    val big = Vector.fill(CaseRetrieval.MaxLooProfiles + 1)(p)
    val ex = intercept[IllegalArgumentException](leaveOneOut(big))
    assert(ex.getMessage.contains("retrieveSimilar"))
  }

  test("roc auc: hand-checked values incl. ties") {
    assert(near(rocAuc(Seq(0, 0, 1, 1), Seq(0.1, 0.4, 0.35, 0.8)), 0.75))
    assert(near(rocAuc(Seq(0, 1), Seq(0.5, 0.5)), 0.5))
    assert(near(rocAuc(Seq(0, 0, 1, 1), Seq(0.1, 0.2, 0.3, 0.4)), 1.0))
  }
}
