package graft

import graft.kg.eval.DensityValidation
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** DensityValidation statistics vs an externally computed fixture: the
  * expected r/t/z/p/d values below were produced by an independent Python
  * implementation of the reference's formulas
  * (cross_domain_density_validation.py:123-219 — Pearson/point-biserial,
  * np.percentile + digitize quartiles, two-proportion z, Student t,
  * Cohen's d) with a Numerical-Recipes incomplete-beta for the t CDF. */
class DensityValidationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("graft-density-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val n = 100
  private val density = Array.tabulate(n)(i => ((i * 37) % 100) / 25.0 + (i % 2) * 0.8)
  private val accuracy = Array.tabulate(n)(i => if ((i * 7) % 10 < 4) 1 else 0)
  private val tokens = Array.tabulate(n)(i => 100.0 + (i * 13) % 50)

  private def df = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i, density(i), tokens(i), accuracy(i)))
      .toDF("doc_id", "density", "tokens", "accuracy")
  }

  test("point-biserial correlation matches the independent fixture") {
    val c = DensityValidation.pointBiserial(df, "accuracy", "density")
    assert(math.abs(c.r - -0.07975578946272606) < 1e-9, c.r)
    assert(math.abs(c.t - -0.792065210665207) < 1e-9, c.t)
    assert(math.abs(c.p - 0.4302357637913429) < 1e-7, c.p)
  }

  test("np.percentile replica is linear-interpolation exact") {
    val sorted = density.sorted
    assert(math.abs(DensityValidation.percentile(sorted, 25) - 1.39) < 1e-12)
    assert(math.abs(DensityValidation.percentile(sorted, 50) - 2.38) < 1e-12)
    assert(math.abs(DensityValidation.percentile(sorted, 75) - 3.37) < 1e-12)
  }

  test("quartile analysis (digitize bins, two-proportion z) matches fixture") {
    val rep = DensityValidation.quartileAnalysis(density, accuracy)
    assert(rep.rows.map(_.n) == Seq(25L, 25L, 25L, 25L))
    assert(rep.rows.map(_.accuracy) == Seq(0.48, 0.32, 0.48, 0.32))
    assert(math.abs(rep.rows(1).meanDensity - 1.88) < 1e-12)
    assert(math.abs(rep.z - -1.1547005383792512) < 1e-9, rep.z)
    assert(math.abs(rep.p - 0.24821307898992373) < 1e-7, rep.p)
  }

  test("correct-vs-incorrect Student t + Cohen's d matches fixture") {
    val g = DensityValidation.correctVsIncorrect(df, "accuracy", "tokens")
    assert(math.abs(g.meanCorrect - 126.0) < 1e-9)
    assert(math.abs(g.meanIncorrect - 123.5) < 1e-9)
    assert(math.abs(g.t - 0.8432103104027656) < 1e-9, g.t)
    assert(math.abs(g.p - 0.401164221566884) < 1e-7, g.p)
    assert(math.abs(g.d - 0.1721195838617162) < 1e-9, g.d)
  }

  test("REPLAYS the published cross-domain density results exactly") {
    // the reference cached its SpaCy density features per sampled case
    // (density_cache_n500.json) and published the resulting statistics
    // (cross_domain_density_results.json); re-running our ported stats over
    // the cached features + the published prediction files must reproduce
    // the published r/p/t/d values for all 4 model×condition pairs
    val refDir = new java.io.File("/root/reference")
    assume(refDir.isDirectory && new java.io.File(refDir, "density_cache_n500.json").exists)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def load(f: String) = mapper.readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"/root/reference/$f")))
    val cache = load("density_cache_n500.json")
    val grok = load("graph_vs_raw_n2517_noscrub.json")
    val sonnet = load("graph_vs_raw_n2517_noscrub_sonnet.json")
    val expected = load("cross_domain_density_results.json")

    def accMap(results: com.fasterxml.jackson.databind.JsonNode, predField: String): Map[String, Int] =
      scala.jdk.CollectionConverters.IteratorHasAsScala(results.path("cases").elements()).asScala
        .map(c => c.path("case_id").asText() ->
          (if (c.path(predField).asInt(-9) == c.path("true_label").asInt(-8)) 1 else 0))
        .toMap
    val conds = Map(
      "raw_grok" -> accMap(grok, "raw_pred"),
      "graph_grok" -> accMap(grok, "graph_pred"),
      "raw_sonnet" -> accMap(sonnet, "raw_pred"),
      "graph_sonnet" -> accMap(sonnet, "graph_pred"))

    val ids = scala.jdk.CollectionConverters.IteratorHasAsScala(cache.fieldNames()).asScala.toSeq.sorted
    assert(ids.size == 500)
    val s = spark
    import s.implicits._
    val rows = ids.map { id =>
      val e = cache.path(id)
      (id, e.path("density").asDouble(), e.path("token_count").asDouble(),
        conds("raw_grok")(id), conds("graph_grok")(id),
        conds("raw_sonnet")(id), conds("graph_sonnet")(id))
    }
    val df = rows.toDF("case_id", "density", "tokens",
      "acc_raw_grok", "acc_graph_grok", "acc_raw_sonnet", "acc_graph_sonnet")

    for (cond <- Seq("raw_grok", "graph_grok", "raw_sonnet", "graph_sonnet")) {
      val exC = expected.path("correlations").path(cond)
      val cd = DensityValidation.pointBiserial(df, s"acc_$cond", "density")
      assert(math.abs(cd.r - exC.path("density_r").asDouble()) < 1e-9, s"$cond density_r ${cd.r}")
      assert(math.abs(cd.p - exC.path("density_p").asDouble()) < 1e-6, s"$cond density_p ${cd.p}")
      val ct = DensityValidation.pointBiserial(df, s"acc_$cond", "tokens")
      assert(math.abs(ct.r - exC.path("tokens_r").asDouble()) < 1e-9, s"$cond tokens_r ${ct.r}")
      assert(math.abs(ct.p - exC.path("tokens_p").asDouble()) < 1e-6, s"$cond tokens_p ${ct.p}")

      val exG = expected.path("correct_vs_incorrect").path(cond)
      val gd = DensityValidation.correctVsIncorrect(df, s"acc_$cond", "density")
      assert(math.abs(gd.meanCorrect - exG.path("density_correct_mean").asDouble()) < 1e-9, s"$cond dm1")
      assert(math.abs(gd.meanIncorrect - exG.path("density_incorrect_mean").asDouble()) < 1e-9, s"$cond dm0")
      assert(math.abs(gd.t - exG.path("density_t").asDouble()) < 1e-9, s"$cond dt ${gd.t}")
      assert(math.abs(gd.p - exG.path("density_p").asDouble()) < 1e-6, s"$cond dp")
      assert(math.abs(gd.d - exG.path("density_d").asDouble()) < 1e-9, s"$cond dd")
      val gt = DensityValidation.correctVsIncorrect(df, s"acc_$cond", "tokens")
      assert(math.abs(gt.t - exG.path("tokens_t").asDouble()) < 1e-9, s"$cond tt ${gt.t}")
      assert(math.abs(gt.p - exG.path("tokens_p").asDouble()) < 1e-6, s"$cond tp")
      assert(math.abs(gt.d - exG.path("tokens_d").asDouble()) < 1e-9, s"$cond td")
    }
  }

  test("quantileBinTable: approx-quantile edges + stateless digitize, no global window") {
    val s = spark
    import s.implicits._
    val docs = (0 until 200)
      .map { i =>
        // per-doc distinct vocabulary so densities are (mostly) unique —
        // with heavy ties digitize legitimately collapses bins
        val uniq = (0 to i % 17).map(j => s"w${i}x$j").mkString(" ")
        (i.toLong, s"alpha beta gamma $uniq delta. epsilon zeta " * (1 + i % 4), "en")
      }
      .toDF("doc_id", "text", "lang")

    val t = DensityValidation.quantileBinTable(docs, "doc_id", "text", "lang")
    val rows = t.collect()
    // all rows binned, 4 quartiles, deterministic under repartitioning
    assert(rows.map(_.getLong(1)).sum == 200)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val rows2 = DensityValidation
      .quantileBinTable(docs.repartition(7), "doc_id", "text", "lang").collect()
    assert(rows.map(_.toString).toSeq == rows2.map(_.toString).toSeq)

    // the benched plan must be window-free (an ntile window over a global
    // order funnels every row through one task; this one must not)
    val plan = t.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)

    // exact-regime edge semantics: element at rank ceil(p*n)
    val d = DensityValidation.perDoc(docs, "doc_id", "text", "lang")
    val dens = d.select("density").collect().map(_.getDouble(0)).sorted
    val edges = DensityValidation.quantileEdgesApprox(d, "density", Seq(0.25, 0.5, 0.75))
    val expected = Seq(0.25, 0.5, 0.75).map(p => dens(math.ceil(p * dens.length).toInt - 1))
    assert(edges.toSeq == expected, s"${edges.toSeq} vs $expected")

    // agreement with the driver-side reference analysis on bin counts:
    // digitize against rank-based vs interpolated edges may differ by at
    // most the few boundary rows between the two edge conventions
    val acc = d.select("accuracy").collect().map(_.getInt(0))
    val rep = DensityValidation.quartileAnalysis(dens, acc)
    val approxCounts = rows.map(_.getLong(1))
    rep.rows.map(_.n).zip(approxCounts).foreach { case (exact, approx) =>
      assert(math.abs(exact - approx) <= 60, s"$exact vs $approx")
    }
  }

  test("citation manifest finds planted citations with the full grammar") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "as held in Maneka Gandhi v. Union of India AIR 1978 SC 597 the rule"),
      (2L, "see AIR 1978 SC 597 and (2010) 5 SCC 100 for details"),
      (3L, "no citations here at all")).toDF("doc_id", "text")
    val m = graft.kg.rules.CitationManifest.manifest(s, docs, "doc_id", "text", "in")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m.contains(("AIR 1978 SC 597", "air", 2L)))
    assert(m.contains(("(2010) 5 SCC 100", "scc", 1L)))
  }
}
