package graft.kg.eval

import org.apache.commons.math3.distribution.{NormalDistribution, TDistribution}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-domain density validation — the reference's
  * cross_domain_density_validation.py re-expressed Spark-first.
  *
  * The reference computes a per-case "information density" with a SpaCy
  * model (entities + dependency relations + clause markers per token,
  * cross_domain_density_validation.py:63-110) and then runs three
  * deterministic statistical analyses over (density, tokens, accuracy):
  * point-biserial correlations (:133-141), density-quartile accuracy with a
  * Q1-vs-Q4 two-proportion z-test (:144-185), and correct-vs-incorrect
  * Student t-tests with Cohen's d (:188-219). The SpaCy model is not in
  * this container, so the density in [[perDoc]] is a DETERMINISTIC
  * stand-in with the same shape ((entityish + relationish + clauseish) /
  * tokens); the statistics — the operator's actual substance — are ported exactly
  * (commons-math3 t/normal distributions, on the Spark classpath).
  *
  * Scale: correlations and group moments are distributed aggregates; only
  * the quartile analysis collects the density vector, mirroring the
  * reference's own bounded-sample design (SAMPLE_N = 500, :32) — at corpus
  * scale the caller samples first, exactly as the reference does.
  */
object DensityValidation {

  /** Deterministic density proxy over a text column: distinct-token count
    * stands in for entities, token count for dependency relations, and
    * punctuation marks for clause boundaries — (e + r + c) / t like the
    * reference's SpaCy formula (:89-90). */
  private def densityFromToks(toks: Column, text: Column): Column = {
    val t = size(toks).cast("double")
    val e = size(array_distinct(toks)).cast("double")
    val c = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    when(t > 0, (e + t + c) / t).otherwise(lit(0.0))
  }

  /** Per-doc table (id, density, tokens, accuracy): accuracy is the binary
    * agreement between the language-ID operator's prediction and the table
    * label — the engine's own prediction-vs-gold bit, standing in for the
    * reference's LLM outcome correctness. The token regex runs ONCE per row
    * (staged projection); density and tokens read the bound array. */
  def perDoc(df: DataFrame, idCol: String, textCol: String, langCol: String): DataFrame =
    df.select(col(idCol), col(textCol).as("_text_"), col(langCol).as("_lang_"),
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)).as("_toks_"))
      .select(
        col(idCol),
        densityFromToks(col("_toks_"), col("_text_")).as("density"),
        size(col("_toks_")).as("tokens"),
        (graft.data.TextAnalysis.langId(col("_text_")) === col("_lang_"))
          .cast("int").as("accuracy"))

  /** Quantile edges via `percentile_approx` — ONE distributed aggregate (GK
    * sketch, relative rank error 1/accuracy), no sort, no window, no
    * value-vector collect; the corpus-scale edge source for billions of
    * rows. In the exact regime (accuracy ≥ row count) the sketch returns
    * precisely the element at rank ceil(p·n), which is what the q32 DuckDB
    * oracle mirrors via ORDER BY + OFFSET; below that it is approximate
    * with bounded rank error, which binning tolerates by design. */
  def quantileEdgesApprox(
      df: DataFrame, valueCol: String, probs: Seq[Double],
      accuracy: Int = 1000000): Array[Double] =
    df.agg(expr(s"percentile_approx($valueCol, array(${probs.mkString(",")}), $accuracy)"))
      .head().getSeq[Double](0).toArray

  /** Stateless np.digitize(right = false) range assignment: bin = count of
    * edges ≤ x (0-based). Pure per-row expression — embarrassingly parallel,
    * fully codegen'd, nothing global. */
  def binByEdges(value: Column, edges: Seq[Double]): Column =
    edges.map(e => (value >= lit(e)).cast("int")).reduceLeft(_ + _)

  /** Corpus-scale density-quartile table (cross_domain_density_validation
    * .py:144-185 semantics): approx-quantile edges broadcast into a
    * stateless digitize assignment, then one hash aggregation. The plan is
    * scan → partial agg (sketch) → scan → hash agg: no global window, no
    * driver-side value vector — the shape that survives a 100× scale-up.
    * `quartile` is 1-based (1 = lowest density). */
  def quantileBinTable(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      accuracy: Int = 1000000): DataFrame = {
    val d = perDoc(df, idCol, textCol, langCol)
    val edges = quantileEdgesApprox(d, "density", Seq(0.25, 0.5, 0.75), accuracy)
    d.withColumn("quartile", binByEdges(col("density"), edges.toSeq) + lit(1))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("accuracy")), 4).as("accuracy"),
        round(avg(col("density")), 6).as("mean_density"),
        round(avg(col("tokens")), 4).as("mean_tokens"))
      .orderBy(col("quartile"))
  }

  final case class Correlation(r: Double, t: Double, p: Double)

  /** Point-biserial correlation of a binary column with a continuous one
    * (:133-141). Point-biserial IS Pearson on a 0/1 variable, so r comes
    * from the distributed corr aggregate; p is the two-sided t-test with
    * n − 2 df (what scipy.stats.pointbiserialr reports). */
  def pointBiserial(df: DataFrame, accCol: String, xCol: String): Correlation = {
    val row = df.agg(
      corr(col(accCol).cast("double"), col(xCol).cast("double")).as("r"),
      count(lit(1)).as("n")).head()
    val r = row.getDouble(0)
    val n = row.getLong(1)
    val t = r * math.sqrt((n - 2) / math.max(1e-300, 1.0 - r * r))
    val p = 2.0 * (1.0 - new TDistribution(n - 2.0).cumulativeProbability(math.abs(t)))
    Correlation(r, t, p)
  }

  /** np.percentile(xs, q) with linear interpolation (the default the
    * reference relies on, :146). */
  def percentile(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty)
    val pos = (sorted.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo)
    else sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  final case class QuartileRow(quartile: Int, n: Long, accuracy: Double, meanDensity: Double)
  final case class QuartileReport(rows: Seq[QuartileRow], delta: Double, z: Double, p: Double)

  /** Reference-exact quartile analysis (:144-185): np.percentile edges,
    * np.digitize(right = false) binning, per-quartile accuracy, and the
    * Q1-vs-Q4 two-proportion z-test. Driver-side over a bounded sample,
    * like the reference's SAMPLE_N design. */
  def quartileAnalysis(density: Array[Double], accuracy: Array[Int]): QuartileReport = {
    require(density.length == accuracy.length && density.nonEmpty)
    val sorted = density.sorted
    val edges = Array(percentile(sorted, 25), percentile(sorted, 50), percentile(sorted, 75))
    // np.digitize default: bin = count of edges <= x
    val bins = density.map(x => edges.count(_ <= x))
    val rows = (0 until 4).map { q =>
      val idx = bins.zipWithIndex.filter(_._1 == q).map(_._2)
      val n = idx.length.toLong
      val acc = if (n > 0) idx.map(accuracy(_)).sum.toDouble / n else 0.0
      val den = if (n > 0) idx.map(density(_)).sum / n else 0.0
      QuartileRow(q, n, acc, den)
    }
    val q1 = rows(0); val q4 = rows(3)
    if (q1.n == 0 || q4.n == 0) return QuartileReport(rows, 0.0, 0.0, 1.0)
    val p1 = q1.accuracy; val p4 = q4.accuracy
    val pPool = (p1 * q1.n + p4 * q4.n) / (q1.n + q4.n)
    if (pPool <= 0.0 || pPool >= 1.0) return QuartileReport(rows, p4 - p1, 0.0, 1.0)
    val se = math.sqrt(pPool * (1 - pPool) * (1.0 / q1.n + 1.0 / q4.n))
    val z = (p4 - p1) / se
    val p = 2.0 * (1.0 - new NormalDistribution(0, 1).cumulativeProbability(math.abs(z)))
    QuartileReport(rows, p4 - p1, z, p)
  }

  final case class GroupCompare(
      meanCorrect: Double, meanIncorrect: Double, t: Double, p: Double, d: Double)

  /** Correct-vs-incorrect comparison (:188-219): Student (equal-variance)
    * two-sample t-test — scipy.stats.ttest_ind's default — plus Cohen's d
    * with the pooled ddof-1 standard deviation (:123-129). Runs on
    * distributed moments; nothing is collected. */
  def correctVsIncorrect(df: DataFrame, accCol: String, xCol: String): GroupCompare = {
    val g = df.groupBy(col(accCol).cast("int").as("acc"))
      .agg(count(lit(1)).as("n"), avg(col(xCol)).as("m"),
        var_samp(col(xCol)).as("v"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val (n1, m1, v1) = g.getOrElse(1, (0L, 0.0, 0.0))
    val (n0, m0, v0) = g.getOrElse(0, (0L, 0.0, 0.0))
    require(n1 > 1 && n0 > 1, "both groups need >= 2 members")
    val pooledVar = ((n1 - 1) * v1 + (n0 - 1) * v0) / (n1 + n0 - 2.0)
    val t = (m1 - m0) / math.sqrt(pooledVar * (1.0 / n1 + 1.0 / n0))
    val p = 2.0 * (1.0 - new TDistribution((n1 + n0 - 2).toDouble)
      .cumulativeProbability(math.abs(t)))
    val d = if (pooledVar == 0) 0.0 else (m1 - m0) / math.sqrt(pooledVar)
    GroupCompare(m1, m0, t, p, d)
  }
}
