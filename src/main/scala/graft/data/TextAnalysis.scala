package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All are native
  * column expressions (whole-stage codegen) except the winnowing
  * fingerprint, whose rolling-hash window loop is a deterministic Scala UDF.
  */
object TextAnalysis {

  /** Tiny per-language function-word profiles (public knowledge). Scoring =
    * count of profile words present; CJK codepoints short-circuit to zh. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "for", "with"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est", "que"),
    "es" -> Seq("el", "la", "los", "las", "que", "por", "con", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"))

  /** Expression-level let binding: evaluate `x` ONCE per row and expose it
    * to `f` as a lambda variable. Higher-order-function lambdas re-evaluate
    * any captured expression SUBTREE once per element (a lambda body
    * holding `element_at(split(...), i)` re-splits the string for every i —
    * quadratic); a lambda VARIABLE is a cheap slot read. */
  private[graft] def bound(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), v => f(v)), 1)

  private def profileScore(toks: Column, words: Seq[String]): Column =
    size(array_intersect(toks, array(words.map(lit(_)): _*))) * 1000 +
      words.map(w => size(filter(toks, t => t === lit(w)))).reduce(_ + _)

  /** Heuristic language-ID column over a text column. Deterministic argmax
    * with fixed tie order (en, fr, es, de), zh via CJK character presence.
    * The token split is bound once per row — the 4 profiles' 36 references
    * to it are lambda-variable reads, not 36 re-splits. */
  def langId(text: Column): Column =
    bound(split(lower(text), "\\W+")) { toks =>
      val scored = LangProfiles.toSeq.sortBy(_._1).map { case (l, ws) =>
        struct(profileScore(toks, ws).as("s"), lit(l).as("l"))
      }
      when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
        .otherwise(greatest(scored: _*).getField("l"))
    }

  /** Token count: word-ish runs (letters/digits, BPE-ish sub-splitting on
    * case/digit boundaries approximated by the regex). */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+"), lit(0)))

  /** Quality score in [0,1]: length band + mean word length band + alpha
    * ratio + low punctuation/digit noise. Deterministic arithmetic only. */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val nTok = tokenCount(text).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double")
    val meanWord = when(nTok > 0, alpha / nTok).otherwise(lit(0.0))
    val lenScore = least(len / lit(500.0), lit(1.0)) * 0.3
    val wordScore = when(meanWord.between(3.0, 9.0), lit(0.3)).otherwise(lit(0.1))
    val alphaScore = when(len > 0, least(alpha / len, lit(1.0))).otherwise(lit(0.0)) * 0.3
    val punctPenalty = when(len > 0, least(punct / len * 3.0, lit(0.1))).otherwise(lit(0.0))
    round(lenScore + wordScore + alphaScore + (lit(0.1) - punctPenalty), 6)
  }

  /** Winnowing document fingerprint: rolling hash over character k-grams,
    * minimum per window of w — robust to local edits (Schleimer et al.,
    * SIGMOD 2003). Returns a sorted distinct array of selected hashes. */
  def winnow(text: String, k: Int = 8, w: Int = 4): Array[Long] = {
    val s = Option(text).getOrElse("").toLowerCase.replaceAll("\\s+", " ")
    if (s.length < k) return Array(Dedup.simhash64(Seq(s)))
    val n = s.length - k + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) { h ^= s.charAt(i + j).toLong; h *= 0x100000001b3L; j += 1 }
      hs(i) = h
      i += 1
    }
    val out = scala.collection.mutable.SortedSet.empty[Long]
    i = 0
    while (i + w <= n) {
      var m = Long.MaxValue
      var j = i
      while (j < i + w) { if (hs(j) < m) m = hs(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }

  private val winnowUdf = udf((text: String) => winnow(text))

  /** (id, fingerprints array) per document. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), winnowUdf(col(textCol)).as("fingerprints"))

  /** Fingerprint-overlap near-dup pairs: docs sharing ≥ minShared winnowed
    * hashes (inverted-index join on exploded hashes, never a cross join).
    *
    * Scale guard: a fingerprint shared by F documents emits F² candidate
    * rows, so boilerplate fingerprints (high document frequency) are dropped
    * BEFORE the self-join — they carry no discriminative signal (standard
    * postings-list pruning). The drop is logged, never silent; true pairs
    * still share plenty of low-df fingerprints, so planted-duplicate recall
    * is unaffected (DataOpsSpec). */
  def fingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                       minShared: Int = 10, maxDf: Int = 64): DataFrame = {
    // LAZY checkpoints: both pin their result (the winnow UDF runs once, the
    // pair join reads materialized rows) but materialize inside the ONE
    // nHot count job instead of two extra eager jobs
    val fp = fingerprints(df, idCol, textCol)
      .select(col(idCol).as("id"), explode(col("fingerprints")).as("fp"))
      .localCheckpoint(false)
    val hot = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("fp"))
      .localCheckpoint(false)
    val nHot = hot.count()
    if (nHot > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"fingerprintPairs: dropping $nHot fingerprints with df > $maxDf before pair join")
    val kept = fp.join(broadcast(hot), Seq("fp"), "left_anti")
    val a = kept.select(col("fp"), col("id").as("a"))
    val b = kept.select(col("fp"), col("id").as("b"))
    a.join(b, "fp").filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
