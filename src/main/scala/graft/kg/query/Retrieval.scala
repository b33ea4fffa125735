package graft.kg.query

import graft.data.TextAnalysis.bound
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval query layer over the materialized node tables — the engine
  * surface of the reference evaluation stack (eval_retrieval_v2.py):
  * graph linearization, TF-IDF, BM25 and fuzzy concept-set scoring, all as
  * distributed term-statistics joins (no driver-side matrices).
  */
object Retrieval {

  /** Linearize each conversation's graph into one text: fact/issue/argument/
    * holding/concept/precedent fields in node-type order then node id
    * (build_graph_text, eval_retrieval_v2.py:126-166). Deterministic under
    * any partitioning: sort_array over (rank, id, part) structs, NOT bare
    * collect_list (whose post-shuffle order is unspecified). */
  def linearizeStable(nodes: DataFrame): DataFrame = {
    val ordered = nodes
      .withColumn("type_rank",
        when(col("nodeType") === "fact", 0)
          .when(col("nodeType") === "issue", 1)
          .when(col("nodeType") === "argument", 2)
          .when(col("nodeType") === "holding", 3)
          .when(col("nodeType") === "concept", 4)
          .when(col("nodeType") === "precedent", 5)
          .otherwise(9))
      .filter(col("type_rank") < 9)
      .withColumn("part",
        when(col("nodeType") === "precedent",
          concat_ws(" ", col("caseName"), col("citation")))
          .otherwise(col("text")))
      .filter(col("part").isNotNull && length(trim(col("part"))) > 0)
    ordered.groupBy(col("convId"))
      .agg(sort_array(collect_list(struct(col("type_rank"), col("id"), col("part")))).as("ps"))
      .select(col("convId").as("conv_id"),
        concat_ws(" ", transform(col("ps"), p => p.getField("part"))).as("doc_text"))
  }

  private def tokens(c: Column): Column =
    filter(split(lower(c), "\\W+"), t => length(t) > 0)

  /** Unigrams + adjacent bigrams (the reference TfidfVectorizer uses
    * ngram_range=(1,2), eval_retrieval_v2.py:653). */
  private def unigramsAndBigrams(c: Column): Column =
    bound(tokens(c)) { toks =>
      val idxs = sequence(lit(1), greatest(size(toks) - 1, lit(0)))
      concat(toks, when(size(toks) >= 2,
        transform(idxs, i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array()))
    }

  /** In-row run-length term counting: sort the term array, find the run
    * boundaries, emit (term, tf) structs — a pure per-row expression chain,
    * so per-doc term frequencies need NO explode-then-groupBy shuffle of the
    * full token stream (guide §2.3 "aggregate before you shuffle", taken to
    * its limit: the aggregation happens inside the row). */
  private def termFreqPairs(terms: Column): Column =
    bound(array_sort(terms)) { s =>
      val n = size(s)
      // run boundaries: interior positions i (1-based) with s[i] != s[i+1],
      // plus the final position n. Guards keep `sequence` ascending (Spark's
      // sequence(1, 0) would DESCEND) and never index out of range.
      val interior = when(n >= 2,
        filter(sequence(lit(1), n - 1), i => element_at(s, i) =!= element_at(s, i + 1)))
        .otherwise(array().cast("array<int>"))
      bound(concat(interior, array(n))) { bs =>
        when(n === 0, array().cast("array<struct<term:string,tf:bigint>>"))
          .otherwise(transform(sequence(lit(1), size(bs)), j =>
            struct(
              element_at(s, element_at(bs, j)).as("term"),
              (element_at(bs, j) -
                when(j === 1, lit(0)).otherwise(element_at(bs, j - 1)))
                .cast("long").as("tf"))))
      }
    }

  /** (doc_id, term, tf) long table from (doc_id, doc_text). One row per
    * distinct (doc_id, term) — counting is in-row (termFreqPairs), no
    * shuffle. */
  private def termFreqs(docs: DataFrame, idCol: String, textCol: String,
                        bigrams: Boolean = false): DataFrame = {
    val terms = if (bigrams) unigramsAndBigrams(col(textCol)) else tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), explode(termFreqPairs(terms)).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))
  }

  /** Materialized TF-IDF index: L2-normalized doc vectors + per-term idf.
    * Corpus statistics are computed ONCE (eagerly pinned), after which any
    * number of query batches score against the index without rescanning the
    * corpus — the production shape at 100 TB, where doc vectors live as a
    * bucketed table keyed by term. */
  final case class TfidfIndex(
      docVectors: DataFrame, // (doc_id, term, dw)
      termIdf: DataFrame,    // (term, idf)
      bigrams: Boolean)

  /** Build the index: sublinear tf (1 + ln tf), smooth idf
    * (ln((1+N)/(1+df)) + 1), L2 norms (eval_retrieval_v2.py:649-660). */
  def buildTfidfIndex(
      spark: SparkSession, docs: DataFrame,
      idCol: String = "conv_id", textCol: String = "doc_text",
      bigrams: Boolean = true): TfidfIndex = {
    val tfs = termFreqs(docs, idCol, textCol, bigrams).localCheckpoint()
    val nDocs = docs.count().toDouble
    // tfs is unique per (doc_id, term) by construction, so df is a plain
    // count — countDistinct would plan a redundant distinct expansion
    val dfs = tfs.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf", log((lit(1.0) + lit(nDocs)) / (lit(1.0) + col("df"))) + 1.0)
      .select(col("term"), col("idf"))
      .localCheckpoint()
    // L2 norm via an unordered window over doc_id: ONE pass / one exchange
    // instead of groupBy + self-join (which evaluated the tfs⋈dfs subtree
    // twice and shuffled it twice, guide §2.4)
    val wNorm = Window.partitionBy(col("doc_id"))
    val docVec = tfs.join(dfs, "term")
      .withColumn("w", (lit(1.0) + log(col("tf"))) * col("idf"))
      .withColumn("norm", sqrt(sum(col("w") * col("w")).over(wNorm)))
      .select(col("doc_id"), col("term"), (col("w") / col("norm")).as("dw"))
      .localCheckpoint()
    TfidfIndex(docVec, dfs, bigrams)
  }

  /** Score a query batch against a prebuilt index. Query terms missing from
    * the corpus drop out before the query norm, like the reference
    * vectorizer's fixed vocabulary. */
  def queryTfidfIndex(index: TfidfIndex, queries: DataFrame): DataFrame = {
    val qtf = termFreqs(queries, "query_id", "query_text", index.bigrams)
      .withColumnRenamed("doc_id", "query_id")
    val qw = qtf.join(index.termIdf, "term")
      .withColumn("w", (lit(1.0) + log(col("tf"))) * col("idf"))
    val qnorms = qw.groupBy(col("query_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("qnorm"))
    val qVec = qw.join(qnorms, "query_id")
      .select(col("query_id"), col("term"), (col("w") / col("qnorm")).as("qw"))
    qVec.join(index.docVectors, "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("qw") * col("dw")), 6).as("score"))
  }

  /** TF-IDF retrieval scores: one-shot build + query (identical numbers to
    * index reuse). queries: (query_id, query_text). Returns
    * (query_id, doc_id, score). */
  def tfidfScores(
      spark: SparkSession, docs: DataFrame, queries: DataFrame,
      idCol: String = "conv_id", textCol: String = "doc_text",
      bigrams: Boolean = true): DataFrame =
    queryTfidfIndex(buildTfidfIndex(spark, docs, idCol, textCol, bigrams), queries)

  /** BM25 (k1=1.5, b=0.75; Robertson idf with +1 smoothing to keep it
    * positive) as distributed term-statistics joins
    * (eval_retrieval_v2.py:662-671). Returns (query_id, doc_id, score). */
  def bm25Scores(
      spark: SparkSession, docs: DataFrame, queries: DataFrame,
      idCol: String = "conv_id", textCol: String = "doc_text",
      k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    val tfs = termFreqs(docs, idCol, textCol).localCheckpoint()
    val docLens = tfs.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val avgdl = docLens.agg(avg(col("dl"))).first().getDouble(0)
    val nDocs = docs.count().toDouble
    // tfs is unique per (doc_id, term): plain count == distinct doc count
    val dfs = tfs.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    val qTerms = queries
      .select(col("query_id"), explode(array_distinct(tokens(col("query_text")))).as("term"))
    qTerms
      .join(tfs, "term")
      .join(docLens, "doc_id")
      .join(dfs, "term")
      .withColumn("s",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("s")), 6).as("score"))
  }

  private val ConceptAbbrev = Map(
    "doctrine" -> "", "concept" -> "", "const" -> "constitution",
    "art" -> "article", "sec" -> "section")

  /** Normalized token set of a concept id (abbreviation map + stopword drop;
    * eval_retrieval_v2.py:193-232). */
  def normalizeConceptTokens(cid: String): Set[String] =
    cid.toLowerCase.split("[^a-z0-9]+").toSet
      .map((t: String) => ConceptAbbrev.getOrElse(t, t))
      .filter(t => t.nonEmpty && t.length >= 2)

  private[kg] val RelevanceGrade = Map(
    "central" -> 4, "supporting" -> 3, "mentioned" -> 1, "obiter" -> 1)

  /** Fuzzy concept-set retrieval: per query concept id, score each conv by
    * max over its concepts of grade × token-Jaccard (≥ threshold; exact id
    * match scores the bare grade) — eval_retrieval_v2.py:673-710. */
  def conceptSetScores(
      spark: SparkSession, nodes: DataFrame, queryConceptIds: Seq[String],
      fuzzyThreshold: Double = 0.25): DataFrame = {
    import spark.implicits._
    val jaccardUdf = udf((q: String, c: String) => {
      val a = normalizeConceptTokens(q)
      val b = normalizeConceptTokens(c)
      if (a.isEmpty || b.isEmpty) 0.0
      else a.intersect(b).size.toDouble / a.union(b).size
    })
    val convConcepts = nodes.filter(col("nodeType") === "concept")
      .select(col("convId").as("conv_id"), col("conceptId").as("concept_id"),
        coalesce(
          element_at(typedLit(RelevanceGrade), col("relevance")),
          lit(1)).as("grade"))
      .groupBy(col("conv_id"), col("concept_id"))
      .agg(max(col("grade")).as("grade"))
    val queries = queryConceptIds.toDF("query_cid")
    convConcepts.crossJoin(broadcast(queries))
      .withColumn("sim", when(col("concept_id") === col("query_cid"), lit(1.0))
        .otherwise(jaccardUdf(col("query_cid"), col("concept_id"))))
      .filter(col("sim") >= fuzzyThreshold || col("concept_id") === col("query_cid"))
      .withColumn("s",
        when(col("concept_id") === col("query_cid"), col("grade").cast("double"))
          .otherwise(col("grade") * col("sim")))
      .groupBy(col("query_cid"), col("conv_id"))
      .agg(round(max(col("s")), 6).as("score"))
  }

  /** Top-k per query from any (query_id, doc_id, score) table. */
  def topK(scores: DataFrame, k: Int, queryCol: String = "query_id",
           docCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("score").desc, col(docCol).asc)
    scores.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
