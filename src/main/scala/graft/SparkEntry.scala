package graft

import graft.kg.gen.TranscriptGen
import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), with a DuckDB oracle for every SQL-expressible one.
  *
  * Conventions keeping the driver's sorted-column value-hash compare stable
  * across Spark and DuckDB: lowercase snake_case aliases in BOTH engines,
  * doubles rounded (4-6 dp) after aggregation, no raw timestamps in output
  * (formatted strings instead), and deterministic tie-breaks everywhere.
  */
object SparkEntry {

  private def pq(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** Planted q69/q72 document: closed-form paragraphs/sentences by doc_id
    * arithmetic (word + " pad"×k + "." joined by " " inside a paragraph,
    * paragraphs joined by "\n\n"). Shared so the two queries cannot drift
    * apart — but it MUST also stay byte-identical with the q69 AND q72
    * DuckDB CTE mirrors, which each re-derive this text in SQL. */
  def plantedSegDoc(docId: Long): String = {
    val words = Array("Alpha", "Beta", "Gamma", "Delta", "Epsilon")
    val nP = (docId % 3).toInt + 1
    val sb = new StringBuilder
    var p = 0
    while (p < nP) {
      if (p > 0) sb.append("\n\n")
      val nS = ((docId + p) % 3).toInt + 1
      var t = 0
      while (t < nS) {
        if (t > 0) sb.append(' ')
        sb.append(words(((docId + 2 * p + 3 * t) % 5).toInt))
        var k = ((docId + p + t) % 3).toInt
        while (k > 0) { sb.append(" pad"); k -= 1 }
        sb.append('.')
        t += 1
      }
      p += 1
    }
    sb.toString
  }

  /** Deterministic transcripts table derived only from the sf dir's document
    * count (scale-proportional, no external data). */
  private def transcripts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nDocs = pq(s, dir, "documents").count()
    val nConvs = math.max(20, (nDocs / 5).toInt)
    TranscriptGen.turns(nConvs, 14).toDF()
  }

  /** Extraction memo, owned by the session: the 12 kg_* queries all consume
    * the same extracted corpus, and the reference's own design materializes
    * once and queries many (run_iltur.py checkpoint → eval scripts read the
    * files). The corpus is extracted ONCE per (session, dir) into the
    * columnar [[graft.kg.pipeline.MatRow]] union (the lossless encoding of
    * the graphs), persisted, and registered as a temp view of that session
    * named by the hex of `dir`'s UTF-8 bytes (injective, so two dirs never
    * share a view). Every kg_* query is a projection of the view. The view
    * belongs to the session: a new session sees none, and no JVM-global
    * registry keeps a stopped session's cache. Check-and-create holds the
    * session's lock, so concurrent queries on one session extract once. */
  private def kgGraphs(s: SparkSession, dir: String): DataFrame = {
    val view = "graft_kg_" +
      dir.getBytes(java.nio.charset.StandardCharsets.UTF_8).map(b => f"$b%02x").mkString
    s.synchronized {
      if (!s.catalog.tableExists(view))
        KgPipeline.allTablesDirect(s, transcripts(s, dir)).toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          .createTempView(view)
    }
    s.table(view)
  }

  private def kgBranch(s: SparkSession, dir: String, branch: String): DataFrame =
    KgPipeline.branch(kgGraphs(s, dir), branch)

  private def kgNodes(s: SparkSession, dir: String): DataFrame =
    kgBranch(s, dir, "node")
  private def kgEdges(s: SparkSession, dir: String): DataFrame =
    kgBranch(s, dir, "edge")

  /** State partitions of the q92/q93 streams. They are a per-micro-batch
    * FIXED cost (every partition opens and commits a state store even when
    * empty), so they are sized to the streams' key cardinality, not to the
    * batch session's shuffle-partition count; any value computes identical
    * results. */
  private val StreamStatePartitions = 8

  /** Start a streaming query with [[StreamStatePartitions]] shuffle
    * partitions (the stream's cloned session keeps that snapshot), restore
    * the session's own value, and wait for the query to terminate. */
  private def runStream(s: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    val q = try start finally s.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
  }

  /** Flagship query on sf=0.001: full extract → triples. */
  def entry(spark: SparkSession): DataFrame = {
    val g = kgGraphs(spark, "/root/testdata/sf0.001")
    KgPipeline.triples(KgPipeline.branch(g, "edge"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- C8 stats aggregation (checkpoint stats analog) ---
    "q01_pricing_summary" -> ((s, dir) => {
      pq(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // --- P1/P2 filters + projection pushdown ---
    "q02_filter_project" -> ((s, dir) => {
      pq(s, dir, "documents")
        .filter(col("n_chars") >= 300)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // --- C1/C10 exact dedup by content hash (canonical winner = min id) ---
    "q03_exact_dedup" -> ((s, dir) => {
      pq(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
        .orderBy(col("text_hash"))
    }),

    // --- W2 argmax (dedupe-winner pattern: best anchor/confidence) ---
    "q04_dedup_argmax" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      pq(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"))
    }),

    // --- C6 orphan detection (left-anti join) ---
    "q05_orphan_antijoin" -> ((s, dir) => {
      val c = pq(s, dir, "customer")
      val o = pq(s, dir, "orders").filter(col("o_orderdate") >= lit("1998-06-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // --- W3 top-k per group ---
    "q06_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      pq(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"))
    }),

    // --- J broadcast dimension join + aggregation ---
    "q07_join_agg" -> ((s, dir) => {
      val n = pq(s, dir, "nation")
      val c = pq(s, dir, "customer")
      val o = pq(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("total_price"))
        .orderBy(col("n_name"))
    }),

    // --- T6/T7 tokenization + token stats (text-analysis op) ---
    "q08_token_stats" -> ((s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("n_tokens"),
          size(array_distinct(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))).as("n_distinct_tokens"))
        .orderBy(col("doc_id"))
    }),

    // --- language profile (language-ID support stats) ---
    "q09_lang_profile" -> ((s, dir) => {
      pq(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(avg(size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))), 4).as("avg_tokens"))
        .orderBy(col("lang"))
    }),

    // --- T13 content fingerprinting (sha256 prefix, doc_id scheme) ---
    "q10_fingerprint" -> ((s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"), substring(sha2(col("text"), 256), 1, 16).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // --- 2.10 time-bucketed event aggregation (batch windowing) ---
    "q11_event_hourly" -> ((s, dir) => {
      pq(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // --- per-entity rollup (stats reconstruction S8) ---
    "q12_user_rollup" -> ((s, dir) => {
      pq(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(max(col("value")), 4).as("max_value"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("user_id"))
    }),

    // --- T11 year extraction + histogram ---
    "q13_order_years" -> ((s, dir) => {
      pq(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("yr"))
    }),

    // --- embeddings: per-label stats (array access; ANN base table) ---
    "q14_embed_stats" -> ((s, dir) => {
      pq(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(element_at(col("embedding"), 1)), 6).as("avg_dim0"))
        .orderBy(col("label"))
    }),

    // --- text quality scoring (training-data filter op) ---
    "q15_quality_score" -> ((s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"),
          graft.data.TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // --- exact cosine top-k similarity search (brute-force baseline) ---
    "q16_embed_topk" -> ((s, dir) => {
      val base = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Similarity.bruteForceTopK(queries, base, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- dedup family (planted duplicates are DETERMINISTIC — filter on id,
    //     never limit() — so DuckDB oracles can reconstruct them) ---
    "q17_minhash_dedup" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val planted = d.unionByName(
        d.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000))
      graft.data.Dedup.minhashDedupVerified(s, planted, "doc_id", "text", threshold = 0.5)
        .orderBy(col("doc_id"))
    }),
    "q18_simhash_pairs" -> ((s, dir) => {
      // plant shifted duplicates so the operator has work at every sf
      val d = pq(s, dir, "documents")
      val planted = d.unionByName(
        d.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000))
      graft.data.Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3)
        .orderBy(col("a"), col("b"))
    }),
    "q19_fingerprint_pairs" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val planted = d.unionByName(
        d.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 1000000))
      graft.data.TextAnalysis.fingerprintPairs(planted, "doc_id", "text", minShared = 20)
        .orderBy(col("a"), col("b"))
    }),
    "q20_cosine_near_dup" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = e.unionByName(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000))
      graft.data.Similarity.cosineNearDupPairs(planted, dim = 64, threshold = 0.999, bits = 8)
        .orderBy(col("a"), col("b"))
    }),
    "q27_embedding_dedup" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = e.unionByName(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000))
      graft.data.Similarity.embeddingDedup(s, planted, dim = 64, threshold = 0.999, bits = 8)
        .orderBy(col("vec_id"))
    }),
    "q21_lang_id" -> ((s, dir) => {
      pq(s, dir, "documents")
        .select(col("doc_id"), graft.data.TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),
    // static hash-derived anchors (integer-exact arithmetic) so a DuckDB
    // oracle can mirror cell assignment + probing exactly
    "q22_ivf_topk" -> ((s, dir) => {
      val base = pq(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Similarity.ivfTopK(queries, base, dim = 64, cells = 16, nProbe = 4, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q23_media_features" -> ((s, dir) => {
      val n = pq(s, dir, "documents").count().toInt
      graft.data.Multimodal.kindStats(
        graft.data.Multimodal.decodeFeatures(
          graft.data.Multimodal.syntheticMedia(s, n)))
        .orderBy(col("kind"))
    }),

    // --- token-set Jaccard between adjacent docs (J8 scorer, exact) ---
    "q28_token_jaccard" -> ((s, dir) => {
      val toks = pq(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("toks"))
      val a = toks.select(col("doc_id").as("a"), col("toks").as("ta"))
      val b = toks.select(col("doc_id").as("b"), col("toks").as("tb"))
      a.join(b, col("a") + 1 === col("b"))
        .select(col("a"), col("b"),
          round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))), 6).as("jaccard"))
        .orderBy(col("a"))
    }),

    // --- T10 negation-cue heuristic over the documents table (the
    //     requirement-satisfaction gate, extractor.py:1306-1309); the salad
    //     corpus contains no negation cues, so cue suffixes are planted
    //     deterministically (filter-derived, SQL-reconstructable) ---
    "q33_negativity" -> ((s, dir) => {
      val neg = udf((t: String) => graft.kg.text.Normalize.looksNegative(t))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" the application was denied")).otherwise(lit("")),
          when(col("doc_id") % 4 === 1, lit(" they failed to comply")).otherwise(lit("")),
          when(col("doc_id") % 7 === 2, lit(" without notice")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"), neg(col("text")).cast("int").as("is_negative"))
        .orderBy(col("doc_id"))
    }),

    // --- J2 concept-match scoring (extractor.py:1216-1303) over documents:
    //     the REAL Ontology.conceptMatchScoreFast operator applied per doc
    //     against two shipped ontology concepts; key phrases / establishing
    //     cases are planted deterministically (filter-derived, so the
    //     DuckDB oracle reconstructs the same text and mirrors the full
    //     formula: +5/phrase hit, +8 any case, capped keyword overlaps) ---
    "q34_concept_score" -> ((s, dir) => {
      val audi = graft.kg.ontology.Ontology.default
        .concepts("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM")
      val prop = graft.kg.ontology.Ontology.default
        .concepts("DOCTRINE_PROPORTIONALITY_TEST")
      val scoreAudi = udf((t: String) => graft.kg.ontology.Ontology.conceptMatchScore(t, audi))
      val scoreProp = udf((t: String) => graft.kg.ontology.Ontology.conceptMatchScore(t, prop))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" fair opportunity to answer was denied before the hearing")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" the legitimate aim and rational nexus test of proportionality")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" as held in maneka gandhi v. uoi (1978) a speaking order is required")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"),
          scoreAudi(col("text")).as("score_audi"),
          scoreProp(col("text")).as("score_prop"))
        .orderBy(col("doc_id"))
    }),

    // --- T4 normalize-with-mapping over documents: the REAL
    //     Normalize.normalizeWithMapping (whitespace-run collapse with
    //     offset map) fingerprinted per doc; DuckDB mirrors the text half
    //     with a regex collapse (the offset map is Spark-side-only and is
    //     property-tested in TextProps) ---
    "q35_norm_hash" -> ((s, dir) => {
      val norm = udf((t: String) => graft.kg.text.Normalize.normalizeWithMapping(t)._1)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          md5(norm(col("text"))).as("norm_hash"),
          length(norm(col("text"))).as("norm_len"))
        .orderBy(col("doc_id"))
    }),

    // --- T5 Turkish-aware lowercase (İ→i, I→ı + standard lowering) over
    //     documents with planted Turkish-uppercase suffixes (the salad
    //     corpus is ASCII); DuckDB mirrors via translate + lower ---
    "q36_turkish_fold" -> ((s, dir) => {
      val tl = udf((t: String) => graft.kg.text.Normalize.turkishLower(t))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(" İSTANBUL IŞIK ŞÇÖÜĞ DAVASI")).otherwise(lit("")),
          when(col("doc_id") % 3 === 1, lit(" ANAYASA MAHKEMESİ KARARI")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"), md5(tl(col("text"))).as("folded_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- G4 BFS reachability at table scale: GraphOps.reachable over a
    //     deterministic per-customer edge table derived from orders (each
    //     order contributes edge n{okey%20} -> n{(okey*7+3)%20} inside its
    //     customer's graph); DuckDB mirrors with depth-capped WITH
    //     RECURSIVE — same frontier semantics (first reach <= depth 10) ---
    "q37_reachability" -> ((s, dir) => {
      val edges = pq(s, dir, "orders").select(
        col("o_custkey").cast("string").as("convId"),
        concat(lit("n"), col("o_orderkey") % 20).as("source"),
        concat(lit("n"), (col("o_orderkey") * 7 + 3) % 20).as("target"))
      graft.kg.query.GraphOps.reachable(s, edges, "n0", maxDepth = 10)
        .orderBy(col("conv_id"), col("id"))
    }),

    // --- V1/V2 relation normalize + coerce over a planted messy-relation
    //     column (20 inputs cycled by doc_id covering the alias map, every
    //     coercion branch and the default); the REAL Relations.coerce runs
    //     per row, DuckDB mirrors normalize (lower/underscore/collapse) +
    //     alias CASE + valid-set check + the substring cascade ---
    "q38_relation_coerce" -> ((s, dir) => {
      val messy = Seq(
        "Supports", "claim-satisfies", "SATISFY", "partial satisfies",
        "permits", "contradicts", "necessitates", "answers the question",
        "determination", "leads to", "attack-mode", "rebuttal",
        "undercutting", "total nonsense", "grounds", "Follows",
        "supports  argument", "conflict with", "established", "enables")
      val coerceU = udf((t: String) => graft.kg.rules.Relations.coerce(t))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(
            array(messy.map(lit): _*), (col("doc_id") % 20).cast("int") + 1).as("raw_relation"))
        .select(col("doc_id"), col("raw_relation"),
          coerceU(col("raw_relation")).as("relation"))
        .orderBy(col("doc_id"))
    }),

    // --- C12 quality-tier grading: synthesized warning lists + structural
    //     flags from doc_id arithmetic feed the REAL GraphAssembly
    //     .computeTier (one template string per warning class, so the
    //     error/substantive/cosmetic classifier is exercised); the DuckDB
    //     oracle rebuilds the counts and mirrors the thresholds ---
    "q39_quality_tier" -> ((s, dir) => {
      val tierU = udf((nerr: Int, nsub: Int, ncos: Int, h: Boolean, o: Boolean, c: Boolean) => {
        val ws = Seq.fill(nerr)("edge e1: target not found") ++
          Seq.fill(nsub)("unusual actor surface form") ++
          Seq.fill(ncos)("edge e2 repaired: direction flipped")
        graft.kg.extract.GraphAssembly.computeTier(ws, h, o, c)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 8).cast("int").as("n_err"),
          ((col("doc_id") * 3) % 40).cast("int").as("n_sub"),
          (col("doc_id") % 3).cast("int").as("n_cos"),
          (col("doc_id") % 5 =!= 0).as("h"),
          (col("doc_id") % 6 =!= 0).as("o"),
          (col("doc_id") % 7 =!= 0).as("c"))
        .select(col("doc_id"),
          tierU(col("n_err"), col("n_sub"), col("n_cos"), col("h"), col("o"), col("c")).as("tier"))
        .orderBy(col("doc_id"))
    }),

    // --- V3/V4 actor coercion over planted messy actor strings (alias
    //     table + substring heuristics + third_party fallback); mirror
    //     inlines normalize + aliases + the full cascade ---
    "q40_actor_coerce" -> ((s, dir) => {
      val messy = Seq(
        "Union of India", "Govt", "STATE", "writ-petitioner", "Plaintiff",
        "the appellate authority", "Opposite  Party", "convict", "PP",
        "informant", "Sessions Court", "High Court", "tribunal", "amicus curiae",
        "expert witness", "random person", "Municipal Board", "claiming party",
        "appellate", "friend_of_court")
      val coerceU = udf((t: String) => graft.kg.rules.Actors.coerceActor(t))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(messy.map(lit): _*), (col("doc_id") % 20).cast("int") + 1).as("raw_actor"))
        .select(col("doc_id"), col("raw_actor"),
          coerceU(col("raw_actor")).as("actor"))
        .orderBy(col("doc_id"))
    }),

    // --- V5/V6 id→type prefixes + relation validation matrix over planted
    //     (source, target, relation) triples spanning valid pairs, invalid
    //     relations, undefined type pairs and unknown/js/rc ids ---
    "q41_relation_validate" -> ((s, dir) => {
      val triples = Seq(
        ("f1", "c2", "triggers"), ("f2", "a1", "supports"), ("f3", "h1", "grounds"),
        ("f4", "i1", "addresses"), ("c1", "c2", "requires"), ("c3", "h2", "enables"),
        ("a1", "i1", "concedes"), ("a2", "a3", "responds_to"), ("h1", "i1", "resolves"),
        ("h2", "outcome", "determines"), ("h3", "p1", "follows"), ("p1", "h1", "supports"),
        ("p2", "c1", "establishes"), ("i1", "c1", "requires"), ("f1", "c2", "supports"),
        ("f1", "p1", "supports"), ("c1", "i1", "grounds"), ("xy9", "h1", "supports"),
        ("js1", "rc1", "supports"), ("h1", "h2", "conflicts_with"))
      val srcA = array(triples.map(t => lit(t._1)): _*)
      val tgtA = array(triples.map(t => lit(t._2)): _*)
      val relA = array(triples.map(t => lit(t._3)): _*)
      val typeU = udf((id: String) => graft.kg.rules.Relations.nodeTypeFromId(id))
      val validU = udf((a: String, b: String, r: String) =>
        graft.kg.rules.Relations.validate(a, b, r)._1)
      val idx = (col("doc_id") % 20).cast("int") + 1
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(srcA, idx).as("src"), element_at(tgtA, idx).as("tgt"),
          element_at(relA, idx).as("relation"))
        .select(col("doc_id"), col("src"), col("tgt"), col("relation"),
          typeU(col("src")).as("src_type"), typeU(col("tgt")).as("tgt_type"),
          validU(col("src"), col("tgt"), col("relation")).cast("int").as("valid"))
        .orderBy(col("doc_id"))
    }),

    // --- J1 best-ontology-match over planted raw concept ids: exact id,
    //     longest-substring id (ties → smallest), structured-prefix guard,
    //     empty input, and a no-keyword-overlap miss — every deterministic
    //     branch of bestConceptMatch (the keyword-argmax fallback fires only
    //     on the provably-zero-overlap input, returning null both sides) ---
    "q42_concept_match" -> ((s, dir) => {
      val raw = Seq(
        "DOCTRINE_PROPORTIONALITY_TEST", "PROPORTIONALITY", "CONFESSION", "BAIL",
        "CONST_FOO", "STATUTE_BAR", "RIGHT_X", "zzzzqqqq", "MURDER", "")
      val matchU = udf((cid: String) =>
        graft.kg.ontology.Ontology.bestConceptMatch(
          cid, "", graft.kg.ontology.Ontology.default.concepts).orNull)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raw.map(lit): _*), (col("doc_id") % 10).cast("int") + 1).as("raw_cid"))
        .select(col("doc_id"), col("raw_cid"), matchU(col("raw_cid")).as("matched"))
        .orderBy(col("doc_id"))
    }),

    // --- P5 operative-tail window selection (the AYM last-occurrence
    //     tiered-needle selector) over documents with planted Turkish
    //     operative sections; the plain-tail and both needle tiers are
    //     exercised (the KARAR header branch is regex-only and covered by
    //     DocWindowSpec) ---
    "q43_doc_window" -> ((s, dir) => {
      val winU = udf((t: String) =>
        graft.kg.text.DocWindow.selectWindow(t, 200, "tr", "outcome"))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\nSONUÇ VE HÜKÜM\nBaşvurunun reddine karar verildi.")).otherwise(lit("")),
          when(col("doc_id") % 4 === 1,
            lit("\nHÜKÜM: istinaf yolu açık olmak üzere.")).otherwise(lit("")),
          when(col("doc_id") % 4 === 3,
            lit("\nSONUC bölümünde açıklandığı üzere.")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"),
          md5(winU(col("text"))).as("window_hash"),
          length(winU(col("text"))).as("window_len"))
        .orderBy(col("doc_id"))
    }),

    // --- M7 quote→span alignment over documents: quotes cut from the doc
    //     itself (exact path), uppercased (case-insensitive fallback) or
    //     unfindable (None); the corpus is whitespace-clean, so the
    //     normalization index map is identity here and the DuckDB oracle
    //     mirrors with strpos (the ws-collapse offset mapping itself is
    //     property-tested in TextProps) ---
    "q44_quote_align" -> ((s, dir) => {
      val alignU = udf((t: String, q: String) =>
        graft.kg.text.Normalize.alignQuote(t, q) match {
          case Some((a, b)) => Array(a, b)
          case None => null
        })
      val planted = pq(s, dir, "documents").select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, substring(col("text"), 51, 40))
          .when(col("doc_id") % 3 === 1, upper(substring(col("text"), 21, 30)))
          .otherwise(lit("zz unfindable phrase qq")).as("quote"))
      planted
        .select(col("doc_id"),
          element_at(alignU(col("text"), col("quote")), 1).as("start"),
          element_at(alignU(col("text"), col("quote")), 2).as("end"))
        .orderBy(col("doc_id"))
    }),

    // --- G5 Toulmin structure at table scale: GraphOps.toulmin over a
    //     deterministic node/edge graph derived from orders (source type
    //     and relation cycle by o_orderkey, targets are per-customer
    //     argument nodes); arrays stringified for the comparator ---
    "q45_toulmin" -> ((s, dir) => {
      val o = pq(s, dir, "orders")
      val typeIdx = (col("o_orderkey") % 3 + 1).cast("int")
      val srcId = concat(
        element_at(array(lit("f"), lit("c"), lit("p")), typeIdx),
        col("o_orderkey") % 7)
      val tgtId = concat(lit("a"), col("o_orderkey") % 3)
      val rel = element_at(
        array(lit("supports"), lit("attacks"), lit("rebuts"), lit("grounds")),
        (col("o_orderkey") % 4 + 1).cast("int"))
      val conv = col("o_custkey").cast("string").as("convId")
      val nodes = o.select(conv, srcId.as("id"),
          element_at(array(lit("fact"), lit("concept"), lit("precedent")), typeIdx).as("nodeType"))
        .union(o.select(conv, tgtId.as("id"), lit("argument").as("nodeType")))
        .distinct()
      val edges = o.select(conv, srcId.as("source"), tgtId.as("target"), rel.as("relation"))
      graft.kg.query.GraphOps.toulmin(nodes, edges)
        .select(col("conv_id"), col("argument_id"),
          concat_ws(",", col("grounds")).as("grounds"),
          concat_ws(",", col("warrants")).as("warrants"),
          concat_ws(",", col("backing")).as("backing"),
          concat_ws(",", col("rebuttals")).as("rebuttals"))
        .orderBy(col("conv_id"), col("argument_id"))
    }),

    // --- G6/G7/G8 graph operators over a deterministic planted graph
    //     derived from orders: per order an edge {f|c}(okey%5) →
    //     h(okey%3) with relation cycling (grounds/supports/addresses),
    //     one justification set per holding (logic and/or/and) ---
    "q46_holding_support" -> ((s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), col("o_orderkey") % 5)
      val srcType = element_at(array(lit("fact"), lit("concept")), tIdx)
      val tgt = concat(lit("h"), col("o_orderkey") % 3)
      val rel = element_at(array(lit("grounds"), lit("supports"), lit("addresses")),
        (col("o_orderkey") % 3 + 1).cast("int"))
      val nodes = o.select(conv, srcId.as("id"), srcType.as("nodeType"))
        .union(o.select(conv, tgt.as("id"), lit("holding").as("nodeType"))).distinct()
      val edges = o.select(conv, srcId.as("source"), tgt.as("target"), rel.as("relation"))
      val js = o.select(conv, concat(lit("js"), col("o_orderkey") % 3).as("id"),
        tgt.as("targetId")).distinct()
      graft.kg.query.GraphOps.holdingSupport(nodes, edges, js)
        .select(col("conv_id"), col("holding_id"),
          concat_ws(",", col("grounding_concepts")).as("grounding_concepts"),
          concat_ws(",", col("supporting_facts")).as("supporting_facts"),
          concat_ws(",", col("justification_sets")).as("justification_sets"))
        .orderBy(col("conv_id"), col("holding_id"))
    }),
    "q47_counterfactual" -> ((s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), col("o_orderkey") % 5)
      val srcType = element_at(array(lit("fact"), lit("concept")), tIdx)
      val tgt = concat(lit("h"), col("o_orderkey") % 3)
      val rel = element_at(array(lit("grounds"), lit("supports"), lit("addresses")),
        (col("o_orderkey") % 3 + 1).cast("int"))
      val nodes = o.select(conv, srcId.as("id"), srcType.as("nodeType"))
        .union(o.select(conv, tgt.as("id"), lit("holding").as("nodeType"))).distinct()
      val edges = o.select(conv, concat(lit("e"), col("o_orderkey")).as("id"),
        srcId.as("source"), tgt.as("target"), rel.as("relation"),
        array(concat(lit("js"), col("o_orderkey") % 3)).as("supportGroupIds"))
      val js = o.select(conv, concat(lit("js"), col("o_orderkey") % 3).as("id"),
        tgt.as("targetId"),
        element_at(array(lit("and"), lit("or"), lit("and")),
          (col("o_orderkey") % 3 + 1).cast("int")).as("logic"),
        lit(true).as("isPrimary")).distinct()
      graft.kg.query.GraphOps.counterfactual(nodes, edges, js, "f0")
        .orderBy(col("conv_id"), col("holding_id"))
    }),
    "q48_js_members" -> ((s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), col("o_orderkey") % 5)
      val edges = o.select(conv, concat(lit("e"), col("o_orderkey")).as("id"),
        srcId.as("source"),
        array(concat(lit("js"), col("o_orderkey") % 3)).as("supportGroupIds"))
      graft.kg.query.GraphOps.justificationMembers(edges)
        .orderBy(col("conv_id"), col("edge_id"))
    }),

    // --- C13 per-graph quality scoring (evaluate_graphs.py:90-305) over a
    //     planted graph with controlled validity/connectivity/resolution/
    //     anchor mixes: invalid 'addresses' edges, never-referenced issue
    //     nodes, degenerate and null anchors ---
    "q49_graph_quality" -> ((s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val d = (col("o_orderkey") % 5).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), d)
      val srcType = element_at(array(lit("fact"), lit("concept")), tIdx)
      val hNum = (col("o_orderkey") % 3).cast("int")
      val tgt = concat(lit("h"), hNum)
      val rel = element_at(array(lit("grounds"), lit("supports"), lit("addresses")), hNum + 1)
      val anchorOf = (end: org.apache.spark.sql.Column) =>
        struct(lit(0).as("startChar"), end.as("endChar"))
      val srcNodes = o.select(conv, srcId.as("id"), srcType.as("nodeType"),
        lit(null).cast("string").as("resolvesIssue"),
        when(d === 4, lit(null)).otherwise(anchorOf(d % 3)).as("anchor"))
      val hNodes = o.select(conv, tgt.as("id"), lit("holding").as("nodeType"),
        when(hNum === 0, "i0").when(hNum === 1, "i1")
          .otherwise(lit(null).cast("string")).as("resolvesIssue"),
        anchorOf(lit(1)).as("anchor"))
      val iNodes = o.select(conv).distinct()
        .select(col("convId"), explode(array(lit("i0"), lit("i1"))).as("id"))
        .select(col("convId"), col("id"), lit("issue").as("nodeType"),
          lit(null).cast("string").as("resolvesIssue"), anchorOf(lit(1)).as("anchor"))
      val nodes = srcNodes.union(hNodes).distinct().union(iNodes)
      val edges = o.select(conv, srcId.as("source"), tgt.as("target"), rel.as("relation"))
      graft.kg.query.GraphQuality.score(nodes, edges).orderBy(col("conv_id"))
    }),

    // --- T9 key-phrase parsing over planted raw strings: quoted phrases
    //     preferred, else comma split with quote stripping ---
    "q50_keyphrase_parse" -> ((s, dir) => {
      val raws = Seq(
        "\"audi alteram partem\", \"natural justice\"",
        "fair hearing, notice, \"reasoned order\"",
        "alpha, beta , gamma",
        "'single-quoted', plain",
        "")
      val parseU = udf((r: String) =>
        graft.kg.ontology.Ontology.parseKeyPhrases(r).mkString("|"))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("raw"))
        .select(col("doc_id"), col("raw"), parseU(col("raw")).as("phrases"))
        .orderBy(col("doc_id"))
    }),

    // --- V11 requires-field normalization over planted raw strings:
    //     [AND]/[OR] markers, numbered lists, newline/semicolon split ---
    "q51_requires_parse" -> ((s, dir) => {
      val raws = Seq(
        "[OR] notice; hearing; reasoned order",
        "[AND] fair procedure\nopportunity",
        "1. first req 2) second req 3. third",
        "plain requirement",
        "")
      val logicU = udf((r: String) => graft.kg.ontology.Ontology.normalizeRequires(r)._1)
      val itemsU = udf((r: String) => graft.kg.ontology.Ontology.normalizeRequires(r)._2.mkString("|"))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("raw"))
        .select(col("doc_id"), col("raw"),
          logicU(col("raw")).as("logic"), itemsU(col("raw")).as("items"))
        .orderBy(col("doc_id"))
    }),

    // --- multimodal image decode: REAL ImageIO decode of planted PNGs whose
    //     pixels follow pure arithmetic (gray = (id*31 + x*7 + y*13) % 256
    //     over id-derived dims). PNG is lossless, so the decoded pooled 4×4
    //     mean-luma grid equals the generating formula and a SQL oracle
    //     mirrors it without touching image bytes ---
    "q52_image_decode" -> ((s, dir) => {
      val decU = udf((id: Long) =>
        graft.data.Multimodal.imageGrid(graft.data.Multimodal.plantedImage(id)).get)
      pq(s, dir, "documents")
        .select(col("doc_id"), decU(col("doc_id")).as("dec"))
        .select(col("doc_id"),
          col("dec._1").cast("long").as("width"),
          col("dec._2").cast("long").as("height"),
          posexplode(col("dec._3")).as(Seq("block", "fraw")))
        .select(col("doc_id"), col("width"), col("height"),
          col("block").cast("long").as("block"),
          // engine-portable 6-dp rounding (see q49): floor(x*10^k + 0.5)/10^k
          (floor(col("fraw") * 1000000.0 + 0.5) / 1000000.0).as("f"))
        .orderBy(col("doc_id"), col("block"))
    }),

    // --- W1 stable turn ordering: the REAL DocExtractor.assemble (sort by
    //     (turn_idx, text), "\n" join) over planted turns with DUPLICATE
    //     turn_idx values, so the tie-break is exercised; order-invariant
    //     under any shuffle by construction ---
    "q53_assemble_order" -> ((s, dir) => {
      val texts = Seq(
        "the petitioner contends the order is void",
        "notice was not served before termination",
        "the appeal is allowed with costs",
        "whether natural justice applies",
        "the respondent relies on the enquiry report")
      val asmU = udf((turns: Seq[(Int, String)]) =>
        graft.kg.extract.DocExtractor.assemble(turns))
      pq(s, dir, "orders")
        .select((col("o_custkey") % 50).as("conv"),
          (col("o_orderkey") % 7).cast("int").as("idx"),
          element_at(array(texts.map(lit): _*),
            (col("o_orderkey") % 5).cast("int") + 1).as("text"))
        .groupBy(col("conv"))
        .agg(collect_list(struct(col("idx").as("_1"), col("text").as("_2"))).as("turns"),
          count(lit(1)).as("n_turns"))
        .select(col("conv").cast("long").as("conv"), col("n_turns"),
          md5(asmU(col("turns"))).as("assembled_md5"))
        .orderBy(col("conv"))
    }),

    // --- T12 case-id sanitization over planted raw ids (slash/backslash →
    //     _, non-[0-9A-Za-z._-] runs → _, collapse + strip _, empty →
    //     "case") ---
    "q54_sanitize_id" -> ((s, dir) => {
      val raws = Seq(
        "AIR 1978/SC\\597",
        " In  re: Kerala-Edu. Bill, 1957 ",
        "___",
        "W.P.(C) No. 123 of 2020",
        "##??!!")
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("raw"))
        .select(col("doc_id"), col("raw"),
          graft.kg.io.CaseAdapter.sanitizeCaseId(col("raw")).as("case_id"))
        .orderBy(col("doc_id"))
    }),

    // --- M4/C5 overlap dedup (keep-longest): the REAL
    //     Citations.dedupeOverlapping (stable sort by (start, -len), greedy
    //     sweep keeping start >= lastEnd) over planted interval sets with
    //     deliberate overlaps and (start, len) ties ---
    "q55_overlap_dedup" -> ((s, dir) => {
      val js = sequence(lit(0), lit(5))
      val starts = transform(js, j => (col("doc_id") * 7 + j * j * 3) % 40)
      val lens = transform(js, j => lit(3) + (col("doc_id") + j) % 9)
      val types = transform(js, j => concat(lit("t"), (j % 3).cast("string")))
      val dedupU = udf((ss: Seq[Long], ls: Seq[Long], ts: Seq[String]) => {
        val hits = ss.indices.map(j => graft.kg.rules.CitationHit(
          "x", ss(j).toInt, (ss(j) + ls(j)).toInt, ts(j), None, None)).toList
        graft.kg.rules.Citations.dedupeOverlapping(hits)
          .map(h => s"${h.startChar}:${h.endChar}:${h.citationType}")
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(dedupU(starts, lens, types)).as(Seq("rk", "kept")))
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          split(col("kept"), ":").getItem(0).cast("long").as("start"),
          split(col("kept"), ":").getItem(1).cast("long").as("end"),
          split(col("kept"), ":").getItem(2).as("ctype"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // --- P8 legitimate-orphan predicate over planted field combinations
    //     (decorrelated cycles hit every branch of every node type) ---
    "q56_legit_orphan" -> ((s, dir) => {
      val nts = Seq("fact", "argument", "concept", "precedent", "issue", "outcome")
      val cfs = Seq("rejected", "accepted", "not_decided")
      val fts = Seq("background", "procedural")
      val crs = Seq("rejected", "accepted", "not_addressed")
      val rvs = Seq("mentioned", "central", "obiter")
      val trs = Seq("cited", "followed")
      // indices use floor(doc_id/p) with distinct p so every attribute
      // varies WITHIN each nodeType stratum (same-modulus cycles would pin
      // e.g. courtFinding constant across all fact rows)
      def cyc(xs: Seq[String], div: Int, m: Int) =
        element_at(array(xs.map(lit): _*),
          (floor(col("doc_id") / div) % m).cast("int") + 1)
      val legitU = udf((nt: String, cf: String, ft: String, cr: String, rv: String, tr: String) =>
        graft.kg.extract.OrphanRepair.legitimateOrphan(nt, cf, ft, cr, rv, tr))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          cyc(nts, 1, 6).as("nt"), cyc(cfs, 7, 3).as("cf"), cyc(fts, 7, 2).as("ft"),
          cyc(crs, 11, 3).as("cr"), cyc(rvs, 13, 3).as("rv"), cyc(trs, 5, 2).as("tr"))
        .withColumn("legit",
          legitU(col("nt"), col("cf"), col("ft"), col("cr"), col("rv"), col("tr")))
        .orderBy(col("doc_id"))
    }),

    // --- C1/C2 cross-conversation canonicalization + edge rewire: the REAL
    //     Canonicalizer.canonicalTriples (precedent name↔citation keys →
    //     connected components → canonical min-key → both endpoint joins)
    //     over planted nodes/edges whose attributes are pure functions of
    //     (conv, id), so an independent SQL mirror can rebuild the mapping
    //     with recursive min-label CC and replay the rewrite ---
    "q57_canonical_rewrite" -> ((s, dir) => {
      val names = Seq(
        "Maneka  Gandhi v. Union of India", "Kesavananda Bharati v. State of Kerala",
        "Olga Tellis v. Bombay Municipal Corporation", "A.K. Gopalan v. State of Madras")
      val cits = Seq(
        "AIR 1978 SC 597", "AIR 1973 SC 1461", "AIR  1986 SC 180",
        "AIR 1950 SC 27", "1973 (4) SCC 225", "1985 (3) SCC 545")
      val o = pq(s, dir, "orders")
        .select((col("o_custkey") % 20).cast("string").as("convId"),
          (col("o_orderkey") % 5).cast("int").as("pid"),
          (col("o_orderkey") % 3).cast("int").as("cid"))
      // attributes are functions of (convId, pid) alone → distinct = unique
      val nameIdx = (col("convId").cast("int") + col("pid")) % 8
      val citIdx = (col("convId").cast("int") * 2 + col("pid")) % 6
      val precNodes = o.select(col("convId"), concat(lit("p"), col("pid").cast("string")).as("id"),
          lit("precedent").as("nodeType"),
          when(nameIdx < 4, element_at(array(names.map(lit): _*), nameIdx.cast("int") + 1))
            .otherwise(lit(null).cast("string")).as("caseName"),
          element_at(array(cits.map(lit): _*), citIdx.cast("int") + 1).as("citation"),
          lit("air").as("citationType"),
          lit(null).cast("string").as("conceptId"))
        .distinct()
      val conNodes = o.select(col("convId"), concat(lit("c"), col("cid").cast("string")).as("id"),
          lit("concept").as("nodeType"),
          lit(null).cast("string").as("caseName"),
          lit(null).cast("string").as("citation"),
          lit(null).cast("string").as("citationType"),
          concat(lit("CONST_"), ((col("convId").cast("int") + col("cid")) % 4).cast("string")).as("conceptId"))
        .distinct()
      val edges = o.select(col("convId"),
        concat(lit("p"), col("pid").cast("string")).as("source"),
        concat(lit("c"), col("cid").cast("string")).as("target"),
        lit("follows").as("relation"))
      graft.kg.canonical.Canonicalizer
        .canonicalTriples(s, precNodes.union(conNodes), edges)
        .orderBy(col("conv_id"), col("subj"), col("obj"))
    }),

    // --- V3 argument-scheme normalization: coerceScheme alias cascade over
    //     planted raw schemes + inferScheme cue buckets over planted
    //     sentences (priority order exercised by multi-cue sentences) ---
    "q58_scheme_norm" -> ((s, dir) => {
      val raws = Seq(
        "Textual Interpretation", "precedent-distinguishing",
        "AUDI ALTERAM PARTEM", "weird scheme!!", "balancing", "jurisdiction")
      val sents = Seq(
        "the evidence is proportional to the restriction imposed",
        "counsel relied on the precedent cited at the bar",
        "the plain meaning of the provision is clear",
        "the order traverses beyond jurisdiction and is time-barred",
        "the measure serves no identifiable purpose at all")
      val coerceU = udf((r: String) => graft.kg.rules.Actors.coerceScheme(r))
      val inferU = udf((t: String) => graft.kg.rules.Actors.inferScheme(t))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 6).cast("int") + 1).as("raw"),
          element_at(array(sents.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("sent"))
        .select(col("doc_id"), col("raw"), col("sent"),
          coerceU(col("raw")).as("scheme"), inferU(col("sent")).as("inferred"))
        .orderBy(col("doc_id"))
    }),

    // --- V7 relation repair (+ flip + drift): the REAL Relations.repair
    //     cascade — matrix direct hit, direction flip, general drift map,
    //     per-key drifts, preference list, sorted fallback, drop — over
    //     decorrelated (src, tgt, relation) cycles hitting every stage ---
    "q59_relation_repair" -> ((s, dir) => {
      val srcs = Seq("f1", "c1", "a1", "h1", "p1", "i1", "f2", "h2", "js1", "xy9", "i2", "c2")
      val tgts = Seq("c2", "i1", "h1", "i2", "c1", "h2", "a1", "p1", "h1", "f1", "i1", "outcome")
      val rels = Seq("supports", "resolves", "enables", "satisfies", "establishes",
        "explains", "zzz_rel", "conflicts_with", "distinguishes", "partially_satisfies")
      val repU = udf((a: String, b: String, r: String) =>
        graft.kg.rules.Relations.repair(a, b, r)
          .map(x => Seq(x._1, x._2, x._3, x._4)).orNull)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(srcs.map(lit): _*), (col("doc_id") % 12).cast("int") + 1).as("src"),
          element_at(array(tgts.map(lit): _*),
            (floor(col("doc_id") / 3) % 12).cast("int") + 1).as("tgt"),
          element_at(array(rels.map(lit): _*),
            (floor(col("doc_id") / 7) % 10).cast("int") + 1).as("relation"))
        .withColumn("rep", repU(col("src"), col("tgt"), col("relation")))
        .select(col("doc_id"), col("src"), col("tgt"), col("relation"),
          element_at(col("rep"), 1).as("new_src"),
          element_at(col("rep"), 2).as("new_tgt"),
          element_at(col("rep"), 3).as("new_rel"),
          element_at(col("rep"), 4).as("note"))
        .orderBy(col("doc_id"))
    }),

    // --- T8 case-insensitive / Turkish-folded phrase containment over
    //     planted haystack×phrase combinations (İ/I fold differences are
    //     the point: plain lowering misses DİLEKÇE vs dilekçe) ---
    "q60_contains_phrase" -> ((s, dir) => {
      val hays = Seq(
        "The DİLEKÇE was rejected by the authority",
        "ILGILI makam gerekçe göstermedi",
        "the principles of NATURAL justice apply",
        "Basvuru SÜRESİ içinde yapılmıştır",
        "no matching content here at all")
      val phrases = Seq("dilekçe", "natural justice", "süresi", "ılgılı", "absent phrase")
      val cU = udf((h: String, p: String) => graft.kg.text.Normalize.containsPhrase(h, p))
      val tU = udf((h: String, p: String) =>
        graft.kg.text.Normalize.containsPhrase(h, p, turkish = true))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(hays.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("hay"),
          element_at(array(phrases.map(lit): _*),
            (floor(col("doc_id") / 3) % 5).cast("int") + 1).as("phrase"))
        .select(col("doc_id"), col("hay"), col("phrase"),
          cU(col("hay"), col("phrase")).as("contains_plain"),
          tU(col("hay"), col("phrase")).as("contains_turkish"))
        .orderBy(col("doc_id"))
    }),

    // --- J5 resolves_issue autofill argmax: REAL tokenSet +
    //     DocExtractor.resolveIssueArgmax over planted holding/issue texts
    //     (empty-set None, all-zero ties, first-max tie-break) ---
    "q61_resolve_issue" -> ((s, dir) => {
      val hs = Seq(
        "natural justice requires fair hearing notice",
        "the tender rejection violated equality doctrine",
        "compensation award circle rate acquisition",
        "a an of to in",
        "hearing notice doctrine equality")
      val issueTexts = Seq(
        "whether natural justice fair hearing applies",
        "whether tender equality doctrine violated",
        "whether acquisition compensation adequate circle rate",
        "whether notice hearing doctrine equality sufficient")
      val rU = udf((ht: String) => {
        val hw = graft.kg.text.Normalize.tokenSet(ht, 4)
        val ik = issueTexts.map(t => graft.kg.text.Normalize.tokenSet(t, 4)).toIndexedSeq
        graft.kg.extract.DocExtractor.resolveIssueArgmax(hw, ik)
          .map(_.toLong).getOrElse(-1L)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(hs.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("htext"))
        .select(col("doc_id"), col("htext"), rU(col("htext")).as("best_idx"))
        .orderBy(col("doc_id"))
    }),

    // --- J6/W5 holding→outcome linkage plan: REAL outcomeLinkPlan over
    //     planted (overlap, anchorStart, id) triples, incl. the all-zero
    //     latest-by-anchor fallback with (start, id) tie-breaks ---
    "q62_outcome_link" -> ((s, dir) => {
      val planU = udf((ovs: Seq[Long], sts: Seq[Long]) =>
        graft.kg.extract.DocExtractor.outcomeLinkPlan(
          ovs.indices.map(j => (ovs(j).toInt, sts(j).toInt, "h" + (j + 1)))))
      val js = sequence(lit(0), lit(2))
      val ovs = transform(js, j =>
        when(col("doc_id") % 4 === 0, lit(0L)).otherwise((col("doc_id") * (j + 1)) % 3))
      val sts = transform(js, j => ((col("doc_id") + j) % 3) * 10)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(planU(ovs, sts)).as(Seq("j", "rel")))
        .select(col("doc_id"), col("j").cast("long").as("j"), col("rel"))
        .orderBy(col("doc_id"), col("j"))
    }),

    // --- C3/W4 edge dedup winners: the REAL DocExtractor.dedupeEdges
    //     (group by (source, target, relation), keep max (confidenceRank,
    //     id), deterministic output order) over planted edge rows with
    //     colliding keys, rank ties, and an unknown confidence value ---
    "q63_edge_dedup" -> ((s, dir) => {
      val confs = Seq("high", "medium", "low", "inferred", "bogus")
      val dedupU = udf((docId: Long) => {
        val rows = (0 until 6).map { j =>
          graft.kg.model.EdgeRow(
            convId = docId.toString,
            id = "e" + j,
            source = "f" + ((docId + j) % 2),
            target = "c" + (j % 2),
            relation = if ((docId + j) % 2 == 0) "supports" else "triggers",
            confidence = confs(((docId * 7 + j) % 5).toInt),
            strength = "strong", isCritical = false,
            supportGroupIds = Nil, explanation = null, anchor = null,
            method = "rule", repairNote = null)
        }
        graft.kg.extract.DocExtractor.dedupeEdges(rows)
          .map(e => s"${e.id}:${e.source}:${e.target}:${e.relation}:${e.confidence}")
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), posexplode(dedupU(col("doc_id"))).as(Seq("rk", "kept")))
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          split(col("kept"), ":").getItem(0).as("id"),
          split(col("kept"), ":").getItem(1).as("source"),
          split(col("kept"), ":").getItem(2).as("target"),
          split(col("kept"), ":").getItem(3).as("relation"),
          split(col("kept"), ":").getItem(4).as("confidence"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // --- V8/V9 graph validation: the REAL GraphAssembly.validateGraph over
    //     planted graphs exercising every check (endpoint existence,
    //     support-group existence/target match, confidence/anchor coherence,
    //     JS membership, duplicate ids, anchor sanity, outcome DETERMINES);
    //     warnings emitted unordered — the compare sorts rows, so only the
    //     exact strings and multiplicities must match ---
    "q64_graph_validate" -> ((s, dir) => {
      val valU = udf((k: Long) => {
        import graft.kg.model._
        def node(id: String, nt: String, anchor: Anchor): Node = Node(
          convId = k.toString, id = id, nodeType = nt, text = "t",
          conceptId = null, kind = null, actor = null, factType = null,
          relevance = null, isRatio = false, resolvesIssue = null,
          disposition = null, caseName = null, citation = null,
          citationType = null, caseYear = null, confidence = "high",
          anchor = anchor, method = "rule")
        val f1Anchor =
          if (k % 2 == 0) {
            val st = (k % 3).toInt - 1
            Anchor("d", st, st + ((k / 3) % 2).toInt, "h", "0", "s")
          } else null
        val nodes = Vector(
          node("f1", "fact", f1Anchor), node("h1", "holding", null),
          node("o1", "outcome", null)) ++
          (if (k % 5 == 0) Vector(node("f1", "fact", null)) else Vector.empty)
        def edge(id: String, src: String, tgt: String, rel: String,
                 conf: String, sg: Seq[String]): EdgeRow = EdgeRow(
          convId = k.toString, id = id, source = src, target = tgt,
          relation = rel, confidence = conf, strength = "strong",
          isCritical = false, supportGroupIds = sg, explanation = null,
          anchor = null, method = "rule", repairNote = null)
        val confs = Seq("high", "medium", "low", "inferred")
        val e1 = edge("e1",
          if (k % 4 == 0) "zz" else "f1", "h1", "supports",
          confs((k % 4).toInt),
          (k % 3) match { case 0 => Seq("js1"); case 1 => Seq("jsX"); case _ => Nil })
        val e2 = edge("e2", "h1", "o1",
          if (k % 2 == 0) "determines" else "supports", "low", Nil)
        val edges = Vector(e1, e2) ++ (if (k % 7 == 0) Vector(e1) else Vector.empty)
        val js = Vector(JustificationSetRow(k.toString, "js1",
          if (k % 6 < 3) "h1" else "qq", "and", "L", isPrimary = false, "high"))
        graft.kg.extract.GraphAssembly.validateGraph(nodes, edges, js)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(valU(col("doc_id"))).as("warning"))
        .orderBy(col("doc_id"), col("warning"))
    }),

    // --- J4 requirement satisfaction: REAL keywordSet + looksNegative +
    //     DocExtractor.satisfyRequirement over planted requirement/fact
    //     texts (negation penalty, threshold, first-strict-max tie-break) ---
    "q65_requirement_sat" -> ((s, dir) => {
      val reqs = Seq(
        "notice order termination",
        "enquiry notice",
        "compensation acquisition award",
        "reasons recorded tender")
      val ftexts = Seq(
        "notice served upon petitioner before termination order",
        "no enquiry conducted and notice denied before order",
        "compensation deposited after acquisition award",
        "tender rejected without reasons being recorded")
      val satU = udf((req: String, fts: Seq[String]) => {
        val reqKw = graft.kg.text.Normalize.keywordSet(req)
        val cands = fts.zipWithIndex.map { case (t, i) =>
          ("f" + (i + 1), graft.kg.text.Normalize.keywordSet(t),
            graft.kg.text.Normalize.looksNegative(t))
        }
        graft.kg.extract.DocExtractor.satisfyRequirement(reqKw, cands).getOrElse("")
      })
      val fApick = element_at(array(ftexts.map(lit): _*), (col("doc_id") % 4).cast("int") + 1)
      val fBpick = element_at(array(ftexts.map(lit): _*),
        (floor(col("doc_id") / 5) % 4).cast("int") + 1)
      val fCpick = element_at(array(ftexts.map(lit): _*),
        (floor(col("doc_id") / 11) % 4).cast("int") + 1)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(reqs.map(lit): _*),
            (floor(col("doc_id") / 3) % 4).cast("int") + 1).as("req"),
          array(fApick, fBpick, fCpick).as("fts"))
        .select(col("doc_id"), col("req"), satU(col("req"), col("fts")).as("best_fact"))
        .orderBy(col("doc_id"))
    }),

    // --- M5/M6 mention scan: the REAL PhraseAutomaton (Aho-Corasick → DFA)
    //     over planted texts with overlapping/suffix-sharing phrases (the
    //     fail-chain output merges are the point: "justice" and "ice" must
    //     fire inside "natural justice"), mirrored by brute-force
    //     every-offset substring comparison ---
    "q66_automaton_scan" -> ((s, dir) => {
      val phrases = Seq("natural justice", "justice", "audi alteram partem",
        "due process", "process", "ice")
      val texts = Seq(
        "natural justice and due process demand audi alteram partem",
        "process of justice is natural",
        "the thin ice near due process",
        "audi alteram partem audi alteram partem",
        "nothing matches in this sentence")
      val scanU = udf((t: String) => {
        val pa = graft.kg.text.PhraseAutomaton.build(phrases.toIndexedSeq)
        val hits = scala.collection.mutable.ArrayBuffer.empty[String]
        pa.scan(t, new graft.kg.text.PhraseAutomaton.Sink {
          def hit(pid: Int, start: Int): Unit = hits += s"$pid:$start"
        })
        hits.toSeq
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(texts.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("t"))
        .select(col("doc_id"), explode(scanU(col("t"))).as("hit"))
        .select(col("doc_id"),
          split(col("hit"), ":").getItem(0).cast("long").as("pid"),
          split(col("hit"), ":").getItem(1).cast("long").as("start"))
        .orderBy(col("doc_id"), col("pid"), col("start"))
    }),

    // --- M2 ECHR citation grammar (citation_preprocess.py:122-183): the
    //     REAL Citations scan (full-text path incl. keep-longest overlap
    //     dedup) over deterministically planted ECHR citations — application
    //     numbers, bare "nos. N/YY", Series A, ECHR reports, "Name v. Name".
    //     The salad base text is lowercase and digit-free, so no ECHR
    //     pattern can fire on it (Name-v-Name requires real uppercase: the
    //     case-v pattern is compiled WITHOUT CASE_INSENSITIVE); the DuckDB
    //     mirror replays each planted family with the same regex. The bare
    //     "nos." sub-hit inside every application-number span is dropped by
    //     the keep-longest dedup, so the mirror emits bare hits only from
    //     the "see nos." plants (disjoint by construction). ---
    "q67_echr_citations" -> ((s, dir) => {
      val n1 = Seq("Kudla", "Osman", "Airey", "Soering", "Tyrer")
      val n2 = Seq("Poland", "Turkey", "Ireland", "Germany", "France")
      val idx = (col("doc_id") % 5).cast("int") + 1
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" Application no. "), lit(10000) + col("doc_id") % 50000,
              lit("/"), lit(90) + col("doc_id") % 10)).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see nos. "), lit(1000) + col("doc_id") % 9000,
              lit("/"), lit(10) + col("doc_id") % 90)).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" Series A no. "), lit(1) + col("doc_id") % 400)).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" ECHR "), lit(1999) + col("doc_id") % 20)).otherwise(lit("")),
          when(col("doc_id") % 6 === 1,
            concat(lit(" "), element_at(array(n1.map(lit): _*), idx),
              lit(" v. "), element_at(array(n2.map(lit): _*), idx))).otherwise(lit(""))).as("text"))
      graft.kg.rules.CitationManifest.scan(s, planted, "doc_id", "text", "echr")
        .orderBy(col("doc_id"), col("citation_type"), col("citation"))
    }),

    // --- M3 Turkish citation grammar (citation_preprocess.py:186-261): the
    //     REAL Citations scan (digit-window path + overlap dedup) over
    //     planted AYM E./K. pairs, "NNNN sayılı" statutes, başvuru numbers,
    //     Yargıtay chamber citations and Resmî Gazete dates. Every TR
    //     pattern needs a digit or a Turkish literal — the salad base text
    //     has neither. tr_esas / tr_karar sub-hits inside the AYM and
    //     Yargıtay spans are dropped by keep-longest dedup (mirrored by
    //     construction: the mirror emits only the enclosing spans). ---
    "q68_turkish_citations" -> ((s, dir) => {
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" AYM, E. "), lit(2010) + col("doc_id") % 10,
              lit("/"), lit(1) + col("doc_id") % 200,
              lit(", K. "), lit(2011) + col("doc_id") % 10,
              lit("/"), lit(1) + col("doc_id") % 300)).otherwise(lit("")),
          when(col("doc_id") % 4 === 1,
            concat(lit(" "), lit(1000) + col("doc_id") % 9000,
              lit(" sayılı Kanun"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 2,
            concat(lit(" Başvuru no. "), lit(2014) + col("doc_id") % 6,
              lit("/"), lit(1) + col("doc_id") % 999)).otherwise(lit("")),
          when(col("doc_id") % 7 === 3,
            concat(lit(" Yargıtay "), lit(1) + col("doc_id") % 23,
              lit(". Ceza Dairesi, E. "), lit(2005) + col("doc_id") % 15,
              lit("/"), lit(1) + col("doc_id") % 500)).otherwise(lit("")),
          when(col("doc_id") % 6 === 4,
            concat(lit(" R.G. "), lit(1) + col("doc_id") % 28,
              lit("."), lit(1) + col("doc_id") % 12,
              lit("."), lit(1995) + col("doc_id") % 20)).otherwise(lit(""))).as("text"))
      graft.kg.rules.CitationManifest.scan(s, planted, "doc_id", "text", "tr")
        .orderBy(col("doc_id"), col("citation_type"), col("citation"))
    }),

    // --- T2/T3 segmentation offsets: the REAL Segmenter over documents
    //     assembled from closed-form sentence blocks (word + " pad"×k + "."
    //     joined by " " inside a paragraph, paragraphs joined by "\n\n"), so
    //     every (start_char, end_char, para_idx, sent_idx, text) is pure
    //     doc_id arithmetic the DuckDB mirror re-derives with window sums.
    //     Sentence end_char includes the inter-sentence separator space
    //     (split point = end of the whitespace run) except for the last
    //     sentence of a paragraph — the mirror reproduces that contract. ---
    "q69_segment_offsets" -> ((s, dir) => {
      val segU = udf((docId: Long) => {
        val doc = graft.kg.text.Segmenter.segment(plantedSegDoc(docId), "d" + docId)
        (doc.paragraphs ++ doc.sentences).map(seg =>
          Seq(seg.paraIndex, seg.sentIndex, seg.startChar, seg.endChar)
            .mkString(",") + "|" + seg.text)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(segU(col("doc_id"))).as("seg"))
        .select(col("doc_id"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(0).cast("int").as("para_idx"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(1).cast("int").as("sent_idx"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(2).cast("int").as("start_char"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(3).cast("int").as("end_char"),
          split(col("seg"), "\\|").getItem(1).as("seg_text"))
        .orderBy(col("doc_id"), col("para_idx"), col("sent_idx"))
    }),

    // --- J3 cluster assignment (extractor.py:1409-1637 _assign_by_score +
    //     the issue/holding score fallbacks): planted node texts through the
    //     REAL DocExtractor.argmaxCluster (the function extract() itself
    //     calls) against two shipped ontology concepts + two pseudo
    //     clusters, at both reference thresholds (min 2 = facts/args, min 3
    //     = issues/holdings, cycled by doc_id). The mirror replays the full
    //     conceptMatchScoreFast formula (q34's mirror) per ontology
    //     candidate, the keyword-overlap formula per pseudo candidate, and
    //     the FIRST strict-'>' argmax in candidate order. ---
    "q70_cluster_argmax" -> ((s, dir) => {
      val texts = Seq(
        "fair opportunity to answer was denied before the hearing",
        "the proportionality test requires a rational nexus to a legitimate aim",
        "speedy trial guarantee was invoked by the accused person",
        "land acquisition compensation award challenged in appeal",
        "completely unrelated filler words about nothing relevant here",
        "speaking order with reasons after fair hearing notice",
        "land acquisition compensation award with speedy trial guarantee")
      val cands = List(
        "DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM",
        "DOCTRINE_PROPORTIONALITY_TEST",
        "PSEUDO_SPEEDY_TRIAL", "PSEUDO_LAND_ACQUISITION")
      val labels = Map(
        "PSEUDO_SPEEDY_TRIAL" -> "speedy trial guarantee",
        "PSEUDO_LAND_ACQUISITION" -> "land acquisition compensation award")
      val pickU = udf((t: String, minScore: Int) =>
        graft.kg.extract.DocExtractor.argmaxCluster(
          graft.kg.ontology.MatchText.of(t, turkish = false),
          cands, minScore, graft.kg.ontology.Ontology.default,
          labels, turkish = false).orNull)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(texts.map(lit): _*), (col("doc_id") % 7).cast("int") + 1).as("t"),
          (lit(2) + col("doc_id") % 2).cast("int").as("min_score"))
        .select(col("doc_id"), col("min_score"),
          pickU(col("t"), col("min_score")).as("best_cluster"))
        .orderBy(col("doc_id"))
    }),

    // --- M8 anchor construction + validate/repair (extractor.py:2619-2700
    //     make_anchor): planted (doc, claimed-span, quote) triples through
    //     the REAL DocExtractor.makeAnchor over the q69 closed-form document,
    //     cycling 5 variants: valid passthrough, invalid offsets repaired
    //     via quote alignment, invalid offsets + unfindable quote → null,
    //     whitespace-only span (the "\n\n" separator) repaired via quote,
    //     and null offsets with no quote → null. The mirror re-derives
    //     offsets/hash/display from the same arithmetic (quote = first
    //     sentence → repair lands at [0, len(s00)); display from the
    //     segment table; hash = sha256 prefix). ---
    "q72_anchor_repair" -> ((s, dir) => {
      val mkU = udf((docId: Long) => {
        val doc = graft.kg.text.Segmenter.segment(plantedSegDoc(docId), "d" + docId)
        val s00 = doc.sentences.head.text // sentence (0,0) == doc prefix
        val lastSent = doc.sentences.last
        val D = graft.kg.extract.DocExtractor
        val res = (docId % 5) match {
          case 0 => // valid passthrough: the last sentence's trimmed span
            D.makeAnchor(doc, Some(lastSent.startChar),
              Some(lastSent.startChar + lastSent.text.length))
          case 1 => // invalid offsets, findable quote → align-repair
            D.makeAnchor(doc, Some(0), Some(doc.fullText.length + 5),
              quoteForAlignment = Some(s00))
          case 2 => // invalid offsets, unfindable quote → None
            D.makeAnchor(doc, Some(-3), Some(-1),
              quoteForAlignment = Some("zz unfindable qq"))
          case 3 => // whitespace-only span (the \n\n separator when P >= 2;
            // degenerates to invalid offsets when P == 1) → quote-repair
            val p0end = doc.paragraphs.head.endChar
            D.makeAnchor(doc, Some(p0end), Some(p0end + 2),
              quoteForAlignment = Some(s00))
          case _ => // null offsets, no quote → None
            D.makeAnchor(doc, None, None)
        }
        res.map(a => Seq(a.startChar, a.endChar).mkString(",") + "|" +
          a.textHash + "|" + Option(a.displayLocation).getOrElse("?") + "|" +
          a.surfaceText).orNull
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 5).cast("int").as("variant"),
          mkU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("variant"),
          split(split(col("r"), "\\|").getItem(0), ",").getItem(0).cast("int").as("start_char"),
          split(split(col("r"), "\\|").getItem(0), ",").getItem(1).cast("int").as("end_char"),
          split(col("r"), "\\|").getItem(1).as("text_hash"),
          split(col("r"), "\\|").getItem(2).as("display_loc"),
          split(col("r"), "\\|").getItem(3).as("surface"))
        .orderBy(col("doc_id"))
    }),

    // --- J7 orphan-repair candidate scoring (repair_orphans.py:36-91,
    //     454-543): planted (orphan, candidate) node pairs through the REAL
    //     OrphanRepair.candidateEdge — the same code path repair() runs per
    //     pair. Axes cycled by doc_id arithmetic: type-pair variant
    //     (doc_id%6) covering every type-specific bonus arm plus the
    //     reversed-matrix direction (concept←fact) and a no-matrix-entry
    //     pair (fact/precedent → None); planted keyword overlap 0..3
    //     (doc_id%4) with stopword/short/uppercase distractors the REAL
    //     tokenizer must drop; anchor proximity tier incl. null anchor
    //     ((doc_id/5)%5); bonus-field flag ((doc_id/7)%2); connected flag
    //     (doc_id%2). The mirror re-derives score = overlap + proximity +
    //     type bonus, gates at minScore=2.0 BEFORE the +0.5 connected
    //     bonus, and pins relation + direction per variant. ---
    "q73_repair_score" -> ((s, dir) => {
      val scoreU = udf((docId: Long) => {
        import graft.kg.model.{Anchor, Node}
        val kbank = Array("alphaterm", "betaterm", "gammaterm", "deltaterm",
          "epsilonterm", "zetaterm", "thetaterm", "iotaterm")
        val v = (docId % 6).toInt
        val ov = (docId % 4).toInt
        val m = ((docId / 5) % 5).toInt
        val f = ((docId / 7) % 2).toInt == 1
        val connected = docId % 2 == 0
        // the uppercase-dup distractor must already be in that side's own
        // keyword set, or it would leak extra overlap: betaterm ∈ orphan
        // always, epsilonterm ∈ cand always (ov ≤ 3)
        val orphanText = kbank.take(4).mkString(" ") + " BETATERM the court act ab"
        val candWords = kbank.take(ov) ++ kbank.slice(4, 4 + (4 - ov))
        val candText = candWords.mkString(" ") + " EPSILONTERM the court act ab"
        val oAnchor = Anchor("d" + docId, 0, 200, "h", "0:0", "x")
        val cAnchor =
          if (m == 4) null
          else {
            val dist = Array(100, 500, 1500, 2500)(m)
            Anchor("d" + docId, dist, dist + 200, "h", "0:0", "x")
          }
        def mk(id: String, tpe: String, text: String, anchor: Anchor,
            courtFinding: String = null, treatment: String = null,
            resolvesIssue: String = null, claim: String = null): Node =
          Node(convId = "c" + docId, id = id, nodeType = tpe, text = text,
            conceptId = null, kind = null, actor = null, factType = null,
            relevance = null, isRatio = false, resolvesIssue = resolvesIssue,
            disposition = null, caseName = null, citation = null,
            citationType = null, caseYear = null, confidence = null,
            anchor = anchor, method = null, courtFinding = courtFinding,
            treatment = treatment, claim = claim)
        val (orphan, cand) = v match {
          case 0 =>
            val claim = (if (f) candWords.take(3) else candWords.take(1))
              .mkString(" ")
            (mk("o1", "argument", orphanText, oAnchor, claim = claim),
              mk("c1", "issue", candText, cAnchor))
          case 1 =>
            (mk("o1", "fact", orphanText, oAnchor,
              courtFinding = if (f) "accepted" else "rejected"),
              mk("c1", "holding", candText, cAnchor))
          case 2 =>
            (mk("o1", "precedent", orphanText, oAnchor,
              treatment = if (f) "followed" else "criticized"),
              mk("c1", "argument", candText, cAnchor))
          case 3 =>
            (mk("o1", "concept", orphanText, oAnchor),
              mk("c1", "holding", candText, cAnchor,
                resolvesIssue = if (f) "i1" else null))
          case 4 =>
            (mk("o1", "concept", orphanText, oAnchor),
              mk("c1", "fact", candText, cAnchor))
          case _ =>
            (mk("o1", "fact", orphanText, oAnchor),
              mk("c1", "precedent", candText, cAnchor))
        }
        graft.kg.extract.OrphanRepair.candidateEdge(orphan, cand, connected, 2.0)
          .map { case (score, rel, src, _) =>
            score.toString + "|" + rel + "|" +
              (if (src == orphan.id) "orphan" else "cand")
          }.orNull
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 6).cast("int").as("variant"),
          (col("doc_id") % 4).cast("int").as("ov"),
          scoreU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("variant"), col("ov"),
          split(col("r"), "\\|").getItem(0).cast("double").as("score"),
          split(col("r"), "\\|").getItem(1).as("relation"),
          split(col("r"), "\\|").getItem(2).as("src"))
        .orderBy(col("doc_id"))
    }),

    // --- G2 justification-set construction (extractor.py:4194-4276):
    //     planted holdings/edges/clusters through the REAL GraphAssembly
    //     .buildJustificationSets + pickCluster. Axes by doc_id arithmetic:
    //     support-edge count 0..2 (doc_id%3; the 2-edge case mixes supports
    //     + grounds), undercut present ((doc_id/3)%2 — a defeater JS must
    //     only appear when support ALSO exists), cluster-pick variant
    //     ((doc_id/6)%4: requires-wins, size-wins, tie-keeps-first,
    //     no-clusters), cluster logic and/or/unknown-coerced ((doc_id/24)%3).
    //     Distractor edges (non-support relation on h1; supports onto a
    //     non-holding target) must be excluded. h2 always carries one
    //     support edge, so the js{n} counter sequencing across holdings is
    //     pinned, as are each set's member-edge lists. ---
    "q74_justification_sets" -> ((s, dir) => {
      val jsU = udf((docId: Long) => {
        import graft.kg.model.EdgeRow
        import graft.kg.extract.GraphAssembly
        val sN = (docId % 3).toInt
        val u = ((docId / 3) % 2).toInt == 1
        val cv = ((docId / 6) % 4).toInt
        val logic = Vector("and", "or", "xor")(((docId / 24) % 3).toInt)
        def edge(id: String, src: String, tgt: String, rel: String): EdgeRow =
          EdgeRow(convId = docId.toString, id = id, source = src,
            target = tgt, relation = rel, confidence = "high",
            strength = "strong", isCritical = false, supportGroupIds = Nil,
            explanation = null, anchor = null, method = "rule",
            repairNote = null)
        val edges = Vector(
          Option.when(sN >= 1)(edge("es1", "f1", "h1", "supports")),
          Option.when(sN == 2)(edge("es2", "c1", "h1", "grounds")),
          Option.when(u)(edge("eu1", "a1", "h1", "undercuts")),
          Some(edge("eh2", "f2", "h2", "supports")),
          Some(edge("ex1", "f1", "h1", "interprets")),
          Some(edge("ex2", "f1", "i1", "supports"))).flatten
        val info = Map(
          "ca" -> GraphAssembly.ClusterPick(hasRequires = cv != 0,
            sizeFcp = Vector(2, 2, 3, 0)(cv), logic = logic, label = "Alpha"),
          "cb" -> GraphAssembly.ClusterPick(hasRequires = true,
            sizeFcp = Vector(1, 5, 3, 0)(cv), logic = logic, label = "Beta"))
        val hc: Map[String, List[String]] =
          if (cv == 3) Map.empty else Map("h1" -> List("ca", "cb"))
        val (rows, byEdge) = GraphAssembly.buildJustificationSets(
          docId.toString, Seq("h1", "h2"), edges, hc, info)
        rows.map { r =>
          val members = byEdge.collect {
            case (eid, jss) if jss.contains(r.id) => eid
          }.toList.sorted.mkString(",")
          Seq(r.id, r.targetId, r.logic,
            Option(r.label).getOrElse("<null>"), r.isPrimary.toString,
            r.confidence, members).mkString("|")
        }
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(jsU(col("doc_id"))).as("r"))
        .select(col("doc_id"),
          split(col("r"), "\\|").getItem(0).as("js_id"),
          split(col("r"), "\\|").getItem(1).as("target"),
          split(col("r"), "\\|").getItem(2).as("logic"),
          when(split(col("r"), "\\|").getItem(3) === "<null>", lit(null))
            .otherwise(split(col("r"), "\\|").getItem(3)).as("label"),
          split(col("r"), "\\|").getItem(4).cast("boolean").as("is_primary"),
          split(col("r"), "\\|").getItem(5).as("confidence"),
          split(col("r"), "\\|").getItem(6).as("members"))
        .orderBy(col("doc_id"), col("js_id"))
    }),

    // --- P7 cluster gate + G1 intra-cluster fan-out: the REAL DocExtractor
    //     .clusterEdgePlan (extract() calls the same function per live
    //     cluster) over planted member sets. Axes: holding/issue presence
    //     (doc_id%2, (doc_id/2)%2 — holdings shadow issues and flip every
    //     relation), fact count 0..2 ((doc_id/4)%3, planted UNSORTED),
    //     concept ((doc_id/12)%2), argument count 0..2 ((doc_id/24)%3, the
    //     >=2-arguments gate arm), precedent ((doc_id/72)%2). The >=2-total
    //     gate, the argument-only-gate-no-target case (gate passes, zero
    //     edges), and the e_<sha1(cid)[:8]>_<n> id scheme (cid cycles 4
    //     values; tags are independent hashlib constants in the mirror) are
    //     all pinned. ---
    "q75_cluster_edges" -> ((s, dir) => {
      val planU = udf((docId: Long) => {
        val nh = (docId % 2).toInt
        val ni = ((docId / 2) % 2).toInt
        val nf = ((docId / 4) % 3).toInt
        val nc = ((docId / 12) % 2).toInt
        val na = ((docId / 24) % 3).toInt
        val np = ((docId / 72) % 2).toInt
        val members: Map[String, Seq[String]] = Map(
          "holding" -> (if (nh == 1) Seq("h1") else Nil),
          "issue" -> (if (ni == 1) Seq("i1") else Nil),
          "fact" -> Seq("f2", "f1").take(nf),
          "concept" -> (if (nc == 1) Seq("c1") else Nil),
          "argument" -> Seq("a2", "a1").take(na),
          "precedent" -> (if (np == 1) Seq("p1") else Nil))
        val tag = graft.kg.text.Normalize.sha1Hex8("cl" + (docId % 4))
        graft.kg.extract.DocExtractor.clusterEdgePlan(members(_))
          .zipWithIndex.map { case ((src, tgt, rel), i) =>
            s"e_${tag}_${i + 1}|$src|$tgt|$rel"
          }
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), posexplode(planU(col("doc_id"))).as(Seq("i", "r")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("seq"),
          split(col("r"), "\\|").getItem(0).as("edge_id"),
          split(col("r"), "\\|").getItem(1).as("src"),
          split(col("r"), "\\|").getItem(2).as("tgt"),
          split(col("r"), "\\|").getItem(3).as("rel"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    // --- G3/C4 reasoning-chain synthesis (extractor.py:4290-4369): the
    //     REAL GraphAssembly.buildChains over five planted topologies
    //     (doc_id%5): straight fan-in with a critical edge and an untracked
    //     precedent source; multi-level BFS where a node is reached twice
    //     (first-seen dedup = C4, edge-list traversal order); structural
    //     determines-edge skip + a cycle back to the visited holding (the
    //     cycle EDGE is still recorded); two issues x three holdings where
    //     the unresolved holding emits no chain and a missing primaryJsFor
    //     entry yields null; an edgeless chain. Every expected list — in
    //     BFS emission order, dedup preserving first occurrence — plus the
    //     exact narrative string is hand-derived from the reference
    //     algorithm and pinned as per-variant constants in the mirror. ---
    "q76_reasoning_chains" -> ((s, dir) => {
      val chainU = udf((docId: Long) => {
        import graft.kg.model.EdgeRow
        val v = (docId % 5).toInt
        def edge(id: String, src: String, tgt: String, rel: String,
            critical: Boolean = false): EdgeRow =
          EdgeRow(convId = docId.toString, id = id, source = src,
            target = tgt, relation = rel, confidence = "high",
            strength = "strong", isCritical = critical,
            supportGroupIds = Nil, explanation = null, anchor = null,
            method = "rule", repairNote = null)
        val types = Map("f1" -> "fact", "f2" -> "fact", "c1" -> "concept",
          "a1" -> "argument", "p1" -> "precedent", "h1" -> "holding",
          "h2" -> "holding", "h3" -> "holding", "i1" -> "issue",
          "i2" -> "issue")
        val (issues, holdings, edges, pjs) = v match {
          case 0 => (Seq("i1"), Seq("h1" -> "i1"), Vector(
            edge("e1", "f1", "h1", "supports", critical = true),
            edge("e2", "c1", "h1", "grounds"),
            edge("e3", "a1", "h1", "supports"),
            edge("e4", "p1", "h1", "supports")), Map("h1" -> "jsA"))
          case 1 => (Seq("i1"), Seq("h1" -> "i1"), Vector(
            edge("e1", "a1", "h1", "supports"),
            edge("e3", "f1", "h1", "supports"),
            edge("e2", "f1", "a1", "supports")), Map("h1" -> "jsA"))
          case 2 => (Seq("i1"), Seq("h1" -> "i1"), Vector(
            edge("e1", "c1", "h1", "determines"),
            edge("e2", "f1", "h1", "triggers"),
            edge("e3", "h1", "f1", "interprets")), Map("h1" -> "jsA"))
          case 3 => (Seq("i1", "i2"),
            Seq("h1" -> "i1", "h2" -> "i2", "h3" -> "i9"), Vector(
              edge("e1", "f1", "h1", "supports"),
              edge("e2", "c1", "h2", "grounds")), Map("h1" -> "js1"))
          case _ => (Seq("i1"), Seq("h1" -> "i1"),
            Vector.empty[EdgeRow], Map.empty[String, String])
        }
        graft.kg.extract.GraphAssembly
          .buildChains(docId.toString, issues, holdings, edges, pjs, types)
          .map(c => Seq(c.id, c.issueId, c.holdingId,
            c.factIds.mkString(","), c.conceptIds.mkString(","),
            c.argumentIds.mkString(","), c.edgeIds.mkString(","),
            Option(c.justificationSetId).getOrElse("<null>"),
            c.criticalNodes.mkString(","), c.narrative).mkString("|"))
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(chainU(col("doc_id"))).as("r"))
        .select(col("doc_id"),
          split(col("r"), "\\|").getItem(0).as("chain_id"),
          split(col("r"), "\\|").getItem(1).as("issue_id"),
          split(col("r"), "\\|").getItem(2).as("holding_id"),
          split(col("r"), "\\|").getItem(3).as("facts"),
          split(col("r"), "\\|").getItem(4).as("concepts"),
          split(col("r"), "\\|").getItem(5).as("arguments"),
          split(col("r"), "\\|").getItem(6).as("edge_ids"),
          when(split(col("r"), "\\|").getItem(7) === "<null>", lit(null))
            .otherwise(split(col("r"), "\\|").getItem(7)).as("primary_js"),
          split(col("r"), "\\|").getItem(8).as("critical"),
          split(col("r"), "\\|").getItem(9).as("narrative"))
        .orderBy(col("doc_id"), col("chain_id"))
    }),

    // --- G9 full repair-engine loop (repair_orphans.py:324-641): the REAL
    //     OrphanRepair.repair over a planted 3-orphan graph wired so the
    //     loop's stateful semantics are all load-bearing: a1's repair to i9
    //     GROWS the connected set (c2/i9 then earn the +0.5 bonus), a1's
    //     runner-up (3.0 < 3.5) stops at one edge, c2 hits the 2-edge cap,
    //     i9's two best candidates are SKIPPED as already-connected pairs
    //     (skip, not stop — its third candidate still lands), warnings count
    //     per orphan. Axes: a1-i9 anchor distance cycles the proximity tier
    //     (doc_id%3 — flips edge 1's strength moderate stays, score text
    //     changes), and doc_id%2 plants the existing edge under the id
    //     e_repair_1 so the counter's skip-existing-ids loop is exercised.
    //     The mirror pins every edge (id, endpoints, relation, strength,
    //     exact explanation string) and warning as hand-derived constants. ---
    "q77_repair_engine" -> ((s, dir) => {
      val repU = udf((docId: Long) => {
        import graft.kg.model.{Anchor, EdgeRow, Node}
        val m = (docId % 3).toInt
        val f = (docId % 2).toInt
        def mk(id: String, tpe: String, text: String, anchor: Anchor): Node =
          Node(convId = docId.toString, id = id, nodeType = tpe, text = text,
            conceptId = null, kind = null, actor = null, factType = null,
            relevance = null, isRatio = false, resolvesIssue = null,
            disposition = null, caseName = null, citation = null,
            citationType = null, caseYear = null, confidence = null,
            anchor = anchor, method = null)
        val iStart = Vector(100, 600, 1800)(m)
        val nodes = Vector(
          mk("a1", "argument", "alphaterm betaterm gammaterm deltaterm",
            Anchor("d" + docId, 0, 200, "h", "0:0", "x")),
          mk("c2", "concept", "alphaterm betaterm gammaterm extraword", null),
          mk("h8", "holding", "alphaterm betaterm fillerword stuffword",
            Anchor("d" + docId, 9000, 9200, "h", "0:0", "x")),
          mk("i9", "issue", "alphaterm betaterm gammaterm zetaword",
            Anchor("d" + docId, iStart, iStart + 200, "h", "0:0", "x")),
          mk("o1", "outcome", "disposition text here", null))
        val e0 = EdgeRow(docId.toString,
          if (f == 1) "e_repair_1" else "e0", "h8", "o1", "determines",
          "high", "strong", isCritical = false, supportGroupIds = Nil,
          explanation = null, anchor = null, method = "rule",
          repairNote = null)
        val (all, warnings) =
          graft.kg.extract.OrphanRepair.repair(nodes, Vector(e0))
        val added = all.filter(_.id != e0.id)
          .sortBy(_.id.stripPrefix("e_repair_").toInt)
        added.zipWithIndex.map { case (e, i) =>
          Seq("edge", (i + 1).toString, e.id, e.source, e.target, e.relation,
            e.strength, e.explanation).mkString("|")
        } ++ warnings.zipWithIndex.map { case (w, i) =>
          Seq("warn", (i + 101).toString, "<null>", "<null>", "<null>",
            "<null>", "<null>", w).mkString("|")
        }
      })
      def ns(c: org.apache.spark.sql.Column) =
        when(c === "<null>", lit(null)).otherwise(c)
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(repU(col("doc_id"))).as("r"))
        .select(col("doc_id"),
          split(col("r"), "\\|").getItem(0).as("kind"),
          split(col("r"), "\\|").getItem(1).cast("long").as("seq"),
          ns(split(col("r"), "\\|").getItem(2)).as("edge_id"),
          ns(split(col("r"), "\\|").getItem(3)).as("source"),
          ns(split(col("r"), "\\|").getItem(4)).as("target"),
          ns(split(col("r"), "\\|").getItem(5)).as("relation"),
          ns(split(col("r"), "\\|").getItem(6)).as("strength"),
          split(col("r"), "\\|").getItem(7).as("explanation"))
        .orderBy(col("doc_id"), col("kind"), col("seq"))
    }),

    // --- C15 kNN outcome prediction core (eval_retrieval_v2.py:533-583,
    //     410-427): the REAL CaseRetrieval.predict for ALL FOUR vote
    //     methods over planted neighbor lists — similarities/labels by
    //     doc_id arithmetic, a label-less neighbor that majority/weighted
    //     votes must skip WITHOUT shifting distance-decay ranks, the
    //     weighted/decay zero-total fallback (0, 0.5) where gate-pred is 0
    //     even at prob 0.5, and IDF-weighted family aggregation — plus
    //     weightedJaccard (idf-weighted min/max form, defaulting missing
    //     idf to 1.0) and counterCosine (zero-magnitude-reads-as-1) as
    //     scalar columns. All mirrored closed-form. ---
    "q78_knn_predict" -> ((s, dir) => {
      val predU = udf((docId: Long) => {
        import graft.kg.query.CaseRetrieval._
        val s1 = (docId % 5) / 4.0
        val l1 = (docId % 2).toInt
        val s2 = ((docId / 5) % 4) / 4.0
        val l2 = ((docId / 2) % 2).toInt
        val no3 = ((docId / 7) % 2).toInt == 1
        val fam2a = ((docId / 3) % 2).toInt == 0
        def nb(id: String, sim: Double, label: Option[Int],
            fams: Seq[String]): Neighbor =
          Neighbor(id, sim, label, None, Nil, fams, Nil)
        val neighbors = Seq(
          nb("n1", s1, Some(l1), Seq("FAMILY_A")),
          nb("n2", s2, Some(l2),
            if (fam2a) Seq("FAMILY_A", "FAMILY_B") else Seq("FAMILY_B")),
          nb("n3", 0.6, if (no3) None else Some(1), Nil))
        val idf = Map("FAMILY_A" -> 2.0, "FAMILY_B" -> 0.5)
        val out = Seq("majority_vote", "weighted_vote",
          "distance_decay_vote", "family_cluster_aggregate")
          .flatMap { m =>
            val (p, pr) = predict(neighbors, m, idf)
            Seq(p.toDouble, pr)
          }
        val zv = (docId % 3).toDouble
        val wj = weightedJaccard(Map("x" -> 1.0, "y" -> 0.5),
          Map("y" -> 0.3, "z" -> zv), Map("x" -> 2.0, "y" -> 1.5))
        val p1 = (docId % 3).toInt
        val q2 = ((docId / 3) % 3).toInt
        val cc = counterCosine(Map("p" -> p1, "q" -> p1),
          Map("q" -> q2, "r" -> 1))
        out ++ Seq(wj, cc)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), predU(col("doc_id")).as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).cast("int").as("pred_mv"),
          col("r").getItem(1).as("prob_mv"),
          col("r").getItem(2).cast("int").as("pred_wv"),
          col("r").getItem(3).as("prob_wv"),
          col("r").getItem(4).cast("int").as("pred_dd"),
          col("r").getItem(5).as("prob_dd"),
          col("r").getItem(6).cast("int").as("pred_fc"),
          col("r").getItem(7).as("prob_fc"),
          col("r").getItem(8).as("wjac"),
          col("r").getItem(9).as("ccos"))
        .orderBy(col("doc_id"))
    }),

    // --- C16 blinding + leak scrubbing (eval_graph_vs_raw.py:132-276,
    //     299-310, 421-435): the REAL PromptBuilders.blindRawText /
    //     scrubFactText / blindingSanityCheck over four planted documents:
    //     clean baseline, an outcome sentence the blinder AND the fact
    //     scrubber must drop (and the sanity check must flag), a
    //     court-reasoning sentence only the reasoning/leak regexes catch,
    //     and a HEADNOTE prefix strip. Expected strings derived offline by
    //     an independent Python replica of the published blinding logic
    //     (regexes + the 0.50/0.85 truncation cascade + last-period trim)
    //     and pinned as constants in the mirror. ---
    "q79_blinding" -> ((s, dir) => {
      val blindU = udf((docId: Long) => {
        import graft.kg.query.PromptBuilders._
        val v = (docId % 4).toInt
        val k1 = "The parties entered into a lease agreement in the year of grace."
        val tail = Seq(
          "The property is situated in the northern district of the town.",
          "A notice was served on the tenant in the month of March.",
          "The rent was paid by cheque on the first day of every month.",
          "The landlord issued several receipts for the amounts received there.",
          "The premises were used for a retail shop during the whole period.",
          "Repairs to the roof were carried out at the cost of the tenant.",
          "The electricity meter was installed in the name of the original owner.")
        val d1 = "The appeal is dismissed."
        val d2 = "The court held that the lease was invalid from inception there."
        val text = v match {
          case 0 => (k1 +: tail).mkString(" ")
          case 1 => (Seq(k1, d1) ++ tail).mkString(" ")
          case 2 => (Seq(k1, d2) ++ tail).mkString(" ")
          case _ => "HEADNOTE: short summary here\n" + (k1 +: tail).mkString(" ")
        }
        val warns = blindingSanityCheck(text, "raw", "k" + v)
        Seq(blindRawText(text), scrubFactText(text), warns.size.toString,
          warns.headOption.getOrElse("<null>")).mkString("|")
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("v"),
          blindU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("v"),
          split(col("r"), "\\|").getItem(0).as("blind"),
          split(col("r"), "\\|").getItem(1).as("scrub"),
          split(col("r"), "\\|").getItem(2).cast("int").as("sanity_n"),
          when(split(col("r"), "\\|").getItem(3) === "<null>", lit(null))
            .otherwise(split(col("r"), "\\|").getItem(3)).as("sanity_first"))
        .orderBy(col("doc_id"))
    }),

    // --- C17 confidence-gated selective prediction (eval_confidence_sweep
    //     .py:60-104, 110-267, 270-309, 316-332, 417-434, 505-519): the
    //     REAL ConfidenceSweep sweep/auacc/calibration/strategies over
    //     planted 6-case prediction sets (one per v = doc_id % 8).
    //     Expected values pinned from the PUBLISHED script's own functions
    //     run over the same planted sets offline
    //     (scripts/gen_confidence_oracle.py) — sweep row at t=0.70,
    //     AUACC, ECE/Brier both channels, and one cell from each of the
    //     four strategy families incl. contra_hybrid's routing counts. ---
    "q80_confidence_sweep" -> ((s, dir) => {
      val sweepU = udf((docId: Long) => {
        import graft.kg.eval.ConfidenceSweep._
        val v = (docId % 8).toInt
        val cases = (0 until 6).map { i =>
          CasePred("c" + i, (i + v) % 2,
            (i + v + (if (i % 3 == 0) 1 else 0)) % 2,
            0.515 + 0.07 * ((i * 3 + v) % 7),
            (i * (i + 1) / 2 + v) % 2,
            0.515 + 0.08 * ((i * 5 + v * 3) % 6))
        }
        val sw = sweep(cases, graph = true)
        val s70 = sw.find(r => math.abs(r.threshold - 0.70) < 1e-9).get
        val cal = calibration(cases)
        val strats = strategies(cases)
        def cell(kind: String, ps: (String, Double)*) =
          strats.find(st => st.strategy == kind && ps.forall { case (k, x) =>
            math.abs(st.params(k) - x) < 1e-9 }).get
        val hyb = cell("hybrid", "t_graph" -> 0.75, "t_raw" -> 0.60)
        val ens = cell("ensemble", "t_min" -> 0.70)
        val cg = cell("contra_graph", "t_flip" -> 0.80)
        val ch = cell("contra_hybrid", "t_high" -> 0.80, "t_low" -> 0.65)
        Seq(s70.coverage, s70.nAccepted.toDouble, s70.accuracy,
          s70.accOnAccepted, s70.accOnRejected, auacc(sw),
          cal.graphEce, cal.rawEce, cal.graphBrier, cal.rawBrier,
          hyb.coverage, hyb.accuracy, hyb.score,
          ens.coverage, ens.accuracy, ens.score,
          cg.accuracy, ch.accuracy,
          ch.details("graph_trusted").toDouble,
          ch.details("graph_flipped").toDouble,
          ch.details("raw_fallback").toDouble)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"),
          sweepU(col("doc_id")).as("r"))
        .select(Seq(col("doc_id"), col("v")) ++ Seq(
          "cov70" -> 0, "nacc70" -> 1, "acc70" -> 2, "acca70" -> 3,
          "accr70" -> 4, "auacc_g" -> 5, "g_ece" -> 6, "r_ece" -> 7,
          "g_brier" -> 8, "r_brier" -> 9, "hyb_cov" -> 10, "hyb_acc" -> 11,
          "hyb_score" -> 12, "ens_cov" -> 13, "ens_acc" -> 14,
          "ens_score" -> 15, "cg_acc" -> 16, "ch_acc" -> 17,
          "ch_trusted" -> 18, "ch_flipped" -> 19, "ch_fallback" -> 20)
          .map { case (n, idx) =>
            val c = col("r").getItem(idx)
            (if (n == "nacc70" || n.startsWith("ch_t") || n.startsWith("ch_fl")
              || n.startsWith("ch_fa")) c.cast("int") else c).as(n)
          }: _*)
        .orderBy(col("doc_id"))
    }),

    // --- C18 retrieval-benchmark metric core (eval_retrieval_v2.py:
    //     395-413, 475-568): the REAL RetrievalBaselines rankDesc → rrf
    //     fusion → evaluateMethod (nDCG@5 / AP / P@5) over planted 8-doc
    //     score channels with deliberate ties (stable (−score, index)
    //     order) and graded qrels; doc_id % 7 == 0 plants the empty-qrels
    //     branch (AP/nDCG → 0). Mirrored RELATIONALLY in DuckDB via
    //     row_number windows — no pinned constants. ---
    "q81_ranking_metrics" -> ((s, dir) => {
      val rankU = udf((docId: Long) => {
        import graft.kg.eval.RetrievalBaselines._
        val a = Array.tabulate(8)(j => ((j * 3 + docId) % 4).toDouble / 4)
        val b = Array.tabulate(8)(j => ((j * 5 + docId * 2) % 7).toDouble / 7)
        def rel(j: Int): Int =
          if (docId % 7 == 0) 0 else ((j + docId) % 3).toInt
        val graded = (0 until 8).map(j => j -> rel(j)).filter(_._2 > 0).toMap
        val binary = graded.map { case (k, _) => k -> 1 }
        val fused = rrf(Array(a), Array(b))(0)
        val ev = evaluateMethod(Array(fused), Seq(binary), Seq(graded), k = 5)
        val m = ev.perQuery.head
        Seq(m.ndcg, m.ap, m.p10, fused(0), fused(3))
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), rankU(col("doc_id")).as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).as("ndcg5"),
          col("r").getItem(1).as("ap"),
          col("r").getItem(2).as("p5"),
          col("r").getItem(3).as("fused0"),
          col("r").getItem(4).as("fused3"))
        .orderBy(col("doc_id"))
    }),

    // --- significance layer (eval_retrieval_v2.py:1042-1056 paired t-test
    //     + label, eval_ablation.py:355-380 Brier + McNemar): the REAL
    //     Significance functions over planted vectors. The t-test p-values
    //     are mirrored RELATIONALLY via the Student-t CDF's closed forms at
    //     the planted dfs — df=2 (n=3): p = 1 − |t|/√(2+t²); df=1 (n=2):
    //     p = 1 − 2·atan(|t|)/π — an independent analytic check of the
    //     commons-math3 CDF. v=5 plants the allclose guard, v=6 the
    //     zero-variance shift branch (t=+∞, reported clamped to 1e6),
    //     v=4 a '*' label, v=2 a finite '**'; McNemar covers n/a,
    //     n.s., and p<0.05 including the continuity correction. ---
    "q82_significance" -> ((s, dir) => {
      val sigU = udf((docId: Long) => {
        import graft.kg.eval.Significance._
        val v = (docId % 8).toInt
        val a = (0 until 3).map(i => 0.5 + 0.1 * ((i * 2 + v) % 5))
        val b = v match {
          case 5 => a
          case 6 => a.map(_ - 0.2)
          case 4 => a.zipWithIndex.map { case (x, i) => x - (0.2 + 0.1 * i) }
          case 2 => a.zipWithIndex.map { case (x, i) => x - (0.4 + 0.01 * i) }
          case _ => (0 until 3).map(i => 0.4 + 0.12 * ((i * 3 + 2 * v) % 4))
        }
        val t2 = pairedTTest(a, b)
        val c = (0 until 2).map(i => 1.0 + 0.3 * ((i + v) % 3))
        val e = (0 until 2).map(i => 0.8 + 0.25 * ((i * 2 + v) % 3))
        val t1 = pairedTTest(c, e)
        val tru = (0 until 10).map(_ % 2)
        val pa = (0 until 10).map(i =>
          tru(i) ^ (if ((i + v) % 5 == 0) 1 else 0))
        val pb = if (v == 3) pa else (0 until 10).map(i =>
          tru(i) ^ (if ((i * 3 + v) % 7 == 0) 0 else 1))
        val (chi2, mcsig) = mcnemarTest(pa, pb, tru)
        val bt = (0 until 5).map(_ % 2)
        val bp = (0 until 5).map(i => (i + v) % 2)
        val bc = (0 until 5).map(i => 0.51 + 0.03 * ((i * 2 + v) % 7))
        val brier = brierScore(bp, bc, bt)
        def clamp(t: Double) =
          if (t.isInfinite) 1e6 * math.signum(t) else t
        (clamp(t2.t), t2.p, significanceLabel(t2.p),
          clamp(t1.t), t1.p, significanceLabel(t1.p), chi2, mcsig, brier)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"),
          sigU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("v"),
          col("r._1").as("t2"), col("r._2").as("p2"), col("r._3").as("lab2"),
          col("r._4").as("t1"), col("r._5").as("p1"), col("r._6").as("lab1"),
          col("r._7").as("chi2"), col("r._8").as("mcsig"),
          col("r._9").as("brier"))
        .orderBy(col("doc_id"))
    }),

    // --- ablation bootstrap CI (eval_ablation.py:382-393): the REAL
    //     ablationBootstrapCi — numpy RandomState(42) replicated bit-exactly
    //     by NumpyRandom — over planted 13-case prediction sets. Expected
    //     (lo, hi) pinned by exec'ing the PUBLISHED bootstrap_ci function
    //     itself over the same sets (scripts/gen_ablation_oracle.py).
    //     Computed once per variant (8 rows) then broadcast-joined to
    //     documents — the LOO-eval fan-out shape at corpus scale. ---
    "q83_bootstrap_ci" -> ((s, dir) => {
      val ciU = udf((v: Int) => {
        val tru = (0 until 13).map(_ % 2)
        val pa = (0 until 13).map(i =>
          ((i + v) % 3 % 2) ^ (if ((i + 2 * v) % 4 == 0) 1 else 0))
        val pb = (0 until 13).map(i => ((i * (i + 1) / 2 + v) % 3) % 2)
        val (lo, hi) =
          graft.kg.eval.Significance.ablationBootstrapCi(pa, pb, tru)
        Seq(lo, hi)
      })
      val variants = s.range(8).select(col("id").cast("int").as("v"))
        .withColumn("ci", ciU(col("v")))
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"))
        .join(broadcast(variants), Seq("v"))
        .select(col("doc_id"), col("v"),
          col("ci").getItem(0).as("lo"), col("ci").getItem(1).as("hi"))
        .orderBy(col("doc_id"))
    }),

    // --- C14 density statistics (cross_domain_density_validation.py:
    //     103-219): the REAL DensityValidation pointBiserial (Pearson r +
    //     t + p), correctVsIncorrect (Student t, pooled Cohen's d), and
    //     quartileAnalysis (np.percentile edges → digitize → Q1-vs-Q4
    //     two-proportion z) over planted 4-/8-element groups, one per
    //     v = doc_id % 8 — the reference's own driver-side SAMPLE_N stats
    //     design (16 tiny aggregations, bounded regardless of sf). The
    //     df=2 t-test p-values are mirrored with the closed-form Student
    //     CDF, r/means/z relationally via corr()/quantile_cont; the
    //     normal-CDF z p-value is pinned via stdlib erfc
    //     (scripts/gen_density_stats_oracle.py). v=7 plants the
    //     degenerate-pPool branch; pb_t == cv_t is the point-biserial ↔
    //     two-sample-t identity, asserted for free by the mirror. ---
    "q84_density_stats" -> ((s, dir) => {
      import s.implicits._
      import graft.kg.eval.DensityValidation
      val variantRows = (0 until 8).map { v =>
        val xs = (0 until 4).map(i => 1.0 + 0.37 * ((i * 2 + v) % 5) + 0.11 * i)
        val df4 = (0 until 4).map(i => (i % 2, xs(i))).toDF("acc", "x")
        val c = DensityValidation.pointBiserial(df4, "acc", "x")
        val g = DensityValidation.correctVsIncorrect(df4, "acc", "x")
        val d8 = (0 until 8).map(i => 2.0 + 0.53 * ((i * 3 + v) % 7) + 0.07 * i).toArray
        val a8 = (if (v == 7) Seq.fill(8)(0)
                  else (0 until 8).map(i => ((i + v) % 3) % 2)).toArray
        val qr = DensityValidation.quartileAnalysis(d8, a8)
        // 6-dp floor(x*1e6+0.5) in BOTH engines: the canonical compare
        // sorts rows by the alphabetically-first double column, so raw
        // ulp-level engine differences would misalign rows across the
        // variants that share a cv_d value
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        (v, r6(c.r), r6(c.t), r6(c.p), r6(g.meanCorrect),
          r6(g.meanIncorrect), r6(g.t), r6(g.p), r6(g.d),
          r6(qr.delta), r6(qr.z), r6(qr.p))
      }
      val variants = variantRows.toDF("v", "pb_r", "pb_t", "pb_p", "cv_mc",
        "cv_mi", "cv_t", "cv_p", "cv_d", "q_delta", "q_z", "q_p")
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"))
        .join(broadcast(variants), Seq("v"))
        .select(col("doc_id"), col("v"), col("pb_r"), col("pb_t"),
          col("pb_p"), col("cv_mc"), col("cv_mi"), col("cv_t"), col("cv_p"),
          col("cv_d"), col("q_delta"), col("q_z"), col("q_p"))
        .orderBy(col("doc_id"))
    }),

    // --- P3 violations-only filter through the REAL schema-adaptive label
    //     normalization (CaseAdapter.adaptCases, run_iltur.py:540-575 +
    //     the label==1 subset of run_iltur.py:818): messy string labels
    //     coalesce with an int-array fallback column ("labels"), then the
    //     violations-only filter keeps label == 1; the mirror inlines the
    //     yes/no vocabularies, the any-positive array rule and the coalesce ---
    "q85_violations_filter" -> ((s, dir) => {
      val raws = Seq("1", "true", "YES", "  accepted ", "allow", "Violation",
        "0", "FALSE", "no_violation", "dismissed", "maybe", "")
      val planted = pq(s, dir, "documents")
        .select(
          concat(lit("c"), col("doc_id")).as("id"),
          lit("case body text").as("text"),
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(element_at(array(raws.map(lit): _*),
              (col("doc_id") % 12).cast("int") + 1)).as("label"),
          when(col("doc_id") % 3 === 0, array().cast("array<int>"))
            .when(col("doc_id") % 3 === 1, array(lit(0), lit(0)))
            .otherwise(array(lit(0), lit(1))).as("labels"))
      graft.kg.io.CaseAdapter.adaptCases(planted)
        .filter(col("label") === 1)
        .select(col("case_id"), col("label"))
        .orderBy(col("case_id"))
    }),

    // --- P6 tier filter over REAL computed tiers (GraphQuality.tierFilter,
    //     eval_retrieval_v2.py:62-85): tiers come from the REAL computeTier
    //     over planted warning counts (q39's arithmetic), one variant plants
    //     a MISSING tier (reference: g.get("quality_tier","") → always
    //     skipped); the filter set arrives mixed-case like a CLI arg ---
    "q86_tier_filter" -> ((s, dir) => {
      val tierU = udf((nerr: Int, nsub: Int, ncos: Int, h: Boolean, o: Boolean, c: Boolean) => {
        val ws = Seq.fill(nerr)("edge e1: target not found") ++
          Seq.fill(nsub)("unusual actor surface form") ++
          Seq.fill(ncos)("edge e2 repaired: direction flipped")
        graft.kg.extract.GraphAssembly.computeTier(ws, h, o, c)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 8).cast("int").as("n_err"),
          ((col("doc_id") * 3) % 40).cast("int").as("n_sub"),
          (col("doc_id") % 3).cast("int").as("n_cos"),
          (col("doc_id") % 5 =!= 0).as("h"),
          (col("doc_id") % 6 =!= 0).as("o"),
          (col("doc_id") % 7 =!= 0).as("c"))
        .select(col("doc_id"),
          when(col("doc_id") % 9 === 0, lit(null).cast("string"))
            .otherwise(tierU(col("n_err"), col("n_sub"), col("n_cos"),
              col("h"), col("o"), col("c"))).as("tier"))
        .filter(graft.kg.query.GraphQuality.tierFilter(col("tier"), Set("Gold", "silver")))
        .orderBy(col("doc_id"))
    }),

    // --- P4 completed-cases skip through the REAL bucket assignment +
    //     resume filter (Materializer.bucketOf = pmod(murmur3, n) and
    //     Materializer.resumeFilter; run_iltur.py:581-623 use site): the
    //     planted commit log holds every bucket ≡ 0 (mod 3). The DuckDB
    //     mirror recomputes Spark's Murmur3_x86_32(seed=42) hash itself —
    //     4-byte little-endian chunks + per-byte tail, mixK1/mixH1/fmix in
    //     HUGEINT arithmetic — so the bucket assignment is verified by a
    //     fully independent implementation, not replayed ---
    "q87_completed_skip" -> ((s, dir) => {
      import graft.kg.table.Materializer
      val nBuckets = 32
      val done = (0 until nBuckets).filter(_ % 3 == 0).toSet
      val convs = pq(s, dir, "documents")
        .select(format_string("conv_%06d", col("doc_id")).as("conv_id"))
      val withBucket =
        convs.withColumn("bucket", Materializer.bucketOf(col("conv_id"), nBuckets))
      Materializer.resumeFilter(withBucket, done)
        .orderBy(col("conv_id"))
    }),

    // --- C9 corpus aggregate validation (CorpusValidation.summary,
    //     test_iltur_graphs (1).py:1062-1190) over planted per-graph rows:
    //     REAL classifyWarning tallies + REAL computeTier tiers feed the
    //     one-row roll-up — pass/fail, severity sums, tier distribution,
    //     duplicate case_ids (odd multiples of 11 pair with their
    //     predecessor), z-score outliers (planted 500/300 spikes against
    //     0..10 baselines, |z| margins ≫ 3 so fp noise can't flip the
    //     comparison) and the degenerate-graph anomalies ---
    "q88_corpus_validation" -> ((s, dir) => {
      val warnU = udf((v: Int) => v match {
        case 0 => Seq.empty[String]
        case 1 => Seq("edge e1: target 'x' not found")
        case 2 => Seq("unusual actor surface form", "low confidence mention")
        case 3 => Seq("edge e2 repaired: direction flipped")
        case 4 => Seq("Duplicate edge ID: 'e3'", "unusual actor surface form")
        case _ => (1 to 6).map(j => s"edge e$j: target 'q' not found") ++
          Seq("anchor normalized", "edge flipped")
      })
      val tierU = udf((ws: Seq[String], h: Boolean, o: Boolean, c: Boolean) =>
        graft.kg.extract.GraphAssembly.computeTier(ws, h, o, c))
      val planted = pq(s, dir, "documents")
        .select(
          col("doc_id"),
          concat(lit("c"),
            when(col("doc_id") % 11 === 0, col("doc_id") - (col("doc_id") % 2))
              .otherwise(col("doc_id"))).as("case_id"),
          warnU((col("doc_id") % 6).cast("int")).as("warnings"),
          (col("doc_id") % 5 =!= 0).as("h"),
          (col("doc_id") % 7 =!= 0).as("o"),
          (col("doc_id") % 4 =!= 0).as("c"),
          when(col("doc_id") % 101 === 0, lit(500L))
            .otherwise(col("doc_id") % 7).as("n_facts"),
          when(col("doc_id") % 89 === 0, lit(300L))
            .otherwise((col("doc_id") * 3) % 11).as("n_edges"),
          when(col("doc_id") % 53 === 0, lit(0L))
            .when(col("doc_id") % 97 === 0, lit(400L))
            .otherwise(col("doc_id") % 9 + 1).as("n_nodes_total"))
        .withColumn("tier", tierU(col("warnings"), col("h"), col("o"), col("c")))
      graft.kg.eval.CorpusValidation.summary(planted.select(
        "case_id", "warnings", "tier", "n_facts", "n_edges", "n_nodes_total"))
    }),

    // --- S2 deterministic corpus generator (TranscriptGen.conversation):
    //     the full generator — FNV-1a slot hashing, template pick per body
    //     slot, party/year/citation substitution, role alternation, tool
    //     sampling, timestamp arithmetic — replayed turn-for-turn by the
    //     DuckDB mirror, which reimplements FNV-1a over the (convId ++ slot)
    //     codepoints in HUGEINT arithmetic and rebuilds every turn TEXT from
    //     the same template tables. This is the north rule's per-turn text
    //     equality invariant checked cross-engine: byte-identical text,
    //     role, tool and ts for every generated turn ---
    "q89_transcript_gen" -> ((s, dir) => {
      val genU = udf((docId: Long) =>
        graft.kg.gen.TranscriptGen.conversation(f"conv_$docId%06d", 14).map(t =>
          (t.turn_idx, t.role, t.text, t.tool, t.ts.getTime)))
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(genU(col("doc_id"))).as("t"))
        .select(format_string("conv_%06d", col("doc_id")).as("conv_id"),
          col("t._1").as("turn_idx"), col("t._2").as("role"),
          col("t._3").as("text"), col("t._4").as("tool"),
          col("t._5").as("ts_millis"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    // --- S4 ontology loader/parser (Ontology.parse, extractor.py
    //     1091-1107/1312-1406) over a planted ontology JSON exercising
    //     every parse branch: [AND]/[OR]/other-bracket list headers,
    //     string requires with numbered-list vs semicolon/newline
    //     splitting, mid-string numbers (the find is line-anchored, the
    //     split is not), quoted vs comma+quote-strip key phrases, name
    //     splitting, label-defaults-to-id, missing fields. The mirror
    //     re-parses the SAME JSON with DuckDB json functions; md5 over
    //     the |-joined lists witnesses exact contents, not just counts ---
    "q90_ontology_load" -> ((s, dir) => {
      import s.implicits._
      val jsonSrc =
        """{"concepts":{"C1_ANDLIST":{"label":"And List","kind":"doctrine","requires":["[AND]"," r1 ","","r2","[note]"],"defeaters":["d1","  ","d2"],"key_phrases":"\"alpha beta\", \"gamma\", \"\"","establishing_cases":"A v. B; C v. D, E v. F"},"C2_ORLIST":{"label":"","requires":["[OR - any one suffices]","x1"," x2 "],"key_phrases":"plain one, 'quoted two', unquoted","establishing_cases":"Solo v. Case"},"C3_STRNUM":{"requires":"[AND] 1. first req 2) second req","defeaters":"1. dd 2) ee","key_phrases":""},"C4_STRSEMI":{"kind":"test","requires":"[OR] alpha; beta\ngamma","defeaters":"plain; split\nhere"},"C5_BRACKET":{"label":"Bracket","requires":["[Criminal - absolute]","q1"],"defeaters":[]},"C6_EMPTY":{},"C7_MIDNUM":{"requires":"contains 2. mid but starts plain; second part"}}}"""
      val od = graft.kg.ontology.Ontology.parse(jsonSrc)
      def md5hex(x: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val rows = od.concepts.values.toSeq.sortBy(_.id).map { c =>
        (c.id, c.label, c.kind, c.logic,
          c.requires.size, c.defeaters.size, c.keyPhrases.size,
          c.establishingCases.size,
          md5hex(c.requires.mkString("|")), md5hex(c.defeaters.mkString("|")),
          md5hex(c.keyPhrases.mkString("|")),
          md5hex(c.establishingCases.mkString("|")))
      }
      rows.toDF("concept_id", "label", "kind", "logic", "n_requires",
        "n_defeaters", "n_keyphrases", "n_establishing", "req_md5",
        "def_md5", "kp_md5", "est_md5")
        .orderBy(col("concept_id"))
    }),

    // --- T14 graph JSON serialization (GraphJsonWriter.toJson, the
    //     schema-v2.1 per-case document): planted graphs varying every
    //     nullable/branching surface — anchor present/absent, secondary
    //     spans, null case_year, missing outcome, empty vs non-empty
    //     support groups / warnings, JSON escaping (quote + backslash in a
    //     text field) — serialized by the REAL writer; the mirror rebuilds
    //     the BYTE-IDENTICAL string with DuckDB's independent JSON emitter
    //     (to_json over nested structs, same key order) ---
    "q91_json_serialize" -> ((s, dir) => {
      val jsonU = udf((docId: Long) => {
        import graft.kg.model._
        val v2 = (docId % 2).toInt; val v3 = (docId % 3).toInt
        val v4 = (docId % 4).toInt; val v5 = (docId % 5).toInt
        val cid = "c" + docId
        val confs = Seq("high", "medium", "low", "inferred")
        val fAnchor =
          if (v2 == 0) Anchor("doc", v5, v5 + 7, "h" + v3, "p1", "srf text",
            if (v3 == 0) Seq(SpanRef(1, 4)) else Nil)
          else null
        def node(id: String, nt: String) = Node(cid, id, nt, null, null, null,
          null, null, null, isRatio = false, null, null, null, null, null,
          null, "high", null, "rule")
        val fact = node("f1", "fact").copy(
          text = Seq("The notice was served on time", "he said \"stop\" \\ now")(v2),
          factType = Seq("procedural", "substantive", "finding")(v3),
          anchor = fAnchor, confidence = confs(v4))
        val holding = node("h1", "holding").copy(text = "We hold so",
          isRatio = v5 != 0, resolvesIssue = if (v3 == 0) null else "i1")
        val precedent = node("p1", "precedent").copy(
          citation = "AIR 1978 SC 597", caseName = "M v. U",
          caseYear = if (v5 == 0) null
            else Integer.valueOf(1950 + (docId % 60).toInt),
          citationType = "reported", treatment = "followed", relevance = "high")
        val outcome =
          if (v4 != 0) Seq(node("o1", "outcome").copy(disposition = "allowed",
            text = "relief granted"))
          else Nil
        val edge = EdgeRow(cid, "e1", "f1", "h1", "supports", confs(v4),
          "strong", v3 == 0, if (v2 == 0) Seq("js1") else Nil,
          if (v4 == 0) null else "because", null, "rule", null)
        val js = JustificationSetRow(cid, "js1", "h1", "and", "L", v2 == 0, "high")
        val chain = ChainRow(cid, "ch1", "i1", "h1", Seq("f1"), Nil, Nil,
          Seq("e1"), if (v2 == 0) "js1" else null,
          if (v3 == 0) Seq("f1") else Nil, "narrative text")
        graft.kg.io.GraphJsonWriter.toJson(cid,
          Seq(fact, holding, precedent) ++ outcome, Seq(edge), Seq(js),
          Seq(chain), Seq("gold", "silver", "bronze", "reject")(v4),
          Seq("w one", "w two").take(v3))
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), jsonU(col("doc_id")).as("json"))
        .orderBy(col("doc_id"))
    }),

    // --- 2.10 streaming: the REAL watermarked windowed rollup
    //     (TranscriptStream.eventRollup) run as an actual Structured
    //     Streaming query (file source → AvailableNow → memory sink,
    //     complete mode so every window ships). Output is order-insensitive
    //     (per-window counts/sums), so the batch SQL mirror is exact; sums
    //     floor-rounded to 2dp in BOTH engines (values are planted 2dp, fp
    //     error ~1e-10 ≪ the 0.005 boundary). NOTE the Spark path also
    //     applies eventRollup's intermediate round(sum, 4) before the 2dp
    //     floor-round while the DuckDB mirror floor-rounds the raw sum —
    //     the two agree ONLY because planted values are exactly 2dp, so both
    //     pipelines land on the same 2dp multiple; re-planting non-2dp event
    //     values requires mirroring the round(…,4) too ---
    "q92_stream_rollup" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> session-UTC
      val rolled = graft.kg.streaming.TranscriptStream.eventRollup(src)
      val qname = "q92_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      runStream(s)(rolled.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      s.table(qname)
        // NOTE the cross-engine equality here leans on the 2dp PLANT:
        // eventRollup round(sum, 4) happens BEFORE this floor-round while
        // the DuckDB mirror floor-rounds the raw sum at 2dp directly — the
        // two pipelines agree only because planted event values are exact
        // 2dp multiples, so both land on the same 2dp value.
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"),
          (floor(col("sum_value") * 100 + lit(0.5)) / 100).as("sum_value2"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // --- 2.10 streaming exact dedup (TranscriptStream.dedupStream →
    //     dropDuplicatesWithinWatermark): planted event time
    //     (epoch + doc_id%86400 seconds) with a watermark delay covering
    //     the whole span at any sf, so every duplicate is suppressed exactly once and
    //     the surviving KEY SET (not the order-dependent winning row) is
    //     the deterministic output the batch mirror reproduces ---
    "q93_stream_dedup" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("planted duplicate body "), col("doc_id") % 7))
            .otherwise(col("text")).as("text"))
        .withColumn("ts",
          (lit(1704067200L) + col("doc_id") % 86400).cast("timestamp"))
      // span capped at 1 day (< the 48 h delay) at ANY scale factor, so no
      // key is ever evicted mid-stream and suppression is total — the key
      // set stays deterministic however large the sf dir grows
      val dd = graft.kg.streaming.TranscriptStream.dedupStream(
        src, watermarkDelay = "48 hours")
      val qname = "q93_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      runStream(s)(dd.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      s.table(qname).select(col("text_hash")).orderBy(col("text_hash"))
    }),

    // --- qrels construction: regex relevance judging over raw text ---
    "q29_regex_qrels" -> ((s, dir) => {
      graft.kg.eval.Qrels.buildRegexQrels(
        pq(s, dir, "documents"), "doc_id", "text",
        Seq(("UNLISTED_SPARK_JOIN", null), ("UNLISTED_WINDOW_FILTER", null),
          ("UNLISTED_CUSTOMER_ORDER", null)))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // --- citation manifest: top-k regex-detected citations over the corpus
    //     (citation_preprocess.py:332-360 lifted to table scale); the salad
    //     corpus contains no citations, so deterministic AIR / SCC citations
    //     are planted per doc_id — filter-derived, reconstructable in SQL ---
    "q31_citation_manifest" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val planted = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" AIR "), lit(1950) + col("doc_id") % 60,
              lit(" SC "), lit(100) + col("doc_id") % 90)).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" ("), lit(1990) + col("doc_id") % 30, lit(") "),
              lit(1) + col("doc_id") % 9, lit(" SCC "),
              lit(1) + col("doc_id") % 500)).otherwise(lit(""))).as("text"))
      graft.kg.rules.CitationManifest.manifest(s, planted, "doc_id", "text", "in", maxItems = 50)
    }),

    // --- density-quartile validation table (cross_domain_density_validation
    //     .py quartile analysis) on the CORPUS-SCALE plan: percentile_approx
    //     edges + stateless digitize binning — no global window, no collect.
    //     In the exact sketch regime (accuracy >= rows) the edges are the
    //     elements at rank ceil(p*n), which the DuckDB oracle mirrors via
    //     ORDER BY + OFFSET. The reference-exact percentile/digitize variant
    //     + z/t statistics live in DensityValidation (fixture-tested). ---
    "q32_density_quartiles" -> ((s, dir) => {
      graft.kg.eval.DensityValidation.quantileBinTable(
        pq(s, dir, "documents"), "doc_id", "text", "lang")
    }),

    // --- C7 commons tally: id-set intersection of two corpora ---
    "q26_commons_tally" -> ((s, dir) => {
      val early = pq(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01"))
        .select(col("o_custkey").as("custkey")).distinct()
      val late = pq(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01"))
        .select(col("o_custkey").as("custkey")).distinct()
      early.intersect(late).orderBy(col("custkey"))
    }),

    // --- BM25 retrieval over the documents table (term-stats joins) ---
    "q24_bm25" -> ((s, dir) => {
      import s.implicits._
      val docs = pq(s, dir, "documents")
        .select(col("doc_id").as("conv_id"), col("text").as("doc_text"))
      val queries = Seq(
        (0, "spark join merge"), (1, "window filter scan"),
        (2, "customer order line")).toDF("query_id", "query_text")
      graft.kg.query.Retrieval.bm25Scores(s, docs, queries)
        .orderBy(col("query_id"), col("doc_id"))
    }),
    // --- TF-IDF retrieval (rows-only: sklearn-style weighting) ---
    "q25_tfidf_topk" -> ((s, dir) => {
      import s.implicits._
      val docs = pq(s, dir, "documents")
        .select(col("doc_id").as("conv_id"), col("text").as("doc_text"))
      val queries = Seq(
        (0, "spark join merge"), (1, "window filter scan")).toDF("query_id", "query_text")
      graft.kg.query.Retrieval.topK(
        graft.kg.query.Retrieval.tfidfScores(s, docs, queries), 10, docCol = "doc_id")
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- KG pipeline family: NO DuckDB oracle is feasible for any kg_*
    //     query, by construction — the driver's oracle can only read the
    //     sf-dir parquet tables, while every kg_* query consumes the
    //     DETERMINISTICALLY GENERATED transcripts table (TranscriptGen,
    //     derived from the sf dir's document count) and runs the rule-based
    //     extraction grammar on it. The GENERATOR itself is SQL-replayable
    //     and oracled turn-for-turn (q89); the EXTRACTION grammar (DFA
    //     mention scan, clustering argmaxes, repair loop) is what SQL
    //     cannot replay. Compensating evidence: the dual-engine check in
    //     Verify recomputes ALL 12 kg_* projections with the pure-JVM
    //     extractor (DUAL_ENGINE.json); ReferenceParitySpec replays chains /
    //     justification sets / support groups / tiers over ALL published
    //     reference graphs and orphan repair edge-for-edge vs the published
    //     script; the full ScalaTest suite covers each query's operator. ---
    "kg_linearize" -> ((s, dir) => {
      graft.kg.query.Retrieval.linearizeStable(kgNodes(s, dir))
        .orderBy(col("conv_id"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_conceptset_retrieval" -> ((s, dir) => {
      graft.kg.query.Retrieval.conceptSetScores(s, kgNodes(s, dir),
        Seq("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM",
          "DOCTRINE_PROPORTIONALITY_TEST", "MANIFEST_ARBITRARINESS"))
        .orderBy(col("query_cid"), col("conv_id"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_holding_support" -> ((s, dir) => {
      // array columns stringified (sorted upstream) — the driver's pandas
      // comparator cannot sort_values on numpy arrays
      graft.kg.query.GraphOps.holdingSupport(
        kgNodes(s, dir),
        kgEdges(s, dir),
        kgBranch(s, dir, "js"))
        .select(col("conv_id"), col("holding_id"),
          concat_ws(",", col("grounding_concepts")).as("grounding_concepts"),
          concat_ws(",", col("supporting_facts")).as("supporting_facts"),
          concat_ws(",", coalesce(col("justification_sets"),
            array().cast("array<string>"))).as("justification_sets"))
        .orderBy(col("conv_id"), col("holding_id"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_triples" -> ((s, dir) => {
      KgPipeline.triples(kgEdges(s, dir))
        .orderBy(col("conv_id"), col("subj"), col("pred"), col("obj"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_relation_histogram" -> ((s, dir) => {
      kgEdges(s, dir)
        .groupBy(col("relation")).agg(count(lit(1)).as("n"))
        .orderBy(col("relation"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_node_histogram" -> ((s, dir) => {
      kgNodes(s, dir)
        .groupBy(col("nodeType")).agg(count(lit(1)).as("n"))
        .orderBy(col("nodeType"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_tier_histogram" -> ((s, dir) => {
      KgPipeline.tierHistogram(kgBranch(s, dir, "summary"))
    }),
    // --- cross-conversation canonicalization (union-find over candidate
    //     name↔citation match edges; C1 lifted to corpus scale) ---
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_canonical_triples" -> ((s, dir) => {
      graft.kg.canonical.Canonicalizer.canonicalTriples(s, kgNodes(s, dir), kgEdges(s, dir))
        .orderBy(col("conv_id"), col("subj"), col("pred"), col("obj"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_entity_stats" -> ((s, dir) => {
      graft.kg.canonical.Canonicalizer.entityStats(s, kgNodes(s, dir))
        .orderBy(col("canonical_id"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_quality_scores" -> ((s, dir) => {
      graft.kg.query.GraphQuality.score(kgNodes(s, dir), kgEdges(s, dir))
        .orderBy(col("conv_id"))
    }),
    // --- S5 per-case artifact export in the reference's JSON format ---
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_json_export" -> ((s, dir) => {
      graft.kg.io.GraphJsonWriter.corpus(s, kgGraphs(s, dir))
        .orderBy(col("case_id"))
    }),
    // no oracle: input is the generated transcripts table, not sf-dir parquet
    "kg_orphans" -> ((s, dir) => {
      KgPipeline.orphans(kgNodes(s, dir), kgEdges(s, dir))
        .groupBy(col("nodeType")).count().orderBy(col("nodeType"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_price,
         round(avg(l_discount), 6) AS avg_disc
         FROM lineitem WHERE l_shipdate <= '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE n_chars >= 300 ORDER BY doc_id""",
    "q03_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
         count(*) AS dup_count
         FROM documents GROUP BY md5(text) ORDER BY text_hash""",
    "q04_dedup_argmax" ->
      """SELECT lang, doc_id, n_chars FROM (
           SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM documents) t
         WHERE rn = 1 ORDER BY lang""",
    "q05_orphan_antijoin" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= '1998-06-01')
         ORDER BY c_custkey""",
    "q06_window_topk" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders) t
         WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
    "q07_join_agg" ->
      """SELECT n_name, count(*) AS n_orders,
         round(sum(o_totalprice), 4) AS total_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q08_token_stats" ->
      """SELECT doc_id,
         length(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens,
         length(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS n_distinct_tokens
         FROM documents ORDER BY doc_id""",
    "q09_lang_profile" ->
      """SELECT lang, count(*) AS n_docs,
         round(avg(n_chars), 4) AS avg_chars,
         round(avg(length(regexp_extract_all(text, '[a-z0-9]+'))), 4) AS avg_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "q10_fingerprint" ->
      """SELECT doc_id, substr(sha256(text), 1, 16) AS fp
         FROM documents ORDER BY doc_id""",
    "q11_event_hourly" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
         count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "q12_user_rollup" ->
      """SELECT user_id, count(*) AS n_events,
         round(max(value), 4) AS max_value,
         count(DISTINCT event_type) AS n_types
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q13_order_years" ->
      """SELECT year(o_orderdate) AS yr, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY yr""",
    "q14_embed_stats" ->
      """SELECT label, count(*) AS n,
         round(avg(embedding[1]), 6) AS avg_dim0
         FROM embeddings GROUP BY label ORDER BY label""",
    "q15_quality_score" ->
      """SELECT doc_id, round(
           least(length(text) / 500.0, 1.0) * 0.3
           + CASE WHEN length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) > 0
                   AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                       / length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))
                       BETWEEN 3.0 AND 9.0
                  THEN 0.3 ELSE 0.1 END
           + CASE WHEN length(text) > 0
                  THEN least(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 1.0)
                  ELSE 0.0 END * 0.3
           + (0.1 - CASE WHEN length(text) > 0
                    THEN least(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 3.0 / length(text), 0.1)
                    ELSE 0.0 END), 6) AS quality
         FROM documents ORDER BY doc_id""",
    "q16_embed_topk" ->
      """WITH base AS (
           SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM base WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, b.vec_id,
             list_cosine_similarity(q.q_emb, b.embedding) AS c
           FROM base b, q WHERE b.vec_id <> q.query_id)
         SELECT query_id, vec_id, round(c, 6) AS cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
         FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""",
    "q28_token_jaccard" ->
      """WITH t AS (SELECT doc_id,
             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
           FROM documents)
         SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                 len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
         FROM t a JOIN t b ON a.doc_id + 1 = b.doc_id
         ORDER BY a""",
    "q51_requires_parse" ->
      // normalize_requires (extractor.py:1312-1379): [AND]/[OR] marker
      // strip (first match, case-insensitive), numbered-list split when any
      // line starts with "N." / "N)", else newline/semicolon split
      """WITH planted AS (
           SELECT doc_id,
             (['[OR] notice; hearing; reasoned order',
               '[AND] fair procedure' || chr(10) || 'opportunity',
               '1. first req 2) second req 3. third',
               'plain requirement',
               ''])[CAST(doc_id % 5 AS INT) + 1] AS raw
           FROM documents),
         t AS (
           SELECT doc_id, raw,
             CASE WHEN upper(trim(raw)) LIKE '[OR%' THEN 'or' ELSE 'and' END AS logic,
             regexp_replace(regexp_replace(raw,
               '(?i)^\s*\[OR\]?\s*', ''), '(?i)^\s*\[AND\]?\s*', '') AS txt
           FROM planted)
         SELECT doc_id, raw, logic,
           CASE WHEN trim(raw) = '' THEN ''
                ELSE array_to_string(list_filter(list_transform(
                  CASE WHEN regexp_matches(txt, '(?m)^\s*[0-9]+[.)]\s*')
                       THEN string_split_regex(txt, '[0-9]+[.)]\s*')
                       ELSE string_split_regex(txt, '[\n;]+') END,
                  x -> trim(x)), x -> x <> ''), '|')
           END AS items
         FROM t ORDER BY doc_id""",

    "q50_keyphrase_parse" ->
      // parse_key_phrases (extractor.py:1091-1107): prefer non-greedy
      // quoted captures; else comma split with one-layer quote stripping
      """WITH planted AS (
           SELECT doc_id,
             (['"audi alteram partem", "natural justice"',
               'fair hearing, notice, "reasoned order"',
               'alpha, beta , gamma',
               CAST(chr(39) || 'single-quoted' || chr(39) || ', plain' AS VARCHAR),
               ''])[CAST(doc_id % 5 AS INT) + 1] AS raw
           FROM documents),
         q AS (
           SELECT doc_id, raw,
             list_filter(list_transform(regexp_extract_all(raw, '"(.*?)"', 1), x -> trim(x)), x -> x <> '') AS quoted
           FROM planted)
         SELECT doc_id, raw,
           CASE
             WHEN raw = '' THEN ''
             WHEN len(quoted) > 0 THEN array_to_string(quoted, '|')
             ELSE array_to_string(
               list_filter(
                 list_transform(string_split(raw, ','),
                   x -> trim(trim(trim(trim(x), '"'), chr(39)))),
                 x -> x <> ''), '|')
           END AS phrases
         FROM q ORDER BY doc_id""",

    "q66_automaton_scan" ->
      // mirrors the automaton scan by brute force: every offset of every
      // phrase via substring comparison — one pass of the DFA must find
      // exactly the same (phrase, start) multiset, incl. suffix-shared
      // hits at the same end position
      """WITH planted AS (
           SELECT doc_id,
             (['natural justice and due process demand audi alteram partem',
               'process of justice is natural',
               'the thin ice near due process',
               'audi alteram partem audi alteram partem',
               'nothing matches in this sentence'])[CAST(doc_id % 5 AS INT) + 1] AS t
           FROM documents),
         ph AS (
           SELECT * FROM (VALUES
             (0, 'natural justice'), (1, 'justice'), (2, 'audi alteram partem'),
             (3, 'due process'), (4, 'process'), (5, 'ice')) v(pid, p)),
         occ AS (
           SELECT doc_id, pid,
             [i - 1 for i in generate_series(1, len(t) - len(p) + 1)
              if substr(t, CAST(i AS INT), len(p)) = p] AS starts
           FROM planted, ph)
         SELECT doc_id, CAST(pid AS BIGINT) AS pid,
           CAST(unnest(starts) AS BIGINT) AS start
         FROM occ ORDER BY doc_id, pid, start""",

    "q65_requirement_sat" ->
      // mirrors satisfyRequirement: \w{4,} token sets (stopword removal is
      // a no-op here — the planted requirement terms contain none, and fact
      // stopwords can't intersect them), the 6 negation cues, -2 penalty
      // floored at 0, first-strict-max argmax, '' below score 1
      """WITH planted AS (
           SELECT doc_id,
             (['notice order termination','enquiry notice',
               'compensation acquisition award','reasons recorded tender'])[CAST((doc_id // 3) % 4 AS INT) + 1] AS req,
             (['notice served upon petitioner before termination order',
               'no enquiry conducted and notice denied before order',
               'compensation deposited after acquisition award',
               'tender rejected without reasons being recorded'])[CAST(doc_id % 4 AS INT) + 1] AS t1,
             (['notice served upon petitioner before termination order',
               'no enquiry conducted and notice denied before order',
               'compensation deposited after acquisition award',
               'tender rejected without reasons being recorded'])[CAST((doc_id // 5) % 4 AS INT) + 1] AS t2,
             (['notice served upon petitioner before termination order',
               'no enquiry conducted and notice denied before order',
               'compensation deposited after acquisition award',
               'tender rejected without reasons being recorded'])[CAST((doc_id // 11) % 4 AS INT) + 1] AS t3
           FROM documents),
         tok AS (
           SELECT doc_id, req,
             list_distinct(list_filter(string_split_regex(lower(req), '\W+'), x -> len(x) >= 4)) AS rset,
             [list_distinct(list_filter(string_split_regex(lower(t1), '\W+'), x -> len(x) >= 4)),
              list_distinct(list_filter(string_split_regex(lower(t2), '\W+'), x -> len(x) >= 4)),
              list_distinct(list_filter(string_split_regex(lower(t3), '\W+'), x -> len(x) >= 4))] AS fsets,
             [lower(t1) LIKE '%without %' OR lower(t1) LIKE '%no %' OR lower(t1) LIKE '%not %'
                OR lower(t1) LIKE '%denied%' OR lower(t1) LIKE '%refused%' OR lower(t1) LIKE '%failed to%',
              lower(t2) LIKE '%without %' OR lower(t2) LIKE '%no %' OR lower(t2) LIKE '%not %'
                OR lower(t2) LIKE '%denied%' OR lower(t2) LIKE '%refused%' OR lower(t2) LIKE '%failed to%',
              lower(t3) LIKE '%without %' OR lower(t3) LIKE '%no %' OR lower(t3) LIKE '%not %'
                OR lower(t3) LIKE '%denied%' OR lower(t3) LIKE '%refused%' OR lower(t3) LIKE '%failed to%'] AS negs
           FROM planted),
         scored AS (
           SELECT doc_id, req,
             [CASE WHEN negs[i] THEN greatest(len(list_intersect(rset, fsets[i])) - 2, 0)
                   ELSE len(list_intersect(rset, fsets[i])) END
              for i in generate_series(1, 3)] AS ovs
           FROM tok)
         SELECT doc_id, req,
           CASE WHEN list_max(ovs) < 1 THEN ''
                ELSE 'f' || CAST(list_position(ovs, list_max(ovs)) AS VARCHAR) END AS best_fact
         FROM scored ORDER BY doc_id""",

    "q64_graph_validate" ->
      // mirrors validateGraph check-for-check with the exact warning
      // strings; the e1 duplicate copy doubles its edge-loop warnings
      // (multiplicity expanded via generate_series), row order free (the
      // compare sorts)
      """WITH d AS (
           SELECT doc_id AS k, CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS m
           FROM documents),
         w AS (
           SELECT k, 'Edge e1: source ''zz'' not found' AS warning, m AS cnt
           FROM d WHERE k % 4 = 0
           UNION ALL
           SELECT k, 'Edge e1: target ''h1'' doesn''t match justification set ''js1'' target ''qq''', m
           FROM d WHERE k % 3 = 0 AND k % 6 >= 3
           UNION ALL
           SELECT k, 'Edge e1: support_group_id ''jsX'' not found', m
           FROM d WHERE k % 3 = 1
           UNION ALL
           SELECT k, 'Edge e1: HIGH/MEDIUM confidence requires anchor', m
           FROM d WHERE k % 4 IN (0, 1)
           UNION ALL
           SELECT k, 'Edge e1: INFERRED confidence requires explanation', m
           FROM d WHERE k % 4 = 3
           UNION ALL
           SELECT k, 'JustificationSet js1: target ''qq'' not found', 1
           FROM d WHERE k % 6 >= 3
           UNION ALL
           SELECT k, 'JustificationSet js1: no edges belong to this set', 1
           FROM d WHERE k % 3 <> 0
           UNION ALL
           SELECT k, 'Duplicate node ID: ''f1''', 1 FROM d WHERE k % 5 = 0
           UNION ALL
           SELECT k, 'Duplicate edge ID: ''e1''', 1 FROM d WHERE k % 7 = 0
           UNION ALL
           SELECT k, 'Node f1: anchor start_char < 0', 1
           FROM d WHERE k % 2 = 0 AND k % 3 = 0
           UNION ALL
           SELECT k, 'Node f1: anchor end_char <= start_char', 1
           FROM d WHERE k % 2 = 0 AND (k // 3) % 2 = 0
           UNION ALL
           SELECT k, 'Outcome exists but no DETERMINES edge points to it', 1
           FROM d WHERE k % 2 = 1),
         sel AS (
           SELECT k, warning, unnest(generate_series(1, cnt)) AS c FROM w)
         SELECT k AS doc_id, warning FROM sel ORDER BY doc_id, warning""",

    "q63_edge_dedup" ->
      // mirrors dedupeEdges: per (source, target, relation) keep the row
      // maximizing (confidence rank, id) — rank ties break on the LARGER
      // id, unknown confidence ranks 0 — then order by (s, t, rel, id)
      """WITH js AS (
           SELECT doc_id, unnest(generate_series(0, 5)) AS j FROM documents),
         rows_ AS (
           SELECT doc_id, j,
             'e' || CAST(j AS VARCHAR) AS id,
             'f' || CAST((doc_id + j) % 2 AS VARCHAR) AS source,
             'c' || CAST(j % 2 AS VARCHAR) AS target,
             CASE WHEN (doc_id + j) % 2 = 0 THEN 'supports' ELSE 'triggers' END AS relation,
             (['high','medium','low','inferred','bogus'])[CAST((doc_id*7 + j) % 5 AS INT) + 1] AS confidence
           FROM js),
         ranked AS (
           SELECT *,
             row_number() OVER (PARTITION BY doc_id, source, target, relation
               ORDER BY (CASE confidence WHEN 'high' THEN 4 WHEN 'medium' THEN 3
                 WHEN 'low' THEN 2 WHEN 'inferred' THEN 1 ELSE 0 END) DESC, id DESC) AS w
           FROM rows_),
         kept AS (
           SELECT doc_id, id, source, target, relation, confidence,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY source, target, relation, id) - 1 AS rk
           FROM ranked WHERE w = 1)
         SELECT doc_id, rk, id, source, target, relation, confidence
         FROM kept ORDER BY doc_id, rk""",

    "q61_resolve_issue" ->
      // mirrors stage-4 autofill: \w{4,} token sets (no stopword filter),
      // per-issue overlap, first-max argmax (strict '>'), -1 when the
      // holding keyword set is empty
      """WITH planted AS (
           SELECT doc_id,
             (['natural justice requires fair hearing notice',
               'the tender rejection violated equality doctrine',
               'compensation award circle rate acquisition',
               'a an of to in',
               'hearing notice doctrine equality'])[CAST(doc_id % 5 AS INT) + 1] AS htext
           FROM documents),
         tok AS (
           SELECT doc_id, htext,
             list_distinct(list_filter(string_split_regex(lower(htext), '\W+'),
               x -> len(x) >= 4)) AS hset
           FROM planted),
         iss AS (
           SELECT [
             list_distinct(list_filter(string_split_regex('whether natural justice fair hearing applies', '\W+'), x -> len(x) >= 4)),
             list_distinct(list_filter(string_split_regex('whether tender equality doctrine violated', '\W+'), x -> len(x) >= 4)),
             list_distinct(list_filter(string_split_regex('whether acquisition compensation adequate circle rate', '\W+'), x -> len(x) >= 4)),
             list_distinct(list_filter(string_split_regex('whether notice hearing doctrine equality sufficient', '\W+'), x -> len(x) >= 4))] AS isets),
         ov AS (
           SELECT doc_id, htext, hset,
             [len(list_intersect(hset, i)) for i in isets] AS ovs
           FROM tok, iss)
         SELECT doc_id, htext,
           CASE WHEN len(hset) = 0 THEN -1
                ELSE list_position(ovs, list_max(ovs)) - 1 END AS best_idx
         FROM ov ORDER BY doc_id""",

    "q62_outcome_link" ->
      // mirrors outcomeLinkPlan: overlap >= 1 → determines (else
      // contributes_to), unless ALL overlaps are zero — then only the
      // latest-by-(anchorStart, id) holding determines
      """WITH js AS (
           SELECT doc_id, unnest(generate_series(0, 2)) AS j FROM documents),
         rows_ AS (
           SELECT doc_id, j,
             CASE WHEN doc_id % 4 = 0 THEN 0 ELSE (doc_id * (j + 1)) % 3 END AS ov,
             ((doc_id + j) % 3) * 10 AS st,
             'h' || CAST(j + 1 AS VARCHAR) AS id
           FROM js),
         flagged AS (
           SELECT doc_id, j, ov, st, id,
             max(ov) OVER (PARTITION BY doc_id) = 0 AS allzero,
             row_number() OVER (PARTITION BY doc_id ORDER BY st DESC, id DESC) AS rk
           FROM rows_)
         SELECT doc_id, j,
           CASE WHEN allzero THEN (CASE WHEN rk = 1 THEN 'determines' ELSE 'contributes_to' END)
                WHEN ov >= 1 THEN 'determines'
                ELSE 'contributes_to' END AS rel
         FROM flagged ORDER BY doc_id, j""",

    "q60_contains_phrase" ->
      // mirrors Normalize.containsPhrase: the plain path lowers with Java
      // semantics (İ → i + combining dot U+0307, so 'DİLEKÇE' does NOT
      // contain 'dilekçe'), the Turkish path folds İIŞÇÖÜĞ → iışçöüğ first
      """WITH planted AS (
           SELECT doc_id,
             (['The DİLEKÇE was rejected by the authority',
               'ILGILI makam gerekçe göstermedi',
               'the principles of NATURAL justice apply',
               'Basvuru SÜRESİ içinde yapılmıştır',
               'no matching content here at all'])[CAST(doc_id % 5 AS INT) + 1] AS hay,
             (['dilekçe','natural justice','süresi','ılgılı','absent phrase'])[CAST((doc_id // 3) % 5 AS INT) + 1] AS phrase
           FROM documents),
         folded AS (
           SELECT doc_id, hay, phrase,
             lower(replace(hay, 'İ', 'i' || chr(775))) AS hp,
             lower(replace(phrase, 'İ', 'i' || chr(775))) AS pp,
             lower(replace(replace(replace(replace(replace(replace(replace(
               hay, 'İ','i'),'I','ı'),'Ş','ş'),'Ç','ç'),'Ö','ö'),'Ü','ü'),'Ğ','ğ')) AS ht,
             lower(replace(replace(replace(replace(replace(replace(replace(
               phrase, 'İ','i'),'I','ı'),'Ş','ş'),'Ç','ç'),'Ö','ö'),'Ü','ü'),'Ğ','ğ')) AS pt
           FROM planted)
         SELECT doc_id, hay, phrase,
           contains(hp, pp) AS contains_plain,
           contains(ht, pt) AS contains_turkish
         FROM folded ORDER BY doc_id""",

    "q59_relation_repair" ->
      // mirrors Relations.repair (extractor.py:656-738): effective key after
      // the direction flip, then the first applicable stage — direct matrix
      // hit, general drift map, per-key drift, preference list, sorted
      // fallback — with the exact note strings; rows whose (type,type) has
      // no matrix entry in either direction repair to NULL (dropped)
      """WITH planted AS (
           SELECT doc_id,
             (['f1','c1','a1','h1','p1','i1','f2','h2','js1','xy9','i2','c2'])[CAST(doc_id % 12 AS INT) + 1] AS src,
             (['c2','i1','h1','i2','c1','h2','a1','p1','h1','f1','i1','outcome'])[CAST((doc_id // 3) % 12 AS INT) + 1] AS tgt,
             (['supports','resolves','enables','satisfies','establishes',
               'explains','zzz_rel','conflicts_with','distinguishes','partially_satisfies'])[CAST((doc_id // 7) % 10 AS INT) + 1] AS rel
           FROM documents),
         typed AS (
           SELECT doc_id, src, tgt, rel,
             CASE WHEN src = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(src, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(src, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(src, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(src, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(src, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(src, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(src, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS st,
             CASE WHEN tgt = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(tgt, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(tgt, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(tgt, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(tgt, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(tgt, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(tgt, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(tgt, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS tt
           FROM planted),
         mx(k, rels) AS (SELECT * FROM (VALUES
           ('fact->concept', ['triggers','negates','partially_satisfies','satisfies','claims_satisfies']),
           ('fact->argument', ['supports','grounds','rebuts','undercuts']),
           ('fact->holding', ['supports','grounds']),
           ('fact->issue', ['triggers','supports','addresses']),
           ('concept->concept', ['requires','excludes','specializes','conflicts_with']),
           ('concept->argument', ['supports','grounds','rebuts','undercuts']),
           ('concept->holding', ['grounds','constrains','supports','enables']),
           ('concept->issue', ['requires','addresses']),
           ('argument->issue', ['addresses','concedes']),
           ('argument->argument', ['attacks','supports_arg','responds_to']),
           ('argument->holding', ['supports','grounds','rebuts','undercuts']),
           ('argument->concept', ['supports','grounds','rebuts','undercuts','claims_satisfies']),
           ('holding->issue', ['resolves','partially_resolves','addresses']),
           ('holding->outcome', ['determines','contributes_to']),
           ('holding->precedent', ['follows','applies','distinguishes','overrules','doubts','explains']),
           ('holding->concept', ['supports','grounds','constrains','undercuts','negates']),
           ('holding->holding', ['supports','conflicts_with','specializes','constrains','undercuts']),
           ('precedent->concept', ['supports','grounds','establishes']),
           ('precedent->holding', ['supports']),
           ('precedent->argument', ['supports']),
           ('precedent->issue', ['addresses','supports']),
           ('issue->concept', ['requires','addresses']),
           ('issue->holding', ['addresses','requires']),
           ('issue->argument', ['addresses','requires']),
           ('issue->precedent', ['addresses']),
           ('issue->issue', ['specializes','conflicts_with','requires'])) m(k, rels)),
         keyed AS (
           SELECT t.doc_id, t.src, t.tgt, t.rel, t.st, t.tt,
             f.rels AS af, r.rels AS ar,
             (f.k IS NULL AND r.k IS NOT NULL) AS flipped,
             (f.k IS NULL AND r.k IS NULL) AS dropped,
             coalesce(f.rels, r.rels) AS allowed,
             CASE WHEN f.k IS NOT NULL THEN t.st || '->' || t.tt
                  WHEN r.k IS NOT NULL THEN t.tt || '->' || t.st END AS key
           FROM typed t
           LEFT JOIN mx f ON f.k = t.st || '->' || t.tt
           LEFT JOIN mx r ON r.k = t.tt || '->' || t.st),
         staged AS (
           SELECT *,
             CASE rel
               WHEN 'explains' THEN 'addresses' WHEN 'supports_arg' THEN 'addresses'
               WHEN 'contributes_to' THEN 'addresses' WHEN 'partially_resolves' THEN 'addresses'
               WHEN 'resolves' THEN 'addresses' WHEN 'enables' THEN 'requires'
               WHEN 'distinguishes' THEN 'specializes' WHEN 'partially_satisfies' THEN 'grounds'
               WHEN 'satisfies' THEN 'supports' WHEN 'establishes' THEN 'supports' END AS dg,
             CASE key
               WHEN 'fact->concept' THEN
                 CASE WHEN list_contains(allowed, 'triggers') THEN 'triggers'
                      WHEN list_contains(allowed, 'satisfies') THEN 'satisfies' END
               WHEN 'holding->issue' THEN
                 CASE WHEN list_contains(allowed, 'addresses') THEN 'addresses' END
               WHEN 'concept->issue' THEN
                 CASE WHEN list_contains(allowed, 'addresses') THEN 'addresses' END
               WHEN 'issue->issue' THEN
                 CASE WHEN list_contains(allowed, 'specializes') THEN 'specializes' END
               WHEN 'precedent->concept' THEN
                 CASE WHEN list_contains(allowed, 'grounds') THEN 'grounds' END
               END AS kcand,
             list_filter(['grounds','supports','addresses','requires','specializes','triggers'],
               x -> list_contains(allowed, x))[1] AS pref,
             list_sort(allowed)[1] AS fb
           FROM keyed),
         resolved AS (
           SELECT doc_id, src, tgt, rel, flipped, dropped,
             CASE WHEN dropped THEN NULL
               WHEN list_contains(allowed, rel) THEN rel
               WHEN dg IS NOT NULL AND list_contains(allowed, dg) THEN dg
               WHEN kcand IS NOT NULL THEN kcand
               WHEN pref IS NOT NULL THEN pref
               ELSE fb END AS chosen,
             CASE WHEN dropped THEN NULL
               WHEN list_contains(allowed, rel) THEN
                 CASE WHEN flipped THEN 'flipped direction' ELSE 'ok' END
               ELSE (CASE WHEN flipped THEN 'flipped; ' ELSE '' END) || rel || '->' ||
                 (CASE WHEN dg IS NOT NULL AND list_contains(allowed, dg) THEN dg
                       WHEN kcand IS NOT NULL THEN kcand
                       WHEN pref IS NOT NULL THEN pref
                       ELSE fb END) END AS note
           FROM staged)
         SELECT doc_id, src, tgt, rel AS relation,
           CASE WHEN dropped THEN NULL WHEN flipped THEN tgt ELSE src END AS new_src,
           CASE WHEN dropped THEN NULL WHEN flipped THEN src ELSE tgt END AS new_tgt,
           chosen AS new_rel, note
         FROM resolved ORDER BY doc_id""",

    "q56_legit_orphan" ->
      // mirrors OrphanRepair.legitimateOrphan branch-for-branch
      // (repair_orphans.py is_legitimate_orphan)
      """WITH planted AS (
           SELECT doc_id,
             (['fact','argument','concept','precedent','issue','outcome'])[CAST(doc_id % 6 AS INT)+1] AS nt,
             (['rejected','accepted','not_decided'])[CAST((doc_id // 7) % 3 AS INT)+1] AS cf,
             (['background','procedural'])[CAST((doc_id // 7) % 2 AS INT)+1] AS ft,
             (['rejected','accepted','not_addressed'])[CAST((doc_id // 11) % 3 AS INT)+1] AS cr,
             (['mentioned','central','obiter'])[CAST((doc_id // 13) % 3 AS INT)+1] AS rv,
             (['cited','followed'])[CAST((doc_id // 5) % 2 AS INT)+1] AS tr
           FROM documents)
         SELECT doc_id, nt, cf, ft, cr, rv, tr,
           CASE nt
             WHEN 'fact' THEN (cf = 'rejected' OR cf = 'not_decided' OR ft = 'background')
             WHEN 'argument' THEN (cr = 'rejected' OR cr = 'not_addressed')
             WHEN 'concept' THEN (rv = 'mentioned' OR rv = 'obiter')
             WHEN 'precedent' THEN (tr = 'cited')
             ELSE false END AS legit
         FROM planted ORDER BY doc_id""",

    "q57_canonical_rewrite" ->
      // independent replay of the canonicalization: rebuild the planted
      // precedent key rows, run min-label CC over the name↔citation
      // bipartite graph (plus citation self-edges) with the q17/q27 walk
      // pattern, take the lexicographic min key per component (what the
      // union-find emits), then replay BOTH endpoint joins of the edge
      // rewrite with the conv-local fallback
      """WITH RECURSIVE o AS (
           SELECT DISTINCT CAST(o_custkey % 20 AS VARCHAR) AS conv,
             CAST(o_orderkey % 5 AS INT) AS pid,
             CAST(o_orderkey % 3 AS INT) AS cid
           FROM orders),
         prec AS (
           SELECT DISTINCT conv, 'p' || CAST(pid AS VARCHAR) AS id,
             CASE WHEN (CAST(conv AS INT) + pid) % 8 < 4 THEN
               (['Maneka  Gandhi v. Union of India',
                 'Kesavananda Bharati v. State of Kerala',
                 'Olga Tellis v. Bombay Municipal Corporation',
                 'A.K. Gopalan v. State of Madras'])[CAST((CAST(conv AS INT) + pid) % 8 AS INT) + 1]
             ELSE NULL END AS case_name,
             (['AIR 1978 SC 597','AIR 1973 SC 1461','AIR  1986 SC 180',
               'AIR 1950 SC 27','1973 (4) SCC 225','1985 (3) SCC 545'])[CAST((CAST(conv AS INT)*2 + pid) % 6 AS INT) + 1] AS citation
           FROM o),
         keys AS (
           SELECT conv, id,
             CASE WHEN case_name IS NOT NULL THEN
               'case:' || lower(regexp_replace(trim(case_name), '\s+', ' ', 'g'))
             ELSE NULL END AS name_key,
             'cit:air:' || lower(regexp_replace(trim(citation), '\s+', ' ', 'g')) AS cit_key
           FROM prec),
         pairs AS (
           SELECT name_key AS src, cit_key AS dst FROM keys WHERE name_key IS NOT NULL
           UNION
           SELECT cit_key, name_key FROM keys WHERE name_key IS NOT NULL),
         allk AS (
           SELECT DISTINCT cit_key AS node FROM keys
           UNION SELECT DISTINCT name_key FROM keys WHERE name_key IS NOT NULL),
         walk(id, lbl) AS (
           SELECT node, node FROM allk
           UNION
           SELECT p.dst, w.lbl FROM walk w JOIN pairs p ON p.src = w.id),
         comp AS (SELECT id AS node, min(lbl) AS component FROM walk GROUP BY id),
         pmap AS (
           SELECT k.conv, k.id, coalesce(c.component, k.cit_key) AS canonical_id
           FROM keys k LEFT JOIN comp c ON c.node = k.cit_key),
         cmap AS (
           SELECT DISTINCT conv, 'c' || CAST(cid AS VARCHAR) AS id,
             'concept:CONST_' || CAST((CAST(conv AS INT) + cid) % 4 AS VARCHAR) AS canonical_id
           FROM o),
         mapping AS (SELECT * FROM pmap UNION ALL SELECT * FROM cmap),
         edges AS (
           SELECT CAST(o_custkey % 20 AS VARCHAR) AS conv,
             'p' || CAST(CAST(o_orderkey % 5 AS INT) AS VARCHAR) AS source,
             'c' || CAST(CAST(o_orderkey % 3 AS INT) AS VARCHAR) AS target
           FROM orders)
         SELECT e.conv AS conv_id,
           coalesce(sm.canonical_id, e.conv || '/' || e.source) AS subj,
           'follows' AS pred,
           coalesce(tm.canonical_id, e.conv || '/' || e.target) AS obj
         FROM edges e
         LEFT JOIN mapping sm ON sm.conv = e.conv AND sm.id = e.source
         LEFT JOIN mapping tm ON tm.conv = e.conv AND tm.id = e.target
         ORDER BY conv_id, subj, obj""",

    "q58_scheme_norm" ->
      // mirrors Actors.coerceScheme (underscore fold → alias map → enum
      // clamp to 'other') and Actors.inferScheme (cue buckets, first match
      // in fixed priority order, default rule_application)
      """WITH planted AS (
           SELECT doc_id,
             (['Textual Interpretation','precedent-distinguishing',
               'AUDI ALTERAM PARTEM','weird scheme!!','balancing',
               'jurisdiction'])[CAST(doc_id % 6 AS INT)+1] AS raw,
             (['the evidence is proportional to the restriction imposed',
               'counsel relied on the precedent cited at the bar',
               'the plain meaning of the provision is clear',
               'the order traverses beyond jurisdiction and is time-barred',
               'the measure serves no identifiable purpose at all'])[CAST(doc_id % 5 AS INT)+1] AS sent
           FROM documents),
         folded AS (
           SELECT doc_id, raw, sent,
             regexp_replace(replace(replace(lower(trim(raw)), '-', '_'), ' ', '_'),
               '_+', '_', 'g') AS fold
           FROM planted),
         aliased AS (
           SELECT doc_id, raw, sent,
             CASE fold
               WHEN 'textual_interpretation' THEN 'textual'
               WHEN 'purposive_interpretation' THEN 'purposive'
               WHEN 'harmonious_construction' THEN 'harmonious'
               WHEN 'procedural_compliance' THEN 'procedural'
               WHEN 'precedent_distinguishing' THEN 'precedent_distinction'
               WHEN 'policy_consequences' THEN 'policy_consequence'
               WHEN 'naturaljustice' THEN 'natural_justice'
               WHEN 'natural_justice_principle' THEN 'natural_justice'
               WHEN 'procedural_fairness' THEN 'natural_justice'
               WHEN 'audi_alteram_partem' THEN 'natural_justice'
               ELSE fold END AS n
           FROM folded)
         SELECT doc_id, raw, sent,
           CASE WHEN n IN ('rule_application','rule_exception','precedent_following',
             'precedent_analogy','precedent_distinction','textual','purposive',
             'harmonious','proportionality','balancing','evidence_sufficiency',
             'evidence_credibility','procedural','jurisdiction','limitation',
             'policy_consequence','public_interest','natural_justice','other')
             THEN n ELSE 'other' END AS scheme,
           CASE
             WHEN sent LIKE '%natural justice%' OR sent LIKE '%audi alteram%'
               OR sent LIKE '%procedural fairness%' THEN 'natural_justice'
             WHEN sent LIKE '%proportional%' THEN 'proportionality'
             WHEN sent LIKE '%distinguish%' THEN 'precedent_distinction'
             WHEN sent LIKE '%relied on%' OR sent LIKE '%relying on%'
               OR sent LIKE '%followed in%' OR sent LIKE '%precedent%'
               OR sent LIKE '%cited%' THEN 'precedent_following'
             WHEN sent LIKE '%harmonious%' THEN 'harmonious'
             WHEN sent LIKE '%purposive%' OR sent LIKE '%object and purpose%'
               OR sent LIKE '%intention of the legislature%' THEN 'purposive'
             WHEN sent LIKE '%plain meaning%' OR sent LIKE '%literal%'
               OR sent LIKE '%textual%' OR sent LIKE '%plain language%' THEN 'textual'
             WHEN sent LIKE '%balanc%' THEN 'balancing'
             WHEN sent LIKE '%evidence%' OR sent LIKE '%proof%'
               OR sent LIKE '%burden%' THEN 'evidence_sufficiency'
             WHEN sent LIKE '%jurisdiction%' THEN 'jurisdiction'
             WHEN sent LIKE '%limitation%' OR sent LIKE '%time-barred%'
               OR sent LIKE '%barred by time%' THEN 'limitation'
             WHEN sent LIKE '%public interest%' THEN 'public_interest'
             WHEN sent LIKE '%policy%' OR sent LIKE '%consequence%' THEN 'policy_consequence'
             WHEN sent LIKE '%procedur%' THEN 'procedural'
             WHEN sent LIKE '%exception%' OR sent LIKE '%proviso%' THEN 'rule_exception'
             ELSE 'rule_application' END AS inferred
         FROM aliased ORDER BY doc_id""",

    "q55_overlap_dedup" ->
      // mirrors Citations.dedupeOverlapping: rank by (start, -len, j) — the
      // j tie-break reproduces Scala's STABLE sort — then a recursive greedy
      // sweep carrying lastEnd (keep when start >= lastEnd, as the Python
      // longest-span dedup does, citation_preprocess.py:374-394)
      """WITH RECURSIVE hits AS (
           SELECT doc_id, j,
             (doc_id*7 + j*j*3) % 40 AS s,
             3 + (doc_id + j) % 9 AS len,
             't' || CAST(j % 3 AS VARCHAR) AS ctype
           FROM (SELECT doc_id, unnest(generate_series(0, 5)) AS j FROM documents)),
         ranked AS (
           SELECT doc_id, s, s + len AS e, ctype,
             row_number() OVER (PARTITION BY doc_id ORDER BY s, len DESC, j) AS rk
           FROM hits),
         greedy AS (
           SELECT doc_id, CAST(0 AS BIGINT) AS rk, CAST(-1 AS BIGINT) AS last_end,
             CAST(NULL AS BIGINT) AS s, CAST(NULL AS BIGINT) AS e,
             CAST(NULL AS VARCHAR) AS ctype, false AS kept
           FROM (SELECT DISTINCT doc_id FROM ranked)
           UNION ALL
           SELECT r.doc_id, r.rk,
             CASE WHEN r.s >= g.last_end THEN r.e ELSE g.last_end END,
             r.s, r.e, r.ctype, r.s >= g.last_end
           FROM greedy g JOIN ranked r ON r.doc_id = g.doc_id AND r.rk = g.rk + 1)
         SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY rk) - 1 AS rk,
           s AS start, e AS "end", ctype
         FROM greedy WHERE kept
         ORDER BY doc_id, rk""",

    "q53_assemble_order" ->
      // mirrors DocExtractor.assemble: sort by (turn_idx, text) — ORDER BY
      // inside string_agg — joined with "\n"; duplicate turn_idx values in
      // the planted turns force the text tie-break both engines must agree on
      """WITH planted AS (
           SELECT o_custkey % 50 AS conv,
             CAST(o_orderkey % 7 AS INT) AS idx,
             (['the petitioner contends the order is void',
               'notice was not served before termination',
               'the appeal is allowed with costs',
               'whether natural justice applies',
               'the respondent relies on the enquiry report'])[CAST(o_orderkey % 5 AS INT) + 1] AS text
           FROM orders)
         SELECT conv, count(*) AS n_turns,
           md5(string_agg(text, chr(10) ORDER BY idx ASC, text ASC)) AS assembled_md5
         FROM planted GROUP BY conv ORDER BY conv""",

    "q54_sanitize_id" ->
      // mirrors CaseAdapter.sanitizeCaseId; DuckDB regexp_replace needs the
      // 'g' flag to match Spark's replace-all default
      """WITH planted AS (
           SELECT doc_id,
             (['AIR 1978/SC\597',
               ' In  re: Kerala-Edu. Bill, 1957 ',
               '___',
               'W.P.(C) No. 123 of 2020',
               '##??!!'])[CAST(doc_id % 5 AS INT) + 1] AS raw
           FROM documents),
         clean AS (
           SELECT doc_id, raw,
             regexp_replace(
               regexp_replace(
                 regexp_replace(trim(raw), '[/\\]', '_', 'g'),
                 '[^0-9A-Za-z._-]+', '_', 'g'),
               '_+', '_', 'g') AS c
           FROM planted),
         strip AS (
           SELECT doc_id, raw,
             regexp_replace(regexp_replace(c, '^_+', '', 'g'), '_+$', '', 'g') AS s
           FROM clean)
         SELECT doc_id, raw,
           CASE WHEN len(s) > 0 THEN s ELSE 'case' END AS case_id
         FROM strip ORDER BY doc_id""",

    "q52_image_decode" ->
      // mirrors Multimodal.imageGrid over plantedImage: the planted pixels
      // are pure arithmetic (gray = (id*31 + x*7 + y*13) % 256, dims
      // 8+(id*3%17) × 8+(id*5%13)); PNG encode→decode is lossless, so the
      // SQL needs no image bytes — block d = (y*4//h)*4 + x*4//w, value =
      // sum(r+g+b) / (pixels*765) with integer sums (exact in doubles in
      // any order), then the engine-portable floor rounding
      """WITH dims AS (
           SELECT doc_id AS id,
             8 + (doc_id*3 % 17) AS w, 8 + (doc_id*5 % 13) AS h
           FROM documents),
         ys AS (SELECT id, w, h, unnest(generate_series(0, h-1)) AS y FROM dims),
         px AS (SELECT id, w, h, y, unnest(generate_series(0, w-1)) AS x FROM ys),
         blk AS (
           SELECT id, w, h,
             ((y*4)//h)*4 + (x*4)//w AS block,
             (id*31 + x*7 + y*13) % 256 AS g
           FROM px)
         SELECT id AS doc_id, w AS width, h AS height,
           CAST(block AS BIGINT) AS block,
           floor((sum(3*g) * 1.0 / (count(*) * 765.0)) * 1000000.0 + 0.5) / 1000000.0 AS f
         FROM blk GROUP BY 1, 2, 3, 4
         ORDER BY doc_id, block""",

    "q49_graph_quality" ->
      // the four per-conversation shares + weighted 1-10 score
      // (evaluate_graphs.py:90-305): validity = share of edges whose
      // (fact|concept)→holding relation is matrix-allowed (addresses is
      // not); connectivity = share of non-outcome nodes that are edge
      // endpoints (the 2 planted issues never are); resolution = share of
      // issues some holding resolves; anchors = share of nodes with a
      // non-null, non-degenerate anchor
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             CAST(o_orderkey % 5 AS INT) AS d,
             CAST(o_orderkey % 2 AS INT) AS t,
             CAST(o_orderkey % 3 AS INT) AS h
           FROM orders),
         validity AS (
           SELECT conv_id,
             floor(count(*) FILTER (WHERE h <> 2) * 1.0 / count(*) * 10000.0 + 0.5) / 10000.0 AS edge_validity
           FROM o GROUP BY conv_id),
         srcs AS (SELECT DISTINCT conv_id, t, d FROM o),
         holds AS (SELECT DISTINCT conv_id, h FROM o),
         counts AS (
           SELECT s.conv_id, ns, nh,
             nsrc_anchor_ok
           FROM (SELECT conv_id, count(*) AS ns,
                   count(*) FILTER (WHERE d IN (1, 2)) AS nsrc_anchor_ok
                 FROM srcs GROUP BY conv_id) s
           JOIN (SELECT conv_id, count(*) AS nh FROM holds GROUP BY conv_id) hh
             ON s.conv_id = hh.conv_id),
         conn AS (
           SELECT conv_id,
             floor((ns + nh) * 1.0 / (ns + nh + 2) * 10000.0 + 0.5) / 10000.0 AS connectivity,
             floor((nsrc_anchor_ok + nh + 2) * 1.0 / (ns + nh + 2) * 10000.0 + 0.5) / 10000.0 AS anchor_quality,
             (ns + nh) * 1.0 / (ns + nh + 2) AS connectivity_raw,
             (nsrc_anchor_ok + nh + 2) * 1.0 / (ns + nh + 2) AS anchor_raw
           FROM counts),
         res AS (
           SELECT conv_id,
             (max(CASE WHEN h = 0 THEN 1 ELSE 0 END) + max(CASE WHEN h = 1 THEN 1 ELSE 0 END)) / 2.0 AS issue_resolution_raw
           FROM o GROUP BY conv_id),
         vr AS (
           SELECT conv_id, count(*) FILTER (WHERE h <> 2) * 1.0 / count(*) AS validity_raw
           FROM o GROUP BY conv_id)
         SELECT v.conv_id,
           v.edge_validity,
           c.connectivity,
           floor(r.issue_resolution_raw * 10000.0 + 0.5) / 10000.0 AS issue_resolution,
           c.anchor_quality,
           floor((1.0 + vr.validity_raw * 3.0 + c.connectivity_raw * 3.0
                 + r.issue_resolution_raw * 2.0 + c.anchor_raw * 1.0) * 100.0 + 0.5) / 100.0 AS quality_score
         FROM validity v
         JOIN conn c ON v.conv_id = c.conv_id
         JOIN res r ON v.conv_id = r.conv_id
         JOIN vr ON v.conv_id = vr.conv_id
         ORDER BY v.conv_id""",

    "q46_holding_support" ->
      // get_holding_support (schema_v2_1.py:807-836): grounding_concepts =
      // sources of ALL grounds in-edges (no type filter), supporting_facts =
      // fact-typed supports sources, plus the js ids targeting the holding
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             (['f','c'])[CAST(o_orderkey % 2 AS INT) + 1] || CAST(o_orderkey % 5 AS VARCHAR) AS source,
             (['fact','concept'])[CAST(o_orderkey % 2 AS INT) + 1] AS src_type,
             'h' || CAST(o_orderkey % 3 AS VARCHAR) AS holding_id,
             (['grounds','supports','addresses'])[CAST(o_orderkey % 3 AS INT) + 1] AS relation
           FROM orders),
         sup AS (
           SELECT conv_id, holding_id,
             coalesce(array_to_string(list_sort(list(source) FILTER (WHERE relation = 'grounds')), ','), '') AS grounding_concepts,
             coalesce(array_to_string(list_sort(list(source) FILTER (WHERE src_type = 'fact' AND relation = 'supports')), ','), '') AS supporting_facts
           FROM o GROUP BY conv_id, holding_id),
         js AS (
           SELECT DISTINCT conv_id, holding_id, 'js' || holding_id[2:] AS js_id FROM o),
         jsa AS (
           SELECT conv_id, holding_id, array_to_string(list_sort(list(js_id)), ',') AS justification_sets
           FROM js GROUP BY conv_id, holding_id)
         SELECT s.conv_id, s.holding_id, s.grounding_concepts, s.supporting_facts,
                coalesce(j.justification_sets, '') AS justification_sets
         FROM sup s LEFT JOIN jsa j ON s.conv_id = j.conv_id AND s.holding_id = j.holding_id
         ORDER BY s.conv_id, s.holding_id""",

    "q47_counterfactual" ->
      // counterfactual_remove_node_v4 (extractor.py:4372-4460): per primary
      // justification set, AND logic breaks on any removed member, OR logic
      // only when every member is removed; a holding is unsupported when all
      // its primary sets break
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             (['f','c'])[CAST(o_orderkey % 2 AS INT) + 1] || CAST(o_orderkey % 5 AS VARCHAR) AS source,
             'h' || CAST(o_orderkey % 3 AS VARCHAR) AS holding_id,
             'js' || CAST(o_orderkey % 3 AS VARCHAR) AS js_id,
             (['and','or','and'])[CAST(o_orderkey % 3 AS INT) + 1] AS logic
           FROM orders),
         perjs AS (
           SELECT conv_id, holding_id, js_id, logic,
             count(*) AS n_members,
             count(*) FILTER (WHERE source = 'f0') AS n_removed
           FROM o GROUP BY conv_id, holding_id, js_id, logic),
         broken AS (
           SELECT conv_id, holding_id,
             bool_and(CASE WHEN logic = 'and' THEN n_removed > 0
                           ELSE n_removed = n_members END) AS unsupported
           FROM perjs GROUP BY conv_id, holding_id)
         SELECT conv_id, holding_id FROM broken WHERE unsupported
         ORDER BY conv_id, holding_id""",

    "q48_js_members" ->
      // get_justification_members (schema_v2_1.py:778-779): explode the
      // edge→support-group memberships
      """SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             'e' || CAST(o_orderkey AS VARCHAR) AS edge_id,
             (['f','c'])[CAST(o_orderkey % 2 AS INT) + 1] || CAST(o_orderkey % 5 AS VARCHAR) AS source,
             'js' || CAST(o_orderkey % 3 AS VARCHAR) AS js_id
         FROM orders ORDER BY conv_id, edge_id""",

    "q45_toulmin" ->
      // get_toulmin_structure (schema_v2_1.py:781-806): SUPPORTS in-edges
      // bucket by source type (fact→grounds, concept→warrants,
      // precedent→backing); attacks/rebuts/undercuts → rebuttals; all other
      // relations contribute nothing
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             (['f','c','p'])[CAST(o_orderkey % 3 AS INT) + 1] || CAST(o_orderkey % 7 AS VARCHAR) AS source,
             (['fact','concept','precedent'])[CAST(o_orderkey % 3 AS INT) + 1] AS src_type,
             'a' || CAST(o_orderkey % 3 AS VARCHAR) AS target,
             (['supports','attacks','rebuts','grounds'])[CAST(o_orderkey % 4 AS INT) + 1] AS relation
           FROM orders),
         b AS (
           SELECT conv_id, target AS argument_id, source,
             CASE WHEN relation IN ('attacks','rebuts','undercuts') THEN 'rebuttals'
                  WHEN relation = 'supports' AND src_type = 'fact' THEN 'grounds'
                  WHEN relation = 'supports' AND src_type = 'concept' THEN 'warrants'
                  WHEN relation = 'supports' AND src_type = 'precedent' THEN 'backing'
                  ELSE 'other' END AS bucket
           FROM o)
         SELECT conv_id, argument_id,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'grounds')), ','), '') AS grounds,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'warrants')), ','), '') AS warrants,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'backing')), ','), '') AS backing,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'rebuttals')), ','), '') AS rebuttals
         FROM b GROUP BY conv_id, argument_id
         ORDER BY conv_id, argument_id""",

    "q44_quote_align" ->
      // align_quote_to_span (extractor.py:792-846) on ws-clean text: trim
      // the quote, exact indexOf, case-insensitive fallback, None when
      // absent/empty; offsets are 0-based [start, end)
      """WITH planted AS (
           SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0 THEN substr(text, 51, 40)
                  WHEN doc_id % 3 = 1 THEN upper(substr(text, 21, 30))
                  ELSE 'zz unfindable phrase qq' END AS quote
           FROM documents),
         t AS (SELECT doc_id, text, trim(quote) AS q FROM planted),
         p AS (
           SELECT doc_id, q,
             CASE WHEN q = '' THEN 0
                  WHEN strpos(text, q) > 0 THEN strpos(text, q)
                  WHEN strpos(lower(text), lower(q)) > 0 THEN strpos(lower(text), lower(q))
                  ELSE 0 END AS pos1
           FROM t)
         SELECT doc_id,
           CASE WHEN pos1 > 0 THEN CAST(pos1 - 1 AS INT) END AS start,
           CASE WHEN pos1 > 0 THEN CAST(pos1 - 1 + length(q) AS INT) END AS "end"
         FROM p ORDER BY doc_id""",

    "q43_doc_window" ->
      // aym_operative_window (extractor.py:172-234): Turkish-lower the text
      // (translate then lower — 1:1 char mapping, so needle indices carry
      // over to the original), find the LAST occurrence of the
      // highest-priority needle present via reverse+strpos, take the tail
      // window from it (last 200 chars if longer); plain 200-char tail when
      // no needle occurs
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'SONUÇ VE HÜKÜM' || chr(10) || 'Başvurunun reddine karar verildi.' ELSE '' END ||
             CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'HÜKÜM: istinaf yolu açık olmak üzere.' ELSE '' END ||
             CASE WHEN doc_id % 4 = 3 THEN chr(10) || 'SONUC bölümünde açıklandığı üzere.' ELSE '' END AS text
           FROM documents),
         low AS (
           SELECT doc_id, text,
             lower(translate(text, 'İIŞÇÖÜĞ', 'iışçöüğ')) AS l
           FROM planted),
         pos AS (
           SELECT doc_id, text, l,
             CASE
               WHEN contains(l, 'sonuç ve hüküm') THEN length(l) - (strpos(reverse(l), reverse('sonuç ve hüküm')) - 1) - length('sonuç ve hüküm')
               WHEN contains(l, 'sonuc ve hukum') THEN length(l) - (strpos(reverse(l), reverse('sonuc ve hukum')) - 1) - length('sonuc ve hukum')
               WHEN contains(l, 'sonuç ve karar') THEN length(l) - (strpos(reverse(l), reverse('sonuç ve karar')) - 1) - length('sonuç ve karar')
               WHEN contains(l, 'hüküm') THEN length(l) - (strpos(reverse(l), reverse('hüküm')) - 1) - length('hüküm')
               WHEN contains(l, 'hukum') THEN length(l) - (strpos(reverse(l), reverse('hukum')) - 1) - length('hukum')
               WHEN contains(l, 'sonuç') THEN length(l) - (strpos(reverse(l), reverse('sonuç')) - 1) - length('sonuç')
               WHEN contains(l, 'sonuc') THEN length(l) - (strpos(reverse(l), reverse('sonuc')) - 1) - length('sonuc')
               ELSE -1 END AS idx0
           FROM low),
         win AS (
           SELECT doc_id,
             CASE WHEN idx0 >= 0 THEN
               (CASE WHEN length(text) - idx0 > 200
                     THEN right(substr(text, idx0 + 1), 200)
                     ELSE substr(text, idx0 + 1) END)
             ELSE
               (CASE WHEN length(text) > 200 THEN right(text, 200) ELSE text END)
             END AS w
           FROM pos)
         SELECT doc_id, md5(w) AS window_hash, length(w) AS window_len
         FROM win ORDER BY doc_id""",

    "q42_concept_match" ->
      // best_concept_match (extractor.py:1132-1194): exact id, else the
      // LONGEST id containing the input (ties → lexicographically smallest,
      // encoded as a (1000-len)-prefixed sort key), else null for
      // structured prefixes / empty / zero-keyword-overlap inputs
      """WITH ids AS (
           SELECT ['CONCEPT_ACCUSED_EXAMINATION','CONCEPT_ADD_ACCUSED','CONCEPT_ANTICIPATORY_BAIL','CONCEPT_APPEAL_ACQUITTAL','CONCEPT_ARREST_WITHOUT_WARRANT','CONCEPT_ATTEMPT','CONCEPT_ATTEMPT_MURDER','CONCEPT_BAIL_HC_SESSIONS','CONCEPT_BURDEN_OF_PROOF','CONCEPT_CHEATING','CONCEPT_COMMON_INTENTION','CONCEPT_CONFESSION_ADMISSIBILITY','CONCEPT_CONFESSION_POLICE','CONCEPT_CONFESSION_RECORDING','CONCEPT_COURT_PRESUMPTION','CONCEPT_CO_ACCUSED_CONFESSION','CONCEPT_CRIMINAL_BREACH_TRUST','CONCEPT_CRIMINAL_INTIMIDATION','CONCEPT_CULPABLE_HOMICIDE','CONCEPT_DEATH_BY_NEGLIGENCE','CONCEPT_DEFAMATION','CONCEPT_DEFINITIONS','CONCEPT_DISCOVERY_CONFESSION','CONCEPT_DOWRY_DEATH','CONCEPT_DYING_DECLARATION','CONCEPT_ELECTRONIC_EVIDENCE','CONCEPT_EXPERT_OPINION','CONCEPT_FIR','CONCEPT_GANG_RAPE','CONCEPT_INHERENT_POWERS_HC','CONCEPT_MAINTENANCE','CONCEPT_MURDER','CONCEPT_POLICE_EXAMINATION','CONCEPT_RAPE_DEFINITION','CONCEPT_RAPE_PUNISHMENT','CONCEPT_REGULAR_BAIL','CONCEPT_RES_GESTAE','CONCEPT_ROBBERY/DACOITY','CONCEPT_SEDITION?SOVEREIGNTY','CONCEPT_SEXUAL_INTERCOURSE_BY_DECEIT','CONCEPT_SNATCHING','CONCEPT_THEFT','CONCEPT_UNDERTRIAL_DETENTION','DOCTRINE_BASIC_STRUCTURE','DOCTRINE_HARMONIOUS_CONSTRUCTION','DOCTRINE_LEGITIMATE_EXPECTATION','DOCTRINE_MANEKA_GANDHI_FRAMEWORK_DUE_PROCESS','DOCTRINE_MANIFEST_ARBITRARINESS','DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM','DOCTRINE_PITH_AND_SUBSTANCE','DOCTRINE_PROPORTIONALITY_TEST','DOCTRINE_READING_DOWN','DOCTRINE_REASONABLE_CLASSIFICATION_ARTICLE_14_TWIN_TEST','DOCTRINE_WEDNESBURY_UNREASONABLENESS'] AS l),
         planted AS (
           SELECT doc_id,
             (['DOCTRINE_PROPORTIONALITY_TEST','PROPORTIONALITY','CONFESSION','BAIL',
               'CONST_FOO','STATUTE_BAR','RIGHT_X','zzzzqqqq','MURDER',''])[CAST(doc_id % 10 AS INT) + 1] AS raw_cid
           FROM documents),
         m AS (
           SELECT doc_id, raw_cid,
             list_sort(list_transform(
               list_filter((SELECT l FROM ids), x -> contains(x, trim(raw_cid)) AND trim(raw_cid) <> ''),
               x -> lpad(CAST(1000 - length(x) AS VARCHAR), 4, '0') || x)) AS subs
           FROM planted)
         SELECT doc_id, raw_cid,
           CASE
             WHEN trim(raw_cid) = '' THEN NULL
             WHEN list_contains((SELECT l FROM ids), trim(raw_cid)) THEN trim(raw_cid)
             WHEN len(subs) > 0 THEN subs[1][5:]
             WHEN starts_with(upper(trim(raw_cid)), 'CONST_') OR starts_with(upper(trim(raw_cid)), 'STATUTE_')
               OR starts_with(upper(trim(raw_cid)), 'PROCEDURE_') OR starts_with(upper(trim(raw_cid)), 'REMEDY_')
               OR starts_with(upper(trim(raw_cid)), 'RIGHT_') THEN NULL
             ELSE NULL END AS matched
         FROM m ORDER BY doc_id""",

    "q41_relation_validate" ->
      // nodeTypeFromId (prefix + all-digit-or-underscore suffix,
      // extractor.py:609-633) and the (type,type)→relations matrix
      // (extractor.py:568-607) inline
      """WITH planted AS (
           SELECT doc_id,
             (['f1','f2','f3','f4','c1','c3','a1','a2','h1','h2','h3','p1','p2','i1','f1','f1','c1','xy9','js1','h1'])[CAST(doc_id % 20 AS INT) + 1] AS src,
             (['c2','a1','h1','i1','c2','h2','i1','a3','i1','outcome','p1','h1','c1','c1','c2','p1','i1','h1','rc1','h2'])[CAST(doc_id % 20 AS INT) + 1] AS tgt,
             (['triggers','supports','grounds','addresses','requires','enables','concedes','responds_to','resolves','determines','follows','supports','establishes','requires','supports','supports','grounds','supports','supports','conflicts_with'])[CAST(doc_id % 20 AS INT) + 1] AS relation
           FROM documents),
         typed AS (
           SELECT doc_id, src, tgt, relation,
             CASE WHEN src = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(src, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(src, '^rc([0-9]+|_.*)$') THEN 'reasoning_chain'
                  WHEN regexp_matches(src, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(src, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(src, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(src, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(src, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(src, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS src_type,
             CASE WHEN tgt = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(tgt, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(tgt, '^rc([0-9]+|_.*)$') THEN 'reasoning_chain'
                  WHEN regexp_matches(tgt, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(tgt, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(tgt, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(tgt, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(tgt, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(tgt, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS tgt_type
           FROM planted)
         SELECT doc_id, src, tgt, relation, src_type, tgt_type,
           CASE WHEN len(list_filter(
             CASE src_type || '->' || tgt_type
               WHEN 'fact->concept' THEN ['triggers','negates','partially_satisfies','satisfies','claims_satisfies']
               WHEN 'fact->argument' THEN ['supports','grounds','rebuts','undercuts']
               WHEN 'fact->holding' THEN ['supports','grounds']
               WHEN 'fact->issue' THEN ['triggers','supports','addresses']
               WHEN 'concept->concept' THEN ['requires','excludes','specializes','conflicts_with']
               WHEN 'concept->argument' THEN ['supports','grounds','rebuts','undercuts']
               WHEN 'concept->holding' THEN ['grounds','constrains','supports','enables']
               WHEN 'concept->issue' THEN ['requires','addresses']
               WHEN 'argument->issue' THEN ['addresses','concedes']
               WHEN 'argument->argument' THEN ['attacks','supports_arg','responds_to']
               WHEN 'argument->holding' THEN ['supports','grounds','rebuts','undercuts']
               WHEN 'argument->concept' THEN ['supports','grounds','rebuts','undercuts','claims_satisfies']
               WHEN 'holding->issue' THEN ['resolves','partially_resolves','addresses']
               WHEN 'holding->outcome' THEN ['determines','contributes_to']
               WHEN 'holding->precedent' THEN ['follows','applies','distinguishes','overrules','doubts','explains']
               WHEN 'holding->concept' THEN ['supports','grounds','constrains','undercuts','negates']
               WHEN 'holding->holding' THEN ['supports','conflicts_with','specializes','constrains','undercuts']
               WHEN 'precedent->concept' THEN ['supports','grounds','establishes']
               WHEN 'precedent->holding' THEN ['supports']
               WHEN 'precedent->argument' THEN ['supports']
               WHEN 'precedent->issue' THEN ['addresses','supports']
               WHEN 'issue->concept' THEN ['requires','addresses']
               WHEN 'issue->holding' THEN ['addresses','requires']
               WHEN 'issue->argument' THEN ['addresses','requires']
               WHEN 'issue->precedent' THEN ['addresses']
               WHEN 'issue->issue' THEN ['specializes','conflicts_with','requires']
               ELSE CAST([] AS VARCHAR[]) END, x -> x = relation)) > 0 THEN 1 ELSE 0 END AS valid
         FROM typed ORDER BY doc_id""",

    "q39_quality_tier" ->
      // the computeTier thresholds (extractor.py:4832-4862) over the same
      // synthesized warning counts: the planted template per class is
      // constant, so error/substantive/cosmetic counts reduce to the doc_id
      // arithmetic (the string classifier itself runs on the Spark side)
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 8 AS INT) AS n_err,
             CAST((doc_id * 3) % 40 AS INT) AS n_sub,
             doc_id % 5 <> 0 AS h, doc_id % 6 <> 0 AS o, doc_id % 7 <> 0 AS c
           FROM documents)
         SELECT doc_id,
           CASE
             WHEN n_err = 0 AND n_sub <= 15 AND h AND o AND c THEN 'gold'
             WHEN n_err <= 2 AND n_sub <= 30 AND h AND o THEN 'silver'
             WHEN n_err <= 5 THEN 'bronze'
             ELSE 'reject' END AS tier
         FROM t ORDER BY doc_id""",

    "q40_actor_coerce" ->
      // normalize_actor_type + coerce_actor_type (extractor.py:431-563):
      // canon key, alias table, 10-value enum check, substring cascade in
      // the reference's branch order (court before amicus, authority before
      // appellant), third_party fallback
      """WITH planted AS (
           SELECT doc_id,
             (['Union of India','Govt','STATE','writ-petitioner','Plaintiff',
               'the appellate authority','Opposite  Party','convict','PP',
               'informant','Sessions Court','High Court','tribunal','amicus curiae',
               'expert witness','random person','Municipal Board','claiming party',
               'appellate','friend_of_court'])[CAST(doc_id % 20 AS INT) + 1] AS raw_actor
           FROM documents),
         n AS (
           SELECT doc_id, raw_actor,
             regexp_replace(replace(replace(lower(trim(raw_actor)), '-', '_'), ' ', '_'), '_+', '_', 'g') AS k
           FROM planted),
         a AS (
           SELECT doc_id, raw_actor,
             CASE k
               WHEN 'union' THEN 'respondent' WHEN 'uoi' THEN 'respondent'
               WHEN 'union_of_india' THEN 'respondent' WHEN 'government' THEN 'respondent'
               WHEN 'govt' THEN 'respondent' WHEN 'state' THEN 'respondent' WHEN 'states' THEN 'respondent'
               WHEN 'state_government' THEN 'respondent' WHEN 'central_government' THEN 'respondent'
               WHEN 'central_govt' THEN 'respondent' WHEN 'authority' THEN 'respondent'
               WHEN 'authorities' THEN 'respondent' WHEN 'department' THEN 'respondent'
               WHEN 'ministry' THEN 'respondent' WHEN 'corporation' THEN 'respondent'
               WHEN 'public_authority' THEN 'respondent'
               WHEN 'appellant' THEN 'appellant' WHEN 'petitioner' THEN 'petitioner'
               WHEN 'applicant' THEN 'petitioner' WHEN 'plaintiff' THEN 'petitioner'
               WHEN 'claimant' THEN 'petitioner' WHEN 'writ_petitioner' THEN 'petitioner'
               WHEN 'respondent' THEN 'respondent' WHEN 'defendant' THEN 'respondent'
               WHEN 'opposite_party' THEN 'respondent' WHEN 'opp_party' THEN 'respondent'
               WHEN 'accused' THEN 'accused' WHEN 'convict' THEN 'accused' WHEN 'prisoner' THEN 'accused'
               WHEN 'prosecution' THEN 'prosecution' WHEN 'public_prosecutor' THEN 'prosecution'
               WHEN 'pp' THEN 'prosecution' WHEN 'complainant' THEN 'complainant'
               WHEN 'informant' THEN 'complainant'
               WHEN 'court' THEN 'court' WHEN 'bench' THEN 'court' WHEN 'judge' THEN 'court'
               WHEN 'tribunal' THEN 'court' WHEN 'lower_court' THEN 'lower_court'
               WHEN 'high_court' THEN 'lower_court' WHEN 'trial_court' THEN 'lower_court'
               WHEN 'sessions_court' THEN 'lower_court' WHEN 'magistrate' THEN 'lower_court'
               WHEN 'appellate_authority' THEN 'lower_court'
               WHEN 'amicus' THEN 'amicus' WHEN 'amicus_curiae' THEN 'amicus'
               WHEN 'intervenor' THEN 'third_party' WHEN 'intervener' THEN 'third_party'
               WHEN 'third_party' THEN 'third_party' WHEN 'witness' THEN 'third_party'
               WHEN 'expert' THEN 'third_party'
               ELSE k END AS v
           FROM n)
         SELECT doc_id, raw_actor,
           CASE
             WHEN list_contains(['petitioner','respondent','court','lower_court','amicus',
               'third_party','appellant','complainant','accused','prosecution'], v) THEN v
             WHEN contains(v,'gov') OR contains(v,'union') OR contains(v,'state') OR contains(v,'ministry')
               OR contains(v,'department') OR contains(v,'authority') OR contains(v,'board')
               OR contains(v,'commission') OR contains(v,'corporation') OR contains(v,'municipal')
               OR contains(v,'council') OR contains(v,'committee') THEN 'respondent'
             WHEN contains(v,'petition') OR contains(v,'applic') OR contains(v,'plaintiff')
               OR contains(v,'claim') OR contains(v,'writ') THEN 'petitioner'
             WHEN contains(v,'appell') THEN 'appellant'
             WHEN contains(v,'respond') OR contains(v,'defend') OR contains(v,'opposite') THEN 'respondent'
             WHEN contains(v,'accuse') OR contains(v,'convict') OR contains(v,'prisoner') THEN 'accused'
             WHEN contains(v,'prosecu') OR contains(v,'public_prosecutor') THEN 'prosecution'
             WHEN contains(v,'complain') OR contains(v,'inform') THEN 'complainant'
             WHEN contains(v,'court') OR contains(v,'bench') OR contains(v,'judge') OR contains(v,'tribunal') THEN
               (CASE WHEN contains(v,'lower') OR contains(v,'trial') OR contains(v,'session')
                       OR contains(v,'magistrat') OR contains(v,'high_court') THEN 'lower_court'
                     ELSE 'court' END)
             WHEN contains(v,'amicus') OR contains(v,'friend_of_court') THEN 'amicus'
             ELSE 'third_party' END AS actor
         FROM a ORDER BY doc_id""",

    "q38_relation_coerce" ->
      // normalize (extractor.py:282-291) + alias map + 32-value enum check +
      // coercion cascade (extractor.py:294-329), all inline
      """WITH planted AS (
           SELECT doc_id,
             (['Supports','claim-satisfies','SATISFY','partial satisfies',
               'permits','contradicts','necessitates','answers the question',
               'determination','leads to','attack-mode','rebuttal',
               'undercutting','total nonsense','grounds','Follows',
               'supports  argument','conflict with','established','enables'])[CAST(doc_id % 20 AS INT) + 1] AS raw_relation
           FROM documents),
         n AS (
           SELECT doc_id, raw_relation,
             regexp_replace(replace(replace(lower(trim(raw_relation)), '-', '_'), ' ', '_'), '_+', '_', 'g') AS r0
           FROM planted),
         a AS (
           SELECT doc_id, raw_relation,
             CASE r0
               WHEN 'claim_satisfies' THEN 'claims_satisfies' WHEN 'claims_satisfy' THEN 'claims_satisfies'
               WHEN 'claims_satisfies_requirement' THEN 'claims_satisfies'
               WHEN 'satisfy' THEN 'satisfies' WHEN 'satisfies_requirement' THEN 'satisfies'
               WHEN 'satisfies_requirements' THEN 'satisfies' WHEN 'satisfies_req' THEN 'satisfies'
               WHEN 'partial_satisfies' THEN 'partially_satisfies'
               WHEN 'partially_satisfies_requirement' THEN 'partially_satisfies'
               WHEN 'establish' THEN 'establishes' WHEN 'established' THEN 'establishes'
               WHEN 'establishes_doctrine' THEN 'establishes'
               WHEN 'enable' THEN 'enables' WHEN 'enabling' THEN 'enables'
               WHEN 'permits' THEN 'enables' WHEN 'allows' THEN 'enables' WHEN 'facilitates' THEN 'enables'
               WHEN 'conflicts' THEN 'conflicts_with' WHEN 'conflict' THEN 'conflicts_with'
               WHEN 'conflict_with' THEN 'conflicts_with'
               WHEN 'respond_to' THEN 'responds_to' WHEN 'responds' THEN 'responds_to'
               WHEN 'support' THEN 'supports'
               WHEN 'supports_argument' THEN 'supports_arg' WHEN 'supportsarg' THEN 'supports_arg'
               WHEN 'attack' THEN 'attacks' WHEN 'undercut' THEN 'undercuts'
               WHEN 'rebut' THEN 'rebuts' WHEN 'ground' THEN 'grounds'
               WHEN 'address' THEN 'addresses' WHEN 'require' THEN 'requires'
               ELSE r0 END AS r
           FROM n)
         SELECT doc_id, raw_relation,
           CASE
             WHEN list_contains(['supports','grounds','rebuts','undercuts','attacks','supports_arg',
               'responds_to','concedes','addresses','resolves','partially_resolves',
               'determines','contributes_to','triggers','negates','satisfies',
               'partially_satisfies','claims_satisfies','requires','excludes',
               'specializes','conflicts_with','constrains','enables','establishes',
               'follows','applies','distinguishes','overrules','doubts','explains',
               'member_of'], r) THEN r
             WHEN contains(r, 'satisf') THEN (CASE WHEN contains(r, 'partial') THEN 'partially_satisfies' ELSE 'satisfies' END)
             WHEN contains(r, 'enable') OR contains(r, 'permit') OR contains(r, 'allow') THEN 'enables'
             WHEN contains(r, 'establish') THEN 'establishes'
             WHEN contains(r, 'conflict') OR contains(r, 'contradict') OR contains(r, 'inconsist') THEN 'conflicts_with'
             WHEN contains(r, 'require') OR contains(r, 'necess') THEN 'requires'
             WHEN contains(r, 'resolv') OR contains(r, 'answer') THEN 'resolves'
             WHEN contains(r, 'determin') THEN 'determines'
             WHEN contains(r, 'contribut') OR contains(r, 'cause') OR contains(r, 'lead') OR contains(r, 'result') THEN 'contributes_to'
             WHEN contains(r, 'attack') THEN 'attacks'
             WHEN contains(r, 'rebut') THEN 'rebuts'
             WHEN contains(r, 'undercut') THEN 'undercuts'
             ELSE 'supports' END AS relation
         FROM a ORDER BY doc_id""",

    "q37_reachability" ->
      // depth-capped recursive BFS: rows are (conv, node, depth) triples —
      // a node enters the result iff first reachable within 10 hops, the
      // same layer semantics as the iterative frontier anti-join
      """WITH RECURSIVE edges AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
                  'n' || CAST(o_orderkey % 20 AS VARCHAR) AS source,
                  'n' || CAST((o_orderkey * 7 + 3) % 20 AS VARCHAR) AS target
           FROM orders),
         reach(conv_id, id, depth) AS (
           SELECT conv_id, target, 1 FROM edges WHERE source = 'n0'
           UNION
           SELECT e.conv_id, e.target, r.depth + 1
           FROM reach r JOIN edges e ON r.conv_id = e.conv_id AND r.id = e.source
           WHERE r.depth < 10)
         SELECT DISTINCT conv_id, id FROM reach ORDER BY conv_id, id""",

    "q35_norm_hash" ->
      // whitespace-run collapse (no trim) — Java isWhitespace == RE2 \s on
      // this ASCII corpus
      """SELECT doc_id,
           md5(regexp_replace(text, '\s+', ' ', 'g')) AS norm_hash,
           length(regexp_replace(text, '\s+', ' ', 'g')) AS norm_len
         FROM documents ORDER BY doc_id""",

    "q36_turkish_fold" ->
      // İ→i / I→ı (+ the rest of the Turkish uppercase set) then standard
      // lowering — translate() before lower() exactly like the operator
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 2 = 0 THEN ' İSTANBUL IŞIK ŞÇÖÜĞ DAVASI' ELSE '' END ||
             CASE WHEN doc_id % 3 = 1 THEN ' ANAYASA MAHKEMESİ KARARI' ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           md5(lower(translate(text, 'İIŞÇÖÜĞ', 'iışçöüğ'))) AS folded_hash
         FROM planted ORDER BY doc_id""",

    "q33_negativity" ->
      // the 6 negation cues of Normalize.looksNegative, trailing spaces
      // significant, on the raw-lowered text (with the planted cue suffixes)
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 3 = 0 THEN ' the application was denied' ELSE '' END ||
             CASE WHEN doc_id % 4 = 1 THEN ' they failed to comply' ELSE '' END ||
             CASE WHEN doc_id % 7 = 2 THEN ' without notice' ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           CASE WHEN contains(lower(text), 'without ') OR contains(lower(text), 'no ')
                  OR contains(lower(text), 'not ') OR contains(lower(text), 'denied')
                  OR contains(lower(text), 'refused') OR contains(lower(text), 'failed to')
                THEN 1 ELSE 0 END AS is_negative
         FROM planted ORDER BY doc_id""",

    "q34_concept_score" ->
      // full _concept_match_score mirror (extractor.py:1216-1303): phrase
      // hits +5 each and establishing-case containment +8 on the
      // ws-collapsed lowered text; keyword overlaps capped at 4 — the
      // len>=4 / stopword filters on the doc side are redundant for the
      // intersection because every concept keyword already satisfies them
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 5 = 0 THEN ' fair opportunity to answer was denied before the hearing' ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN ' the legitimate aim and rational nexus test of proportionality' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0 THEN ' as held in maneka gandhi v. uoi (1978) a speaking order is required' ELSE '' END AS text
           FROM documents),
         t AS (
           SELECT doc_id,
             lower(regexp_replace(text, '\s+', ' ', 'g')) AS lownorm,
             list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS toks
           FROM planted)
         SELECT doc_id,
           5 * (contains(lownorm, 'no one shall be condemned unheard')::INT
              + contains(lownorm, 'fair opportunity to answer')::INT
              + contains(lownorm, 'speaking order')::INT)
           + 8 * (CASE WHEN contains(lownorm, 'maneka gandhi v. uoi (1978)')
                       OR contains(lownorm, 'a.k. kraipak v. uoi (1969)') THEN 1 ELSE 0 END)
           + least(4, len(list_intersect(toks, ['action','actions','administrative','adverse','alteram','answer','audi','before','challenge','conclusion','condemned','decision','difference','emergency','exclusion','fair','heard','hearing','judicial','justice','make','natural','notice','obvious','opportunity','order','partem','post','proposed','purely','quasi','reasonable','reasoned','speaking','statutory','subject','suffice','unheard','urgency'])))
           + least(4, len(list_intersect(toks, ['action','adverse','before','decision','fair','heard','hearing','notice','opportunity','order','proposed','reasonable','reasoned','speaking']))) AS score_audi,
           5 * (contains(lownorm, 'legitimate aim')::INT
              + contains(lownorm, 'rational nexus')::INT
              + contains(lownorm, 'least restrictive means')::INT
              + contains(lownorm, 'proportionality stricto sensu')::INT)
           + 8 * (CASE WHEN contains(lownorm, 'modern dental college v. state of mp (2016)')
                       OR contains(lownorm, 'k.s. puttaswamy i (2017)')
                       OR contains(lownorm, 'k.s. puttaswamy ii/aadhaar (2018)') THEN 1 ELSE 0 END)
           + least(4, len(list_intersect(toks, ['alternatives','available','disproportionate','four','impact','least','legitimate','less','means','nexus','prongs','proportionality','rational','restrictive','rights','sensu','stricto','test'])))
           + least(4, len(list_intersect(toks, ['four','prongs']))) AS score_prop
         FROM t ORDER BY doc_id""",

    "q67_echr_citations" ->
      // ECHR grammar mirror: same planted construction, each fired pattern
      // family replayed with its regex (RE2 \b + (?i) match the Java
      // semantics on this ASCII+digit text). Keep-longest overlap dedup
      // drops the bare-appno sub-hit inside every application-number span,
      // so bare hits are emitted only from the disjoint 'see nos.' plants.
      // Name-v-Name is CASE-SENSITIVE in the grammar (compiled without
      // flags) — the lowercase salad base can never fire it. case_year =
      // first \b(19|20)\d\d\b in the citation (extractYear).
      """WITH planted AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0 THEN ' Application no. ' || (10000 + doc_id % 50000)::VARCHAR || '/' || (90 + doc_id % 10)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' see nos. ' || (1000 + doc_id % 9000)::VARCHAR || '/' || (10 + doc_id % 90)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 4 = 0 THEN ' Series A no. ' || (1 + doc_id % 400)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN ' ECHR ' || (1999 + doc_id % 20)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 6 = 1 THEN ' ' || ['Kudla','Osman','Airey','Soering','Tyrer'][CAST(doc_id % 5 AS INT) + 1] || ' v. ' || ['Poland','Turkey','Ireland','Germany','France'][CAST(doc_id % 5 AS INT) + 1] ELSE '' END AS text
           FROM documents),
         hits AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\bapplication\s+nos?\.?\s+\d{1,6}/\d{2,4}(?:\s+and\s+\d{1,6}/\d{2,4})*')) AS citation,
             'echr_appno' AS citation_type FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)see\s+(nos?\.?\s+\d{1,6}/\d{2,4})', 1)),
             'echr_bare_appno' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:series\s+a\s+no\.?\s*\d+|reports?\s+(?:of\s+judgments\s+and\s+decisions\s+)?\d{4}(?:-[IVXLCDM]+)?)')),
             'echr_series' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\bECHR\s+\d{4}(?:\s*-\s*[IVXLCDM]+)?(?:\s*\(extracts?\))?')),
             'echr_report' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '[A-Z][A-Za-z\-]+\s+v\.?\s+(?:the\s+)?[A-Z][A-Za-z\-]+(?:\s+[A-Z][A-Za-z\-]+)*')),
             'echr_case_v' FROM planted)
         SELECT doc_id, trim(citation) AS citation, citation_type,
           CAST(NULLIF(regexp_extract(citation, '\b((?:19|20)\d{2})\b', 1), '') AS INT) AS case_year
         FROM hits
         ORDER BY doc_id, citation_type, citation""",

    "q68_turkish_citations" ->
      // Turkish grammar mirror: same planted construction; the enclosing
      // AYM / Yargıtay spans are emitted and their contained tr_esas /
      // tr_karar sub-hits dropped (keep-longest dedup). Every TR pattern
      // needs a digit or a Turkish literal — the salad base has neither, so
      // only planted spans fire, and they are pairwise disjoint.
      """WITH planted AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0 THEN ' AYM, E. ' || (2010 + doc_id % 10)::VARCHAR || '/' || (1 + doc_id % 200)::VARCHAR || ', K. ' || (2011 + doc_id % 10)::VARCHAR || '/' || (1 + doc_id % 300)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 4 = 1 THEN ' ' || (1000 + doc_id % 9000)::VARCHAR || ' sayılı Kanun' ELSE '' END ||
             CASE WHEN doc_id % 5 = 2 THEN ' Başvuru no. ' || (2014 + doc_id % 6)::VARCHAR || '/' || (1 + doc_id % 999)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 7 = 3 THEN ' Yargıtay ' || (1 + doc_id % 23)::VARCHAR || '. Ceza Dairesi, E. ' || (2005 + doc_id % 15)::VARCHAR || '/' || (1 + doc_id % 500)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 6 = 4 THEN ' R.G. ' || (1 + doc_id % 28)::VARCHAR || '.' || (1 + doc_id % 12)::VARCHAR || '.' || (1995 + doc_id % 20)::VARCHAR ELSE '' END AS text
           FROM documents),
         hits AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:AYM|Anayasa\s+Mahkemesi)\s*[,;]?\s*E\.?\s*\d{4}/\d+\s*[,;]\s*K\.?\s*\d{4}/\d+')) AS citation,
             'tr_aym' AS citation_type FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b\d{3,5}\s+say[ıi]l[ıi]\s+(?:Kanun|(?:T\.?)?(?:C\.?)?K\.?|HMK|CMK|TMK|TTK|[A-ZÇĞİÖŞÜ]{2,5})')),
             'tr_kanun' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:[Bb]a[şs]vuru\s+(?:numaras[ıi]|[Nn]o\.?))\s*[,:;]?\s*\d{4}/\d+')),
             'tr_basvuru' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\bYarg[ıi]tay\s+(?:\d+\.\s*)?(?:Ceza|Hukuk|Daire)\s*(?:si|Dairesi)?\s*[,;]?\s*(?:E\.?\s*\d{4}/\d+)?')),
             'tr_yargitay' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:Resm[iî]\s+Gazete|R\.?\s*G\.?)\s*[,:;]?\s*(?:tarih|say[ıi])?\s*[,:;]?\s*\d+[./]\d+[./]?\d*')),
             'tr_resmi_gazete' FROM planted)
         SELECT doc_id, trim(citation) AS citation, citation_type,
           CAST(NULLIF(regexp_extract(citation, '\b((?:19|20)\d{2})\b', 1), '') AS INT) AS case_year
         FROM hits
         ORDER BY doc_id, citation_type, citation""",

    "q69_segment_offsets" ->
      // closed-form segmentation replay: the same doc construction (word +
      // ' pad'×k + '.' sentences, ' ' joins, '\n\n' paragraph separators)
      // re-derived with window sums. Sentence end_char includes the
      // inter-sentence space except for the paragraph's last sentence
      // (Segmenter reports the raw split span, trimmed text).
      """WITH ps AS (
           SELECT d.doc_id, pp.p, ss.s
           FROM documents d,
                (SELECT unnest([0,1,2]) AS p) pp,
                (SELECT unnest([0,1,2]) AS s) ss
           WHERE pp.p <= d.doc_id % 3 AND ss.s <= (d.doc_id + pp.p) % 3),
         sen AS (
           SELECT doc_id, p, s,
             ['Alpha','Beta','Gamma','Delta','Epsilon'][CAST((doc_id + 2*p + 3*s) % 5 AS INT) + 1]
               || repeat(' pad', CAST((doc_id + p + s) % 3 AS INT)) || '.' AS stext
           FROM ps),
         sl AS (
           SELECT doc_id, p, s, stext, length(stext) AS slen,
             COALESCE(sum(length(stext) + 1) OVER (PARTITION BY doc_id, p ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
             count(*) OVER (PARTITION BY doc_id, p) AS n_s
           FROM sen),
         pl AS (
           SELECT doc_id, p, sum(slen) + count(*) - 1 AS plen,
             string_agg(stext, ' ' ORDER BY s) AS ptext
           FROM sl GROUP BY doc_id, p),
         po AS (
           SELECT doc_id, p, plen, ptext,
             COALESCE(sum(plen + 2) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pstart
           FROM pl),
         segs AS (
           SELECT doc_id, p AS para_idx, -1 AS sent_idx, pstart AS start_char,
             pstart + plen AS end_char, ptext AS seg_text
           FROM po
           UNION ALL
           SELECT sl.doc_id, sl.p, sl.s,
             po.pstart + sl.cum,
             po.pstart + CASE WHEN sl.s < sl.n_s - 1 THEN sl.cum + sl.slen + 1 ELSE po.plen END,
             sl.stext
           FROM sl JOIN po ON sl.doc_id = po.doc_id AND sl.p = po.p)
         SELECT doc_id, CAST(para_idx AS INT) AS para_idx,
           CAST(sent_idx AS INT) AS sent_idx, CAST(start_char AS INT) AS start_char,
           CAST(end_char AS INT) AS end_char, seg_text
         FROM segs ORDER BY doc_id, para_idx, sent_idx""",

    "q70_cluster_argmax" ->
      // full _assign_by_score mirror: conceptMatchScoreFast per ontology
      // candidate (q34's formula: +5 per contained key phrase, +8 any
      // establishing case, keyword overlaps capped at 4), plain keyword
      // overlap vs keywordSet(cid + ' ' + label) per pseudo candidate, then
      // the FIRST strict-'>' argmax in candidate order, NULL below
      // min_score. Short/stopword tokens can't appear in any candidate
      // keyword list, so the unfiltered token intersection is exact.
      """WITH t AS (
           SELECT doc_id, CAST(2 + doc_id % 2 AS INT) AS min_score,
             ['fair opportunity to answer was denied before the hearing',
              'the proportionality test requires a rational nexus to a legitimate aim',
              'speedy trial guarantee was invoked by the accused person',
              'land acquisition compensation award challenged in appeal',
              'completely unrelated filler words about nothing relevant here',
              'speaking order with reasons after fair hearing notice',
              'land acquisition compensation award with speedy trial guarantee'
             ][CAST(doc_id % 7 AS INT) + 1] AS text
           FROM documents),
         n AS (
           SELECT doc_id, min_score,
             lower(regexp_replace(text, '\s+', ' ', 'g')) AS lownorm,
             list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS toks
           FROM t),
         sc AS (
           SELECT doc_id, min_score,
             5 * (contains(lownorm, 'no one shall be condemned unheard')::INT
                + contains(lownorm, 'fair opportunity to answer')::INT
                + contains(lownorm, 'speaking order')::INT)
             + 8 * (CASE WHEN contains(lownorm, 'maneka gandhi v. uoi (1978)')
                         OR contains(lownorm, 'a.k. kraipak v. uoi (1969)') THEN 1 ELSE 0 END)
             + least(4, len(list_intersect(toks, ['action','actions','administrative','adverse','alteram','answer','audi','before','challenge','conclusion','condemned','decision','difference','emergency','exclusion','fair','heard','hearing','judicial','justice','make','natural','notice','obvious','opportunity','order','partem','post','proposed','purely','quasi','reasonable','reasoned','speaking','statutory','subject','suffice','unheard','urgency'])))
             + least(4, len(list_intersect(toks, ['action','adverse','before','decision','fair','heard','hearing','notice','opportunity','order','proposed','reasonable','reasoned','speaking']))) AS s_audi,
             5 * (contains(lownorm, 'legitimate aim')::INT
                + contains(lownorm, 'rational nexus')::INT
                + contains(lownorm, 'least restrictive means')::INT
                + contains(lownorm, 'proportionality stricto sensu')::INT)
             + 8 * (CASE WHEN contains(lownorm, 'modern dental college v. state of mp (2016)')
                         OR contains(lownorm, 'k.s. puttaswamy i (2017)')
                         OR contains(lownorm, 'k.s. puttaswamy ii/aadhaar (2018)') THEN 1 ELSE 0 END)
             + least(4, len(list_intersect(toks, ['alternatives','available','disproportionate','four','impact','least','legitimate','less','means','nexus','prongs','proportionality','rational','restrictive','rights','sensu','stricto','test'])))
             + least(4, len(list_intersect(toks, ['four','prongs']))) AS s_prop,
             len(list_intersect(toks, ['speedy','trial','guarantee'])) AS s_p1,
             len(list_intersect(toks, ['land','acquisition','compensation','award'])) AS s_p2
           FROM n)
         SELECT doc_id, min_score,
           CASE WHEN greatest(s_audi, s_prop, s_p1, s_p2) >= min_score THEN
             CASE WHEN s_audi = greatest(s_audi, s_prop, s_p1, s_p2) THEN 'DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM'
                  WHEN s_prop = greatest(s_audi, s_prop, s_p1, s_p2) THEN 'DOCTRINE_PROPORTIONALITY_TEST'
                  WHEN s_p1 = greatest(s_audi, s_prop, s_p1, s_p2) THEN 'PSEUDO_SPEEDY_TRIAL'
                  ELSE 'PSEUDO_LAND_ACQUISITION' END
           END AS best_cluster
         FROM sc ORDER BY doc_id""",

    "q72_anchor_repair" ->
      // make_anchor mirror over the q69 closed-form document: variant 0
      // passes the last sentence's trimmed span through; variants 1 and 3
      // repair onto the first sentence's span [0, len) via quote alignment
      // (the quote IS the document prefix, so alignment lands at 0 in both
      // the ws-collapsed and original texts); variants 2 and 4 return NULL.
      // hash = sha256(span text) first 16 hex; display = containing
      // sentence's para:sent.
      """WITH ps AS (
           SELECT d.doc_id, pp.p, ss.s
           FROM documents d,
                (SELECT unnest([0,1,2]) AS p) pp,
                (SELECT unnest([0,1,2]) AS s) ss
           WHERE pp.p <= d.doc_id % 3 AND ss.s <= (d.doc_id + pp.p) % 3),
         sen AS (
           SELECT doc_id, p, s,
             ['Alpha','Beta','Gamma','Delta','Epsilon'][CAST((doc_id + 2*p + 3*s) % 5 AS INT) + 1]
               || repeat(' pad', CAST((doc_id + p + s) % 3 AS INT)) || '.' AS stext
           FROM ps),
         sl AS (
           SELECT doc_id, p, s, stext, length(stext) AS slen,
             COALESCE(sum(length(stext) + 1) OVER (PARTITION BY doc_id, p ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
             count(*) OVER (PARTITION BY doc_id, p) AS n_s
           FROM sen),
         pl AS (
           SELECT doc_id, p, sum(slen) + count(*) - 1 AS plen
           FROM sl GROUP BY doc_id, p),
         po AS (
           SELECT doc_id, p, plen,
             COALESCE(sum(plen + 2) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pstart
           FROM pl),
         s00 AS (SELECT doc_id, stext AS q, slen AS qlen FROM sl WHERE p = 0 AND s = 0),
         lasts AS (
           SELECT sl.doc_id, po.pstart + sl.cum AS lstart, sl.slen AS llen,
             sl.stext AS ltext, sl.p AS lp, sl.s AS ls
           FROM sl JOIN po ON sl.doc_id = po.doc_id AND sl.p = po.p
           WHERE sl.s = sl.n_s - 1
             AND sl.p = (SELECT max(p2.p) FROM po p2 WHERE p2.doc_id = sl.doc_id)),
         v AS (
           SELECT d.doc_id, CAST(d.doc_id % 5 AS INT) AS variant,
             s00.q, s00.qlen, lasts.lstart, lasts.llen, lasts.ltext, lasts.lp, lasts.ls
           FROM documents d
           JOIN s00 ON d.doc_id = s00.doc_id
           JOIN lasts ON d.doc_id = lasts.doc_id)
         SELECT doc_id, variant,
           CASE WHEN variant = 0 THEN CAST(lstart AS INT)
                WHEN variant IN (1, 3) THEN 0 END AS start_char,
           CASE WHEN variant = 0 THEN CAST(lstart + llen AS INT)
                WHEN variant IN (1, 3) THEN CAST(qlen AS INT) END AS end_char,
           CASE WHEN variant = 0 THEN substr(sha256(ltext), 1, 16)
                WHEN variant IN (1, 3) THEN substr(sha256(q), 1, 16) END AS text_hash,
           CASE WHEN variant = 0 THEN lp::VARCHAR || ':' || ls::VARCHAR
                WHEN variant IN (1, 3) THEN '0:0' END AS display_loc,
           CASE WHEN variant = 0 THEN ltext
                WHEN variant IN (1, 3) THEN q END AS surface
         FROM v ORDER BY doc_id""",

    "q73_repair_score" ->
      // candidate-scoring mirror: planted overlap is closed-form (ov shared
      // keywords by construction; the distractor stop/short/uppercase tokens
      // must be dropped by the real tokenizer for the counts to match),
      // proximity tier from the planted anchor mids, type bonus per variant
      // gated on the (doc_id/7)%2 flag, minScore=2.0 gate applied BEFORE the
      // +0.5 connected bonus, relation + direction constants per variant
      // from the published default-relation table and matrix membership
      // (variant 4 is the reversed concept<-fact direction; variant 5 has no
      // matrix entry either way and must yield NULL).
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 6 AS INT) AS v,
             CAST(doc_id % 4 AS INT) AS ov,
             CAST((doc_id // 5) % 5 AS INT) AS m,
             CAST((doc_id // 7) % 2 AS INT) AS f,
             (doc_id % 2 = 0) AS conn
           FROM documents),
         b AS (
           SELECT doc_id, v, ov, conn,
             ov + [2.0, 1.0, 0.5, 0.0, 0.0][m + 1] +
             CASE WHEN f = 1 THEN
               CASE v WHEN 0 THEN 1.5 WHEN 1 THEN 1.0 WHEN 2 THEN 1.0
                      WHEN 3 THEN 0.5 ELSE 0.0 END
             ELSE 0.0 END AS base
           FROM t)
         SELECT doc_id, v AS variant, ov,
           CASE WHEN v <> 5 AND ov > 0 AND base >= 2.0
                THEN base + CASE WHEN conn THEN 0.5 ELSE 0.0 END
           END AS score,
           CASE WHEN v <> 5 AND ov > 0 AND base >= 2.0 THEN
             ['addresses', 'supports', 'supports', 'grounds', 'triggers'][v + 1]
           END AS relation,
           CASE WHEN v <> 5 AND ov > 0 AND base >= 2.0 THEN
             CASE WHEN v = 4 THEN 'cand' ELSE 'orphan' END
           END AS src
         FROM b ORDER BY doc_id""",

    "q74_justification_sets" ->
      // JS-builder mirror: per doc up to three sets. h1's primary exists
      // only with support edges; its logic/label come from the picked
      // cluster (requires-wins / size-wins / tie-keeps-first / none), with
      // unknown logic coerced to 'and'; the defeater set requires support
      // AND undercut, is always 'or'/medium/non-primary, and labels off the
      // primary's label (falling back to the holding id). h2's primary
      // takes the next js counter value, which depends on how many sets h1
      // emitted. Member lists are closed-form from the planted edge ids.
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 3 AS INT) AS s,
             CAST((doc_id // 3) % 2 AS INT) AS u,
             CAST((doc_id // 6) % 4 AS INT) AS cv,
             CAST((doc_id // 24) % 3 AS INT) AS lg
           FROM documents),
         l AS (
           SELECT *,
             CASE WHEN cv < 3 THEN
               (CASE WHEN cv = 2 THEN 'Alpha' ELSE 'Beta' END) || ' support'
             END AS plabel,
             CASE WHEN cv < 3 AND lg = 1 THEN 'or' ELSE 'and' END AS plogic
           FROM t)
         SELECT doc_id, 'js1' AS js_id, 'h1' AS target, plogic AS logic,
                plabel AS label, TRUE AS is_primary, 'high' AS confidence,
                CASE WHEN s = 2 THEN 'es1,es2' ELSE 'es1' END AS members
           FROM l WHERE s > 0
         UNION ALL
         SELECT doc_id, 'js2', 'h1', 'or',
                coalesce(plabel, 'h1') || ' defeaters', FALSE, 'medium', 'eu1'
           FROM l WHERE s > 0 AND u = 1
         UNION ALL
         SELECT doc_id,
                'js' || CAST(1 + CASE WHEN s > 0 THEN 1 ELSE 0 END
                  + CASE WHEN s > 0 AND u = 1 THEN 1 ELSE 0 END AS VARCHAR),
                'h2', 'and', NULL, TRUE, 'high', 'eh2'
           FROM l
         ORDER BY doc_id, js_id""",

    "q75_cluster_edges" ->
      // gate + fan-out mirror: candidate member rows carry their emission
      // rank and presence threshold (f2/a2 plant before f1/a1, so singleton
      // counts keep the LATER id — the sort the operator must apply);
      // relations flip wholesale between the holding and issue branches;
      // the e_<tag>_<n> ids use independently computed hashlib sha1[:8]
      // constants for the four planted cluster ids.
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 2 AS INT) AS nh,
             CAST((doc_id // 2) % 2 AS INT) AS ni,
             CAST((doc_id // 4) % 3 AS INT) AS nf,
             CAST((doc_id // 12) % 2 AS INT) AS nc,
             CAST((doc_id // 24) % 3 AS INT) AS na,
             CAST((doc_id // 72) % 2 AS INT) AS np,
             ['f548dfc3', '66150d55', '24a99267', '99342126']
               [CAST(doc_id % 4 AS INT) + 1] AS tag
           FROM documents),
         g AS (
           SELECT * FROM t
           WHERE nh + ni + nf + nc + na + np >= 2
             AND (nh = 1 OR ni = 1 OR na >= 2)
             AND (nh = 1 OR ni = 1)),
         cand AS (
           SELECT * FROM (VALUES
             (1, 'f1', 'f', 2), (2, 'f2', 'f', 1), (3, 'c1', 'c', 1),
             (4, 'a1', 'a', 2), (5, 'a2', 'a', 1), (6, 'p1', 'p', 1))
             AS v(rk, src, typ, minn)),
         e AS (
           SELECT g.doc_id, g.tag, c.rk, c.src,
             CASE WHEN g.nh = 1 THEN 'h1' ELSE 'i1' END AS tgt,
             CASE WHEN g.nh = 1 THEN
               CASE WHEN c.typ = 'c' THEN 'grounds' ELSE 'supports' END
             ELSE
               CASE WHEN c.typ = 'f' THEN 'triggers' ELSE 'addresses' END
             END AS rel
           FROM g JOIN cand c ON
             (c.typ = 'f' AND g.nf >= c.minn) OR
             (c.typ = 'c' AND g.nc >= c.minn) OR
             (c.typ = 'a' AND g.na >= c.minn) OR
             (c.typ = 'p' AND g.np >= c.minn))
         SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY rk) AS seq,
           'e_' || tag || '_' || CAST(row_number() OVER
             (PARTITION BY doc_id ORDER BY rk) AS VARCHAR) AS edge_id,
           src, tgt, rel
         FROM e ORDER BY doc_id, seq""",

    "q76_reasoning_chains" ->
      // chain mirror: expected lists/narratives hand-derived from the
      // reference BFS (in-edges in edge-list order, structural relations
      // skipped but cycle edges recorded, first-seen dedup, critical =
      // sources of is_critical edges) and pinned per planted topology
      // variant. v3 emits two chains (the i9-resolving holding none);
      // a missing primaryJsFor entry is NULL, empty lists are ''.
      """WITH t AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS v FROM documents)
         SELECT doc_id, 'rc_i1_h1' AS chain_id, 'i1' AS issue_id,
                'h1' AS holding_id, 'f1' AS facts, 'c1' AS concepts,
                'a1' AS arguments, 'e1,e2,e3,e4' AS edge_ids,
                'jsA' AS primary_js, 'f1' AS critical,
                'Issue i1 resolved by holding h1. Facts: f1. Concepts: c1. Arguments: a1.' AS narrative
           FROM t WHERE v = 0
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', 'f1', '', 'a1', 'e1,e3,e2',
                'jsA', '',
                'Issue i1 resolved by holding h1. Facts: f1. Arguments: a1.'
           FROM t WHERE v = 1
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', 'f1', '', '', 'e2,e3',
                'jsA', '',
                'Issue i1 resolved by holding h1. Facts: f1.'
           FROM t WHERE v = 2
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', 'f1', '', '', 'e1',
                'js1', '',
                'Issue i1 resolved by holding h1. Facts: f1.'
           FROM t WHERE v = 3
         UNION ALL
         SELECT doc_id, 'rc_i2_h2', 'i2', 'h2', '', 'c1', '', 'e2',
                NULL, '',
                'Issue i2 resolved by holding h2. Concepts: c1.'
           FROM t WHERE v = 3
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', '', '', '', '', NULL, '',
                'Issue i1 resolved by holding h1.'
           FROM t WHERE v = 4
         ORDER BY doc_id, chain_id""",

    "q77_repair_engine" ->
      // full-loop mirror: hand-derived constants. Edge 1 = a1->i9 (overlap 3
      // + proximity tier by m + claim bonus 1.5; the 3.0-scoring runner-up
      // is cut by the 3.5 threshold); edges 2-3 = c2's two repairs, both
      // 3.5 = overlap 3 + the +0.5 bonus EARNED BY a1's repair connecting
      // a1/i9 (gate passes on 3.0 before the bonus); edge 4 = i9->h8 2.5
      // after its two better candidates are skipped as already-connected
      // pairs. Ids shift by one when the planted existing edge occupies
      // e_repair_1 (the counter's skip loop). Exact explanation strings
      // (%.1f score + id-derived type names) and per-orphan warnings pinned.
      """WITH t AS (SELECT doc_id,
             CAST(doc_id % 3 AS INT) AS m,
             CAST(doc_id % 2 AS INT) AS f
           FROM documents)
         SELECT doc_id, 'edge' AS kind, CAST(1 AS BIGINT) AS seq,
                'e_repair_' || CAST(1 + f AS VARCHAR) AS edge_id,
                'a1' AS source, 'i9' AS target, 'addresses' AS relation,
                'moderate' AS strength,
                'Orphan repair: score=' || ['6.5', '5.5', '5.0'][m + 1] ||
                  ', argument->issue' AS explanation
           FROM t
         UNION ALL
         SELECT doc_id, 'edge', 2, 'e_repair_' || CAST(2 + f AS VARCHAR),
                'c2', 'a1', 'supports', 'weak',
                'Orphan repair: score=3.5, concept->argument' FROM t
         UNION ALL
         SELECT doc_id, 'edge', 3, 'e_repair_' || CAST(3 + f AS VARCHAR),
                'c2', 'i9', 'addresses', 'weak',
                'Orphan repair: score=3.5, concept->issue' FROM t
         UNION ALL
         SELECT doc_id, 'edge', 4, 'e_repair_' || CAST(4 + f AS VARCHAR),
                'i9', 'h8', 'addresses', 'weak',
                'Orphan repair: score=2.5, issue->holding' FROM t
         UNION ALL
         SELECT doc_id, 'warn', 101, NULL, NULL, NULL, NULL, NULL,
                'orphan a1 repaired with 1 edge(s)' FROM t
         UNION ALL
         SELECT doc_id, 'warn', 102, NULL, NULL, NULL, NULL, NULL,
                'orphan c2 repaired with 2 edge(s)' FROM t
         UNION ALL
         SELECT doc_id, 'warn', 103, NULL, NULL, NULL, NULL, NULL,
                'orphan i9 repaired with 1 edge(s)' FROM t
         ORDER BY doc_id, kind, seq""",

    "q78_knn_predict" ->
      // vote-method mirror: majority = labeled mean (the label-less third
      // neighbor shrinks the denominator); weighted/decay = label-weighted
      // similarity ratios with the decay ranks fixed by neighbor POSITION
      // (the label-less neighbor still occupies rank 2); both fall back to
      // (pred 0, prob 0.5) at zero total weight; family aggregation sums
      // planted per-family IDF weights by label. wjac/ccos reduce to
      // closed-form: 0.45/(2.75+zv) and p1*q2 over the planted norms with
      // the zero-magnitude-as-1 rule.
      """WITH t AS (SELECT doc_id,
             (CAST(doc_id % 5 AS INT)) / 4.0 AS s1,
             CAST(doc_id % 2 AS INT) AS l1,
             (CAST((doc_id // 5) % 4 AS INT)) / 4.0 AS s2,
             CAST((doc_id // 2) % 2 AS INT) AS l2,
             CAST((doc_id // 7) % 2 AS INT) AS no3,
             CAST((doc_id // 3) % 2 AS INT) AS a2,
             CAST(doc_id % 3 AS INT) AS zv,
             CAST(doc_id % 3 AS INT) AS p1,
             CAST((doc_id // 3) % 3 AS INT) AS q2
           FROM documents),
         m AS (SELECT *,
             CAST(l1 + l2 + (1 - no3) AS DOUBLE) / (2 + (1 - no3)) AS prob_mv,
             l1*s1 + l2*s2 + (1 - no3)*0.6 AS wa_wv,
             (1-l1)*s1 + (1-l2)*s2 AS wr_wv,
             l1*s1 + l2*s2*exp(-0.3) + (1 - no3)*0.6*exp(-0.6) AS wa_dd,
             (1-l1)*s1 + (1-l2)*s2*exp(-0.3) AS wr_dd,
             l1*2.0 + l2*(CASE WHEN a2 = 0 THEN 2.5 ELSE 0.5 END) AS ta_fc,
             (1-l1)*2.0 + (1-l2)*(CASE WHEN a2 = 0 THEN 2.5 ELSE 0.5 END) AS tr_fc
           FROM t)
         SELECT doc_id,
           CASE WHEN prob_mv >= 0.5 THEN 1 ELSE 0 END AS pred_mv, prob_mv,
           CASE WHEN wa_wv + wr_wv = 0 THEN 0
                WHEN wa_wv / (wa_wv + wr_wv) >= 0.5 THEN 1 ELSE 0
             END AS pred_wv,
           CASE WHEN wa_wv + wr_wv = 0 THEN 0.5
                ELSE wa_wv / (wa_wv + wr_wv) END AS prob_wv,
           CASE WHEN wa_dd + wr_dd = 0 THEN 0
                WHEN wa_dd / (wa_dd + wr_dd) >= 0.5 THEN 1 ELSE 0
             END AS pred_dd,
           CASE WHEN wa_dd + wr_dd = 0 THEN 0.5
                ELSE wa_dd / (wa_dd + wr_dd) END AS prob_dd,
           CASE WHEN ta_fc / (ta_fc + tr_fc) >= 0.5 THEN 1 ELSE 0
             END AS pred_fc,
           ta_fc / (ta_fc + tr_fc) AS prob_fc,
           0.45 / (2.75 + zv) AS wjac,
           CASE WHEN p1 = 0 THEN 0.0
                ELSE (p1 * q2) / (p1 * sqrt(2.0) * sqrt(q2*q2 + 1.0))
             END AS ccos
         FROM m ORDER BY doc_id""",

    "q79_blinding" ->
      // expected strings pinned from an INDEPENDENT Python replica of the
      // published blinding logic (scripts pattern; /tmp/derive_q79.py run
      // offline): variant 0 = clean 42.5%-prefix truncation + last-period
      // trim keeps 3 sentences; variant 1 = outcome sentence dropped by the
      // blinder AND flagged once by the sanity check (ctx window pinned);
      // variant 2 = court-reasoning sentence dropped by blinder and fact
      // scrubber; variant 3 = HEADNOTE prefix stripped only in the blind.
      """WITH k AS (SELECT
             'The parties entered into a lease agreement in the year of ' ||
             'grace. The property is situated in the northern district ' ||
             'of the town.' AS b2,
             'The parties entered into a lease agreement in the year of ' ||
             'grace. The property is situated in the northern district ' ||
             'of the town. A notice was served on the tenant in the ' ||
             'month of March.' AS b3,
             ' The rent was paid by cheque on the first day of every ' ||
             'month. The landlord issued several receipts for the ' ||
             'amounts received there. The premises were used for a ' ||
             'retail shop during the whole period. Repairs to the roof ' ||
             'were carried out at the cost of the tenant. The ' ||
             'electricity meter was installed in the name of the ' ||
             'original owner.' AS rest)
         SELECT d.doc_id, CAST(d.doc_id % 4 AS INT) AS v,
           CASE CAST(d.doc_id % 4 AS INT)
             WHEN 2 THEN k.b2
             WHEN 3 THEN 'short summary here' || chr(10) || k.b3
             ELSE k.b3 END AS blind,
           CASE CAST(d.doc_id % 4 AS INT)
             WHEN 3 THEN 'HEADNOTE: short summary here' || chr(10) ||
                         k.b3 || k.rest
             ELSE k.b3 || k.rest END AS scrub,
           CASE WHEN d.doc_id % 4 = 1 THEN 1 ELSE 0 END AS sanity_n,
           CASE WHEN d.doc_id % 4 = 1
             THEN '  [k1] raw: ... year of grace. The appeal is ' ||
                  'dismissed. The property is situated in ...'
             ELSE NULL END AS sanity_first
         FROM documents d, k ORDER BY d.doc_id""",

    "q80_confidence_sweep" ->
      // expected values pinned from the PUBLISHED eval_confidence_sweep.py
      // functions run over the same planted case sets offline
      // (scripts/gen_confidence_oracle.py regenerates this block)
      """SELECT doc_id, CAST(doc_id % 8 AS INT) AS v,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.5
             WHEN 1 THEN 0.5
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.6667
             WHEN 4 THEN 0.6667
             WHEN 5 THEN 0.6667
             WHEN 6 THEN 0.5
             WHEN 7 THEN 0.5
             END AS cov70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 3
             WHEN 1 THEN 3
             WHEN 2 THEN 3
             WHEN 3 THEN 4
             WHEN 4 THEN 4
             WHEN 5 THEN 4
             WHEN 6 THEN 3
             WHEN 7 THEN 3
             END AS nacc70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 1.0
             WHEN 1 THEN 0.6667
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.5
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.75
             WHEN 6 THEN 0.6667
             WHEN 7 THEN 1.0
             END AS acc70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 1.0
             WHEN 1 THEN 1.0
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.0
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.6667
             WHEN 6 THEN 0.0
             WHEN 7 THEN 1.0
             END AS acca70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 1.0
             WHEN 1 THEN 0.5
             WHEN 2 THEN 0.0
             WHEN 3 THEN 0.6667
             WHEN 4 THEN 0.5
             WHEN 5 THEN 1.0
             WHEN 6 THEN 0.6667
             WHEN 7 THEN 1.0
             END AS accr70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.7305
             WHEN 1 THEN 0.6416
             WHEN 2 THEN 0.5166
             WHEN 3 THEN 0.5166
             WHEN 4 THEN 0.3778
             WHEN 5 THEN 0.5916
             WHEN 6 THEN 0.475
             WHEN 7 THEN 0.7305
             END AS auacc_g,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.205
             WHEN 1 THEN 0.1717
             WHEN 2 THEN 0.3683
             WHEN 3 THEN 0.3683
             WHEN 4 THEN 0.4033
             WHEN 5 THEN 0.2517
             WHEN 6 THEN 0.2867
             WHEN 7 THEN 0.205
             END AS g_ece,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.4817
             WHEN 1 THEN 0.3217
             WHEN 2 THEN 0.4817
             WHEN 3 THEN 0.3217
             WHEN 4 THEN 0.4817
             WHEN 5 THEN 0.3217
             WHEN 6 THEN 0.4817
             WHEN 7 THEN 0.3217
             END AS r_ece,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.1608
             WHEN 1 THEN 0.2114
             WHEN 2 THEN 0.2604
             WHEN 3 THEN 0.2686
             WHEN 4 THEN 0.3257
             WHEN 5 THEN 0.2179
             WHEN 6 THEN 0.2718
             WHEN 7 THEN 0.1608
             END AS g_brier,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.2966
             WHEN 1 THEN 0.1366
             WHEN 2 THEN 0.2966
             WHEN 3 THEN 0.1366
             WHEN 4 THEN 0.2966
             WHEN 5 THEN 0.1366
             WHEN 6 THEN 0.2966
             WHEN 7 THEN 0.1366
             END AS r_brier,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.6667
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.8333
             WHEN 4 THEN 1.0
             WHEN 5 THEN 0.8333
             WHEN 6 THEN 0.8333
             WHEN 7 THEN 0.8333
             END AS hyb_cov,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.75
             WHEN 1 THEN 1.0
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.8
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.8
             WHEN 6 THEN 0.6
             WHEN 7 THEN 1.0
             END AS hyb_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6124
             WHEN 1 THEN 0.8165
             WHEN 2 THEN 0.4083
             WHEN 3 THEN 0.7303
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.7303
             WHEN 6 THEN 0.5477
             WHEN 7 THEN 0.9129
             END AS hyb_score,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.8333
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.8333
             WHEN 4 THEN 0.8333
             WHEN 5 THEN 0.6667
             WHEN 6 THEN 0.8333
             WHEN 7 THEN 0.8333
             END AS ens_cov,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.75
             WHEN 1 THEN 0.8
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.8
             WHEN 4 THEN 0.4
             WHEN 5 THEN 0.75
             WHEN 6 THEN 0.6
             WHEN 7 THEN 1.0
             END AS ens_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6124
             WHEN 1 THEN 0.7303
             WHEN 2 THEN 0.4083
             WHEN 3 THEN 0.7303
             WHEN 4 THEN 0.3651
             WHEN 5 THEN 0.6124
             WHEN 6 THEN 0.5477
             WHEN 7 THEN 0.9129
             END AS ens_score,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.5
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.3333
             WHEN 4 THEN 0.3333
             WHEN 5 THEN 0.3333
             WHEN 6 THEN 0.3333
             WHEN 7 THEN 0.6667
             END AS cg_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.6667
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.5
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.5
             WHEN 6 THEN 0.6667
             WHEN 7 THEN 0.6667
             END AS ch_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 2
             WHEN 1 THEN 1
             WHEN 2 THEN 1
             WHEN 3 THEN 2
             WHEN 4 THEN 2
             WHEN 5 THEN 2
             WHEN 6 THEN 2
             WHEN 7 THEN 2
             END AS ch_trusted,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 2
             WHEN 1 THEN 2
             WHEN 2 THEN 2
             WHEN 3 THEN 1
             WHEN 4 THEN 1
             WHEN 5 THEN 2
             WHEN 6 THEN 2
             WHEN 7 THEN 2
             END AS ch_flipped,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 2
             WHEN 1 THEN 3
             WHEN 2 THEN 3
             WHEN 3 THEN 3
             WHEN 4 THEN 3
             WHEN 5 THEN 2
             WHEN 6 THEN 2
             WHEN 7 THEN 2
             END AS ch_fallback
         FROM documents ORDER BY doc_id""",

    "q81_ranking_metrics" ->
      // fully relational mirror: per-channel row_number ranks with the
      // stable (score DESC, index) tie order, RRF fusion 1/(60+rank),
      // fused re-rank, DCG@5 with log2 discounts, ideal DCG over graded
      // rels sorted desc, AP as hits/rank summed over relevant positions,
      // P@5; doc_id % 7 = 0 rows have empty qrels -> all three metrics 0
      """WITH g AS (
           SELECT d.doc_id, t.j,
             CAST((t.j*3 + d.doc_id) % 4 AS DOUBLE)/4 AS a,
             CAST((t.j*5 + d.doc_id*2) % 7 AS DOUBLE)/7 AS b,
             CASE WHEN d.doc_id % 7 = 0 THEN 0
                  ELSE CAST((t.j + d.doc_id) % 3 AS INT) END AS rel
           FROM documents d, range(8) t(j)),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY doc_id ORDER BY a DESC, j) AS ra,
             row_number() OVER (PARTITION BY doc_id ORDER BY b DESC, j) AS rb
           FROM g),
         f AS (SELECT *, 1.0/(60 + ra) + 1.0/(60 + rb) AS fused FROM r),
         rf AS (SELECT *,
             row_number() OVER (PARTITION BY doc_id ORDER BY fused DESC, j) AS rk
           FROM f),
         ideal AS (
           SELECT doc_id,
             sum(CASE WHEN ir <= 5 THEN rel / (ln(ir + 1)/ln(2)) END) AS idcg
           FROM (SELECT doc_id, rel,
                   row_number() OVER (PARTITION BY doc_id ORDER BY rel DESC) AS ir
                 FROM g WHERE rel > 0)
           GROUP BY doc_id),
         adcg AS (
           SELECT doc_id,
             sum(CASE WHEN rk <= 5 THEN rel / (ln(rk + 1)/ln(2)) ELSE 0 END) AS dcg,
             sum(CASE WHEN rk <= 5 AND rel > 0 THEN 1 ELSE 0 END) / 5.0 AS p5,
             max(CASE WHEN j = 0 THEN fused END) AS fused0,
             max(CASE WHEN j = 3 THEN fused END) AS fused3
           FROM rf GROUP BY doc_id),
         apv AS (
           SELECT doc_id, sum(CAST(hits AS DOUBLE)/rk) AS sump, count(*) AS nrel
           FROM (SELECT doc_id, rk,
                   row_number() OVER (PARTITION BY doc_id ORDER BY rk) AS hits
                 FROM rf WHERE rel > 0)
           GROUP BY doc_id)
         SELECT a.doc_id,
           CASE WHEN i.idcg IS NULL OR i.idcg = 0 THEN 0.0
                ELSE a.dcg / i.idcg END AS ndcg5,
           COALESCE(p.sump / p.nrel, 0.0) AS ap,
           a.p5, a.fused0, a.fused3
         FROM adcg a
         LEFT JOIN ideal i USING (doc_id)
         LEFT JOIN apv p USING (doc_id)
         ORDER BY a.doc_id""",

    "q82_significance" ->
      // independent analytic mirror: Student-t CDF closed forms at the
      // planted dfs (df=2: p = 1-|t|/sqrt(2+t^2); df=1: p = 1-2*atan|t|/pi)
      // against commons-math3's incomplete-beta CDF; allclose guard via
      // max|d| = 0, zero-variance shift via var_samp*2 <= 1e-24 (the Scala
      // varSum guard), McNemar continuity-corrected chi2 with the label on
      // the UNROUNDED statistic. HAZARD: Brier/chi2 round half-EVEN in the
      // Scala operator (math.rint) but half-UP here (floor(x*10^k+0.5));
      // they agree only because the planted values never land on .5 ties
      // (chi2*1000 quotients with denom 1..8 cannot hit .5; brier*1e4 is an
      // integer sum / 5). Retuning the planted %-cycles or the conf grid
      // requires re-checking tie distance at both rounding scales.
      """WITH docs AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS v FROM documents),
         ab AS (
           SELECT doc_id, v, r.i,
             0.5 + 0.1*((r.i*2 + v) % 5) AS a,
             CASE WHEN v = 5 THEN 0.5 + 0.1*((r.i*2 + v) % 5)
                  WHEN v = 6 THEN 0.5 + 0.1*((r.i*2 + v) % 5) - 0.2
                  WHEN v = 4 THEN 0.5 + 0.1*((r.i*2 + v) % 5) - (0.2 + 0.1*r.i)
                  WHEN v = 2 THEN 0.5 + 0.1*((r.i*2 + v) % 5) - (0.4 + 0.01*r.i)
                  ELSE 0.4 + 0.12*((r.i*3 + 2*v) % 4) END AS b
           FROM docs, range(3) r(i)),
         tt2 AS (
           SELECT doc_id,
             CASE WHEN max(abs(a-b)) < 1e-12 THEN 0.0
                  WHEN var_samp(a-b)*2 <= 1e-24 THEN 1000000.0
                  ELSE avg(a-b) / (sqrt(var_samp(a-b)) / sqrt(3)) END AS t2
           FROM ab GROUP BY doc_id),
         cd AS (
           SELECT doc_id, v, r.i,
             1.0 + 0.3*((r.i + v) % 3) AS c,
             0.8 + 0.25*((r.i*2 + v) % 3) AS e
           FROM docs, range(2) r(i)),
         tt1 AS (
           SELECT doc_id, avg(c-e) / (sqrt(var_samp(c-e)) / sqrt(2)) AS t1
           FROM cd GROUP BY doc_id),
         mcr AS (
           SELECT doc_id, r.i % 2 AS tru,
             (r.i % 2 + CASE WHEN (r.i + v) % 5 = 0 THEN 1 ELSE 0 END) % 2 AS pa,
             CASE WHEN v = 3
                  THEN (r.i % 2 + CASE WHEN (r.i + v) % 5 = 0 THEN 1 ELSE 0 END) % 2
                  ELSE (r.i % 2 + CASE WHEN (r.i*3 + v) % 7 = 0 THEN 0 ELSE 1 END) % 2
                  END AS pb
           FROM docs, range(10) r(i)),
         mc AS (
           SELECT doc_id,
             sum(CASE WHEN pa = tru AND pb <> tru THEN 1 ELSE 0 END) AS arbw,
             sum(CASE WHEN pa <> tru AND pb = tru THEN 1 ELSE 0 END) AS awbr
           FROM mcr GROUP BY doc_id),
         br AS (
           SELECT doc_id,
             floor(avg((1 - pt)*(1 - pt)) * 10000 + 0.5)/10000 AS brier
           FROM (SELECT doc_id,
                   CASE WHEN (r.i + v) % 2 = r.i % 2
                        THEN 0.51 + 0.03*((r.i*2 + v) % 7)
                        ELSE 1 - (0.51 + 0.03*((r.i*2 + v) % 7)) END AS pt
                 FROM docs, range(5) r(i))
           GROUP BY doc_id)
         SELECT d.doc_id, d.v,
           tt2.t2,
           CASE WHEN tt2.t2 = 0.0 THEN 1.0
                WHEN tt2.t2 = 1000000.0 THEN 0.0
                ELSE 1 - abs(tt2.t2)/sqrt(2 + tt2.t2*tt2.t2) END AS p2,
           CASE WHEN (CASE WHEN tt2.t2 = 0.0 THEN 1.0
                           WHEN tt2.t2 = 1000000.0 THEN 0.0
                           ELSE 1 - abs(tt2.t2)/sqrt(2 + tt2.t2*tt2.t2) END) < 0.01
                THEN '**'
                WHEN (CASE WHEN tt2.t2 = 0.0 THEN 1.0
                           WHEN tt2.t2 = 1000000.0 THEN 0.0
                           ELSE 1 - abs(tt2.t2)/sqrt(2 + tt2.t2*tt2.t2) END) < 0.05
                THEN '*' ELSE 'n.s.' END AS lab2,
           tt1.t1,
           1 - 2*atan(abs(tt1.t1))/pi() AS p1,
           CASE WHEN 1 - 2*atan(abs(tt1.t1))/pi() < 0.01 THEN '**'
                WHEN 1 - 2*atan(abs(tt1.t1))/pi() < 0.05 THEN '*'
                ELSE 'n.s.' END AS lab1,
           CASE WHEN mc.arbw + mc.awbr = 0 THEN 0.0
                ELSE floor(CAST((abs(mc.arbw - mc.awbr) - 1)
                              * (abs(mc.arbw - mc.awbr) - 1) AS DOUBLE)
                           / (mc.arbw + mc.awbr) * 1000 + 0.5)/1000 END AS chi2,
           CASE WHEN mc.arbw + mc.awbr = 0 THEN 'n/a'
                WHEN CAST((abs(mc.arbw - mc.awbr) - 1)
                        * (abs(mc.arbw - mc.awbr) - 1) AS DOUBLE)
                     / (mc.arbw + mc.awbr) > 3.841 THEN 'p<0.05'
                ELSE 'p>=0.05 (n.s.)' END AS mcsig,
           br.brier
         FROM docs d
         JOIN tt2 USING (doc_id) JOIN tt1 USING (doc_id)
         JOIN mc USING (doc_id) JOIN br USING (doc_id)
         ORDER BY d.doc_id""",

    "q83_bootstrap_ci" ->
      // expected (lo, hi) pinned by exec'ing the PUBLISHED bootstrap_ci
      // (eval_ablation.py:382-393) verbatim over the same planted sets
      // (scripts/gen_ablation_oracle.py regenerates this block)
      """SELECT doc_id, CAST(doc_id % 8 AS INT) AS v,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN -0.4615
             WHEN 1 THEN -0.3846
             WHEN 2 THEN -0.5385
             WHEN 3 THEN -0.3077
             WHEN 4 THEN -0.3846
             WHEN 5 THEN -0.3846
             WHEN 6 THEN -0.4615
             WHEN 7 THEN -0.3846
             END AS lo,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.1538
             WHEN 1 THEN 0.2308
             WHEN 2 THEN 0.2308
             WHEN 3 THEN 0.1538
             WHEN 4 THEN 0.3846
             WHEN 5 THEN 0.2308
             WHEN 6 THEN 0.1538
             WHEN 7 THEN 0.2308
             END AS hi
         FROM documents ORDER BY doc_id""",

    "q84_density_stats" ->
      // pb/cv mirrored relationally (corr, var_samp, df=2 closed-form t
      // CDF); quartile edges via quantile_cont (np.percentile linear),
      // digitize = count of edges <= x, two-proportion z; the z p-value
      // constants come from stdlib erfc(|z|/sqrt 2) offline
      // (scripts/gen_density_stats_oracle.py regenerates them)
      """WITH docs AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS v FROM documents),
         src AS (
           SELECT doc_id, v, r.i % 2 AS acc,
             1.0 + 0.37*((r.i*2 + v) % 5) + 0.11*r.i AS x
           FROM docs, range(4) r(i)),
         pb AS (
           SELECT doc_id, corr(CAST(acc AS DOUBLE), x) AS r,
             avg(CASE WHEN acc = 1 THEN x END) AS m1,
             avg(CASE WHEN acc = 0 THEN x END) AS m0,
             var_samp(CASE WHEN acc = 1 THEN x END) AS v1,
             var_samp(CASE WHEN acc = 0 THEN x END) AS v0
           FROM src GROUP BY doc_id),
         pbt AS (
           SELECT doc_id, r, m1, m0,
             r * sqrt(2.0 / greatest(1e-300, 1.0 - r*r)) AS pt,
             (m1 - m0) / sqrt(((v1 + v0) / 2.0) * (0.5 + 0.5)) AS ct,
             CASE WHEN (v1 + v0) / 2.0 = 0 THEN 0.0
                  ELSE (m1 - m0) / sqrt((v1 + v0) / 2.0) END AS cd
           FROM pb),
         qd AS (
           SELECT doc_id, v, r.i,
             2.0 + 0.53*((r.i*3 + v) % 7) + 0.07*r.i AS d,
             CASE WHEN v = 7 THEN 0 ELSE ((r.i + v) % 3) % 2 END AS acc
           FROM docs, range(8) r(i)),
         qe AS (
           SELECT doc_id, quantile_cont(d, 0.25) AS e1,
             quantile_cont(d, 0.50) AS e2, quantile_cont(d, 0.75) AS e3
           FROM qd GROUP BY doc_id),
         qb AS (
           SELECT qd.doc_id, qd.acc,
             (CASE WHEN e1 <= d THEN 1 ELSE 0 END)
             + (CASE WHEN e2 <= d THEN 1 ELSE 0 END)
             + (CASE WHEN e3 <= d THEN 1 ELSE 0 END) AS bin
           FROM qd JOIN qe USING (doc_id)),
         qq AS (
           SELECT doc_id,
             sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS n1,
             avg(CASE WHEN bin = 0 THEN CAST(acc AS DOUBLE) END) AS p1,
             sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS n4,
             avg(CASE WHEN bin = 3 THEN CAST(acc AS DOUBLE) END) AS p4
           FROM qb GROUP BY doc_id)
         SELECT d.doc_id, d.v,
           floor(pbt.r*1000000 + 0.5)/1000000 AS pb_r,
           floor(pbt.pt*1000000 + 0.5)/1000000 AS pb_t,
           floor((1 - abs(pbt.pt)/sqrt(2 + pbt.pt*pbt.pt))*1000000 + 0.5)
             /1000000 AS pb_p,
           floor(pbt.m1*1000000 + 0.5)/1000000 AS cv_mc,
           floor(pbt.m0*1000000 + 0.5)/1000000 AS cv_mi,
           floor(pbt.ct*1000000 + 0.5)/1000000 AS cv_t,
           floor((1 - abs(pbt.ct)/sqrt(2 + pbt.ct*pbt.ct))*1000000 + 0.5)
             /1000000 AS cv_p,
           floor(pbt.cd*1000000 + 0.5)/1000000 AS cv_d,
           floor((qq.p4 - qq.p1)*1000000 + 0.5)/1000000 AS q_delta,
           floor((CASE
             WHEN (qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4) <= 0.0
               OR (qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4) >= 1.0
             THEN 0.0
             ELSE (qq.p4 - qq.p1)
               / sqrt(((qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4))
                 * (1 - (qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4))
                 * (1.0/qq.n1 + 1.0/qq.n4)) END)*1000000 + 0.5)
             /1000000 AS q_z,
           CASE d.v
             WHEN 0 THEN 1.0
             WHEN 1 THEN 1.0
             WHEN 2 THEN 0.248213
             WHEN 3 THEN 1.0
             WHEN 4 THEN 1.0
             WHEN 5 THEN 0.248213
             WHEN 6 THEN 0.248213
             WHEN 7 THEN 1.0
             END AS q_p
         FROM docs d
         JOIN pbt USING (doc_id) JOIN qq USING (doc_id)
         ORDER BY d.doc_id""",

    "q85_violations_filter" ->
      // mirrors the label normalization (run_iltur.py:540-575): yes/no
      // string vocabularies after lower(trim(..)), unmapped strings → NULL
      // → fall through the coalesce to the int-array any-positive rule,
      // then the violations-only subset keeps label == 1
      """WITH planted AS (
           SELECT doc_id, 'c' || CAST(doc_id AS VARCHAR) AS case_id,
             CASE WHEN doc_id % 13 = 0 THEN NULL
               ELSE (['1','true','YES','  accepted ','allow','Violation','0',
                      'FALSE','no_violation','dismissed','maybe',''])
                    [CAST(doc_id % 12 AS INT) + 1] END AS raw,
             CAST(doc_id % 3 AS INT) AS arr_v
           FROM documents),
         lab AS (
           SELECT case_id,
             coalesce(
               CASE WHEN lower(trim(raw)) IN
                      ('1','true','yes','accepted','allow','allowed','violation') THEN 1
                    WHEN lower(trim(raw)) IN
                      ('0','false','no','rejected','dismiss','dismissed','no_violation') THEN 0
               END,
               CASE arr_v WHEN 0 THEN 0 WHEN 1 THEN 0 ELSE 1 END) AS label
           FROM planted)
         SELECT case_id, label FROM lab WHERE label = 1 ORDER BY case_id""",

    "q86_tier_filter" ->
      // q39's computeTier mirror feeding the iter_graphs tier gate:
      // lower(coalesce(tier, '')) ∈ {gold, silver} — a planted NULL tier
      // (doc_id % 9 = 0) is always skipped, like a graph missing the
      // quality_tier key in the reference
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 8 AS INT) AS n_err,
             CAST((doc_id * 3) % 40 AS INT) AS n_sub,
             doc_id % 5 <> 0 AS h, doc_id % 6 <> 0 AS o, doc_id % 7 <> 0 AS c
           FROM documents),
         tiers AS (
           SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN NULL ELSE
               CASE
                 WHEN n_err = 0 AND n_sub <= 15 AND h AND o AND c THEN 'gold'
                 WHEN n_err <= 2 AND n_sub <= 30 AND h AND o THEN 'silver'
                 WHEN n_err <= 5 THEN 'bronze'
                 ELSE 'reject' END END AS tier
           FROM t)
         SELECT doc_id, tier FROM tiers
         WHERE lower(coalesce(tier, '')) IN ('gold', 'silver')
         ORDER BY doc_id""",

    "q87_completed_skip" ->
      // independent Murmur3_x86_32(seed=42) over the conv_id UTF-8 bytes:
      // little-endian 4-byte chunks then per-byte tail, each through
      // mixK1 (k*0xcc9e2d51, rotl15, k*0x1b873593) and mixH1 (xor, rotl13,
      // h*5+0xe6546b64), then fmix(len) avalanche; 32-bit wrap via HUGEINT
      // mults mod 2^32, rotl as shift-parts addition (disjoint bits).
      // bucket = pmod(hash, 32) = unsigned(h) % 32 since 32 | 2^32; the
      // resume skip then drops buckets in the planted commit log (≡0 mod 3)
      """WITH convs AS (
           SELECT printf('conv_%06d', doc_id) AS conv_id FROM documents),
         cp AS (
           SELECT conv_id,
             list_transform(string_split(conv_id, ''), c -> unicode(c)) AS b,
             len(conv_id) AS n
           FROM convs),
         chunked AS (
           SELECT conv_id, n,
             list_transform(generate_series(1, n // 4), i ->
               b[4*i-3] + b[4*i-2]*256 + b[4*i-1]*65536 + b[4*i]*16777216)
               AS chunks,
             list_transform(generate_series(n - (n % 4) + 1, n), i -> b[i])
               AS tail
           FROM cp),
         folded AS (
           SELECT conv_id, n,
             list_reduce(list_prepend(42::BIGINT, chunks || tail), (h, k) ->
               (((
                 xor(h,
                   ((((((k::HUGEINT * 3432918353) % 4294967296) * 32768) % 4294967296
                      + (((k::HUGEINT * 3432918353) % 4294967296) // 131072))::HUGEINT
                     * 461845907) % 4294967296)::BIGINT
                 ) * 8192) % 4294967296
                + xor(h,
                   ((((((k::HUGEINT * 3432918353) % 4294967296) * 32768) % 4294967296
                      + (((k::HUGEINT * 3432918353) % 4294967296) // 131072))::HUGEINT
                     * 461845907) % 4294967296)::BIGINT
                  ) // 524288
               )::HUGEINT * 5 + 3864292196) % 4294967296
             ) AS h1
           FROM chunked),
         f0 AS (SELECT conv_id, xor(h1, n) AS a FROM folded),
         f1 AS (SELECT conv_id,
             ((xor(a, a // 65536)::HUGEINT * 2246822507) % 4294967296)::BIGINT AS a
           FROM f0),
         f2 AS (SELECT conv_id,
             ((xor(a, a // 8192)::HUGEINT * 3266489909) % 4294967296)::BIGINT AS a
           FROM f1),
         f3 AS (SELECT conv_id, xor(a, a // 65536) % 32 AS bucket FROM f2)
         SELECT conv_id, CAST(bucket AS INT) AS bucket FROM f3
         WHERE bucket NOT IN (0,3,6,9,12,15,18,21,24,27,30)
         ORDER BY conv_id""",

    "q88_corpus_validation" ->
      // the planted warning lists are constants per variant, so severity
      // counts reduce to the v-indexed arrays (the string classifier runs
      // on the Spark side); tier = the computeTier CASE; pass = no
      // error-class warnings; dup case_ids from the odd-multiple-of-11
      // pairing; z pass mirrors statistics.mean/stdev (sample) with the
      // n>=10 and sigma<>0 guards
      """WITH raw AS (
           SELECT doc_id,
             'c' || CAST(CASE WHEN doc_id % 11 = 0
                              THEN doc_id - (doc_id % 2)
                              ELSE doc_id END AS VARCHAR) AS case_id,
             CAST(doc_id % 6 AS INT) AS v,
             doc_id % 5 <> 0 AS h, doc_id % 7 <> 0 AS o, doc_id % 4 <> 0 AS c,
             CASE WHEN doc_id % 101 = 0 THEN 500 ELSE doc_id % 7 END AS n_facts,
             CASE WHEN doc_id % 89 = 0 THEN 300 ELSE (doc_id * 3) % 11 END AS n_edges,
             CASE WHEN doc_id % 53 = 0 THEN 0
                  WHEN doc_id % 97 = 0 THEN 400
                  ELSE doc_id % 9 + 1 END AS n_nodes_total
           FROM documents),
         cls AS (
           SELECT *,
             ([0,1,0,0,1,6])[v+1] AS n_err,
             ([0,0,2,0,1,0])[v+1] AS n_sub,
             ([0,0,0,1,0,2])[v+1] AS n_cos
           FROM raw),
         tiers AS (
           SELECT *,
             CASE WHEN n_err = 0 AND n_sub <= 15 AND h AND o AND c THEN 'gold'
                  WHEN n_err <= 2 AND n_sub <= 30 AND h AND o THEN 'silver'
                  WHEN n_err <= 5 THEN 'bronze' ELSE 'reject' END AS tier
           FROM cls),
         base AS (
           SELECT CAST(count(*) AS BIGINT) AS total_graphs,
             CAST(count(*) FILTER (WHERE n_err = 0) AS BIGINT) AS n_passed,
             CAST(count(*) FILTER (WHERE n_err > 0) AS BIGINT) AS n_failed,
             CAST(sum(n_err) AS BIGINT) AS total_errors,
             CAST(sum(n_sub) AS BIGINT) AS total_substantive,
             CAST(sum(n_cos) AS BIGINT) AS total_cosmetic,
             CAST(count(*) FILTER (WHERE tier = 'gold') AS BIGINT) AS n_gold,
             CAST(count(*) FILTER (WHERE tier = 'silver') AS BIGINT) AS n_silver,
             CAST(count(*) FILTER (WHERE tier = 'bronze') AS BIGINT) AS n_bronze,
             CAST(count(*) FILTER (WHERE tier = 'reject') AS BIGINT) AS n_reject,
             CAST(count(*) FILTER (WHERE n_facts = 0 AND n_nodes_total > 0) AS BIGINT)
               AS degen_no_facts,
             CAST(count(*) FILTER (WHERE n_edges = 0 AND n_nodes_total > 2) AS BIGINT)
               AS degen_no_edges,
             CAST(count(*) FILTER (WHERE n_nodes_total = 0) AS BIGINT) AS degen_empty
           FROM tiers),
         dupg AS (
           SELECT case_id, count(*) AS k FROM tiers
           GROUP BY case_id HAVING count(*) > 1),
         dups AS (
           SELECT CAST(count(*) AS BIGINT) AS dup_case_ids,
             CAST(coalesce(sum(k), 0) AS BIGINT) AS dup_files
           FROM dupg),
         mf AS (SELECT count(*) AS n, avg(n_facts) AS mu,
             stddev_samp(n_facts) AS s FROM tiers),
         af AS (SELECT CAST(count(*) FILTER (WHERE mf.n >= 10 AND mf.s <> 0
             AND abs((n_facts - mf.mu) / mf.s) > 3.0) AS BIGINT) AS anom_n_facts
           FROM tiers, mf),
         me AS (SELECT count(*) AS n, avg(n_edges) AS mu,
             stddev_samp(n_edges) AS s FROM tiers),
         ae AS (SELECT CAST(count(*) FILTER (WHERE me.n >= 10 AND me.s <> 0
             AND abs((n_edges - me.mu) / me.s) > 3.0) AS BIGINT) AS anom_n_edges
           FROM tiers, me),
         mn AS (SELECT count(*) AS n, avg(n_nodes_total) AS mu,
             stddev_samp(n_nodes_total) AS s FROM tiers),
         an AS (SELECT CAST(count(*) FILTER (WHERE mn.n >= 10 AND mn.s <> 0
             AND abs((n_nodes_total - mn.mu) / mn.s) > 3.0) AS BIGINT) AS anom_n_nodes
           FROM tiers, mn)
         SELECT * FROM base, dups, af, ae, an""",

    "q89_transcript_gen" ->
      // full independent replay of the deterministic generator: FNV-1a
      // (xor-fold over (convId ++ slot) codepoints, 64-bit wrap in HUGEINT,
      // & Long.MaxValue) drives every template pick; texts rebuilt from the
      // same template tables via printf; role/tool/ts arithmetic mirrored.
      // MATERIALIZED CTEs: the hash table is referenced by 10 joins and
      // must be computed once, not inlined per reference
      """WITH convs AS (
           SELECT doc_id, printf('conv_%06d', doc_id) AS cid FROM documents),
         slotnames AS (
           SELECT unnest(
             ['parties','year','ts','issue','holding','outcome'] ||
             flatten(list_transform(generate_series(0, 8), k ->
               ['b'||k, 'b'||k||'f', 'b'||k||'n', 'b'||k||'i', 'b'||k||'a',
                'b'||k||'c', 'b'||k||'p'])) ||
             list_transform(generate_series(0, 12), i -> 'tool'||i)) AS slot),
         hashes AS MATERIALIZED (
           SELECT c.doc_id, s.slot,
             CAST(list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(string_split(c.cid || s.slot, ''),
                   ch -> unicode(ch)::HUGEINT)),
               (h, ch) -> ((h - (h % 128)
                            + xor((h % 128)::BIGINT, ch::BIGINT)::HUGEINT)
                           * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT
             ) % 9223372036854775808::HUGEINT AS BIGINT) AS h
           FROM convs c CROSS JOIN slotnames s),
         pv AS MATERIALIZED (
           SELECT c.doc_id, c.cid,
             (['Ram Kumar','Sunita Devi','Mohan Lal','Gopal Das','Radha Krishnan','Vijay Singh'])
               [CAST(hp.h % 6 AS INT) + 1] AS pet,
             (['State of Punjab','Union of India','State of Kerala',
               'Municipal Corporation of Delhi','State of Tamil Nadu','State of Rajasthan'])
               [CAST(hp.h % 6 AS INT) + 1] AS resp,
             1990 + CAST(hy.h % 30 AS INT) AS year,
             1600000000000 + CAST(ht.h % 100000000 AS BIGINT) AS base_ts
           FROM convs c
           JOIN hashes hp ON hp.doc_id = c.doc_id AND hp.slot = 'parties'
           JOIN hashes hy ON hy.doc_id = c.doc_id AND hy.slot = 'year'
           JOIN hashes ht ON ht.doc_id = c.doc_id AND ht.slot = 'ts'),
         body AS (
           SELECT p.doc_id, k.k + 1 AS idx,
             CASE CAST(hb.h % 5 AS INT)
               WHEN 0 THEN printf(
                 (['The petitioner %s was served with a show-cause notice and the disciplinary authority passed an order terminating his services on 12.03.%d.',
                   'The appellant %s filed a writ petition after the authority rejected the application for renewal of the licence in %d.',
                   'An FIR was lodged against the accused %s and he was arrested on 05.07.%d without any warrant being issued.',
                   'The respondent issued a notification acquiring the land of %s in %d, and compensation was awarded at the circle rate.',
                   'The petitioner %s was dismissed from service without being granted any opportunity of hearing in %d.',
                   'The tender submitted by %s was rejected and the contract was awarded to a rival bidder in %d.'])
                   [CAST(hf.h % 6 AS INT) + 1], p.pet, p.year)
               WHEN 1 THEN
                 (['No notice was served upon the petitioner and no enquiry was conducted before the order was passed.',
                   'The authority failed to supply the enquiry report and denied inspection of the records.',
                   'The order was passed without recording any reasons and without hearing the affected party.'])
                   [CAST(hn.h % 3 AS INT) + 1]
               WHEN 2 THEN
                 (['The question is whether the impugned order violates the principles of natural justice.',
                   'The issue that arises is whether the classification satisfies the twin test of intelligible differentia and rational nexus.',
                   'The matter falls for consideration whether the restriction pursues a legitimate aim and employs the least restrictive means.',
                   'The point for determination is whether the amendment would destroy identity of Constitution.'])
                   [CAST(hi.h % 4 AS INT) + 1]
               WHEN 3 THEN
                 (['The petitioner contends that the order was passed without affording a fair opportunity to answer the allegations.',
                   'The respondent submits that the procedure followed was just, fair and reasonable in the circumstances.',
                   'Learned counsel for the appellant argues that the action is manifestly arbitrary and without determining principle.',
                   'The State urged that the measure bears a rational nexus to the object sought to be achieved.',
                   'The prosecution asserts that the confession was recorded in accordance with law and is admissible.'])
                   [CAST(ha.h % 5 AS INT) + 1]
               ELSE printf(
                 (['As held in %s, %s, the rules of natural justice operate in areas not covered by any law validly made.',
                   'Following the ratio in %s, %s, the procedure established by law must be just, fair and reasonable.',
                   'The facts in the present case are distinguishable from %s, %s, which turned on the language of the statute.',
                   'The true ratio of that decision is explained in %s, %s, and it governs administrative action generally.'])
                   [CAST(hpp.h % 4 AS INT) + 1],
                 (['Maneka Gandhi v. Union of India','Kesavananda Bharati v. State of Kerala',
                   'A.K. Kraipak v. Union of India','E.P. Royappa v. State of Tamil Nadu',
                   'Olga Tellis v. Bombay Municipal Corporation','Shayara Bano v. Union of India',
                   'K.S. Puttaswamy v. Union of India','Modern Dental College v. State of Madhya Pradesh'])
                   [CAST(hc.h % 8 AS INT) + 1],
                 (['AIR 1978 SC 597','AIR 1973 SC 1461','AIR 1970 SC 150','AIR 1974 SC 555',
                   'AIR 1986 SC 180','(2017) 9 SCC 1','(2017) 10 SCC 1','(2016) 7 SCC 353'])
                   [CAST(hc.h % 8 AS INT) + 1])
             END AS text
           FROM pv p
           CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS k) k
           JOIN hashes hb  ON hb.doc_id  = p.doc_id AND hb.slot  = 'b' || k.k
           JOIN hashes hf  ON hf.doc_id  = p.doc_id AND hf.slot  = 'b' || k.k || 'f'
           JOIN hashes hn  ON hn.doc_id  = p.doc_id AND hn.slot  = 'b' || k.k || 'n'
           JOIN hashes hi  ON hi.doc_id  = p.doc_id AND hi.slot  = 'b' || k.k || 'i'
           JOIN hashes ha  ON ha.doc_id  = p.doc_id AND ha.slot  = 'b' || k.k || 'a'
           JOIN hashes hc  ON hc.doc_id  = p.doc_id AND hc.slot  = 'b' || k.k || 'c'
           JOIN hashes hpp ON hpp.doc_id = p.doc_id AND hpp.slot = 'b' || k.k || 'p'),
         tail AS (
           SELECT p.doc_id, t.idx,
             CASE t.idx
               WHEN 10 THEN
                 (['The question is whether the impugned order violates the principles of natural justice.',
                   'The issue that arises is whether the classification satisfies the twin test of intelligible differentia and rational nexus.',
                   'The matter falls for consideration whether the restriction pursues a legitimate aim and employs the least restrictive means.',
                   'The point for determination is whether the amendment would destroy identity of Constitution.'])
                   [CAST(hh.h % 4 AS INT) + 1]
               WHEN 11 THEN
                 (['We hold that the impugned order cannot be sustained as it was passed in violation of the principles of natural justice.',
                   'We are of the considered view that the classification fails the test of intelligible differentia and is manifestly arbitrary.',
                   'We accordingly hold that the restriction does not satisfy the requirement of proportionality and must be struck down.',
                   'It must therefore be held that the dismissal order is vitiated for denial of a fair opportunity of hearing.'])
                   [CAST(hh.h % 4 AS INT) + 1]
               ELSE
                 (['In the result, the appeal is accordingly allowed and the impugned order is set aside.',
                   'For the foregoing reasons, the writ petition is allowed.',
                   'The appeal is dismissed. The judgment of the High Court is affirmed.',
                   'The petition is partly allowed to the extent indicated above.'])
                   [CAST(hh.h % 4 AS INT) + 1]
             END AS text
           FROM pv p
           CROSS JOIN (SELECT unnest([10, 11, 12]) AS idx) t
           JOIN hashes hh ON hh.doc_id = p.doc_id AND hh.slot =
             CASE t.idx WHEN 10 THEN 'issue' WHEN 11 THEN 'holding' ELSE 'outcome' END),
         allturns AS (
           SELECT p.doc_id, 0 AS idx,
             printf('This matter concerns a dispute between %s and %s arising in %d.',
               p.pet, p.resp, p.year) AS text
           FROM pv p
           UNION ALL SELECT doc_id, idx, text FROM body
           UNION ALL SELECT doc_id, idx, text FROM tail)
         SELECT printf('conv_%06d', a.doc_id) AS conv_id,
           CAST(a.idx AS INT) AS turn_idx,
           CASE WHEN a.idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           a.text,
           CASE WHEN htl.h % 7 = 0 THEN 'search' END AS tool,
           p.base_ts + a.idx * 60000 AS ts_millis
         FROM allturns a
         JOIN pv p ON p.doc_id = a.doc_id
         JOIN hashes htl ON htl.doc_id = a.doc_id AND htl.slot = 'tool' || a.idx
         ORDER BY conv_id, turn_idx""",

    "q90_ontology_load" ->
      // independent JSON re-parse: json_keys iteration, json_type branch
      // dispatch (list vs string vs missing), the [OR/[AND/other-bracket
      // header rules, line-anchored numbered-list detection vs unanchored
      // split, quote-extraction vs comma+strip key phrases, label/kind
      // defaults; md5 over |-joined lists witnesses exact contents
      """WITH src AS (SELECT '{"concepts":{"C1_ANDLIST":{"label":"And List","kind":"doctrine","requires":["[AND]"," r1 ","","r2","[note]"],"defeaters":["d1","  ","d2"],"key_phrases":"\"alpha beta\", \"gamma\", \"\"","establishing_cases":"A v. B; C v. D, E v. F"},"C2_ORLIST":{"label":"","requires":["[OR - any one suffices]","x1"," x2 "],"key_phrases":"plain one, ''quoted two'', unquoted","establishing_cases":"Solo v. Case"},"C3_STRNUM":{"requires":"[AND] 1. first req 2) second req","defeaters":"1. dd 2) ee","key_phrases":""},"C4_STRSEMI":{"kind":"test","requires":"[OR] alpha; beta\ngamma","defeaters":"plain; split\nhere"},"C5_BRACKET":{"label":"Bracket","requires":["[Criminal - absolute]","q1"],"defeaters":[]},"C6_EMPTY":{},"C7_MIDNUM":{"requires":"contains 2. mid but starts plain; second part"}}}' AS j),
         ids AS (SELECT unnest(json_keys(j, '$.concepts')) AS cid, j FROM src),
         c AS (SELECT cid, json_extract(j, '$.concepts.' || cid) AS cj FROM ids),
         fields AS (
           SELECT cid,
             json_extract_string(cj, '$.label') AS label_raw,
             json_extract_string(cj, '$.kind') AS kind_raw,
             CASE WHEN json_type(cj, '$.requires') = 'ARRAY'
               THEN list_transform(json_transform(json_extract(cj, '$.requires'),
                 '["VARCHAR"]'), x -> trim(x)) END AS rlist,
             CASE WHEN json_type(cj, '$.requires') = 'VARCHAR'
               THEN trim(json_extract_string(cj, '$.requires')) END AS rstr,
             CASE WHEN json_type(cj, '$.defeaters') = 'ARRAY'
               THEN list_transform(json_transform(json_extract(cj, '$.defeaters'),
                 '["VARCHAR"]'), x -> trim(x)) END AS dlist,
             CASE WHEN json_type(cj, '$.defeaters') = 'VARCHAR'
               THEN trim(json_extract_string(cj, '$.defeaters')) END AS dstr,
             json_extract_string(cj, '$.key_phrases') AS kp,
             json_extract_string(cj, '$.establishing_cases') AS es
           FROM c),
         req AS (
           SELECT cid, label_raw, kind_raw, kp, es, dlist, dstr,
             CASE
               WHEN rlist IS NOT NULL AND len(rlist) > 0 THEN
                 CASE WHEN upper(rlist[1]) LIKE '[OR%' THEN 'or' ELSE 'and' END
               WHEN rstr IS NOT NULL AND rstr <> '' THEN
                 CASE WHEN upper(rstr) LIKE '[OR%' THEN 'or' ELSE 'and' END
               ELSE 'and' END AS logic,
             CASE
               WHEN rlist IS NOT NULL AND len(rlist) > 0 THEN
                 list_filter(
                   rlist[(CASE WHEN rlist[1] LIKE '[%' THEN 2 ELSE 1 END):],
                   x -> x <> '' AND upper(x) NOT LIKE '[%')
               WHEN rstr IS NOT NULL AND rstr <> '' THEN
                 list_filter(list_transform(
                   CASE WHEN regexp_matches(
                       CASE WHEN upper(rstr) LIKE '[OR%'
                              THEN regexp_replace(rstr, '^\s*\[OR\]?\s*', '', 'i')
                            WHEN upper(rstr) LIKE '[AND%'
                              THEN regexp_replace(rstr, '^\s*\[AND\]?\s*', '', 'i')
                            ELSE rstr END, '(?m)^\s*\d+[.)]\s*')
                     THEN regexp_split_to_array(
                       CASE WHEN upper(rstr) LIKE '[OR%'
                              THEN regexp_replace(rstr, '^\s*\[OR\]?\s*', '', 'i')
                            WHEN upper(rstr) LIKE '[AND%'
                              THEN regexp_replace(rstr, '^\s*\[AND\]?\s*', '', 'i')
                            ELSE rstr END, '\d+[.)]\s*')
                     ELSE regexp_split_to_array(
                       CASE WHEN upper(rstr) LIKE '[OR%'
                              THEN regexp_replace(rstr, '^\s*\[OR\]?\s*', '', 'i')
                            WHEN upper(rstr) LIKE '[AND%'
                              THEN regexp_replace(rstr, '^\s*\[AND\]?\s*', '', 'i')
                            ELSE rstr END, '[\n;]+') END,
                   x -> trim(x)), x -> x <> '')
               ELSE CAST([] AS VARCHAR[]) END AS requires
           FROM fields),
         dfs AS (
           SELECT cid, label_raw, kind_raw, kp, es, logic, requires,
             CASE
               WHEN dlist IS NOT NULL THEN list_filter(dlist, x -> x <> '')
               WHEN dstr IS NOT NULL AND dstr <> '' THEN
                 list_filter(list_transform(
                   CASE WHEN regexp_matches(dstr, '(?m)^\s*\d+[.)]\s*')
                     THEN regexp_split_to_array(dstr, '\d+[.)]\s*')
                     ELSE regexp_split_to_array(dstr, '[\n;]+') END,
                   x -> trim(x)), x -> x <> '')
               ELSE CAST([] AS VARCHAR[]) END AS defeaters,
             CASE
               WHEN kp IS NULL OR kp = '' THEN CAST([] AS VARCHAR[])
               WHEN len(regexp_extract_all(kp, '"(.*?)"', 1)) > 0 THEN
                 list_filter(list_transform(regexp_extract_all(kp, '"(.*?)"', 1),
                   x -> trim(x)), x -> x <> '')
               ELSE list_filter(list_transform(string_split(kp, ','),
                 x -> trim(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(trim(x), '^"', ''), '"$', ''),
                   '^' || chr(39), ''), chr(39) || '$', ''))), x -> x <> '') END AS keyphrases,
             CASE WHEN es IS NULL THEN CAST([] AS VARCHAR[])
               ELSE list_filter(list_transform(
                 regexp_split_to_array(es, '[\n;]+|,'), x -> trim(x)),
                 x -> x <> '') END AS establishing
           FROM req)
         SELECT cid AS concept_id,
           CASE WHEN label_raw IS NOT NULL AND label_raw <> '' THEN label_raw
                ELSE cid END AS label,
           coalesce(kind_raw, '') AS kind, logic,
           CAST(len(requires) AS INT) AS n_requires,
           CAST(len(defeaters) AS INT) AS n_defeaters,
           CAST(len(keyphrases) AS INT) AS n_keyphrases,
           CAST(len(establishing) AS INT) AS n_establishing,
           md5(coalesce(array_to_string(requires, '|'), '')) AS req_md5,
           md5(coalesce(array_to_string(defeaters, '|'), '')) AS def_md5,
           md5(coalesce(array_to_string(keyphrases, '|'), '')) AS kp_md5,
           md5(coalesce(array_to_string(establishing, '|'), '')) AS est_md5
         FROM dfs ORDER BY concept_id""",

    "q91_json_serialize" ->
      // DuckDB's own JSON emitter (to_json over nested structs in the
      // writer's key order) rebuilds the document byte-for-byte: compact
      // separators, minimal escaping (the planted quote+backslash text
      // witnesses it), null struct -> null, typed empty arrays, int vs
      // null case_year, missing outcome -> null
      """WITH v AS (
           SELECT doc_id,
             CAST(doc_id % 2 AS INT) AS v2, CAST(doc_id % 3 AS INT) AS v3,
             CAST(doc_id % 4 AS INT) AS v4, CAST(doc_id % 5 AS INT) AS v5,
             'c' || CAST(doc_id AS VARCHAR) AS cid,
             (['high','medium','low','inferred'])[CAST(doc_id % 4 AS INT) + 1] AS conf
           FROM documents)
         SELECT doc_id,
           to_json(struct_pack(
             case_id := cid,
             facts := [struct_pack(
               id := 'f1', "type" := 'fact',
               text := (['The notice was served on time', 'he said "stop" \ now'])[v2 + 1],
               anchor := CASE WHEN v2 = 0 THEN struct_pack(
                   doc_id := 'doc', start_char := v5, end_char := v5 + 7,
                   text_hash := 'h' || CAST(v3 AS VARCHAR), display_location := 'p1',
                   secondary_spans := CASE WHEN v3 = 0
                     THEN [struct_pack(start_char := 1, end_char := 4)]
                     ELSE CAST([] AS STRUCT(start_char INT, end_char INT)[]) END,
                   surface_text := 'srf text') END,
               fact_type := (['procedural','substantive','finding'])[v3 + 1],
               court_finding := NULL::VARCHAR,
               confidence := conf, provenance := NULL::VARCHAR)],
             concepts := CAST([] AS VARCHAR[]),
             issues := CAST([] AS VARCHAR[]),
             arguments := CAST([] AS VARCHAR[]),
             holdings := [struct_pack(
               id := 'h1', "type" := 'holding', text := 'We hold so',
               anchor := NULL::VARCHAR, is_ratio := v5 <> 0,
               resolves_issue := CASE WHEN v3 = 0 THEN NULL ELSE 'i1' END,
               confidence := 'high', provenance := NULL::VARCHAR)],
             precedents := [struct_pack(
               id := 'p1', "type" := 'precedent', citation := 'AIR 1978 SC 597',
               anchor := NULL::VARCHAR, case_name := 'M v. U',
               case_year := CASE WHEN v5 = 0 THEN NULL
                 ELSE CAST(1950 + doc_id % 60 AS INT) END,
               citation_type := 'reported', text := NULL::VARCHAR,
               treatment := 'followed', relevance := 'high',
               confidence := 'high', provenance := NULL::VARCHAR)],
             outcome := CASE WHEN v4 <> 0 THEN struct_pack(
               id := 'o1', "type" := 'outcome', disposition := 'allowed',
               anchor := NULL::VARCHAR, relief_summary := 'relief granted',
               confidence := 'high', provenance := NULL::VARCHAR) END,
             justification_sets := [struct_pack(
               id := 'js1', "type" := 'justification_set', target_id := 'h1',
               logic := 'and', label := 'L', is_primary := v2 = 0,
               confidence := 'high', provenance := NULL::VARCHAR)],
             edges := [struct_pack(
               id := 'e1', source := 'f1', target := 'h1', relation := 'supports',
               anchor := NULL::VARCHAR,
               explanation := CASE WHEN v4 = 0 THEN NULL ELSE 'because' END,
               confidence := conf, strength := 'strong',
               support_group_ids := CASE WHEN v2 = 0 THEN ['js1']
                 ELSE CAST([] AS VARCHAR[]) END,
               is_critical := v3 = 0, provenance := NULL::VARCHAR)],
             reasoning_chains := [struct_pack(
               id := 'ch1', issue_id := 'i1', fact_ids := ['f1'],
               concept_ids := CAST([] AS VARCHAR[]),
               argument_ids := CAST([] AS VARCHAR[]),
               holding_id := 'h1', edge_ids := ['e1'],
               justification_set_id := CASE WHEN v2 = 0 THEN 'js1' ELSE NULL END,
               critical_nodes := CASE WHEN v3 = 0 THEN ['f1']
                 ELSE CAST([] AS VARCHAR[]) END,
               narrative := 'narrative text')],
             "_meta" := struct_pack(
               schema_version := '2.1.2',
               quality_tier := (['gold','silver','bronze','reject'])[v4 + 1],
               extraction_model := 'graft_rule_engine_v1',
               extraction_timestamp := NULL::VARCHAR,
               retry_attempts := 0,
               validation_warnings := CASE v3 WHEN 0 THEN CAST([] AS VARCHAR[])
                 WHEN 1 THEN ['w one'] ELSE ['w one','w two'] END)
           ))::VARCHAR AS json
         FROM v ORDER BY doc_id""",

    "q92_stream_rollup" ->
      // the streaming rollup is a plain per-(hour window, type) aggregate
      // once every row has arrived: date_trunc mirrors the epoch-aligned
      // 1-hour window; counts are exact; sums floor-rounded at 2dp
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
           event_type, CAST(count(*) AS BIGINT) AS n,
           floor(sum(value) * 100 + 0.5) / 100 AS sum_value2
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q93_stream_dedup" ->
      // with the watermark covering the whole planted time span, streaming
      // dedup emits exactly one row per distinct content hash — the key
      // set equals batch DISTINCT sha256
      """SELECT DISTINCT sha256(
           CASE WHEN doc_id % 5 = 0
                THEN 'planted duplicate body ' || CAST(doc_id % 7 AS VARCHAR)
                ELSE text END) AS text_hash
         FROM documents ORDER BY text_hash""",

    "q29_regex_qrels" ->
      // fallback-strategy patterns for the made-up concept ids reduce to the
      // two-token phrase regexes mirrored here
      """SELECT query_id, doc_id, rel FROM (
           SELECT 'UNLISTED_SPARK_JOIN' AS query_id, doc_id, 1 AS rel
           FROM documents WHERE regexp_matches(text, '(?i)(?:spark\s+join)')
           UNION ALL
           SELECT 'UNLISTED_WINDOW_FILTER' AS query_id, doc_id, 1 AS rel
           FROM documents WHERE regexp_matches(text, '(?i)(?:window\s+filter)')
           UNION ALL
           SELECT 'UNLISTED_CUSTOMER_ORDER' AS query_id, doc_id, 1 AS rel
           FROM documents WHERE regexp_matches(text, '(?i)(?:customer\s+order)'))
         ORDER BY query_id, doc_id""",
    "q31_citation_manifest" ->
      // same planted-citation construction + the two pattern families that
      // can fire on it (AIR, SCC-paren), RE2-mirrored case-insensitively;
      // grammar overlap-dedup is a no-op here (planted spans are disjoint)
      """WITH planted AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' AIR ' || (1950 + doc_id % 60)::VARCHAR ||
                       ' SC ' || (100 + doc_id % 90)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 4 = 0
                  THEN ' (' || (1990 + doc_id % 30)::VARCHAR || ') ' ||
                       (1 + doc_id % 9)::VARCHAR || ' SCC ' ||
                       (1 + doc_id % 500)::VARCHAR ELSE '' END AS text
           FROM documents),
         hits AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text,
               '(?i)\bAIR\s+\d{4}\s+(?:SC|Del|Bom|Mad|Cal|All|Ker|Kar|Pat|P&H|Guj|AP|HP|J&K|Ori|Raj|MP|Gau|Tri|NOC)\s+\d+')) AS citation,
             'air' AS citation_type
           FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\(\d{4}\)\s+\d{1,2}\s+SCC\s+\d+')) AS citation,
             'scc' AS citation_type
           FROM planted)
         SELECT citation, citation_type,
           count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits
         FROM hits GROUP BY 1, 2
         ORDER BY n_docs DESC, citation ASC LIMIT 50""",
    "q32_density_quartiles" ->
      // density proxy (distinct tokens + tokens + punctuation per token),
      // accuracy = langId prediction == lang label (q21's mirror). Quartile
      // edges mirror percentile_approx's exact regime: the element at rank
      // ceil(p*n) (ORDER BY density OFFSET ceil(p*n)-1); bin = 1 + count of
      // edges <= density (np.digitize convention, stateless both engines)
      """WITH t AS (
           SELECT doc_id, lang,
             string_split_regex(lower(text), '\W+') AS ltoks,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS cjk,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
           FROM documents),
         s AS (
           SELECT doc_id, lang, toks, punct, cjk,
             len(list_intersect(ltoks, ['the','and','of','to','is','that','for','with']))*1000
               + len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','that','for','with'], x))) AS s_en,
             len(list_intersect(ltoks, ['le','la','les','et','des','une','est','que']))*1000
               + len(list_filter(ltoks, x -> list_contains(['le','la','les','et','des','une','est','que'], x))) AS s_fr,
             len(list_intersect(ltoks, ['el','la','los','las','que','por','con','una']))*1000
               + len(list_filter(ltoks, x -> list_contains(['el','la','los','las','que','por','con','una'], x))) AS s_es,
             len(list_intersect(ltoks, ['der','die','das','und','ist','nicht','mit','ein']))*1000
               + len(list_filter(ltoks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS s_de
           FROM t),
         d AS (
           SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN (len(list_distinct(toks)) + len(toks) + punct) * 1.0 / len(toks)
                  ELSE 0.0 END AS density,
             len(toks) AS tokens,
             CASE WHEN (CASE WHEN cjk THEN 'zh'
                   WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                   WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                   WHEN s_en >= s_de THEN 'en'
                   ELSE 'de' END) = lang THEN 1 ELSE 0 END AS accuracy
           FROM s),
         e AS (
           SELECT
             (SELECT density FROM d ORDER BY density
              LIMIT 1 OFFSET cast(ceil(0.25 * (SELECT count(*) FROM d)) AS int) - 1) AS e1,
             (SELECT density FROM d ORDER BY density
              LIMIT 1 OFFSET cast(ceil(0.5 * (SELECT count(*) FROM d)) AS int) - 1) AS e2,
             (SELECT density FROM d ORDER BY density
              LIMIT 1 OFFSET cast(ceil(0.75 * (SELECT count(*) FROM d)) AS int) - 1) AS e3),
         q AS (
           SELECT d.*,
             1 + (CASE WHEN density >= e1 THEN 1 ELSE 0 END)
               + (CASE WHEN density >= e2 THEN 1 ELSE 0 END)
               + (CASE WHEN density >= e3 THEN 1 ELSE 0 END) AS quartile
           FROM d, e)
         SELECT quartile, count(*) AS n,
           round(avg(accuracy), 4) AS accuracy,
           round(avg(density), 6) AS mean_density,
           round(avg(tokens), 4) AS mean_tokens
         FROM q GROUP BY quartile ORDER BY quartile""",
    "q26_commons_tally" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderdate < '1996-01-01'
         INTERSECT
         SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderdate >= '1996-01-01'
         ORDER BY custkey""",
    "q17_minhash_dedup" ->
      // independent brute-force route: all-pairs exact 3-gram-shingle Jaccard
      // (the Spark side's LSH candidates + exact verify must find the same
      // pairs), then recursive min-label propagation for the canonical map
      """WITH RECURSIVE planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              for i in generate_series(1, len(toks)-2)])
             ELSE [array_to_string(toks, ' ')] END AS sh
           FROM (SELECT doc_id, string_split_regex(lower(text), '\W+') AS toks
                 FROM planted)),
         pairs AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)) >= 0.5),
         walk(id, lbl) AS (
           SELECT doc_id, doc_id FROM planted
           UNION
           SELECT p.dst, w.lbl FROM walk w JOIN pairs p ON p.src = w.id)
         SELECT id AS doc_id, min(lbl) AS canonical_id
         FROM walk GROUP BY id ORDER BY doc_id""",
    "q20_cosine_near_dup" ->
      // independent brute-force route: all-pairs exact cosine (520² is cheap
      // in DuckDB); the Spark side's LSH buckets must find the same pairs
      """WITH base AS (
           SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS e
           FROM embeddings WHERE vec_id < 20)
         SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cosine
         FROM base a JOIN base b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.e, b.e) >= 0.999
         ORDER BY a, b""",
    "q27_embedding_dedup" ->
      // recursive min-label propagation over the brute-force pair graph
      """WITH RECURSIVE base AS (
           SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS e
           FROM embeddings WHERE vec_id < 20),
         pairs AS (
           SELECT a.vec_id AS src, b.vec_id AS dst
           FROM base a JOIN base b
             ON a.vec_id <> b.vec_id
            AND list_cosine_similarity(a.e, b.e) >= 0.999),
         walk(id, lbl) AS (
           SELECT vec_id, vec_id FROM base
           UNION
           SELECT p.dst, w.lbl FROM walk w JOIN pairs p ON p.src = w.id)
         SELECT id AS vec_id, min(lbl) AS canonical_id
         FROM walk GROUP BY id ORDER BY vec_id""",
    "q18_simhash_pairs" ->
      // independent brute-force route: per-doc simhash recomputed in SQL
      // (FNV-1a per token via list_reduce in wraparound HUGEINT arithmetic,
      // 64 per-bit sign votes), then ALL-pairs hamming <= 3 via xor+bit_count
      // — the Spark side's quarter-bucket LSH candidates must find the same
      // pairs (pigeonhole-exact for hamming <= 3, caps unhit at this scale)
      """WITH planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
         t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS toks
           FROM planted),
         th AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(14695981039346656037::UBIGINT,
                            [unicode(c)::UBIGINT for c in string_split(tok, '')]),
               (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT
             ) AS h
           FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
         votes AS (
           SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM th, (SELECT unnest(generate_series(0, 63)) AS b)
           GROUP BY doc_id, b),
         sh AS (
           SELECT t.doc_id,
             coalesce((SELECT sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0 END)
                       FROM votes WHERE votes.doc_id = t.doc_id), 0)::UBIGINT AS simhash
           FROM t)
         SELECT a.doc_id AS a, b.doc_id AS b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY a, b""",
    "q19_fingerprint_pairs" ->
      // independent brute-force route: the winnowing fingerprint set
      // recomputed in SQL (char-8-gram FNV rolling hashes, window-of-4
      // SIGNED minima — the Scala loop compares signed longs), the same
      // df > 64 postings drop, then all-pairs shared-fingerprint counts
      """WITH planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
         t AS (
           SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s FROM planted),
         hsu AS (
           SELECT doc_id, s,
             [list_reduce(
                list_prepend(14695981039346656037::UBIGINT,
                             [unicode(c)::UBIGINT for c in string_split(s[i:i+7], '')]),
                (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT)
              for i in generate_series(1, len(s) - 7)] AS hs_u
           FROM t),
         hss AS (
           SELECT doc_id, s,
             [CASE WHEN u >= 9223372036854775808::UBIGINT
                   THEN (u::HUGEINT - 18446744073709551616)::BIGINT
                   ELSE u::BIGINT END
              FOR u IN hs_u] AS hs
           FROM hsu),
         w AS (
           SELECT doc_id,
             CASE WHEN len(s) < 8 THEN
               [CASE WHEN u >= 9223372036854775808::UBIGINT
                     THEN (u::HUGEINT - 18446744073709551616)::BIGINT
                     ELSE u::BIGINT END
                FOR u IN [list_reduce(
                  list_prepend(14695981039346656037::UBIGINT,
                               [unicode(c)::UBIGINT for c in string_split(s, '')]),
                  (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT)]]
             ELSE list_distinct([list_min(hs[i:i+3]) for i in generate_series(1, len(hs)-3)])
             END AS wins
           FROM hss),
         fp AS (SELECT doc_id, unnest(wins) AS fp FROM w),
         keepfp AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 64),
         kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN keepfp USING(fp))
         SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 20
         ORDER BY a, b""",
    "q22_ivf_topk" ->
      // full mirror of the static-anchor IVF: hash-derived anchors
      // (wraparound FNV arithmetic, integer-exact), cell assignment by
      // round-9 cosine argmax (ties -> highest cell, matching Spark's
      // greatest(struct)), top-4 probe per query (ties -> lowest cell,
      // matching the stable array_sort), then exact cosine top-k in the
      // probed cells only
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         a1 AS (
           SELECT c, i,
             ((xor(14695981039346656037::UBIGINT, (c * 1315423911 + i)::UBIGINT)::HUGEINT
               * 1099511628211) % 18446744073709551616)::UBIGINT AS h1
           FROM (SELECT unnest(generate_series(0, 15)) AS c),
                (SELECT unnest(generate_series(0, 63)) AS i)),
         a2 AS (SELECT c, i, xor(h1, h1 >> 29) AS h2 FROM a1),
         anchors AS (
           SELECT c, list(((h2 & 65535)::DOUBLE / 65535.0) * 2.0 - 1.0 ORDER BY i) AS vec
           FROM a2 GROUP BY c),
         bassign AS (
           SELECT vec_id, e, c,
             round(list_inner_product(e, vec)
               / (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(vec, vec))), 9) AS s
           FROM base, anchors),
         bcell AS (
           SELECT vec_id, e, c AS cell FROM (
             SELECT vec_id, e, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rn
             FROM bassign) t WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < 5),
         qassign AS (
           SELECT query_id, qe, c,
             round(list_inner_product(qe, vec)
               / (sqrt(list_inner_product(qe, qe)) * sqrt(list_inner_product(vec, vec))), 9) AS s
           FROM q, anchors),
         qprobe AS (
           SELECT query_id, qe, c AS cell FROM (
             SELECT query_id, qe, c,
               row_number() OVER (PARTITION BY query_id ORDER BY s DESC, c ASC) AS rn
             FROM qassign) t WHERE rn <= 4),
         scored AS (
           SELECT qp.query_id, b.vec_id,
             list_inner_product(qp.qe, b.e)
               / (sqrt(list_inner_product(qp.qe, qp.qe)) * sqrt(list_inner_product(b.e, b.e))) AS cos
           FROM qprobe qp JOIN bcell b USING (cell)
           WHERE b.vec_id <> qp.query_id)
         SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
           SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
           FROM scored) t WHERE rank <= 5
         ORDER BY query_id, rank""",
    "q23_media_features" ->
      // full mirror of the deterministic media stub: per-row xorshift payload
      // generation (recursive CTE in wraparound HUGEINT arithmetic), FNV-1a
      // over SIGN-EXTENDED payload bytes, the salted field mixer with Java
      // floorMod semantics, float32 feature cast, then the kind aggregates
      """WITH RECURSIVE media AS (
           SELECT i,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             64 + (i * 2654435761) % 192 AS ln,
             ((i::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT AS h0
           FROM (SELECT unnest(generate_series(0, (SELECT count(*) - 1 FROM documents))) AS i)),
         xs(i, j, h, ln) AS (
           SELECT i, 0, h0, ln FROM media
           UNION ALL
           SELECT i, j + 1,
             xor(
               xor(
                 xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT),
                 xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT) >> 7),
               ((xor(
                   xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT),
                   xor(h, ((h::HUGEINT * 8192) % 18446744073709551616)::UBIGINT) >> 7
                 )::HUGEINT * 131072) % 18446744073709551616)::UBIGINT),
             ln
           FROM xs WHERE j < ln),
         bytes AS (
           SELECT i, j, h & 255 AS b FROM xs WHERE j >= 1),
         blist AS (
           SELECT i,
             list(CASE WHEN b < 128 THEN b::UBIGINT
                       ELSE (18446744073709551360::UBIGINT + b) END ORDER BY j) AS sext
           FROM bytes GROUP BY i),
         fnv AS (
           SELECT i, list_reduce(
               list_prepend(14695981039346656037::UBIGINT, sext),
               (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT) AS h2
           FROM blist),
         feat AS (
           SELECT m.i, m.kind,
             CASE WHEN m.kind = 'audio' THEN 0 ELSE fld.w END AS width,
             CASE WHEN m.kind = 'image' THEN 1 ELSE fld.nf END AS n_frames,
             (fld.f0 / 1000.0)::FLOAT AS feat0
           FROM media m JOIN fnv USING (i),
           LATERAL (
             SELECT
               (((CASE WHEN x1w >= 9223372036854775808::UBIGINT
                       THEN x1w::HUGEINT - 18446744073709551616 ELSE x1w::HUGEINT END % 1920) + 1920) % 1920 + 64)::BIGINT AS w,
               (((CASE WHEN x1n >= 9223372036854775808::UBIGINT
                       THEN x1n::HUGEINT - 18446744073709551616 ELSE x1n::HUGEINT END % 300) + 300) % 300 + 1)::BIGINT AS nf,
               (((CASE WHEN x1f >= 9223372036854775808::UBIGINT
                       THEN x1f::HUGEINT - 18446744073709551616 ELSE x1f::HUGEINT END % 2000) + 2000) % 2000 - 1000)::BIGINT AS f0
             FROM (
               SELECT xor(x0w, x0w >> 31) AS x1w, xor(x0n, x0n >> 31) AS x1n, xor(x0f, x0f >> 31) AS x1f
               FROM (
                 SELECT
                   ((xor(h2, ((1::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT AS x0w,
                   ((xor(h2, ((3::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT AS x0n,
                   ((xor(h2, ((100::HUGEINT * 11400714819323198485) % 18446744073709551616)::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616)::UBIGINT AS x0f
               ) s0
             ) s1
           ) fld)
         SELECT kind, count(*) AS n,
           round(avg(width), 4) AS avg_width,
           round(avg(n_frames), 4) AS avg_frames,
           round(avg(feat0), 6) AS avg_feat0
         FROM feat GROUP BY kind ORDER BY kind""",
    "q21_lang_id" ->
      // mirrors TextAnalysis.langId: per-profile score = 1000×(distinct
      // profile words present) + total profile-word token count; argmax with
      // ties to the lexicographically greatest language; CJK short-circuit
      """WITH t AS (
           SELECT doc_id,
             string_split_regex(lower(text), '\W+') AS toks,
             regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS cjk
           FROM documents),
         s AS (
           SELECT doc_id, cjk,
             len(list_intersect(toks, ['the','and','of','to','is','that','for','with']))*1000
               + len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','for','with'], x))) AS s_en,
             len(list_intersect(toks, ['le','la','les','et','des','une','est','que']))*1000
               + len(list_filter(toks, x -> list_contains(['le','la','les','et','des','une','est','que'], x))) AS s_fr,
             len(list_intersect(toks, ['el','la','los','las','que','por','con','una']))*1000
               + len(list_filter(toks, x -> list_contains(['el','la','los','las','que','por','con','una'], x))) AS s_es,
             len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein']))*1000
               + len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS s_de
           FROM t)
         SELECT doc_id,
           CASE WHEN cjk THEN 'zh'
                WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                WHEN s_en >= s_de THEN 'en'
                ELSE 'de' END AS pred_lang
         FROM s ORDER BY doc_id""",
    "q25_tfidf_topk" ->
      // mirrors Retrieval.tfidfScores: 1-2 grams, sublinear tf (1+ln tf),
      // smooth idf (ln((1+N)/(1+df))+1), L2 norms both sides, cosine by
      // term join; query terms missing from the corpus drop out pre-norm
      """WITH dt AS (
           SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS t
           FROM documents),
         uni AS (SELECT id, unnest(t) AS term FROM dt),
         bii AS (SELECT id, t, unnest(generate_series(1, len(t)-1)) AS i
                 FROM dt WHERE len(t) >= 2),
         bi AS (SELECT id, t[i] || ' ' || t[i+1] AS term FROM bii),
         allt AS (SELECT id, term FROM uni UNION ALL SELECT id, term FROM bi),
         tf AS (SELECT id AS doc_id, term, count(*) AS tf FROM allt GROUP BY 1, 2),
         nd AS (SELECT count(*) AS n FROM documents),
         dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         w AS (SELECT doc_id, term,
                 (1.0 + ln(tf)) * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
               FROM tf JOIN dfs USING(term), nd),
         nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY doc_id),
         dvec AS (SELECT doc_id, term, w / nrm AS dw FROM w JOIN nrm USING(doc_id)),
         q AS (SELECT * FROM (VALUES (0, 'spark join merge'),
               (1, 'window filter scan')) AS v(query_id, qt)),
         qdt AS (SELECT query_id,
                   list_filter(string_split_regex(lower(qt), '\W+'), x -> len(x) > 0) AS t
                 FROM q),
         quni AS (SELECT query_id, unnest(t) AS term FROM qdt),
         qbii AS (SELECT query_id, t, unnest(generate_series(1, len(t)-1)) AS i
                  FROM qdt WHERE len(t) >= 2),
         qbi AS (SELECT query_id, t[i] || ' ' || t[i+1] AS term FROM qbii),
         qallt AS (SELECT query_id, term FROM quni
                   UNION ALL SELECT query_id, term FROM qbi),
         qtf AS (SELECT query_id, term, count(*) AS tf FROM qallt GROUP BY 1, 2),
         qw AS (SELECT query_id, term,
                  (1.0 + ln(tf)) * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS w
                FROM qtf JOIN dfs USING(term), nd),
         qnrm AS (SELECT query_id, sqrt(sum(w*w)) AS qn FROM qw GROUP BY query_id),
         qvec AS (SELECT query_id, term, w / qn AS qw FROM qw JOIN qnrm USING(query_id)),
         scores AS (SELECT query_id, doc_id, round(sum(qw * dw), 6) AS score
                    FROM qvec JOIN dvec USING(term) GROUP BY 1, 2)
         SELECT query_id, doc_id, score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
           FROM scores) WHERE rank <= 10
         ORDER BY query_id, rank""",
    "q24_bm25" ->
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf FROM (
             SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
             FROM documents) GROUP BY doc_id, term),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         stats AS (SELECT avg(dl) AS avgdl FROM dl),
         n AS (SELECT count(*) AS n FROM documents),
         dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         q AS (SELECT * FROM (VALUES (0, 'spark join merge'),
                (1, 'window filter scan'), (2, 'customer order line'))
                AS t(query_id, qtext)),
         qt AS (SELECT query_id,
                unnest(list_distinct(regexp_extract_all(lower(qtext), '[a-z0-9]+'))) AS term
                FROM q)
         SELECT qt.query_id AS query_id, tf.doc_id AS doc_id,
           round(sum(ln((n.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
             * (tf.tf * 2.5) / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
         FROM qt JOIN tf USING(term) JOIN dl USING(doc_id)
              JOIN dfs USING(term), stats, n
         GROUP BY qt.query_id, tf.doc_id
         ORDER BY query_id, doc_id"""
  )

  /** Oracle evidence grade, one grep-able line per oracleSql entry
    * (round-6 VERDICT "Next round" #5). Two grades:
    *  - "closed-form SQL mirror": the DuckDB SQL re-derives the expected
    *    values itself — relationally over the parquet inputs, or by
    *    replaying the planted-input formula / topology inline (literal
    *    constants, where present, are hand-derived from the planted
    *    construction, independent of both engines — e.g. q76/q77).
    *  - "published-script replay pin": the SQL compares against constants
    *    produced by executing the PUBLISHED reference script's own
    *    functions (or a documented independent replica, q79) offline —
    *    scripts/gen_*_oracle.py. Engine-independent by construction, but
    *    a replay pin rather than an in-SQL re-derivation.
    * SparkEntrySpec asserts keySet == oracleSql.keySet. */
  val oracleGrade: Map[String, String] = Map(
    "q01_pricing_summary" -> "closed-form SQL mirror",
    "q02_filter_project" -> "closed-form SQL mirror",
    "q03_exact_dedup" -> "closed-form SQL mirror",
    "q04_dedup_argmax" -> "closed-form SQL mirror",
    "q05_orphan_antijoin" -> "closed-form SQL mirror",
    "q06_window_topk" -> "closed-form SQL mirror",
    "q07_join_agg" -> "closed-form SQL mirror",
    "q08_token_stats" -> "closed-form SQL mirror",
    "q09_lang_profile" -> "closed-form SQL mirror",
    "q10_fingerprint" -> "closed-form SQL mirror",
    "q11_event_hourly" -> "closed-form SQL mirror",
    "q12_user_rollup" -> "closed-form SQL mirror",
    "q13_order_years" -> "closed-form SQL mirror",
    "q14_embed_stats" -> "closed-form SQL mirror",
    "q15_quality_score" -> "closed-form SQL mirror",
    "q16_embed_topk" -> "closed-form SQL mirror",
    "q17_minhash_dedup" -> "closed-form SQL mirror",
    "q18_simhash_pairs" -> "closed-form SQL mirror",
    "q19_fingerprint_pairs" -> "closed-form SQL mirror",
    "q20_cosine_near_dup" -> "closed-form SQL mirror",
    "q21_lang_id" -> "closed-form SQL mirror",
    "q22_ivf_topk" -> "closed-form SQL mirror",
    "q23_media_features" -> "closed-form SQL mirror",
    "q24_bm25" -> "closed-form SQL mirror",
    "q25_tfidf_topk" -> "closed-form SQL mirror",
    "q26_commons_tally" -> "closed-form SQL mirror",
    "q27_embedding_dedup" -> "closed-form SQL mirror",
    "q28_token_jaccard" -> "closed-form SQL mirror",
    "q29_regex_qrels" -> "closed-form SQL mirror",
    "q31_citation_manifest" -> "closed-form SQL mirror",
    "q32_density_quartiles" -> "closed-form SQL mirror",
    "q33_negativity" -> "closed-form SQL mirror",
    "q34_concept_score" -> "closed-form SQL mirror",
    "q35_norm_hash" -> "closed-form SQL mirror",
    "q36_turkish_fold" -> "closed-form SQL mirror",
    "q37_reachability" -> "closed-form SQL mirror",
    "q38_relation_coerce" -> "closed-form SQL mirror",
    "q39_quality_tier" -> "closed-form SQL mirror",
    "q40_actor_coerce" -> "closed-form SQL mirror",
    "q41_relation_validate" -> "closed-form SQL mirror",
    "q42_concept_match" -> "closed-form SQL mirror",
    "q43_doc_window" -> "closed-form SQL mirror",
    "q44_quote_align" -> "closed-form SQL mirror",
    "q45_toulmin" -> "closed-form SQL mirror",
    "q46_holding_support" -> "closed-form SQL mirror",
    "q47_counterfactual" -> "closed-form SQL mirror",
    "q48_js_members" -> "closed-form SQL mirror",
    "q49_graph_quality" -> "closed-form SQL mirror",
    "q50_keyphrase_parse" -> "closed-form SQL mirror",
    "q51_requires_parse" -> "closed-form SQL mirror",
    "q52_image_decode" -> "closed-form SQL mirror",
    "q53_assemble_order" -> "closed-form SQL mirror",
    "q54_sanitize_id" -> "closed-form SQL mirror",
    "q55_overlap_dedup" -> "closed-form SQL mirror",
    "q56_legit_orphan" -> "closed-form SQL mirror",
    "q57_canonical_rewrite" -> "closed-form SQL mirror",
    "q58_scheme_norm" -> "closed-form SQL mirror",
    "q59_relation_repair" -> "closed-form SQL mirror",
    "q60_contains_phrase" -> "closed-form SQL mirror",
    "q61_resolve_issue" -> "closed-form SQL mirror",
    "q62_outcome_link" -> "closed-form SQL mirror",
    "q63_edge_dedup" -> "closed-form SQL mirror",
    "q64_graph_validate" -> "closed-form SQL mirror",
    "q65_requirement_sat" -> "closed-form SQL mirror",
    "q66_automaton_scan" -> "closed-form SQL mirror",
    "q67_echr_citations" -> "closed-form SQL mirror",
    "q68_turkish_citations" -> "closed-form SQL mirror",
    "q69_segment_offsets" -> "closed-form SQL mirror",
    "q70_cluster_argmax" -> "closed-form SQL mirror",
    "q72_anchor_repair" -> "closed-form SQL mirror",
    "q73_repair_score" -> "closed-form SQL mirror",
    "q74_justification_sets" -> "closed-form SQL mirror",
    "q75_cluster_edges" -> "closed-form SQL mirror",
    "q76_reasoning_chains" -> "closed-form SQL mirror",
    "q77_repair_engine" -> "closed-form SQL mirror",
    "q78_knn_predict" -> "closed-form SQL mirror",
    "q79_blinding" -> "published-script replay pin",
    "q80_confidence_sweep" -> "published-script replay pin",
    "q81_ranking_metrics" -> "closed-form SQL mirror",
    "q82_significance" -> "closed-form SQL mirror",
    "q83_bootstrap_ci" -> "published-script replay pin",
    "q84_density_stats" -> "closed-form SQL mirror",
    "q85_violations_filter" -> "closed-form SQL mirror",
    "q86_tier_filter" -> "closed-form SQL mirror",
    "q87_completed_skip" -> "closed-form SQL mirror",
    "q88_corpus_validation" -> "closed-form SQL mirror",
    "q89_transcript_gen" -> "closed-form SQL mirror",
    "q90_ontology_load" -> "closed-form SQL mirror",
    "q91_json_serialize" -> "closed-form SQL mirror",
    "q92_stream_rollup" -> "closed-form SQL mirror",
    "q93_stream_dedup" -> "closed-form SQL mirror"
  )

}
