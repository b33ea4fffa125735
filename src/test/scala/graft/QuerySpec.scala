package graft

import graft.kg.gen.TranscriptGen
import graft.kg.pipeline.KgPipeline
import graft.kg.query.{GraphOps, Retrieval}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Row shapes of the graph-operator tests (top level: Spark encoders cannot
  * build inner classes). */
final case class KAnchor(startChar: Int, endChar: Int)
final case class KNode(convId: String, id: String, nodeType: String,
                       resolvesIssue: String = null, anchor: KAnchor = null)
final case class KEdge(convId: String, source: String, target: String, relation: String,
                       supportGroupIds: Seq[String] = Nil)
final case class KJs(convId: String, id: String, targetId: String, logic: String,
                     isPrimary: Option[Boolean])

class QuerySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-query-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()
  import spark.implicits._

  private lazy val transcripts = TranscriptGen.turns(30, 12).toDF()
  private lazy val nodes = KgPipeline.nodesDirect(spark, transcripts).toDF().cache()
  private lazy val edges = KgPipeline.edgesDirect(spark, transcripts).toDF().cache()
  private lazy val js = {
    implicit val e = org.apache.spark.sql.Encoders.product[graft.kg.model.JustificationSetRow]
    KgPipeline.flatExtract(spark, transcripts)(_.justificationSets).toDF().cache()
  }

  test("driver query plans: filter/projection pushdown and broadcast joins") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    val plan02 = SparkEntry.queries("q02_filter_project")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan02.contains("PushedFilters") &&
      plan02.contains("GreaterThanOrEqual(n_chars,300"), plan02.take(1500))
    // projection pruning: the scan reads 3 columns, not the text blob
    assert(!plan02.contains("text"), "text column should be pruned from the scan")
    val plan07 = SparkEntry.queries("q07_join_agg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan07.contains("BroadcastHashJoin"), plan07.take(1500))
  }

  test("linearization is stable and ordered by node type") {
    val a = Retrieval.linearizeStable(nodes).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val b = Retrieval.linearizeStable(nodes.repartition(13)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.nonEmpty)
    assert(a.values.forall(_.nonEmpty))
  }

  test("tfidf ranks the self-document first for a distinctive query") {
    val docs = Retrieval.linearizeStable(nodes)
    val someDoc = docs.orderBy("conv_id").first()
    val queryText = someDoc.getString(1).split(" ").take(25).mkString(" ")
    val queries = Seq((someDoc.getString(0), queryText)).toDF("query_id", "query_text")
    val top = Retrieval.topK(
      Retrieval.tfidfScores(spark, docs, queries), 3, docCol = "doc_id").collect()
    assert(top.nonEmpty)
    assert(top.head.getAs[String]("doc_id") == someDoc.getString(0))
  }

  test("bm25 scores are positive and rank term-bearing docs") {
    val docs = Seq(
      ("d1", "natural justice hearing opportunity fairness"),
      ("d2", "arbitrary classification differentia nexus"),
      ("d3", "proportionality aim restrictive means balancing")).toDF("conv_id", "doc_text")
    val queries = Seq(("q1", "natural justice")).toDF("query_id", "query_text")
    val out = Retrieval.bm25Scores(spark, docs, queries).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("doc_id") == "d1")
    assert(out.head.getAs[Double]("score") > 0)
  }

  test("concept-set retrieval scores exact and fuzzy matches") {
    val scores = Retrieval.conceptSetScores(spark, nodes,
      Seq("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM", "NATURAL_JUSTICE"))
    val rows = scores.collect()
    assert(rows.nonEmpty)
    // exact query id scores the grade (supporting=3); fuzzy scores grade*sim < 3
    val exact = rows.filter(_.getAs[String]("query_cid").startsWith("DOCTRINE_"))
    assert(exact.forall(_.getAs[Double]("score") == 3.0))
    val fuzzy = rows.filter(_.getAs[String]("query_cid") == "NATURAL_JUSTICE")
    assert(fuzzy.forall(r => r.getAs[Double]("score") > 0 && r.getAs[Double]("score") < 3.0))
  }

  test("toulmin buckets argument in-edges by source type") {
    val t = GraphOps.toulmin(nodes, edges)
    val rows = t.collect()
    if (rows.nonEmpty) {
      for (r <- rows) {
        val all = r.getSeq[String](2) ++ r.getSeq[String](3) ++
          r.getSeq[String](4) ++ r.getSeq[String](5)
        assert(all.nonEmpty)
      }
    }
    // arguments appear as edge targets rarely in v1 (most argument edges point
    // AT holdings); assert the op runs and respects the schema either way
    assert(t.columns.toSeq ==
      Seq("conv_id", "argument_id", "grounds", "warrants", "backing", "rebuttals"))
  }

  test("holding support lists grounding concepts, supporting facts, JS") {
    val hs = GraphOps.holdingSupport(nodes, edges, js)
    val rows = hs.collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getSeq[String](2).nonEmpty)) // grounding concepts
    assert(rows.exists(r => Option(r.getSeq[String](4)).exists(_.nonEmpty))) // js
  }

  test("toulmin + holding support match the published graph methods on reference corpora") {
    val fixtureUrl = getClass.getResource("/graft/ref_graphops_fixture.json")
    assert(fixtureUrl != null)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fixture = mapper.readTree(fixtureUrl)
    val dir = new java.io.File("/root/reference/iltur_graphs")
    assume(dir.isDirectory)
    implicit val nodeEnc = org.apache.spark.sql.Encoders.product[graft.kg.model.Node]
    implicit val edgeEnc = org.apache.spark.sql.Encoders.product[graft.kg.model.EdgeRow]
    implicit val jsEnc = org.apache.spark.sql.Encoders.product[graft.kg.model.JustificationSetRow]
    var checked = 0
    val it = fixture.elements()
    while (it.hasNext) {
      val c = it.next()
      val g = graft.kg.io.RefGraphJson.parseFile(s"${dir.getPath}/${c.path("file").asText()}")
      val n = spark.createDataset(g.nodes).toDF()
      val e = spark.createDataset(g.edges).toDF()
      val j = spark.createDataset(g.justificationSets).toDF()

      def expected(field: String, idField: String): Map[String, Map[String, Seq[String]]] = {
        val m = scala.collection.mutable.Map.empty[String, Map[String, Seq[String]]]
        val fit = c.path(field).elements()
        while (fit.hasNext) {
          val x = fit.next()
          val lists = scala.collection.mutable.Map.empty[String, Seq[String]]
          val fields = x.fields()
          while (fields.hasNext) {
            val ent = fields.next()
            if (ent.getValue.isArray) {
              import scala.jdk.CollectionConverters._
              lists(ent.getKey) = ent.getValue.elements().asScala.map(_.asText()).toSeq
            }
          }
          m(x.path(idField).asText()) = lists.toMap
        }
        m.toMap
      }

      val expT = expected("toulmin", "argument_id")
      val gotT = GraphOps.toulmin(n, e).collect().map { r =>
        r.getString(1) -> Map(
          "grounds" -> r.getSeq[String](2), "warrants" -> r.getSeq[String](3),
          "backing" -> r.getSeq[String](4), "rebuttals" -> r.getSeq[String](5))
      }.toMap
      for ((aid, exp) <- expT) {
        val got = gotT.getOrElse(aid,
          Map("grounds" -> Nil, "warrants" -> Nil, "backing" -> Nil, "rebuttals" -> Nil))
        assert(got == exp, s"toulmin $aid in ${c.path("file").asText()}")
      }
      // no extra non-empty structures beyond the fixture's arguments
      assert(gotT.keySet.subsetOf(expT.keySet))

      val expH = expected("holding_support", "holding_id")
      val gotH = GraphOps.holdingSupport(n, e, j).collect().map { r =>
        r.getString(1) -> Map(
          "grounding_concepts" -> r.getSeq[String](2),
          "supporting_facts" -> r.getSeq[String](3),
          "justification_sets" -> Option(r.getSeq[String](4)).getOrElse(Seq.empty))
      }.toMap
      for ((hid, exp) <- expH) {
        val got = gotH.getOrElse(hid, Map("grounding_concepts" -> Nil,
          "supporting_facts" -> Nil, "justification_sets" -> Nil))
        assert(got == exp, s"holding support $hid in ${c.path("file").asText()}")
      }

      // counterfactual_remove_concept parity
      val cit = c.path("counterfactuals").elements()
      while (cit.hasNext) {
        val x = cit.next()
        val cid = x.path("concept").asText()
        import scala.jdk.CollectionConverters._
        val expAffected = x.path("affected").elements().asScala.map(_.asText()).toSeq
        val expOutcome = x.path("outcome_affected").asBoolean()
        val removed = GraphOps.counterfactualRemoveConcept(n, e, j, cid)
        val gotAffected = removed.filter(col("affected"))
          .select("holding_id").collect().map(_.getString(0)).sorted.toSeq
        assert(gotAffected == expAffected,
          s"counterfactual $cid in ${c.path("file").asText()}")
        val gotOutcome = GraphOps.counterfactualOutcomeFlag(removed, e)
          .collect().headOption.exists(r => !r.isNullAt(1) && r.getBoolean(1))
        assert(gotOutcome == expOutcome,
          s"outcome flag for $cid in ${c.path("file").asText()}")
      }

      // trace_reasoning_path parity: edge-list-order BFS shortest paths
      val pit = c.path("paths").elements()
      while (pit.hasNext) {
        val p = pit.next()
        import scala.jdk.CollectionConverters._
        val expected = p.path("path").elements().asScala.map(_.asText()).toSeq
        val got = GraphOps.tracePath(g.edges,
          p.path("start").asText(), p.path("end").asText())
        assert(got == expected,
          s"path ${p.path("start").asText()}->${p.path("end").asText()} in ${c.path("file").asText()}")
      }
      checked += 1
    }
    assert(checked >= 15, s"only $checked graphs checked")
  }

  test("counterfactual: removing the sole AND-support breaks the holding") {
    // hand-built micro graph: one holding, one primary AND js, one support edge
    val n = Seq(
      ("c0", "f1", "fact"), ("c0", "h1", "holding")).toDF("convId", "id", "nodeType")
    val e = Seq(
      ("c0", "e1", "f1", "h1", "supports", Seq("js1"))
    ).toDF("convId", "id", "source", "target", "relation", "supportGroupIds")
    val j = Seq(("c0", "js1", "h1", "and", true))
      .toDF("convId", "id", "targetId", "logic", "isPrimary")
    val broken = GraphOps.counterfactual(n, e, j, "f1").collect()
    assert(broken.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("c0", "h1")))
    val notBroken = GraphOps.counterfactual(n, e, j, "f999").collect()
    assert(notBroken.isEmpty)
  }

  test("counterfactual outcome propagation") {
    val n = Seq(
      ("c0", "f1", "fact"), ("c0", "h1", "holding"), ("c0", "h2", "holding"),
      ("c0", "outcome", "outcome")).toDF("convId", "id", "nodeType")
    val e = Seq(
      ("c0", "e1", "f1", "h1", "supports", Seq("js1")),
      ("c0", "e2", "f1", "h2", "supports", Seq("js2")),
      ("c0", "e3", "h1", "outcome", "determines", Seq.empty[String]),
      ("c0", "e4", "h2", "outcome", "determines", Seq.empty[String])
    ).toDF("convId", "id", "source", "target", "relation", "supportGroupIds")
    val j = Seq(("c0", "js1", "h1", "and", true), ("c0", "js2", "h2", "and", true))
      .toDF("convId", "id", "targetId", "logic", "isPrimary")
    // removing f1 breaks BOTH determining holdings → outcome affected
    val out = GraphOps.counterfactualOutcome(n, e, j, "f1").collect()
    assert(out.length == 1 && out.head.getAs[Boolean]("outcome_affected"))
    assert(out.head.getSeq[String](2) == Seq("h1", "h2"))
    // removing nothing relevant → not affected
    val out2 = GraphOps.counterfactualOutcome(n, e, j, "f999").collect()
    assert(out2.length == 1 && !out2.head.getAs[Boolean]("outcome_affected"))
  }

  test("rank metrics: perfect ranking scores 1.0, inverted scores less") {
    import graft.kg.eval.RankMetrics
    val qrels = Seq(("q1", "d1", 2), ("q1", "d2", 1)).toDF("query_id", "doc_id", "rel")
    val perfect = Seq(("q1", "d1", 0.9), ("q1", "d2", 0.8), ("q1", "d3", 0.1))
      .toDF("query_id", "doc_id", "score")
    val m = RankMetrics.perQuery(perfect, qrels, k = 3).collect().head
    assert(m.getAs[Double]("ndcg") == 1.0)
    assert(m.getAs[Double]("ap") == 1.0)
    assert(math.abs(m.getAs[Double]("p_at_3") - 2.0 / 3) < 1e-6)
    val inverted = Seq(("q1", "d3", 0.9), ("q1", "d2", 0.8), ("q1", "d1", 0.1))
      .toDF("query_id", "doc_id", "score")
    val mi = RankMetrics.perQuery(inverted, qrels, k = 3).collect().head
    assert(mi.getAs[Double]("ndcg") < 1.0)
    val sum = RankMetrics.summary(perfect, qrels, 3).collect().head
    assert(sum.getAs[Double]("map") == 1.0)
  }

  test("reachability BFS walks support edges") {
    val e = Seq(
      ("c0", "e1", "f1", "a1", "supports"),
      ("c0", "e2", "a1", "h1", "supports"),
      ("c0", "e3", "h1", "i1", "resolves")).toDF("convId", "id", "source", "target", "relation")
    val r = GraphOps.reachable(spark, e, "f1").collect()
      .map(x => x.getString(1)).toSet
    assert(r == Set("a1", "h1", "i1"))
  }

  /** Nodes at the end of a walk of length 1..maxDepth from `start` inside
    * one conversation's edge list: a closure over walk lengths, not a BFS. */
  private def walkClosure(edges: Seq[(String, String)], start: String, maxDepth: Int): Set[String] =
    (1 to maxDepth).scanLeft(Set(start)) { (ends, _) =>
      edges.collect { case (s, t) if ends(s) => t }.toSet
    }.tail.flatten.toSet

  private def bruteReach(rows: Seq[(String, String, String)], start: String, maxDepth: Int) =
    rows.groupBy(_._1).toSeq.flatMap { case (conv, es) =>
      walkClosure(es.map(e => (e._2, e._3)), start, maxDepth).map(conv -> _)
    }.toSet

  test("reachable equals the closure of walk lengths 1..maxDepth per conversation") {
    val fixed = Seq(
      // cycle back to the start: s is reached again at depth 3
      ("cyc", "s", "x"), ("cyc", "x", "y"), ("cyc", "y", "s"), ("cyc", "y", "z"),
      // a path longer than maxDepth = 3
      ("long", "s", "p1"), ("long", "p1", "p2"), ("long", "p2", "p3"),
      ("long", "p3", "p4"), ("long", "p4", "p5"),
      // self-loops and duplicate edges
      ("self", "s", "s"), ("self", "s", "q"), ("self", "s", "q"), ("self", "q", "q"),
      ("self", "q", "r"), ("self", "q", "r"),
      // no edge leaves the start
      ("cold", "a", "b"), ("cold", "b", "s"),
      // short and long routes to the same node
      ("diamond", "s", "m"), ("diamond", "m", "t"), ("diamond", "s", "u"),
      ("diamond", "u", "v"), ("diamond", "v", "w"), ("diamond", "w", "t"))
    val rnd = new scala.util.Random(7)
    val random = (0 until 12).flatMap { c =>
      def node() = if (rnd.nextInt(4) == 0) "s" else s"n${rnd.nextInt(5)}"
      Seq.fill(rnd.nextInt(10))((s"r$c", node(), node()))
    }
    val rows = fixed ++ random
    // one row per input partition: every conversation spans several
    val df = spark.sparkContext.parallelize(rows, rows.size).toDF("convId", "source", "target")
    val longParts = df.rdd.mapPartitionsWithIndex((i, it) =>
      it.filter(_.getString(0) == "long").map(_ => i)).distinct().count()
    assert(longParts >= 2, s"conversation 'long' spans $longParts input partitions")
    for (d <- Seq(1, 2, 3, 5)) {
      val got = GraphOps.reachable(spark, df, "s", d).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got.distinct.size == got.size, s"duplicate rows at maxDepth $d")
      assert(got.toSet == bruteReach(rows, "s", d), s"maxDepth $d")
    }
    val at3 = GraphOps.reachable(spark, df, "s", 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(at3.filter(_._1 == "cyc") == Set("x", "y", "s", "z").map("cyc" -> _))
    assert(at3.filter(_._1 == "long") == Set("p1", "p2", "p3").map("long" -> _))
    assert(at3.filter(_._1 == "self") == Set("s", "q", "r").map("self" -> _))
    assert(!at3.exists(_._1 == "cold"))
    intercept[IllegalArgumentException](GraphOps.reachable(spark, df, "s", 0))
  }

  test("reachable drops edges with a null convId, source or target") {
    val rows = Seq[(String, String, String)](
      ("c", "s", "x"), ("c", "x", null), ("c", null, "y"), ("c", "s", null),
      (null, "s", "x"), (null, "x", "y"))
    val got = GraphOps.reachable(spark, rows.toDF("convId", "source", "target"), "s")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("c", "x")))
  }

  test("quality score: empty denominators score 0.0 instead of dividing by zero") {
    // c1 has no issue node; c2's only node is an outcome and it has no edges
    val n = Seq(
      KNode("c1", "f1", "fact", anchor = KAnchor(0, 5)),
      KNode("c1", "h1", "holding", anchor = KAnchor(3, 3)),
      KNode("c2", "outcome", "outcome", anchor = KAnchor(0, 9))).toDF()
    val e = Seq(KEdge("c1", "f1", "h1", "supports")).toDF()
    val got = graft.kg.query.GraphQuality.score(n, e).collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getDouble)).toMap
    // edge validity, connectivity, issue resolution, anchor quality, score
    assert(got == Map(
      "c1" -> Seq(1.0, 1.0, 0.0, 0.5, 7.5),
      "c2" -> Seq(0.0, 0.0, 0.0, 1.0, 2.0)))
  }

  // --- the per-conversation graph operators against a brute-force
  //     recomputation: every relation is a nested loop over the
  //     conversation's rows, so duplicate node rows repeat matches exactly
  //     as a join does; rows with a null convId belong to no conversation ---

  private def kernelInputs: (Seq[KNode], Seq[KEdge], Seq[KJs]) = {
    val nodes = Seq(
      // duplicate node rows (f2 twice, a1 twice), null and degenerate anchors
      KNode("d", "f1", "fact", anchor = KAnchor(0, 4)), KNode("d", "f2", "fact"),
      KNode("d", "f2", "fact", anchor = KAnchor(7, 7)), KNode("d", "c1", "concept"),
      KNode("d", "p1", "precedent", anchor = KAnchor(9, 2)), KNode("d", "a1", "argument"),
      KNode("d", "a1", "argument"), KNode("d", "a2", "argument"),
      KNode("d", "h1", "holding", "i1"), KNode("d", "h2", "holding", "i9"),
      KNode("d", "h3", "holding"), KNode("d", "i1", "issue"), KNode("d", "i1", "issue"),
      KNode("d", "i2", "issue"), KNode("d", "outcome", "outcome"),
      KNode("d", null, "fact"), KNode(null, "f1", "fact"))
    val edges = Seq(
      KEdge("d", "f1", "a1", "supports"), KEdge("d", "c1", "a1", "supports"),
      KEdge("d", "p1", "a1", "supports"), KEdge("d", "f1", "a2", "attacks"),
      KEdge("d", "c1", "a2", "grounds"), KEdge("d", "zz9", "a2", "rebuts"),
      KEdge("d", "f1", "h1", "supports", Seq("js1")), KEdge("d", "c1", "h1", "grounds", Seq("js1")),
      KEdge("d", "f1", "h2", "supports", Seq("js2", "js3")), KEdge("d", "nope", "h2", "grounds"),
      KEdge("d", "h1", "i1", "resolves"), KEdge("d", "h1", "outcome", "determines"),
      KEdge("d", "f1", "h1", null), KEdge(null, "f2", "h1", "supports", Seq("js1")),
      // a conversation with edges but no nodes
      KEdge("bare", "f1", "h1", "supports", Seq("jsb")))
    val js = Seq(
      // removing f1 breaks js1 (and) and js2 (or, sole member): h1 and h2 break
      KJs("d", "js1", "h1", "and", Some(true)), KJs("d", "js2", "h2", "or", Some(true)),
      KJs("d", "js3", "h2", null, Some(false)),
      // a holding with justification sets but no in-edges
      KJs("d", "js4", "h3", "and", Some(true)), KJs("d", "js5", "h1", "or", None),
      KJs("bare", "jsb", "h1", "and", Some(true)))
    val rnd = new scala.util.Random(11)
    val types = Seq("fact", "concept", "precedent", "argument", "holding", "issue")
    val rels = Seq("supports", "grounds", "attacks", "rebuts", "undercuts", "addresses",
      "resolves", "determines", null)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def id() = if (rnd.nextInt(9) == 0) "outcome" else s"${"fchai p".charAt(rnd.nextInt(7))}${rnd.nextInt(3)}"
    val random = (0 until 10).map { i =>
      val c = s"r$i"
      val ns = Seq.fill(rnd.nextInt(9)) {
        val t = pick(types :+ "outcome")
        KNode(c, if (rnd.nextInt(12) == 0) null else s"${t.head}${rnd.nextInt(3)}", t,
          pick(Seq(null, "i0", "i1")),
          pick(Seq(null, KAnchor(0, 0), KAnchor(1, 6), KAnchor(4, 2))))
      }
      val es = Seq.fill(rnd.nextInt(10))(KEdge(c, id(), id(), pick(rels),
        Seq.fill(rnd.nextInt(3))(s"js${rnd.nextInt(3)}")))
      val jss = Seq.fill(rnd.nextInt(4))(KJs(c, s"js${rnd.nextInt(3)}", s"h${rnd.nextInt(3)}",
        pick(Seq("and", "or", null)), pick(Seq(Some(true), Some(false), None))))
      (ns, es, jss)
    }
    (nodes ++ random.flatMap(_._1), edges ++ random.flatMap(_._2), js ++ random.flatMap(_._3))
  }

  /** One row per input partition: every conversation spans several. */
  private def spread[A <: Product : org.apache.spark.sql.Encoder : scala.reflect.ClassTag](
      rows: Seq[A]): org.apache.spark.sql.DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, rows.size)).toDF()

  private def byConv[A](rows: Seq[A])(conv: A => String): Map[String, Seq[A]] =
    rows.filter(conv(_) != null).groupBy(conv)

  /** (conv, target, source, source type, relation) per matching
    * (edge, source node row, target node row) of type `targetType`. */
  private def bruteInEdges(ns: Seq[KNode], es: Seq[KEdge], targetType: String) = for {
    (c, ces) <- byConv(es)(_.convId).toSeq
    cns = ns.filter(_.convId == c)
    e <- ces
    src <- cns if src.id != null && src.id == e.source
    tgt <- cns if tgt.nodeType == targetType && tgt.id != null && tgt.id == e.target
  } yield (c, e.target, e.source, src.nodeType, e.relation)

  private def sourcesOf(in: Seq[(String, String, String, String, String)])(
      keep: (String, String) => Boolean): Seq[String] =
    in.filter(x => keep(x._4, x._5)).map(_._3).sorted

  test("graph operators equal a brute-force per-conversation recomputation") {
    val (nodes, edges, js) = kernelInputs
    val (n, e, j) = (spread(nodes), spread(edges), spread(js))
    val dParts = e.rdd.mapPartitionsWithIndex((i, it) =>
      it.filter(_.getAs[String]("convId") == "d").map(_ => i)).distinct().count()
    assert(dParts >= 2, s"conversation 'd' spans $dParts input partitions")
    // null ids sort first; arrays compare element by element
    implicit val strOrd: Ordering[String] = Ordering.fromLessThan[String]((a, b) =>
      a == null && b != null || a != null && b != null && a < b)
    implicit val seqOrd: Ordering[Seq[String]] = Ordering.Implicits.seqOrdering[Seq, String]
    def sortedRows[A: Ordering](xs: Seq[A]) = xs.sorted

    // toulmin
    val expT = bruteInEdges(nodes, edges, "argument").groupBy(x => (x._1, x._2)).toSeq.map {
      case ((c, a), in) =>
        def from(t: String) = sourcesOf(in)((st, r) => r == "supports" && st == t)
        (c, a, from("fact"), from("concept"), from("precedent"),
          sourcesOf(in)((_, r) => Set("attacks", "rebuts", "undercuts")(r)))
    }
    val gotT = GraphOps.toulmin(n, e).collect().toSeq.map(r => (r.getString(0), r.getString(1),
      r.getSeq[String](2), r.getSeq[String](3), r.getSeq[String](4), r.getSeq[String](5)))
    assert(sortedRows(gotT) == sortedRows(expT))
    assert(expT.count(_._1 == "d") == 2)

    // holding support: a holding without in-edges gets no row
    val expH = bruteInEdges(nodes, edges, "holding").groupBy(x => (x._1, x._2)).toSeq.map {
      case ((c, h), in) =>
        val sets = js.filter(x => x.convId == c && x.targetId == h)
        (c, h, sourcesOf(in)((_, r) => r == "grounds"),
          sourcesOf(in)((st, r) => st == "fact" && r == "supports"),
          if (sets.isEmpty) None else Some(sets.map(_.id).filter(_ != null).sorted))
    }
    val gotH = GraphOps.holdingSupport(n, e, j).collect().toSeq.map(r => (r.getString(0),
      r.getString(1), r.getSeq[String](2), r.getSeq[String](3), Option(r.getSeq[String](4))))
    assert(sortedRows(gotH) == sortedRows(expH))
    assert(!gotH.exists(_._2 == "h3") && gotH.count(_._1 == "d") == 2)

    // counterfactual: a holding breaks when every primary set with members breaks
    for (removed <- Seq("f1", "c1", "f0", "zz9")) {
      val expC = for {
        (c, sets) <- byConv(js)(_.convId).toSeq
        (h, hs) <- sets.filter(_.isPrimary.contains(true)).groupBy(_.targetId).toSeq
        broken = hs.flatMap { s =>
          val members = edges.filter(x => x.convId == c && x.supportGroupIds != null &&
            x.supportGroupIds.contains(s.id)).map(_.source)
          if (s.id == null || members.isEmpty) None
          else Some(if (s.logic == "and") members.contains(removed) else members.forall(_ == removed))
        }
        if broken.nonEmpty && broken.forall(identity)
      } yield (c, h)
      val gotC = GraphOps.counterfactual(n, e, j, removed).collect().toSeq
        .map(r => (r.getString(0), r.getString(1)))
      assert(sortedRows(gotC) == sortedRows(expC), s"removing $removed")
      if (removed == "f1") assert(gotC.filter(_._1 == "d").map(_._2).sorted == Seq("h1", "h2"))
    }

    // quality score: node rows count, duplicates included; issues are distinct ids
    val valid = graft.kg.rules.Relations.Matrix.toSeq
      .flatMap { case ((s, t), rs) => rs.map((s, t, _)) }.toSet
    def rate(k: Int, of: Int) = if (of == 0) 0.0 else k.toDouble / of
    def round(x: Double, scale: Double) = math.floor(x * scale + 0.5) / scale
    val typeOf = graft.kg.rules.Relations.nodeTypeFromId _
    val convs = (nodes.map(_.convId) ++ edges.map(_.convId)).filter(_ != null).distinct
    val expQ = convs.map { c =>
      val cn = nodes.filter(_.convId == c)
      val ce = edges.filter(_.convId == c)
      val v = rate(ce.count(x => valid((typeOf(x.source), typeOf(x.target), x.relation))), ce.size)
      val endpoints = ce.flatMap(x => Seq(x.source, x.target)).filter(_ != null).toSet
      val nonOutcome = cn.filter(x => x.nodeType != null && x.nodeType != "outcome")
      val k = rate(nonOutcome.count(x => endpoints.contains(x.id)), nonOutcome.size)
      val issues = cn.filter(_.nodeType == "issue").map(_.id).filter(_ != null).distinct
      val resolves = cn.filter(_.nodeType == "holding").map(_.resolvesIssue).toSet
      val r = rate(issues.count(resolves), issues.size)
      val a = rate(cn.count(x => x.anchor != null && x.anchor.endChar > x.anchor.startChar), cn.size)
      (c, round(v, 1e4), round(k, 1e4), round(r, 1e4), round(a, 1e4),
        round(1.0 + v * 3.0 + k * 3.0 + r * 2.0 + a * 1.0, 100.0))
    }
    val gotQ = graft.kg.query.GraphQuality.score(n, e).collect().toSeq.map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(sortedRows(gotQ) == sortedRows(expQ))
    // 15 non-outcome node rows in d; f2 (twice), h3, i2 and the null id are unconnected
    assert(gotQ.find(_._1 == "d").map(_._3).contains(round(10.0 / 15, 1e4)))

    // orphans: one row per unconnected node row
    val expO = for {
      (c, cn) <- byConv(nodes)(_.convId).toSeq
      endpoints = edges.filter(_.convId == c).flatMap(x => Seq(x.source, x.target)).toSet
      x <- cn if x.id == null || !endpoints(x.id)
    } yield (c, x.id, x.nodeType)
    val gotO = KgPipeline.orphans(n, e).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(sortedRows(gotO) == sortedRows(expO))
    assert(gotO.count(_._1 == "d") >= 2)
  }
}
