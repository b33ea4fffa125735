package graft

import graft.kg.extract.DocExtractor
import graft.kg.gen.TranscriptGen
import graft.kg.model.Triple
import graft.kg.ontology.Ontology
import graft.kg.pipeline.KgPipeline
import graft.kg.table.{BucketLineage, GraphStore, Materializer, Snapshot, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

object SparkPipelineSpec {

  /** Precedents across conversations: name+citation, citation-only and
    * name-only mentions, the same citations written with runs of
    * whitespace, tabs, padding and mixed case, plus two generated
    * conversations for concept mentions. */
  def canonicalTurns(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val texts = Seq(
      "cA" -> Seq(
        "As held in Maneka Gandhi v. Union of India, AIR 1978 SC 597, the procedure must be fair.",
        "The question is whether the impugned order violates the principles of natural justice.",
        "We hold that the order fails. The appeal is allowed."),
      "cB" -> Seq(
        "Following the ratio in air  1978\tsc 597, fairness governs.",
        "We hold that the order fails. The appeal is allowed."),
      "cC" -> Seq(
        "As held in Maneka Gandhi v. Union of India, (1978) 1 SCC 248, fairness is required.",
        "We hold that the order fails. The appeal is allowed."),
      "cD" -> Seq(
        "The court relied on   Air 1978 Sc 597   and on Kesavananda Bharati v. State of Kerala.",
        "We hold that the order fails. The appeal is dismissed."),
      "cE" -> Seq(
        "In Kesavananda Bharati v. State of Kerala, AIR 1973 SC 1461, the basic structure was settled.",
        "We accordingly hold that the restriction does not satisfy the requirement of proportionality.",
        "The appeal is allowed."),
      "cF" -> Seq(
        "See\tAIR 1973\t\tSC  1461 and (1978)  1  scc 248 on the same point.",
        "We hold that the order fails. The appeal is allowed."))
    (texts.flatMap { case (c, ts) =>
      ts.zipWithIndex.map { case (t, i) => graft.kg.model.Turn(c, i, "user", t, null, null) }
    } ++ TranscriptGen.conversation("cG", 12) ++ TranscriptGen.conversation("cH", 12)).toDF()
  }
}

class SparkPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def transcriptsDF(n: Int) = {
    import spark.implicits._
    TranscriptGen.turns(n, 12).toDF()
  }

  test("triplesDirect is invariant to input partitioning") {
    val df = transcriptsDF(40)
    val a = KgPipeline.triplesDirect(spark, df.repartition(1))
      .collect().map(_.toString).sorted
    val b = KgPipeline.triplesDirect(spark, df.repartition(13))
      .collect().map(_.toString).sorted
    assert(a.nonEmpty)
    assert(a.toSeq == b.toSeq)
  }

  test("shuffle-free pre-partitioned extraction equals the shuffled path") {
    val df = transcriptsDF(60)
    val path = Files.createTempDirectory("graft_prepart").toString + "/t"
    KgPipeline.writeConversationPartitioned(df, path, nFiles = 7)
    val pre = spark.read.parquet(path)
    val a = KgPipeline.triplesDirect(spark, pre, prePartitioned = true)
      .collect().map(_.toString).sorted
    val b = KgPipeline.triplesDirect(spark, df)
      .collect().map(_.toString).sorted
    assert(a.nonEmpty && a.toSeq == b.toSeq)
    // and the pre-partitioned plan really has no exchange
    val plan = KgPipeline.triplesDirect(spark, pre, prePartitioned = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("readConversationPartitioned pins 1 file/task; raw reads can split conversations") {
    import spark.implicits._
    val df = transcriptsDF(60)
    val dir = Files.createTempDirectory("graft_split").toString + "/t"
    // the production layout, but with TINY parquet row groups so files carry
    // many row groups (the 100-TB shape, where files exceed one row group)
    df.repartition(2, col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("text"))
      .write.option("parquet.block.size", "2048").parquet(dir)
    val (oldMax, oldOpen) = (
      spark.conf.get("spark.sql.files.maxPartitionBytes"),
      spark.conf.get("spark.sql.files.openCostInBytes"))
    try {
      // adversarial session confs: byte-range splits bisect the files
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val raw = spark.read.parquet(dir)
      assert(raw.rdd.getNumPartitions > 2, "expected the raw read to split files")
      // the trusting read on a SPLIT file emits >1 graph for some conv_id —
      // this is the silent-correctness cliff the pinned reader exists to close
      val rawConvs = KgPipeline
        .branch(KgPipeline.allTablesDirect(spark, raw, prePartitioned = true).toDF(), "summary")
        .select(col("convId")).collect().map(_.getString(0))
      assert(rawConvs.length > rawConvs.distinct.length,
        "adversarial split no longer bisects conversations; tighten the confs")
      // the pinned reader is immune: overrides the confs, one whole file per task
      val pinned = KgPipeline.readConversationPartitioned(spark, dir)
      assert(pinned.rdd.getNumPartitions == 2)
      val a = KgPipeline.triplesDirect(spark, pinned, prePartitioned = true)
        .collect().map(_.toString).sorted
      val b = KgPipeline.triplesDirect(spark, df).collect().map(_.toString).sorted
      assert(a.nonEmpty && a.toSeq == b.toSeq)
      // and the materializer's integrity guard catches the split read
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val root = Files.createTempDirectory("graft_split_mat").toString
      val ex = intercept[IllegalArgumentException] {
        Materializer.run(spark, spark.read.parquet(dir), root,
          nBuckets = 4, prePartitioned = true)
      }
      assert(ex.getMessage.contains("integrity"))
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldOpen)
    }
  }

  test("materializer writes all tables, commits snapshot with lineage") {
    val root = Files.createTempDirectory("graft_mat").toString
    val report = Materializer.run(spark, transcriptsDF(60), root, nBuckets = 8)
    assert(report.snapshotId == 0)
    assert(report.bucketsCommitted.size == 8)
    for (t <- Materializer.Tables) {
      val df = Materializer.read(spark, root, t)
      assert(df.count() > 0, s"table $t empty")
      assert(df.columns.contains("bucket"))
    }
    val store = new SnapshotStore(root)
    assert(store.completedBuckets == (0 until 8).toSet)
    val lin = store.snapshots.head.lineage
    assert(lin.map(_.extractionCounts.getOrElse("holdings", 0L)).sum >= 50)
    assert(lin.forall(_.contentHash.nonEmpty))
  }

  test("an empty input materializes empty tables, commits every bucket and resumes") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mat_empty").toString
    val empty = Seq.empty[graft.kg.model.Turn].toDF()
    val report = Materializer.run(spark, empty, root, nBuckets = 4)
    assert(report.bucketsCommitted == (0 until 4).toList)
    assert(report.rows == Materializer.Tables.map(_ -> 0L).toMap)
    val store = new SnapshotStore(root)
    assert(store.completedBuckets == (0 until 4).toSet)
    assert(store.snapshots.last.lineage.forall(l =>
      l.inputRows == 0 && l.contentHash == "0"))
    val again = Materializer.run(spark, empty, root, nBuckets = 4)
    assert(again.bucketsCommitted.isEmpty && again.bucketsSkipped == (0 until 4).toList)
    assert(new SnapshotStore(root).snapshots.size == 1)
  }

  test("resume skips committed buckets and is idempotent") {
    val root = Files.createTempDirectory("graft_resume").toString
    val df = transcriptsDF(60)
    // pre-commit buckets 0..3 as if a prior run finished them
    val store = new SnapshotStore(root)
    store.commit((0 until 4).map(b => BucketLineage(b, "extract", 0, Map.empty, Map.empty, "x")))
    val report = Materializer.run(spark, df, root, nBuckets = 8)
    assert(report.bucketsSkipped == (0 until 4).toList)
    assert(report.bucketsCommitted == (4 until 8).toList)
    // only pending buckets materialized
    val triples = Materializer.read(spark, root, "triples")
    val buckets = triples.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(buckets.subsetOf((4 until 8).toSet))
    // second run: nothing to do
    val again = Materializer.run(spark, df, root, nBuckets = 8)
    assert(again.bucketsCommitted.isEmpty)
    assert(new SnapshotStore(root).completedBuckets == (0 until 8).toSet)
  }

  test("corrupt snapshot manifests are skipped (self-healing recovery)") {
    val root = Files.createTempDirectory("graft_corrupt").toString
    val store = new SnapshotStore(root)
    store.commit(Seq(BucketLineage(0, "extract", 1, Map("convs" -> 1L), Map.empty, "h")))
    // corrupt manifest injected into the log
    val bad = java.nio.file.Paths.get(root, "_graft_log", "snapshot-1.json")
    Files.write(bad, "{not json".getBytes("UTF-8"))
    val reread = new SnapshotStore(root)
    assert(reread.snapshots.map(_.id) == Seq(0L))
    assert(reread.completedBuckets == Set(0))
    // next commit continues past the corrupt id
    val snap = reread.commit(Seq(BucketLineage(1, "extract", 1, Map.empty, Map.empty, "h")))
    assert(snap.id == 2)
  }

  test("concurrent snapshot commits each land on disk under their own id") {
    val writers = 8
    for (round <- 0 until 10) {
      val root = Files.createTempDirectory("graft_race").toString
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      val returned: Seq[(Int, Snapshot)] =
        try {
          val futures = (0 until writers).map { w =>
            pool.submit(new java.util.concurrent.Callable[Snapshot] {
              def call(): Snapshot = {
                start.await()
                new SnapshotStore(root).commit(
                  Seq(BucketLineage(w, "extract", w.toLong, Map.empty, Map.empty, s"w$w")))
              }
            })
          }
          start.countDown()
          (0 until writers).map(w => w -> futures(w).get())
        } finally pool.shutdown()
      val ids = returned.map(_._2.id)
      assert(ids.distinct.size == writers, s"round $round: ids $ids")
      val onDisk = new SnapshotStore(root).snapshots.map(s => s.id -> s).toMap
      assert(onDisk.size == writers, s"round $round: ${onDisk.keys.toList.sorted} on disk")
      for ((w, snap) <- returned) {
        assert(onDisk(snap.id).buckets == Seq(w), s"round $round: snapshot ${snap.id}")
        assert(onDisk(snap.id).lineage == snap.lineage, s"round $round: snapshot ${snap.id}")
        assert(snap.parentId < snap.id)
      }
    }
  }

  test("resuming a table root with a different bucket count is refused") {
    val root = Files.createTempDirectory("graft_rebucket").toString
    val df = transcriptsDF(40)
    Materializer.run(spark, df, root, nBuckets = 4)
    def rows(t: String) = Materializer.read(spark, root, t).count()
    val (summaries, triples) = (rows("summaries"), rows("triples"))
    assert(summaries == 40)
    val ex = intercept[IllegalArgumentException] {
      Materializer.run(spark, df, root, nBuckets = 8)
    }
    assert(ex.getMessage.contains("created with 4 buckets"), ex.getMessage)
    // nothing was written again, and the same count still resumes
    assert(rows("summaries") == summaries && rows("triples") == triples)
    assert(new SnapshotStore(root).completedBuckets == (0 until 4).toSet)
    assert(Materializer.run(spark, df, root, nBuckets = 4).bucketsCommitted.isEmpty)
  }

  test("a materialize that crashed between its table writes and its commit resumes to the clean result") {
    import scala.jdk.CollectionConverters._
    val df = transcriptsDF(60)
    val clean = Files.createTempDirectory("graft_clean").toString
    val crashed = Files.createTempDirectory("graft_crashed").toString
    Materializer.run(spark, df, clean, nBuckets = 8)
    Materializer.run(spark, df, crashed, nBuckets = 8)
    // the crash, after 3 of the 8 table writes: no snapshot was committed,
    // five tables were never written, one bucket of a written table is lost
    // and one part file was written twice. The bucket count stays recorded:
    // it is written before any table.
    def rm(p: java.nio.file.Path): Unit =
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    rm(Paths.get(crashed, "_graft_log"))
    for (t <- Seq("justification_sets", "chains", "cluster_members", "requirements", "summaries"))
      rm(Paths.get(crashed, t))
    rm(Paths.get(crashed, "nodes", "bucket=2"))
    val edges5 = Paths.get(crashed, "edges", "bucket=5")
    val part = Files.list(edges5).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val replayed = edges5.resolve("part-99999-replayed.snappy.parquet")
    Files.copy(part, replayed)
    assert(Files.exists(Paths.get(crashed, "_graft_layout.json")))
    def rows(root: String, t: String): Seq[String] =
      Materializer.read(spark, root, t).collect().map(_.toString).sorted.toSeq
    assert(rows(crashed, "edges").size > rows(clean, "edges").size)

    val report = Materializer.run(spark, df, crashed, nBuckets = 8)
    assert(report.bucketsCommitted == (0 until 8).toList)
    def lineage(root: String) = new SnapshotStore(root).snapshots.flatMap(_.lineage).sortBy(_.bucket)
    assert(lineage(crashed) == lineage(clean))
    for (t <- Materializer.Tables) assert(rows(crashed, t) == rows(clean, t), t)
    // dynamic partition overwrite replaced the bucket directory
    assert(!Files.exists(replayed))
  }

  test("connected components: min-label over a small graph") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("z", "z"))
      .toDF("src", "dst")
    for (variant <- Seq("distributed", "auto")) {
      val comps = (if (variant == "auto")
        graft.kg.canonical.ConnectedComponents.runAuto(spark, edges)
      else graft.kg.canonical.ConnectedComponents.run(spark, edges))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(comps("a") == "a" && comps("b") == "a" && comps("c") == "a", variant)
      assert(comps("x") == "x" && comps("y") == "x", variant)
      assert(comps("z") == "z", variant)
    }
  }

  test("distributed CC on a skewed graph equals driver union-find (forced paths)") {
    import spark.implicits._
    // skewed candidate graph: one hot hub with 3000 spokes (the
    // famous-precedent shape), a 150-node path (worst-case diameter for
    // min-label propagation — converges only via pointer jumping), plus
    // disjoint small components
    val hub = (1 to 3000).map(i => ("hub", f"s$i%05d"))
    val path = (1 until 150).map(i => (f"p$i%04d", f"p${i + 1}%04d"))
    val rings = (0 until 50).flatMap(r =>
      (0 until 4).map(i => (f"r$r%03d_$i", f"r$r%03d_${(i + 1) % 4}")))
    val edges = (hub ++ path ++ rings).toDF("src", "dst")
    // force the DISTRIBUTED branch (threshold 0) vs the driver union-find
    val dist = graft.kg.canonical.ConnectedComponents.runAuto(spark, edges, localThreshold = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).sortBy(_._1)
    val local = graft.kg.canonical.ConnectedComponents.runAuto(spark, edges, localThreshold = Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getString(1)).sortBy(_._1)
    assert(dist.length == local.length && dist.length == 3000 + 150 + 200 + 1)
    assert(dist.toSeq == local.toSeq)
    // spot-check labels: hub component labeled by the min id ("hub"),
    // path labeled end-to-end by p0001
    val m = dist.toMap
    assert(m("s03000") == "hub" && m("p0150") == "p0001")
  }

  test("canonicalization merges name and citation keys across conversations") {
    import spark.implicits._
    // conv A cites with name+citation; conv B cites the bare citation;
    // conv C cites the bare name (as an ECHR-style v. pattern is IN-invisible,
    // use the same name+another reporter to bridge)
    val turns = Seq(
      graft.kg.model.Turn("cA", 0, "user",
        "As held in Maneka Gandhi v. Union of India, AIR 1978 SC 597, the procedure must be fair. We hold that the order fails. The appeal is allowed.", null, null),
      graft.kg.model.Turn("cB", 0, "user",
        "Following the ratio in AIR 1978 SC 597, fairness governs. We hold that the order fails. The appeal is allowed.", null, null),
      graft.kg.model.Turn("cC", 0, "user",
        "As held in Maneka Gandhi v. Union of India, (1978) 1 SCC 248, fairness is required. We hold that the order fails. The appeal is allowed.", null, null)
    ).toDF()
    val nodes = KgPipeline.nodesDirect(spark, turns).toDF()
    val canon = graft.kg.canonical.Canonicalizer
      .canonicalPrecedents(spark, nodes).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    // all three conversations' precedent mentions share one canonical id
    assert(canon.size == 3, canon.toString)
    assert(canon.values.toSet.size == 1, canon.toString)
  }

  test("canonical triples rewrite precedent/concept endpoints") {
    import spark.implicits._
    val df = transcriptsDF(20)
    val nodes = KgPipeline.nodesDirect(spark, df).toDF()
    val edges = KgPipeline.edgesDirect(spark, df).toDF()
    val ct = graft.kg.canonical.Canonicalizer.canonicalTriples(spark, nodes, edges)
    assert(ct.count() == edges.count())
    val objs = ct.select("obj").collect().map(_.getString(0))
    assert(objs.exists(_.startsWith("cit:")) || objs.exists(_.startsWith("case:")))
    assert(objs.exists(_.startsWith("concept:")) ||
      ct.select("subj").collect().map(_.getString(0)).exists(_.startsWith("concept:")))
  }

  test("canonical triple rewrite co-partitions: endpoint joins add no exchange") {
    // untagged edges take their endpoint keys from ONE convId-keyed join
    // against per-conversation id → key maps; the endpoint rewrite after it
    // is map-side, so it adds no join and no exchange of its own
    import spark.implicits._
    val df = transcriptsDF(20)
    val nodes = KgPipeline.nodesDirect(spark, df).toDF()
    val edges = KgPipeline.edgesDirect(spark, df).toDF()
    val ct = graft.kg.canonical.Canonicalizer.canonicalTriples(spark, nodes, edges)
    ct.count() // materialize so AQE finalizes the plan
    val plan = ct.queryExecution.executedPlan.toString
    val joins = plan.linesIterator
      .filter(l => "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(l).isDefined).toSeq
    assert(joins.size == 1 && joins.head.contains("[convId"),
      s"expected only the convId tagging join in plan:\n${plan.take(3000)}")
    // every exchange is keyed by the conversation alone (the extraction's
    // conv_id repartition or the tagging's convId aggregation), so none is
    // keyed by an endpoint: its whole key list is one conversation column
    // and the partition count
    val hashed = "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(hashed.nonEmpty && hashed.forall(_.matches("conv(_id|Id)#\\d+, \\d+")),
      s"an exchange not keyed by the conversation alone:\n${plan.take(3000)}")
    assert(plan.contains("ReusedExchange") || plan.contains("InMemoryTableScan") ||
      "Exchange hashpartitioning\\(convId".r.findAllIn(plan).size <= 2,
      s"mapping exchange not shared:\n${plan.take(3000)}")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("tagged canonical triples equal the join-fallback triples") {
    val turns = SparkPipelineSpec.canonicalTurns(spark)
    val combined = KgPipeline.canonicalInputsDirect(spark, turns).toDF().persist()
    val mentions = combined.filter(col("m").isNotNull).select("m.*")
    val tagged = combined.filter(col("e").isNotNull).select("e.*")
    val precedents = mentions.filter(col("nodeType") === "precedent")
    // the inputs really carry every mention shape the rewrite must handle
    assert(precedents.filter(col("caseName").isNotNull).count() > 0)
    assert(precedents.filter(col("caseName").isNull).count() > 0)
    assert(precedents.filter(col("citation").contains("\t") ||
      col("citation").contains("  ")).count() > 0)
    assert(precedents.select("citation").distinct().count() >
      precedents.select(lower(col("citation"))).distinct().count())
    assert(mentions.filter(col("nodeType") === "concept").count() > 0)
    assert(tagged.filter(col("subjKey").isNotNull || col("objKey").isNotNull).count() > 0)
    val viaTags = sortedRows(graft.kg.canonical.Canonicalizer
      .canonicalTriples(spark, mentions, tagged))
    val nodes = KgPipeline.nodesDirect(spark, turns).toDF()
    val edges = KgPipeline.edgesDirect(spark, turns).toDF()
    assert(!edges.columns.contains("subjKey"))
    val viaJoins = sortedRows(graft.kg.canonical.Canonicalizer
      .canonicalTriples(spark, nodes, edges))
    combined.unpersist()
    assert(viaTags.nonEmpty && viaTags.size == edges.count())
    assert(viaTags == viaJoins)
    // cB's bare "air  1978<TAB>sc 597" resolved to the entity named in cA
    assert(viaTags.contains("[cB,cB/h1,follows,case:maneka gandhi v. union of india]"), viaTags)
  }

  test("mentionKey equals the Column mention keys over generated strings") {
    import org.scalacheck.Gen
    import spark.implicits._
    val special = Seq(' ', ' ', '\t', '\n', '\r', '\u000B', '\f', '\u00A0', '\u2003',
      'À', 'É', 'Ñ', 'Ö', 'Σ', 'Д', 'İ', 'ẞ', 'ǅ', 'é', 'ß')
    val charGen = Gen.frequency(
      5 -> Gen.alphaNumChar, 4 -> Gen.oneOf(special),
      1 -> Gen.choose('\u0080', '\uD7FF'))
    val strGen = Gen.frequency(
      1 -> Gen.const(null: String), 9 -> Gen.listOf(charGen).map(_.mkString))
    val rowGen = for {
      nodeType <- Gen.oneOf("precedent", "precedent", "concept", "fact")
      conceptId <- strGen
      citationType <- Gen.frequency(1 -> Gen.const(null: String), 9 -> Gen.oneOf("air", "scc", "Scr"))
      citation <- strGen
    } yield (nodeType, conceptId, citationType, citation)
    val rows = Gen.listOfN(3000, rowGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20261017L))
      .zipWithIndex.map { case ((t, c, ct, cit), i) => (s"conv${i % 7}", s"n$i", t, c, ct, cit) }
    val mustCover = Set('\t', '\n', '\u00A0', 'İ', 'Σ')
    assert(mustCover.forall(ch => rows.exists(r => r._6 != null && r._6.contains(ch))))
    assert(rows.exists(_._6 == null) && rows.exists(_._4 == null))
    val nodes = rows.toDF("convId", "id", "nodeType", "conceptId", "citationType", "citation")
      .withColumn("caseName", lit(null).cast("string"))
    val columnKeys =
      (graft.kg.canonical.Canonicalizer.precedentKeys(nodes).select(col("id"), col("cit_key")).collect() ++
        graft.kg.canonical.Canonicalizer.canonicalConcepts(nodes).select("id", "canonical_id").collect())
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val mismatches = rows.filter { case (_, id, t, c, ct, cit) =>
      graft.kg.canonical.Canonicalizer.mentionKey(t, c, ct, cit) != columnKeys.getOrElse(id, null)
    }
    assert(mismatches.isEmpty, mismatches.take(5).map(r =>
      r.toString + " jvm=" + graft.kg.canonical.Canonicalizer.mentionKey(r._3, r._4, r._5, r._6) +
        " col=" + columnKeys.getOrElse(r._2, null)).mkString("\n"))
  }

  test("tagged canonical rewrite: no hash Exchange, only broadcasts, on the chain") {
    // the bench chain: the conversation-contiguous layout (no extraction
    // exchange), the persisted canonical inputs, then the rewrite — whose
    // executed plan exchanges nothing: the labels reach the map-side
    // rewrite as a broadcast variable, not as a broadcast join
    val path = Files.createTempDirectory("graft_tagged").toString + "/t"
    KgPipeline.writeConversationPartitioned(transcriptsDF(40), path, nFiles = 4)
    val combined = KgPipeline.canonicalInputsDirect(spark, spark.read.parquet(path),
      prePartitioned = true).toDF().persist()
    val ct = graft.kg.canonical.Canonicalizer.canonicalTriples(spark,
      combined.filter(col("m").isNotNull).select("m.*"),
      combined.filter(col("e").isNotNull).select("e.*"))
    assert(ct.collect().nonEmpty)
    val plan = ct.queryExecution.executedPlan.toString
    combined.unpersist()
    assert(!plan.contains("Exchange"), plan.take(4000))
    assert(!plan.contains("Join"), plan.take(4000))
  }

  test("quality scores are in [1,10] and edge validity is 1.0 post-repair") {
    val df = transcriptsDF(25)
    val nodes = KgPipeline.nodesDirect(spark, df).toDF()
    val edges = KgPipeline.edgesDirect(spark, df).toDF()
    val q = graft.kg.query.GraphQuality.score(nodes, edges).collect()
    assert(q.nonEmpty)
    for (r <- q) {
      val sc = r.getAs[Double]("quality_score")
      assert(sc >= 1.0 && sc <= 10.0, r.toString)
      assert(r.getAs[Double]("edge_validity") == 1.0, r.toString)
      assert(r.getAs[Double]("anchor_quality") > 0.5)
    }
  }

  test("stats reconstruction recreates lineage from the tables alone") {
    val root = Files.createTempDirectory("graft_reconstruct").toString
    Materializer.run(spark, transcriptsDF(30), root, nBuckets = 4)
    val orig = new SnapshotStore(root).snapshots.head
    // simulate total log loss
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(root, "_graft_log")).iterator().asScala
      .foreach(Files.delete)
    assert(new SnapshotStore(root).snapshots.isEmpty)
    val rebuilt = Materializer.reconstructStats(spark, root)
    assert(rebuilt.buckets.toSet == orig.buckets.toSet)
    val origHashes = orig.lineage.map(l => l.bucket -> l.contentHash).toMap
    for (l <- rebuilt.lineage if l.inputRows > 0)
      assert(l.contentHash == origHashes(l.bucket), s"bucket ${l.bucket}")
    // one lineage function: only the stage label differs
    val origByBucket = orig.lineage.map(l => l.bucket -> l).toMap
    for (l <- rebuilt.lineage)
      assert(l.copy(stage = "extract") == origByBucket(l.bucket), s"bucket ${l.bucket}")
  }

  test("GraphStore point lookups prune to one bucket partition") {
    val root = Files.createTempDirectory("graft_store").toString
    Materializer.run(spark, transcriptsDF(40), root, nBuckets = 8)
    val store = new graft.kg.table.GraphStore(spark, root)
    val convId = "conv_000005"
    val n = store.nodes(convId)
    assert(n.count() > 0)
    assert(n.select("convId").distinct().collect().map(_.getString(0)).toSeq == Seq(convId))
    // partition pruning: the physical plan carries a bucket partition filter
    val plan = n.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan.take(800))
    // the facade graph ops work on the pruned slices
    assert(store.holdingSupport(convId).count() >= 1)
    assert(store.tierHistogram().count() >= 1)
    val h = store.nodes(convId).filter(col("nodeType") === "holding")
      .select("id").first().getString(0)
    // removing the holding itself breaks nothing upstream (it IS the target)
    assert(store.counterfactual(convId, "f1").columns.toSeq ==
      Seq("conv_id", "holding_id"))
  }

  test("GraphStore finds every conversation with the bucket count the root recorded") {
    val root = Files.createTempDirectory("graft_store_layout").toString
    Materializer.run(spark, transcriptsDF(40), root, nBuckets = 4)
    val store = new GraphStore(spark, root)
    val convIds = Materializer.read(spark, root, "summaries")
      .select("convId").collect().map(_.getString(0)).sorted
    assert(convIds.length == 40)
    val missed = convIds.filter(c => store.summary(c).count() != 1)
    assert(missed.isEmpty, s"${missed.length} of 40 conversations not found")
    // a directory that no run created has no bucket count to read
    val empty = Files.createTempDirectory("graft_store_none").toString
    assert(intercept[IllegalArgumentException](new GraphStore(spark, empty))
      .getMessage.contains("no bucket count"))
  }

  test("a file: URI table root keeps its snapshot log beside its tables") {
    val tmp = Files.createTempDirectory("graft_uri_root")
    Materializer.run(spark, transcriptsDF(20), "file://" + tmp, nBuckets = 4)
    assert(Files.isDirectory(tmp.resolve("_graft_log")))
    assert(Files.isRegularFile(tmp.resolve("_graft_layout.json")))
    val store = new GraphStore(spark, tmp.toString)
    val convIds = Materializer.read(spark, tmp.toString, "summaries")
      .select("convId").collect().map(_.getString(0))
    assert(convIds.length == 20)
    assert(convIds.forall(c => store.summary(c).count() == 1))
    // a scheme the log cannot reach is refused before anything is written
    val ex = intercept[IllegalArgumentException] {
      Materializer.run(spark, transcriptsDF(20), "s3a://b/x", nBuckets = 4)
    }
    assert(ex.getMessage.contains("direction 6"), ex.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get("s3a:")))
  }

  test("graphsOf(allTablesDirect) equals the extractor's graphs, warnings included") {
    // the MatRow union is the one full-extraction representation: it must
    // encode every ConvGraph field, in order, so re-assembly is lossless
    import spark.implicits._
    val turns = TranscriptGen.turns(25, 12)
    val got = KgPipeline.graphsOf(KgPipeline.allTablesDirect(spark, turns.toDF()).toDF())
      .collect().map(g => g.summary.convId -> g).toMap
    val want = turns.groupBy(_.conv_id).map { case (c, ts) =>
      c -> DocExtractor.extract(c, ts.map(t => (t.turn_idx, t.text)).sortBy(identity),
        Ontology.default, "in")
    }
    assert(want.values.exists(_.summary.nWarnings > 0), "fixture has no warnings")
    assert(got.keySet == want.keySet)
    for ((c, g) <- want) assert(got(c) == g, c)
  }

  test("graphsOf rejects a union whose runs are not whole conversations") {
    val union = KgPipeline.allTablesDirect(spark, transcriptsDF(4)).toDF()
    val noSummaries = union.filter(col("summary").isNull)
    assert(intercept[org.apache.spark.SparkException](
      KgPipeline.graphsOf(noSummaries).collect()).getMessage.contains("no summary row"))
  }

  test("the Direct paths extract with the jurisdiction's ontology") {
    import spark.implicits._
    for ((jur, ontology, turns) <- Seq(
        ("echr", Ontology.echr, JurisdictionSpec.echrTurns),
        ("tr", Ontology.turkish, JurisdictionSpec.trTurns))) {
      val convId = s"${jur}_fix"
      val df = turns.map { case (i, t) => (convId, i, t) }.toDF("conv_id", "turn_idx", "text")
      val want = DocExtractor.extract(convId, turns, ontology, jur)
      assert(want.nodes.exists(_.nodeType == "concept"), jur)
      assert(KgPipeline.nodesDirect(spark, df, jur).collect().toSeq == want.nodes, jur)
      assert(KgPipeline.triplesDirect(spark, df, jur).collect().toSeq ==
        want.edges.map(e => Triple(convId, e.source, e.relation, e.target)), jur)
    }
  }

  test("the kg memo persists one union per session and dir") {
    // the kg_* input is sized by the documents table alone (20 conversations)
    val dir = Files.createTempDirectory("graft_memo").toString
    spark.range(10).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val s = spark.newSession()
    val before = s.sparkContext.getPersistentRDDs.size
    val kg = SparkEntry.queries.filter(_._1.startsWith("kg_"))
    assert(kg.size == 12)
    kg.values.foreach(q => q(s, dir).collect())
    assert(s.sparkContext.getPersistentRDDs.size - before == 1)
    def views(session: org.apache.spark.sql.SparkSession) =
      session.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_kg_")).toSeq
    assert(views(s).size == 1)
    assert(SparkEntry.queries("kg_triples")(s, dir).queryExecution.executedPlan
      .toString.contains("InMemoryTableScan"))
    assert(views(spark.newSession()).isEmpty)
  }

  test("materialized triples equal the direct-path triples") {
    val root = Files.createTempDirectory("graft_eq").toString
    val df = transcriptsDF(30)
    Materializer.run(spark, df, root, nBuckets = 4)
    val mat = Materializer.read(spark, root, "triples")
      .select("convId", "subj", "pred", "obj")
      .collect().map(_.toString).sorted
    val direct = KgPipeline.triplesDirect(spark, df)
      .collect().map(t => s"[${t.convId},${t.subj},${t.pred},${t.obj}]").sorted
    assert(mat.toSeq == direct.toSeq)
  }
}
