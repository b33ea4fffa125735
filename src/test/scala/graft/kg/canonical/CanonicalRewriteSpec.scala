package graft.kg.canonical

import graft.SparkPipelineSpec
import graft.kg.gen.TranscriptGen
import graft.kg.pipeline.{KgPipeline, MentionKeyRow, TripleEdgeRow}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The job shape and the two rewrite branches of the canonical triple
  * rewrite, and the local/distributed gate of connected components. */
class CanonicalRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-canonical-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def driverLabels(edges: DataFrame, threshold: Long): Map[String, String] =
    ConnectedComponents.labels(edges, threshold) match {
      case Left(labels) => labels
      case Right(_) => fail(s"expected driver labels under threshold $threshold")
    }

  /** Jobs (with their stage ids) and completed stages (with the
    * accumulators they updated), delivered by the listener bus. */
  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(Int, Seq[Int])]()
    val stages = new ConcurrentLinkedQueue[(Int, Set[Long])]()
    private val started, ended = new AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet(); jobs.add(e.jobId -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.stageId -> e.stageInfo.accumulables.keySet.toSet)
    /** Wait until every job started so far has ended and been delivered. */
    def drain(): Unit = {
      val end = System.currentTimeMillis() + 10000
      while (ended.get() < started.get() && System.currentTimeMillis() < end) Thread.sleep(5)
      Thread.sleep(50)
    }
  }

  test("bench chain: extraction runs in the one pair-gathering job, and the rewrite exchanges nothing") {
    import spark.implicits._
    val turns = TranscriptGen.turns(40, 12)
    val path = Files.createTempDirectory("graft_chain_jobs").toString + "/t"
    KgPipeline.writeConversationPartitioned(turns.toDF(), path, nFiles = 4)
    // every transcript row the extraction reads passes this counter
    val reads = spark.sparkContext.longAccumulator("transcript rows read")
    val counted = udf { (t: String) => reads.add(1); t }.asNondeterministic()
    val input = KgPipeline.readConversationPartitioned(spark, path)
      .withColumn("text", counted(col("text")))
    val combined = KgPipeline.canonicalInputsDirect(spark, input, prePartitioned = true)
      .toDF().persist()
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      val ct = Canonicalizer.canonicalTriples(spark,
        combined.filter(col("m").isNotNull).select("m.*"),
        combined.filter(col("e").isNotNull).select("e.*"))
      log.drain()
      val gathering = log.jobs.asScala.toSeq
      assert(ct.count() > 0)
      log.drain()
      val plan = ct.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(4000))
      // the pairs were gathered by one job of one stage ...
      assert(gathering.size == 1 && gathering.head._2.size == 1, gathering.toString)
      // ... and that stage is the only one that ran the extraction, once
      val extracting = log.stages.asScala.collect { case (id, accs) if accs(reads.id) => id }.toSeq
      assert(extracting == gathering.head._2, s"$extracting vs $gathering")
      assert(reads.value == turns.size.toLong)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      combined.unpersist()
    }
  }

  test("the map-side and the joined rewrite give the same triples") {
    val combined = KgPipeline.canonicalInputsDirect(spark, SparkPipelineSpec.canonicalTurns(spark))
      .toDF().persist()
    try {
      val mentions = combined.filter(col("m").isNotNull).select("m.*")
      val tagged = combined.filter(col("e").isNotNull).select("e.*")
      val pairs = Canonicalizer.namePairs(Canonicalizer.precedentKeys(mentions))
      val labels = driverLabels(pairs, Long.MaxValue)
      // the fixture merges keys: some labels differ from their key
      assert(labels.exists { case (k, v) => k != v }, labels.toString)
      val mapSide = sortedRows(Canonicalizer.rewriteMapSide(tagged, labels))
      val joined = sortedRows(Canonicalizer.rewriteJoined(tagged, ConnectedComponents.run(spark, pairs)))
      assert(mapSide.nonEmpty && mapSide == joined)
      assert(mapSide == sortedRows(Canonicalizer.canonicalTriples(spark, mentions, tagged)))
    } finally combined.unpersist()
  }

  test("no mentions, no edges, or no names: empty or identity results") {
    import spark.implicits._
    val noMentions = Seq.empty[MentionKeyRow].toDF()
    val noEdges = Seq.empty[TripleEdgeRow].toDF()
    val edges = Seq(
      TripleEdgeRow("c1", "p1", "follows", "k1", "cit:air:air 1978 sc 597", "concept:CONST_ART21"),
      TripleEdgeRow("c1", "h1", "applies", "p1", null, "cit:air:air 1978 sc 597")).toDF()
    val identity = Seq(
      "[c1,cit:air:air 1978 sc 597,follows,concept:CONST_ART21]",
      "[c1,c1/h1,applies,cit:air:air 1978 sc 597]")
    assert(Canonicalizer.canonicalTriples(spark, noMentions, noEdges).collect().isEmpty)
    assert(sortedRows(Canonicalizer.canonicalTriples(spark, noMentions, edges)) == identity.sorted)
    // precedents seen without a case name are in no name↔citation pair
    val nameless = Seq(
      MentionKeyRow("c1", "p1", "precedent", null, null, "AIR 1978 SC 597", "air"),
      MentionKeyRow("c1", "k1", "concept", "CONST_ART21", null, null, null)).toDF()
    assert(sortedRows(Canonicalizer.canonicalTriples(spark, nameless, edges)) == identity.sorted)
    assert(Canonicalizer.canonicalTriples(spark, nameless, noEdges).collect().isEmpty)
    assert(Canonicalizer.canonicalPrecedents(spark, noMentions).collect().isEmpty)
    assert(Canonicalizer.entityStats(spark, noMentions).collect().isEmpty)
    val noPairs = Seq.empty[(String, String)].toDF("src", "dst")
    assert(ConnectedComponents.labels(noPairs, 10) == Left(Map.empty))
    assert(ConnectedComponents.runAuto(spark, noPairs).collect().isEmpty)
  }

  test("a graph over the threshold only in its union takes the distributed branch") {
    import spark.implicits._
    val cap = 5
    // 4 partitions of 5 distinct pairs each (plus duplicates): no task sees
    // more than `cap` distinct pairs, their union holds 20
    val parts = (0 until 4).map(p => (0 until cap).map(i => (f"n$p%d_$i%d", f"n${(p + 1) % 4}%d_$i%d")))
    val edges = spark.sparkContext
      .parallelize(parts.map(ps => ps ++ ps.take(2)), 4).flatMap(identity)
      .toDF("src", "dst")
    assert(edges.rdd.glom().collect().forall(_.distinct.length <= cap))
    val dist = ConnectedComponents.labels(edges, cap) match {
      case Right(comps) => comps.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      case Left(_) => fail("a union over the threshold was labelled on the driver")
    }
    assert(ConnectedComponents.lastStats.strategy == "distributed")
    assert(ConnectedComponents.lastStats.edges == cap + 1)
    val local = driverLabels(edges, Long.MaxValue)
    assert(ConnectedComponents.lastStats == ConnectedComponents.RunStats("local", 20, 0))
    assert(dist == local && local.size == 20)
    // the pairs chain the 4 partitions' ids into 5 components
    assert(local.values.toSet == (0 until cap).map(i => s"n0_$i").toSet)
  }
}
