package graft.kg.canonical

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** How the driver gathers the distinct pairs of [[ConnectedComponents.labels]]
  * stays bounded: the job stops once the merged pairs pass the threshold,
  * and task results over `spark.driver.maxResultSize` send the graph to the
  * distributed branch instead of failing it. The session caps the results
  * at 1 MiB so a small graph can reach that limit; what a test checks of a
  * large result it checks inside Spark. */
class PairGatheringSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pair-gathering-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.maxResultSize", "1m")
    // a broadcast join collects its build side under the same cap
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The first job started while it listens, the tasks launched per stage
    * and whether each job succeeded. */
  private final class JobLog extends SparkListener {
    @volatile var first: Option[(Int, Seq[Int])] = None
    val tasksPerStage = new ConcurrentHashMap[Int, AtomicInteger]()
    val succeeded = new ConcurrentHashMap[Int, Boolean]()
    private val started = new AtomicInteger()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started.incrementAndGet()
      if (first.isEmpty) first = Some(e.jobId -> e.stageIds)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      tasksPerStage.computeIfAbsent(e.stageId, _ => new AtomicInteger()).incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      succeeded.put(e.jobId, e.jobResult == JobSucceeded)
    /** Wait until every job started so far has ended and been delivered. */
    def drain(): Unit = {
      val end = System.currentTimeMillis() + 10000
      while (succeeded.size < started.get() && System.currentTimeMillis() < end) Thread.sleep(5)
      Thread.sleep(50)
    }
  }

  private def collected(comps: DataFrame): Map[String, String] =
    comps.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("the gathering job is cancelled once the merged pairs pass the threshold") {
    import spark.implicits._
    val partitions = 32
    // every partition holds 3 distinct pairs of its own and takes 100 ms,
    // so the first finished tasks already carry more than `cap` pairs
    val edges = spark.sparkContext.parallelize(0 until partitions, partitions)
      .mapPartitions { it => Thread.sleep(100); it.flatMap(p => (0 until 3).map(i => (s"a${p}_$i", s"b${p}_$i"))) }
      .toDF("src", "dst")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val labels = try ConnectedComponents.labels(edges, localThreshold = 5) finally {
      log.drain()
      spark.sparkContext.removeSparkListener(log)
    }
    val expected = (0 until partitions).flatMap(p =>
      (0 until 3).flatMap(i => Seq(s"a${p}_$i" -> s"a${p}_$i", s"b${p}_$i" -> s"a${p}_$i"))).toMap
    labels match {
      case Right(comps) => assert(collected(comps) == expected)
      case Left(_) => fail("96 distinct pairs were labelled on the driver under threshold 5")
    }
    val (job, stages) = log.first.getOrElse(fail("no job ran"))
    assert(stages.size == 1, stages)
    assert(!log.succeeded.get(job), "the gathering job ran to completion")
    val launched = Option(log.tasksPerStage.get(stages.head)).map(_.get).getOrElse(0)
    assert(launched > 0 && launched < partitions / 2,
      s"$launched of $partitions gathering tasks launched after the threshold was passed")
  }

  test("task results over spark.driver.maxResultSize take the distributed branch") {
    import spark.implicits._
    assert(spark.sparkContext.getConf.get("spark.driver.maxResultSize") == "1m")
    // 4 partitions repeat the same 100,000 pairs: under the threshold, but
    // each task's result alone is over 1 MiB
    val n = 100000
    val edges = spark.sparkContext.parallelize(0 until 4, 4)
      .flatMap(_ => (0 until n).iterator.map(i => (f"a$i%06d", f"b$i%06d")))
      .toDF("src", "dst")
    ConnectedComponents.labels(edges, ConnectedComponents.DefaultLocalThreshold) match {
      case Right(comps) =>
        assert(ConnectedComponents.lastStats.strategy == "distributed")
        // every b-id is labelled with its a-id, every a-id with itself
        val wrong = comps.filter(col("component") =!= concat(lit("a"), substring(col("id"), 2, 6)))
        assert(comps.count() == 2L * n && wrong.count() == 0)
      case Left(_) => fail("results over spark.driver.maxResultSize were labelled on the driver")
    }
  }
}
