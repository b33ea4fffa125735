package graft.kg.canonical

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Distributed connected components over a string-keyed edge list via
  * iterative min-label propagation — the union-find of the north rule's
  * salt-keyed canonicalization, expressed as DataFrame joins so Catalyst/AQE
  * (incl. skew-join splitting for hot entities) plan the physical execution.
  *
  * Converges in O(component diameter) rounds; canonicalization graphs are
  * near-bipartite (mention-key ↔ mention-key through shared entities), so
  * diameters are small. `localCheckpoint` every round truncates lineage, the
  * standard guard for iterative DataFrame jobs. No GraphFrames dependency.
  */
object ConnectedComponents {

  /** Diagnostics from the most recent [[labels]]/[[runAuto]]/[[run]] in
    * this JVM — read by scale probes/reports, never by the query path.
    * `edges` is the distinct directed edge count observed by the strategy
    * gate (exact on the local branch; localThreshold+1 means the gathering
    * gave up and the distributed loop ran). `iterations` is 0 for the local
    * union-find. */
  final case class RunStats(strategy: String, edges: Long, iterations: Int)
  @volatile private[graft] var lastStats: RunStats = RunStats("none", 0L, 0)

  /** Distinct edges up to which [[labels]] labels components on the
    * driver. */
  private[graft] val DefaultLocalThreshold = 2000000L

  private lazy val pairEncoder = Encoders.product[(String, String)]

  /** Components of `edges(src, dst)`: every id of an edge → the smallest id
    * reachable from it. Up to `localThreshold` DISTINCT non-null edges they
    * come back as a driver map (Left) from the union-find over
    * [[distinctPairs]]; beyond it, or when the gathering's task results
    * outgrow `spark.driver.maxResultSize`, as the (id, component) frame of
    * the distributed loop [[run]] (Right). Sets [[lastStats]]. */
  private[graft] def labels(edges: DataFrame,
                            localThreshold: Long): Either[Map[String, String], DataFrame] = {
    val cap = math.max(0L, math.min(localThreshold, Int.MaxValue - 8L)).toInt
    distinctPairs(edges, cap) match {
      case Some(pairs) =>
        lastStats = RunStats("local", pairs.size.toLong, 0)
        Left(unionFind(pairs.asScala))
      case None =>
        val comps = run(edges.sparkSession, edges)
        lastStats = lastStats.copy(edges = cap + 1L)
        Right(comps)
    }
  }

  /** The distinct non-null (src, dst) pairs of `edges`, or None when there
    * are more than `cap` of them.
    *
    * ONE job with no exchange gathers them: each task dedupes its rows into
    * a hash set of at most `cap + 1` pairs, and the driver merges task
    * results as they arrive, keeping at most `cap + 1` merged pairs. The
    * first result that takes the merge past `cap` cancels the job, so the
    * driver holds those pairs plus the results not yet merged — about one
    * per concurrently running task, each at most `cap + 1` pairs. Spark
    * caps the sum of all the job's results at `spark.driver.maxResultSize`
    * (many partitions repeating the same pairs can reach it below `cap`);
    * that abort also yields None, so the caller takes the distributed
    * branch instead of failing. When `edges` reads a persisted frame that
    * is not yet cached, this job is the one that fills the cache, so
    * gathering costs no pass of its own. (`take` is not used: on a plan
    * with no exchange it scans one partition, then 4, then 16.) */
  private def distinctPairs(edges: DataFrame, cap: Int): Option[java.util.Set[(String, String)]] = {
    val rdd = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .as(pairEncoder).rdd
      .mapPartitions { it =>
        val seen = new java.util.HashSet[(String, String)]
        while (it.hasNext && seen.size <= cap) seen.add(it.next())
        Iterator.single(seen.toArray(new Array[(String, String)](0)))
      }
    // the handler runs on the scheduler's thread, one result at a time
    val merged = new java.util.HashSet[(String, String)]
    val overflowed = Promise[Boolean]()
    val job = edges.sparkSession.sparkContext.submitJob(rdd,
      (it: Iterator[Array[(String, String)]]) => it.next(), rdd.partitions.indices,
      (_: Int, part: Array[(String, String)]) => {
        var i = 0
        while (i < part.length && merged.size <= cap) { merged.add(part(i)); i += 1 }
        if (merged.size > cap) overflowed.trySuccess(true)
      }, ())
    job.onComplete(done => overflowed.tryComplete(done.map(_ => false)))(ExecutionContext.parasitic)
    val over =
      try Await.result(overflowed.future, Duration.Inf)
      catch {
        case e: SparkException if exceedsMaxResultSize(e) => true
        case e: Throwable => job.cancel(); throw e
      }
    if (over) { job.cancel(); None } else Some(merged)
  }

  /** Whether `e` is the abort of a job whose task results outgrew
    * `spark.driver.maxResultSize`. Spark gives that abort no type or error
    * class of its own, only its message. */
  private def exceedsMaxResultSize(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("bigger than spark.driver.maxResultSize"))

  /** edges(src, dst) → components(id, component), choosing the strategy by
    * the DISTINCT edge count: candidate-match graphs are orders of magnitude
    * smaller than the corpus (distinct entity keys, not mention rows), so up
    * to `localThreshold` distinct edges the driver union-find of [[labels]]
    * beats ~10 iterative shuffle rounds of fixed driver latency; beyond it
    * the distributed min-label loop of [[run]] takes over. Both list every
    * id of an edge with the same smallest-reachable-id label. */
  def runAuto(spark: SparkSession, edges: DataFrame,
              localThreshold: Long = DefaultLocalThreshold): DataFrame =
    labels(edges, localThreshold) match {
      case Left(local) =>
        import spark.implicits._
        local.toSeq.sorted.toDF("id", "component")
      case Right(comps) => comps
    }

  /** Driver-side union-find over a (small, distinct) edge list: every id of
    * an edge → the smallest id reachable from it. */
  private def unionFind(pairs: Iterable[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // min-id root keeps labels identical to the distributed variant
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** edges(src, dst) → components(id, component) where component is the
    * lexicographically smallest reachable id (deterministic label). Isolated
    * ids appear iff present as a self-edge or endpoint.
    *
    * Each round combines one hop of neighbor-min propagation with one
    * POINTER-JUMPING step (relabel to the label's own label — labels are
    * always node ids, so the lookup is a self-join). Jumping compresses
    * label chains geometrically: convergence is O(log diameter) rounds, so
    * a degenerate 10^6-node path needs ~20 rounds, not 10^6 — the property
    * that makes the distributed branch safe for arbitrary candidate graphs
    * at corpus scale, not just the small-diameter ones canonicalization
    * usually produces. */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 64): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()

    var comps = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()

    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // candidate label for each dst: the component of each neighbor src
      val candidates = sym
        .join(comps.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nbr"))
      val hop = comps.join(candidates, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr"), col("component"))).as("component"))
      // pointer jump: component := component(component) — monotone (labels
      // only decrease), halves label-chain length every round
      val jump = hop.select(col("id").as("component"), col("component").as("comp2"))
      val next = hop.join(jump, Seq("component"), "left")
        .select(col("id"),
          coalesce(col("comp2"), col("component")).as("component"))
        .localCheckpoint()
      changed = next.alias("n").join(comps.alias("c"), "id")
        .filter(col("n.component") =!= col("c.component")).count()
      comps = next
      iter += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ConnectedComponents.run did NOT converge in $maxIter rounds — labels may be non-minimal")
    lastStats = RunStats("distributed", -1L, iter) // edges unknown here; labels fills it
    comps
  }
}
