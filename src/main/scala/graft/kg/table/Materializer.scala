package graft.kg.table

import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Materialize the full KG table set (nodes, edges, triples, justification
  * sets, chains, cluster members, requirements, summaries) partitioned by
  * `bucket = pmod(hash(conv_id), B)`, with one snapshot commit covering the
  * buckets produced in this run and per-bucket lineage rows.
  *
  * Resume: buckets already covered by committed snapshots are filtered out
  * BEFORE the extraction shuffle (the reference's completed-cases skip,
  * run_iltur.py:581-623, lifted from case granularity to bucket granularity).
  * Because the bucket is a deterministic function of conv_id, re-running after
  * a partial failure recomputes only missing buckets and is idempotent. The
  * first run records `nBuckets` at the table root ([[SnapshotStore]]); a
  * later run with another count is refused, since it would map committed
  * conversations to uncommitted buckets and write them a second time.
  */
object Materializer {

  val Tables: Seq[String] = Seq(
    "nodes", "edges", "triples", "justification_sets", "chains",
    "cluster_members", "requirements", "summaries")

  final case class Report(
      snapshotId: Long,
      bucketsCommitted: Seq[Int],
      bucketsSkipped: Seq[Int],
      rows: Map[String, Long])

  def bucketOf(convIdCol: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(hash(convIdCol), lit(nBuckets))

  /** The completed-cases skip (run_iltur.py:581-623 use site): drop every
    * row whose conversation bucket is already committed. Bucket-granular
    * resume — a plain pruning filter on the bucket column, no shuffle, and
    * it preserves within-partition row order (the conversation-contiguous
    * layout survives a resume). */
  def resumeFilter(withBucket: DataFrame, done: Set[Int]): DataFrame =
    if (done.isEmpty) withBucket
    else withBucket.filter(!col("bucket").isin(done.toSeq: _*))

  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      root: String,
      nBuckets: Int = 32,
      jurisdiction: String = "in",
      prePartitioned: Boolean = false): Report = {

    val store = new SnapshotStore(root)
    val recorded = store.recordBucketCount(nBuckets)
    require(recorded == nBuckets,
      s"table root $root was created with $recorded buckets; resuming it with " +
        s"nBuckets = $nBuckets would write committed conversations again")
    val done = store.completedBuckets
    val withBucket = transcripts.withColumn("bucket", bucketOf(col("conv_id"), nBuckets))
    val pending = resumeFilter(withBucket, done)

    val allBuckets = (0 until nBuckets).toSet
    val pendingBuckets = (allBuckets -- done).toList.sorted
    if (pendingBuckets.isEmpty)
      return Report(store.snapshots.last.id, Nil, done.toList.sorted, Map.empty)

    // one extraction pass, persisted as the COLUMNAR MatRow union and fanned
    // out to the 8 output tables: each table projection reads only its own
    // struct column from the cache (column pruning) instead of decoding
    // whole graphs for every one of the 8 writes. The resume filter
    // preserves within-partition order, so the pre-partitioned
    // (shuffle-free) layout stays conversation-contiguous and each branch
    // keeps the extractor's row order.
    val union: DataFrame =
      KgPipeline.allTablesDirect(spark, pending.drop("bucket"), jurisdiction, prePartitioned)
        .toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def branch(name: String): DataFrame = KgPipeline.branch(union, name)

    def addBucket(df: DataFrame, convCol: String): DataFrame =
      df.withColumn("bucket", bucketOf(col(convCol), nBuckets))

    val outputs: Seq[(String, DataFrame)] = Seq(
      "nodes" -> branch("node"),
      "edges" -> branch("edge"),
      "triples" -> branch("edge").select(col("convId"), col("source").as("subj"),
        col("relation").as("pred"), col("target").as("obj")),
      "justification_sets" -> branch("js"),
      "chains" -> branch("chain"),
      "cluster_members" -> branch("member"),
      "requirements" -> branch("requirement"),
      "summaries" -> branch("summary"))

    // the schema each table is written with: reading a table back with it
    // counts an empty table (no part files to infer a schema from) as 0
    val written: Map[String, StructType] =
      outputs.map { case (name, df) => name -> addBucket(df, "convId").schema }.toMap

    // materialize the shared extraction cache ONCE (a cheap columnar count)
    // before fanning the 8 independent table writes out over a small thread
    // pool: concurrent jobs back-fill each other's straggler tails instead
    // of running 8 short jobs strictly serially. Each write is to its own
    // directory, so ordering is irrelevant; results are identical.
    union.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val rowCounts: Map[String, Long] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futures = outputs.map { case (name, df) =>
          scala.concurrent.Future {
            val b = addBucket(df, "convId")
            // dynamic partition overwrite: re-running an uncommitted bucket
            // after a mid-write failure replaces (not duplicates) its
            // partition dirs
            b.write.mode(SaveMode.Overwrite)
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("bucket").parquet(s"$root/$name")
            // count what was WRITTEN (column-less scan over the output
            // footers), not a recompute of the table's full lineage
            name -> readAs(spark, root, name, written.get(name)).count()
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf).toMap
      } finally pool.shutdown()

    // split-integrity guard for the trusting shuffle-free read: if a
    // mid-file split ever cut a conversation in two, the consecutive-run
    // grouping would emit two half-graphs for one conv_id — one graph per
    // conversation is the invariant. Cheap: one conv_id-only distinct over
    // the input vs the already-written summaries count.
    if (prePartitioned) {
      val nConvs = pending.select(col("conv_id")).distinct().count()
      val nGraphs = rowCounts("summaries")
      require(nGraphs == nConvs,
        s"pre-partitioned read integrity violated: $nGraphs graphs for " +
          s"$nConvs conversations — a file was split mid-conversation " +
          s"(read the layout via KgPipeline.readConversationPartitioned)")
    }

    union.unpersist()

    // a bucket without conversations has no rows but is still committed
    val found = lineage(spark, root, "extract", Some(pendingBuckets), written)
    val snap = store.commit(pendingBuckets.map(b =>
      found.getOrElse(b, BucketLineage(b, "extract", 0L, Map.empty, Map.empty, "0"))))
    Report(snap.id, pendingBuckets, done.toList.sorted, rowCounts)
  }

  /** Read a materialized table (bucket-partitioned parquet). */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    readAs(spark, root, table, None)

  /** [[read]] with the schema the table was written with, when known;
    * else the schema is inferred from the part files. */
  private def readAs(spark: SparkSession, root: String, table: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(s"$root/$table")

  /** Stats reconstruction (run_iltur.py:625-668): when the snapshot log is
    * lost or partial, re-derive per-bucket lineage (counts + content hash)
    * from the materialized tables themselves and commit a fresh snapshot
    * covering every bucket found on disk. Returns the new snapshot. */
  def reconstructStats(spark: SparkSession, root: String): Snapshot = {
    val found = lineage(spark, root, "reconstruct", None)
    new SnapshotStore(root).commit(found.keys.toList.sorted.map(found))
  }

  /** Per-bucket lineage of the written tables, for the buckets in `only`
    * (all when None): extraction counts from summaries and an
    * order-independent content hash over the triple set. Both aggregate
    * tiny bucket-pruned columnar scans of the parquet on disk, never the
    * extraction cache. `schemas` are the written schemas, when known. */
  private def lineage(spark: SparkSession, root: String, stage: String,
      only: Option[Seq[Int]],
      schemas: Map[String, StructType] = Map.empty): Map[Int, BucketLineage] = {
    def scan(table: String): DataFrame = {
      val df = readAs(spark, root, table, schemas.get(table))
      only.fold(df)(bs => df.filter(col("bucket").isin(bs: _*)))
    }
    val hashByBucket = scan("triples")
      .withColumn("rh", xxhash64(concat_ws("|",
        col("convId"), col("subj"), col("pred"), col("obj"))))
      // bit_xor: order-independent, overflow-free under ANSI mode
      .groupBy(col("bucket")).agg(expr("bit_xor(rh)").as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    scan("summaries").groupBy(col("bucket")).agg(
      count(lit(1)).as("convs"), sum(col("nTurns")).as("input_rows"),
      sum(col("nFacts")).as("facts"), sum(col("nConcepts")).as("concepts"),
      sum(col("nIssues")).as("issues"), sum(col("nArguments")).as("arguments"),
      sum(col("nHoldings")).as("holdings"), sum(col("nPrecedents")).as("precedents"),
      sum(col("nEdges")).as("edges"), sum(col("nChains")).as("chains"))
      .collect().map { r =>
        val b = r.getInt(0)
        def n(c: String): Long = r.getAs[Long](c)
        b -> BucketLineage(b, stage, n("input_rows"),
          Map("convs" -> n("convs"), "edges" -> n("edges")),
          Seq("facts", "concepts", "issues", "arguments", "holdings", "precedents", "chains")
            .map(c => c -> n(c)).toMap,
          java.lang.Long.toHexString(hashByBucket.getOrElse(b, 0L)))
      }.toMap
  }
}
