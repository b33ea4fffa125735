package graft

import graft.kg.canonical.Canonicalizer
import graft.kg.gen.TranscriptGen
import graft.kg.ontology.Jurisdiction
import graft.kg.pipeline.KgPipeline
import graft.kg.streaming.TranscriptStream
import graft.kg.table.{Materializer, SnapshotStore}
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The one runnable entry point of the engine, besides the frozen
  * correctness/throughput harness `graft.Bench`/`graft.Verify` and the
  * fixture generator `graft.kg.GoldenGen`.
  *
  * {{{
  * spark-submit --class graft.Main <jar> materialize \
  *   --input <transcripts parquet/iceberg path> --output <table root> \
  *   [--buckets 512] [--jurisdiction in|echr|tr]
  * spark-submit --class graft.Main <jar> canonical-triples \
  *   --input <transcripts path> --output <parquet out> [--jurisdiction in|echr|tr]
  * spark-submit --class graft.Main <jar> entity-stats \
  *   --input <transcripts path> --output <parquet out> [--jurisdiction in|echr|tr]
  * spark-submit --class graft.Main <jar> stream \
  *   --input <transcripts dir> --output <parquet sink> --checkpoint <dir> \
  *   [--gap-minutes 30] [--jurisdiction in|echr|tr] [--once true|false]
  * sbt "runMain graft.Main demo --convs 50 --turns 14"
  * sbt "runMain graft.Main plans --output <dir> --suffix <s> --names a,b [--sf <dir>]"
  * }}}
  *
  * Under spark-submit the master and memory come from spark-submit; run
  * anywhere else, the session is `local[SPARK_GRAFT_CPUS]` (default 8).
  * `materialize` is resumable: re-running after a failure recomputes only
  * buckets missing from the snapshot log, with the bucket count the root
  * recorded when it was created (`--buckets` sizes a new root only).
  * `stream` resumes exactly-once from its checkpoint; `--once true` stops
  * when it has caught up. `--jurisdiction` defaults to `in` and also takes
  * the spellings `india`, `eu` and `turkey`, in any case (see
  * [[graft.kg.ontology.Jurisdiction.parse]]).
  */
object Main {

  private val usage =
    """usage: graft.Main <command> [--option value ...]
      |  materialize        --input <path> --output <path> [--buckets 512] [--jurisdiction in|echr|tr]
      |  canonical-triples  --input <path> --output <path> [--jurisdiction in|echr|tr]
      |  entity-stats       --input <path> --output <path> [--jurisdiction in|echr|tr]
      |  stream             --input <dir> --output <dir> --checkpoint <dir>
      |                     [--gap-minutes 30] [--jurisdiction in|echr|tr] [--once true|false]
      |  demo               [--convs 50] [--turns 14]
      |  plans              --output <dir> --suffix <s> --names a,b,... [--sf <dir>]""".stripMargin

  /** Each command and the options it reads. */
  private val commands: Map[String, Set[String]] = Map(
    "materialize" -> Set("input", "output", "buckets", "jurisdiction"),
    "canonical-triples" -> Set("input", "output", "jurisdiction"),
    "entity-stats" -> Set("input", "output", "jurisdiction"),
    "stream" -> Set("input", "output", "checkpoint", "gap-minutes", "jurisdiction", "once"),
    "demo" -> Set("convs", "turns"),
    "plans" -> Set("output", "suffix", "names", "sf"))

  /** The command and its `--key value` options, with `--jurisdiction` as
    * its canonical code. A dangling key, a key without `--`, one the command
    * does not read, a jurisdiction [[Jurisdiction.parse]] does not accept
    * and an `--once` other than `true`/`false` fail with the usage, before
    * any session starts: dropping or misreading the value would run on a
    * default the caller did not ask for. */
  private[graft] def parseArgs(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty && commands.contains(args.head), usage)
    val keys = commands(args.head)
    val pairs = args.tail.grouped(2).toSeq
    require(pairs.forall(_.length == 2), s"${args.head}: an option lacks its value\n$usage")
    val opts = pairs.map { case Array(k, v) =>
      require(k.startsWith("--") && keys(k.drop(2)),
        s"${args.head}: unknown option $k\n$usage")
      k.drop(2) -> v
    }.toMap
    opts.get("once").foreach(v =>
      require(v == "true" || v == "false", s"${args.head}: --once takes true or false, not $v\n$usage"))
    val jurisdiction = opts.get("jurisdiction").map { j =>
      try Jurisdiction.parse(j).code
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"${args.head}: ${e.getMessage}\n$usage") }
    }
    (args.head, opts ++ jurisdiction.map("jurisdiction" -> _))
  }

  def main(args: Array[String]): Unit = {
    val (cmd, opts) = parseArgs(args)
    val spark = session(cmd)
    try run(spark, cmd, opts) finally spark.stop()
  }

  /** The session factory: AQE, skew join and UTC everywhere. The master is
    * spark-submit's when it set one, else `local[SPARK_GRAFT_CPUS]` with
    * cores × 4 shuffle partitions and no UI. */
  private def session(cmd: String): SparkSession = {
    val builder = SparkSession.builder().appName(s"graft-$cmd")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (new SparkConf().contains("spark.master")) builder else {
      val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
      builder.master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", (cores * 4).toString)
        .config("spark.ui.enabled", "false")
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one command on `spark` with the options `parseArgs` returned;
    * each command checks its own options. */
  def run(spark: SparkSession, cmd: String, opts: Map[String, String]): Unit = {
    def need(key: String): String =
      opts.getOrElse(key, sys.error(s"$cmd: missing --$key\n$usage"))
    val jurisdiction = opts.getOrElse("jurisdiction", "in")
    cmd match {
      case "materialize" =>
        val output = need("output")
        val buckets = new SnapshotStore(output).bucketCount
          .getOrElse(opts.getOrElse("buckets", "512").toInt)
        val report = Materializer.run(spark, spark.read.parquet(need("input")), output,
          buckets, jurisdiction)
        println(s"snapshot=${report.snapshotId} committed=${report.bucketsCommitted.size} " +
          s"skipped=${report.bucketsSkipped.size} rows=${report.rows.toList.sortBy(_._1)}")
      case "canonical-triples" =>
        val (input, output) = (need("input"), need("output"))
        // one extraction pass, persisted once; its tagged edge rows take
        // the map-side rewrite
        val combined = KgPipeline.canonicalInputsDirect(spark, spark.read.parquet(input),
          jurisdiction).toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Canonicalizer.canonicalTriples(spark,
          combined.filter(col("m").isNotNull).select("m.*"),
          combined.filter(col("e").isNotNull).select("e.*"))
          .write.mode("overwrite").parquet(output)
        combined.unpersist()
        println(s"canonical triples written to $output: " +
          spark.read.parquet(output).count())
      case "entity-stats" =>
        val (input, output) = (need("input"), need("output"))
        val nodes = KgPipeline.nodesDirect(spark, spark.read.parquet(input), jurisdiction).toDF()
        Canonicalizer.entityStats(spark, nodes)
          .write.mode("overwrite").parquet(output)
        println(s"entity stats written to $output")
      case "stream" =>
        stream(spark, need("input"), need("output"), need("checkpoint"),
          opts.getOrElse("gap-minutes", "30").toInt, jurisdiction,
          opts.get("once").contains("true"))
      case "demo" =>
        demo(spark, opts.getOrElse("convs", "50").toInt, opts.getOrElse("turns", "14").toInt)
      case "plans" =>
        val names = need("names").split(",").toSeq
        val sf = if (names.forall(_ == "canonical_chain")) "" else need("sf")
        plans(spark, need("output"), need("suffix"), names, sf)
      case other => sys.error(s"unknown command: $other\n$usage")
    }
  }

  private val TranscriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** Deployable streaming job: watch a directory for new transcript parquet
    * files, extract each conversation once its turn stream goes quiet, append
    * triples to a parquet sink. The checkpoint location makes the query
    * resume exactly-once across restarts (the streaming counterpart of the
    * batch snapshot log). `once` uses Trigger.AvailableNow and returns when
    * caught up. */
  private def stream(spark: SparkSession, in: String, out: String, ckpt: String,
      gapMinutes: Int, jurisdiction: String, once: Boolean): Unit = {
    val turns = spark.readStream.schema(TranscriptSchema).parquet(in)
    val triples = TranscriptStream.triples(spark, turns, jurisdiction, gapMinutes)

    val writer = triples.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
    val q = (if (once) writer.trigger(Trigger.AvailableNow()) else writer).start()
    q.awaitTermination()
  }

  /** End-to-end smoke drive: synthesize a transcripts table, run the full
    * extraction pipeline, print table counts + samples. */
  private def demo(spark: SparkSession, nConvs: Int, turnsPerConv: Int): Unit = {
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft_demo").toString
    TranscriptGen.turns(nConvs, turnsPerConv).toDF()
      .repartition(8).write.mode("overwrite").parquet(s"$dir/transcripts")
    val transcripts = spark.read.parquet(s"$dir/transcripts")
    println(s"transcripts: ${transcripts.count()} turns, $nConvs convs → $dir")

    val g = KgPipeline.allTablesDirect(spark, transcripts).toDF().cache()
    val nodes = KgPipeline.branch(g, "node")
    val edges = KgPipeline.branch(g, "edge")
    val triples = KgPipeline.triples(edges)
    println(s"nodes: ${nodes.count()}  edges: ${edges.count()}  triples: ${triples.count()}")
    println(s"justificationSets: ${KgPipeline.branch(g, "js").count()}  chains: ${KgPipeline.branch(g, "chain").count()}")

    println("--- tier histogram ---")
    KgPipeline.tierHistogram(KgPipeline.branch(g, "summary")).show(10, truncate = false)
    println("--- sample triples ---")
    triples.orderBy("conv_id", "subj", "pred", "obj").show(15, truncate = false)
    println("--- orphans ---")
    KgPipeline.orphans(nodes, edges).groupBy("nodeType").count().show(10, truncate = false)
    println("--- per-type node counts ---")
    nodes.groupBy("nodeType").count().orderBy("nodeType").show(10, truncate = false)

    triples.write.mode("overwrite").parquet(s"$dir/triples")
    println(s"triples parquet written: ${spark.read.parquet(s"$dir/triples").count()} rows")
  }

  /** Delete `root` and everything under it. */
  private def deleteTree(root: java.nio.file.Path): Unit = {
    val paths = java.nio.file.Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.delete(p))
    finally paths.close()
  }

  /** Dump `.explain("formatted")` for named SparkEntry queries (plus the
    * tfidf index build and the raw streaming operators) to
    * `<outDir>/<name>_<suffix>.txt`: the before/after plan evidence of a
    * change that alters a plan. `dir` is the generated-table directory the
    * queries read.
    *
    * `canonical_chain` is the bench chain on generated transcripts in the
    * conversation-contiguous layout: `canonicalInputsDirect` (persisted) →
    * `Canonicalizer.canonicalTriples`, executed so the dump shows the final
    * adaptive plan. */
  private def plans(spark: SparkSession, outDir: String, suffix: String,
      names: Seq[String], dir: String): Unit = {
    new java.io.File(outDir).mkdirs()

    def dump(name: String, text: => String): Unit =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), text)
        println(s"[plans] wrote $name")
      } catch {
        case e: Throwable => println(s"[plans] $name FAILED: ${e.getMessage}")
      }

    for (n <- names) n match {
      case "tfidf_index_build" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id").as("conv_id"), col("text").as("doc_text"))
        val idx = graft.kg.query.Retrieval.buildTfidfIndex(spark, docs)
        dump(n, idx.docVectors.queryExecution.explainString(ExplainMode.fromString("formatted")))
      case "q92_stream_plan" =>
        val schema = spark.read.parquet(s"$dir/events.parquet").schema
        val src = spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", col("ts").cast("timestamp"))
        val rolled = TranscriptStream.eventRollup(src)
        dump(n, rolled.queryExecution.explainString(ExplainMode.fromString("formatted")))
      case "canonical_chain" =>
        import spark.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("plandump_chain")
        try {
          val path = tmp.toString + "/t"
          KgPipeline.writeConversationPartitioned(TranscriptGen.turns(200, 40).toDF(), path,
            nFiles = spark.sparkContext.defaultParallelism * 4)
          val combined = KgPipeline.canonicalInputsDirect(spark,
            KgPipeline.readConversationPartitioned(spark, path),
            prePartitioned = true).toDF().persist()
          val ct = Canonicalizer.canonicalTriples(spark,
            combined.filter(col("m").isNotNull).select("m.*"),
            combined.filter(col("e").isNotNull).select("e.*"))
          ct.collect()
          dump(n, ct.queryExecution.explainString(ExplainMode.fromString("formatted")))
          combined.unpersist()
        } finally deleteTree(tmp)
      case _ =>
        val df = SparkEntry.queries(n)(spark, dir)
        dump(n, df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
  }
}
