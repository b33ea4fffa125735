package graft.kg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named SparkEntry queries (plus the
  * tfidf index build and the raw streaming operators) to
  * `<outDir>/<name>_<suffix>.txt` — the plan evidence for
  * OPTIMIZATION_r*.md (guide §1: capture the plan shape before and after
  * each change).
  *
  *   runMain graft.kg.PlanDump <outDir> <suffix> <name,name,...> [sfDir]
  *
  * `canonical_chain` is the bench chain on generated transcripts in the
  * conversation-contiguous layout: `canonicalInputsDirect` (persisted) →
  * `Canonicalizer.canonicalTriples`, executed so the dump shows the final
  * adaptive plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName("plandump")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    import org.apache.spark.sql.functions._

    def dump(name: String, text: => String): Unit =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), text)
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: ${e.getMessage}")
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
        val rolled = graft.kg.streaming.TranscriptStream.eventRollup(src)
        dump(n, rolled.queryExecution.explainString(ExplainMode.fromString("formatted")))
      case "canonical_chain" =>
        import spark.implicits._
        val path = java.nio.file.Files.createTempDirectory("plandump_chain").toString + "/t"
        graft.kg.pipeline.KgPipeline.writeConversationPartitioned(
          graft.kg.gen.TranscriptGen.turns(200, 40).toDF(), path, nFiles = cores * 4)
        val combined = graft.kg.pipeline.KgPipeline.canonicalInputsDirect(spark,
          graft.kg.pipeline.KgPipeline.readConversationPartitioned(spark, path),
          prePartitioned = true).toDF().persist()
        val ct = graft.kg.canonical.Canonicalizer.canonicalTriples(spark,
          combined.filter(col("m").isNotNull).select("m.*"),
          combined.filter(col("e").isNotNull).select("e.*"))
        ct.collect()
        dump(n, ct.queryExecution.explainString(ExplainMode.fromString("formatted")))
        combined.unpersist()
      case _ =>
        val df = graft.SparkEntry.queries(n)(spark, dir)
        dump(n, df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
