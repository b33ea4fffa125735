package graft

import graft.kg.canonical.Canonicalizer
import graft.kg.pipeline.KgPipeline
import graft.kg.table.Materializer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** spark-submit entry point for the production pipeline.
  *
  * {{{
  * spark-submit --class graft.Main <jar> materialize \
  *   --input <transcripts parquet/iceberg path> --output <table root> \
  *   [--buckets 512] [--jurisdiction in]
  * spark-submit --class graft.Main <jar> canonical-triples \
  *   --input <transcripts path> --output <parquet out>
  * }}}
  *
  * On a cluster no master/memory settings are forced here — they come from
  * spark-submit. `materialize` is resumable: re-running after a failure
  * recomputes only buckets missing from the snapshot log.
  */
object Main {

  private def parseArgs(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty, usage)
    val cmd = args.head
    val opts = args.tail.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    (cmd, opts)
  }

  private val usage =
    """usage: graft.Main <materialize|canonical-triples|entity-stats> --input <path> --output <path>
      |       [--buckets N] [--jurisdiction in|echr|tr]""".stripMargin

  def main(args: Array[String]): Unit = {
    val (cmd, opts) = parseArgs(args)
    val input = opts.getOrElse("input", sys.error(usage))
    val output = opts.getOrElse("output", sys.error(usage))
    val jurisdiction = opts.getOrElse("jurisdiction", "in")
    val buckets = opts.getOrElse("buckets", "512").toInt

    val builder = SparkSession.builder().appName(s"graft-$cmd")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // local fallback for running outside spark-submit
    val spark = (if (sys.env.contains("SPARK_GRAFT_LOCAL"))
      builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val transcripts = spark.read.parquet(input)
      cmd match {
        case "materialize" =>
          val report = Materializer.run(spark, transcripts, output, buckets, jurisdiction)
          println(s"snapshot=${report.snapshotId} committed=${report.bucketsCommitted.size} " +
            s"skipped=${report.bucketsSkipped.size} rows=${report.rows.toList.sortBy(_._1)}")
        case "canonical-triples" =>
          // one extraction pass, persisted once; its tagged edge rows take
          // the broadcast-probe rewrite
          val combined = KgPipeline.canonicalInputsDirect(spark, transcripts, jurisdiction).toDF()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          Canonicalizer.canonicalTriples(spark,
            combined.filter(col("m").isNotNull).select("m.*"),
            combined.filter(col("e").isNotNull).select("e.*"))
            .write.mode("overwrite").parquet(output)
          combined.unpersist()
          println(s"canonical triples written to $output: " +
            spark.read.parquet(output).count())
        case "entity-stats" =>
          val nodes = KgPipeline.nodesDirect(spark, transcripts, jurisdiction).toDF()
          Canonicalizer.entityStats(spark, nodes)
            .write.mode("overwrite").parquet(output)
          println(s"entity stats written to $output")
        case other => sys.error(s"unknown command: $other\n$usage")
      }
    } finally spark.stop()
  }
}
