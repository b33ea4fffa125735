package graft.perfbench

import graft.kg.canonical.{Canonicalizer, ConnectedComponents}
import graft.kg.eval.DualEngineCheck
import graft.kg.extract.DocExtractor
import graft.kg.model.{Triple, Turn}
import graft.kg.pipeline.KgPipeline
import graft.kg.query.{GraphOps, GraphQuality, Retrieval}
import graft.kg.streaming.TranscriptStream
import graft.kg.table.{Materializer, SnapshotStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The two workloads. An untraced run sets up, warms up and measures for
  * the run's seconds at local[4]; a traced run records spans and
  * per-layer metrics instead. */
object Workloads {

  // --- sizes ---------------------------------------------------------------
  val BulkConvs = 400
  val TurnsPerConv = 40
  val StreamWaves = 7
  val StreamConvsPerWave = 24
  val LayoutFiles = 8
  val Buckets = 8
  val SetupReps = 3
  val TracedReps = 2
  val StageSample = 40
  val PureWarmUpPasses = 3
  val SparkWarmUpChains = 8
  /** Largest share of CPU the hypervisor may steal during a kept unit. */
  val MaxSteal = 0.02
  val StealCapFactor = 2.5

  private def turnsFrame(spark: SparkSession, turns: Seq[Turn]): DataFrame = {
    import spark.implicits._
    spark.createDataset(turns).toDF()
  }

  private def writeLayout(df: DataFrame, path: String): Unit =
    KgPipeline.writeConversationPartitioned(df, path, LayoutFiles)

  // --- set-up --------------------------------------------------------------

  /** Set the inputs up `SetupReps` times (generate, write the layout, read
    * it back and validate it against the generator's fingerprint), report
    * the median as `setup_s`, and keep one validated copy in the input
    * cache. Returns the generated rows and the cached path. */
  private def setUp[R](run: Run, key: String, gen: () => R, frame: R => DataFrame,
                       write: (DataFrame, String) => Unit,
                       read: String => DataFrame): (R, String) = {
    var rows: Option[R] = None
    var expected: Fingerprint = null
    // set-up 0 warms the JVM (class loading, JIT, first Spark jobs) and is
    // not timed; the median of the next SetupReps is setup_s
    val times = (0 to SetupReps).map { r =>
      val path = s"${run.dirs.work}/setup-$r"
      val t0 = System.nanoTime()
      val g = gen()
      write(frame(g), path)
      val got = Fingerprint.of(read(path))
      val secs = Stats.seconds(t0)
      if (expected == null) expected = Fingerprint.of(frame(g))
      run.check(s"setup[$r] read-back equals generated input", got == expected, s"$got vs $expected")
      rows = Some(g)
      secs
    }
    run.mark("set-up done")
    run.e2e("setup_s", Stats.median(times.tail), "s")
    run.info("setup_reps_s") = times.map(t => f"$t%.3f").mkString(",")
    run.info("input_rows") = expected.rows.toString
    val (path, reused) = InputCache.resolve(run.dirs, key, expected,
      s"${run.dirs.work}/setup-0", read)
    run.info("input_cache") = if (reused) s"reused $key" else s"stored $key"
    (rows.get, path)
  }

  // --- measuring -----------------------------------------------------------

  /** Run `rep` until `minReps` units ran with at most `MaxSteal` of the
    * machine's CPU stolen by the hypervisor, then while at least half a
    * mean unit of the `budgetS` measuring time is left. A unit during which
    * more was stolen measures the neighbours, not the program, so it is
    * run again; past `StealCapFactor` × `budgetS` of wall the loop stops
    * and keeps the least-stolen `minReps` units instead. `rep` returns a
    * unit and its seconds. */
  private def measureLoop[T](run: Run, budgetS: Double, minReps: Int)(rep: => (T, Double)): Seq[(T, Double)] = {
    val all = mutable.ArrayBuffer.empty[(T, Double, Double)]
    def clean = all.filter(_._3 <= MaxSteal)
    def wantMore = {
      val c = clean.map(_._2)
      c.size < minReps || c.sum + c.sum / c.size / 2 < budgetS
    }
    val t0 = System.nanoTime()
    while (all.size < minReps || (wantMore && Stats.seconds(t0) < StealCapFactor * budgetS)) {
      val s0 = CpuSteal.snap()
      val (unit, secs) = rep
      all += ((unit, secs, CpuSteal.share(s0, CpuSteal.snap())))
    }
    val kept = if (clean.size >= minReps) clean else all.sortBy(_._3).take(minReps)
    run.info("steal_per_unit") = all.map(u => f"${u._3}%.4f").mkString(",")
    run.info("units_rerun_for_steal") = (all.size - kept.size).toString
    kept.map(u => (u._1, u._2)).toSeq
  }

  /** The end-to-end metrics of an untraced run from its timed operations
    * and the live heap read at the end of each measuring unit. */
  private def reportOps(run: Run, secs: Vector[Double], work: Double, heapMiB: Seq[Double]): Unit = {
    val (tail, label) = Stats.tail(secs)
    run.e2e("work_per_s", work / secs.sum, "1/s")
    run.e2e("op_p50_s", Stats.median(secs), "s")
    run.e2e("op_tail_s", tail, "s")
    run.e2e("peak_heap_mb", Stats.median(heapMiB), "MiB")
    run.info("op_tail") = label
    run.info("ops_s") = secs.map(s => f"$s%.4f").mkString(",")
    run.info("live_heap_mib") = heapMiB.map(h => f"$h%.1f").mkString(",")
  }

  /** trace.coverage (time covered by layer spans directly under the root
    * spans named `root`, over the roots' wall time) and trace.overhead
    * (traced over untraced wall, minus one). */
  private def traceSummary(run: Run, untraced: Seq[Double], traced: Seq[Double], root: String): Unit = {
    val spans = run.tracer.closed
    val roots = spans.filter(s => s.layer == "bench" && s.name == root)
    val rootIds = roots.map(_.id).toSet
    val covered = spans.filter(s => rootIds(s.parent)).map(s => s.endNs - s.startNs).sum
    run.layer("trace.coverage", covered.toDouble / roots.map(s => s.endNs - s.startNs).sum, "ratio")
    run.layer("trace.overhead", Stats.median(traced) / Stats.median(untraced) - 1, "ratio")
  }

  private def stagePasses(run: Run, turns: Seq[Turn]): Map[String, Double] = {
    val stages = Pure.stagePasses(Pure.conversations(turns).take(StageSample), run.tracer)
    stages.foreach { case (k, v) => run.layer(k, v, LayerMetrics.unit(k)) }
    stages
  }

  // --- bulk_build: the canonical chain -------------------------------------

  final case class ChainRep(secs: Double, fp: Fingerprint)

  /** extract → canonicalize → consume, the chain the frozen Bench times,
    * except that the final action is the canonical triples' fingerprint
    * (row count plus multiset hash) instead of a bare count, so every
    * column of every triple is produced and checked. Traced reps force the
    * extraction cache before canonicalization so the pipeline and
    * canonical layers separate. */
  private def chainRep(run: Run, transcripts: DataFrame,
                       after: (DataFrame, DataFrame) => Unit = (_, _) => ()): ChainRep = {
    val spark = run.spark
    val tr = run.tracer
    val t0 = System.nanoTime()
    val (combined, ct, fp) = tr.span("bench", "chain") {
      val combined = tr.span("pipeline", "canonicalInputsDirect") {
        KgPipeline.canonicalInputsDirect(spark, transcripts, prePartitioned = true)
          .toDF().persist(StorageLevel.MEMORY_AND_DISK)
      }
      if (tr.enabled) tr.span("pipeline", "extract.count")(combined.count())
      val ct = tr.span("canonical", "Canonicalizer.canonicalTriples") {
        Canonicalizer.canonicalTriples(spark,
          combined.filter(col("m").isNotNull).select("m.*"),
          combined.filter(col("e").isNotNull).select("e.*"))
      }
      val fp = tr.span("canonical", "fingerprint")(Fingerprint.of(ct))
      (combined, ct, fp)
    }
    val secs = Stats.seconds(t0)
    run.mark(f"chain $secs%.3f s")
    after(combined, ct)
    combined.unpersist(false)
    ChainRep(secs, fp)
  }

  def bulkBuild(run: Run): Unit = {
    val seed = run.args.seed
    run.startSession(4)
    val read = (p: String) => KgPipeline.readConversationPartitioned(run.spark, p)
    val (turns, path) = setUp(run, s"bulk_build-s$seed-n${BulkConvs}x$TurnsPerConv",
      () => Inputs.transcripts(seed, BulkConvs, TurnsPerConv),
      (t: Vector[Turn]) => turnsFrame(run.spark, t), writeLayout, read)
    val convs = Pure.conversations(turns)
    val expected = {
      val spark = run.spark
      import spark.implicits._
      Fingerprint.of(Pure.canonicalTriples(Pure.extractAll(convs))
        .toDF("conv_id", "subj", "pred", "obj"))
    }
    // the extractor's hot loops reach steady JIT state far sooner on
    // plain threads than inside 3-second Spark chains
    for (_ <- 0 until PureWarmUpPasses) Pure.extractAll(convs)
    run.mark("pure-JVM recomputation and warm-up done")
    def checked(where: String, rep: ChainRep): ChainRep = {
      run.check(s"$where canonical triples equal the pure-JVM union-find", rep.fp == expected,
        s"${rep.fp} vs $expected")
      rep
    }
    // warm-up: codegen, first-job session set-up, and the JIT of Spark's
    // planner, which keeps speeding chains up for about ten reps whatever
    // their size, so most warm-up chains run on a quarter of the
    // conversations (filtering keeps each conversation whole and in order)
    for (_ <- 0 until SparkWarmUpChains)
      chainRep(run, read(path).filter(pmod(hash(col("conv_id")), lit(4)) === 0))
    checked("warm-up", chainRep(run, read(path)))

    if (!run.args.trace) {
      val kept = measureLoop(run, run.args.seconds, 4) {
        var heap = 0.0
        val r = checked("local[4]", run.op("chain")(
          chainRep(run, read(path), after = (_, _) => heap = LiveHeap.mib())).get)
        ((r, heap), r.secs)
      }
      reportOps(run, kept.map(_._2).toVector, kept.map(_._1._1.fp.rows).sum.toDouble,
        kept.map(_._1._2))
      run.info("canonical_triples") = expected.rows.toString
      return
    }

    val untraced = (0 until TracedReps).map(i => checked(s"untraced[$i]", chainRep(run, read(path))))
    run.enableTracing()
    var cacheMiB, mappingRows, exchanges = 0.0
    var cc = ConnectedComponents.lastStats
    val traced = (0 until TracedReps).map { i =>
      val before = storageBytes(run.spark)
      checked(s"traced[$i]", chainRep(run, read(path), after = (combined, ct) => {
        cacheMiB = (storageBytes(run.spark) - before) / 1048576.0
        cc = ConnectedComponents.lastStats
        exchanges = exchangeCount(ct)
        if (i == 0) mappingRows = Canonicalizer.mentionMap(run.spark,
          combined.filter(col("m").isNotNull).select("m.*")).count().toDouble
      }))
    }
    run.stageMetrics.drain()
    val sm = run.stageMetrics
    val extractS = run.tracer.totalSeconds("pipeline") / TracedReps
    run.layer("pipeline.extract_s", extractS, "s")
    run.layer("pipeline.cache_mib", cacheMiB, "MiB")
    run.layer("pipeline.executor_cpu_s", sm.cpuSeconds("pipeline") / TracedReps, "s")
    run.layer("pipeline.gc_s", sm.gcSeconds("pipeline") / TracedReps, "s")
    run.layer("pipeline.shuffle_write_mib", sm.shuffleWriteMiB("pipeline") / TracedReps, "MiB")
    run.layer("canonical.s", run.tracer.totalSeconds("canonical") / TracedReps, "s")
    run.layer("canonical.cc_edges", cc.edges.toDouble, "count")
    run.layer("canonical.cc_distributed", if (cc.strategy == "distributed") 1 else 0, "bool")
    run.layer("canonical.cc_iterations", cc.iterations.toDouble, "count")
    run.layer("canonical.exchanges", exchanges, "count")
    run.layer("canonical.shuffle_write_mib", sm.shuffleWriteMiB("canonical") / TracedReps, "MiB")
    run.layer("canonical.mapping_rows", mappingRows, "count")
    traceSummary(run, untraced.map(_.secs), traced.map(_.secs), "chain")

    val root = s"${run.dirs.work}/tables"
    materialize(run, turns, path, root)
    queryLayer(run, root, path)
    val stages = stagePasses(run, turns)
    run.layer("pipeline.overhead_ratio",
      extractS * 4 / (BulkConvs * stages("extract.us_per_conv") * 1e-6), "ratio")

    // chain scaling: the same input at local[1] against the untraced local[4] reps
    run.startSession(1)
    checked("local[1] warm-up", chainRep(run, read(path)))
    val one = checked("local[1]", chainRep(run, read(path)))
    run.layer("pipeline.scaling_eff_1_to_4",
      one.secs / (4 * Stats.median(untraced.map(_.secs))), "ratio")
  }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Exchange operators in the physical plan of a frame. */
  private def exchangeCount(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(l => l.contains("Exchange ") && !l.contains("ReusedExchange"))

  // --- table layer ---------------------------------------------------------

  /** Materialize under table spans, check the lineage, time a snapshot
    * load and a no-op resume. */
  private def materialize(run: Run, turns: Seq[Turn], path: String, root: String): Unit = {
    val t0 = System.nanoTime()
    val report = run.tracer.span("table", "Materializer.run") {
      Materializer.run(run.spark, KgPipeline.readConversationPartitioned(run.spark, path), root,
        nBuckets = Buckets, prePartitioned = true)
    }
    val matS = Stats.seconds(t0)
    run.mark(f"materialize $matS%.3f s")
    checkLineage(run, turns, root)
    val (bytes, files) = Files2.dataFiles(root)
    run.stageMetrics.drain()
    val sm = run.stageMetrics
    run.layer("table.materialize_s", matS, "s")
    run.layer("table.executor_cpu_s", sm.cpuSeconds("table"), "s")
    run.layer("table.gc_s", sm.gcSeconds("table"), "s")
    run.layer("table.spill_mib", sm.spillMiB("table"), "MiB")
    run.layer("table.files_written", files.toDouble, "count")
    run.layer("table.output_mib", bytes / 1048576.0, "MiB")
    tableReads(run, path, root)
    run.info("materialized_triples") = report.rows.getOrElse("triples", 0L).toString
  }

  /** Median seconds of a snapshot-log load and of a no-op resume. */
  private def tableReads(run: Run, path: String, root: String): Unit = {
    val loadS = Stats.median((0 until 3).map { _ =>
      val t = System.nanoTime()
      run.tracer.span("table", "SnapshotStore.snapshots")(new SnapshotStore(root).snapshots)
      Stats.seconds(t)
    })
    run.layer("table.snapshot_load_s", loadS, "s")
    run.layer("table.resume_noop_s", Stats.median((0 until 3).map(_ => resumeNoop(run, path, root))), "s")
  }

  /** A `Materializer.run` on a fully committed root: must skip every
    * bucket. Returns its seconds. */
  private def resumeNoop(run: Run, path: String, root: String): Double = {
    val t0 = System.nanoTime()
    val r = run.tracer.span("table", "Materializer.run(resume)") {
      Materializer.run(run.spark, KgPipeline.readConversationPartitioned(run.spark, path), root,
        nBuckets = Buckets, prePartitioned = true)
    }
    val secs = Stats.seconds(t0)
    run.check("resume on a committed root commits nothing",
      r.bucketsCommitted.isEmpty && r.bucketsSkipped.size == Buckets,
      s"committed ${r.bucketsCommitted.size}, skipped ${r.bucketsSkipped.size}")
    secs
  }

  /** Every bucket's lineage content hash must equal the same hash over
    * the raw triples the pure-JVM extractor produces. */
  private def checkLineage(run: Run, turns: Seq[Turn], root: String): Unit = {
    val spark = run.spark
    import spark.implicits._
    val raw = Pure.rawTriples(Pure.extractAll(Pure.conversations(turns)))
      .toDF("convId", "subj", "pred", "obj")
    val want = raw.withColumn("bucket", Materializer.bucketOf(col("convId"), Buckets))
      .withColumn("rh", xxhash64(concat_ws("|", col("convId"), col("subj"), col("pred"), col("obj"))))
      .groupBy(col("bucket")).agg(expr("bit_xor(rh)").as("h"))
      .collect().map(r => r.getInt(0) -> java.lang.Long.toHexString(r.getLong(1))).toMap
    val got = new SnapshotStore(root).snapshots.flatMap(_.lineage)
      .map(l => l.bucket -> l.contentHash).toMap
    val bad = (0 until Buckets).filter(b => got.getOrElse(b, "?") != want.getOrElse(b, "0"))
    run.check("materialized lineage hashes equal the raw triple hashes", bad.isEmpty,
      s"buckets ${bad.mkString(",")}")
  }

  // --- stream_ingest -------------------------------------------------------

  final case class Feed(stepSecs: Vector[Double], turns: Long, emitted: Vector[(Int, Triple)],
                        progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                        liveHeapMiB: Double)

  /** Feed every step of `rows` through `TranscriptStream.triples` in a
    * closed loop: add one step's turns, wait for `processAllAvailable`,
    * then add the next. A foreachBatch sink tags each emitted triple with
    * the step during which it came out. */
  private def feed(run: Run, rows: Vector[FeedRow], tag: String): Feed = {
    val spark = run.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamTurn]
    val step = new java.util.concurrent.atomic.AtomicInteger(-1)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Triple)]()
    val writer: (Dataset[Triple], Long) => Unit = (ds, _) => {
      val s = step.get()
      ds.collect().foreach(t => sink.add((s, t)))
    }
    val q = TranscriptStream.triples(spark, input.toDF(), gapMinutes = Inputs.GapMinutes,
      watermarkDelay = Inputs.WatermarkDelay)
      .writeStream.foreachBatch(writer).outputMode("append")
      .option("checkpointLocation", s"${run.dirs.work}/ckpt-$tag-${System.nanoTime()}")
      .start()
    try {
      val secs = rows.groupBy(_.step).toVector.sortBy(_._1).map { case (s, rs) =>
        val batch = rs.map(r => StreamTurn(r.conv_id, r.turn_idx, r.text, r.ts))
        step.set(s)
        val t0 = System.nanoTime()
        run.tracer.span("streaming", s"step $s") {
          input.addData(batch)
          q.processAllAvailable()
        }
        Stats.seconds(t0)
      }
      run.mark(f"feed $tag: ${secs.size} steps ${secs.sum}%.3f s")
      // read while the query and its state are still alive
      val heap = LiveHeap.mib()
      Feed(secs, rows.size, sink.toArray(Array.empty[(Int, Triple)]).toVector,
        q.recentProgress.toSeq, heap)
    } finally q.stop()
  }

  /** Expected triples per conversation: the batch extractor over the turns
    * delivered before the conversation closed, plus, for a conversation
    * that got a turn after it closed, the extractor over that turn alone.
    * The heartbeat conversation never closes. */
  private def expectedStream(rows: Vector[FeedRow]): Map[String, Vector[(String, String, String)]] = {
    val ont = graft.kg.ontology.Ontology.forJurisdiction("in")
    rows.filter(_.kind != "heartbeat").groupBy(_.conv_id).map { case (conv, rs) =>
      val (after, before) = rs.partition(_.kind == "after_close")
      val parts = Seq(before, after).filter(_.nonEmpty).flatMap { seg =>
        DocExtractor.extract(conv, seg.map(r => (r.turn_idx, r.text)).sortBy(identity), ont, "in")
          .edges.map(e => (e.source, e.relation, e.target))
      }
      conv -> parts.toVector.sorted
    }.filter(_._2.nonEmpty)
  }

  private def checkStream(run: Run, f: Feed, expected: Map[String, Vector[(String, String, String)]],
                          where: String): Unit = {
    val got = f.emitted.filter(_._2.convId != "~heartbeat").groupBy(_._2.convId).map { case (c, ts) =>
      c -> ts.map(t => (t._2.subj, t._2.pred, t._2.obj)).sorted
    }
    val bad = (expected.keySet ++ got.keySet).filter(c => expected.get(c) != got.get(c))
    run.check(s"$where streamed triples per closed conversation equal batch extraction",
      bad.isEmpty, s"${bad.size} conversations differ, e.g. ${bad.take(3).mkString(",")}")
  }

  def streamIngest(run: Run): Unit = {
    val seed = run.args.seed
    // one state partition per core
    run.startSession(4, shufflePartitions = 4)
    run.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val (rows, _) = setUp(run, s"stream_ingest-s$seed-w${StreamWaves}x$StreamConvsPerWave",
      () => Inputs.streamFeed(seed, StreamWaves, StreamConvsPerWave),
      (rs: Vector[FeedRow]) => { val spark = run.spark; import spark.implicits._; spark.createDataset(rs).toDF() },
      (df, p) => df.write.mode("overwrite").parquet(p),
      p => run.spark.read.parquet(p))
    val expected = expectedStream(rows)
    // warm-up: a shorter feed of other content
    feed(run, Inputs.streamFeed(seed + 1000003L, 3, StreamConvsPerWave), "warm-up")

    if (!run.args.trace) {
      var n = 0
      val feeds = measureLoop(run, run.args.seconds, 1) {
        val f = run.op("feed")(feed(run, rows, s"run$n")).get
        checkStream(run, f, expected, s"feed $n")
        n += 1
        (f, f.stepSecs.sum)
      }.map(_._1)
      reportOps(run, feeds.flatMap(_.stepSecs).toVector, feeds.map(_.turns).sum.toDouble,
        feeds.map(_.liveHeapMiB))
      run.info("feed_steps") = feeds.head.stepSecs.size.toString
      return
    }

    val untraced = feed(run, rows, "untraced")
    checkStream(run, untraced, expected, "untraced")
    run.enableTracing()
    val traced = run.tracer.span("bench", "feed")(feed(run, rows, "traced"))
    checkStream(run, traced, expected, "traced")
    val ops = traced.progress.flatMap(_.stateOperators)
    run.layer("streaming.state_rows", if (ops.isEmpty) 0 else ops.map(_.numRowsTotal).max.toDouble, "count")
    run.layer("streaming.state_mib",
      if (ops.isEmpty) 0 else ops.map(_.memoryUsedBytes).max / 1048576.0, "MiB")
    run.layer("streaming.rows_dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    val lastStep = rows.filter(_.kind != "after_close").groupBy(_.conv_id)
      .map { case (c, rs) => c -> rs.map(_.step).max }
    val byConv = traced.emitted.groupBy(_._2.convId)
    val lags = byConv.flatMap { case (c, es) => lastStep.get(c).map(l => (es.map(_._1).min - l).toDouble) }
    run.layer("streaming.emit_lag_batches", if (lags.isEmpty) 0 else lags.sum / lags.size, "batches")
    run.layer("streaming.convs_emitted_twice",
      byConv.count(_._2.map(_._1).distinct.size > 1).toDouble, "count")
    traceSummary(run, Seq(untraced.stepSecs.sum), Seq(traced.stepSecs.sum), "feed")
    stagePasses(run, rows.filter(_.kind != "heartbeat")
      .map(r => Turn(r.conv_id, r.turn_idx, "user", r.text, null, r.ts)))
  }

  // --- query layer (traced bulk_build) ------------------------------------

  private val RetrievalQueries = Seq(
    (0, "natural justice hearing notice order"),
    (1, "classification arbitrary equality differentia"),
    (2, "proportionality restriction least restrictive means"))

  val QueryNames: Seq[String] = Seq("conceptset", "bm25_topk", "tfidf_topk", "holding_support",
    "quality_score", "orphans", "entity_stats", "reachable", "resume_noop")

  /** The fixed query mix over `Materializer.read` tables, in order. Each
    * query's result is reduced to a fingerprint inside its timing. */
  private def queryMix(run: Run, root: String, path: String): Seq[(String, () => Any)] = {
    val spark = run.spark
    import spark.implicits._
    def nodes = Materializer.read(spark, root, "nodes")
    def edges = Materializer.read(spark, root, "edges")
    def js = Materializer.read(spark, root, "justification_sets")
    def qs = RetrievalQueries.toDF("query_id", "query_text")
    def fp(df: => DataFrame): () => Any = () => Fingerprint.of(df)
    val mix = Seq(
      "conceptset" -> fp(Retrieval.conceptSetScores(spark, nodes, DualEngineCheck.ConceptQueryIds)),
      "bm25_topk" -> fp(Retrieval.topK(Retrieval.bm25Scores(spark, Retrieval.linearizeStable(nodes), qs), 10)),
      "tfidf_topk" -> fp(Retrieval.topK(Retrieval.tfidfScores(spark, Retrieval.linearizeStable(nodes), qs), 10)),
      "holding_support" -> fp(GraphOps.holdingSupport(nodes, edges, js)),
      "quality_score" -> fp(GraphQuality.score(nodes, edges)),
      "orphans" -> fp(KgPipeline.orphans(nodes, edges)),
      "entity_stats" -> fp(Canonicalizer.entityStats(spark, nodes)),
      "reachable" -> fp(GraphOps.reachable(spark, edges, "f1", 10)),
      "resume_noop" -> (() => resumeNoop(run, path, root) > 0))
    require(mix.map(_._1) == QueryNames)
    mix
  }

  /** One pass over the mix, one query at a time; (name, seconds, result). */
  private def mixCycle(run: Run, root: String, path: String): Seq[(String, Double, Any)] = {
    val c = queryMix(run, root, path).map { case (name, q) =>
      val t0 = System.nanoTime()
      val r = run.tracer.span("query", name)(run.op(name)(q()).get)
      (name, Stats.seconds(t0), r)
    }
    run.mark(f"query mix ${c.map(_._2).sum}%.3f s")
    c
  }

  /** The query mix over the materialized tables, twice: an untraced pass
    * that warms the plans, then a traced pass under query spans. Each
    * query's result must be the same in both passes. */
  private def queryLayer(run: Run, root: String, path: String): Unit = {
    run.tracer.enabled = false
    val first = mixCycle(run, root, path)
    run.tracer.enabled = true
    val second = mixCycle(run, root, path)
    for (((n, _, a), (_, s, b)) <- first.zip(second)) {
      run.check(s"query $n result stable across reps", a == b, s"$a vs $b")
      run.layer(s"query.${n}_s", s, "s")
    }
    Canonicalizer.releaseCaches(run.spark)
  }
}
