package graft.kg.pipeline

import graft.kg.canonical.Canonicalizer
import graft.kg.extract.DocExtractor
import graft.kg.model._
import graft.kg.ontology.{Jurisdiction, Ontology}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Spark wiring for the KG-construction pipeline.
  *
  * Scale design: one shuffle total for extraction — transcripts are hash
  * repartitioned on `conv_id` and sorted within partitions (no shuffle at
  * all for the conversation-contiguous layout), and the entire
  * per-conversation pipeline (segment → mention-detect → node induction →
  * cluster → edge → JS/chain/tier) runs inside `mapPartitions` over each
  * consecutive run of one conversation's turns ([[KgPipeline.runs]]) as pure
  * Scala (the reference's per-case unit, run_iltur.py:805-1183,
  * where the asyncio semaphore fan-out becomes task parallelism). The task
  * closure carries only the jurisdiction: each executor JVM resolves it to
  * the compiled ontology ([[Ontology.forJurisdiction]]) and builds that
  * ontology's automata once, for every task it runs. All
  * cross-conversation work (canonicalization, stats, retrieval) is relational
  * and happens downstream on the emitted node/edge tables.
  *
  * Conversations are bounded (a transcript has bounded turns), so per-group
  * memory is O(doc length) and 10^12 turns parallelize as ~10^9 independent
  * conversations across executors; the explicit cores × 4 repartition is
  * exempt from AQE coalescing, so every core stays busy.
  */
/** Minimal projected input — only the columns extraction needs, so Parquet
  * column pruning drops role/tool/ts at the scan. (Top-level + public: Spark's
  * generated deserializer code must be able to instantiate it.) */
final case class SlimTurn(conv_id: String, turn_idx: Int, text: String)

/** Column-pruned mention row for cross-conversation canonicalization: only
  * concept/precedent nodes, only the key-material columns
  * ([[graft.kg.canonical.Canonicalizer]] reads nothing else). */
final case class MentionKeyRow(
    convId: String, id: String, nodeType: String, conceptId: String,
    caseName: String, citation: String, citationType: String)

/** Column-pruned edge row for the canonical triple rewrite, its endpoints
  * tagged at emission with their pre-component keys
  * ([[graft.kg.canonical.Canonicalizer.mentionKey]]; null for endpoints
  * that are neither concepts nor precedents), so the rewrite needs no join
  * back to the mention rows. */
final case class TripleEdgeRow(
    convId: String, source: String, relation: String, target: String,
    subjKey: String, objKey: String)

/** The columnar encoding of [[ConvGraph]], and the one full-extraction
  * representation: a tagged union with one branch per graph field, emitted
  * by [[KgPipeline.allTablesDirect]] in one extraction pass. Each
  * conversation's rows are contiguous, in the order nodes, edges, js,
  * chains, members, requirements, warnings, and its summary row comes last,
  * so the union is lossless ([[KgPipeline.graphsOf]] re-assembles the
  * graphs). Persisted as a DataFrame, each table projection
  * ([[KgPipeline.branch]]) reads only its own struct column.
  * (Top-level + public for the Spark encoder.) */
final case class MatRow(
    node: Option[Node], edge: Option[EdgeRow], js: Option[JustificationSetRow],
    chain: Option[ChainRow], member: Option[ClusterMemberRow],
    requirement: Option[RequirementRow], warning: Option[String],
    summary: Option[ConvSummary])

/** Tagged union emitted by [[KgPipeline.canonicalInputsDirect]]: the
  * extraction-boundary projection of exactly what canonicalization consumes.
  * Full [[Node]] rows carry every node field (text, anchors, provenance —
  * ~10× the bytes); when the downstream is canonical triples only, pruning
  * at the extraction boundary is the same column-pruning Catalyst would
  * apply to a relational scan. */
final case class CanonInputRow(m: Option[MentionKeyRow], e: Option[TripleEdgeRow])

object KgPipeline {

  // derived once: an encoder costs milliseconds of reflection per derivation
  private lazy val tripleEncoder = Encoders.product[Triple]
  private lazy val edgeEncoder = Encoders.product[EdgeRow]
  private lazy val nodeEncoder = Encoders.product[Node]
  private lazy val canonInputEncoder = Encoders.product[CanonInputRow]
  private lazy val matRowEncoder = Encoders.product[MatRow]
  private lazy val graphEncoder = Encoders.product[ConvGraph]
  private lazy val orphanEncoder = Encoders.product[(String, String, String)]

  /** Partition count for the conv_id exchange: cores × 4. The extraction
    * stage is CPU-bound with tiny shuffle bytes, so AQE's size-based
    * coalescing would shrink it to a handful of tasks and idle most cores
    * (measured 15 tasks on 32 cores → 0.37 scaling efficiency). An explicit
    * numPartitions repartition is exempt from AQE coalescing and satisfies
    * groupByKey's clustered distribution, so no second exchange is added. */
  private def extractionPartitions(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism * 4

  /** One exchange total: explicit hash repartition on conv_id (AQE-exempt)
    * + sortWithinPartitions, then consecutive-run grouping in mapPartitions.
    * Dataset.groupByKey is NOT used: its lambda key forces a second
    * exchange that AQE size-coalesces to ~10 tasks (shuffle bytes are tiny
    * while the downstream extraction is CPU-bound), idling most cores. */
  private def slimTurns(spark: SparkSession, transcripts: DataFrame): Dataset[SlimTurn] = {
    import spark.implicits._
    transcripts
      .select(col("conv_id"), col("turn_idx").cast("int"), col("text"))
      .repartition(extractionPartitions(spark), col("conv_id"))
      // text as final sort key: a TOTAL order even under duplicate turn_idx,
      // so output never depends on shuffle arrival order
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("text"))
      .as[SlimTurn]
  }

  /** The consecutive runs of equal `key` in a partition whose rows are
    * co-partitioned and sorted by that key: one (key, rows) pair per run,
    * in partition order. The one per-conversation grouping of the engine —
    * extraction and [[byConversation]] both iterate conversations through
    * it. */
  private[kg] def runs[R, K](it: Iterator[R])(key: R => K): Iterator[(K, Vector[R])] = {
    val rows = it.buffered
    new Iterator[(K, Vector[R])] {
      def hasNext: Boolean = rows.hasNext
      def next(): (K, Vector[R]) = {
        val k = key(rows.head)
        val run = Vector.newBuilder[R]
        while (rows.hasNext && key(rows.head) == k) run += rows.next()
        (k, run.result())
      }
    }
  }

  /** Per-conversation graph operators over relational inputs: `f` is
    * called once per conversation with that conversation's rows of each
    * frame, one sequence per frame, in argument order. Each frame's
    * columns other than `convId` are packed into a struct column of their
    * own (read them by name: the frames' schemas differ), the frames are
    * unioned, rows with a null `convId` are dropped, and the union is
    * hash-repartitioned on `convId` once and sorted within partitions, so
    * each conversation is one [[runs]] run. Row order inside a
    * conversation is the shuffle's arrival order. `convId` must be a
    * string column in every frame. Callers select only the columns `f`
    * reads, so the one Exchange carries nothing else. */
  private[kg] def byConversation[T: Encoder](frames: DataFrame*)(
      f: (String, IndexedSeq[Vector[Row]]) => IterableOnce[T]): Dataset[T] = {
    val union = frames.zipWithIndex.map { case (df, i) =>
      df.select(col("convId"),
        struct(df.columns.toSeq.filter(_ != "convId").map(c => col(s"`$c`")): _*).as(s"_$i"))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val slots = frames.indices.map(i => union.schema.fieldIndex(s"_$i"))
    union.filter(col("convId").isNotNull)
      .repartition(col("convId"))
      .sortWithinPartitions(col("convId"))
      .mapPartitions(it => runs(it)(_.getString(0)).flatMap { case (conv, run) =>
        f(conv, slots.map(s => run.filterNot(_.isNullAt(s)).map(_.getStruct(s))))
      })
  }

  /** Invoke the extractor once per conversation run, with the
    * jurisdiction's ontology of this JVM. */
  private def perConversation[T](
      it: Iterator[SlimTurn],
      jurisdiction: String)(f: ConvGraph => IterableOnce[T]): Iterator[T] = {
    val ontology = Ontology.forJurisdiction(jurisdiction)
    runs(it)(_.conv_id).flatMap { case (convId, turns) =>
      // already sorted by turn_idx via sortWithinPartitions
      f(DocExtractor.extract(convId, turns.map(t => (t.turn_idx, t.text)), ontology, jurisdiction))
    }
  }

  /** Write transcripts in the conversation-contiguous production layout:
    * hash-partitioned by conv_id into `nFiles` files, rows sorted by
    * (conv_id, turn_idx) inside each file. Tables in this layout are read
    * back SHUFFLE-FREE by the `prePartitioned = true` extraction paths —
    * at 100 TB this removes the only exchange of the extraction stage.
    * Files must stay below spark.sql.files.maxPartitionBytes so the reader
    * never splits one mid-conversation; size nFiles accordingly. */
  def writeConversationPartitioned(
      transcripts: DataFrame, path: String, nFiles: Int): Unit =
    transcripts
      .repartition(nFiles, col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("text"))
      .write.mode("overwrite").parquet(path)

  /** Read a layout written by [[writeConversationPartitioned]] with
    * FILE-GRANULAR parallelism and a no-mid-file-split guarantee.
    *
    * Spark's default file bin-packing governs both properties and gets both
    * wrong for this layout:
    *  - small files are PACKED (`totalBytes` includes the 4 MB
    *    `openCostInBytes` per file, so at 32 cores 128 small files collapse
    *    to ~32 single-wave scan partitions, forfeiting straggler
    *    amortization — measured 128 → 32 partitions on the bench layout);
    *  - a file larger than `maxPartitionBytes` is byte-range SPLIT, and a
    *    split at a row-group boundary cuts a conversation in two — the
    *    downstream consecutive-run grouping would silently emit two
    *    half-graphs for one conv_id.
    * Setting `openCostInBytes == maxPartitionBytes > max(file size)` makes
    * every file fill its own bin: exactly one whole file per task, asserted
    * below. NOTE: the two file-source confs stay set on the session (Spark
    * resolves them at execution planning, so they cannot be restored here);
    * they only coarsen packing for other reads, never correctness. */
  def readConversationPartitioned(spark: SparkSession, path: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(hPath)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    require(files.nonEmpty, s"no part-files under $path")
    val cap = math.max(files.map(_.getLen).max + 1, 32L * 1024 * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", cap.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", cap.toString)
    val df = spark.read.parquet(path)
    val parts = df.rdd.getNumPartitions
    require(parts == files.length,
      s"conversation-contiguous read wants 1 file per task; " +
        s"got $parts partitions for ${files.length} files")
    df
  }

  /** Trusting read of the conversation-contiguous layout: no exchange, no
    * sort — every conversation's rows are already contiguous and ordered
    * within one file, and file boundaries never cut a conversation (each
    * conv hashes to exactly one write partition = one file). Obtain the
    * DataFrame via [[readConversationPartitioned]], which pins one whole
    * file per task — a raw `spark.read.parquet` is subject to bin-packing
    * (slow) and mid-file splits (silently wrong once files exceed
    * `spark.sql.files.maxPartitionBytes`). */
  private def slimTurnsPrePartitioned(
      spark: SparkSession, transcripts: DataFrame): Dataset[SlimTurn] = {
    import spark.implicits._
    transcripts
      .select(col("conv_id"), col("turn_idx").cast("int"), col("text"))
      .as[SlimTurn]
  }

  /** Run extraction and emit projected rows DIRECTLY from the
    * per-conversation task, skipping the heavyweight ConvGraph encoder
    * round-trip (serialize deep nested graph → deserialize → re-serialize
    * projection): one shuffle (none when `prePartitioned`), one small-row
    * encoder. The jurisdiction is parsed on the driver (a bad spelling
    * throws before any job); its ontology is resolved in each executor JVM:
    * the closure carries the jurisdiction string, not the ontology. */
  def flatExtract[T: org.apache.spark.sql.Encoder](
      spark: SparkSession,
      transcripts: DataFrame,
      jurisdiction: String = "in",
      prePartitioned: Boolean = false)(
      f: ConvGraph => IterableOnce[T]): Dataset[T] = {
    Jurisdiction.parse(jurisdiction) // a bad spelling throws before any job
    val slim =
      if (prePartitioned) slimTurnsPrePartitioned(spark, transcripts)
      else slimTurns(spark, transcripts)
    slim.mapPartitions(it => perConversation(it, jurisdiction)(f))
  }

  /** Extraction → (subj, pred, obj) triples in one pass (the bench metric). */
  def triplesDirect(
      spark: SparkSession,
      transcripts: DataFrame,
      jurisdiction: String = "in",
      prePartitioned: Boolean = false): Dataset[Triple] = {
    implicit val enc = tripleEncoder
    flatExtract(spark, transcripts, jurisdiction, prePartitioned = prePartitioned) { g =>
      g.edges.map(e => Triple(g.summary.convId, e.source, e.relation, e.target))
    }
  }

  /** Extraction → edges in one pass. */
  def edgesDirect(
      spark: SparkSession,
      transcripts: DataFrame,
      jurisdiction: String = "in",
      prePartitioned: Boolean = false): Dataset[EdgeRow] = {
    implicit val enc = edgeEncoder
    flatExtract(spark, transcripts, jurisdiction, prePartitioned = prePartitioned)(_.edges)
  }

  /** Extraction → nodes in one pass. */
  def nodesDirect(
      spark: SparkSession,
      transcripts: DataFrame,
      jurisdiction: String = "in",
      prePartitioned: Boolean = false): Dataset[Node] = {
    implicit val enc = nodeEncoder
    flatExtract(spark, transcripts, jurisdiction, prePartitioned = prePartitioned)(_.nodes)
  }

  /** Extraction → canonicalization inputs in ONE pass, pruned at the
    * boundary: mention-key rows for concept/precedent nodes + slim edge
    * rows whose endpoints carry their mention keys (looked up in the
    * conversation's own nodes, so tagging costs no join). Persist the
    * result and project with `filter(m.isNotNull)` / `filter(e.isNotNull)`
    * — the canonical-triple chain then caches ~10× fewer bytes than full
    * node and edge rows, and its rewrite is map-side. */
  def canonicalInputsDirect(
      spark: SparkSession,
      transcripts: DataFrame,
      jurisdiction: String = "in",
      prePartitioned: Boolean = false): Dataset[CanonInputRow] = {
    implicit val enc = canonInputEncoder
    flatExtract(spark, transcripts, jurisdiction, prePartitioned = prePartitioned) { g =>
      val mentions = g.nodes.filter(n => n.nodeType == "concept" || n.nodeType == "precedent")
      val keyOf = mentions.iterator.map(n => n.id -> Canonicalizer.mentionKey(
        n.nodeType, n.conceptId, n.citationType, n.citation)).toMap
      mentions.iterator
        .map(n => CanonInputRow(Some(MentionKeyRow(n.convId, n.id, n.nodeType,
          n.conceptId, n.caseName, n.citation, n.citationType)), None)) ++
        g.edges.iterator.map(e => CanonInputRow(None,
          Some(TripleEdgeRow(e.convId, e.source, e.relation, e.target,
            keyOf.getOrElse(e.source, null), keyOf.getOrElse(e.target, null)))))
    }
  }

  private def matRows(g: ConvGraph): Iterator[MatRow] = {
    val empty = MatRow(None, None, None, None, None, None, None, None)
    g.nodes.iterator.map(n => empty.copy(node = Some(n))) ++
      g.edges.iterator.map(e => empty.copy(edge = Some(e))) ++
      g.justificationSets.iterator.map(j => empty.copy(js = Some(j))) ++
      g.chains.iterator.map(c => empty.copy(chain = Some(c))) ++
      g.clusterMembers.iterator.map(m => empty.copy(member = Some(m))) ++
      g.requirements.iterator.map(r => empty.copy(requirement = Some(r))) ++
      g.warnings.iterator.map(w => empty.copy(warning = Some(w))) ++
      Iterator.single(empty.copy(summary = Some(g.summary)))
  }

  /** Extraction → the [[MatRow]] union in ONE pass. Persist `.toDF()` and
    * project each table with [[branch]]: extraction runs once, and every
    * projection is a column-pruned scan of the columnar cache. */
  def allTablesDirect(
      spark: SparkSession,
      transcripts: DataFrame,
      jurisdiction: String = "in",
      prePartitioned: Boolean = false): Dataset[MatRow] = {
    implicit val enc = matRowEncoder
    flatExtract(spark, transcripts, jurisdiction, prePartitioned)(matRows)
  }

  /** One table of the union: the rows of struct branch `name` (`node`,
    * `edge`, `js`, `chain`, `member`, `requirement` or `summary`),
    * flattened to that table's columns, in emission order. The eighth
    * branch, `warning`, is a plain string column, not a struct: read it
    * with `filter(col("warning").isNotNull)`. */
  def branch(union: DataFrame, name: String): DataFrame =
    union.filter(col(name).isNotNull).select(col(name + ".*"))

  /** Re-assemble the graphs from the union without a shuffle: every
    * conversation's rows are one consecutive run inside one partition (one
    * task emitted them), ending in its summary row, so a partition-local
    * scan rebuilds each [[ConvGraph]] field for field and in order. Fails
    * if a run does not end in a summary of the same conversation (the
    * union was re-partitioned or filtered). */
  def graphsOf(union: DataFrame): Dataset[ConvGraph] = {
    implicit val enc = graphEncoder
    union.as[MatRow](matRowEncoder).mapPartitions { it =>
      new Iterator[ConvGraph] {
        def hasNext: Boolean = it.hasNext
        def next(): ConvGraph = {
          val nodes = Vector.newBuilder[Node]
          val edges = Vector.newBuilder[EdgeRow]
          val js = Vector.newBuilder[JustificationSetRow]
          val chains = Vector.newBuilder[ChainRow]
          val members = Vector.newBuilder[ClusterMemberRow]
          val requirements = Vector.newBuilder[RequirementRow]
          val warnings = Vector.newBuilder[String]
          var convIds = Set.empty[String]
          var summary: ConvSummary = null
          while (summary == null) {
            require(it.hasNext, s"union run of ${convIds.mkString(",")} has no summary row")
            val r = it.next()
            r.node.foreach { n => nodes += n; convIds += n.convId }
            r.edge.foreach { e => edges += e; convIds += e.convId }
            r.js.foreach { j => js += j; convIds += j.convId }
            r.chain.foreach { c => chains += c; convIds += c.convId }
            r.member.foreach { m => members += m; convIds += m.convId }
            r.requirement.foreach { q => requirements += q; convIds += q.convId }
            r.warning.foreach(warnings += _)
            r.summary.foreach(s => summary = s)
          }
          require(convIds.forall(_ == summary.convId),
            s"union run of ${convIds.mkString(",")} ends in the summary of ${summary.convId}")
          ConvGraph(summary, nodes.result(), edges.result(), js.result(), chains.result(),
            members.result(), requirements.result(), warnings.result())
        }
      }
    }
  }

  /** The (subj, pred, obj) triple projection of the edge table. */
  def triples(edges: Dataset[_]): DataFrame =
    edges.toDF().select(
      col("convId").as("conv_id"),
      col("source").as("subj"),
      col("relation").as("pred"),
      col("target").as("obj"))

  /** Orphan detection: node rows whose id is no endpoint of an edge in
    * their conversation (evaluate_graphs.py:142-184 /
    * repair_orphans.py:293-322), one output row per node row. A node with a
    * null id is always an orphan. */
  def orphans(nodes: Dataset[_], edges: Dataset[_]): DataFrame = {
    implicit val enc = orphanEncoder
    byConversation(nodes.toDF().select("convId", "id", "nodeType"),
      edges.toDF().select("convId", "source", "target")) { case (conv, Seq(ns, es)) =>
      val connected = es.flatMap(e => Seq(e.getAs[String]("source"), e.getAs[String]("target"))).toSet
      ns.map(n => (conv, n.getAs[String]("id"), n.getAs[String]("nodeType")))
        .filter { case (_, id, _) => id == null || !connected(id) }
    }.toDF("convId", "id", "nodeType")
  }

  /** Quality-tier histogram (checkpoint stats analog, run_iltur.py:625-668). */
  def tierHistogram(summaries: Dataset[_]): DataFrame =
    summaries.toDF().groupBy(col("qualityTier")).count().orderBy(col("qualityTier"))
}
