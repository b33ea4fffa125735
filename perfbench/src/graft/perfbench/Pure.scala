package graft.perfbench

import graft.kg.extract.DocExtractor
import graft.kg.model.{ConvGraph, Turn}
import graft.kg.ontology.{CompiledScan, Ontology}
import graft.kg.rules.Citations
import graft.kg.text.{PhraseAutomaton, Segmenter}
import java.lang.management.ManagementFactory
import java.util.Locale
import scala.collection.mutable

/** Pure-JVM work outside Spark: the single-thread recomputation the
  * correctness checks compare against, and the per-stage passes of the
  * traced run. */
object Pure {

  type Conv = (String, Seq[(Int, String)])

  /** Group turns into conversations, turns in (turn_idx, text) order. */
  def conversations(turns: Seq[Turn]): Vector[Conv] =
    turns.groupBy(_.conv_id).toVector.sortBy(_._1)
      .map { case (id, ts) => id -> ts.map(t => (t.turn_idx, t.text)).sortBy(identity) }

  /** `DocExtractor.extract` over every conversation, on a few threads. */
  def extractAll(convs: Vector[Conv], threads: Int = 4): Vector[ConvGraph] = {
    val ont = Ontology.forJurisdiction("in")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = convs.grouped(math.max(1, convs.size / (threads * 4) + 1)).map { chunk =>
        pool.submit(() => chunk.map { case (id, ts) => DocExtractor.extract(id, ts, ont, "in") })
      }.toVector
      futures.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** Raw (conv_id, subj, pred, obj) triples of extracted graphs. */
  def rawTriples(graphs: Seq[ConvGraph]): Vector[(String, String, String, String)] =
    graphs.iterator.flatMap(g => g.edges.map(e => (e.convId, e.source, e.relation, e.target))).toVector

  /** Mirror of Spark `trim` + `regexp_replace(\s+, " ")` + `lower`, as the
    * canonicalizer's name and citation keys apply them. */
  private def normName(s: String): String =
    s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .replaceAll("\\s+", " ").toLowerCase(Locale.ROOT)

  /** Canonical triples recomputed with a plain union-find: precedent
    * mentions join name key and citation key, the component label is the
    * smallest key, concepts map to "concept:" + id, every other endpoint
    * stays conversation-local. The same contract `Canonicalizer` states. */
  def canonicalTriples(graphs: Seq[ConvGraph]): Vector[(String, String, String, String)] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val keys = mutable.ArrayBuffer.empty[(String, String, String)] // (conv, id, citKey)
    for (g <- graphs; n <- g.nodes if n.nodeType == "precedent") {
      val citKey =
        if (n.citation != null && n.citationType != null)
          "cit:" + n.citationType + ":" + normName(n.citation)
        else null
      if (citKey != null) {
        union(citKey, citKey)
        if (n.caseName != null) union("case:" + normName(n.caseName), citKey)
      }
      keys += ((n.convId, n.id, citKey))
    }
    val mapping = mutable.HashMap.empty[(String, String), String]
    for ((conv, id, citKey) <- keys if citKey != null) mapping((conv, id)) = find(citKey)
    for (g <- graphs; n <- g.nodes if n.nodeType == "concept")
      mapping((n.convId, n.id)) = "concept:" + n.conceptId
    graphs.iterator.flatMap(_.edges).map { e =>
      (e.convId,
        mapping.getOrElse((e.convId, e.source), e.convId + "/" + e.source),
        e.relation,
        mapping.getOrElse((e.convId, e.target), e.convId + "/" + e.target))
    }.toVector
  }

  // --- per-stage passes (traced run) ---------------------------------------

  private val threadBean =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** (ns, bytes allocated) of `body` on the current thread. */
  private def measure(body: => Unit): (Long, Long) = {
    val a0 = threadBean.getCurrentThreadAllocatedBytes
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0, threadBean.getCurrentThreadAllocatedBytes - a0)
  }

  /** Per-conversation cost of each extractor stage over `sample`, single
    * threaded: one unmeasured pass, then the median of three measured
    * passes. Every stage is called through its public entry point. */
  def stagePasses(sample: Vector[Conv], tracer: Tracer): Map[String, Double] = {
    val ont = Ontology.forJurisdiction("in")
    val docs = sample.map { case (id, ts) => DocExtractor.assemble(ts) }
    val n = sample.size.toDouble
    var hits, nodes, edges = 0L
    val scan = ont.compiledScan
    val sink: PhraseAutomaton.Sink = (_, _) => ()
    val lowered = docs.zip(sample).map { case (d, (id, _)) =>
      Segmenter.segment(d, id).sentences.map(_.text.toLowerCase(Locale.ROOT))
    }

    def pass(layer: String, name: String)(body: => Unit): (Double, Double) = {
      val reps = (0 until 4).map(_ => tracer.span(layer, name)(measure(body)))
      val kept = reps.drop(1)
      (Stats.median(kept.map(_._1.toDouble)) / 1e3 / n, Stats.median(kept.map(_._2.toDouble)) / 1024.0 / n)
    }

    val (segUs, segKiB) = pass("text", "Segmenter.segment") {
      var i = 0
      while (i < docs.size) { Segmenter.segment(docs(i), sample(i)._1); i += 1 }
    }
    val (citUs, _) = pass("rules", "Citations.extract") {
      hits = 0
      docs.foreach(d => hits += Citations.extract(d, "in").size)
    }
    val (scanUs, _) = pass("ontology", "compiledScan") {
      lowered.foreach(_.foreach(s => scan.automaton.scan(s, sink)))
    }
    val compileMs = Stats.median((0 until 3).map { _ =>
      tracer.span("ontology", "CompiledScan.build") {
        measure(CompiledScan.build(ont, turkish = false))._1 / 1e6
      }
    })
    val (exUs, exKiB) = pass("extract", "DocExtractor.extract") {
      nodes = 0; edges = 0
      sample.foreach { case (id, ts) =>
        val g = DocExtractor.extract(id, ts, ont, "in")
        nodes += g.nodes.size; edges += g.edges.size
      }
    }
    val (noRepairUs, _) = pass("extract", "DocExtractor.extract(repairOrphans=false)") {
      sample.foreach { case (id, ts) => DocExtractor.extract(id, ts, ont, "in", repairOrphans = false) }
    }
    Map(
      "text.segment_us_per_conv" -> segUs,
      "text.segment_alloc_kib_per_conv" -> segKiB,
      "rules.citations_us_per_conv" -> citUs,
      "rules.citation_hits_per_conv" -> hits / n,
      "ontology.scan_us_per_conv" -> scanUs,
      "ontology.compile_ms" -> compileMs,
      "extract.us_per_conv" -> exUs,
      "extract.alloc_kib_per_conv" -> exKiB,
      "extract.orphan_repair_us_per_conv" -> (exUs - noRepairUs),
      "extract.nodes_per_conv" -> nodes / n,
      "extract.edges_per_conv" -> edges / n)
  }
}
