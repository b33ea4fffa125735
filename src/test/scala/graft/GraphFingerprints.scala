package graft

import graft.kg.extract.DocExtractor
import graft.kg.gen.TranscriptGen
import graft.kg.model.ConvGraph
import graft.kg.ontology.Ontology
import graft.kg.text.Normalize

import java.nio.file.{Files, Paths}

/** Whole-graph fingerprints: one SHA-256 per conversation over every field
  * of its `ConvGraph`, for a fixed input set. The committed file
  * `src/test/resources/graft/graph_fingerprints.json` pins the extractor's
  * output bytes; GraphFingerprintSpec requires equality. Regenerate it only
  * on an intentional rule change:
  *
  *   sbt 'Test/runMain graft.GraphFingerprints'
  */
object GraphFingerprints {

  val ResourcePath = "src/test/resources/graft/graph_fingerprints.json"

  /** Deterministic text perturbations that move `TranscriptGen` text off the
    * pure-ASCII, single-paragraph shape: case changes, Turkish and
    * case-fold-special letters, blank-line and numbered-item paragraphs,
    * and tabs/CRs around sentence ends. */
  private val Perturbations: Vector[String => String] = Vector(
    _.toUpperCase(java.util.Locale.ROOT),
    _.replace("whether", "WHETHER").replace("The ", "THE "),
    _.replace("i", "İ").replace("s", "ş"),
    _.replace("k", "K").replace("s", "ſ"),
    _.replace(". ", ".\n\n").replace(", ", ",\t"),
    t => t.replace(". ", ".\r\n1. ").replace("the ", "the\n2 "),
    _.replace("e", "é").replace("a", "À"),
    t => t.replace("! ", "!\n").replace(". ", "? Ö") + " 3.\tÇ")

  /** (id, turns, jurisdiction) for every fingerprinted conversation. */
  def inputs: Seq[(String, Seq[(Int, String)], String)] = {
    val turnCounts = Array(6, 14, 24, 40)
    def gen(i: Int): Seq[(Int, String)] =
      TranscriptGen.conversation(f"conv_$i%06d", turnCounts(i % turnCounts.length))
        .map(t => (t.turn_idx, t.text))
    val plain = (0 until 2000).map(i => (f"conv_$i%06d", gen(i), "in"))
    val perturbed = (0 until 400).map { i =>
      val p = Perturbations(i % Perturbations.length)
      (f"perturbed_$i%04d", gen(i).map { case (k, t) => (k, p(t)) }, "in")
    }
    val otherJurisdictions = (0 until 200).map { i =>
      val j = if (i % 2 == 0) "echr" else "tr"
      val turns = if (i % 4 < 2) gen(i) else gen(i).map { case (k, t) => (k, Perturbations(2)(t)) }
      (f"${j}_$i%04d", turns, j)
    }
    plain ++ perturbed ++ otherJurisdictions ++ Seq(
      ("echr_fix", JurisdictionSpec.echrTurns, "echr"),
      ("tr_fix", JurisdictionSpec.trTurns, "tr"))
  }

  /** Every field of `x`, rendered unambiguously: case classes by name and
    * field, sequences by elements whatever their collection type, strings
    * length-prefixed. */
  def render(x: Any, sb: java.lang.StringBuilder): Unit = x match {
    case null => sb.append("null")
    case s: String => sb.append('"').append(s.length).append(':').append(s).append('"')
    case it: Iterable[_] =>
      sb.append('[')
      it.foreach { e => render(e, sb); sb.append(',') }
      sb.append(']')
    case p: Product =>
      sb.append(p.productPrefix).append('(')
      p.productElementNames.zip(p.productIterator).foreach { case (n, v) =>
        sb.append(n).append('='); render(v, sb); sb.append(';')
      }
      sb.append(')')
    case other => sb.append(other.getClass.getSimpleName).append(':').append(other.toString)
  }

  def fingerprint(g: ConvGraph): String = {
    val sb = new java.lang.StringBuilder
    render(g, sb)
    Normalize.sha256Hex(sb.toString)
  }

  /** (id, fingerprint) for every input, in input order. */
  def compute(): Seq[(String, String)] = inputs.map { case (id, turns, j) =>
    id -> fingerprint(DocExtractor.extract(id, turns, Ontology.forJurisdiction(j), j))
  }

  def load(): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/graph_fingerprints.json")
    require(in != null, "missing resource /graft/graph_fingerprints.json")
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).elements().asScala
      .map(n => n.get(0).asText() -> n.get(1).asText()).toSeq
  }

  def main(args: Array[String]): Unit = {
    val rows = compute()
    val body = rows.map { case (id, h) => s"""  ["$id", "$h"]""" }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(Paths.get(ResourcePath), body)
    println(s"written ${rows.size} fingerprints to $ResourcePath")
  }
}
