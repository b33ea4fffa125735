package graft.kg.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.kg.model.ConvGraph
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The reference's STRUCTURED (non-graph) case format — the section schema
  * produced by structure_cases.py (structure_cases.py:130-230: metadata,
  * facts, legal_issues, petitioner/respondent arguments, court_reasoning,
  * holdings, precedents_cited, statutes_cited, outcome, key_quotes) and
  * published under structured-nongraph-cases/.
  *
  * The reference fills these sections with an LLM call per case (out of
  * scope, like the graph extractor's LLM pass); everything AROUND the call
  * is deterministic and ported here Spark-first:
  *
  *  - a distributed READER of the published corpus (binaryFile source, one
  *    whole JSON per task row, corrupt files skipped exactly like
  *    load_checkpoint, structure_cases.py:278-289);
  *  - the per-case summary stats and the outcome-vs-label agreement check
  *    (structure_cases.py:355-384) as relational queries — replayed over
  *    the full published corpus in StructuredCasesSpec (2395/2510 agree,
  *    matching the published checkpoint.json exactly);
  *  - a structured-case VIEW of our rule-extracted graphs (sections from
  *    node types, edges dropped — "Do NOT build a graph" is the format's
  *    contract) plus a writer emitting the reference JSON layout, so a
  *    corpus produced by this engine is drop-in readable by reference
  *    tooling; round-trip (write → read) is fixture-tested.
  */
object StructuredCases {

  final case class SectionItem(
      id: String,
      text: String,
      itemType: String,    // facts: type | arguments: legal_basis | precedents: treatment
      ref: String)         // addresses/resolves issue id | citation | supporting fact csv

  final case class StructuredCase(
      caseId: String,
      label: Integer,              // 0 dismissed / 1 accepted (nullable)
      textLength: Integer,
      caseName: String,
      caseYear: Integer,
      court: String,
      caseNumber: String,
      dateOfJudgment: String,
      judges: Seq[String],
      facts: Seq[SectionItem],
      legalIssues: Seq[SectionItem],
      petitionerArguments: Seq[SectionItem],
      respondentArguments: Seq[SectionItem],
      courtReasoning: Seq[SectionItem],
      holdings: Seq[SectionItem],
      precedentsCited: Seq[SectionItem],
      statutesCited: Seq[SectionItem],
      keyQuotes: Seq[SectionItem],
      disposition: String,
      outcomeSummary: String,
      reliefGranted: String)

  private val mapper = new ObjectMapper()

  private def optText(n: JsonNode, f: String): String = {
    val v = n.path(f)
    if (v.isMissingNode || v.isNull) null else v.asText()
  }

  private def optInt(n: JsonNode, f: String): Integer = {
    val v = n.path(f)
    if (v.isMissingNode || !v.isNumber) null else Int.box(v.asInt())
  }

  private def items(n: JsonNode, f: String, typeField: String, refField: String): Seq[SectionItem] = {
    val a = n.path(f)
    if (!a.isArray) Nil
    else a.elements().asScala.map { j =>
      SectionItem(optText(j, "id"), optText(j, "text"),
        optText(j, typeField), optText(j, refField))
    }.toSeq
  }

  /** Parse one published structured-case JSON; None for corrupt content
    * (the reader's corrupt-skip, structure_cases.py:280-288). */
  def parse(caseId: String, json: String): Option[StructuredCase] =
    try {
      val r = mapper.readTree(json)
      if (r == null || !r.isObject) return None
      val meta = r.path("metadata")
      val outcome = r.path("outcome")
      Some(StructuredCase(
        caseId = Option(optText(r, "_case_id")).getOrElse(caseId),
        label = optInt(r, "_label"),
        textLength = optInt(r, "_text_length"),
        caseName = optText(meta, "case_name"),
        caseYear = optInt(meta, "case_year"),
        court = optText(meta, "court"),
        caseNumber = optText(meta, "case_number"),
        dateOfJudgment = optText(meta, "date_of_judgment"),
        judges = {
          val a = meta.path("judges")
          if (!a.isArray) Nil else a.elements().asScala.map(_.asText()).toSeq
        },
        facts = items(r, "facts", "type", "source"),
        legalIssues = items(r, "legal_issues", "framed_by", "framed_by"),
        petitionerArguments = items(r, "petitioner_arguments", "legal_basis", "supporting_facts"),
        respondentArguments = items(r, "respondent_arguments", "legal_basis", "supporting_facts"),
        courtReasoning = items(r, "court_reasoning", "key_observation", "addresses_issue"),
        holdings = items(r, "holdings", "in_favor_of", "resolves_issue"),
        precedentsCited = {
          val a = r.path("precedents_cited")
          if (!a.isArray) Nil
          else a.elements().asScala.map { j =>
            SectionItem(optText(j, "id"), optText(j, "case_name"),
              optText(j, "treatment"), optText(j, "citation"))
          }.toSeq
        },
        statutesCited = {
          val a = r.path("statutes_cited")
          if (!a.isArray) Nil
          else a.elements().asScala.map { j =>
            val secs = j.path("sections")
            SectionItem(null, optText(j, "name"),
              if (!secs.isArray) null
              else secs.elements().asScala.map(_.asText()).mkString(","),
              optText(j, "relevance"))
          }.toSeq
        },
        keyQuotes = items(r, "key_quotes", "speaker", "significance"),
        disposition = optText(outcome, "disposition"),
        outcomeSummary = optText(outcome, "summary"),
        reliefGranted = optText(outcome, "relief_granted")))
    } catch { case _: Exception => None }

  /** Distributed corpus reader: one whole file per row via the binaryFile
    * source (splits never cut a JSON document), checkpoint.json excluded,
    * corrupt files dropped. Scales as file-parallel ingest — the 100-TB
    * shape for a many-small-artifacts corpus is the same read fronted by a
    * manifest/compaction, which Materializer's bucketed tables provide. */
  def read(spark: SparkSession, dir: String): Dataset[StructuredCase] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[StructuredCase]
    implicit val tupEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.json")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .filter(r => !r._1.endsWith("checkpoint.json"))
      .mapPartitions(_.flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".json")
        parse(base, new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      })
  }

  /** The per-case summary row printed by the reference per extraction
    * (structure_cases.py:370-384): section counts + outcome-vs-label
    * agreement (disposition ∈ {accepted, partially_accepted} ⇔ label = 1). */
  def caseStats(cases: Dataset[StructuredCase]): DataFrame =
    cases.toDF().select(
      col("caseId").as("case_id"),
      col("label"),
      size(col("facts")).as("n_facts"),
      size(col("legalIssues")).as("n_issues"),
      size(col("holdings")).as("n_holdings"),
      size(col("precedentsCited")).as("n_precedents"),
      col("disposition"),
      // missing disposition reads as "" and a null label is not-1, exactly
      // like the reference's dict .get defaults (structure_cases.py:355-357)
      (coalesce(col("disposition"), lit("")).isin("accepted", "partially_accepted") ===
        coalesce(col("label") === 1, lit(false))).as("outcome_correct"))

  /** Structured-case VIEW of a rule-extracted graph: the graph's typed nodes
    * re-grouped into the reference's sections, edges dropped (the format's
    * contract). Arguments split by actor; court-actor arguments become
    * court_reasoning (the reference's own section for the court's analysis). */
  def fromGraph(g: ConvGraph): StructuredCase = {
    def sec(nodeType: String) = g.nodes.filter(_.nodeType == nodeType)
    def item(n: graft.kg.model.Node, t: String, r: String) = SectionItem(n.id, n.text, t, r)
    val args = sec("argument")
    StructuredCase(
      caseId = g.summary.convId,
      label = null,
      textLength = Int.box(g.summary.docChars),
      caseName = null, caseYear = null, court = null, caseNumber = null,
      dateOfJudgment = null, judges = Nil,
      facts = sec("fact").map(n => item(n, n.factType, null)),
      legalIssues = sec("issue").map(n => item(n, null, null)),
      petitionerArguments = args.filter(_.actor == "petitioner").map(n => item(n, null, null)),
      respondentArguments = args.filter(_.actor == "respondent").map(n => item(n, null, null)),
      courtReasoning = args.filter(a => a.actor != "petitioner" && a.actor != "respondent")
        .map(n => item(n, null, null)),
      holdings = sec("holding").map(n => item(n, null, n.resolvesIssue)),
      precedentsCited = sec("precedent").map(n =>
        SectionItem(n.id, n.caseName, n.treatment, n.citation)),
      statutesCited = Nil,
      keyQuotes = Nil,
      disposition = sec("outcome").headOption.map(_.disposition).orNull,
      outcomeSummary = sec("outcome").headOption.map(_.text).orNull,
      reliefGranted = null)
  }

  /** Structured case DIRECTLY from raw judgment text — the deterministic,
    * LLM-free analog of structure_cases.py's purpose: the rule extractor
    * runs on the text as a single-turn conversation, and the resulting
    * graph is re-grouped into sections via [[fromGraph]]. A corpus of raw
    * judgments becomes a drop-in structured-nongraph corpus with
    * `toJson`, one case per task at scale. */
  def fromRawText(caseId: String, text: String,
                  jurisdiction: String = "in"): StructuredCase =
    fromGraph(graft.kg.extract.DocExtractor.extract(
      caseId, Seq(0 -> text),
      graft.kg.ontology.Ontology.forJurisdiction(jurisdiction), jurisdiction))

  /** Serialize to the reference's JSON layout (structure_cases.py:134-219);
    * parse(toJson(x)) round-trips the populated fields. */
  def toJson(c: StructuredCase): String = {
    val r = mapper.createObjectNode()
    val meta = r.putObject("metadata")
    def put(o: ObjectNode, f: String, v: String): Unit =
      if (v == null) o.putNull(f) else o.put(f, v)
    put(meta, "case_name", c.caseName)
    if (c.caseYear == null) meta.putNull("case_year") else meta.put("case_year", c.caseYear.intValue())
    put(meta, "court", c.court)
    val jj = meta.putArray("judges"); c.judges.foreach(jj.add)
    put(meta, "case_number", c.caseNumber)
    put(meta, "date_of_judgment", c.dateOfJudgment)
    def arr(f: String, xs: Seq[SectionItem], tf: String, rf: String): Unit = {
      val a: ArrayNode = r.putArray(f)
      xs.foreach { x =>
        val o = a.addObject()
        if (x.id != null) o.put("id", x.id)
        put(o, "text", x.text)
        if (tf != null) put(o, tf, x.itemType)
        if (rf != null) put(o, rf, x.ref)
      }
    }
    arr("facts", c.facts, "type", "source")
    arr("legal_issues", c.legalIssues, "framed_by", null)
    arr("petitioner_arguments", c.petitionerArguments, "legal_basis", "supporting_facts")
    arr("respondent_arguments", c.respondentArguments, "legal_basis", "supporting_facts")
    arr("court_reasoning", c.courtReasoning, "key_observation", "addresses_issue")
    arr("holdings", c.holdings, "in_favor_of", "resolves_issue")
    val pc = r.putArray("precedents_cited")
    c.precedentsCited.foreach { p =>
      val o = pc.addObject()
      if (p.id != null) o.put("id", p.id)
      put(o, "case_name", p.text)
      put(o, "citation", p.ref)
      put(o, "treatment", p.itemType)
    }
    val st = r.putArray("statutes_cited")
    c.statutesCited.foreach { s =>
      val o = st.addObject()
      put(o, "name", s.text)
      val ss = o.putArray("sections")
      Option(s.itemType).toSeq.flatMap(_.split(",", -1)).filter(_.nonEmpty).foreach(ss.add)
      put(o, "relevance", s.ref)
    }
    val out = r.putObject("outcome")
    put(out, "disposition", c.disposition)
    put(out, "summary", c.outcomeSummary)
    put(out, "relief_granted", c.reliefGranted)
    r.putArray("key_quotes")
    put(r, "_case_id", c.caseId)
    if (c.label == null) r.putNull("_label") else r.put("_label", c.label.intValue())
    if (c.textLength == null) r.putNull("_text_length") else r.put("_text_length", c.textLength.intValue())
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(r)
  }
}
