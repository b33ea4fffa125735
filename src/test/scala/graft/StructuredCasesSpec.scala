package graft

import graft.kg.gen.TranscriptGen
import graft.kg.io.StructuredCases
import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Parity for the structured (non-graph) case format: reader replays the
  * PUBLISHED structured-nongraph-cases corpus and reproduces the published
  * checkpoint stats exactly; writer round-trips through the reader; the
  * graph → structured-case view sections extraction output faithfully. */
class StructuredCasesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val corpusDir = "/root/reference/structured-nongraph-cases"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-structured-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpusExists = new java.io.File(corpusDir).isDirectory

  test("reader parses a published case field-exactly (1950_10)") {
    assume(corpusExists)
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$corpusDir/1950_10.json")), "UTF-8")
    val c = StructuredCases.parse("1950_10", json).get
    assert(c.caseId == "1950_10")
    assert(c.label == 1)
    assert(c.textLength == 21816)
    assert(c.caseName.startsWith("Petitioner (Printer, Publisher and Editor of Cross Roads)"))
    assert(c.caseYear == 1950)
    assert(c.court == "Supreme Court of India")
    assert(c.judges.size == 6 && c.judges.head == "Patanjali Sastri J.")
    assert(c.facts.size == 6)
    assert(c.facts.head.id == "f1" && c.facts.head.itemType == "background")
    assert(c.disposition == "accepted")
    assert(c.precedentsCited.forall(p => p.text != null))
  }

  test("corpus replay reproduces the published checkpoint stats EXACTLY") {
    assume(corpusExists)
    import spark.implicits._
    // the published checkpoint: success 2510, outcome_correct 2395
    // (structured-nongraph-cases/checkpoint.json; one file postdates the
    // last checkpoint save and is excluded the way load_checkpoint's
    // completed set would gate resumption)
    val ckJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$corpusDir/checkpoint.json")), "UTF-8")
    val ck = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ckJson)
    val completed = ck.path("completed").elements()
    val completedIds = scala.jdk.CollectionConverters.IteratorHasAsScala(completed)
      .asScala.map(_.asText()).toSeq
    val expectSuccess = ck.path("stats").path("success").asLong()
    val expectCorrect = ck.path("stats").path("outcome_correct").asLong()

    val cases = StructuredCases.read(spark, corpusDir)
    val stats = StructuredCases.caseStats(cases)
      .join(completedIds.toDF("case_id"), Seq("case_id"), "left_semi")
    val row = stats.agg(
      count(lit(1)).as("success"),
      sum(when(col("outcome_correct"), 1).otherwise(0)).as("correct")).head()
    assert(row.getLong(0) == expectSuccess, s"success ${row.getLong(0)} != $expectSuccess")
    assert(row.getLong(1) == expectCorrect, s"outcome_correct ${row.getLong(1)} != $expectCorrect")
  }

  test("graph -> structured view -> json -> reader round-trips") {
    import spark.implicits._
    val graphs = KgPipeline.graphsOf(
      KgPipeline.allTablesDirect(spark, TranscriptGen.turns(12, 12).toDF()).toDF()).collect()
    assert(graphs.nonEmpty)
    for (g <- graphs.take(5)) {
      val sc = StructuredCases.fromGraph(g)
      assert(sc.facts.size == g.summary.nFacts)
      assert(sc.legalIssues.size == g.summary.nIssues)
      assert(sc.holdings.size == g.summary.nHoldings)
      assert(sc.precedentsCited.size == g.summary.nPrecedents)
      assert(sc.petitionerArguments.size + sc.respondentArguments.size +
        sc.courtReasoning.size == g.summary.nArguments)
      val back = StructuredCases.parse(sc.caseId, StructuredCases.toJson(sc)).get
      assert(back == sc, s"round-trip mismatch for ${sc.caseId}")
    }
  }

  test("raw text -> structured case via the rule engine (LLM-free analog)") {
    val text = "The petitioner challenged the order under Article 14. " +
      "As held in Maneka Gandhi v. Union of India, AIR 1978 SC 597, the " +
      "procedure must be fair. The question is whether the order violates " +
      "natural justice. We hold that the order fails. The appeal is allowed."
    val sc = StructuredCases.fromRawText("raw_1", text)
    assert(sc.caseId == "raw_1")
    assert(sc.holdings.nonEmpty)
    assert(sc.precedentsCited.exists(p =>
      Option(p.ref).exists(_.contains("AIR 1978 SC 597"))))
    assert(sc.disposition != null)
    val back = StructuredCases.parse(sc.caseId, StructuredCases.toJson(sc)).get
    assert(back == sc)
  }

  test("corrupt json is skipped, not fatal") {
    assert(StructuredCases.parse("x", "{not json").isEmpty)
    assert(StructuredCases.parse("x", "[1,2,3]").isEmpty)
  }
}
