package graft.kg.query

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Blinding + prompt construction for outcome-prediction evaluation — the
  * deterministic linearization layer of the reference's headline
  * graph-vs-raw experiment and its structure ablations, ported exactly:
  *
  *  - raw-judgment blinding (eval_graph_vs_raw.py:210-276): headnote strip,
  *    length-adaptive truncation, last-15% cut, outcome/dispositive/court-
  *    reasoning sentence filtering, trailing-fragment trim;
  *  - fact-text scrubbing (:299-310) and the blinded graph summary in both
  *    scrub modes (:312-415);
  *  - graph / raw prompts (:463-491) and the blinding sanity check
  *    (:421-435);
  *  - the ablation conditions' flat and typed prompts
  *    (eval_ablation.py:60-208).
  *
  * All string outputs are fixture-exact vs the published scripts run on 40
  * published graphs (scripts/gen_prompts_fixture.py). The LLM call these
  * prompts feed is out of scope (like T15); the linearization itself is the
  * operator — it is what turns a graph row into a training/eval example at
  * corpus scale, one row per case, embarrassingly parallel.
  */
object PromptBuilders {

  private def re(p: String) = java.util.regex.Pattern.compile(
    p, java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** eval_graph_vs_raw.py:132-178 — verbatim alternation. */
  private val OutcomeRe = re(Seq(
    "(?:appeal|petition|writ|application|suit|complaint|reference|review)\\s+" +
      "(?:is|are|was|were|shall\\s+be|stands?|be|has\\s+been|have\\s+been)\\s+" +
      "(?:dismissed|allowed|partly\\s+allowed|set\\s+aside|remanded|rejected|" +
      "granted|refused|disposed\\s+of|accepted|decreed|negatived|overruled|" +
      "answered\\s+in\\s+the\\s+(?:affirmative|negative))",
    "(?:we|court|bench|i)\\s+(?:hereby\\s+)?(?:dismiss|allow|reject|grant|refuse|" +
      "set\\s+aside|remand|uphold|affirm|reverse|modify|quash|restore|hold\\s+that|" +
      "are\\s+of\\s+the\\s+(?:view|opinion)\\s+that)",
    "(?:in\\s+the\\s+result|for\\s+(?:the\\s+)?(?:foregoing|above|aforesaid)\\s+reasons?|" +
      "accordingly|in\\s+(?:the\\s+)?(?:light|view)\\s+of\\s+the\\s+above|" +
      "for\\s+(?:all\\s+)?(?:these|the\\s+above)\\s+reasons|" +
      "in\\s+conclusion|to\\s+sum\\s+up|summing\\s+up)",
    "(?:ordered?\\s+accordingly|(?:the\\s+)?(?:order|decree|judgment|conviction|sentence)\\s+" +
      "(?:is|shall\\s+be|stands?)\\s+(?:affirmed|reversed|modified|set\\s+aside|upheld|" +
      "restored|quashed|maintained|confirmed))",
    "(?:appeal|petition|writ|complaint)\\s+(?:fails?|succeeds?|is\\s+(?:without|with)\\s+merit|" +
      "must\\s+(?:fail|succeed)|deserves?\\s+to\\s+be\\s+(?:dismissed|allowed)|" +
      "is\\s+(?:devoid|bereft)\\s+of\\s+(?:merit|substance))",
    "(?:no\\s+order\\s+as\\s+to\\s+costs?|costs?\\s+(?:shall|to)\\s+(?:be\\s+)?(?:borne|paid)|" +
      "parties?\\s+(?:shall|to|will)\\s+bear\\s+(?:their\\s+)?own\\s+costs)",
    "(?:we|court)\\s+(?:see|find|perceive|discern)\\s+(?:no\\s+)?(?:merit|substance|force|" +
      "reason\\s+to\\s+(?:interfere|intervene|disturb))",
    "(?:conviction|sentence|acquittal)\\s+(?:is|shall\\s+be|stands?)\\s+" +
      "(?:upheld|confirmed|maintained|set\\s+aside|reversed|reduced|modified|altered)",
    "(?:we\\s+answer|(?:the\\s+)?question\\s+(?:is|are)\\s+(?:hereby\\s+)?answered)",
    "(?:held\\s*[-:–]|per\\s+curiam\\s*[-:–]|the\\s+court\\s+held\\s+that)").mkString("|"))

  /** :182-191. */
  val DispositiveSentenceWords: Set[String] = Set(
    "dismissed", "allowed", "remanded", "set aside", "disposed of",
    "affirmed", "reversed", "upheld", "quashed", "restored",
    "conviction upheld", "conviction set aside", "acquitted",
    "sentence reduced", "sentence modified", "appeal fails",
    "appeal succeeds", "petition granted", "writ issued",
    "decreed", "negatived")

  private val HeadnoteRe = re("^[\\s\\S]*?(?:HEAD\\s*NOTE|HEADNOTE)\\s*[-:–\\n]")

  private val CourtReasoningInTextRe = re(
    "(?:the\\s+court\\s+(?:held|found|observed|concluded|noted|opined|was\\s+of\\s+the\\s+view)|" +
      "it\\s+was\\s+(?:held|found|observed|concluded)\\s+(?:that|by)|" +
      "(?:we|this\\s+court)\\s+(?:hold|find|observe|conclude|are\\s+of\\s+the\\s+(?:view|opinion))\\s+that|" +
      "the\\s+(?:learned\\s+)?(?:judge|magistrate|tribunal|high\\s+court|sessions?\\s+court)\\s+" +
      "(?:held|found|observed|concluded|was\\s+(?:right|wrong|justified)|erred)|" +
      "(?:rightly|wrongly|correctly|erroneously)\\s+(?:held|found|decided|concluded|dismissed|allowed))")

  private val FactCourtLeakRe = re(
    "(?:the\\s+court\\s+(?:held|found|observed|concluded|noted|opined|directed)|" +
      "it\\s+was\\s+(?:held|found|observed|concluded)\\s+(?:that|by)|" +
      "(?:rightly|wrongly|correctly|erroneously)\\s+(?:held|found|decided|concluded)|" +
      "the\\s+(?:learned\\s+)?(?:judge|magistrate|tribunal|high\\s+court)\\s+" +
      "(?:held|found|observed|concluded|was\\s+(?:right|wrong|justified)|erred)|" +
      "(?:we|this\\s+court)\\s+(?:hold|find|observe|conclude)\\s+that|" +
      "(?:conviction|acquittal|sentence)\\s+(?:was|is|has\\s+been)\\s+" +
      "(?:upheld|set\\s+aside|reversed|confirmed|modified)|" +
      "(?:appeal|petition|writ)\\s+(?:was|is|has\\s+been)\\s+" +
      "(?:dismissed|allowed|granted|refused|rejected))")

  private val SanityRe = re(
    "(?:dismissed|allowed|set\\s+aside|remanded|reversed|affirmed|upheld|quashed|" +
      "conviction\\s+(?:upheld|set\\s+aside)|appeal\\s+(?:fails|succeeds)|" +
      "(?:we|court)\\s+(?:hold|find|dismiss|allow|reject)\\s+that|" +
      "in\\s+the\\s+result|for\\s+the\\s+foregoing\\s+reasons|ordered?\\s+accordingly)")

  private val SentenceSplitRe = re("(?<=[.!?])\\s+")

  private def splitSentences(s: String): Array[String] = SentenceSplitRe.split(s, -1)

  /** blind_raw_text (:210-276). */
  def blindRawText(text: String, maxChars: Int = 4000): String = {
    if (text == null || text.isEmpty) return ""
    var t = text
    val hm = HeadnoteRe.matcher(t.take(2000))
    if (hm.find()) t = t.substring(hm.end())
    val totalLen = t.length
    val effectiveMax =
      if (totalLen < maxChars * 1.5) (totalLen * 0.50).toInt
      else if (totalLen < maxChars * 2.0) (totalLen * 0.65).toInt
      else maxChars
    var chunk = t.take(effectiveMax)
    chunk = chunk.take((chunk.length * 0.85).toInt)
    val cleaned = splitSentences(chunk).filter { sent =>
      if (OutcomeRe.matcher(sent).find()) false
      else {
        val lower = sent.toLowerCase.trim
        if (DispositiveSentenceWords.exists(lower.contains) && sent.length < 150) false
        else !CourtReasoningInTextRe.matcher(sent).find()
      }
    }
    var result = cleaned.mkString(" ").trim
    val lastPeriod = result.lastIndexOf(".")
    if (lastPeriod > result.length * 0.5) result = result.substring(0, lastPeriod + 1)
    result
  }

  /** _scrub_fact_text (:299-310). */
  def scrubFactText(text: String): String = {
    val cleaned = splitSentences(text).filterNot(s => FactCourtLeakRe.matcher(s).find())
    val result = cleaned.mkString(" ").trim
    if (result.isEmpty && text.nonEmpty) text.take(100) + "..." else result
  }

  /** blinding_sanity_check (:421-435). */
  def blindingSanityCheck(text: String, label: String, caseId: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = SanityRe.matcher(text)
    while (m.find()) {
      val ctx = text.substring(math.max(0, m.start - 30),
        math.min(text.length, m.end + 30)).replace("\n", " ")
      out += s"  [$caseId] $label: ...$ctx..."
    }
    out.toSeq
  }

  // --- graph access helpers (published-format JSON) -------------------------

  private def arr(g: JsonNode, f: String): Seq[JsonNode] = {
    val a = g.path(f)
    if (!a.isArray) Nil else a.elements().asScala.toSeq
  }

  private def s(n: JsonNode, f: String): String = {
    val v = n.path(f)
    if (v.isTextual) v.asText() else ""
  }

  /** Python `a or b` over possibly-empty strings. */
  private def or(a: String, b: => String): String = if (a.nonEmpty) a else b

  private def selectedFacts(g: JsonNode): Seq[JsonNode] = {
    val facts = arr(g, "facts")
    val material = facts.filter(f => s(f, "fact_type") == "material")
    val other = facts.filter(f => s(f, "fact_type") != "material")
    (material ++ other).take(8)
  }

  private def selectedConcepts(g: JsonNode): Seq[JsonNode] = {
    val concepts = arr(g, "concepts")
    concepts.filter(c => s(c, "relevance") == "central") ++
      concepts.filter(c => s(c, "relevance") == "supporting").take(4)
  }

  private def conceptLabel(c: JsonNode): String =
    or(s(c, "unlisted_label"),
      s(c, "concept_id").replace("UNLISTED_", "").replace("_", " "))

  private val PartyActors = Set(
    "petitioner", "appellant", "complainant", "prosecution", "respondent", "accused")

  /** build_blinded_graph_summary (:312-415). */
  def blindedGraphSummary(g: JsonNode, noScrub: Boolean = false): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]

    val facts = selectedFacts(g)
    if (facts.nonEmpty) {
      parts += "FACTS:"
      for (f <- facts) {
        val raw = s(f, "text").take(300)
        val text = if (noScrub) raw else scrubFactText(raw)
        val ftype = s(f, "fact_type")
        if (text.nonEmpty) parts += s"  [$ftype] $text"
      }
    }

    val concepts = selectedConcepts(g)
    if (concepts.nonEmpty) {
      parts += "LEGAL CONCEPTS:"
      for (c <- concepts) {
        val cid = { val v = c.path("concept_id"); if (v.isTextual) v.asText() else "unknown" }
        val label = or(s(c, "unlisted_label"), cid.replace("UNLISTED_", "").replace("_", " "))
        val rel = s(c, "relevance")
        val kind = s(c, "kind")
        val kindStr = if (kind.nonEmpty) s" ($kind)" else ""
        val extraStr =
          if (noScrub) {
            val extra = or(s(c, "interpretation"), s(c, "unlisted_description"))
            if (extra.nonEmpty) s": ${extra.take(200)}" else ""
          } else ""
        parts += s"  [$rel]$kindStr $label$extraStr"
      }
    }

    val issues = arr(g, "issues")
    if (issues.nonEmpty) {
      parts += "ISSUES BEFORE THE COURT:"
      for (iss <- issues.take(5)) parts += s"  - ${s(iss, "text").take(250)}"
    }

    val arguments = arr(g, "arguments")
    val petArgs = arguments.filter(a =>
      Set("petitioner", "appellant", "complainant", "prosecution").contains(s(a, "actor")))
    val respArgs = arguments.filter(a => Set("respondent", "accused").contains(s(a, "actor")))
    if (petArgs.nonEmpty || respArgs.nonEmpty) {
      parts += "PARTY ARGUMENTS:"
      for (a <- petArgs.take(4) ++ respArgs.take(4)) {
        val claim = s(a, "claim").take(250)
        val actor = or(s(a, "actor"),
          if (petArgs.contains(a)) "petitioner" else "respondent")
        val schemes = arr(a, "schemes").filter(_.isTextual).map(_.asText())
        val schemeStr = if (schemes.nonEmpty) s" [${schemes.take(2).mkString(", ")}]" else ""
        parts += s"  [${actor.toUpperCase}]$schemeStr $claim"
      }
    }

    val precedents = arr(g, "precedents").take(5)
    val precParts = precedents.flatMap { pr =>
      val name = or(s(pr, "case_name"), s(pr, "citation"))
      if (name.isEmpty) None
      else if (noScrub) {
        val prop = s(pr, "cited_proposition")
        Some(if (prop.nonEmpty) s"$name — ${prop.take(150)}" else name)
      } else Some(name)
    }
    if (precParts.nonEmpty) parts += s"CITED PRECEDENTS: ${precParts.mkString("; ")}"

    parts.mkString("\n")
  }

  /** _compact_graph_summary (eval_hybrid.py:178-301): the ~200-400-token
    * per-case serialization used as LLM CONTEXT for kNN-hybrid prediction.
    * `blind` strips every outcome-revealing field (query cases);
    * `hideOutcome` keeps court behavior but drops the final disposition
    * ("behavior mode" neighbors). */
  def compactGraphSummary(g: JsonNode, maxFacts: Int = 5, maxArgs: Int = 4,
                          maxHoldings: Int = 3, maxPrecedents: Int = 3,
                          blind: Boolean = false, hideOutcome: Boolean = false): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]

    val facts = {
      val all = arr(g, "facts")
      (all.filter(f => s(f, "fact_type") == "material") ++
        all.filter(f => s(f, "fact_type") != "material")).take(maxFacts)
    }
    if (facts.nonEmpty) {
      parts += "FACTS:"
      for (f <- facts) parts += s"  [${s(f, "fact_type")}] ${s(f, "text").take(200)}"
    }

    val concepts = {
      val all = arr(g, "concepts")
      all.filter(c => s(c, "relevance") == "central") ++
        all.filter(c => s(c, "relevance") == "supporting").take(3)
    }
    if (concepts.nonEmpty) {
      parts += "LEGAL CONCEPTS:"
      for (c <- concepts) {
        val cid = { val v = c.path("concept_id"); if (v.isTextual) v.asText() else "unknown" }
        val label = or(s(c, "unlisted_label"), cid.replace("UNLISTED_", "").replace("_", " "))
        var line = s"  [${s(c, "relevance")}] $label"
        val interp = s(c, "interpretation")
        if (interp.nonEmpty && !blind) line += s" — ${interp.take(150)}"
        parts += line
      }
    }

    val issues = arr(g, "issues")
    if (issues.nonEmpty) {
      parts += "ISSUES:"
      for (iss <- issues.take(4)) {
        parts += s"  Q: ${s(iss, "text").take(200)}"
        if (!blind) {
          val answer = s(iss, "answer")
          if (answer.nonEmpty) parts += s"  A: $answer"
        }
      }
    }

    val arguments = arr(g, "arguments")
    val petArgs = arguments.filter(a =>
      Set("petitioner", "appellant", "complainant", "prosecution").contains(s(a, "actor")))
    val respArgs = arguments.filter(a => Set("respondent", "accused").contains(s(a, "actor")))
    if (petArgs.nonEmpty || respArgs.nonEmpty) {
      parts += "ARGUMENTS:"
      for ((args, who) <- Seq(petArgs -> "Petitioner", respArgs -> "Respondent");
           a <- args.take(maxArgs / 2)) {
        parts += s"  [$who] ${s(a, "claim").take(200)}"
        if (!blind) {
          val resp = s(a, "court_response")
          if (resp.nonEmpty) parts += s"    → Court: $resp"
        }
      }
    }

    if (!blind) {
      val holdings = arr(g, "holdings")
      if (holdings.nonEmpty) {
        parts += "HOLDINGS:"
        for (h <- holdings.take(maxHoldings)) {
          parts += s"  ${s(h, "text").take(200)}"
          val reasoning = s(h, "reasoning_summary")
          if (reasoning.nonEmpty) parts += s"    Reasoning: ${reasoning.take(150)}"
        }
      }
    }

    val precStrs = arr(g, "precedents").take(maxPrecedents).map { pr =>
      val name = or(s(pr, "case_name"), s(pr, "citation"))
      if (blind) name
      else {
        // Python .get(field, "cited"): the default applies only when the
        // KEY is absent, not when it holds an empty string
        val t = pr.path("treatment")
        val treatment = if (t.isMissingNode) "cited" else if (t.isNull) "None" else t.asText()
        s"$name ($treatment)"
      }
    }
    if (precStrs.nonEmpty) parts += s"PRECEDENTS: ${precStrs.mkString("; ")}"

    if (!hideOutcome) {
      val outcome = g.path("outcome")
      if (outcome.isObject)
        parts += s"OUTCOME: ${or(s(outcome, "disposition"), "unknown")}"
    }

    parts.mkString("\n")
  }

  private val PredictTail =
    "Predict: {\"prediction\": 0 or 1, \"confidence\": 0.0-1.0, \"reasoning\": \"...\"}"

  /** build_graph_prompt (:463-472). */
  def graphPrompt(g: JsonNode, noScrub: Boolean = false): String =
    "Predict the outcome of this Indian Supreme Court case.\n" +
      "The case has been analyzed into structured components below.\n" +
      "Court responses to arguments are NOT shown — predict from the facts, " +
      "legal framework, and party arguments alone.\n\n" +
      blindedGraphSummary(g, noScrub) + "\n\n" + PredictTail

  /** eval_graph_vs_structured.py:263-269. */
  private val OutcomeLeakRe = re(
    "(?:appeal|petition|writ|application)\\s+" +
      "(?:is|are|was|were|shall\\s+be|stands?)\\s+" +
      "(?:dismissed|allowed|partly\\s+allowed|set\\s+aside|remanded|rejected|" +
      "granted|refused|disposed\\s+of|accepted)")

  /** build_blinded_structured_summary (eval_graph_vs_structured.py:272-416):
    * the structured-case (non-graph) counterpart of the blinded graph
    * summary — outcome/holdings/court_reasoning always stripped; scrub mode
    * additionally filters outcome-leaking fact/argument text and drops
    * precedent treatments; court key_quotes always excluded. */
  def blindedStructuredSummary(struct: JsonNode, noScrub: Boolean = false): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]

    val meta = struct.path("metadata")
    val caseName = if (meta.isObject) s(meta, "case_name") else ""
    if (caseName.nonEmpty) {
      val court = s(meta, "court")
      val year = {
        val y = meta.path("case_year")
        if (y.isNumber) y.asInt().toString else s(meta, "case_year")
      }
      var header = caseName
      if (court.nonEmpty) {
        header += s" ($court"
        if (year.nonEmpty) header += s", $year"
        header += ")"
      }
      parts += s"CASE: $header"
    }

    val facts = arr(struct, "facts")
    if (facts.nonEmpty) {
      parts += "FACTS:"
      for (f <- facts.take(15)) {
        val text = s(f, "text").take(300)
        val keep = noScrub || !OutcomeLeakRe.matcher(text).find()
        if (keep && text.nonEmpty) {
          val source = s(f, "source")
          val sourceStr = if (source.nonEmpty) s" ($source)" else ""
          parts += s"  [${s(f, "type")}]$sourceStr $text"
        }
      }
    }

    val issues = arr(struct, "legal_issues")
    if (issues.nonEmpty) {
      parts += "ISSUES BEFORE THE COURT:"
      for (iss <- issues.take(6)) parts += s"  - ${s(iss, "text").take(250)}"
    }

    for ((field, title) <- Seq(
      "petitioner_arguments" -> "PETITIONER ARGUMENTS:",
      "respondent_arguments" -> "RESPONDENT ARGUMENTS:")) {
      val args = arr(struct, field)
      if (args.nonEmpty) {
        parts += title
        for (a <- args.take(6)) {
          val text = s(a, "text").take(300)
          val keep = noScrub || !OutcomeLeakRe.matcher(text).find()
          if (keep && text.nonEmpty) {
            val basis = s(a, "legal_basis")
            val basisStr = if (basis.nonEmpty) s" [Basis: $basis]" else ""
            parts += s"  - $text$basisStr"
          }
        }
      }
    }

    val precStrs = arr(struct, "precedents_cited").take(8).flatMap { p =>
      val name = s(p, "case_name")
      if (name.isEmpty) None
      else {
        var out = name
        val cite = s(p, "citation")
        if (cite.nonEmpty) out += s" ($cite)"
        if (noScrub) {
          val treatment = s(p, "treatment")
          if (treatment.nonEmpty) out += s" — ${treatment.take(150)}"
        }
        Some(out)
      }
    }
    if (precStrs.nonEmpty) parts += s"CITED PRECEDENTS: ${precStrs.mkString("; ")}"

    val statStrs = arr(struct, "statutes_cited").take(6).flatMap { st =>
      val name = s(st, "name")
      if (name.isEmpty) None
      else {
        val raw = arr(st, "sections")
        // Python slices FIRST ([:4]) and filters falsy inside the join
        val secStr =
          if (raw.nonEmpty)
            s" (${raw.take(4).map(x => if (x.isTextual) x.asText() else "").filter(_.nonEmpty).mkString(", ")})"
          else ""
        Some(s"$name$secStr")
      }
    }
    if (statStrs.nonEmpty) parts += s"STATUTES: ${statStrs.mkString("; ")}"

    val counselQuotes = arr(struct, "key_quotes").filter(q =>
      Set("petitioner_counsel", "respondent_counsel").contains(s(q, "speaker")))
    if (counselQuotes.nonEmpty) {
      parts += "KEY COUNSEL QUOTES:"
      for (q <- counselQuotes.take(3)) {
        val text = s(q, "text").take(200)
        if (text.nonEmpty) parts += s"""  [${s(q, "speaker")}] "$text""""
      }
    }

    parts.mkString("\n")
  }

  /** build_structured_prompt (eval_graph_vs_structured.py:481-491). NOTE the
    * reference's tail line is a PLAIN string containing f-string-style
    * doubled braces, so the emitted prompt literally ends in
    * `{{"prediction" ... }}` — ported verbatim, quirk and all. */
  def structuredPrompt(struct: JsonNode, noScrub: Boolean = false): String =
    "Predict the outcome of this Indian Supreme Court case.\n" +
      "The case has been organized into structured sections by an AI.\n" +
      "The court's holdings, reasoning, and outcome have been removed — " +
      "predict from the facts, issues, and party arguments alone.\n\n" +
      blindedStructuredSummary(struct, noScrub) + "\n\n" +
      "Predict: {{\"prediction\": 0 or 1, \"confidence\": 0.0-1.0, \"reasoning\": \"...\"}}"

  // --- ablation conditions (eval_ablation.py:60-208) ------------------------

  /** _extract_all_text (eval_ablation.py:60-112). */
  def extractAllText(g: JsonNode): Seq[String] = {
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (f <- selectedFacts(g)) {
      val text = s(f, "text").take(300)
      if (text.nonEmpty) texts += text
    }
    for (c <- selectedConcepts(g)) {
      val label = conceptLabel(c)
      val extra = or(s(c, "interpretation"), s(c, "unlisted_description"))
      if (label.nonEmpty)
        texts += (if (extra.nonEmpty) s"$label: ${extra.take(200)}" else label)
    }
    for (iss <- arr(g, "issues").take(5)) {
      val text = s(iss, "text").take(250)
      if (text.nonEmpty) texts += text
    }
    for (a <- arr(g, "arguments") if PartyActors.contains(s(a, "actor"))) {
      val claim = s(a, "claim").take(250)
      if (claim.nonEmpty) texts += claim
    }
    for (pr <- arr(g, "precedents").take(5)) {
      val name = or(s(pr, "case_name"), s(pr, "citation"))
      val prop = s(pr, "cited_proposition")
      if (name.nonEmpty) texts += (if (prop.nonEmpty) s"$name — ${prop.take(150)}" else name)
    }
    texts.toSeq
  }

  /** build_flat_prompt (:115-134). */
  def flatPrompt(g: JsonNode): String = {
    val prose = extractAllText(g).filter(_.trim.nonEmpty)
      .map(_.reverse.dropWhile(ch => ch == '.' || ch == ' ').reverse)
      .mkString(". ")
    "Predict the outcome of this Indian Supreme Court case.\n" +
      "Below is extracted information from the case. " +
      "The court's decision has been removed — predict from the merits alone.\n\n" +
      prose + "\n\n" + PredictTail
  }

  /** build_typed_prompt (:137-208). */
  def typedPrompt(g: JsonNode): String = {
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    for (f <- selectedFacts(g)) {
      val text = s(f, "text").take(300)
      if (text.nonEmpty) items += s"FACT: $text"
    }
    for (c <- selectedConcepts(g)) {
      val label = conceptLabel(c)
      val extra = or(s(c, "interpretation"), s(c, "unlisted_description"))
      items += (if (extra.nonEmpty) s"CONCEPT: $label: ${extra.take(200)}" else s"CONCEPT: $label")
    }
    for (iss <- arr(g, "issues").take(5)) {
      val text = s(iss, "text").take(250)
      if (text.nonEmpty) items += s"ISSUE: $text"
    }
    for (a <- arr(g, "arguments") if PartyActors.contains(s(a, "actor"))) {
      val claim = s(a, "claim").take(250)
      if (claim.nonEmpty) items += s"ARGUMENT: $claim"
    }
    for (pr <- arr(g, "precedents").take(5)) {
      val name = or(s(pr, "case_name"), s(pr, "citation"))
      val prop = s(pr, "cited_proposition")
      if (name.nonEmpty)
        items += (if (prop.nonEmpty) s"PRECEDENT: $name — ${prop.take(150)}" else s"PRECEDENT: $name")
    }
    "Predict the outcome of this Indian Supreme Court case.\n" +
      "Below is extracted information from the case, labeled by type. " +
      "The court's decision has been removed — predict from the merits alone.\n\n" +
      items.mkString("\n") + "\n\n" + PredictTail
  }
}
