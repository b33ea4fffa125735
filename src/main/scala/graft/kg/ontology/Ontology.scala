package graft.kg.ontology

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.kg.text.{Normalize, TokenSet}
import java.util.Locale
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** One ontology concept definition (compiled form). */
final case class ConceptDef(
    id: String,
    label: String,
    kind: String,
    logic: String,               // "and" | "or" (parsed from requires marker)
    requires: List[String],
    defeaters: List[String],
    keyPhrases: List[String],
    establishingCases: List[String],
    typicalFactPatterns: List[String]
) {
  /** Pre-computed keyword sets + lowered phrase forms for scoring (computed
    * once per broadcast ontology, not per node). */
  lazy val conceptKeywords: TokenSet =
    Normalize.keywordSet((label :: requires ::: defeaters ::: keyPhrases).mkString(" "))
  lazy val requiresKeywords: TokenSet = Normalize.keywordSet(requires.mkString(" "))
  lazy val idAndTextKeywords: TokenSet =
    Normalize.keywordSet((id :: label :: requires ::: keyPhrases).mkString(" "))
  lazy val keyPhrasesLower: List[String] =
    keyPhrases.filter(_.nonEmpty).map(_.toLowerCase(Locale.ROOT))
  lazy val keyPhrasesTurkish: List[String] =
    keyPhrases.filter(_.nonEmpty).map(Normalize.turkishLower)
  /** establishing case names, whitespace-normalized + lowered, len >= 8 */
  lazy val establishingCasesNorm: List[String] = establishingCases
    .map(cn => Normalize.normalizeWithMapping(cn)._1.trim)
    .filter(_.length >= 8).map(_.toLowerCase(Locale.ROOT))
  lazy val establishingCasesTurkish: List[String] = establishingCases
    .map(cn => Normalize.normalizeWithMapping(cn)._1.trim)
    .filter(_.length >= 8).map(Normalize.turkishLower)
  lazy val typicalFactPatternsLower: List[String] =
    typicalFactPatterns.filter(_.nonEmpty).map(_.toLowerCase(Locale.ROOT))
  lazy val typicalFactPatternsTurkish: List[String] =
    typicalFactPatterns.filter(_.nonEmpty).map(Normalize.turkishLower)
  lazy val requiresKeywordSets: Map[String, TokenSet] =
    requires.map(r => r -> Normalize.keywordSet(r)).toMap
  /** establishing case names lowered as written, for precedent-name
    * containment */
  lazy val establishingCasesLower: List[String] =
    establishingCases.map(_.toLowerCase(Locale.ROOT))
}

/** A node text pre-processed once for repeated concept scoring: the
  * whitespace-normalized lowered form + keyword set. */
final case class MatchText(raw: String, normLower: String, keywords: TokenSet)

object MatchText {
  def of(text: String, turkish: Boolean): MatchText =
    of(text, turkish, Normalize.keywordSet(text))

  /** `keywords` must be `Normalize.keywordSet(text)`. */
  def of(text: String, turkish: Boolean, keywords: TokenSet): MatchText = {
    val t = if (text == null) "" else text
    val norm = Normalize.collapseWhitespace(t)
    val low = if (turkish) Normalize.turkishLower(norm) else norm.toLowerCase(Locale.ROOT)
    MatchText(t, low, keywords)
  }
}

/** One signal-phrase pattern: curated phrases that mark an edge-creating
  * rhetorical move (ontology_compiled.json `patterns`). */
final case class SignalPattern(
    name: String,
    signals: List[String],
    relation: Option[String],
    confidence: Option[String],
    sourceRole: Option[String],
    targetRole: Option[String]
) {
  /** Lowercased literal phrases for substring matching. Signals containing
    * placeholders ("[case]") or ellipses split into segments; the longest
    * contiguous literal segment is matched (curated signal phrases are
    * distinctive enough that the longest segment keeps precision). */
  lazy val matchablePhrases: List[String] = signals.flatMap { s =>
    val segments = s.split("\\[[^\\]]*\\]|\\.\\.\\.|\u2026").map(_.trim).filter(_.length >= 5)
    if (segments.isEmpty) Nil
    else List(segments.maxBy(_.length).toLowerCase(Locale.ROOT))
  }.distinct
}

/** One old→new statute renumbering row (the ontology's statute_mappings
  * table: IPC→BNS, CrPC→BNSS, IEA→BSA). */
final case class StatuteMapping(category: String, old: String, nw: String, concept: String)

/** One Aho-Corasick entry: kind 0 = signal phrase (name = pattern name),
  * kind 1 = concept key phrase, kind 2 = concept establishing case (name =
  * concept id for both). Entry id == phrase id in the automaton. */
final case class ScanEntry(kind: Int, name: String)

/** The ontology's mention-detection grammar compiled into ONE automaton:
  * every signal phrase, concept key phrase (len ≥ 4, mirroring the scan
  * loop it replaces) and establishing case, scanned in a single pass per
  * sentence. Hit ordering contracts the extractor relies on are re-imposed
  * by the caller (signal hits by entry id = (pattern name, phrase order);
  * concept hits by concept id). */
final class CompiledScan(
    val automaton: graft.kg.text.PhraseAutomaton,
    val entries: Array[ScanEntry],
    val entryPhrases: Array[String],
    val entryKind: Array[Int],       // parallel primitive views of `entries`
    val entryConceptIdx: Array[Int], // index into conceptIds (-1 for signals)
    val conceptIds: Array[String])   // concept ids in sorted order

object CompiledScan {
  def build(o: OntologyData, turkish: Boolean): CompiledScan = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[ScanEntry]
    val phrases = scala.collection.mutable.ArrayBuffer.empty[String]
    val kinds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val cidxs = scala.collection.mutable.ArrayBuffer.empty[Int]
    for ((name, pat) <- o.patterns.toList.sortBy(_._1); ph <- pat.matchablePhrases) {
      entries += ScanEntry(0, name); phrases += ph; kinds += 0; cidxs += -1
    }
    val sortedConcepts = o.concepts.toList.sortBy(_._1)
    for (((cid, cdef), ci) <- sortedConcepts.zipWithIndex) {
      val kps = (if (turkish) cdef.keyPhrasesTurkish else cdef.keyPhrasesLower)
        .filter(_.length >= 4)
      for (ph <- kps) { entries += ScanEntry(1, cid); phrases += ph; kinds += 1; cidxs += ci }
      val cases = if (turkish) cdef.establishingCasesTurkish else cdef.establishingCasesNorm
      for (cn <- cases) { entries += ScanEntry(2, cid); phrases += cn; kinds += 2; cidxs += ci }
    }
    new CompiledScan(graft.kg.text.PhraseAutomaton.build(phrases.toIndexedSeq),
      entries.toArray, phrases.toArray, kinds.toArray, cidxs.toArray,
      sortedConcepts.map(_._1).toArray)
  }
}

final case class OntologyData(
    concepts: Map[String, ConceptDef],
    patterns: Map[String, SignalPattern],
    statuteMappings: List[StatuteMapping]
) {
  /** Lazily compiled mention-scan automatons, per instance. The shipped
    * ontologies are `lazy val`s of [[Ontology]] that Spark tasks look up by
    * jurisdiction instead of deserializing, so each JVM builds these once
    * per ontology and reuses them for every conversation of every task. */
  @transient lazy val compiledScan: CompiledScan = CompiledScan.build(this, turkish = false)
  @transient lazy val compiledScanTurkish: CompiledScan = CompiledScan.build(this, turkish = true)

  /** Concept ids in sorted order. A concept's index here is its index in
    * [[candidateConcepts]]. */
  @transient lazy val conceptIds: Array[String] = concepts.keys.toArray.sorted

  /** (id, definition) in id order. */
  @transient lazy val sortedConcepts: List[(String, ConceptDef)] =
    conceptIds.iterator.map(id => id -> concepts(id)).toList

  /** Inverted keyword → concept-index index for candidate pruning in
    * cluster scoring, and the concepts that are always candidates. A concept
    * can score > 0 only if it shares ≥1 index keyword with the node text OR
    * one of its matchable phrases has an empty keyword set (those are always
    * candidates). Pruning therefore preserves the exact argmax (including
    * iteration-order tie-breaks on the pruned-but-order-preserved candidate
    * list). */
  @transient private lazy val candidateIndex: (java.util.HashMap[String, Array[Int]], Array[Boolean]) = {
    val idx = new java.util.HashMap[String, Array[Int]]
    val always = new Array[Boolean](conceptIds.length)
    for ((cid, ci) <- conceptIds.zipWithIndex) {
      val c = concepts(cid)
      val kws = Normalize.keywordSet((cid :: c.label :: c.requires ::: c.defeaters :::
        c.keyPhrases ::: c.establishingCases ::: c.typicalFactPatterns).mkString(" "))
      kws.foreach(k => idx.merge(k, Array(ci), (a, b) => a ++ b))
      always(ci) = (c.keyPhrases ++ c.establishingCasesNorm ++ c.typicalFactPatterns)
        .exists(p => p.nonEmpty && Normalize.keywordSet(p).isEmpty)
    }
    (idx, always)
  }

  /** Per concept index: can the concept score > 0 against a text with
    * these keywords? */
  def candidateConcepts(keywords: TokenSet): Array[Boolean] = {
    val (keywordIndex, alwaysCandidates) = candidateIndex
    val out = alwaysCandidates.clone()
    keywords.foreach { k =>
      val cis = keywordIndex.get(k)
      if (cis != null) cis.foreach(ci => out(ci) = true)
    }
    out
  }
}

/** Loader + scoring for the compiled ontology (the broadcast alias
  * dictionary of the engine). Data derives from the reference's compiled
  * ontology JSON (ontology_compiled.json; loaders extractor.py:966-977,
  * 1091-1107, 1312-1406; scoring extractor.py:1132-1303).
  */
object Ontology {

  private val QuotedRe = Pattern.compile("\"(.*?)\"")

  /** Parse a key_phrases string — prefer quoted phrases, else comma split
    * (extractor.py:1091-1107). */
  def parseKeyPhrases(raw: String): List[String] = {
    if (raw == null || raw.isEmpty) return Nil
    val m = QuotedRe.matcher(raw)
    val quoted = Iterator.continually(m).takeWhile(_.find()).map(_.group(1).trim).toList
    if (quoted.nonEmpty) quoted.filter(_.nonEmpty)
    else raw.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("'").stripSuffix("'").trim).filter(_.nonEmpty).toList
  }

  private val NumberedRe = Pattern.compile("(?m)^\\s*\\d+[.)]\\s*")

  /** Normalize a requires field: `[AND]/[OR]` marker + list/string forms
    * (extractor.py:1312-1379). Returns (logic, requirements). */
  def normalizeRequires(raw: Any): (String, List[String]) = raw match {
    case null => ("and", Nil)
    case l: List[_] =>
      val items = l.map(x => String.valueOf(x).trim)
      if (items.isEmpty) ("and", Nil)
      else {
        val first = items.head.toUpperCase(Locale.ROOT)
        val logic = if (first.startsWith("[OR")) "or" else "and"
        val start = if (first.startsWith("[")) 1 else 0
        (logic, items.drop(start).filter(s => s.nonEmpty && !s.toUpperCase(Locale.ROOT).startsWith("[")))
      }
    case s: String =>
      var text = s.trim
      if (text.isEmpty) return ("and", Nil)
      var logic = "and"
      val up = text.toUpperCase(Locale.ROOT)
      if (up.startsWith("[OR")) { logic = "or"; text = text.replaceFirst("(?i)^\\s*\\[OR\\]?\\s*", "") }
      else if (up.startsWith("[AND")) { text = text.replaceFirst("(?i)^\\s*\\[AND\\]?\\s*", "") }
      val parts =
        if (NumberedRe.matcher(text).find()) text.split("\\d+[.)]\\s*")
        else text.split("[\\n;]+")
      (logic, parts.map(_.trim).filter(_.nonEmpty).toList)
    case _ => ("and", Nil)
  }

  /** Normalize a defeaters field (extractor.py:1382-1406). */
  def normalizeDefeaters(raw: Any): List[String] = raw match {
    case null => Nil
    case l: List[_] => l.map(x => String.valueOf(x).trim).filter(_.nonEmpty)
    case s: String =>
      val text = s.trim
      if (text.isEmpty) Nil
      else {
        val parts =
          if (NumberedRe.matcher(text).find()) text.split("\\d+[.)]\\s*")
          else text.split("[\\n;]+")
        parts.map(_.trim).filter(_.nonEmpty).toList
      }
    case _ => Nil
  }

  /** Split a comma/semicolon/newline-separated names field. */
  def splitNames(raw: Any): List[String] = raw match {
    case null => Nil
    case l: List[_] => l.map(x => String.valueOf(x).trim).filter(_.nonEmpty)
    case s: String => s.split("[\\n;]+|,").map(_.trim).filter(_.nonEmpty).toList
    case _ => Nil
  }

  private def jsonToScala(n: JsonNode): Any = {
    if (n == null || n.isNull) null
    else if (n.isArray) n.elements().asScala.map(jsonToScala).toList
    else if (n.isTextual) n.asText()
    else n.asText()
  }

  /** Parse the compiled ontology JSON (resource or file content). */
  def parse(json: String): OntologyData = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json)
    val concepts = Option(root.get("concepts")).map { cn =>
      cn.properties().asScala.map { e =>
        val id = e.getKey
        val c = e.getValue
        def str(f: String): String = Option(c.get(f)).filterNot(_.isNull).map(_.asText()).getOrElse("")
        val (logic, requires) = normalizeRequires(jsonToScala(c.get("requires")))
        val defeaters = normalizeDefeaters(jsonToScala(c.get("defeaters")))
        id -> ConceptDef(
          id = id,
          label = if (str("label").nonEmpty) str("label") else id,
          kind = str("kind"),
          logic = logic,
          requires = requires,
          defeaters = defeaters,
          keyPhrases = parseKeyPhrases(str("key_phrases")),
          establishingCases = splitNames(jsonToScala(c.get("establishing_cases"))),
          typicalFactPatterns = splitNames(jsonToScala(c.get("typical_fact_patterns")))
        )
      }.toMap
    }.getOrElse(Map.empty)

    val patterns = Option(root.get("patterns")).map { pn =>
      pn.properties().asScala.map { e =>
        val name = e.getKey
        val p = e.getValue
        def optStr(f: String): Option[String] =
          Option(p.get(f)).filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty).filter(_ != "null")
        val signals = Option(p.get("signals")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText()).toList).getOrElse(Nil)
        val ce = Option(p.get("creates_edge")).filterNot(_.isNull)
        name -> SignalPattern(
          name = name,
          signals = signals,
          relation = optStr("relation"),
          confidence = optStr("confidence"),
          sourceRole = ce.flatMap(n => Option(n.get("source_role")).filterNot(_.isNull).map(_.asText())),
          targetRole = ce.flatMap(n => Option(n.get("target_role")).filterNot(_.isNull).map(_.asText()))
        )
      }.toMap
    }.getOrElse(Map.empty)

    val statutes = Option(root.get("statute_mappings")).filterNot(_.isNull)
      .flatMap(sn => Option(sn.get("rows")).filterNot(_.isNull))
      .map { rows =>
        rows.elements().asScala.map { r =>
          StatuteMapping(
            Option(r.get("category")).map(_.asText()).orNull,
            Option(r.get("old")).map(_.asText()).orNull,
            Option(r.get("new")).map(_.asText()).orNull,
            Option(r.get("concept")).map(_.asText()).orNull)
        }.toList
      }.getOrElse(Nil)

    OntologyData(concepts, patterns, statutes)
  }

  private def loadResource(name: String): OntologyData = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"missing resource $name")
    val json = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    parse(json)
  }

  /** The default (Indian) compiled ontology shipped as a resource. */
  lazy val default: OntologyData = loadResource("/graft/ontology.json")
  /** ECHR ontology (echr_ontology_compiled_v3_1.json shape). */
  lazy val echr: OntologyData = loadResource("/graft/ontology_echr.json")
  /** Turkish ontology (turkish_legal_ontology_cleaned.json shape). */
  lazy val turkish: OntologyData = loadResource("/graft/ontology_tr.json")

  /** Jurisdiction → its compiled ontology (extractor.py jurisdiction knob);
    * throws on a spelling [[Jurisdiction.parse]] does not accept. */
  def forJurisdiction(j: String): OntologyData = Jurisdiction.parse(j) match {
    case Jurisdiction.India  => default
    case Jurisdiction.Echr   => echr
    case Jurisdiction.Turkey => turkish
  }

  /** Weighted relevance score between node text and a concept definition
    * (extractor.py:1216-1303 `_concept_match_score`): key-phrase hits
    * (+phraseWeight each), establishing-case containment (+8 once, len≥8),
    * typical fact pattern (+3 once), generic keyword overlap (cap 4),
    * requirement keyword overlap (cap 4). */
  def conceptMatchScore(
      nodeText: String,
      c: ConceptDef,
      phraseWeight: Int = 5,
      turkish: Boolean = false): Int = {
    if (nodeText == null || nodeText.isEmpty) return 0
    conceptMatchScoreFast(MatchText.of(nodeText, turkish), c, phraseWeight, turkish)
  }

  /** Same scoring over a pre-processed MatchText — O(phrases) substring
    * checks on the already-lowered text, no per-call normalization. */
  def conceptMatchScoreFast(
      mt: MatchText,
      c: ConceptDef,
      phraseWeight: Int = 5,
      turkish: Boolean = false): Int = {
    if (mt.raw.isEmpty) return 0
    val low = mt.normLower
    var score = 0
    var phrases = if (turkish) c.keyPhrasesTurkish else c.keyPhrasesLower
    while (phrases.nonEmpty) {
      if (low.contains(phrases.head)) score += phraseWeight
      phrases = phrases.tail
    }
    if (containsAny(low, if (turkish) c.establishingCasesTurkish else c.establishingCasesNorm))
      score += 8
    if (containsAny(low, if (turkish) c.typicalFactPatternsTurkish else c.typicalFactPatternsLower))
      score += 3
    score += mt.keywords.overlap(c.conceptKeywords, 4)
    score += mt.keywords.overlap(c.requiresKeywords, 4)
    score
  }

  private def containsAny(low: String, phrases: List[String]): Boolean = {
    var ps = phrases
    while (ps.nonEmpty) {
      if (low.contains(ps.head)) return true
      ps = ps.tail
    }
    false
  }

  /** Best ontology concept for a raw concept id + text: exact id, substring of
    * id (longest), structured-prefix guard, else keyword-overlap argmax ≥ 2
    * (extractor.py:1132-1194). Ties break on lexicographically smallest id for
    * parallel determinism. */
  def bestConceptMatch(
      conceptId: String,
      nodeText: String,
      concepts: Map[String, ConceptDef]): Option[String] = {
    if (conceptId == null || conceptId.trim.isEmpty) return None
    val cid = conceptId.trim
    if (concepts.contains(cid)) return Some(cid)
    val sub = concepts.keys.filter(_.contains(cid))
    if (sub.nonEmpty) return Some(sub.toList.sortBy(k => (-k.length, k)).head)
    val rawId = cid.toUpperCase(Locale.ROOT)
    if (List("CONST_", "STATUTE_", "PROCEDURE_", "REMEDY_", "RIGHT_").exists(rawId.startsWith))
      return None
    val nodeKw = Normalize.keywordSet(cid + " " + Option(nodeText).getOrElse(""))
    if (nodeKw.isEmpty) return None
    val scored = concepts.toList.map { case (id, c) =>
      (id, Normalize.overlap(nodeKw, c.idAndTextKeywords))
    }.filter(_._2 >= 2)
    if (scored.isEmpty) None
    else Some(scored.minBy { case (id, s) => (-s, id) }._1)
  }
}
