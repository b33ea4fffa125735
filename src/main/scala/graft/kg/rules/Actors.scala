package graft.kg.rules

/** Actor-type and argument-scheme normalization + coercion.
  *
  * Semantics re-expressed from the reference's actor layer — the ActorType
  * enum (schema_v2_1.py:54-65), the ~60-entry alias map
  * (extractor.py:365-428), `normalize_actor_type`/`coerce_actor_type` with
  * its substring-heuristic fallbacks (extractor.py:431-563) — and the
  * ArgumentScheme enum (schema_v2_1.py:90-110) with its alias normalization
  * (extractor.py:332-357).
  */
object Actors {

  /** ActorType enum values (schema_v2_1.py:54-65). */
  val ActorTypes: Set[String] = Set(
    "petitioner", "respondent", "court", "lower_court", "amicus",
    "third_party", "appellant", "complainant", "accused", "prosecution")

  /** Alias map for actor surface forms (extractor.py:365-428). */
  val ActorAliases: Map[String, String] = Map(
    // Union of India / Government variants -> respondent
    "union" -> "respondent", "uoi" -> "respondent",
    "union_of_india" -> "respondent", "government" -> "respondent",
    "govt" -> "respondent", "state" -> "respondent", "states" -> "respondent",
    "state_government" -> "respondent", "central_government" -> "respondent",
    "central_govt" -> "respondent", "authority" -> "respondent",
    "authorities" -> "respondent", "department" -> "respondent",
    "ministry" -> "respondent", "corporation" -> "respondent",
    "public_authority" -> "respondent",
    // Appellant/Petitioner variants
    "appellant" -> "appellant", "petitioner" -> "petitioner",
    "applicant" -> "petitioner", "plaintiff" -> "petitioner",
    "claimant" -> "petitioner", "writ_petitioner" -> "petitioner",
    // Respondent variants
    "respondent" -> "respondent", "defendant" -> "respondent",
    "opposite_party" -> "respondent", "opp_party" -> "respondent",
    // Criminal case actors
    "accused" -> "accused", "convict" -> "accused", "prisoner" -> "accused",
    "prosecution" -> "prosecution", "public_prosecutor" -> "prosecution",
    "pp" -> "prosecution", "complainant" -> "complainant",
    "informant" -> "complainant",
    // Court variants
    "court" -> "court", "bench" -> "court", "judge" -> "court",
    "tribunal" -> "court", "lower_court" -> "lower_court",
    "high_court" -> "lower_court", "trial_court" -> "lower_court",
    "sessions_court" -> "lower_court", "magistrate" -> "lower_court",
    "appellate_authority" -> "lower_court",
    // Third parties
    "amicus" -> "amicus", "amicus_curiae" -> "amicus",
    "intervenor" -> "third_party", "intervener" -> "third_party",
    "third_party" -> "third_party", "witness" -> "third_party",
    "expert" -> "third_party")

  private def canonKey(s: String): String = Relations.underscoreFold(s)

  /** normalize_actor_type (extractor.py:431-444): lower/underscore collapse
    * then alias lookup; null/empty → null. */
  def normalizeActor(actor: String): String = {
    if (actor == null) return null
    val a = canonKey(actor)
    if (a.isEmpty) null else ActorAliases.getOrElse(a, a)
  }

  /** coerce_actor_type (extractor.py:447-563): normalize, alias, then
    * substring heuristics; safest fallback third_party. */
  def coerceActor(actor: String, default: String = null,
                  extraAliases: Map[String, String] = Map.empty): String = {
    if (actor == null)
      return if (default != null && ActorTypes.contains(default)) default else null
    val normalized = normalizeActor(actor)
    if (normalized == null)
      return if (default != null && ActorTypes.contains(default)) default else null
    if (ActorTypes.contains(normalized)) return normalized
    if (extraAliases.nonEmpty) {
      val mapped = extraAliases.get(normalized)
        .orElse(extraAliases.get(canonKey(actor)))
      for (m <- mapped) {
        val mn = Option(normalizeActor(m)).getOrElse(m.trim.toLowerCase(java.util.Locale.ROOT))
        if (ActorTypes.contains(mn)) return mn
      }
    }
    val a = normalized.toLowerCase(java.util.Locale.ROOT)
    def anyOf(pats: String*): Boolean = pats.exists(a.contains)
    if (anyOf("gov", "union", "state", "ministry", "department", "authority",
      "board", "commission", "corporation", "municipal", "council", "committee"))
      return "respondent"
    if (anyOf("petition", "applic", "plaintiff", "claim", "writ")) return "petitioner"
    if (a.contains("appell")) return "appellant"
    if (anyOf("respond", "defend", "opposite")) return "respondent"
    if (anyOf("accuse", "convict", "prisoner")) return "accused"
    if (anyOf("prosecu", "public_prosecutor")) return "prosecution"
    if (anyOf("complain", "inform")) return "complainant"
    if (anyOf("court", "bench", "judge", "tribunal")) {
      if (anyOf("lower", "trial", "session", "magistrat", "high_court"))
        return "lower_court"
      return "court"
    }
    if (a.contains("amicus") || a.contains("friend_of_court")) return "amicus"
    "third_party"
  }

  /** ArgumentScheme enum values (schema_v2_1.py:90-110). */
  val ArgumentSchemes: Set[String] = Set(
    "rule_application", "rule_exception", "precedent_following",
    "precedent_analogy", "precedent_distinction", "textual", "purposive",
    "harmonious", "proportionality", "balancing", "evidence_sufficiency",
    "evidence_credibility", "procedural", "jurisdiction", "limitation",
    "policy_consequence", "public_interest", "natural_justice", "other")

  /** Scheme alias map (extractor.py:332-348). */
  val SchemeAliases: Map[String, String] = Map(
    "textual_interpretation" -> "textual",
    "purposive_interpretation" -> "purposive",
    "harmonious_construction" -> "harmonious",
    "procedural_compliance" -> "procedural",
    "precedent_distinguishing" -> "precedent_distinction",
    "policy_consequences" -> "policy_consequence",
    "natural_justice" -> "natural_justice",
    "naturaljustice" -> "natural_justice",
    "natural_justice_principle" -> "natural_justice",
    "procedural_fairness" -> "natural_justice",
    "audi_alteram_partem" -> "natural_justice")

  /** normalize_argument_scheme (extractor.py:351-357). */
  def normalizeScheme(scheme: String): String = {
    if (scheme == null) return null
    val s = canonKey(scheme)
    SchemeAliases.getOrElse(s, s)
  }

  /** Normalize, then clamp to the enum — unknown schemes become "other"
    * (the schema's catch-all value). */
  def coerceScheme(scheme: String): String = {
    val n = normalizeScheme(scheme)
    if (n == null) null
    else if (ArgumentSchemes.contains(n)) n
    else "other"
  }

  /** Deterministic scheme inference for rule-extracted argument sentences:
    * cue-phrase buckets over the lowered text, first match in a fixed
    * priority order, defaulting to rule_application (the modal scheme in the
    * reference corpus). */
  val SchemeCues: List[(List[String], String)] = List(
    (List("natural justice", "audi alteram", "procedural fairness"), "natural_justice"),
    (List("proportional"), "proportionality"),
    (List("distinguish"), "precedent_distinction"),
    (List("relied on", "relying on", "followed in", "precedent", "cited"), "precedent_following"),
    (List("harmonious"), "harmonious"),
    (List("purposive", "object and purpose", "intention of the legislature"), "purposive"),
    (List("plain meaning", "literal", "textual", "plain language"), "textual"),
    (List("balanc"), "balancing"),
    (List("evidence", "proof", "burden"), "evidence_sufficiency"),
    (List("jurisdiction"), "jurisdiction"),
    (List("limitation", "time-barred", "barred by time"), "limitation"),
    (List("public interest"), "public_interest"),
    (List("policy", "consequence"), "policy_consequence"),
    (List("procedur"), "procedural"),
    (List("exception", "proviso"), "rule_exception"))

  def inferScheme(sentenceLower: String): String =
    SchemeCues.collectFirst {
      case (cues, scheme) if cues.exists(sentenceLower.contains) => scheme
    }.getOrElse("rule_application")
}
