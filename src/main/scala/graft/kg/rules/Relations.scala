package graft.kg.rules

/** Edge-relation normalization, validation matrix and repair.
  *
  * Semantics re-expressed from the reference's deterministic edge layer:
  * alias map + normalization (extractor.py:244-291), coercion heuristics
  * (extractor.py:294-329), id→type prefixes (extractor.py:609-633), the
  * (source_type, target_type) → allowed-relations matrix (extractor.py:568-607)
  * and relation repair with direction flip + drift map (extractor.py:656-738).
  */
object Relations {

  /** The 32-value EdgeRelation enum (schema_v2_1.py:113-146). */
  val ValidRelations: Set[String] = Set(
    "supports", "grounds", "rebuts", "undercuts", "attacks", "supports_arg",
    "responds_to", "concedes", "addresses", "resolves", "partially_resolves",
    "determines", "contributes_to", "triggers", "negates", "satisfies",
    "partially_satisfies", "claims_satisfies", "requires", "excludes",
    "specializes", "conflicts_with", "constrains", "enables", "establishes",
    "follows", "applies", "distinguishes", "overrules", "doubts", "explains",
    "member_of")

  private val Aliases: Map[String, String] = Map(
    "claim_satisfies" -> "claims_satisfies",
    "claims_satisfy" -> "claims_satisfies",
    "claims_satisfies_requirement" -> "claims_satisfies",
    "satisfy" -> "satisfies",
    "satisfies_requirement" -> "satisfies",
    "satisfies_requirements" -> "satisfies",
    "satisfies_req" -> "satisfies",
    "partial_satisfies" -> "partially_satisfies",
    "partially_satisfies_requirement" -> "partially_satisfies",
    "establish" -> "establishes",
    "established" -> "establishes",
    "establishes_doctrine" -> "establishes",
    "enable" -> "enables",
    "enabling" -> "enables",
    "permits" -> "enables",
    "allows" -> "enables",
    "facilitates" -> "enables",
    "conflicts" -> "conflicts_with",
    "conflict" -> "conflicts_with",
    "conflict_with" -> "conflicts_with",
    "respond_to" -> "responds_to",
    "responds" -> "responds_to",
    "support" -> "supports",
    "supports_argument" -> "supports_arg",
    "supportsarg" -> "supports_arg",
    "attack" -> "attacks",
    "undercut" -> "undercuts",
    "rebut" -> "rebuts",
    "ground" -> "grounds",
    "address" -> "addresses",
    "require" -> "requires")

  /** Lower/underscore-collapse + alias lookup (extractor.py:282-291).
    * Single-pass for ASCII inputs (the whole relation vocabulary): the
    * trim + lower + 2×replace + regex-collapse chain allocated five strings
    * per edge. */
  def normalize(relation: String): String = {
    if (relation == null) return ""
    val r = underscoreFold(relation)
    Aliases.getOrElse(r, r)
  }

  /** trim + lower + [-, space]→_ + collapse "_+", in one pass for ASCII
    * input (the whole relation/actor vocabulary); shared with Actors. */
  private[rules] def underscoreFold(sIn: String): String = {
    var ascii = true
    var i = 0
    while (ascii && i < sIn.length) {
      if (sIn.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (ascii) {
      var s = 0
      var e = sIn.length
      while (s < e && sIn.charAt(s) <= ' ') s += 1
      while (e > s && sIn.charAt(e - 1) <= ' ') e -= 1
      val buf = new Array[Char](e - s)
      var n = 0
      var j = s
      while (j < e) {
        val c0 = sIn.charAt(j)
        val c =
          if (c0 == '-' || c0 == ' ') '_'
          else if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar
          else c0
        if (c != '_' || n == 0 || buf(n - 1) != '_') { buf(n) = c; n += 1 }
        j += 1
      }
      new String(buf, 0, n)
    } else {
      sIn.trim.toLowerCase(java.util.Locale.ROOT).replace("-", "_").replace(" ", "_")
        .replaceAll("_+", "_")
    }
  }

  /** Coerce an arbitrary relation-like string into a valid relation via
    * substring heuristics, defaulting to "supports" (extractor.py:294-329). */
  def coerce(relation: String): String = {
    val r = normalize(relation)
    if (ValidRelations.contains(r)) return r
    if (r.contains("satisf")) return if (r.contains("partial")) "partially_satisfies" else "satisfies"
    if (r.contains("enable") || r.contains("permit") || r.contains("allow")) return "enables"
    if (r.contains("establish")) return "establishes"
    if (r.contains("conflict") || r.contains("contradict") || r.contains("inconsist")) return "conflicts_with"
    if (r.contains("require") || r.contains("necess")) return "requires"
    if (r.contains("resolv") || r.contains("answer")) return "resolves"
    if (r.contains("determin")) return "determines"
    if (r.contains("contribut") || r.contains("cause") || r.contains("lead") || r.contains("result")) return "contributes_to"
    if (r.contains("attack")) return "attacks"
    if (r.contains("rebut")) return "rebuts"
    if (r.contains("undercut")) return "undercuts"
    "supports"
  }

  /** (source_type, target_type) → allowed relation set (extractor.py:568-607). */
  val Matrix: Map[(String, String), Set[String]] = Map(
    ("fact", "concept") -> Set("triggers", "negates", "partially_satisfies", "satisfies", "claims_satisfies"),
    ("fact", "argument") -> Set("supports", "grounds", "rebuts", "undercuts"),
    ("fact", "holding") -> Set("supports", "grounds"),
    ("fact", "issue") -> Set("triggers", "supports", "addresses"),
    ("concept", "concept") -> Set("requires", "excludes", "specializes", "conflicts_with"),
    ("concept", "argument") -> Set("supports", "grounds", "rebuts", "undercuts"),
    ("concept", "holding") -> Set("grounds", "constrains", "supports", "enables"),
    ("concept", "issue") -> Set("requires", "addresses"),
    ("argument", "issue") -> Set("addresses", "concedes"),
    ("argument", "argument") -> Set("attacks", "supports_arg", "responds_to"),
    ("argument", "holding") -> Set("supports", "grounds", "rebuts", "undercuts"),
    ("argument", "concept") -> Set("supports", "grounds", "rebuts", "undercuts", "claims_satisfies"),
    ("holding", "issue") -> Set("resolves", "partially_resolves", "addresses"),
    ("holding", "outcome") -> Set("determines", "contributes_to"),
    ("holding", "precedent") -> Set("follows", "applies", "distinguishes", "overrules", "doubts", "explains"),
    ("holding", "concept") -> Set("supports", "grounds", "constrains", "undercuts", "negates"),
    ("holding", "holding") -> Set("supports", "conflicts_with", "specializes", "constrains", "undercuts"),
    ("precedent", "concept") -> Set("supports", "grounds", "establishes"),
    ("precedent", "holding") -> Set("supports"),
    ("precedent", "argument") -> Set("supports"),
    ("precedent", "issue") -> Set("addresses", "supports"),
    ("issue", "concept") -> Set("requires", "addresses"),
    ("issue", "holding") -> Set("addresses", "requires"),
    ("issue", "argument") -> Set("addresses", "requires"),
    ("issue", "precedent") -> Set("addresses"),
    ("issue", "issue") -> Set("specializes", "conflicts_with", "requires"))

  /** Longest-prefix-first node-id → type (extractor.py:609-633).
    * Allocation-free: this is called twice per edge in validate/repair and
    * profiled as a top extraction frame before the rewrite. */
  def nodeTypeFromId(nodeId: String): String = {
    if (nodeId == null || nodeId.isEmpty) return "unknown"
    if (nodeId == "outcome") return "outcome"
    // suffix rule: non-empty AND (all digits OR starts with '_')
    def suffixOk(from: Int): Boolean = {
      val n = nodeId.length
      if (from >= n) return false
      if (nodeId.charAt(from) == '_') return true
      var i = from
      while (i < n) {
        val ch = nodeId.charAt(i)
        if (ch < '0' || ch > '9') return false
        i += 1
      }
      true
    }
    val c0 = nodeId.charAt(0)
    if (nodeId.length >= 2) {
      val c1 = nodeId.charAt(1)
      if (c0 == 'j' && c1 == 's' && suffixOk(2)) return "justification_set"
      if (c0 == 'r' && c1 == 'c' && suffixOk(2)) return "reasoning_chain"
    }
    val single = c0 match {
      case 'f' => "fact"
      case 'c' => "concept"
      case 'i' => "issue"
      case 'a' => "argument"
      case 'h' => "holding"
      case 'p' => "precedent"
      case _   => null
    }
    if (single != null && suffixOk(1)) single else "unknown"
  }

  /** Validate a relation against the matrix (extractor.py:635-653). */
  def validate(sourceId: String, targetId: String, relation: String): (Boolean, String) = {
    val st = nodeTypeFromId(sourceId)
    val tt = nodeTypeFromId(targetId)
    val rel = normalize(relation)
    Matrix.get((st, tt)) match {
      case None => (false, s"No valid relations defined for $st -> $tt")
      case Some(allowed) if !allowed.contains(rel) =>
        (false, s"'$relation' not valid for $st -> $tt")
      case _ => (true, "")
    }
  }

  private val GeneralDriftMap: List[(String, String)] = List(
    "explains" -> "addresses", "supports_arg" -> "addresses",
    "contributes_to" -> "addresses", "partially_resolves" -> "addresses",
    "resolves" -> "addresses", "enables" -> "requires",
    "distinguishes" -> "specializes", "partially_satisfies" -> "grounds",
    "satisfies" -> "supports", "establishes" -> "supports")

  /** Repair an edge relation (and possibly direction) to satisfy the matrix
    * (extractor.py:656-738). Returns Some((src, tgt, relation, note)) or None. */
  def repair(sourceId: String, targetId: String, relation: String)
      : Option[(String, String, String, String)] = {
    var src = sourceId
    var tgt = targetId
    var st = nodeTypeFromId(src)
    var tt = nodeTypeFromId(tgt)
    val rel = normalize(relation)
    var flipped = false
    var key = (st, tt)
    if (!Matrix.contains(key)) {
      val rev = (tt, st)
      if (Matrix.contains(rev)) {
        val t = src; src = tgt; tgt = t
        val t2 = st; st = tt; tt = t2
        key = rev; flipped = true
      } else return None
    }
    val allowed = Matrix(key)
    val fPfx = if (flipped) "flipped; " else ""
    if (allowed.contains(rel))
      return Some((src, tgt, rel, if (flipped) "flipped direction" else "ok"))

    for ((bad, good) <- GeneralDriftMap if rel == bad && allowed.contains(good))
      return Some((src, tgt, good, s"$fPfx$bad->$good"))

    key match {
      case ("fact", "concept") =>
        if (allowed.contains("triggers")) return Some((src, tgt, "triggers", s"$fPfx$rel->triggers"))
        if (allowed.contains("satisfies")) return Some((src, tgt, "satisfies", s"$fPfx$rel->satisfies"))
      case ("holding", "issue") if allowed.contains("addresses") =>
        return Some((src, tgt, "addresses", s"$fPfx$rel->addresses"))
      case ("concept", "issue") if allowed.contains("addresses") =>
        return Some((src, tgt, "addresses", s"$fPfx$rel->addresses"))
      case ("issue", "issue") if allowed.contains("specializes") =>
        return Some((src, tgt, "specializes", s"$fPfx$rel->specializes"))
      case ("precedent", "concept") if allowed.contains("grounds") =>
        return Some((src, tgt, "grounds", s"$fPfx$rel->grounds"))
      case _ =>
    }

    for (pref <- List("grounds", "supports", "addresses", "requires", "specializes", "triggers")
         if allowed.contains(pref))
      return Some((src, tgt, pref, s"$fPfx$rel->$pref"))

    allowed.toList.sorted.headOption.map(ch => (src, tgt, ch, s"$fPfx$rel->$ch"))
  }

  /** Confidence ordering used by dedup winners (extractor.py:4030-4035). */
  val ConfidenceRank: Map[String, Int] =
    Map("high" -> 4, "medium" -> 3, "low" -> 2, "inferred" -> 1)
}
