package graft.kg.text

import graft.kg.ontology.Jurisdiction
import java.util.regex.Pattern

/** Document-window selection (P5): head truncation for most passes, and the
  * Turkish AYM operative-part tail selector for outcome/holdings passes.
  *
  * Semantics re-expressed from the reference window selector
  * (extractor.py:172-234): needles searched in priority tiers (most specific
  * first), LAST occurrence within a tier wins (closest to the end = the
  * operative section), and the bare keyword "KARAR" is matched ONLY as a
  * start-of-line section header (optionally numbered) — never inside running
  * text ("mahkeme kararı").
  */
object DocWindow {

  private val Tier1 = List("SONUÇ VE HÜKÜM", "SONUC VE HUKUM", "SONUÇ VE KARAR")
  private val Tier2 = List("HÜKÜM", "HUKUM", "SONUÇ", "SONUC")

  private val KararHeader = Pattern.compile(
    """(?:^|\n)\s*(?:[IVX]+\.?\s+|[A-ZÇĞİÖŞÜ]\.?\s+)?KARAR\s*(?:\n|$)""",
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE)

  /** Tail window from the last operative-section header (or plain tail). */
  def aymOperativeWindow(text: String, maxChars: Int): String = {
    val low = Normalize.turkishLower(text)
    def windowFrom(idx: Int): String = {
      val w = text.substring(idx)
      if (w.length > maxChars) w.substring(w.length - maxChars) else w
    }
    for (needle <- Tier1) {
      val j = low.lastIndexOf(Normalize.turkishLower(needle))
      if (j != -1) return windowFrom(j)
    }
    for (needle <- Tier2) {
      val j = low.lastIndexOf(Normalize.turkishLower(needle))
      if (j != -1) return windowFrom(j)
    }
    val m = KararHeader.matcher(text)
    var last = -1
    while (m.find()) last = m.start()
    if (last != -1) return windowFrom(last)
    if (text.length > maxChars) text.substring(text.length - maxChars) else text
  }

  /** Pass-aware window: Turkish outcome/holdings passes read the operative
    * tail; everything else head-truncates (extractor.py:224-234). */
  def selectWindow(fullText: String, maxChars: Int,
                   jurisdiction: String, passName: String): String = {
    val tr = Jurisdiction.parse(jurisdiction) == Jurisdiction.Turkey
    if (tr && (passName == "outcome" || passName == "holdings"))
      aymOperativeWindow(fullText, maxChars)
    else fullText.take(maxChars)
  }
}
