package graft.kg.ontology

import java.util.Locale

/** The jurisdiction knob (extractor.py's `jurisdiction`): it selects the
  * compiled ontology, the citation grammar, and the Turkish fold and AYM
  * operative window. Public functions keep taking the jurisdiction as a
  * `String`; each of them reads it through [[Jurisdiction.parse]] only, so
  * every accepted spelling of one jurisdiction runs the same rules.
  *
  * @param code the canonical spelling: `in`, `echr` or `tr`
  */
sealed abstract class Jurisdiction(val code: String)

object Jurisdiction {
  case object India extends Jurisdiction("in")
  case object Echr extends Jurisdiction("echr")
  case object Turkey extends Jurisdiction("tr")

  /** Trim and lower `s` (under `Locale.ROOT`, so the default locale cannot
    * turn `IN` into `ın`) and name its jurisdiction: `in`/`india`,
    * `echr`/`eu` or `tr`/`turkey`. Anything else, `null` included, throws
    * `IllegalArgumentException`: running a default ontology with no citation
    * grammar would look like a result. */
  def parse(s: String): Jurisdiction =
    Option(s).map(_.trim.toLowerCase(Locale.ROOT)).orNull match {
      case "in" | "india"  => India
      case "echr" | "eu"   => Echr
      case "tr" | "turkey" => Turkey
      case _ => throw new IllegalArgumentException(
        s"unknown jurisdiction '$s': expected in|india, echr|eu or tr|turkey")
    }
}
