package graft

import org.scalatest.funsuite.AnyFunSuite

/** The extractor's whole output is pinned: every field of every `ConvGraph`
  * of [[GraphFingerprints.inputs]] hashes to its committed fingerprint. A
  * performance change to the extractor must leave every hash unchanged; a
  * rule change regenerates the file (see [[GraphFingerprints]]). */
class GraphFingerprintSpec extends AnyFunSuite {

  test("every ConvGraph field equals the committed fingerprints") {
    val expected = GraphFingerprints.load()
    assert(expected.size >= 2602, expected.size)
    val actual = GraphFingerprints.compute()
    assert(actual.map(_._1) == expected.map(_._1), "the fingerprinted input set changed")
    val differing = actual.zip(expected).collect { case ((id, a), (_, e)) if a != e => id }
    assert(differing.isEmpty,
      s"${differing.size} of ${expected.size} graphs differ: ${differing.take(10).mkString(", ")}")
  }
}
