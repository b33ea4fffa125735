package graft.kg.text

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Aho-Corasick automaton over literal phrases: ONE pass per text finds all
  * occurrences of every phrase, replacing per-phrase `indexOf`/`contains`
  * loops (O(sentences × phrases × len) → O(sentences × len + hits)). Built
  * once per phrase set (the broadcast ontology caches it lazily) and reused
  * across every conversation on the executor.
  *
  * The goto/fail trie is closed into a full DFA over a COMPACT alphabet
  * (only characters that occur in some phrase get a class; everything else
  * shares class 0, which always leads back to the root), so the scan loop is
  * two array loads per character — no fail chasing, no per-node search. A
  * table entry is the target state's row offset, complemented when that
  * state has outputs, so a character without a hit costs no output lookup.
  *
  * Matching is plain char equality — the caller lowers text and phrases
  * consistently (ASCII or Turkish lowering), exactly like the scan loops it
  * replaces (DocExtractor stage 2; extractor.py's key-phrase / signal-phrase
  * containment checks).
  */
final class PhraseAutomaton private (
    charClass: Array[Short],   // char → alphabet class (0 = not in any phrase)
    delta: Array[Int],         // flattened [state × alphabetSize] DFA table:
                               // target × alphabetSize, complemented when the
                               // target has outputs
    alphabetSize: Int,
    outputs: Array[Array[Int]], // per-state phrase ids incl. fail-chain merges
    val phraseLengths: Array[Int]) {

  /** Scan `text`, invoking `sink.hit(phraseId, startOffset)` for every
    * occurrence of every phrase (phrases sharing a suffix all fire).
    * Primitive-int callback trait: no boxing on the per-char hot path. */
  def scan(text: String, sink: PhraseAutomaton.Sink): Unit = {
    var row = 0
    var i = 0
    val n = text.length
    val cc = charClass
    val d = delta
    while (i < n) {
      row = d(row + cc(text.charAt(i)))
      if (row < 0) {
        row = ~row
        val out = outputs(row / alphabetSize)
        var j = 0
        while (j < out.length) {
          val pid = out(j)
          sink.hit(pid, i - phraseLengths(pid) + 1)
          j += 1
        }
      }
      i += 1
    }
  }
}

object PhraseAutomaton {

  /** Primitive hit callback (avoids Function2 Int boxing in the scan loop). */
  trait Sink { def hit(phraseId: Int, start: Int): Unit }

  /** Build from a phrase list; ids are list indices. Empty phrases never
    * match. */
  def build(phrases: IndexedSeq[String]): PhraseAutomaton = {
    // compact alphabet over chars appearing in any phrase
    val charClass = new Array[Short](65536)
    var nextClass = 1
    for (p <- phrases; c <- p) if (charClass(c) == 0) {
      charClass(c) = nextClass.toShort
      nextClass += 1
    }
    val k = nextClass

    // trie over classes
    val children = ArrayBuffer[mutable.HashMap[Int, Int]](mutable.HashMap.empty)
    val ownOut = ArrayBuffer[List[Int]](Nil)
    def newNode(): Int = {
      children += mutable.HashMap.empty
      ownOut += Nil
      children.length - 1
    }
    for ((p, id) <- phrases.zipWithIndex if p.nonEmpty) {
      var s = 0
      var i = 0
      while (i < p.length) {
        val c = charClass(p.charAt(i)).toInt
        s = children(s).getOrElseUpdate(c, newNode())
        i += 1
      }
      ownOut(s) ::= id
    }
    val nNodes = children.length
    val fail = new Array[Int](nNodes)
    val merged = new Array[List[Int]](nNodes)
    merged(0) = ownOut(0)
    // BFS: fail links + output merging (outputs(s) = own ++ outputs(fail(s)))
    val queue = mutable.Queue.empty[Int]
    for ((_, t) <- children(0)) { fail(t) = 0; queue += t }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      merged(s) = ownOut(s) ::: merged(fail(s))
      for ((c, t) <- children(s)) {
        var f = fail(s)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(t) = children(f).getOrElse(c, 0)
        if (fail(t) == t) fail(t) = 0 // root self-edge guard
        queue += t
      }
    }
    // close into a full DFA: delta(s, c) = goto(s, c) | delta(fail(s), c),
    // computed in BFS order so parents precede children; class 0 (chars in
    // no phrase) always returns to the root
    val delta = new Array[Int](nNodes * k)
    for ((c, t) <- children(0)) delta(c) = t
    val order = mutable.Queue.empty[Int]
    for ((_, t) <- children(0)) order += t
    while (order.nonEmpty) {
      val s = order.dequeue()
      var c = 0
      while (c < k) {
        delta(s * k + c) = children(s).getOrElse(c, delta(fail(s) * k + c))
        c += 1
      }
      for ((_, t) <- children(s)) order += t
    }
    var s = 0
    while (s < nNodes) {
      if (merged(s) == null) merged(s) = ownOut(s)
      s += 1
    }
    var e = 0
    while (e < delta.length) {
      val t = delta(e)
      delta(e) = if (merged(t).nonEmpty) ~(t * k) else t * k
      e += 1
    }
    new PhraseAutomaton(charClass, delta, k,
      merged.map(l => l.sorted.toArray), phrases.map(_.length).toArray)
  }
}
