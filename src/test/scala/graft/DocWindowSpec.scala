package graft

import graft.kg.text.DocWindow
import org.scalatest.funsuite.AnyFunSuite

class DocWindowSpec extends AnyFunSuite {

  val body = "Mahkeme kararı hakkında uzun bir değerlendirme. " * 20

  test("tier-1 multiword header wins over tier-2") {
    val text = body + "\nHÜKÜM\nara bölüm\n" + body + "\nSONUÇ VE HÜKÜM\nesas kısım."
    val w = DocWindow.aymOperativeWindow(text, 10000)
    assert(w.startsWith("SONUÇ VE HÜKÜM"))
  }

  test("last occurrence within a tier wins") {
    val text = "HÜKÜM\nilk\n" + body + "\nHÜKÜM\nson kısım."
    val w = DocWindow.aymOperativeWindow(text, 10000)
    assert(w == "HÜKÜM\nson kısım.")
  }

  test("KARAR matches only as a section header, not in running text") {
    val onlyRunning = body // contains "kararı" in running text
    val w = DocWindow.aymOperativeWindow(onlyRunning, 100)
    assert(w == onlyRunning.takeRight(100)) // fell through to plain tail
    val withHeader = body + "\nV. KARAR\nesas kısım burada."
    val w2 = DocWindow.aymOperativeWindow(withHeader, 10000)
    assert(w2.contains("esas kısım"))
    assert(w2.startsWith("\nV. KARAR") || w2.startsWith("V. KARAR"))
  }

  test("turkish lowercase matching finds headers regardless of case") {
    val text = body + "\nSonuç\nesas." // mixed case header
    val w = DocWindow.aymOperativeWindow(text, 10000)
    assert(w.startsWith("Sonuç"))
  }

  test("selectWindow: head truncation except TR outcome/holdings") {
    val text = "A" * 100 + "HÜKÜM son"
    assert(DocWindow.selectWindow(text, 50, "in", "outcome") == "A" * 50)
    assert(DocWindow.selectWindow(text, 50, "tr", "facts") == "A" * 50)
    for (j <- Seq("tr", "TR"))
      assert(DocWindow.selectWindow(text, 50, j, "outcome").startsWith("HÜKÜM"), j)
  }
}
