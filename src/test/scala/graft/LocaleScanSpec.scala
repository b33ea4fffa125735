package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** No case fold or format on the extraction path may follow the JVM's
  * default locale: every `toLowerCase`/`toUpperCase` names a `Locale`, no
  * `format` call or `f` interpolator formats without one. A source scan
  * over `src/main/scala/graft/kg/{extract,rules,ontology,text}`, comments and
  * string literals left out. */
class LocaleScanSpec extends AnyFunSuite {

  private val Dirs = Seq("extract", "rules", "ontology", "text")
    .map(d => Paths.get("src/main/scala/graft/kg", d))

  /** `src` with comments and the contents of string and char literals
    * replaced by spaces (line structure kept); an `f` interpolator's prefix
    * becomes `f"` so the scan still sees it. */
  private[graft] def code(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    val n = src.length
    def blank(from: Int, to: Int): Unit =
      for (k <- from until to) out += (if (src(k) == '\n') '\n' else ' ')
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = { val k = src.indexOf('\n', i); if (k < 0) n else k }
        blank(i, e); i = e
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var k = i + 2
        while (k < n && depth > 0) {
          if (src.startsWith("/*", k)) { depth += 1; k += 2 }
          else if (src.startsWith("*/", k)) { depth -= 1; k += 2 }
          else k += 1
        }
        blank(i, k); i = k
      } else if (src.startsWith("\"\"\"", i)) {
        val k = { val e = src.indexOf("\"\"\"", i + 3); if (e < 0) n else e + 3 }
        out ++= "\"\""; blank(i + 2, k); i = k
      } else if (src(i) == '"') {
        var k = i + 1
        while (k < n && src(k) != '"') k += (if (src(k) == '\\') 2 else 1)
        out += '"'; blank(i + 1, k); out += '"'; i = math.min(k + 1, n)
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val k = src.indexOf('\'', i + 2)
        blank(i, k + 1); i = k + 1
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val LocaleLessFold =
    """(?<!Character)\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\b)""".r
  private val LocaleLessFormat = """\.format\s*\((?!\s*(?:java\.util\.)?Locale\b)""".r
  private val FInterpolator = """(?<![\w.])f"""".r

  /** "line: text" for every locale-less fold or format in `src`. */
  private[graft] def violations(src: String): Seq[String] = {
    val lines = code(src).split("\n", -1)
    lines.indices.flatMap { i =>
      val l = lines(i)
      if (Seq(LocaleLessFold, LocaleLessFormat, FInterpolator).exists(_.findFirstIn(l).nonEmpty))
        Some(s"${i + 1}: ${src.split("\n", -1)(i).trim}")
      else None
    }
  }

  test("the scan finds locale-less folds and formats, and only those") {
    val bad = Seq(
      "val a = s.toLowerCase", "val a = s.toUpperCase()", "val a = s.toLowerCase(loc)",
      "val a = \"%.1f\".format(x)", "val a = String.format(\"%d\", n)", "val a = f\"$x%.1f\"")
    for (b <- bad) assert(violations(b).size == 1, b)
    val good = Seq(
      "val a = s.toLowerCase(Locale.ROOT)", "val a = s.toUpperCase(java.util.Locale.ROOT)",
      "val c = Character.toLowerCase(ch)", "val a = \"%.1f\".formatLocal(Locale.ROOT, x)",
      "val a = String.format(Locale.ROOT, \"%d\", n)", "// s.toLowerCase in a comment",
      "/* s.toUpperCase */ val x = 1", "val a = \"s.toLowerCase in a string\"",
      "val q = '\"'; val a = s.toLowerCase(Locale.ROOT)", "val a = s\"of\"")
    for (g <- good) assert(violations(g).isEmpty, g)
  }

  test("no case fold or format on the extraction path depends on the default locale") {
    val files = Dirs.flatMap { d =>
      assert(Files.isDirectory(d), s"run from the project root: $d missing")
      Files.walk(d).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(files.size >= 10)
    val found = files.sortBy(_.toString).flatMap { (p: Path) =>
      violations(Files.readString(p)).map(v => s"$p:$v")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
