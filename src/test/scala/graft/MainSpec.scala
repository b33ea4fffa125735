package graft

import graft.kg.gen.TranscriptGen
import graft.kg.model.Triple
import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class MainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-main-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("stream --once: the sink holds the batch triples of every closed conversation") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_main_stream").toString
    // 10 conversations, plus one heartbeat conversation a day later whose
    // turns move the watermark past every other conversation's session gap
    val closed = TranscriptGen.turns(10, 10)
    val heartbeat = TranscriptGen.conversation("conv_zzzzzz", 4).map(t =>
      t.copy(ts = new java.sql.Timestamp(t.ts.getTime + 86400000L)))
    (closed ++ heartbeat).toDF().write.parquet(s"$dir/in")

    Main.run(spark, "stream", Map("input" -> s"$dir/in", "output" -> s"$dir/out",
      "checkpoint" -> s"$dir/ckpt", "once" -> "true"))

    val streamed = spark.read.parquet(s"$dir/out").as[Triple].collect().toSeq
    val batch = KgPipeline.triplesDirect(spark, closed.toDF()).collect().toSeq
    assert(batch.map(_.convId).distinct.size == 10)
    def sorted(ts: Seq[Triple]) = ts.sortBy(t => (t.convId, t.subj, t.pred, t.obj))
    assert(sorted(streamed) == sorted(batch))
  }

  test("demo: extracts, prints every table and writes the triples") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.run(spark, "demo", Map("convs" -> "12", "turns" -> "12")))
    val text = out.toString("UTF-8")
    assert("""transcripts: \d+ turns, 12 convs""".r.findFirstIn(text).nonEmpty, text)
    val Counts = """nodes: (\d+)  edges: (\d+)  triples: (\d+)""".r.unanchored
    val Counts(nodes, edges, triples) = text
    assert(nodes.toInt > 0 && triples.toInt > 0 && edges == triples, text)
    assert(text.contains(s"triples parquet written: $triples rows"), text)
  }

  test("parseArgs rejects a dangling option, a key without --, and an option the command does not read") {
    assert(Main.parseArgs(Array("materialize", "--input", "i", "--output", "o", "--buckets", "8")) ==
      ("materialize", Map("input" -> "i", "output" -> "o", "buckets" -> "8")))
    assert(Main.parseArgs(Array("demo")) == ("demo", Map.empty[String, String]))
    // the jurisdiction comes back as its canonical code
    assert(Main.parseArgs(Array("entity-stats", "--input", "i", "--output", "o",
      "--jurisdiction", "Turkey"))._2("jurisdiction") == "tr")
    val stream = Seq("stream", "--input", "i", "--output", "o", "--checkpoint", "c")
    for (bad <- Seq(
        Seq("materialize", "--input", "i", "--output", "o", "--buckets"),
        Seq("materialize", "--input", "i", "output", "o"),
        Seq("materialize", "--input", "i", "--output", "o", "--bucket", "64"),
        Seq("demo", "--jurisdiction", "tr"),
        stream ++ Seq("--once", "yes"),
        stream ++ Seq("--once", "1"),
        Seq("materialize", "--input", "i", "--output", "o", "--jurisdiction", "xx"),
        Seq("unknown-command"))) {
      val ex = intercept[IllegalArgumentException](Main.parseArgs(bad.toArray))
      assert(ex.getMessage.contains("usage: graft.Main"), bad.mkString(" "))
    }
  }

  test("plans canonical_chain writes its plan and deletes its generated input") {
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    def chainDirs(): Set[Path] = Files.list(tmpRoot).iterator().asScala
      .filter(_.getFileName.toString.startsWith("plandump_chain")).toSet
    val before = chainDirs()
    val out = Files.createTempDirectory("graft_main_plans")
    Main.run(spark, "plans", Map("output" -> out.toString, "suffix" -> "t",
      "names" -> "canonical_chain"))
    assert(Files.readString(out.resolve("canonical_chain_t.txt")).contains("Physical Plan"))
    assert((chainDirs() -- before).isEmpty, "the generated chain input is left behind")
  }

  test("graft.Main, Bench, Verify and GoldenGen are the only mains in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val ObjectDecl = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    val mains = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        val src = Files.readString(p)
        val pkg = Pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
        val objects = ObjectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
        """def main\s*\(""".r.findAllMatchIn(src).map { m =>
          pkg + objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse(p.toString)
        }
      }.toSet
    assert(mains == Set("graft.Main", "graft.Bench", "graft.Verify", "graft.kg.GoldenGen"))
  }
}
