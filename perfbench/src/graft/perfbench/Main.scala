package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      buildDir: String, heap: String)

/** State shared by one benchmark run: the session, the tracer, the failure
  * tally and the metrics collected so far. */
final class Run(val args: Args) {
  val runId: String = f"${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}-${ProcessHandle.current().pid()}"
  val dirs: Dirs = Dirs(args.buildDir, runId)
  private var session: SparkSession = _
  def spark: SparkSession = session
  val tracer = new Tracer(runId, () => session)
  val stageMetrics = new StageMetrics

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  /** Start (or restart at another core count) the run's one session. */
  def startSession(cores: Int, shufflePartitions: Int = 0): SparkSession = {
    if (session != null) session.stop()
    session = Session.start(cores, dirs,
      if (shufflePartitions > 0) shufflePartitions else cores * 4)
    mark(s"session local[$cores] started")
    if (tracer.enabled) session.sparkContext.addSparkListener(stageMetrics)
    session
  }

  /** Turn span recording on and attach the stage-metrics listener. */
  def enableTracing(): Unit = {
    if (!tracer.enabled && session != null) session.sparkContext.addSparkListener(stageMetrics)
    tracer.enabled = true
  }

  def stop(): Unit = {
    if (session != null) session.stop()
    session = null
  }

  /** One correctness check: counts as an attempted operation, and as a
    * failed one when it does not hold. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"$name: $detail"
      System.err.println(s"perfbench: CHECK FAILED $name: $detail")
    }
  }

  /** One timed operation: counts as attempted, as failed if it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: $e"
        System.err.println(s"perfbench: OP FAILED $name")
        e.printStackTrace()
        None
    }
  }

  private val born = System.nanoTime()
  /** Progress line on stderr: seconds since the run started. */
  def mark(what: String): Unit = System.err.println(f"perfbench: [${Stats.seconds(born)}%7.2f s] $what")

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
}

/** Benchmark main: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --build-dir <dir> --heap <size>`. Prints informational JSON lines and,
  * last, the result object. */
object Main {

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("build-dir"), m.getOrElse("heap", "?"))
  }

  private def box(args: Args): Map[String, String] = {
    val memTotal = scala.util.Try(Files.readAllLines(Paths.get("/proc/meminfo")).toArray
      .map(_.toString).find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1) + " kB").get)
      .getOrElse("unknown")
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total" -> memTotal,
      "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "heap" -> args.heap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = new Run(args)
    val t0 = System.nanoTime()
    var exit = 0
    try {
      args.workload match {
        case "bulk_build" => Workloads.bulkBuild(run)
        case "stream_ingest" => Workloads.streamIngest(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        exit = 1
    } finally {
      run.stop()
      scala.util.Try(run.dirs.cleanWork())
    }
    if (exit != 0) sys.exit(exit)

    if (args.trace) {
      val known = LayerMetrics.All.map(_._1).toSet
      val unknown = run.perLayer.keySet -- known
      require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(",")}")
      val measured = run.perLayer.toMap
      run.perLayer.clear()
      for ((k, u) <- LayerMetrics.All) run.perLayer(k) = measured.getOrElse(k, (0.0, u))
    }
    def metricsJson(ms: collection.Map[String, (Double, String)]): String = ms.map { case (k, (v, u)) =>
      s""""${Json.esc(k)}":{"value":${Json.num(v)},"unit":"${Json.esc(u)}"}"""
    }.mkString("{", ",", "}")
    val boxInfo = box(args) ++ Map(
      "workload" -> args.workload, "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> (if (args.trace) "1" else "0"),
      "run_id" -> run.runId, "wall_s" -> f"${Stats.seconds(t0)}%.3f")
    val infoJson = (boxInfo ++ run.info).map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
      .mkString("{", ",", "}")
    val failuresJson = run.failures.map(f => "\"" + Json.esc(f) + "\"").mkString("[", ",", "]")
    val result = s"""{"correct":${run.failed == 0},"attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":${metricsJson(if (args.trace) run.perLayer else run.endToEnd)}}"""
    val full = s"""{"info":$infoJson,"failures":$failuresJson,""" +
      s""""end_to_end":${metricsJson(run.endToEnd)},"per_layer":${metricsJson(run.perLayer)},"result":$result}"""
    Files.write(Paths.get(run.dirs.results, run.runId + ".json"), (full + "\n").getBytes(UTF_8))
    if (args.trace)
      Files.write(Paths.get(run.dirs.traces, run.runId + ".spans.json"), run.tracer.json.getBytes(UTF_8))
    println(s"""{"info":$infoJson}""")
    if (run.failures.nonEmpty) println(s"""{"failures":$failuresJson}""")
    println(result)
    System.out.flush()
    sys.exit(0)
  }
}
