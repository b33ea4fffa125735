package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Order statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples beyond it
    * (nearest rank). Below 20 samples no such percentile lies above the
    * median, so the maximum is reported instead. Returns (value, label). */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n < 20) (s.last, s"max of $n")
    else {
      val idx = n - 11
      (s(idx), s"p${math.floor(100.0 * (idx + 1) / n).toInt} of $n")
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Where a run reads and writes: everything under the build directory. */
final case class Dirs(build: String, runTag: String) {
  private def sub(parts: String*): String = {
    val p = java.nio.file.Paths.get(build, parts: _*)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
  lazy val inputs: String = sub("inputs")
  lazy val work: String = sub("work", runTag)
  lazy val sparkLocal: String = sub("work", runTag, "spark-local")
  lazy val warehouse: String = sub("work", runTag, "warehouse")
  lazy val traces: String = sub("traces")
  lazy val results: String = sub("results")

  def cleanWork(): Unit = Files2.deleteTree(java.nio.file.Paths.get(build, "work", runTag))
}

object Files2 {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }

  /** Total bytes and count of data files (names not starting with _ or .). */
  def dataFiles(root: String): (Long, Int) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return (0L, 0)
    val s = java.nio.file.Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }).toList
      (fs.map(f => java.nio.file.Files.size(f)).sum, fs.size)
    } finally s.close()
  }
}

/** One SparkSession factory for every phase of the benchmark. */
object Session {
  def start(cores: Int, dirs: Dirs, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", dirs.sparkLocal)
      .config("spark.sql.warehouse.dir", dirs.warehouse)
      .config("spark.hadoop.hadoop.tmp.dir", dirs.work + "/hadoop")
      .config("spark.ui.enabled", "false")
      // Spark keeps a record of every job, stage and SQL execution for its
      // UI even with the UI off; without a cap that record grows with every
      // measured unit, so the live heap would depend on how many ran
      .config("spark.ui.retainedJobs", "40")
      .config("spark.ui.retainedStages", "40")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Order-independent multiset fingerprint of a frame's rows: row count plus
  * the sums of the low and high 32-bit halves of each row's xxhash64. The
  * halves keep the sums far from overflow under ANSI arithmetic. */
final case class Fingerprint(rows: Long, lo: Long, hi: Long) {
  override def toString: String = f"$rows:$lo%x:$hi%x"
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** Spans recorded around calls into the program's layers. Spans stay in
  * memory and are written as JSON when the run ends. When disabled, `span`
  * only runs its body. While a span is open, Spark jobs submitted from the
  * calling thread carry the span's layer as their job group, which is how
  * [[StageMetrics]] attributes stage metrics to layers. */
final class Tracer(val runId: String, spark: () => SparkSession) {
  @volatile var enabled = false
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, var endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), layer, name,
        System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      val sc = spark().sparkContext
      sc.setJobGroup(s"$runId/$layer", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"$runId/${p.layer}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def closed: Seq[Span] = spans.filter(_.endNs >= 0).toSeq

  def totalSeconds(layer: String): Double =
    closed.filter(_.layer == layer).map(s => (s.endNs - s.startNs) / 1e9).sum

  def json: String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      f"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},""" +
        f""""layer":"${Json.esc(s.layer)}","name":"${Json.esc(s.name)}",""" +
        f""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Stage metrics summed per job group. Installed by the benchmark on its
  * own session; job groups are set by [[Tracer]] spans. */
final class StageMetrics extends SparkListener {
  final class Acc {
    val cpuNs, gcMs, shuffleWrite, spill = new AtomicLong()
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val jobsStarted, jobsEnded = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    val m = e.stageInfo.taskMetrics
    if (g != null && m != null) {
      val a = byGroup.computeIfAbsent(g, _ => new Acc)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until the listener bus has delivered every job end it started. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobsStarted.get() && System.currentTimeMillis() < end)
      Thread.sleep(5)
    Thread.sleep(20)
  }

  private def sumOver(layer: String)(f: Acc => Long): Long =
    byGroup.asScala.collect { case (g, a) if g.endsWith("/" + layer) => f(a) }.sum

  def cpuSeconds(layer: String): Double = sumOver(layer)(_.cpuNs.get()) / 1e9
  def gcSeconds(layer: String): Double = sumOver(layer)(_.gcMs.get()) / 1e3
  def shuffleWriteMiB(layer: String): Double = sumOver(layer)(_.shuffleWrite.get()) / 1048576.0
  def spillMiB(layer: String): Double = sumOver(layer)(_.spill.get()) / 1048576.0
}

/** Heap in use after forced full collections: the live set, including
  * whatever caches the caller still holds.
  *
  * One collection is not enough. It makes Spark's dropped RDDs, shuffles
  * and broadcasts unreachable, but Spark's cleaner thread releases what
  * they hold only afterwards, so the collection after that frees tens of
  * MiB more. The heap is collected again, a pause apart, until a reading
  * frees less than `SettledMiB`.
  *
  * Each size is read from the collection's own record of the heap it left,
  * not from the heap's current use: under G1 that counts a whole 2 MiB
  * region for every thread that allocated since. */
object LiveHeap {
  private val SettledMiB = 0.5
  private val PauseMs = 250L
  private val MaxCollections = 8

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def afterLastGc(): Option[Long] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => Option(b.getLastGcInfo) }
      .flatten.maxByOption(_.getEndTime)
      .map(_.getMemoryUsageAfterGc.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum)

  private def collect(): Double = {
    System.gc()
    afterLastGc().getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }

  def mib(): Double = {
    var last = collect()
    var prev = Double.PositiveInfinity
    var n = 1
    while (prev - last >= SettledMiB && n < MaxCollections) {
      Thread.sleep(PauseMs)
      prev = last
      last = collect()
      n += 1
    }
    last
  }
}

/** Share of the machine's CPU time stolen by the hypervisor between two
  * readings of /proc/stat (0 where the file is absent). A diagnostic for
  * noisy neighbours, written to the result's info. */
object CpuSteal {
  def snap(): Array[Long] = scala.util.Try {
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
  }.getOrElse(Array.emptyLongArray)

  def share(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      d(7).toDouble / math.max(1L, d.take(8).sum)
    }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
