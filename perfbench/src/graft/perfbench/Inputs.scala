package graft.perfbench

import graft.kg.gen.TranscriptGen
import graft.kg.model.Turn
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame

/** One row of the streaming feed: the turn plus the feed step that carries
  * it and why it arrives then (on_time, delayed, after_close, heartbeat). */
final case class FeedRow(step: Int, conv_id: String, turn_idx: Int, text: String,
                         ts: Timestamp, kind: String)

/** The turn shape the stream feeder adds to its MemoryStream. */
final case class StreamTurn(conv_id: String, turn_idx: Int, text: String, ts: Timestamp)

/** Input generators. Every input derives from the workload seed alone. */
object Inputs {

  /** `TranscriptGen` conversations with seed-prefixed ids: the generator
    * derives all content from the conversation id, so the prefix is what
    * makes the seed vary the text. */
  def transcripts(seed: Long, nConvs: Int, turnsPerConv: Int): Vector[Turn] =
    (0 until nConvs).iterator
      .flatMap(i => TranscriptGen.conversation(f"s${seed}_conv_$i%06d", turnsPerConv))
      .toVector

  // --- stream_ingest -------------------------------------------------------

  val StepMs: Long = 5 * 60 * 1000L
  val GapMinutes = 10
  val WatermarkDelay = "5 minutes"
  val StreamTurnsPerConv = 12
  val TurnsPerStep = 4
  /** A conversation that got a turn after it closed; its follow-up turn
    * arrives this many steps after the conversation's first step. */
  val AfterCloseStep = 8
  val DelayedShare = 0.05
  private val T0 = 1700000000000L

  /** Text of a follow-up turn sent after its conversation closed. It
    * yields edges on its own, so its second, partial graph is visible. */
  val FollowUpText =
    "We hold that the impugned order cannot be sustained as it was passed in violation of the principles of natural justice. " +
      "As held in Maneka Gandhi v. Union of India, AIR 1978 SC 597, the procedure established by law must be just, fair and reasonable."

  /** The whole feed. Wave `w` opens `convsPerWave` conversations at step
    * `w`. Each conversation's turns (`TranscriptGen` makes 11 when asked
    * for 12) span three steps; event time is the step's time plus the turn
    * index in seconds. A fixed share of turns is delayed by one step (out
    * of order, within the watermark); one conversation of each
    * early-enough wave gets a follow-up turn after it closed. Two final
    * heartbeat steps move the watermark past every conversation. */
  def streamFeed(seed: Long, waves: Int, convsPerWave: Int): Vector[FeedRow] = {
    val rnd = new java.util.SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 29)
    val rows = Vector.newBuilder[FeedRow]
    val lastDataStep = waves - 1 + (StreamTurnsPerConv - 1) / TurnsPerStep
    for (w <- 0 until waves) {
      val followUp = if (w + AfterCloseStep <= lastDataStep) rnd.nextInt(convsPerWave) else -1
      for (c <- 0 until convsPerWave) {
        val convId = f"t${seed}_w$w%02d_c$c%03d"
        for (t <- TranscriptGen.conversation(convId, StreamTurnsPerConv)) {
          val step = w + t.turn_idx / TurnsPerStep
          val ts = new Timestamp(T0 + step * StepMs + t.turn_idx * 1000L)
          val delayed = rnd.nextDouble() < DelayedShare
          rows += FeedRow(if (delayed) step + 1 else step, convId, t.turn_idx, t.text, ts,
            if (delayed) "delayed" else "on_time")
        }
        if (c == followUp) {
          val step = w + AfterCloseStep
          rows += FeedRow(step, convId, StreamTurnsPerConv, FollowUpText,
            new Timestamp(T0 + step * StepMs + 30000L), "after_close")
        }
      }
    }
    val hb = lastDataStep + 2
    rows += FeedRow(hb, "~heartbeat", 0, "heartbeat", new Timestamp(T0 + 86400000L), "heartbeat")
    rows += FeedRow(hb + 1, "~heartbeat", 1, "heartbeat", new Timestamp(T0 + 2 * 86400000L), "heartbeat")
    // arrival order inside a step is shuffled (seeded)
    rows.result().groupBy(_.step).toVector.sortBy(_._1).flatMap { case (_, rs) =>
      val a = rs.toArray
      var i = a.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x; i -= 1 }
      a.toVector
    }
  }
}

/** Generated inputs kept under the build directory, keyed on (workload,
  * seed, size) and reused only after the stored copy's row count and
  * content fingerprint match what the generator produces now. */
object InputCache {
  private def manifest(dir: String) = Paths.get(dir, "_PERFBENCH_MANIFEST")

  /** Return the cached copy of `key`, replacing it with `fresh` (a path
    * holding a just-written, validated copy) when the cache is missing or
    * does not validate. Returns (path, reused). */
  def resolve(dirs: Dirs, key: String, expected: Fingerprint,
              fresh: String, read: String => DataFrame): (String, Boolean) = {
    val dir = Paths.get(dirs.inputs, key)
    val m = manifest(dir.toString)
    if (Files.exists(m) && new String(Files.readAllBytes(m), UTF_8).trim == expected.toString &&
        Fingerprint.of(read(dir.toString)) == expected)
      return (dir.toString, true)
    Files2.deleteTree(dir)
    Files.createDirectories(dir.getParent)
    Files.move(Paths.get(fresh), dir, StandardCopyOption.ATOMIC_MOVE)
    Files.write(m, (expected.toString + "\n").getBytes(UTF_8))
    (dir.toString, false)
  }
}
