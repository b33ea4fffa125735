package graft

import graft.kg.gen.TranscriptGen
import graft.kg.streaming.TranscriptStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stream-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming extraction emits a conversation's triples after its session gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int, String, Timestamp)]
    val df = input.toDF().toDF("conv_id", "turn_idx", "text", "ts")

    val out = TranscriptStream.triples(spark, df,
      gapMinutes = 10, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("triples_out")
      .outputMode("append").start()

    val base = 1700000000000L
    val conv = TranscriptGen.conversation("conv_000000", 12)
    // batch 1: all turns of the conversation, 1 minute apart; the watermark
    // during this batch is still 0 → nothing can time out
    input.addData(conv.map(t =>
      ("conv_000000", t.turn_idx, t.text, new Timestamp(base + t.turn_idx * 60000L))))
    q.processAllAvailable()
    assert(spark.table("triples_out").count() == 0) // gap not yet passed

    // heartbeats from ANOTHER conversation advance the watermark; the first
    // raises it past conv_000000's (last turn + gap), the second processes
    // under that advanced watermark and fires the timeout
    input.addData(Seq(("conv_zzz", 0, "later heartbeat", new Timestamp(base + 3600_000L))))
    q.processAllAvailable()
    input.addData(Seq(("conv_zzz", 1, "another heartbeat", new Timestamp(base + 2 * 3600_000L))))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("triples_out").as[graft.kg.model.Triple].collect()
    assert(emitted.nonEmpty, "expected triples after session close")
    assert(emitted.forall(_.convId == "conv_000000"))

    // the streaming result equals the batch result for the same conversation
    val batch = graft.kg.extract.DocExtractor
      .extract("conv_000000", conv.map(t => (t.turn_idx, t.text)))
      .edges.map(e => (e.source, e.relation, e.target)).toSet
    assert(emitted.map(t => (t.subj, t.pred, t.obj)).toSet == batch)
  }

  test("streamed triples equal batch triples when turns arrive out of order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int, String, Timestamp)]
    val df = input.toDF().toDF("conv_id", "turn_idx", "text", "ts")
    // turns run 1 minute apart, so a conversation spans 11 minutes of event
    // time: the 1-hour delay keeps every reordered turn above the watermark
    // (a turn below it would be dropped, not reordered)
    val out = TranscriptStream.triples(spark, df,
      gapMinutes = 10, watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("triples_shuffled")
      .outputMode("append").start()

    val base = 1700000000000L
    val convs = Seq("conv_000003", "conv_000004", "conv_000005")
      .map(id => id -> TranscriptGen.conversation(id, 12))
    val turns = new scala.util.Random(7).shuffle(convs.flatMap { case (id, ts) =>
      ts.map(t => (id, t.turn_idx, t.text, new Timestamp(base + t.turn_idx * 60000L)))
    })
    val arrival = turns.groupBy(_._1).values.map(_.map(_._2))
    assert(arrival.forall(idx => idx != idx.sorted), "every conversation arrives out of order")
    for (batch <- turns.grouped(12)) {
      input.addData(batch)
      q.processAllAvailable()
    }
    assert(spark.table("triples_shuffled").count() == 0) // no gap has passed
    // heartbeats from another conversation: the first moves the watermark
    // past every conversation's last turn + gap, the second fires the timeouts
    for (h <- 1 to 2) {
      input.addData(Seq(("conv_zzz", h, "heartbeat", new Timestamp(base + (2 + h) * 3600_000L))))
      q.processAllAvailable()
    }
    q.stop()

    val emitted = spark.table("triples_shuffled").as[graft.kg.model.Triple].collect()
      .groupBy(_.convId).map { case (c, ts) => c -> ts.map(t => (t.subj, t.pred, t.obj)).sorted.toSeq }
    val batch = convs.map { case (id, ts) =>
      id -> graft.kg.extract.DocExtractor.extract(id, ts.map(t => (t.turn_idx, t.text)))
        .edges.map(e => (e.source, e.relation, e.target)).sorted
    }.toMap
    assert(batch.values.forall(_.nonEmpty))
    assert(emitted == batch)
  }

  test("streaming exact dedup keeps first arrival per content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ts")
    val out = TranscriptStream.dedupStream(df, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val base = 1700000000000L
    input.addData(Seq(
      (1L, "alpha beta", new Timestamp(base)),
      (2L, "gamma delta", new Timestamp(base + 1000)),
      (3L, "alpha beta", new Timestamp(base + 2000)))) // dup of doc 1
    q.processAllAvailable()
    input.addData(Seq(
      (4L, "alpha beta", new Timestamp(base + 3000)), // still within watermark
      (5L, "epsilon", new Timestamp(base + 4000))))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_out").select("doc_id").as[Long].collect().sorted
    // exactly one survivor per distinct text; duplicates 3 and 4 suppressed
    assert(rows.toSeq == Seq(1L, 2L, 5L), rows.mkString(","))
  }

  test("watermarked event rollup aggregates windows in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val out = TranscriptStream.eventRollup(df, "1 hour", "1 hour", "0 seconds")
    val q = out.writeStream.format("memory").queryName("rollup_out")
      .outputMode("append").start()
    val base = 1700000000000L
    input.addData(Seq(
      (new Timestamp(base), "click", 1.0),
      (new Timestamp(base + 60000), "click", 2.0),
      (new Timestamp(base + 120000), "error", 5.0)))
    q.processAllAvailable()
    // append mode applies the watermark computed at the END of the previous
    // batch, so two further batches are needed: one to advance the watermark
    // past the window end, one to emit under the advanced watermark
    input.addData(Seq((new Timestamp(base + 2 * 3600_000L), "click", 1.0)))
    q.processAllAvailable()
    input.addData(Seq((new Timestamp(base + 3 * 3600_000L), "click", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rollup_out").collect()
    assert(rows.exists(r => r.getAs[String]("event_type") == "click" && r.getAs[Long]("n") == 2))
    assert(rows.exists(r => r.getAs[String]("event_type") == "error"))
  }
}
