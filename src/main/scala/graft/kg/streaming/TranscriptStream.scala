package graft.kg.streaming

import graft.kg.extract.DocExtractor
import graft.kg.model.Triple
import graft.kg.ontology.{Jurisdiction, Ontology}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming ingestion: incremental KG construction over a live
  * transcript stream.
  *
  * The batch reference is checkpoint-resumable batch, not streaming
  * (SURVEY.md §2.10); this module is the engine's streaming-native extension:
  * turns arrive continuously, a conversation is extracted exactly once — when
  * its turn stream goes quiet for `gapMinutes` of EVENT time (watermark-driven
  * state timeout), its buffered turns run through the same pure
  * per-conversation extractor, emitting triples downstream. State per key is
  * the turn buffer only; the watermark bounds both state size and lateness.
  */
// Top-level + public: Spark's generated (de)serializers must instantiate
// these (a private/nested class fails in Janino codegen at runtime).
final case class BufferedTurn(turn_idx: Int, text: String)
final case class ConvState(turns: Seq[BufferedTurn], maxEventMs: Long)
final case class InTurn(conv_id: String, turn_idx: Int, text: String,
                        ts: java.sql.Timestamp)

object TranscriptStream {

  /** turns stream (conv_id, turn_idx, role, text, tool, ts) → triple stream.
    * Conversations complete when no turn arrives within `gapMinutes` event
    * time past the watermark. */
  def triples(
      spark: SparkSession,
      turnsStream: DataFrame,
      jurisdiction: String = "in",
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[Triple] = {
    import spark.implicits._
    Jurisdiction.parse(jurisdiction) // a bad spelling throws before the query starts
    val gapMs = gapMinutes * 60L * 1000L

    turnsStream
      .withWatermark("ts", watermarkDelay)
      .select(col("conv_id"), col("turn_idx").cast("int"), col("text"), col("ts"))
      .as[InTurn]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, Triple](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (convId, rows, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            // conversation idle past the gap: extract once, clear state
            val turns = state.getOption.map(_.turns).getOrElse(Seq.empty)
            state.remove()
            if (turns.isEmpty) Iterator.empty
            else {
              // the closure carries the jurisdiction: each executor JVM
              // builds the ontology's automata once, not once per task
              val g = DocExtractor.extract(convId, turns.map(t => (t.turn_idx, t.text)),
                Ontology.forJurisdiction(jurisdiction), jurisdiction)
              g.edges.iterator.map(e => Triple(convId, e.source, e.relation, e.target))
            }
          } else {
            val batch = rows.toSeq
            val incoming = batch.map(r => BufferedTurn(r.turn_idx, r.text))
            val prev = state.getOption
            val merged = prev.map(_.turns).getOrElse(Seq.empty) ++ incoming
            val maxMs = math.max(prev.map(_.maxEventMs).getOrElse(0L),
              batch.map(_.ts.getTime).max)
            state.update(ConvState(merged, maxMs))
            // complete when the watermark passes the LAST TURN's event time +
            // gap (anchoring to the watermark instead would make completion
            // depend on micro-batch scheduling)
            state.setTimeoutTimestamp(maxMs + gapMs)
            Iterator.empty
          }
      }
  }

  /** Streaming exact dedup: emit only the FIRST document per content hash,
    * with state bounded by the watermark (dropDuplicatesWithinWatermark —
    * duplicates arriving within the lateness window are suppressed; state
    * for old hashes is evicted, so a 100-TB/day stream does not accumulate
    * unbounded hash state). The streaming face of q03's exact dedup. */
  def dedupStream(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("text_hash", org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.col(textCol), 256))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("text_hash"))
      .select(idCol, textCol, tsCol, "text_hash")

  /** Watermarked sliding-window event rollup (the events-table analog of the
    * batch q11): counts + sums per (window, event_type); the caller picks
    * the output mode. */
  def eventRollup(
      events: DataFrame,
      window_ : String = "1 hour",
      slide: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
}
