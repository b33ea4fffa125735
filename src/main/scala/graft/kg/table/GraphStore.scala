package graft.kg.table

import graft.kg.pipeline.KgPipeline
import graft.kg.query.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Read-side facade over a materialized KG table root — the API surface a
  * reference user lands on after switching (their per-graph methods,
  * schema_v2_1.py:778-910, become point lookups here).
  *
  * Every per-conversation read filters on BOTH `bucket` (the partition
  * column, derived from conv_id) and `convId`, so the scan prunes to one
  * partition directory — O(1) in the number of buckets regardless of corpus
  * size. The bucket count is the one the root recorded when it was
  * created. */
final class GraphStore(spark: SparkSession, root: String) {

  private val nBuckets: Int = new SnapshotStore(root).bucketCount.getOrElse(
    throw new IllegalArgumentException(
      s"$root records no bucket count: not a materialized table root"))

  private def table(name: String): DataFrame = Materializer.read(spark, root, name)

  private def forConv(name: String, convId: String): DataFrame =
    table(name)
      .filter(col("bucket") === Materializer.bucketOf(lit(convId), nBuckets) &&
        col("convId") === convId)

  def nodes(convId: String): DataFrame = forConv("nodes", convId)
  def edges(convId: String): DataFrame = forConv("edges", convId)
  def triples(convId: String): DataFrame = forConv("triples", convId)
  def chains(convId: String): DataFrame = forConv("chains", convId)
  def justificationSets(convId: String): DataFrame = forConv("justification_sets", convId)
  def summary(convId: String): DataFrame = forConv("summaries", convId)

  /** get_holding_support for one conversation (schema_v2_1.py:807-836). */
  def holdingSupport(convId: String): DataFrame =
    GraphOps.holdingSupport(nodes(convId), edges(convId), justificationSets(convId))

  /** counterfactual_remove_node for one conversation (extractor.py:4372-4460). */
  def counterfactual(convId: String, removedNodeId: String): DataFrame =
    GraphOps.counterfactual(nodes(convId), edges(convId),
      justificationSets(convId), removedNodeId)

  /** Corpus-wide tier histogram (checkpoint stats analog). */
  def tierHistogram(): DataFrame = KgPipeline.tierHistogram(table("summaries"))
}
