package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Contract checks on the driver-facing SparkEntry surface. */
class SparkEntrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-sparkentry-test")
    .config("spark.sql.shuffle.partitions", "5")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("every oracleSql entry has exactly one oracleGrade line and vice versa") {
    assert(SparkEntry.oracleGrade.keySet == SparkEntry.oracleSql.keySet,
      "grade/oracle key sets differ: " +
        ((SparkEntry.oracleGrade.keySet diff SparkEntry.oracleSql.keySet) ++
          (SparkEntry.oracleSql.keySet diff SparkEntry.oracleGrade.keySet)))
    val grades = SparkEntry.oracleGrade.values.toSet
    assert(grades == Set("closed-form SQL mirror", "published-script replay pin"))
    // the replay-pin set is exactly the three queries whose constants come
    // from offline runs of the published scripts (round-6 VERDICT)
    assert(SparkEntry.oracleGrade.collect {
      case (k, "published-script replay pin") => k
    }.toSet == Set("q79_blinding", "q80_confidence_sweep", "q83_bootstrap_ci"))
  }

  test("every oracle key is a registered query") {
    assert((SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet).isEmpty)
  }

  test("q92/q93 streams leave the session's shuffle-partition count as they found it") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    for (q <- Seq("q92_stream_rollup", "q93_stream_dedup")) {
      assert(SparkEntry.queries(q)(spark, sfDir).count() > 0, q)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before, q)
    }
  }
}
