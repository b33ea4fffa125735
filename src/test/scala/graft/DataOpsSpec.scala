package graft

import graft.data.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DataOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-data-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  import spark.implicits._

  test("shingles produce sliding n-grams") {
    val out = Seq(Tuple1("a b c d")).toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(out.toSet == Set("a b c", "b c d"))
  }

  test("minhash dedup: near-identical docs merge, distinct docs don't") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep dark forest tonight"
    val near = base.replace("lazy", "sleepy") // 1-token change
    val far = "completely different content about spark query engines and distributed joins at large scale"
    val df = Seq((1L, base), (2L, near), (3L, far), (4L, base)).toDF("doc_id", "text")
    val m = Dedup.minhashDedupVerified(spark, df, "doc_id", "text", k = 64, bands = 16, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L), m.toString) // near-dup merged
    assert(m(1L) == m(4L), m.toString) // exact dup merged
    assert(m(3L) == 3L, m.toString)    // distinct doc stands alone
  }

  test("minhash signature equals an independent explode+groupBy recompute") {
    // pins the signature form (one string hash per shingle, k
    // fixed-width remixes, codegen min-aggregates) against a structurally
    // different Spark plan computing the same definition:
    //   sig_i = min over shingles s of xxhash64(xxhash64(s), i)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark joins at scale"),
      (3L, "short one")).toDF("doc_id", "text")
    val got = Dedup.minhashSignatures(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val expected = df
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .groupBy(col("doc_id"))
      .agg(min(xxhash64(col("h"), lit(0))).as("s0"), min(xxhash64(col("h"), lit(1))).as("s1"),
        min(xxhash64(col("h"), lit(2))).as("s2"), min(xxhash64(col("h"), lit(3))).as("s3"),
        min(xxhash64(col("h"), lit(4))).as("s4"), min(xxhash64(col("h"), lit(5))).as("s5"),
        min(xxhash64(col("h"), lit(6))).as("s6"), min(xxhash64(col("h"), lit(7))).as("s7"))
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(got.keySet == expected.keySet)
    for ((id, sig) <- got) assert(sig == expected(id), s"doc $id")
  }

  test("exact jaccard on candidate pairs") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val j = Dedup.exactJaccardHashed(pairs, df, "doc_id", "text").collect().head
      .getAs[Double]("jaccard")
    // shingles: {a b c, b c d, c d e} vs {a b c, b c d, c d x} → 2/4
    assert(math.abs(j - 0.5) < 1e-9)
  }

  test("simhash: identical text equal, small edit close, different far") {
    val a = Dedup.simhash64("the quick brown fox jumps over the lazy dog".split(" ").toSeq)
    val a2 = Dedup.simhash64("the quick brown fox jumps over the lazy dog".split(" ").toSeq)
    val b = Dedup.simhash64("the quick brown fox jumps over the sleepy dog".split(" ").toSeq)
    val c = Dedup.simhash64("totally unrelated words here now".split(" ").toSeq)
    assert(a == a2)
    assert(java.lang.Long.bitCount(a ^ b) < java.lang.Long.bitCount(a ^ c))
  }

  test("simhash pairs find planted near-duplicates in documents table") {
    val planted = docs.limit(50)
      .union(docs.limit(5).withColumn("doc_id", col("doc_id") + 10000))
    val pairs = Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.length >= 5)
  }

  test("brute-force cosine top-k is exact and ranked") {
    val queries = embs.limit(3).select(col("vec_id").as("query_id"), col("embedding"))
    val out = Similarity.bruteForceTopK(queries, embs, k = 5)
    val rows = out.collect()
    assert(rows.length == 15)
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    for ((_, rs) <- byQ) {
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Double]("cosine")).sliding(2).forall {
        case Array(x, y) => x >= y - 1e-9
        case _ => true
      })
    }
  }

  test("IVF top-k recall vs brute force is reasonable") {
    val queries = embs.limit(5).select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, embs, k = 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, embs, dim = 64, cells = 8, nProbe = 4, k = 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("cosine near-dup pairs finds planted duplicates") {
    val dup = embs.limit(10).withColumn("vec_id", col("vec_id") + 100000)
    val base = embs.limit(200).union(dup)
    val pairs = Similarity.cosineNearDupPairs(base, dim = 64, threshold = 0.999, bits = 8)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 10).forall(i => found.contains((i.toLong, i + 100000L))), found.toString)
  }

  test("embedding dedup maps planted duplicates to canonical min id") {
    val dup = embs.limit(10).withColumn("vec_id", col("vec_id") + 100000)
    val base = embs.limit(200).union(dup)
    val m = Similarity.embeddingDedup(spark, base, dim = 64, threshold = 0.999, bits = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (i <- 0 until 10) assert(m(i + 100000L) == i.toLong, s"dup $i")
    assert(m(150L) == 150L) // non-dup keeps itself
  }

  test("langId classifies per-language fixture sentences") {
    // the testdata documents' lang labels are uncorrelated with their text
    // (English word salad for every label), so accuracy is tested on real
    // per-language sentences instead
    val fix = Seq(
      ("en", "the cat is on the mat and that is fine for now"),
      ("fr", "le chat est sur la table et que les choses sont bonnes"),
      ("es", "el gato esta en la mesa y que los libros son buenos"),
      ("de", "der hund ist nicht mit der katze und das ist gut"),
      ("zh", "\u8fd9\u662f\u4e00\u4e2a\u4e2d\u6587\u53e5\u5b50")).toDF("lang", "text")
    val out = fix.withColumn("pred", TextAnalysis.langId(col("text"))).collect()
    for (r <- out) assert(r.getAs[String]("pred") == r.getAs[String]("lang"),
      s"${r.getAs[String]("lang")} predicted as ${r.getAs[String]("pred")}")
    // and on the (English-word-salad) docs table it overwhelmingly says en
    val en = docs.withColumn("pred", TextAnalysis.langId(col("text")))
      .filter(col("pred") === "en").count().toDouble / docs.count()
    // docs lacking every profile word tie at score 0 (→ alphabetic-max pick),
    // so the bar reflects the share containing at least "the"
    assert(en > 0.7, s"en ratio $en")
  }

  test("quality score is in [0,1] and penalizes junk") {
    val df = Seq(
      ("good", "This is a well formed paragraph of reasonable length with normal words and structure."),
      ("junk", "!!!! ???? ;;;; @@@@ #### $$$$ %%%%")).toDF("k", "text")
    val m = df.select(col("k"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(m("good") > m("junk"))
  }

  test("winnowing fingerprints overlap under local edits") {
    val a = "the quick brown fox jumps over the lazy dog while the band plays on and the crowd cheers loudly"
    val b = a.replace("crowd", "throng")
    val fa = TextAnalysis.winnow(a).toSet
    val fb = TextAnalysis.winnow(b).toSet
    val overlap = (fa & fb).size.toDouble / math.max(fa.size, fb.size)
    assert(overlap > 0.5, s"overlap $overlap")
    assert(TextAnalysis.winnow(a).toSeq == TextAnalysis.winnow(a).toSeq)
  }

  test("multimodal: stubbed decode is deterministic, batch-shaped, typed") {
    val media = Multimodal.syntheticMedia(spark, 60)
    val feats = Multimodal.decodeFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 60)
    assert(rows.forall(_.feature.length == 16))
    assert(rows.filter(_.kind == "image").forall(r => r.n_frames == 1 && r.duration_ms == 0))
    assert(rows.filter(_.kind == "audio").forall(r => r.width == 0))
    // determinism across partitionings
    val again = Multimodal.decodeFeatures(media.repartition(7)).collect()
      .sortBy(_.media_id).map(_.feature.toSeq)
    assert(rows.sortBy(_.media_id).map(_.feature.toSeq).toSeq == again.toSeq)
    val stats = Multimodal.kindStats(feats)
    assert(stats.count() == 3)
  }

  test("multimodal: ImageIO decodes planted images exactly, across formats") {
    // exact-feature oracle computed straight from the generating formula
    def expected(id: Long): (Int, Int, Array[Double]) = {
      val w = (8 + id * 3 % 17).toInt
      val h = (8 + id * 5 % 13).toInt
      val sums = new Array[Long](16)
      val counts = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w) {
        val d = (y * 4 / h) * 4 + x * 4 / w
        sums(d) += 3 * ((id * 31 + x * 7 + y * 13) % 256)
        counts(d) += 1
      }
      (w, h, Array.tabulate(16)(d => sums(d) / (counts(d) * 765.0)))
    }
    // several sizes (dims cycle with id) × the lossless JDK formats
    for (id <- Seq(0L, 1L, 7L, 16L, 123L, 4999L); fmt <- Seq("png", "bmp", "gif")) {
      val Some((w, h, grid)) = Multimodal.imageGrid(Multimodal.plantedImage(id, fmt))
      val (ew, eh, eg) = expected(id)
      assert(w == ew && h == eh, s"dims for id=$id fmt=$fmt: ${(w, h)} vs ${(ew, eh)}")
      assert(grid.toSeq == eg.toSeq, s"grid for id=$id fmt=$fmt")
    }
    // undecodable bytes → None from the real path
    assert(Multimodal.imageGrid(Array[Byte](1, 2, 3, 4, 5)).isEmpty)
    // ...and decodeFeatures falls back to the stub for them (schema intact)
  }

  test("multimodal: decodeFeatures routes real images through ImageIO") {
    import spark.implicits._
    val rows = (0L until 20L).map(i =>
      Multimodal.MediaRow(i, "image", Multimodal.plantedImage(i), "planted/pngs",
        Multimodal.plantedImage(i).length))
    val feats = Multimodal.decodeFeatures(spark.createDataset(rows))
      .collect().sortBy(_.media_id)
    for (f <- feats) {
      assert(f.width == (8 + f.media_id * 3 % 17).toInt, f.toString)
      assert(f.height == (8 + f.media_id * 5 % 13).toInt, f.toString)
      assert(f.n_frames == 1 && f.duration_ms == 0L)
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
    }
  }
}
