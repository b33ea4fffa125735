package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - brute-force cosine top-k: exact baseline, native higher-order functions
  *    (zip_with dot product inside whole-stage codegen), window top-k.
  *  - IVF-style partitioned ANN: vectors assigned to the nearest of C
  *    deterministic anchor centroids; a query probes only `nProbe` cells —
  *    the scale path (scan cost drops ×C/nProbe; cells are the partition
  *    key, so a cell list prunes at the scan on a cell-partitioned table).
  *  - random-hyperplane LSH bucketing for cosine near-dup pairs.
  */
object Similarity {

  /** zip_with dot product of two array<float/double> columns (double out). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The anchor's L2 norm as a LITERAL, replicating the `norm` expression's
    * exact IEEE evaluation order (left fold of (((0+x₀²)+x₁²)+…), then
    * sqrt) so the value is bit-identical to evaluating `norm(anchorCol(c))`
    * per row — the per-row aggregate over a constant 64-literal array was
    * pure overhead (16 cells × every row). */
  private def anchorNorm(c: Int, dim: Int): Double = {
    val a = anchorArray(c, dim)
    var s = 0.0
    var i = 0
    while (i < dim) { s += a(i) * a(i); i += 1 }
    math.sqrt(s)
  }

  /** cosine(emb, anchor c) with the anchor norm folded to a literal and the
    * embedding norm supplied by the caller (bound once per row, not once
    * per cell). Arithmetic is identical to `cosine(emb, anchorCol(c))`:
    * dot / (normEmb * normAnchor) with the same operand order. */
  private def cosineToAnchor(emb: Column, normEmb: Column, c: Int, dim: Int): Column =
    dot(emb, anchorCol(c, dim)) / (normEmb * lit(anchorNorm(c, dim)))

  /** Exact top-k neighbors for each query vector (brute force).
    * queries: (query_id, embedding); base: (vec_id, embedding).
    * Returns (query_id, vec_id, cosine, rank). The base side is scanned once
    * per query via a broadcast of the (small) query set. */
  def bruteForceTopK(
      queries: DataFrame, base: DataFrame, k: Int = 10): DataFrame = {
    // norms ride as columns computed once per input row; the per-pair
    // cosine is then dot / (_qn * _vn) — the same operand order as
    // cosine(q_emb, v_emb), so values are bit-identical, at 1/3 of the
    // per-pair aggregate evaluations
    val q = broadcast(queries.select(col("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("_qn")))
    val scored = base.select(col("vec_id"), col("embedding").as("v_emb"),
        norm(col("embedding")).as("_vn"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_emb"), col("v_emb")) / (col("_qn") * col("_vn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random unit-ish anchor for cell `c` in `dim`
    * dimensions (hash-derived; no RNG state). */
  private def anchorArray(c: Int, dim: Int): Array[Double] = {
    val a = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      var h = 0xcbf29ce484222325L ^ (c * 1315423911L + i)
      h *= 0x100000001b3L; h ^= (h >>> 29)
      a(i) = ((h & 0xFFFF).toDouble / 0xFFFF.toDouble) * 2.0 - 1.0
      i += 1
    }
    a
  }

  private def anchorCol(c: Int, dim: Int): Column =
    array(anchorArray(c, dim).map(lit(_)): _*)

  /** Assign each vector to its nearest anchor cell: (vec_id, cell).
    * The embedding norm is STAGED as a column (computed once per row, read
    * as an attribute by all 16 cells — a multi-use non-cheap alias, which
    * CollapseProject keeps staged) and anchor norms are literals — 16
    * aggregate evaluations per row instead of 48, with the scalar argmax
    * tree still codegen-friendly. */
  def ivfAssign(base: DataFrame, cells: Int, dim: Int): DataFrame = {
    val sims = (0 until cells).map(c =>
      struct(round(cosineToAnchor(col("embedding"), col("_n_"), c, dim), 9).as("s"), lit(c).as("c")))
    base.withColumn("_n_", norm(col("embedding")))
      .withColumn("cell", greatest(sims: _*).getField("c"))
      .drop("_n_")
  }

  /** IVF top-k: probe the `nProbe` best cells per query only. Exactness is
    * traded for a ×(cells/nProbe) scan reduction; on a cell-partitioned
    * table the probe list becomes partition pruning. */
  def ivfTopK(
      queries: DataFrame, base: DataFrame, dim: Int,
      cells: Int = 16, nProbe: Int = 4, k: Int = 10): DataFrame = {
    val baseCells = ivfAssign(base, cells, dim)
    val qCells = queries
      .select(col("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("_qn"))
      .withColumn("cs", array((0 until cells).map(c =>
        struct(round(cosineToAnchor(col("q_emb"), col("_qn"), c, dim), 9).as("s"),
          lit(c).as("c"))): _*))
      .withColumn("probe", slice(array_sort(col("cs"),
        (l, r) => when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1).otherwise(0)), 1, nProbe))
      .select(col("query_id"), col("q_emb"), col("_qn"), explode(col("probe")).as("p"))
      .select(col("query_id"), col("q_emb"), col("_qn"), col("p.c").as("cell"))
    // per-pair cosine as dot / (_qn * _vn): same operand order as
    // cosine(q_emb, embedding) — bit-identical, norms computed per row
    // instead of per pair
    val scored = baseCells.withColumn("_vn", norm(col("embedding")))
      .join(broadcast(qCells), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_emb"), col("embedding")) / (col("_qn") * col("_vn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Random-hyperplane LSH bucket (H-bit signature) for cosine near-dup
    * candidate generation. */
  def hyperplaneBucket(emb: Column, dim: Int, bits: Int = 16): Column = {
    val bitCols = (0 until bits).map(h =>
      when(dot(emb, anchorCol(h + 7919, dim)) >= 0, lit(1L << h)).otherwise(lit(0L)))
    bitCols.reduce(_.bitwiseOR(_))
  }

  /** Embedding near-dup DEDUP: connected components over verified cosine
    * near-dup pairs → (vec_id, canonical_id), canonical = min id. */
  def embeddingDedup(
      spark: SparkSession, base: DataFrame, dim: Int,
      threshold: Double = 0.95, bits: Int = 12): DataFrame = {
    val pairs = cosineNearDupPairs(base, dim, threshold, bits)
    Dedup.numericCanonical(spark, base.select(col("vec_id").as("id")), pairs)
      .withColumnRenamed("id", "vec_id")
  }

  /** Cosine near-dup pairs: candidates share an LSH bucket, verified with
    * exact cosine ≥ threshold. */
  def cosineNearDupPairs(
      base: DataFrame, dim: Int, threshold: Double = 0.95,
      bits: Int = 12, maxBucketSize: Int = 256): DataFrame = {
    val b = base.withColumn("bucket", hyperplaneBucket(col("embedding"), dim, bits))
    val ranked = b.withColumn("rn", row_number().over(
      Window.partitionBy(col("bucket")).orderBy(col("vec_id"))))
      .filter(col("rn") <= maxBucketSize)
    // norms computed once per bucket member, not once per candidate pair;
    // dot / (_na * _nb) keeps the exact operand order of cosine(ea, eb)
    val l = ranked.select(col("bucket"), col("vec_id").as("a"), col("embedding").as("ea"),
      norm(col("embedding")).as("_na"))
    val r = ranked.select(col("bucket"), col("vec_id").as("b"), col("embedding").as("eb"),
      norm(col("embedding")).as("_nb"))
    l.join(r, "bucket").filter(col("a") < col("b"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("_na") * col("_nb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
      .distinct()
  }
}
