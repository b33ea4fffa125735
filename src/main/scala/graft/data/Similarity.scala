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

  /** Deterministic seeded k-means (Lloyd) over a BOUNDED training sample —
    * data-derived IVF centroids as an index-BUILD step, not a query step.
    *
    * The sample is the first `sampleN` vectors in hashed-id order
    * (reproducible, data-dependent, one bounded collect — the standard IVF
    * practice at corpus scale: centroids are trained on a sample, only the
    * ASSIGNMENT pass stays distributed). Lloyd then runs driver-side in a
    * fixed iteration order, so the centroids are bit-deterministic — the
    * previous distributed-mean formulation paid 2 full-corpus jobs per
    * iteration (16 jobs of fixed latency) for means whose float summation
    * order wasn't even reproducible. Init = first k sample vectors; empty
    * cells keep their previous centroid. Returns k×dim centroids. */
  def kmeansCentroids(
      base: DataFrame, dim: Int, k: Int = 16, iters: Int = 8,
      seed: Long = 42L, sampleN: Int = 65536): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = base
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(sampleN).collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "kmeansCentroids: empty base table")
    var centroids = sample.take(k).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      var s = 0
      while (s < sample.length) {
        val v = sample(s)
        val c = nearestCell(centroids, v)
        counts(c) += 1
        var i = 0
        while (i < dim && i < v.length) { sums(c)(i) += v(i); i += 1 }
        s += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else old
      }
      it += 1
    }
    centroids
  }

  /** Cosine of `emb` against centroid `cen` over their common prefix;
    * −2.0 (below every cosine) when either side is all-zero. */
  private def centroidCosine(cen: Array[Double], emb: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < cen.length && i < emb.length) {
      dot += emb(i) * cen(i); na += emb(i) * emb(i); nb += cen(i) * cen(i)
      i += 1
    }
    if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else -2.0
  }

  /** Nearest-centroid index by cosine; ties to the lowest cell index. */
  private def nearestCell(centroids: Array[Array[Double]], emb: Array[Double]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val sim = centroidCosine(centroids(c), emb)
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** A built IVF index: trained centroids + the cell-assigned base table.
    * `assigned` is pinned (localCheckpoint) so query batches join against a
    * materialized table instead of re-deriving the assignment; a deployment
    * writes it cell-partitioned (`partitionBy("cell")`) so a probe list
    * prunes partitions at the scan. */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Build the IVF index ONCE (train on a bounded sample, assign the corpus,
    * pin the result) — the offline half of IVF ANN. */
  def buildIvfIndex(
      base: DataFrame, dim: Int, cells: Int = 16, iters: Int = 8,
      seed: Long = 42L, sampleN: Int = 65536): IvfIndex = {
    val centroids = kmeansCentroids(base, dim, cells, iters, seed, sampleN)
    IvfIndex(centroids, assignCells(base, centroids).localCheckpoint())
  }

  /** Query half of IVF ANN: probe the `nProbe` best cells per query against
    * a pre-built index. No training, no assignment — just the probe join. */
  def ivfTopKIndexed(
      queries: DataFrame, index: IvfIndex,
      nProbe: Int = 4, k: Int = 10): DataFrame = {
    val probes = probeUdf(index.centroids, nProbe)
    val qCells = queries
      .select(col("query_id"), col("embedding").as("q_emb"),
        explode(probes(col("embedding"))).as("cell"))
    val scored = index.assigned.join(broadcast(qCells), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Nearest-centroid assignment as a deterministic UDF over a broadcast
    * centroid matrix (a k×dim literal expression tree would exceed codegen
    * limits; the argmax loop is the pragmatic seam). Cosine against each
    * centroid; ties to the lowest cell index. */
  private def assignUdf(centroids: Array[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    // Seq may deserialize as List — O(1) access needed
    udf((embSeq: Seq[Double]) => nearestCell(centroids, embSeq.toArray))

  /** Public assignment for diagnostics/partitioning: adds a `cell` column
    * from a learned centroid matrix. */
  def assignCells(base: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    base.withColumn("cell", assignUdf(centroids)(col("embedding")))

  /** Ranked probe list (all cells, best first) for a query vector. */
  private def probeUdf(centroids: Array[Array[Double]], nProbe: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((embSeq: Seq[Double]) => {
      val emb = embSeq.toArray
      val sims = centroids.indices.map(c => (centroidCosine(centroids(c), emb), c))
      sims.sortBy(s => (-s._1, s._2)).take(nProbe).map(_._2)
    })

  /** IVF top-k with DATA-DERIVED centroids (seeded k-means): the production
    * path, now as build-then-query over [[buildIvfIndex]]. A deployment
    * builds the index once and serves query batches via [[ivfTopKIndexed]];
    * this convenience wrapper does both for one-shot calls. On a
    * cell-partitioned table the probe list becomes partition pruning;
    * recall@10 ≥ 0.9 vs brute force is asserted in DataOpsSpec. */
  def ivfTopKKmeans(
      queries: DataFrame, base: DataFrame, dim: Int,
      cells: Int = 16, nProbe: Int = 4, k: Int = 10,
      iters: Int = 8, seed: Long = 42L): DataFrame =
    ivfTopKIndexed(queries, buildIvfIndex(base, dim, cells, iters, seed), nProbe, k)

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
