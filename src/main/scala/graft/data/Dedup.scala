package graft.data

import graft.data.TextAnalysis.bound
import graft.kg.canonical.ConnectedComponents
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over a documents table
  * (id column + text column). Three families (exact dedup is q03's own
  * content-hash groupBy):
  *
  *  - minhash LSH: shingle → k-permutation minhash signature → banded LSH
  *    buckets → candidate pairs → exact n-gram Jaccard verify → connected
  *    components → canonical mapping. The signature is computed WITHOUT UDFs:
  *    explode(hashed shingles) then k `min(xxhash64(h, i))` aggregates —
  *    whole-stage-codegen'd map-side-combining aggregation, shuffling only
  *    (doc, k longs).
  *  - n-gram Jaccard: exact verify on candidate pairs via array_intersect /
  *    array_union over hashed shingle sets.
  *  - simhash: 64-bit sign-vote fingerprint; near-dups = equal simhash
  *    (or banded 16-bit quarters for hamming≤k candidates).
  *
  * All canonical choices are min-id deterministic. Pairs are generated only
  * within LSH buckets — never a cross join — so the approach survives
  * corpus-scale inputs; hot buckets (boilerplate shingles) are capped.
  */
object Dedup {

  /** Word n-gram shingles as an array column (lowercased tokens). */
  def shingles(textCol: Column, n: Int = 3): Column =
    bound(split(lower(textCol), "\\W+")) { toks =>
      // sliding windows via transform over index range; `toks` is a bound
      // lambda variable, so the split runs once per row, not once per window
      val idxs = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      when(size(toks) >= n,
        array_distinct(transform(idxs, i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
        .otherwise(array(concat_ws(" ", toks)))
    }

  /** doc → (id, sig array<long> of length k) minhash signature.
    * Each distinct shingle is hashed ONCE to a 64-bit key; the k permutation
    * hashes are k fixed-width `xxhash64(key, i)` remixes of that key. This
    * is a different (equally uniform) hash family than hashing the string k
    * times: band-level candidate recall obeys the same (1 − J^r)^bands
    * bound, and [[minhashDedupVerified]] verifies candidates exactly
    * downstream. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, shingleN: Int = 3): DataFrame = {
    // explode the LONG keys (one string hash per distinct shingle) and take
    // the k minima as codegen'd min-aggregates of fixed-width remixes —
    // map-side combine ships (id, k longs) only, and the per-element inner
    // loop runs in generated code, not interpreted lambda evaluation (the
    // pure in-row transform/array_min form computed identical values ~4×
    // slower).
    val exploded = df.select(col(idCol).as("id"),
      explode(transform(shingles(col(textCol), shingleN), s => xxhash64(s))).as("h"))
    val aggs = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"sig_$i"))
    exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"sig_$i")): _*).as("sig"))
  }

  /** Candidate near-dup pairs via banded LSH over the signature, verified by
    * signature agreement ≥ `threshold` (the standard unbiased Jaccard
    * estimator). Input: (id, sig) from [[minhashSignatures]]. Returns
    * (a, b, est_jaccard) with a < b. */
  def minhashPairs(
      signatures: DataFrame, idCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      maxBucketSize: Int = 64): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // the signature table is consumed three times below (bucketing + the two
    // per-pair attach joins) — lazily checkpoint so the signature aggregation
    // runs once, not once per plan reference
    val sigs = signatures.localCheckpoint(false)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * r until (b + 1) * r).map(i => element_at(col("sig"), i + 1)): _*).as("bh"))
    }
    // Bucketing, capping and pairing ride LIGHTWEIGHT (band, bh, id) rows
    // only — the k-long signature array is attached ONCE per distinct
    // candidate pair afterwards (guide §8: decide with small rows, move the
    // heavy payload once). The previous shape dragged sig through the cap
    // window's shuffle and BOTH sides of the band self-join (~3·bands·|sig|
    // bytes per doc); est_jaccard is a pure function of the two signatures,
    // so computing it once per distinct pair (instead of once per co-bucket
    // occurrence, then max-deduping equal values) yields the identical set.
    val buckets = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bh"))
    // cap pathological buckets (boilerplate bands) — log-visible, not silent:
    // the cap column is retained by callers that want drop accounting
    val ranked = buckets.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bh")).orderBy(col("id"))))
      .filter(col("rn") <= maxBucketSize)
    val a = ranked.select(col("band"), col("bh"), col("id").as("a"))
    val b = ranked.select(col("band"), col("bh"), col("id").as("b"))
    val candPairs = a.join(b, Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val est = {
      val matches = zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0))
      aggregate(matches, lit(0), (acc, x) => acc + x).cast("double") / lit(k)
    }
    candPairs
      .join(sigs.select(col("id").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("id").as("b"), col("sig").as("sig_b")), "b")
      .select(col("a"), col("b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Numeric-id canonical mapping from (a, b) near-dup pairs: connected
    * components run on STRING labels (lexicographic min), so the canonical id
    * is re-selected as the NUMERIC min of each component afterwards
    * ("100002" < "2" lexicographically would otherwise win). */
  private[graft] def numericCanonical(
      spark: SparkSession, allIds: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = ConnectedComponents.runAuto(spark,
      pairs.select(col("a").cast("string").as("src"), col("b").cast("string").as("dst")))
    val canon = comps.groupBy(col("component"))
      .agg(min(col("id").cast("long")).as("canonical_id"))
    allIds.select(col("id").cast("string").as("id"))
      .join(comps, Seq("id"), "left")
      .join(canon, Seq("component"), "left")
      .select(col("id").cast("long").as("id"),
        coalesce(col("canonical_id"), col("id").cast("long")).as("canonical_id"))
  }

  /** Minhash-LSH dedup with EXACT shingle-Jaccard verification: recall-tuned
    * banding (r = k/bands small ⇒ candidate prob J^r high near the
    * threshold) generates candidates, exact n-gram Jaccard decides. Unlike
    * a decision on the signature estimate alone, the output is a pure
    * function of the texts — reproducible by a brute-force all-pairs
    * oracle — while the scan
    * stays LSH-bounded (miss prob at J = 0.5 with r = 2, 32 bands:
    * (1 - 0.25)^32 ≈ 1e-4). */
  def minhashDedupVerified(
      spark: SparkSession, df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      shingleN: Int = 3): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, k, shingleN)
    // estimator pre-filter at threshold − 3σ: the k-permutation estimate of
    // a true pair at J = t has σ = sqrt(t(1−t)/k) (binomial), so filtering
    // candidates at t − 3σ (0.3125 for t=0.5, k=64) rejects a real near-dup
    // with prob ~1e-4 — the same order as the banding miss bound above —
    // while cutting the J≈0.2 co-bucket noise (candidate prob ≈ 0.73 at
    // r=2×32 bands) before any shingle array is dragged through the join.
    val sigma = math.sqrt(threshold * (1 - threshold) / k)
    // lazily checkpointed: the candidate list is consumed twice downstream
    // (the broadcast id semi-join and the pair join), which would otherwise
    // re-run the whole LSH subtree per consumer
    val cand = minhashPairs(sigs, idCol, k, bands,
      threshold = math.max(0.0, threshold - 3 * sigma))
      .select(col("a"), col("b"))
      .localCheckpoint(false)
    // verify on compact hashed-shingle long arrays, not string arrays: the
    // Jaccard of the 64-bit-hashed distinct shingle sets equals the string
    // set's (collision prob ~n²/2⁶⁴, vanishing), at a fraction of the
    // shuffle bytes and comparison cost.
    val verified = exactJaccardHashed(cand, df, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"))
    numericCanonical(spark, df.select(col(idCol).as("id")), verified)
      .withColumnRenamed("id", idCol)
  }

  /** Exact n-gram Jaccard for given candidate pairs (a, b) against the
    * original texts, on 64-bit-HASHED shingle sets: each distinct shingle
    * rides as one long instead of a string — the string sets' Jaccard value
    * w.h.p. (hash collisions within a doc's shingle set are ~n²/2⁶⁴), far
    * cheaper to shuffle and intersect.
    *
    * Shingle arrays are computed ONLY for ids that appear in a candidate
    * pair (broadcast semi-join before the shingling projection): the
    * decision rides on small rows and the heavy shingle payload is built
    * once per candidate doc — the naive two-sided join shingled the whole
    * corpus twice per verification pass. */
  def exactJaccardHashed(
      pairs: DataFrame, df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val candIds = pairs
      .select(explode(array(col("a"), col("b"))).as(idCol)).distinct()
    val sh = df
      .join(broadcast(candIds), Seq(idCol), "left_semi")
      .select(col(idCol),
        array_distinct(transform(shingles(col(textCol), shingleN), s => xxhash64(s))).as("sh"))
    pairs
      .join(sh.select(col(idCol).as("a"), col("sh").as("sh_a")), "a")
      .join(sh.select(col(idCol).as("b"), col("sh").as("sh_b")), "b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .drop("sh_a", "sh_b")
  }

  /** 64-bit simhash over tokens: per-bit weighted sign votes. Pure function
    * exposed for tests; the column uses a deterministic Scala UDF (the bit
    * loop has no native-function encoding). */
  def simhash64(tokens: Seq[String]): Long = {
    if (tokens.isEmpty) return 0L
    val votes = new Array[Int](64)
    for (t <- tokens) {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  private val simhashUdf = udf((text: String) =>
    simhash64(Option(text).getOrElse("").toLowerCase.split("\\W+").toSeq.filter(_.nonEmpty)))

  /** (id, simhash) per row. */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhashUdf(col(textCol)).as("simhash"))

  /** Near-dup pairs with hamming distance ≤ maxHamming, candidates from
    * equal 16-bit quarters (any one equal quarter ⇒ candidate; exact for
    * maxHamming ≤ 3 by pigeonhole — except inside capped hot buckets).
    *
    * Scale guard: a bare 16-bit quarter gives only 65,536 buckets per band,
    * so at N docs each bucket holds ~N/65k members and the self-join emits
    * ~N²/65k candidate rows. Buckets are therefore capped at `maxBucketSize`
    * members (deterministic min-id ranking, same pattern as minhashPairs);
    * a hot bucket usually means boilerplate text whose pairs are found via
    * its other three quarters anyway. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 256): DataFrame = {
    val sh = simhashes(df, idCol, textCol)
    val quarters = sh.select(col(idCol).as("id"), col("simhash"),
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"),
          shiftrightunsigned(col("simhash"), q * 16).bitwiseAND(lit(0xFFFFL)).as("qh"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.q"), col("bk.qh"))
    val ranked = quarters.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("q"), col("qh")).orderBy(col("id"))))
      .filter(col("rn") <= maxBucketSize)
    val a = ranked.select(col("q"), col("qh"), col("id").as("a"), col("simhash").as("ha"))
    val b = ranked.select(col("q"), col("qh"), col("id").as("b"), col("simhash").as("hb"))
    a.join(b, Seq("q", "qh")).filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .distinct()
  }
}
