package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-mixture planning and ordering for training-corpus assembly: which
  * sources contribute how many tokens (temperature-scaled allocation), and
  * in what order documents are consumed (deterministic per-epoch shuffle,
  * quality-curriculum buckets).
  *
  * Everything here rides the same two-phase global-position machinery as
  * [[Packing.packSequences]] — range-partition on the order key, then an
  * exclusive prefix sum of per-partition counts broadcast back — so a
  * "global row_number" NEVER plans as a single-partition window. At 100 TB
  * an `ORDER BY` window without PARTITION BY is the canonical scale
  * killer; every ordering operator below stays fully parallel.
  *
  * Determinism contract (same as ops/Sampling): orderings key on content
  * fingerprints + ids, never on rand() or partition layout, so a retry,
  * a different cluster size, or a re-run produce byte-identical plans.
  */
object Mixture {

  /** Temperature-scaled source allocation (the "multinomial sampling with
    * temperature" of multilingual/multi-source LM training, e.g. the
    * alpha-scaling popularized by multilingual BERT/T5): source i with
    * n_i tokens gets weight n_i^alpha / Σ n_j^alpha — alpha=1 is
    * proportional, alpha=0 uniform, alpha≈0.3–0.7 upsamples the tail.
    *
    * Returns one row per group: (group, n_docs, n_tokens, weight,
    * alloc_tokens) where alloc_tokens = floor(budget * weight).
    *
    * Exactness: for alpha=0.5 the scaled weight basis is computed as
    * floor(sqrt(n)*1e6) LONGS (sqrt is IEEE-correctly-rounded in every
    * engine, so the quantized basis is cross-engine exact), summed
    * exactly, and the only double is the final weight ratio; the token
    * allocation is pure integer math. Other alphas go through pow(), which
    * is ulp-faithful but not guaranteed identical across engines — fine
    * operationally, excluded from the oracle gate.
    *
    * Scale shape: one groupBy exchange over (group) → |sources| rows; the
    * normalization total is a 1-row broadcast (sources are control-plane
    * small by contract — a corpus has thousands of sources, not billions).
    */
  def temperatureAllocation(docs: DataFrame, groupCol: Column,
      tokens: Column, alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(budgetTokens > 0, "budgetTokens must be positive")
    val perSource = docs
      .groupBy(groupCol.as("group"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens.cast("long")).as("n_tokens"))
    val basis =
      if (alpha == 0.5) floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long")
      else floor(pow(col("n_tokens").cast("double"), alpha) * 1e6).cast("long")
    val based = perSource.withColumn("basis", basis)
    // 1-row broadcast total — never a global window
    val total = based.agg(sum(col("basis")).as("basis_total"))
    based.crossJoin(broadcast(total))
      .select(col("group"), col("n_docs"), col("n_tokens"),
        (col("basis").cast("double") / col("basis_total").cast("double")).as("weight"),
        // exact integer floor(budget*basis/total) — `div`, not `/`: double
        // division + cast truncates the wrong way when the true ratio sits
        // within an ulp of an integer
        expr(s"$budgetTokens * basis div basis_total").as("alloc_tokens"))
  }

  /** Deterministic multi-epoch corpus shuffle: epoch e orders documents by
    * md5_low64(id ':' e) — a different, reproducible, UNIFORM permutation
    * per epoch, computed WITHOUT materializing shuffled copies (the
    * position column IS the shuffle; a trainer reads `WHERE epoch = e
    * ORDER BY pos`, or range-partitions on pos for distributed loading).
    *
    * The permutation key must be a real mixing hash: a polynomial rolling
    * fingerprint is ORDER-PRESERVING on same-length id strings, which
    * degenerates the "shuffle" to near-identity. [[graft.functions.Md5Low64]]
    * (≡ DuckDB `md5_number_lower`) scrambles uniformly and keeps the
    * cross-engine parity contract.
    *
    * Output: (epoch, id, pos) with pos ∈ [0, n) dense per epoch.
    * Positions come from [[Packing.prefixSum]] with every doc counting 1
    * — the two-phase prefix sum, not a global window. */
  def epochShuffle(docs: DataFrame, idCol: String, epochs: Int): DataFrame = {
    require(epochs >= 1, "epochs must be >= 1")
    val frames = (0 until epochs).map { e =>
      // DuckDB's md5_number_lower is UNSIGNED; flipping the sign bit maps
      // unsigned order onto signed long order (Clustering's seeding trick)
      val keyed = docs.select(col(idCol), lit(1L).as("one"),
        graft.functions.Md5Low64(
          concat(col(idCol).cast("string"), lit(":"), lit(e.toString)))
          .bitwiseXOR(Long.MinValue).as("efp"))
      Packing.prefixSum(keyed, idCol, "one", Seq("efp", idCol), "pos")
        .select(lit(e).as("epoch"), col(idCol).as("id"), col("pos"))
    }
    frames.reduce(_ unionByName _)
  }

  /** Quality-curriculum ordering: rank the corpus by a quality score
    * (descending, id tie-break) and cut it into `k` equal buckets —
    * bucket 0 = cleanest slice, consumed first in curriculum training.
    *
    * `bucket = pos * k / n` (integer division over the dense global
    * position), NOT ntile(): same equal-split semantics, but computable
    * from the two-phase prefix sum — ntile's single global window is
    * exactly the plan shape this module refuses to produce.
    *
    * `quality` must be integer-valued (quantize upstream: the engine's
    * quality scores quantize to floor(q*1e6) longs for cross-engine
    * exactness — see TextAnalysis.qualityScore usage in q45/q74). */
  def curriculumBuckets(docs: DataFrame, idCol: String, quality: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // descending quality through the ascending pack machinery: negate
    val keyed = docs.select(col(idCol), lit(1L).as("one"),
      (-quality.cast("long")).as("negq"))
    val positioned = Packing.prefixSum(keyed, idCol, "one",
        Seq("negq", idCol), "pos")
      .select(col(idCol).as("id"), col("pos"))
    // n is a 1-row broadcast, same control-plane shape as the allocation
    val total = positioned.agg(count(lit(1)).as("n"))
    positioned.crossJoin(broadcast(total))
      .select(col("id"), col("pos"),
        expr(s"pos * $k div n").as("bucket")) // integer div — see above
  }

  /** Proportional source interleave — the ORDER a mixed corpus is actually
    * consumed in: each source's documents spread evenly through the global
    * stream at its own rate (a corpus-dominating source never monopolizes
    * a training stretch, a tail source never clumps at the end). Classic
    * Bresenham scheduling, all-integer and cross-engine exact: a source
    * with n_s docs out of N total emits its r-th doc at interleave key
    * `((2r+1)·N) div (2·n_s)` — the r-th of n_s evenly-spaced slots in
    * [0, N). Consumers sort by (ikey, group, r); within a source, docs
    * take the deterministic md5 order of [[epochShuffle]].
    *
    * Scale: per-source ranks come from the grouped two-phase prefix sum
    * (no per-source window task), counts are slim aggregates, N is a
    * 1-row broadcast. Overflow bound: 2·N² < 2⁶³ ⇒ N < ~2.1e9 docs per
    * interleave; shard the plan (per epoch slice) beyond that.
    *
    * @return (id, group, r, ikey)
    */
  def proportionalInterleave(docs: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    val keyed = docs.select(col(idCol), col(groupCol).as("group"),
      lit(1L).as("one"),
      graft.functions.Md5Low64(col(idCol).cast("string"))
        .bitwiseXOR(Long.MinValue).as("mh"))
    val ranked = Packing.prefixSum(keyed, idCol, "one", Seq("mh", idCol), "r",
        Some("group"))
      .select(col(idCol).as("id"), col("group"), col("r"))
    val counts = ranked.groupBy(col("group")).agg(count(lit(1)).as("n_s"))
    val total = ranked.agg(count(lit(1)).as("total"))
    ranked.join(counts, Seq("group")).crossJoin(broadcast(total))
      .select(col("id"), col("group"), col("r"),
        expr("((2 * r + 1) * total) div (2 * n_s)").as("ikey"))
  }

  /** Negative-sampling table (word2vec's unigram^0.75 smoothing): each
    * vocabulary token owns the half-open integer range [cum_start,
    * cum_end) whose width is its smoothed mass — a sampler draws a
    * uniform long below the table total and binary-searches the range,
    * so frequent tokens are damped and the tail is boosted exactly as
    * embedding training expects.
    *
    * EXACTNESS: n^0.75 is computed as sqrt(sqrt(n³)) — n³ is exact
    * integer (< 2⁵³ for n < ~2.1e6 occurrences; quantize upstream or
    * pre-scale counts beyond that), and IEEE sqrt is correctly rounded
    * in every engine, where `pow(n, 0.75)` is NOT (platform-dependent
    * last ulp). basis = floor(sqrt(sqrt(n³))·1e6) LONGS, prefix-summed —
    * the same quantized-basis contract as [[temperatureAllocation]].
    *
    * Scale: the table is vocab-sized (post-aggregation), and the prefix
    * sum is the two-phase pack machinery — no single global window even
    * for billion-token vocabularies.
    *
    * @return (token, n, basis, cum_start, cum_end), token-ordered ranges
    */
  def negativeSamplingTable(docs: DataFrame, textCol: String = "text"):
      DataFrame = {
    val counts = docs.select(explode(split(
        Dedup.normalized(coalesce(col(textCol), lit(""))), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .withColumn("basis",
        floor(sqrt(sqrt((col("n") * col("n") * col("n")).cast("double"))) * 1e6)
          .cast("long"))
    Packing.prefixSum(counts, "token", "basis", Seq("token"), "cum_start")
      .select(col("token"), col("cum_start"),
        (col("cum_start") + col("basis")).as("cum_end"))
      .join(counts, Seq("token"))
      .select(col("token"), col("n"), col("basis"),
        col("cum_start"), col("cum_end"))
  }
}
