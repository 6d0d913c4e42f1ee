package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (north-star EXT).
  *
  * Numeric contract: embeddings are quantized to integer milli-units before
  * any arithmetic, so dot products and norms are exact integers — results
  * are bit-identical regardless of summation order, engine, or parallelism
  * (floating-point reductions are order-dependent; integer ones aren't).
  * The final cosine is one double division + sqrt — deterministic.
  *
  * Scale paths:
  *  - [[bruteForceTopK]]: queries broadcast against the full corpus; right
  *    for |queries| ≪ |corpus| (the common "probe" shape). O(|Q|·N) but
  *    embarrassingly parallel, no shuffle of the corpus.
  */
object Similarity {

  /** float[] → integer milli-units (exact in double before floor). */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1000 + 0.5).cast("long"))

  def normInt(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x)

  /** Decimal-exact dot/norm for component-SUM vectors (centroids): a
    * label centroid is the un-divided Σ of its members' quantized
    * components, so its norm Σ(Σx_i)² grows with n_label² — for
    * milli-quantized unit vectors a coherent cluster of ~3×10⁶ vectors
    * already overflows a long (ANSI exception here, BIGINT overflow in a
    * SQL oracle). DECIMAL(38,0) is exact to 10³⁸ (HUGEINT on the DuckDB
    * side), which holds through n_label ≈ 10¹⁵ at dim 64 — and exactness
    * keeps the sum order-free, so parity needs no fold-order contract.
    * The long variants above stay the hot path for single vectors. */
  def dotIntBig(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("decimal(19,0)") * y.cast("decimal(19,0)")),
      lit(0L).cast("decimal(38,0)"), (acc, x) => acc + x)

  def normIntBig(a: Column): Column =
    aggregate(
      transform(a, x => x.cast("decimal(19,0)") * x.cast("decimal(19,0)")),
      lit(0L).cast("decimal(38,0)"), (acc, x) => acc + x)

  // ---- pairwise-scoring kernels -------------------------------------
  // The O(|Q|·N) / O(N²) dot-product loops are the one place the
  // expression engine loses: higher-order lambdas are interpreted, and a
  // 64-term unrolled expression with ANSI checks generates a method too
  // large to JIT. A mapPartitions block-nested-loop over a broadcast side
  // — the classic GEMM-block shape — runs the same exact integer math in
  // tight JVM loops, ~20× faster. This is the documented "(d) mapPartitions
  // as a last resort" case: a numeric kernel, not relational logic.

  /** Collect the PROBE side of an ANN query to the driver, enforcing the
    * |Q| ≪ N contract at runtime: every top-k path broadcasts the query
    * set, so a user who points a corpus-sized frame at the query parameter
    * must get a clear error, not a driver OOM. The cap is configurable via
    * `graft.ann.maxProbe` (default 100 000 ≈ 50 MB of 64-dim floats); the
    * check is a `limit(cap+1)` collect — no extra counting pass, and the
    * driver never materializes more than cap+1 rows even on violation. */
  private[ops] def collectProbes(queries: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Seq[Float])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cap = spark.conf.get("graft.ann.maxProbe", "100000").toInt
    val rows = queries.select(col(idCol).cast("long"), col(vecCol))
      .limit(cap + 1).as[(Long, Seq[Float])].collect()
    require(rows.length <= cap,
      s"ANN probe set exceeds graft.ann.maxProbe=$cap rows: the query side " +
        "is collected and broadcast by contract (|queries| ≪ |corpus|). " +
        "Swap the arguments if the corpus ended up on the query side, or " +
        "raise spark.conf graft.ann.maxProbe if the probe set is genuinely " +
        "this large.")
    rows
  }

  private[ops] def quantizeJvm(v: Seq[Float]): Array[Long] = {
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) { out(i) = math.floor(v(i).toDouble * 1000 + 0.5).toLong; i += 1 }
    out
  }

  private[ops] def dotJvm(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private[ops] def normJvm(a: Array[Long]): Long = dotJvm(a, a)

  /** cosine with a zero-norm guard: an all-zero vector (failed embed /
    * padding) has undefined cosine; 0.0 ranks it last instead of NaN —
    * which Spark sorts as the LARGEST double, i.e. rank 1 under desc. */
  private[ops] def cosJvm(dot: Long, na: Long, nb: Long): Double =
    // sqrt(na)*sqrt(nb): na*nb overflows Long for high-dim vectors (→ negative
    // → sqrt NaN → ranks first under desc); each factor alone is exact
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))

  /** Brute-force top-k cosine neighbors for each query vector. The query
    * side is collected + broadcast (it is the small probe set by contract);
    * the corpus streams partition-parallel, quantized once per row.
    */
  /** SEMANTIC eval-set decontamination — the embedding complement of
    * [[Dedup.contaminationHits]]' n-gram form: flag every corpus vector
    * whose cosine to ANY benchmark vector reaches `threshold`
    * (paraphrased or re-tokenized eval leakage that shares no exact
    * grams). Same scale discipline as the gram decontaminator: the
    * BENCHMARK side is the bounded one (collected under the
    * `graft.ann.maxProbe` cap and broadcast); the corpus streams through
    * one zero-shuffle kernel pass and is NEVER shuffled or collected.
    * Exact integer cosines (quantized milli-units), deterministic
    * arg-max tie-break to the LOWEST benchmark id — every emitted row is
    * SQL-replayable.
    *
    * @return (id, bench_id, cos) for flagged corpus rows only: the
    *         nearest benchmark vector at cosine ≥ threshold */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bRows = collectProbes(bench, idCol, vecCol)
      .map { case (id, v) => val q = quantizeJvm(v); (id, q, normJvm(q)) }
      .sortBy(_._1) // scan order = id order ⇒ strict > keeps the lowest
    val bc = spark.sparkContext.broadcast(bRows)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val bs = bc.value
        it.flatMap { case (id, v) =>
          val e = quantizeJvm(v)
          val en = normJvm(e)
          var best = -2.0
          var bestB = Long.MinValue
          var i = 0
          while (i < bs.length) {
            val (bid, bv, bn) = bs(i)
            val cos = cosJvm(dotJvm(e, bv), en, bn)
            if (cos > best) { best = cos; bestB = bid }
            i += 1
          }
          if (bs.nonEmpty && best >= threshold) Iterator.single((id, bestB, best))
          else Iterator.empty
        }
      }.toDF("id", "bench_id", "cos")
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = collectProbes(queries, idCol, vecCol)
      .map { case (id, v) => (id, quantizeJvm(v)) }
      .map { case (id, qv) => (id, qv, normJvm(qv)) }
    val bc = spark.sparkContext.broadcast(qRows)
    val scored = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (eid, ev) =>
          val e = quantizeJvm(ev)
          val en = normJvm(e)
          // excludeSelf only makes sense when queries ARE corpus rows —
          // with an unrelated query id space it would drop a legitimate
          // neighbor that happens to share the id
          qs.iterator.collect { case (qid, qv, qn) if !(excludeSelf && qid == eid) =>
            (qid, eid, cosJvm(dotJvm(qv, e), qn, en))
          }
        }
      }.toDF("qid", "eid", "cos")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("eid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("cos"), col("rn"))
  }

  /** SQ8 scalar-quantized approximate top-k — the memory-bandwidth tier
    * between brute force and IVF/PQ (the SEARCH complement of
    * [[quantizeInt8]], which audits per-vector storage compression; this
    * uses per-DIMENSION extrema so one code book serves the whole corpus
    * and dot products compare across vectors): each dimension is affinely
    * mapped to an 8-bit code against GLOBAL per-dimension corpus extrema,
    * the scan
    * scores candidates with the cosine of the DEQUANTIZED codes (codes
    * would be STORED at 1 B/dim in a real deployment — a 4× scan-
    * bandwidth cut vs float32, the whole point at 100 TB; reconstruction
    * is a per-dim multiply-add on the fly), and the top-`rerank`
    * survivors per probe are re-scored with the exact integer-quantized
    * cosine. Ranking by the RAW code dot product does NOT work: codes
    * are uncentered, so the affine offset terms (b·Σcode) swamp the
    * signal — measured recall@10 0.18 raw vs 1.00 dequantized at the
    * same rerank=40 (the q256 hash-gated audit, uniform corpus,
    * sf0.01); reconstruction restores the original geometry up to
    * 1/255-per-dim rounding.
    *
    * Scale shape: one corpus pass computes per-partition elementwise
    * extrema (ONE (2·dim)-long row per partition collected — control
    * plane, the prefix-total discipline); one corpus pass scores against
    * the broadcast coded probes; the rerank joins |Q|·rerank candidate
    * ids back to the corpus — never a second full scan of scores.
    * EXACTNESS (cross-engine): milli-unit quantization → code =
    * clamp((q−mn)·255 div (mx−mn), 0, 255) and reconstruction
    * mn + (code·(mx−mn)) div 255 in pure integer math; the approximate
    * score is one double division over exact int64 dot/norms (IEEE-
    * deterministic, the cosJvm discipline); the rerank cosine is the
    * shared integer-quantized kernel. Ties break (score desc, eid)
    * everywhere.
    *
    * @return (qid, eid, cos, rn) with rn ≤ k per probe — cos the EXACT
    *         quantized cosine of the reranked survivor
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int, rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && rerank >= k, "sq8TopK needs rerank >= k >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].localCheckpoint() // extrema pass + scan pass
    val partExtrema = base.mapPartitions { it =>
      var mn: Array[Long] = null; var mx: Array[Long] = null
      it.foreach { case (_, v) =>
        val q = quantizeJvm(v)
        if (mn == null) { mn = q.clone(); mx = q.clone() }
        else {
          var i = 0
          while (i < q.length) {
            if (q(i) < mn(i)) mn(i) = q(i)
            if (q(i) > mx(i)) mx(i) = q(i)
            i += 1
          }
        }
      }
      if (mn == null) Iterator.empty
      else Iterator.single((mn.toSeq, mx.toSeq))
    }.collect() // ≤ one row per partition — control-plane
    require(partExtrema.nonEmpty, "sq8TopK needs a non-empty corpus")
    val dim = partExtrema.head._1.length
    val mn = Array.fill(dim)(Long.MaxValue)
    val mx = Array.fill(dim)(Long.MinValue)
    partExtrema.foreach { case (pmn, pmx) =>
      var i = 0
      while (i < dim) {
        if (pmn(i) < mn(i)) mn(i) = pmn(i)
        if (pmx(i) > mx(i)) mx(i) = pmx(i)
        i += 1
      }
    }
    // code then dequantize: the stored form is the 1-byte code; the
    // scoring form is its integer reconstruction (see scaladoc)
    def sq8Recon(q: Array[Long], mnA: Array[Long], mxA: Array[Long])
        : Array[Long] = {
      val r = new Array[Long](q.length)
      var i = 0
      while (i < q.length) {
        if (mxA(i) <= mnA(i)) r(i) = mnA(i) // constant dim: code 0
        else {
          val c = math.max(0L,
            math.min(255L, (q(i) - mnA(i)) * 255L / (mxA(i) - mnA(i))))
          r(i) = mnA(i) + c * (mxA(i) - mnA(i)) / 255L
        }
        i += 1
      }
      r
    }
    val probes = collectProbes(queries, idCol, vecCol).map { case (id, v) =>
      val qv = quantizeJvm(v)
      val rq = sq8Recon(qv, mn, mx)
      (id, qv, normJvm(qv), rq, normJvm(rq))
    }
    val bcP = spark.sparkContext.broadcast(probes)
    val bcMn = spark.sparkContext.broadcast(mn)
    val bcMx = spark.sparkContext.broadcast(mx)
    val approx = base.mapPartitions { it =>
      val qs = bcP.value
      val mnA = bcMn.value; val mxA = bcMx.value
      it.flatMap { case (eid, ev) =>
        val re = sq8Recon(quantizeJvm(ev), mnA, mxA)
        val ren = normJvm(re)
        qs.iterator.collect {
          case (qid, _, _, rq, rqn) if !(excludeSelf && qid == eid) =>
            (qid, eid, cosJvm(dotJvm(rq, re), rqn, ren))
        }
      }
    }.toDF("qid", "eid", "approx")
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("approx").desc, col("eid"))
    val cand = approx.withColumn("rr", row_number().over(wr))
      .filter(col("rr") <= rerank)
      .select(col("qid"), col("eid"))
    // exact rerank: |Q|·rerank survivor ids pull their vectors back in
    val exact = cand
      .join(base.toDF("eid", "ev"), Seq("eid"))
      .as[(Long, Long, Seq[Float])]
      .mapPartitions { it =>
        val qm = bcP.value.iterator
          .map(p => p._1 -> (p._2, p._3)).toMap
        it.map { case (eid, qid, ev) =>
          val e = quantizeJvm(ev)
          val (qv, qn) = qm(qid)
          (qid, eid, cosJvm(dotJvm(qv, e), qn, normJvm(e)))
        }
      }.toDF("qid", "eid", "cos")
    val wk = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("eid"))
    exact.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("cos"), col("rn"))
  }

  /** Hard-negative mining for contrastive training: for each probe, the
    * top-k most-similar corpus vectors with a DIFFERENT label — maximally
    * confusable non-matches, the standard negative-sampling upgrade over
    * random negatives (and the retrieval-training complement of
    * [[bruteForceTopK]], which ranks without regard to labels). The
    * same-label exclusion runs INSIDE the scoring kernel, before the
    * top-k, so a probe's true-class twins can never crowd out negatives.
    *
    * Same contract and shape as bruteForceTopK: probe set collected under
    * the `graft.ann.maxProbe` cap and broadcast; the corpus streams
    * partition-parallel; integer-quantized cosine (exact cross-engine).
    *
    * @return (qid, q_label, eid, e_label, cos, rn) with rn ≤ k per probe
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cap = spark.conf.get("graft.ann.maxProbe", "100000").toInt
    val qRows = queries
      .select(col(idCol).cast("long"), col(vecCol), col(labelCol).cast("long"))
      .limit(cap + 1).as[(Long, Seq[Float], Long)].collect()
    require(qRows.length <= cap,
      s"ANN probe set exceeds graft.ann.maxProbe=$cap rows (see " +
        "collectProbes): the query side is collected and broadcast by " +
        "contract (|queries| ≪ |corpus|).")
    val qs = qRows.map { case (id, v, l) =>
      val qv = quantizeJvm(v); (id, qv, normJvm(qv), l)
    }
    val bc = spark.sparkContext.broadcast(qs)
    val scored = corpus
      .select(col(idCol).cast("long"), col(vecCol), col(labelCol).cast("long"))
      .as[(Long, Seq[Float], Long)]
      .mapPartitions { it =>
        val probes = bc.value
        it.flatMap { case (eid, ev, el) =>
          val e = quantizeJvm(ev)
          val en = normJvm(e)
          probes.iterator.collect { case (qid, qv, qn, ql) if ql != el =>
            (qid, ql, eid, el, cosJvm(dotJvm(qv, e), qn, en))
          }
        }
      }.toDF("qid", "q_label", "eid", "e_label", "cos")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("eid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("q_label"), col("eid"), col("e_label"),
        col("cos"), col("rn"))
  }

  /** Sign-random-projection buckets, computed in the JVM kernel: ternary
    * pseudo-hyperplane weights ∈ {-1,0,1} derived from a seeded splitmix
    * hash — deterministic, data-independent, no stored model. Returns one
    * `bits`-wide bucket id per table. */
  private[ops] def srpBuckets(qv: Array[Long], bits: Int, tables: Int): Array[Long] = {
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < bits) {
        var s = 0L
        var i = 0
        while (i < qv.length) {
          val w = java.lang.Math.floorMod(mix(t.toLong << 40 | p.toLong << 20 | i), 3)
          if (w == 1) s += qv(i) else if (w == 2) s -= qv(i)
          i += 1
        }
        if (s > 0) bucket |= 1L << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  // ---- IVF-Flat ------------------------------------------------------
  /** Deterministic coarse quantizer: the `nlist` corpus vectors with the
    * smallest xxhash-style mixed ids form the centroid set — a seeded
    * sample, no training job. [[lloydRefine]] optionally recenters it; on
    * near-uniform embedding clouds the sampled set alone gives a similar
    * recall/pruning tradeoff. */
  /** Seed-hash column for the deterministic samplers: "xx" (xxhash64,
    * the fast default) or "md5" ([[graft.functions.Md5Low64]] with the
    * sign bit flipped, so SIGNED ordering equals DuckDB's unsigned
    * md5_number_lower order) — the simhash `tokenHash` precedent: md5
    * buys exact relational replayability for recall-audit oracles at a
    * few ns/row extra. */
  private def seedHashCol(c: Column, seedHash: String): Column =
    seedHash match {
      case "xx" => xxhash64(c)
      case "md5" => graft.functions.Md5Low64(c.cast("string"))
        .bitwiseXOR(lit(Long.MinValue))
      case other => throw new IllegalArgumentException(
        s"seedHash must be 'xx' or 'md5', got '$other'")
    }

  private[ops] def sampleCentroids(corpus: DataFrame, nlist: Int,
      idCol: String, vecCol: String, seedHash: String = "xx")
      : Array[(Long, Array[Long], Long)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .withColumn("__m", seedHashCol(col(idCol), seedHash))
      .orderBy(col("__m"))
      .limit(nlist)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect()
      .zipWithIndex
      .map { case ((_, v), i) => val q = quantizeJvm(v); (i.toLong, q, normJvm(q)) }
  }

  private[ops] def nearestCentroids(v: Array[Long], nv: Long,
      cents: Array[(Long, Array[Long], Long)], n: Int): Array[Long] =
    cents.map { case (cid, cv, cn) =>
      (cid, cosJvm(dotJvm(v, cv), nv, cn)) }
      .sortBy { case (cid, cos) => (-cos, cid) }
      .take(n).map(_._1)

  /** Lloyd (k-means) refinement of the coarse quantizer: each iteration
    * assigns every corpus vector to its nearest centroid in one distributed
    * pass (per-partition long-sum accumulators — nlist×dim longs, a few KB —
    * merged on the driver) and recenters. Integer sums make every iteration
    * bit-deterministic regardless of partitioning; empty clusters keep
    * their previous centroid. The refit quantizer tightens lists on
    * clustered embedding clouds, which is what lets nprobe/nlist shrink —
    * the pruning ratio IS the speedup at scale. */
  private[ops] def lloydRefine(corpus: DataFrame,
      cents: Array[(Long, Array[Long], Long)], iters: Int,
      idCol: String, vecCol: String): Array[(Long, Array[Long], Long)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cs = cents
    val vecs = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cs)
      val partials = vecs.rdd.mapPartitions { it =>
        val cents = bc.value
        val nlist = cents.length
        val dim = if (cents.isEmpty) 0 else cents(0)._2.length
        val sums = Array.ofDim[Long](nlist, dim)
        val counts = new Array[Long](nlist)
        it.foreach { case (_, v) =>
          val q = quantizeJvm(v)
          val cid = nearestCentroids(q, normJvm(q), cents, 1)(0).toInt
          counts(cid) += 1
          var i = 0
          while (i < dim) { sums(cid)(i) += q(i); i += 1 }
        }
        Iterator.single((sums, counts))
      }.collect()
      bc.destroy()
      val nlist = cs.length
      val dim = cs(0)._2.length
      val sums = Array.ofDim[Long](nlist, dim)
      val counts = new Array[Long](nlist)
      partials.foreach { case (s, c) =>
        var l = 0
        while (l < nlist) {
          counts(l) += c(l)
          var i = 0
          while (i < dim) { sums(l)(i) += s(l)(i); i += 1 }
          l += 1
        }
      }
      cs = cs.map { case (cid, oldV, oldN) =>
        val l = cid.toInt
        if (counts(l) == 0L) (cid, oldV, oldN)
        else {
          val v = new Array[Long](dim)
          var i = 0
          // mean in quantized milli-units, rounded like quantizeJvm
          while (i < dim) {
            v(i) = math.floor(sums(l)(i).toDouble / counts(l) + 0.5).toLong
            i += 1
          }
          (cid, v, normJvm(v))
        }
      }
    }
    cs
  }

  /** IVF-Flat approximate top-k: corpus rows are assigned to their nearest
    * of `nlist` sampled centroids (optionally Lloyd-refined for
    * `refineIters` passes); each query scores only rows whose list
    * is among its `nprobe` closest centroids — scanning ~nprobe/nlist of
    * the corpus instead of all of it. Same exact integer-cosine kernel as
    * the brute-force baseline; recall is tuned by nprobe. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, refineIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true, seedHash: String = "xx"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = lloydRefine(corpus,
      sampleCentroids(corpus, nlist, idCol, vecCol, seedHash), refineIters,
      idCol, vecCol)
    val qRows = collectProbes(queries, idCol, vecCol)
      .map { case (id, v) =>
        val q = quantizeJvm(v); val n = normJvm(q)
        (id, q, n, nearestCentroids(q, n, cents, nprobe).toSet)
      }
    val bcC = spark.sparkContext.broadcast(cents)
    val bcQ = spark.sparkContext.broadcast(qRows)
    val scored = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bcC.value
        val qs = bcQ.value
        it.flatMap { case (eid, ev) =>
          val e = quantizeJvm(ev)
          val en = normJvm(e)
          val list = nearestCentroids(e, en, cs, 1)(0)
          qs.iterator.collect {
            case (qid, qv, qn, probes) if !(excludeSelf && qid == eid) && probes(list) =>
              (qid, eid, cosJvm(dotJvm(qv, e), qn, en))
          }
        }
      }.toDF("qid", "eid", "cos")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("eid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("cos"), col("rn"))
  }

  // ---- Product Quantization -----------------------------------------
  // PQ-ADC (Jégou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011): split the dim into `m` subspaces, k-means each
  // subspace to `ksub` centroids, store each corpus vector as m byte codes
  // + its exact norm. A query scores a row with m table lookups instead of
  // a dim-length dot product, and — the real 100 TB lever — the scan reads
  // m bytes + one long per row instead of dim floats (~16× narrower I/O at
  // dim=64/m=8). Candidates are exact-reranked, so precision of the final
  // list is exact; only recall is approximate.

  /** Deterministic PQ codebooks: init from the xxhash64-smallest corpus
    * rows (same seeded-sample idea as the IVF coarse quantizer), then
    * `iters` distributed Lloyd passes. ALL m subspaces train in the same
    * pass — one corpus scan per iteration, accumulating m×ksub×subdim long
    * sums per partition (a few KB) merged on the driver. Integer sums make
    * training bit-deterministic under any partitioning.
    *
    * Training runs on a deterministic hash sample of ≤ `trainSampleMax`
    * rows (standard ANN practice — ksub=16 centroids per subspace need
    * thousands of points, not the corpus): codebook quality, not result
    * correctness, is all training affects when the scan reranks exactly.
    * The sample is id-hash keyed — identical under any partitioning. */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSampleMax: Long = 16384L, seedHash: String = "xx")
      : Array[Array[Array[Long]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the training sample (and its count pass) only exist for Lloyd
    // iterations; iters=0 keeps the seeded init as the codebook
    lazy val vecs = {
      val all = corpus.select(col(idCol).cast("long"), col(vecCol))
        .as[(Long, Seq[Float])]
      val n = all.count()
      if (n <= trainSampleMax) all
      else {
        val every = (n + trainSampleMax - 1) / trainSampleMax
        corpus.select(col(idCol).cast("long"), col(vecCol))
          .filter(pmod(xxhash64(col(idCol).cast("long")), lit(every)) === 0)
          .as[(Long, Seq[Float])]
      }
    }
    val init = corpus.select(col(idCol).cast("long"), col(vecCol))
      .withColumn("__m", seedHashCol(col(idCol), seedHash))
      .orderBy(col("__m"))
      .limit(ksub)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect()
      .map { case (_, v) => quantizeJvm(v) }
    require(init.nonEmpty, "PQ training needs a non-empty corpus")
    val dim = init(0).length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    // books(s)(c) = centroid c of subspace s (init: split each sampled row)
    var books: Array[Array[Array[Long]]] =
      Array.tabulate(m, init.length)((s, c) => init(c).slice(s * sub, (s + 1) * sub))
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(books)
      val partials = vecs.rdd.mapPartitions { it =>
        val bks = bc.value
        val sums = Array.ofDim[Long](m, ksub, sub)
        val counts = Array.ofDim[Long](m, ksub)
        it.foreach { case (_, v) =>
          val q = quantizeJvm(v)
          var s = 0
          while (s < m) {
            val c = nearestSub(q, s * sub, bks(s))
            counts(s)(c) += 1
            var i = 0
            while (i < sub) { sums(s)(c)(i) += q(s * sub + i); i += 1 }
            s += 1
          }
        }
        Iterator.single((sums, counts))
      }.collect()
      bc.destroy()
      val sums = Array.ofDim[Long](m, ksub, sub)
      val counts = Array.ofDim[Long](m, ksub)
      partials.foreach { case (ps, pc) =>
        for (s <- 0 until m; c <- 0 until ksub) {
          counts(s)(c) += pc(s)(c)
          var i = 0
          while (i < sub) { sums(s)(c)(i) += ps(s)(c)(i); i += 1 }
        }
      }
      books = Array.tabulate(m, ksub) { (s, c) =>
        if (c >= books(s).length || counts(s)(c) == 0L)
          if (c < books(s).length) books(s)(c) else new Array[Long](sub)
        else {
          val v = new Array[Long](sub)
          var i = 0
          while (i < sub) {
            v(i) = math.floor(sums(s)(c)(i).toDouble / counts(s)(c) + 0.5).toLong
            i += 1
          }
          v
        }
      }
    }
    books
  }

  /** Nearest sub-centroid by L2 in quantized space (components ≤ ~2^12 →
    * squared diffs stay far below long overflow); ties → lowest index. */
  private[ops] def nearestSub(q: Array[Long], off: Int, book: Array[Array[Long]]): Int = {
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < book.length) {
      val cent = book(c)
      var d = 0L; var i = 0
      while (i < cent.length) { val t = q(off + i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** PQ-ADC approximate top-k with exact rerank. Encode pass: zero-shuffle
    * kernel → (id, m codes, exact norm). Scan pass: per query, dot(q, x) ≈
    * Σ_s table(s)(code_s) where table(s)(c) = dot(q_s, centroid) — m adds
    * per row; per-partition top-`rerank` heaps mean only |Q|·rerank
    * (qid, eid) pairs per partition ever shuffle, NOT |Q|·N scored rows.
    * Candidates then re-score EXACTLY against the semi-join-pruned original
    * vectors (same candidate→verify shape as the dedup family), so emitted
    * cosines are exact and the final ordering deterministic. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, trainIters: Int = 3, rerank: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true, seedHash: String = "xx"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val r = if (rerank > 0) rerank else math.max(k * 4, 32)
    val books = pqTrain(corpus, m, ksub, trainIters, idCol, vecCol,
      seedHash = seedHash)
    val sub = books(0)(0).length
    val qRows = collectProbes(queries, idCol, vecCol)
      .map { case (id, v) =>
        val q = quantizeJvm(v)
        // ADC table: qn for the cosine denominator, per-subspace dot lookups
        val tab = Array.tabulate(m, ksub)((s, c) => {
          var d = 0L; var i = 0
          while (i < sub) { d += q(s * sub + i) * books(s)(c)(i); i += 1 }
          d
        })
        (id, q, normJvm(q), tab)
      }
    val bcB = spark.sparkContext.broadcast(books)
    val bcQ = spark.sparkContext.broadcast(qRows)
    // per-partition: encode rows on the fly, keep a top-r heap per query
    val candScores = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val bks = bcB.value
        val qs = bcQ.value
        // (approxCos, eid) min-heaps, one per query. The heap order is
        // the FULL global ordering (cos desc, eid asc) reversed — root =
        // worst kept, where "worse" = lower cos, ties to the LARGER eid.
        // A cos-only comparator with strict eviction broke approx-score
        // ties by partition scan order: identical PQ codes + equal norms
        // tie exactly, and the kept eid then disagreed with the
        // (cos desc, eid) window below AND the q239 oracle's rerank —
        // partition-layout-dependent results. A total order (eid unique)
        // has no ties, so per-partition top-r provably contains the
        // global top-r.
        val heaps = qs.map(_ => new java.util.PriorityQueue[(Double, Long)](
          (a: (Double, Long), b: (Double, Long)) => {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }))
        it.foreach { case (eid, ev) =>
          val e = quantizeJvm(ev)
          val en = normJvm(e)
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) { codes(s) = nearestSub(e, s * sub, bks(s)); s += 1 }
          var qi = 0
          while (qi < qs.length) {
            val (qid, _, qn, tab) = qs(qi)
            if (!(excludeSelf && qid == eid)) {
              var approx = 0L
              var t = 0
              while (t < m) { approx += tab(t)(codes(t)); t += 1 }
              val cos = cosJvm(approx, qn, en)
              val h = heaps(qi)
              if (h.size < r) h.add((cos, eid))
              else {
                val root = h.peek()
                // evict iff the new row beats the worst kept under the
                // SAME total order the global window applies
                if (cos > root._1 || (cos == root._1 && eid < root._2)) {
                  h.poll(); h.add((cos, eid))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          val qid = qs(qi)._1
          val out = Array.newBuilder[(Long, Long, Double)]
          while (!h.isEmpty) { val (cos, eid) = h.poll(); out += ((qid, eid, cos)) }
          out.result().iterator
        }
      }.toDF("qid", "eid", "approx")
    // global top-r per query by approx score (tie-break eid), then rerank
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("eid"))
    // ≤|Q|·r slim id pairs consumed twice (candidate-id prune + the exact
    // join): pin them so the ADC scoring pass over the corpus runs once;
    // the rerank's semi-join-pruned re-read of candidate VECTORS below is
    // intentional (holding corpus vectors would defeat the PQ compression)
    val cands = candScores.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= r)
      .select(col("qid"), col("eid"))
      .localCheckpoint()
    val candIds = cands.select(col("eid").as("cid")).distinct()
    val candVecs = corpus.select(col(idCol).cast("long").as("eid"), col(vecCol).as("__v"))
      .join(candIds, col("eid") === col("cid"), "left_semi")
    val exact = cands.join(candVecs, Seq("eid"))
      .select(col("qid"), col("eid"), col("__v"))
      .as[(Long, Long, Seq[Float])]
      .mapPartitions { it =>
        val qs = bcQ.value.map { case (id, q, qn, _) => id -> ((q, qn)) }.toMap
        it.map { case (qid, eid, ev) =>
          val e = quantizeJvm(ev)
          val (q, qn) = qs(qid)
          (qid, eid, cosJvm(dotJvm(q, e), qn, normJvm(e)))
        }
      }.toDF("qid", "eid", "cos")
    val wf = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("eid"))
    exact.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("cos"), col("rn"))
  }

  /** Distributed SRP-bucketed near-dup pairs — [[cosineNearDupPairs]]'s
    * scale path: NOTHING collects to the driver. Each vector hashes to
    * `tables` independent `bits`-wide sign-random-projection buckets in a
    * zero-shuffle kernel ([[srpBuckets]]); only (id, table,
    * bucket) rows shuffle into the bucket exchange; same-bucket pairs are
    * verified with the exact integer cosine after a semi-join-pruned
    * re-read of candidate vectors — the same candidate→verify shape as
    * MinHash dedup. Precision is exact (every emitted pair re-scored);
    * recall ≈ 1-(1-(1-θ/π)^bits)^tables where θ = acos(threshold) — SIZE
    * bits TO THE THRESHOLD: per-bit collision p = 1-θ/π is ~0.86 at τ=0.9
    * but only ~0.6 at τ=0.3, so defaults (12 bits) suit genuine near-dup
    * thresholds τ ≳ 0.9; loose thresholds need few bits (2-4) and more
    * tables, at the cost of bigger buckets. Oversized buckets
    * (≥ maxBucketSize members — degenerate clouds) are dropped, like the
    * text-LSH bucket cap. */
  def srpNearDupPairs(corpus: DataFrame, threshold: Double,
      bits: Int = 12, tables: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 1000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val in = corpus.select(col(idCol).cast("long").as("id"), col(vecCol))
    val sigSchema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("table", IntegerType, false),
      StructField("bucket", LongType, false)))
    val sigRows = in.as[(Long, Seq[Float])].mapPartitions { it =>
      it.flatMap { case (id, v) =>
        val b = srpBuckets(quantizeJvm(v), bits, tables)
        (0 until tables).iterator.map(t => org.apache.spark.sql.Row(id, t, b(t)))
      }
    }(org.apache.spark.sql.Encoders.row(sigSchema))
    val buckets = sigRows
      .groupBy(col("table"), col("bucket"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
    val candidates = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val candidateIds = candidates.select(col("id_a").as("cid"))
      .union(candidates.select(col("id_b"))).distinct()
    val vecs = in.join(candidateIds, col("id") === col("cid"), "left_semi")
    val scored = candidates
      .join(vecs.select(col("id").as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("__va"), col("__vb"))
      .as[(Long, Long, Seq[Float], Seq[Float])]
      .mapPartitions { it =>
        it.map { case (a, b, va, vb) =>
          val qa = quantizeJvm(va); val qb = quantizeJvm(vb)
          (a, b, cosJvm(dotJvm(qa, qb), normJvm(qa), normJvm(qb)))
        }
      }.toDF("id_a", "id_b", "cos")
    scored.filter(col("cos") >= threshold)
  }

  /** Embedding near-duplicate pairs: all (a<b) pairs with cosine ≥ τ.
    * Brute-force O(N²/2) with the right side broadcast (bounded corpus by
    * contract — this is the correctness baseline; [[srpNearDupPairs]] is
    * the scale path). Same mapPartitions kernel as [[bruteForceTopK]].
    *
    * The corpus is collected + broadcast, so the bounded-corpus contract is
    * enforced at runtime like [[collectProbes]]: `limit(cap+1)` + require
    * (conf `graft.ann.maxCorpusCollect`, default 100 000) — a user pointing
    * a real corpus here gets a named error routing to the scale path, not a
    * driver OOM. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cap = spark.conf.get("graft.ann.maxCorpusCollect", "100000").toInt
    val rows = corpus.select(col(idCol).cast("long"), col(vecCol))
      .limit(cap + 1).as[(Long, Seq[Float])].collect()
    require(rows.length <= cap,
      s"cosineNearDupPairs collects the WHOLE corpus (brute-force O(N²) " +
        s"baseline) and this one exceeds graft.ann.maxCorpusCollect=$cap " +
        "rows. Use srpNearDupPairs (bucketed SRP-LSH, the scale path) for " +
        "real corpora, or raise the conf if this set is genuinely bounded.")
    val prep = rows
      .map { case (id, v) => val q = quantizeJvm(v); (id, q, normJvm(q)) }
    val bc = spark.sparkContext.broadcast(prep)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (ida, va) =>
          val a = quantizeJvm(va)
          val na = normJvm(a)
          all.iterator.collect { case (idb, vb, nb) if ida < idb =>
            (ida, idb, cosJvm(dotJvm(a, vb), na, nb))
          }.filter(_._3 >= threshold)
        }
      }.toDF("id_a", "id_b", "cos")
  }

  /** SemDedup-style semantic deduplication: assign every vector to its
    * max-cosine centroid, then drop near-duplicates WITHIN each cluster
    * (greedy: the higher id of any pair at cosine ≥ τ is dropped).
    * Returns the kept corpus as
    * `(id, cluster_id)`.
    *
    * Clustering turns the O(N²) all-pairs scan into Σ|cluster|² — the
    * blocking that makes embedding dedup feasible at corpus scale. The
    * centroid set here is the deterministic seed set (lowest `nCentroids`
    * ids) so external engines can replay the exact assignment; production
    * would Lloyd-refine it ([[ivfTopK]]'s trainer) — every downstream step
    * is identical. Centroids broadcast (control-plane-sized); the corpus
    * shuffles ONCE on `cluster_id`; each cluster then streams through a
    * tight JVM pairwise kernel in its own task. `nCentroids` is the ONE
    * scale knob: at fixed centroids the pairwise work grows (N/k)² —
    * measured at 100× data, k=8: 29.6 s vs k=64: 2.7 s (11×) on the same
    * corpus — so size k to keep N/k near the cluster size you want
    * deduped in one task. A cluster past
    * `graft.semdedup.maxClusterSize` (default 2²⁰) fails with a named
    * error carrying the cluster id and size (the guardDegree
    * discipline) instead of burning an O(|cluster|²) task for hours.
    * Quantized integer math keeps every cosine bit-identical across
    * engines and parallelism. */
  def semanticDedup(emb: DataFrame, nCentroids: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = emb.filter(col(idCol) < nCentroids) // pushes to the scan
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect()
      .sortBy(_._1)
      .map { case (cid, v) => val q = quantizeJvm(v); (cid, q, normJvm(q)) }
    require(cents.nonEmpty, s"no centroid ids below $nCentroids")
    val bc = spark.sparkContext.broadcast(cents)
    // max-cosine assignment; strict > keeps the LOWEST centroid id on ties
    // (cents are cid-sorted) — replayable as ORDER BY cos DESC, cid LIMIT 1.
    // Vectors quantize ONCE here; the quantized form and its norm travel
    // through the cluster shuffle so the pairwise kernel never recomputes.
    val assigned = emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          val q = quantizeJvm(v); val nq = normJvm(q)
          var best = -2.0; var bestC = Long.MaxValue
          cs.foreach { case (cid, cq, nc) =>
            val cos = cosJvm(dotJvm(q, cq), nq, nc)
            if (cos > best) { best = cos; bestC = cid }
          }
          (bestC, id, q, nq)
        }
      }
    // one pass per cluster computes drops AND emits the kept rows — no
    // second scan of the corpus, no anti-join
    val maxCluster = spark.conf
      .getOption("graft.semdedup.maxClusterSize").map(_.toLong)
      .getOrElse(1L << 20)
    assigned
      .groupByKey(_._1)
      .flatMapGroups { (c, it) =>
        val m = it.map { case (_, id, q, nq) => (id, q, nq) }.toArray.sortBy(_._1)
        // the guardDegree discipline: a cluster past the cap means the
        // nCentroids knob is mis-sized for this corpus — fail with the
        // cluster id and size instead of running an O(|cluster|²) task
        // for hours (see the scaladoc's Σ|cluster|² scale contract)
        if (m.length > maxCluster)
          throw new IllegalArgumentException(
            s"semanticDedup: cluster $c has ${m.length} members, above " +
              s"graft.semdedup.maxClusterSize=$maxCluster - raise " +
              "nCentroids (keep clusters near corpus/nCentroids) or the cap")
        val dropped = scala.collection.mutable.HashSet.empty[Long]
        var i = 0
        while (i < m.length) {
          var j = i + 1
          while (j < m.length) {
            if (cosJvm(dotJvm(m(i)._2, m(j)._2), m(i)._3, m(j)._3) >= threshold)
              dropped += m(j)._1
            j += 1
          }
          i += 1
        }
        m.iterator.collect { case (id, _, _) if !dropped(id) => (id, c) }
      }.toDF("id", "cluster_id")
  }

  /** [[semanticDedup]] with the CORPUS-SCALED centroid count — the
    * operator default when the caller doesn't pin k. k = ⌈√N ·
    * `graft.semdedup.centroidsPerSqrtN`⌉ (default 1.0), clamped to
    * [1, 2²⁰]. √N balances the two cost terms: assignment is O(N·k·dim)
    * and the within-cluster pairwise prune is O((N²/k)·dim), so k = √N
    * makes BOTH N^1.5 — total work grows ~31.6× for 100× data instead of
    * the ~10 000× a fixed k degrades to (the round-8 sweep's worst
    * growth, 87.8× wall-clock at 100×, was exactly fixed-k q67; the k
    * knob was measured 11× cheaper at 8× more centroids on the same
    * corpus). The count is one control-plane job over the scan; the
    * resolved k is replayable by an external engine as
    * ceil(sqrt(count(*)) · multiplier). Callers with a known target
    * cluster size should still size k = N/targetSize explicitly. */
  def semanticDedupAuto(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    val mult = spark.conf
      .get("graft.semdedup.centroidsPerSqrtN", "1.0").toDouble
    require(mult > 0, s"graft.semdedup.centroidsPerSqrtN must be > 0: $mult")
    val n = emb.count()
    require(n > 0, "semanticDedupAuto: empty corpus")
    val k = math.min(1L << 20,
      math.max(1L, math.ceil(math.sqrt(n.toDouble) * mult).toLong)).toInt
    semanticDedup(emb, k, threshold, idCol, vecCol)
  }

  /** Embedding-space outlier detection: assign every vector to its
    * max-cosine seed centroid (identical assignment contract to
    * [[semanticDedup]] — deterministic, externally replayable), then flag
    * vectors whose squared-L2 distance to their centroid exceeds `factor`×
    * the cluster mean — likely junk/mis-embedded/adversarial documents
    * that no similarity pipeline should trust.
    *
    * Exactness: distances are integer sums over milli-quantized vectors
    * and the mean comparison is cross-multiplied integer arithmetic
    * (`dist·cnt > factor·Σdist`) — no division, no floats, bit-identical
    * everywhere. Scale shape: centroids broadcast, one narrow shuffle on
    * cluster_id for the stats aggregate, stats broadcast back (≤ k rows).
    * (At extreme cluster cardinalities the cross-product `dist·cnt` can
    * overflow long — ANSI mode throws rather than wraps; switch the
    * comparison to DECIMAL or double-mean at that point.) */
  def embeddingOutliers(emb: DataFrame, nCentroids: Int, factor: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = emb.filter(col(idCol) < nCentroids)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect()
      .sortBy(_._1)
      .map { case (cid, v) => val q = quantizeJvm(v); (cid, q, normJvm(q)) }
    require(cents.nonEmpty, s"no centroid ids below $nCentroids")
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          val q = quantizeJvm(v); val nq = normJvm(q)
          var best = -2.0; var bestC = Long.MaxValue; var bestQ: Array[Long] = null
          cs.foreach { case (cid, cq, nc) =>
            val cos = cosJvm(dotJvm(q, cq), nq, nc)
            if (cos > best) { best = cos; bestC = cid; bestQ = cq }
          }
          var dist = 0L; var i = 0
          while (i < q.length) {
            val dlt = q(i) - bestQ(i); dist += dlt * dlt; i += 1
          }
          (id, bestC, dist)
        }
      }.toDF("vec_id", "cluster_id", "dist")
    val stats = assigned.groupBy(col("cluster_id"))
      .agg(sum(col("dist")).as("sum_dist"), count(lit(1)).as("cnt"))
    assigned.join(broadcast(stats), Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("dist"),
        (col("dist") * col("cnt") > lit(factor.toLong) * col("sum_dist"))
          .as("is_outlier"))
  }

  /** Per-vector affine 8-bit quantization audit — the storage-compression
    * step of a large ANN corpus (uint8 codes + per-vector (min, range)
    * scale = 4× smaller than float32, the faiss `SQ8` shape), reported as
    * codes plus the exact total reconstruction error so a pipeline can
    * gate quantization on measured fidelity before swapping the index.
    *
    * Exactness contract: everything runs in the milli-quantized integer
    * domain of [[quantize]]. Codes are `floor((q-min)·255 / range)` with
    * the division done in DOUBLE on a numerator < 2^53 — both engines
    * perform the identical IEEE divide+floor, so codes, reconstructions
    * (`min + floor(code·range/255)`) and the absolute-error sum are
    * cross-engine bit-identical (a raw float pipeline would not be:
    * error sums are order-dependent).
    *
    * Scale shape: pure per-row projection — NO shuffle, no explode; the
    * whole audit rides the parquet scan. Constant-range vectors quantize
    * to all-zero codes (range 0) and reconstruct exactly.
    *
    * @return (vec_id, n_dims, vmin, vrange, max_code, abs_err)
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = quantize(col(vecCol))
    def codeOf(x: Column, vmin: Column, vrange: Column): Column =
      when(vrange === 0L, lit(0L)).otherwise(
        floor(((x - vmin) * 255L).cast("double") / vrange).cast("long"))
    def reconOf(c: Column, vmin: Column, vrange: Column): Column =
      vmin + floor((c * vrange).cast("double") / 255d).cast("long")
    emb
      .select(col(idCol), q.as("qv"))
      .select(col(idCol), col("qv"),
        array_min(col("qv")).as("vmin"),
        (array_max(col("qv")) - array_min(col("qv"))).as("vrange"))
      .select(col(idCol), col("qv"), col("vmin"), col("vrange"),
        transform(col("qv"), x => codeOf(x, col("vmin"), col("vrange"))).as("codes"))
      .select(col(idCol),
        size(col("qv")).cast("long").as("n_dims"),
        col("vmin"), col("vrange"),
        array_max(col("codes")).as("max_code"),
        aggregate(
          zip_with(col("qv"), col("codes"),
            (x, c) => abs(x - reconOf(c, col("vmin"), col("vrange")))),
          lit(0L), (acc, e) => acc + e).as("abs_err"))
  }

  /** Item-item cosine similarity over co-occurrence sets (the
    * neighborhood model behind "customers also bought"): for items i, j
    * with basket counts cᵢ, cⱼ and co-count cᵢⱼ,
    * cos = cᵢⱼ/√(cᵢ·cⱼ) — the binary-vector cosine. Quantized to a long
    * (⌊·10⁶⌋ of a fixed double tree over exact counts: the product cᵢ·cⱼ
    * stays a long, one IEEE sqrt, one division) so the top-k order is
    * integer-exact.
    *
    * Scale shape: baskets are bounded (order lines), so pairs expand
    * IN-ROW from one collect_set per basket — codegen double-explode,
    * never a self-join of the item×basket table (the q102 lesson).
    * `minSupport` prunes the long pair tail BEFORE the count joins, and
    * the result is a TakeOrdered, never a global sort. Unbounded baskets
    * would cap the set before expansion (the LSH bucket-cap pattern).
    */
  def itemCosinePairs(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, topK: Int = 100): DataFrame = {
    val sets = baskets.groupBy(col(basketCol))
      .agg(collect_set(col(itemCol)).as("__is"))
      .localCheckpoint() // feeds both the pair expansion and item counts
    val ci = sets.select(explode(col("__is")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("c"))
    val pairs = sets
      .select(col("__is"), explode(col("__is")).as("item_a"))
      .select(col("item_a"), explode(col("__is")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    val cos = floor((col("c_ab").cast("double") * lit(1000000.0)) /
      sqrt((col("c_a") * col("c_b")).cast("double"))).cast("long")
    pairs
      .join(ci.withColumnRenamed("item", "item_a")
        .withColumnRenamed("c", "c_a"), Seq("item_a"))
      .join(ci.withColumnRenamed("item", "item_b")
        .withColumnRenamed("c", "c_b"), Seq("item_b"))
      .withColumn("cos_x6", cos)
      .select(col("item_a"), col("item_b"), col("c_a"), col("c_b"),
        col("c_ab"), col("cos_x6"))
      .orderBy(col("cos_x6").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }
}
