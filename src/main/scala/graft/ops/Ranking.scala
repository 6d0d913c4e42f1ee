package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked-list fusion and ranking-quality evaluation — the serving-side
  * complement of the retrieval operators ([[Retrieval.bm25TopK]], the ANN
  * family) and the ranking analogue of the classifier-eval suite
  * (`Stats.aucByGroup` / `calibrationBins` / `cohenKappa`).
  *
  * Scale posture: every input here is a top-k ranked list — control-plane
  * sized BY CONTRACT (the expensive part, producing the lists, is the
  * retrieval operator's job and is audited there). Fusion and the NDCG
  * curve are joins/windows over ≤k rows; the only full-corpus pass is the
  * caller-supplied relevance frame, and its top-k ideal ranking is taken
  * with orderBy+limit (TakeOrderedAndProject: per-partition heaps, no
  * global sort or single-partition window).
  *
  * Numeric contract (cross-engine exactness, same discipline as the BM25
  * scoring tree): every transcendental is quantized to a LONG immediately —
  * RRF contributions as floor(1e12/(k0+rank)), NDCG discounts as
  * floor(1e6/log2(rank+1)) — so every SUM is a sum of longs (exact,
  * order-free under any partitioning); doubles appear only in one final
  * division.
  */
object Ranking {

  /** Quantized reciprocal-rank-fusion contribution of one rank. */
  def rrfContrib(rank: Column, k0: Int): Column =
    floor(lit(1e12) / (lit(k0) + rank)).cast("long")

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher) of named ranked
    * lists. Each input frame is `(id, rank)` with rank 1-based; a document
    * missing from a list contributes 0 (the standard RRF convention) but
    * keeps its NULL per-list rank in the output for provenance.
    *
    * @return (id, <name>_rank..., rrf_x12) — one row per document seen in
    *         any list, rrf_x12 the exact long fusion score
    */
  def rrfFuse(lists: Seq[(String, DataFrame)], k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(lists.map(_._1).distinct.size == lists.size,
      "rrfFuse list names must be distinct")
    val renamed = lists.map { case (name, df) =>
      df.select(col("id"), col("rank").cast("int").as(s"${name}_rank")) }
    val joined = renamed.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val score = lists.map { case (name, _) =>
      coalesce(rrfContrib(col(s"${name}_rank"), k0), lit(0L)) }
      .reduce(_ + _)
    joined.withColumn("rrf_x12", score)
  }

  /** Quantized NDCG log2 discount for a 1-based rank. */
  def ndcgDiscount(rank: Column): Column =
    floor(lit(1e6) / log2(rank + lit(1))).cast("long")

  /** Cumulative NDCG@r curve (plus MRR) for a ranked list against graded
    * relevance labels.
    *
    * @param ranked top-k ranked list `(id, rn)`, rn 1-based and dense
    * @param rel    full relevance frame `(id, rel)`, rel a small int grade
    *               (missing ids are treated as rel 0)
    * @param k      curve depth; the ideal ranking is the corpus top-k by
    *               (rel desc, id) via TakeOrderedAndProject
    * @return (rn, id, rel, dcg_x6, idcg_x6, ndcg, mrr_x6) — dcg terms are
    *         exact longs of (2^rel − 1) · floor(1e6/log2(rn+1)); ndcg one
    *         final double division (NULL while idcg is 0); mrr_x6 =
    *         floor(1e6 / first-relevant-rank), NULL if nothing relevant
    */
  def ndcgCurve(ranked: DataFrame, rel: DataFrame, k: Int): DataFrame = {
    val gain = (c: Column) => (pow(lit(2.0), c) - lit(1.0)).cast("long")
    // ranked side: ≤ k rows by contract — windows below are control-plane
    val got = ranked.join(rel, Seq("id"), "left")
      .na.fill(0, Seq("rel"))
      .withColumn("term", gain(col("rel")) * ndcgDiscount(col("rn")))
      .withColumn("dcg_x6",
        sum(col("term")).over(Window.orderBy(col("rn"))).cast("long"))
    // ideal ranking: top-k of the relevance scan via per-partition heaps;
    // the window then runs over k rows only
    val idealTop = rel.orderBy(col("rel").desc, col("id")).limit(k)
    val ideal = idealTop
      .withColumn("rn",
        row_number().over(Window.orderBy(col("rel").desc, col("id"))))
      .withColumn("iterm", gain(col("rel")) * ndcgDiscount(col("rn")))
      .withColumn("idcg_x6",
        sum(col("iterm")).over(Window.orderBy(col("rn"))).cast("long"))
      .select(col("rn"), col("idcg_x6"))
    val mrr = got.agg(
      floor(lit(1e6) / min(when(col("rel") > 0, col("rn"))))
        .cast("long").as("mrr_x6"))
    // left join + running max: a rel frame with fewer than k rows yields a
    // short ideal list; past its end the ideal gains are 0, so the correct
    // cumulative IDCG is flat — the max-so-far of a non-decreasing series
    got.join(ideal, Seq("rn"), "left")
      .withColumn("idcg_x6",
        max(col("idcg_x6")).over(Window.orderBy(col("rn"))).cast("long"))
      .crossJoin(broadcast(mrr))
      .select(col("rn"), col("id"), col("rel"), col("dcg_x6"), col("idcg_x6"),
        when(col("idcg_x6") > 0,
          col("dcg_x6").cast("double") / col("idcg_x6")).as("ndcg"),
        col("mrr_x6"))
  }

  /** Average-precision curve for a BINARY-relevance ranking — the set-
    * retrieval quality number ([[ndcgCurve]] is the graded companion):
    * AP = mean over relevant retrieved ranks of precision@that-rank,
    * normalized by the number of relevant docs the ranking COULD have
    * retrieved, min(total relevant, k) — the standard AP@k convention, so
    * a perfect k-list scores 1e6 even when the corpus holds > k positives.
    *
    * Exact integers: hits@r is a running count, each precision term
    * floor(1e6·hits/r) a BIGINT division, and AP one final BIGINT
    * division of their sum — no float anywhere.
    *
    * @param ranked (id, rn) rows, rn dense from 1, ≤ k rows BY CONTRACT
    *               (a top-k list — the windows here are control-plane)
    * @param rel    (id, rel) graded labels; relevant ⇔ rel ≥ relThreshold.
    *               Scanned once for the positives count.
    * @return per-rank rows (rn, id, is_rel, hits, p_x6) + constant
    *         (n_rel, ap_x6); p_x6 non-NULL only at relevant ranks */
  def apCurve(ranked: DataFrame, rel: DataFrame, k: Int,
      relThreshold: Int = 1): DataFrame = {
    val labeled = ranked.join(rel, Seq("id"), "left")
      .withColumn("is_rel",
        coalesce(col("rel"), lit(0)) >= lit(relThreshold))
      .withColumn("hits",
        sum(when(col("is_rel"), 1L).otherwise(0L))
          .over(Window.orderBy(col("rn"))).cast("long"))
      .withColumn("p_x6",
        when(col("is_rel"),
          expr("(hits * CAST(1000000 AS BIGINT)) div rn")))
    val totals = rel
      .agg(sum(when(col("rel") >= lit(relThreshold), 1L).otherwise(0L))
        .as("n_rel"))
      .withColumn("__denom", least(col("n_rel"), lit(k.toLong)))
    val ap = labeled.agg(
      coalesce(sum(col("p_x6")), lit(0L)).as("__psum"))
    labeled.select(col("rn"), col("id"), col("is_rel"), col("hits"),
        col("p_x6"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(ap))
      .withColumn("ap_x6",
        when(col("__denom") > 0L, expr("__psum div __denom")).otherwise(0L))
      .drop("__denom", "__psum")
  }

  /** Maximal-marginal-relevance (Carbonell/Goldstein) diversified top-k:
    * greedily re-rank a retrieval shortlist so each pick balances
    * relevance against redundancy with what is already picked —
    * `argmax λ·rel − (1−λ)·max_{s∈selected} cos(c, s)` — the standard
    * diversifier for RAG context assembly and eval-set construction
    * (q283), where near-duplicate top hits waste the context budget.
    *
    * Exact integer scoring: λ is a milli-unit weight, cosines use the
    * engine-wide integer-quantized kernel ([[Similarity.quantizeJvm]],
    * the q43-gated cross-engine contract) floored to 1e-9 units, and the
    * argmax compares `λm·rel − (1000−λm)·sim_x9` — longs on both engines
    * (the positive scale factor 1000 never changes an argmax). Ties
    * break by id ascending; the first pick maximizes λm·rel (empty
    * selected set contributes max-sim 0, the standard convention).
    *
    * Scale posture: MMR is quadratic in its candidate count BY NATURE —
    * it is a control-plane RERANK of an already-shortlisted candidate
    * set (bm25TopK / ANN top-k do the corpus-scale work), never a corpus
    * operator. The candidate frame is therefore collected behind a loud
    * `maxCandidates` cap (the [[Similarity.collectProbes]] discipline:
    * `limit(cap+1)`, no extra counting pass) and the greedy loop runs
    * in-driver over ≤ cap rows; candidates without a vector row are
    * dropped by the inner join on BOTH engines.
    *
    * @param candidates (idCol, relCol) shortlist; relCol an exact LONG
    *                   relevance (e.g. BM25 `round(score·1e9)`)
    * @param vectors    (vecIdCol, vecCol) embedding side, inner-joined
    * @param lambdaMilli λ in [0, 1000] milli-units (700 = λ 0.7)
    * @return (rn, id, rel_x9, max_sim_x9, mmr_x) — rn 1-based pick
    *         order; mmr_x the exact long argmax score of that pick
    */
  def mmrDiversify(candidates: DataFrame, vectors: DataFrame, k: Int,
      lambdaMilli: Int = 700, maxCandidates: Int = 4096,
      idCol: String = "id", relCol: String = "rel_x9",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"mmrDiversify k must be >= 1, got $k")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000,
      s"mmrDiversify lambdaMilli must be in [0, 1000], got $lambdaMilli")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .select(col(idCol).cast("long").as("id"), col(relCol).cast("long").as("rel"))
      .join(vectors.select(col(vecIdCol).cast("long").as("id"), col(vecCol).as("v")), "id")
      .limit(maxCandidates + 1)
      .as[(Long, Long, Seq[Float])].collect()
    require(rows.length <= maxCandidates,
      s"mmrDiversify: candidate set exceeds maxCandidates=$maxCandidates rows — " +
        "MMR is a control-plane rerank of a shortlist; run bm25TopK / an ANN " +
        "top-k first, or raise maxCandidates if the shortlist is genuinely this large.")
    val cs = rows.map { case (id, rel, v) =>
      val q = Similarity.quantizeJvm(v)
      (id, rel, q, Similarity.normJvm(q))
    }.sortBy(_._1)
    val lam = lambdaMilli.toLong
    val mu = 1000L - lam
    val remaining = scala.collection.mutable.LinkedHashMap(
      cs.toIndexedSeq.map(c => c._1 -> c): _*)
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Array[Long], Long)]
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
    var rn = 1
    while (rn <= k && remaining.nonEmpty) {
      var bestId = 0L; var bestRel = 0L; var bestMs = 0L
      var bestScore = Long.MinValue; var found = false
      remaining.valuesIterator.foreach { case (id, rel, v, n) =>
        var ms = 0L
        if (sel.nonEmpty) {
          ms = Long.MinValue
          sel.foreach { case (sv, sn) =>
            val s9 = math.floor(
              Similarity.cosJvm(Similarity.dotJvm(v, sv), n, sn) * 1e9).toLong
            if (s9 > ms) ms = s9
          }
        }
        val score = lam * rel - mu * ms
        if (!found || score > bestScore || (score == bestScore && id < bestId)) {
          found = true; bestScore = score; bestId = id; bestRel = rel; bestMs = ms
        }
      }
      picked += ((rn, bestId, bestRel, bestMs, bestScore))
      val c = remaining.remove(bestId).get
      sel += ((c._3, c._4))
      rn += 1
    }
    picked.toSeq.toDF("rn", "id", "rel_x9", "max_sim_x9", "mmr_x")
  }
}
