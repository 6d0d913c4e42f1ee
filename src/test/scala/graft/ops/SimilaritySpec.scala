package graft.ops

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()

  test("cosine: self-similarity 1.0 (within quantization), symmetric") {
    // the exact quantized cosine the top-k kernels score with, all pairs
    val five = emb.filter($"vec_id" < 5)
    val cos = Similarity.bruteForceTopK(five, five, k = 5, excludeSelf = false)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cos.size == 25)
    for (a <- 0L until 5L) assert(math.abs(cos((a, a)) - 1.0) < 1e-12)
    for (a <- 0L until 5L; b <- 0L until 5L) assert(cos((a, b)) == cos((b, a)))
  }

  test("probe-set contract guard: a corpus-sized query side fails fast " +
      "with the swap-the-arguments message, never a driver OOM; the cap " +
      "is configurable via graft.ann.maxProbe") {
    spark.conf.set("graft.ann.maxProbe", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.bruteForceTopK(emb, emb.limit(5), k = 2).count()
      }
      assert(e.getMessage.contains("graft.ann.maxProbe"))
      // raising the cap admits the same probe set
      spark.conf.set("graft.ann.maxProbe", "10")
      assert(Similarity.bruteForceTopK(emb, emb.limit(5), k = 2).count() > 0)
    } finally spark.conf.unset("graft.ann.maxProbe")
  }

  test("bounded-corpus contract guard: cosineNearDupPairs fails fast with " +
      "the route-to-srpNearDupPairs message past graft.ann.maxCorpusCollect, " +
      "never a driver OOM; raising the cap admits the same corpus") {
    spark.conf.set("graft.ann.maxCorpusCollect", "7")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.cosineNearDupPairs(emb.limit(9), threshold = 0.5).count()
      }
      assert(e.getMessage.contains("graft.ann.maxCorpusCollect"))
      assert(e.getMessage.contains("srpNearDupPairs"))
      spark.conf.set("graft.ann.maxCorpusCollect", "20")
      // count ≥ 0 = the pipeline executes; pair content is q50's oracle
      assert(Similarity.cosineNearDupPairs(emb.limit(9), threshold = -1.0)
        .count() == 9L * 8 / 2)
    } finally spark.conf.unset("graft.ann.maxCorpusCollect")
  }

  test("brute-force top-k: k rows per query, descending, no self-match") {
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5), k = 10)
      .as[(Long, Long, Double, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      assert(rows.length == 10)
      assert(!rows.exists(r => r._2 == r._1))
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("IVF top-k: prunes most of the corpus yet keeps recall vs brute force") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 6)
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(a => (a intersect ids).size.toDouble / ids.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean IVF recall@10 = $mean (nprobe=6/nlist=16)")
    // with nprobe=nlist, IVF degenerates to exact brute force
    val full = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 16)
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(full == exact)
  }

  test("IVF Lloyd refinement: deterministic, recall not degraded, exact at full probe") {
    val queries = emb.filter($"vec_id" < 20)
    def run() = Similarity.ivfTopK(emb, queries, k = 10,
      nlist = 16, nprobe = 6, refineIters = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val a = run()
    assert(a == run()) // integer-sum recentering → bit-deterministic
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = a.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(x => (x intersect ids).size.toDouble / ids.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean refined-IVF recall@10 = $mean")
    // refinement must not break the exhaustive-probe exactness contract
    val full = Similarity.ivfTopK(emb, queries, k = 10,
      nlist = 16, nprobe = 16, refineIters = 2)
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(full == exact)
  }

  test("PQ top-k: deterministic, exact reranked cosines, recall vs brute force") {
    val queries = emb.filter($"vec_id" < 20)
    def run() = Similarity.pqTopK(emb, queries, k = 10, m = 8, ksub = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    val a = run()
    assert(a == run()) // integer codebook training → bit-deterministic
    val exactRows = Similarity.bruteForceTopK(emb, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect()
    val exactCos = exactRows.map(r => (r._1, r._2) -> r._3).toMap
    // reranked candidates carry EXACT cosines — any (qid, eid) PQ shares
    // with brute force must have the identical score
    a.foreach { case (qid, eid, cos, _) =>
      exactCos.get((qid, eid)).foreach(c => assert(c == cos, s"($qid,$eid): $c != $cos"))
    }
    val exact = exactRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = a.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(x => (x intersect ids).size.toDouble / ids.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean PQ recall@10 = $mean (m=8, ksub=16, rerank=40)")
  }

  test("SRP near-dup pairs: exact subset of brute force, usable recall, no driver collect") {
    val sub = emb.filter($"vec_id" < 500)
    val brute = Similarity.cosineNearDupPairs(sub, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    // τ=0.3 is a LOOSE threshold (θ≈72°, per-bit collision ~0.6) — size
    // bits down per the scaladoc formula; 2 bits × 8 tables → recall ≳ 0.9
    val srp = Similarity.srpNearDupPairs(sub, threshold = 0.3, bits = 2, tables = 8)
      .as[(Long, Long, Double)].collect().toSet
    // precision exact: every emitted pair is re-scored with the same kernel
    assert(srp.subsetOf(brute), s"SRP emitted ${(srp -- brute).take(3)} not in brute force")
    val recall = if (brute.isEmpty) 1.0 else srp.size.toDouble / brute.size
    assert(recall >= 0.7, s"SRP near-dup recall = $recall (bits=2, tables=8)")
  }

  test("sq8TopK: rerank >= |corpus| reproduces brute force exactly; " +
      "recall at tight rerank stays high (8-bit codes preserve geometry)") {
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    // every corpus row survives to the exact rerank → bit-identical
    val full = Similarity.sq8TopK(emb, queries, k = 10, rerank = Int.MaxValue)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full == exact)
    val tight = Similarity.sq8TopK(emb, queries, k = 10, rerank = 40)
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exactByQ = exact.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val recalls = exactByQ.map { case (q, ids) =>
      tight.get(q).map(a => (a intersect ids).size.toDouble / ids.size)
        .getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@10 = $mean")
  }

  test("semanticDedup: graft.semdedup.maxClusterSize fails with a named " +
      "error carrying the cluster id instead of an O(n^2) task") {
    spark.conf.set("graft.semdedup.maxClusterSize", "3")
    try {
      val err = intercept[Exception] {
        Similarity.semanticDedup(emb, nCentroids = 1, threshold = 0.99)
          .collect()
      }
      assert(err.getMessage.contains("maxClusterSize"), err.getMessage)
      // under the cap: same corpus passes with enough centroids
      spark.conf.set("graft.semdedup.maxClusterSize", "1000000")
      assert(Similarity.semanticDedup(emb, nCentroids = 1, threshold = 0.99)
        .count() > 0)
    } finally spark.conf.unset("graft.semdedup.maxClusterSize")
  }

  test("semanticDedupAuto: resolves k = ceil(sqrt(N) * multiplier) and is " +
      "identical to the explicit-k call") {
    val n = emb.count()
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    val auto = Similarity.semanticDedupAuto(emb, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Similarity.semanticDedup(emb, k, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed, s"auto-k ($k) result diverged from explicit k")
    // the multiplier knob moves k (coarser clustering = fewer centroids)
    spark.conf.set("graft.semdedup.centroidsPerSqrtN", "0.25")
    try {
      val coarse = Similarity.semanticDedupAuto(emb, threshold = 0.3)
        .select(col("cluster_id")).distinct().count()
      val fine = auto.map(_._2).size
      assert(coarse <= fine, s"coarse=$coarse fine=$fine")
    } finally spark.conf.unset("graft.semdedup.centroidsPerSqrtN")
  }

  test("semanticDecontaminate: planted copy flagged with its bench id, " +
      "unrelated rows clean, ties to the lowest bench id, empty bench " +
      "flags nothing; layout-invariant") {
    val v1 = Seq.tabulate(8)(i => (i + 1).toFloat)
    val v2 = Seq.tabulate(8)(i => (if (i % 2 == 0) 1f else -1f) * (9 - i))
    val bench = Seq((100L, v1), (101L, v1), (102L, v2))
      .toDF("vec_id", "embedding") // 100 and 101 identical: tie case
    val corpus = Seq(
      (1L, v1), // exact copy of bench 100/101 → cos 1, lowest id wins
      (2L, v1.map(-_)), // anti-parallel → cos -1, never flagged
      (3L, Seq.tabulate(8)(i => if (i == 0) 1f else 0f))) // ~orthogonal-ish
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench,
        threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.map(t => (t._1, t._2)) == Set((1L, 100L)), s"got $got")
    assert(got.head._3 > 0.999)
    // layout invariance: repartitioned corpus yields identical bits
    val rep = Similarity.semanticDecontaminate(corpus.repartition(5),
        bench, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(rep == got)
    // empty bench: nothing flagged (and no crash)
    assert(Similarity.semanticDecontaminate(corpus,
      bench.filter($"vec_id" < 0), threshold = -2.0).count() == 0)
  }

  test("embeddingOutliers: planted far vector flagged, cluster members not") {
    // 20 near-identical vectors around two centroid seeds + one far point
    def vec(base: Float, jitter: Float) = Seq.tabulate(8)(i =>
      base + (if (i == 0) jitter else 0f))
    val rows = (0L until 10L).map(i => (i, vec(1f, i * 0.001f))) ++
      (10L until 20L).map(i => (i, vec(-1f, (i - 10) * 0.001f))) ++
      Seq((20L, Seq.tabulate(8)(i => if (i % 2 == 0) 5f else 1f)))
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>"))
    val out = Similarity.embeddingOutliers(df, nCentroids = 2, factor = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("is_outlier")).toMap
    assert(out(20L), "the far vector must be flagged")
    assert((0L until 20L).forall(i => !out(i)), "tight cluster members must not")
  }

  test("near-dup pairs: symmetric threshold filter, a<b ordering") {
    val sub = emb.filter($"vec_id" < 100)
    val pairs = Similarity.cosineNearDupPairs(sub, threshold = 0.2)
      .as[(Long, Long, Double)].collect()
    assert(pairs.forall(p => p._1 < p._2))
    assert(pairs.forall(_._3 >= 0.2))
  }

  test("quantizeInt8: codes in [0,255], constant vector exact, " +
      "per-dim error bounded by one quantization step") {
    val df = Seq(
      (1L, Seq(0.0f, 1.0f, 2.0f, 3.0f)),   // evenly spread
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f)),   // constant → range 0
      (3L, Seq(-1.25f, 0.0f, 4.75f, 2.5f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>"))
    val out = Similarity.quantizeInt8(df)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // (vec_id, n_dims, vmin, vrange, max_code, abs_err)
    assert(out(2L) == ((2L, 4L, 500L, 0L, 0L, 0L)), "constant vector is lossless")
    val (_, n1, _, r1, mc1, err1) = out(1L)
    assert(mc1 == 255L, "max element must map to the top code")
    assert(err1 <= n1 * (r1 / 255 + 1), "per-dim error bounded by one step")
    val (_, n3, vmin3, r3, mc3, err3) = out(3L)
    assert(vmin3 == -1250L && r3 == 6000L && mc3 == 255L)
    assert(err3 <= n3 * (r3 / 255 + 1))
  }

  test("itemCosinePairs: binary cosine over co-baskets, min-support, " +
      "in-basket duplicates count once") {
    // baskets: {1,2} {1,2} {1,3} {2}; item counts 1→3 2→3 3→1.
    // pair (1,2) co-count 2 → cos = 2/√9 = 2/3; (1,3) pruned (support 1).
    val b = Seq((10L, 1L), (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L), (13L, 2L)).toDF("basket", "item")
    val got = Similarity.itemCosinePairs(b, "basket", "item").collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L && r.getLong(4) == 2L)
    assert(r.getLong(5) == math.floor(2e6 / 3.0).toLong) // 666666
    // support 1 keeps the (1,3) pair too: cos = 1/√3
    val all = Similarity.itemCosinePairs(b, "basket", "item",
      minSupport = 1L).collect()
    assert(all.length == 2)
    assert(all.map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toSet ==
      Set((1L, 2L, 666666L), (1L, 3L, math.floor(1e6 / math.sqrt(3.0)).toLong)))
  }

  test("hardNegatives: same-label rows excluded inside the kernel; " +
      "ranking by cosine desc with id tie-break; probe cap enforced") {
    val emb = Seq(
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0.9f, 0.1f), 0), // same label as probe → never a negative
      (3L, Seq(0.8f, 0.2f), 1), // closest different-label
      (4L, Seq(0f, 1f), 1))     // orthogonal different-label
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb, emb.filter($"vec_id" === 1L), k = 2)
      .orderBy($"rn").collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(3L, 4L)) // eids, hard first
    assert(got.map(_.getInt(5)).toSeq == Seq(1, 2))
    assert(got.forall(r => r.getLong(3) != r.getLong(1))) // e_label ≠ q_label
    assert(got.head.getDouble(4) > 0.96 && got.last.getDouble(4) == 0.0)

    spark.conf.set("graft.ann.maxProbe", "2")
    try {
      val err = intercept[IllegalArgumentException] {
        Similarity.hardNegatives(emb, emb, k = 1).collect()
      }
      assert(err.getMessage.contains("maxProbe"))
    } finally spark.conf.unset("graft.ann.maxProbe")
  }
}
