package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int) =
    (1 to n).map(i => (i.toLong, (i % 7 + 1).toLong, ((i * 31) % 13).toLong))
      .toDF("doc_id", "nt", "fp")

  test("packSequences: offsets are the exclusive prefix sum in key order") {
    val out = Packing.packSequences(corpus(50), "doc_id", "nt",
      Seq("fp", "doc_id"), seqTokens = 10)
    val rows = out.orderBy("start_tok").collect()
    assert(rows.length == 50)
    var expect = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("start_tok") == expect)
      assert(r.getAs[Long]("seq_id") == expect / 10)
      assert(r.getAs[Long]("seq_pos") == expect % 10)
      expect += r.getAs[Long]("n_tokens")
    }
    // layout order is (fp, doc_id), not input order
    val byKey = corpus(50).orderBy("fp", "doc_id").select("doc_id")
      .as[Long].collect()
    assert(out.orderBy("start_tok").select("id").as[Long].collect()
      .sameElements(byKey))
  }

  test("packSequences: invariant under input partitioning and partition count") {
    val base = Packing.packSequences(corpus(80), "doc_id", "nt",
      Seq("fp", "doc_id"), seqTokens = 16).orderBy("id").collect()
    for (shape <- Seq(corpus(80).repartition(7), corpus(80).coalesce(1));
         parts <- Seq(2, 5)) {
      val other = Packing.packSequences(shape, "doc_id", "nt",
        Seq("fp", "doc_id"), seqTokens = 16, partitions = parts)
        .orderBy("id").collect()
      assert(other.sameElements(base))
    }
    // the statistics family's prefix sum runs the same two-phase plan
    val sums = Packing.prefixSum(corpus(80), "doc_id", "nt",
      Seq("fp", "doc_id"), "cum", inclusive = true).orderBy("doc_id").collect()
    assert(sums.map(r => r.getLong(2) - r.getLong(1)).toSeq ==
      base.map(_.getAs[Long]("start_tok")).toSeq)
    for (shape <- Seq(corpus(80).repartition(7), corpus(80).coalesce(1));
         parts <- Seq(2, 5)) {
      val other = Packing.prefixSum(shape, "doc_id", "nt", Seq("fp", "doc_id"),
        "cum", inclusive = true, partitions = parts).orderBy("doc_id").collect()
      assert(other.sameElements(sums))
    }
  }

  test("packSequences: degenerate partition counts (1, n rows, 2n rows)") {
    // The two-phase prefix sum must survive the edges: everything in ONE
    // partition (phase-2 base offsets collapse to [0]), one partition PER
    // row, and more partitions than rows (empty partitions must contribute
    // zero to the running base, not shift it).
    val n = 30
    val base = Packing.packSequences(corpus(n), "doc_id", "nt",
      Seq("fp", "doc_id"), seqTokens = 8).orderBy("id").collect()
    for (parts <- Seq(1, n, 2 * n)) {
      val out = Packing.packSequences(corpus(n), "doc_id", "nt",
        Seq("fp", "doc_id"), seqTokens = 8, partitions = parts)
        .orderBy("id").collect()
      assert(out.sameElements(base), s"partitions=$parts")
    }
  }

  test("packSequencesGrouped: offsets restart per group, invariant under " +
      "partitioning incl. degenerate counts") {
    val docs = (1 to 60).map(i =>
      (i.toLong, (i % 3).toLong, (i % 5 + 1).toLong, ((i * 17) % 11).toLong))
      .toDF("doc_id", "grp", "nt", "fp")
    val base = Packing.packSequencesGrouped(docs, "grp", "doc_id", "nt",
      Seq("fp", "doc_id"), seqTokens = 8).orderBy("id").collect()
    // per group: ordering by (fp, doc_id) gives the exclusive prefix sum
    base.groupBy(_.getAs[Long]("group")).values.foreach { rows =>
      var expect = 0L
      rows.sortBy(_.getAs[Long]("start_tok")).foreach { r =>
        assert(r.getAs[Long]("start_tok") == expect)
        expect += r.getAs[Long]("n_tokens")
      }
    }
    // partition-shape invariance, including 1, n-rows, 2n-rows
    for (parts <- Seq(1, 7, 60, 120)) {
      val out = Packing.packSequencesGrouped(docs.repartition(5), "grp",
        "doc_id", "nt", Seq("fp", "doc_id"), seqTokens = 8, partitions = parts)
        .orderBy("id").collect()
      assert(out.sameElements(base), s"partitions=$parts")
    }
    // grouped prefix sum over a value axis ordered by its own key
    val byId = Packing.prefixSum(docs, "doc_id", "nt", Seq("doc_id"), "cum",
      group = Some("grp")).orderBy("doc_id").collect()
    byId.groupBy(_.getAs[Long]("grp")).values.foreach { rows =>
      var expect = 0L
      rows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("cum") == expect)
        expect += r.getAs[Long]("nt")
      }
    }
    for (parts <- Seq(1, 7, 60, 120)) {
      val out = Packing.prefixSum(docs.repartition(5), "doc_id", "nt",
        Seq("doc_id"), "cum", group = Some("grp"), partitions = parts)
        .orderBy("doc_id").collect()
      assert(out.sameElements(byId), s"partitions=$parts")
    }
  }

  test("packSequences: null/zero token docs occupy no tokens but keep a slot") {
    val docs = Seq((1L, 5L, 1L), (2L, 0L, 2L), (3L, 3L, 3L))
      .toDF("doc_id", "nt", "fp")
    val out = Packing.packSequences(docs, "doc_id", "nt",
      Seq("fp", "doc_id"), seqTokens = 4).orderBy("id").collect()
    assert(out.map(_.getAs[Long]("start_tok")).toSeq == Seq(0L, 5L, 5L))
    // prefixSum: a NULL value counts 0, exclusive and inclusive alike
    val nulls = Seq((1L, Some(5L)), (2L, None), (3L, Some(3L)))
      .toDF("doc_id", "nt")
    for ((inclusive, expect) <- Seq(false -> Seq(0L, 5L, 5L),
        true -> Seq(5L, 5L, 8L))) {
      val sums = Packing.prefixSum(nulls, "doc_id", "nt", Seq("doc_id"), "cum",
        inclusive = inclusive).orderBy("doc_id").collect()
      assert(sums.map(_.getAs[Long]("cum")).toSeq == expect)
      assert(sums.map(_.getAs[Long]("nt")).toSeq == Seq(5L, 0L, 3L))
    }
  }

  test("tokenQuotaSample: per-group budget, overshoot bounded by one doc") {
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", 3L, i.toLong))
      .toDF("doc_id", "source", "nt", "fp")
    val kept = Sampling.tokenQuotaSample(docs, $"source",
      Seq($"fp", $"doc_id"), $"nt", quota = 10L)
    // starts strictly below quota: ceil(10/3)=4 docs per group
    assert(kept.groupBy("source").count().as[(String, Long)].collect()
      .toMap == Map("a" -> 4L, "b" -> 4L))
    assert(kept.agg(max("start_tok")).as[Long].head() < 10L)
  }

  test("contaminationHits: planted overlap found, clean docs untouched") {
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "something about the quick brown fox here"), // shares 3-grams
      (2L, "entirely different words only"),
      (3L, "the quick brown fox jumps high")) // full overlap
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, bench)
      .as[(Long, Long)].collect().toMap
    assert(hits.contains(1L) && hits.contains(3L) && !hits.contains(2L))
    assert(hits(3L) == 4) // 6 tokens → 4 distinct 3-grams
    assert(hits(1L) < hits(3L))
  }

  test("semanticDedup: identical vectors within a cluster collapse to min id") {
    val v = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val emb = Seq(
      (0L, v), (1L, w),          // centroids (ids < 2)
      (10L, v), (11L, v),        // dups of v → cluster 0, both drop vs id 0
      (20L, Seq(0.3f, 0.7f, 0.0f, 0.0f)), // cluster 1, cos vs w ≈ 0.92 < τ → kept
      (21L, Seq(0.1f, 0.9f, 0.0f, 0.0f))) // cluster 1, cos vs w ≈ 0.994 ≥ τ → dropped
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(emb, nCentroids = 2, threshold = 0.95)
      .as[(Long, Long)].collect().toMap
    // greedy pair-drop keeps the minimum id of each dup group
    assert(kept.keySet == Set(0L, 1L, 20L))
    assert(kept(0L) == 0L && kept(20L) == 1L)
  }
}
