package graft.ops

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted ANN index contract: probe-of-loaded ≡ the fresh one-shot
  * operator, incremental add under the frozen quantizer, idempotent
  * batch replay. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val probes = emb.filter($"vec_id" < 10)

  /** Planted-cluster corpus derived by SELECTION (no float arithmetic):
    * member v of cluster (vec_id % 16) = center's dims 1–56 ++ own
    * dims 57–64 — the regime where IVF pruning is supposed to work. */
  private lazy val clustered: DataFrame = {
    val e = emb
    val centers = e.filter($"vec_id" < 16)
      .select(($"vec_id" % 16).as("cl"), $"embedding".as("cv"))
    e.select($"vec_id", ($"vec_id" % 16).as("cl"), $"embedding")
      .join(broadcast(centers), Seq("cl"))
      .select($"vec_id",
        concat(slice($"cv", 1, 56), slice($"embedding", 57, 8))
          .as("embedding"))
      .cache()
  }

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.select($"qid", $"eid", $"cos", $"rn")
      .as[(Long, Long, Double, Int)].collect().toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_annidx_$tag")
      .toString

  test("IVF: probe of a saved+loaded index is bit-identical to the fresh " +
      "one-shot operator at the same settings") {
    val dir = tmp("ivf")
    AnnIndex.ivfBuild(emb, dir, nlist = 16, refineIters = 1,
      seedHash = "md5")
    val loaded = rows(AnnIndex.ivfProbe(spark, dir, probes, k = 10,
      nprobe = 4))
    val fresh = rows(Similarity.ivfTopK(emb, probes, k = 10, nlist = 16,
      nprobe = 4, refineIters = 1, seedHash = "md5"))
    assert(loaded == fresh)
  }

  test("PQ: probe of a saved+loaded index is bit-identical to the fresh " +
      "one-shot operator at the same settings") {
    val dir = tmp("pq")
    AnnIndex.pqBuild(emb, dir, m = 8, ksub = 16, trainIters = 1,
      seedHash = "md5")
    val loaded = rows(AnnIndex.pqProbe(spark, dir, emb, probes, k = 10,
      rerank = 40))
    val fresh = rows(Similarity.pqTopK(emb, probes, k = 10, m = 8,
      ksub = 16, trainIters = 1, rerank = 40, seedHash = "md5"))
    assert(loaded == fresh)
  }

  test("IVF incremental add: frozen-quantizer adds cover the union " +
      "exactly (full-probe ≡ brute force) and batch replay is idempotent") {
    val dir = tmp("ivfadd")
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 === 1)
    AnnIndex.ivfBuild(half1, dir, nlist = 16, seedHash = "md5")
    AnnIndex.ivfAdd(half2, dir, batchId = 1L)
    // nprobe = nlist scans every posting: any lost or duplicated row
    // across batches would break equality with brute force over the union
    val full = rows(AnnIndex.ivfProbe(spark, dir, probes, k = 10,
      nprobe = 16))
    val brute = rows(Similarity.bruteForceTopK(emb, probes, k = 10))
    assert(full == brute)
    // replaying the same batch id overwrites its own partitions — a
    // doubled posting would change eid multiplicity and the window ranks
    AnnIndex.ivfAdd(half2, dir, batchId = 1L)
    assert(rows(AnnIndex.ivfProbe(spark, dir, probes, k = 10,
      nprobe = 16)) == brute)
  }

  test("IVF rebuild: replayed build keeps later postings, new centroids purge them") {
    val dir = tmp("ivfrebuild")
    val b0 = emb.filter($"vec_id" % 3 === 0)
    val b1 = emb.filter($"vec_id" % 3 === 1)
    val b2 = emb.filter($"vec_id" % 3 === 2)
    AnnIndex.ivfBuild(b0, dir, nlist = 16, seedHash = "md5")
    AnnIndex.ivfAdd(b1, dir, batchId = 1L)
    val both = rows(AnnIndex.ivfProbe(spark, dir, probes, k = 10, nprobe = 16))
    assert(both == rows(Similarity.bruteForceTopK(b0.unionByName(b1), probes, k = 10)))
    // at-least-once replay of the build: byte-identical centroids, so the
    // batch-1 postings stay
    AnnIndex.ivfBuild(b0, dir, nlist = 16, seedHash = "md5")
    assert(rows(AnnIndex.ivfProbe(spark, dir, probes, k = 10, nprobe = 16)) == both)
    // different data retrains different centroids: batch-1 postings are stale
    AnnIndex.ivfBuild(b2, dir, nlist = 16, seedHash = "md5")
    assert(rows(AnnIndex.ivfProbe(spark, dir, probes, k = 10, nprobe = 16))
      == rows(Similarity.bruteForceTopK(b2, probes, k = 10)),
      "stale old-quantizer postings must not survive the rebuild")
    val batches = spark.read.parquet(s"$dir/postings")
      .select($"batch").distinct().as[Long].collect().toSet
    assert(batches == Set(0L), s"got batch dirs $batches")
  }

  test("IVF incremental add ≡ full build on the clustered fixture at " +
      "pruning settings (nprobe < nlist)") {
    val dirFull = tmp("ivffull")
    val dirInc = tmp("ivfinc")
    val cProbes = clustered.filter($"vec_id" < 10)
    AnnIndex.ivfBuild(clustered, dirFull, nlist = 16, seedHash = "md5")
    // the incremental index trains its quantizer on the FIRST batch only
    // (train-once contract); on a clustered corpus the first batch sees
    // every cluster, so the probe results match the full build's
    AnnIndex.ivfBuild(clustered.filter($"vec_id" % 2 === 0), dirInc,
      nlist = 16, seedHash = "md5")
    AnnIndex.ivfAdd(clustered.filter($"vec_id" % 2 === 1), dirInc,
      batchId = 1L)
    val brute = rows(Similarity.bruteForceTopK(clustered, cProbes, k = 10))
    // the honest cross-quantizer contract: the half-trained-then-added
    // index retrieves the true neighbors as well as the full retrain —
    // recall@10 vs brute force equal within tolerance, and both high.
    // (Exact set equality does NOT hold: the two quantizers sample
    // different seed centroids, so probe lists differ at nprobe < nlist.)
    def recall(s: Set[(Long, Long, Double, Int)]): Double = {
      val b = brute.groupBy(_._1).map { case (q, g) => q -> g.map(_._2) }
      val hits = s.count { case (q, e, _, _) => b(q).contains(e) }
      hits.toDouble / brute.size
    }
    val rFull = recall(rows(AnnIndex.ivfProbe(spark, dirFull, cProbes,
      k = 10, nprobe = 8)))
    val rInc = recall(rows(AnnIndex.ivfProbe(spark, dirInc, cProbes,
      k = 10, nprobe = 8)))
    assert(rFull >= 0.9, s"full-build recall $rFull")
    assert(rInc >= 0.9, s"incremental recall $rInc")
    assert(math.abs(rFull - rInc) <= 0.05, s"full $rFull vs inc $rInc")
  }

  test("PQ incremental add: frozen-codebook adds cover the union exactly " +
      "(rerank ≥ |corpus| ≡ brute force) and batch replay is idempotent") {
    val dir = tmp("pqadd")
    val n = emb.count().toInt
    AnnIndex.pqBuild(emb.filter($"vec_id" % 2 === 0), dir, m = 8,
      ksub = 16, trainIters = 0, seedHash = "md5")
    AnnIndex.pqAdd(emb.filter($"vec_id" % 2 === 1), dir, batchId = 1L)
    val brute = rows(Similarity.bruteForceTopK(emb, probes, k = 10))
    assert(rows(AnnIndex.pqProbe(spark, dir, emb, probes, k = 10,
      rerank = n)) == brute)
    AnnIndex.pqAdd(emb.filter($"vec_id" % 2 === 1), dir, batchId = 1L)
    assert(rows(AnnIndex.pqProbe(spark, dir, emb, probes, k = 10,
      rerank = n)) == brute)
  }

  test("IVF probe PRUNES the postings scan to the probed list partitions " +
      "(the nprobe/nlist I/O ratio is real, not just compute)") {
    val dir = tmp("ivfprune")
    AnnIndex.ivfBuild(emb, dir, nlist = 16, seedHash = "md5")
    val probe = AnnIndex.ivfProbe(spark, dir, emb.filter($"vec_id" < 2),
      k = 5, nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    // the list filter must reach the scan as a partition filter (the
    // postings store is partitionBy(batch, list)), so unprobed list
    // directories are never read
    assert(plan.contains("PartitionFilters") && plan.contains("list"),
      s"no partition filter on list in:\n$plan")
    // and the probed-list count is bounded by nprobe × |distinct probes|
    // (2 queries × nprobe 2 → at most 4 lists named in the filter)
    val filters = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(filters.contains("list"), filters)
  }

  test("add before build fails loudly; batch 0 is reserved for build") {
    val dir = tmp("guard")
    intercept[Exception] { AnnIndex.ivfAdd(emb, dir, batchId = 1L) }
    intercept[Exception] { AnnIndex.pqAdd(emb, dir, batchId = 1L) }
    AnnIndex.ivfBuild(emb, dir, nlist = 4, seedHash = "md5")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfAdd(emb, dir, batchId = 0L)
    }
    assert(e.getMessage.contains("batch"))
  }
}
