package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Persisted, reusable ANN index artifacts (the round-8 verdict's #4).
  *
  * [[Similarity.ivfTopK]]/[[Similarity.pqTopK]] retrain their coarse
  * quantizer / codebooks on every call — right for one-shot analytics,
  * wrong for the serving shape, where a user indexes a 100 TB corpus
  * ONCE and probes it many times. This object splits the two phases:
  *
  *  - `ivfBuild`/`pqBuild` train the control-plane artifact (centroids /
  *    codebooks — a few KB) and encode the corpus in one zero-shuffle
  *    kernel pass, writing everything to parquet under `dir`.
  *  - `ivfAdd`/`pqAdd` encode NEW rows against the FROZEN artifact and
  *    append a batch-keyed postings/codes directory — the standard
  *    train-once-add-many contract (FAISS discipline); each batch id
  *    owns its output directory, so a replayed batch id overwrites its
  *    own output and ingestion is idempotent.
  *  - `ivfProbe`/`pqProbe` answer queries from the LOADED artifact with
  *    the exact same integer-cosine math as the one-shot operators —
  *    probe of a loaded index is bit-identical to the fresh operator at
  *    the same settings (hash-gated end to end by q277/q278).
  *
  * Layout under `dir` (all parquet; `batch=`/`list=` are directory
  * partition keys, written with DYNAMIC partition overwrite so a
  * replayed batch id replaces exactly its own partitions):
  * {{{
  *   ivf:  centroids/                  (cid, cvec array<long>, cnorm)  FROZEN
  *         postings/batch=<b>/list=<l>/ (id, qvec array<long>, qnorm)
  *   pq:   books/                      (s, c, bvec array<long>)        FROZEN
  *         codes/batch=<b>/            (id, codes array<int>, nrm)
  * }}}
  *
  * Scale shape: postings are `partitionBy("list")`, so a probe scans ONLY
  * the ~nprobe/nlist of the corpus its queries actually touch (directory-
  * level partition pruning — the IVF pruning ratio becomes an I/O ratio,
  * not just a compute ratio). PQ codes are m bytes + a long per row
  * (~16× narrower than dim floats at dim 64 / m 8); the exact rerank
  * re-reads only the semi-join-pruned candidate vectors from the corpus.
  * Quantized integer vectors round-trip parquet exactly, so persistence
  * never costs a bit of parity.
  */
object AnnIndex {
  import Similarity._

  // ---- IVF ------------------------------------------------------------

  /** Train the coarse quantizer on `corpus` (seeded sample + optional
    * Lloyd refinement — [[Similarity.ivfTopK]]'s trainer) and write the
    * index: frozen centroids + the corpus encoded as
    * `postings/batch_0`. If the retrained centroids DIFFER
    * from centroids already stored at `dir`, every existing posting was
    * encoded under a superseded quantizer (silently wrong list
    * assignments at nprobe < nlist) — the postings store is purged
    * before writing. A byte-identical retrain (an at-least-once REPLAY
    * of the build batch: same rows, same deterministic trainer) keeps
    * later batches' postings untouched, so replays stay idempotent. */
  def ivfBuild(corpus: DataFrame, dir: String, nlist: Int = 16,
      refineIters: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding", seedHash: String = "xx"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = lloydRefine(corpus,
      sampleCentroids(corpus, nlist, idCol, vecCol, seedHash), refineIters,
      idCol, vecCol)
    val centPath = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val fs = centPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sameQuantizer = fs.exists(centPath) &&
      scala.util.Try(loadCentroids(spark, dir)).toOption.exists { old =>
        old.length == cents.length && old.zip(cents).forall {
          case ((ac, av, an), (bc, bv, bn)) =>
            ac == bc && an == bn && java.util.Arrays.equals(av, bv)
        }
      }
    cents.toSeq.map { case (cid, v, n) => (cid, v.toSeq, n) }
      .toDF("cid", "cvec", "cnorm")
      .coalesce(1) // control-plane-sized (nlist rows)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    if (!sameQuantizer) {
      val post = new org.apache.hadoop.fs.Path(s"$dir/postings")
      if (fs.exists(post)) fs.delete(post, true) // stale-quantizer purge
    }
    writePostings(corpus, cents, dir, 0L, idCol, vecCol)
  }

  /** Encode NEW rows against the frozen centroids and write them as
    * `postings/batch_<batchId>`: mode-overwrite per batch directory, so a
    * replayed batch id is idempotent. Existing postings are never
    * touched. Ids must be UNIQUE across batches (the corpus-id contract
    * everywhere in this engine): a re-ingested id under a NEW batch id duplicates its
    * posting and both copies score — dedupe upstream or replay under
    * the original batch id. */
  def ivfAdd(rows: DataFrame, dir: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(batchId > 0L,
      "ivfAdd batch ids start at 1 (batch 0 is reserved for the build)")
    writePostings(rows, loadCentroids(rows.sparkSession, dir), dir, batchId,
      idCol, vecCol)
  }

  /** Probe the stored index: queries broadcast (|Q| ≪ N contract), each
    * scores only postings whose list is among its `nprobe` nearest
    * centroids, and the list filter PRUNES PARTITION DIRECTORIES — only
    * the probed fraction of the index is read at all. Bit-identical to
    * [[Similarity.ivfTopK]] at the same build settings. */
  def ivfProbe(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val cents = loadCentroids(spark, dir)
    val qRows = collectProbes(queries, idCol, vecCol)
      .map { case (id, v) =>
        val q = quantizeJvm(v); val n = normJvm(q)
        (id, q, n, nearestCentroids(q, n, cents, nprobe).toSet)
      }
    val probed = qRows.iterator.flatMap(_._4).toSeq.distinct.sorted
    val bcQ = spark.sparkContext.broadcast(qRows)
    val scored = spark.read.parquet(s"$dir/postings")
      .filter(col("list").isin(probed: _*)) // directory-level pruning
      .select(col("list").cast("long"), col("id"), col("qvec"), col("qnorm"))
      .as[(Long, Long, Seq[Long], Long)]
      .mapPartitions { it =>
        val qs = bcQ.value
        it.flatMap { case (list, eid, ev, en) =>
          val e = ev.toArray
          qs.iterator.collect {
            case (qid, qv, qn, probes)
                if !(excludeSelf && qid == eid) && probes(list) =>
              (qid, eid, cosJvm(dotJvm(qv, e), qn, en))
          }
        }
      }.toDF("qid", "eid", "cos")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("eid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("eid"), col("cos"), col("rn"))
  }

  /** One zero-shuffle encode pass: assign each row to its nearest frozen
    * centroid, carry the quantized vector + exact norm, write
    * list-partitioned parquet. */
  private def writePostings(rows: DataFrame,
      cents: Array[(Long, Array[Long], Long)], dir: String, batchId: Long,
      idCol: String, vecCol: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(cents)
    rows.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bcC.value
        it.map { case (id, v) =>
          val q = quantizeJvm(v); val n = normJvm(q)
          (nearestCentroids(q, n, cs, 1)(0), id, q.toSeq, n)
        }
      }.toDF("list", "id", "qvec", "qnorm")
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      // replace only THIS batch's partitions: encode is deterministic, so
      // a replayed batch rewrites exactly the same (batch, list) dirs —
      // idempotent ingestion without touching other batches
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "list")
      .parquet(s"$dir/postings")
  }

  private def loadCentroids(spark: SparkSession,
      dir: String): Array[(Long, Array[Long], Long)] = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cid").cast("long"), col("cvec"), col("cnorm").cast("long"))
      .as[(Long, Seq[Long], Long)].collect()
      .sortBy(_._1)
      .map { case (cid, v, n) => (cid, v.toArray, n) }
    require(cents.nonEmpty, s"no centroids at $dir/centroids — build first")
    cents
  }

  // ---- PQ -------------------------------------------------------------

  /** Train PQ codebooks ([[Similarity.pqTrain]] — deterministic seeded
    * init + distributed Lloyd) and write the index: frozen books + the
    * corpus encoded as `codes/batch_0` (m byte-codes + exact norm per
    * row — the ~16× narrower scan that makes PQ the 100 TB lever). */
  def pqBuild(corpus: DataFrame, dir: String, m: Int = 8, ksub: Int = 16,
      trainIters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding", seedHash: String = "xx"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = pqTrain(corpus, m, ksub, trainIters, idCol, vecCol,
      seedHash = seedHash)
    books.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
    }.toSeq.toDF("s", "c", "bvec")
      .coalesce(1) // control-plane-sized (m × ksub rows)
      .write.mode("overwrite").parquet(s"$dir/books")
    writeCodes(corpus, books, dir, batchId = 0L, idCol, vecCol)
  }

  /** Encode NEW rows against the frozen codebooks → `codes/batch_<b>`
    * (same idempotent batch-keyed contract as [[ivfAdd]]). */
  def pqAdd(rows: DataFrame, dir: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(batchId > 0L, "pqAdd batch ids start at 1 (build wrote batch_0)")
    writeCodes(rows, loadBooks(rows.sparkSession, dir), dir, batchId,
      idCol, vecCol)
  }

  /** ADC probe over the stored codes with exact rerank against `corpus`
    * (the rerank re-reads only semi-join-pruned candidate VECTORS — the
    * index itself never stores them, that would defeat the compression).
    * `corpus` must therefore cover EVERY indexed id (build + all adds):
    * a candidate id missing from it drops out of the rerank join and
    * the query silently returns fewer than k rows — pass the union
    * table the index was built from. Bit-identical to
    * [[Similarity.pqTopK]] at the same build settings: same ADC tables,
    * same per-partition top-r heap total order, same exact-rerank
    * window. */
  def pqProbe(spark: SparkSession, dir: String, corpus: DataFrame,
      queries: DataFrame, k: Int, rerank: Int = 0,
      excludeSelf: Boolean = true, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val books = loadBooks(spark, dir)
    val m = books.length
    val ksub = books(0).length
    val sub = books(0)(0).length
    val r = if (rerank > 0) rerank else math.max(k * 4, 32)
    val qRows = collectProbes(queries, idCol, vecCol)
      .map { case (id, v) =>
        val q = quantizeJvm(v)
        val tab = Array.tabulate(m, ksub)((s, c) => {
          var d = 0L; var i = 0
          while (i < sub) { d += q(s * sub + i) * books(s)(c)(i); i += 1 }
          d
        })
        (id, q, normJvm(q), tab)
      }
    val bcQ = spark.sparkContext.broadcast(qRows)
    val candScores = spark.read.parquet(s"$dir/codes")
      .select(col("id"), col("codes"), col("nrm").cast("long"))
      .as[(Long, Seq[Int], Long)]
      .mapPartitions { it =>
        val qs = bcQ.value
        // identical heap contract to pqTopK: total order (cos desc, eid
        // asc) so per-partition top-r provably contains the global top-r
        val heaps = qs.map(_ => new java.util.PriorityQueue[(Double, Long)](
          (a: (Double, Long), b: (Double, Long)) => {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }))
        it.foreach { case (eid, codes, en) =>
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
    val w = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("eid"))
    val cands = candScores.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= r)
      .select(col("qid"), col("eid"))
      .localCheckpoint()
    val candIds = cands.select(col("eid").as("cid")).distinct()
    val candVecs = corpus
      .select(col(idCol).cast("long").as("eid"), col(vecCol).as("__v"))
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

  private def writeCodes(rows: DataFrame, books: Array[Array[Array[Long]]],
      dir: String, batchId: Long, idCol: String, vecCol: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val m = books.length
    val sub = books(0)(0).length
    val bcB = spark.sparkContext.broadcast(books)
    rows.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val bks = bcB.value
        it.map { case (id, v) =>
          val e = quantizeJvm(v)
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) { codes(s) = nearestSub(e, s * sub, bks(s)); s += 1 }
          (id, codes.toSeq, normJvm(e))
        }
      }.toDF("id", "codes", "nrm")
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch")
      .parquet(s"$dir/codes")
  }

  private def loadBooks(spark: SparkSession,
      dir: String): Array[Array[Array[Long]]] = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$dir/books")
      .select(col("s").cast("int"), col("c").cast("int"), col("bvec"))
      .as[(Int, Int, Seq[Long])].collect()
    require(rows.nonEmpty, s"no codebooks at $dir/books — build first")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    require(rows.length == m * ksub,
      s"ragged codebook store at $dir/books: ${rows.length} rows for " +
        s"$m subspaces x $ksub codes — a missing (s,c) slot would " +
        "silently absorb every vector into a zero-distance empty " +
        "centroid; rebuild the index")
    val books = Array.ofDim[Array[Long]](m, ksub)
    rows.foreach { case (s, c, v) => books(s)(c) = v.toArray }
    require(books.forall(_.forall(_ != null)),
      s"duplicate/missing (s,c) codebook rows at $dir/books — rebuild")
    books
  }
}
