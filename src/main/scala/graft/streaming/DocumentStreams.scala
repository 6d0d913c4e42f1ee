package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis

/** Streaming corpus ingest (north-star EXT §2.10): the batch corpus-prep
  * operators — quality gate, PII scrub, content fingerprint, split label,
  * exact dedup — composed as one Structured Streaming pipeline, so a
  * continuously-arriving corpus (crawl drops, upload queues) lands in
  * training shards with the SAME row semantics as the batch path
  * (everything but the dedup state is a row-local codegen expression, so
  * batch/stream parity is by construction; the spec pins it).
  *
  * Scale: the only state is the exact-dedup key set — one 64-bit
  * fingerprint per distinct document, partitioned by the state store
  * across executors. That's the content-addressed dedup ledger every
  * incremental ingest needs and it grows with DISTINCT corpus size;
  * RocksDB state store + changelog checkpointing is the 100 TB
  * configuration. Near-dup (MinHash) keying can reuse the same shape —
  * signatures are row-local (Dedup kernels), only band buckets would
  * become state.
  */
object DocumentStreams {

  /** Streaming count-min sketch face: [[graft.ops.Sketches.cmsBuild]]
    * applied UNCHANGED to the document stream — the explode is stateless
    * and the (r, bucket) count is a standard streaming aggregation whose
    * state is the fixed depth×width counter frame (1024 longs; never
    * grows with vocabulary). Because counters are exact long sums, the
    * maintained sketch equals the batch sketch of everything ingested —
    * the mergeable-summary contract, live. Run in complete/update mode;
    * estimates come from joining terms against the latest frame. */
  def cmsStream(docs: DataFrame, depth: Int = 4, width: Int = 256): DataFrame =
    graft.ops.Sketches.cmsBuild(
      docs.select(explode(split(graft.ops.Dedup.normalized(
        coalesce(col("text"), lit(""))), " ")).as("t")),
      depth = depth, width = width)

  /** Row-local ingest transform: scrub FIRST, then score / fingerprint /
    * label the SCRUBBED text — the stored shard text is what the ledger
    * fingerprints, so re-ingesting written shards is idempotent and docs
    * differing only in scrubbed PII dedup together. (No shuffle, no state;
    * the repeated scrub expression collapses via codegen subexpression
    * elimination.) */
  def prepare(docs: DataFrame, minQuality: Double = 0.2): DataFrame = {
    val scrubbed = TextAnalysis.scrubPii(col("text"))
    docs.select(
        col("doc_id"), col("source"),
        scrubbed.as("text"),
        TextAnalysis.fingerprint(scrubbed).as("fp"),
        TextAnalysis.qualityScore(scrubbed).as("quality"),
        TextAnalysis.splitLabel(scrubbed).as("split"))
      .filter(col("quality") >= minQuality)
  }

  /** Model-scored ingestion gate — the serving face of
    * [[graft.ops.Regression.perceptronTrain]]: score each arriving
    * document with a TRAINED linear model (bias + Σ w·x over the shared
    * [[TextAnalysis.langFilterFeatures]] vector, exact long arithmetic)
    * and flag keep = margin > 0. STATELESS — weights are plan literals
    * (broadcast-free, codegen-resident), so the stream face is
    * bit-identical to batch scoring under any micro-batch slicing,
    * restart, or replay; retrain upstream and restart the query to roll
    * a new model. The standard "train offline, gate the firehose"
    * split.
    *
    * @param docs    streaming (or static) frame with doc_id + text
    * @param bias    trained bias (perceptronTrain's `bias` column)
    * @param weights trained weights, in [[TextAnalysis.langFilterFeatures]]
    *                order (perceptronTrain's w1..wk)
    */
  def scoreStream(docs: DataFrame, bias: Long, weights: Seq[Long]): DataFrame = {
    val feats = TextAnalysis.langFilterFeatures(col("text"))
    require(weights.size == feats.size,
      s"expected ${feats.size} weights for the langFilter feature vector")
    val margin = weights.zip(feats).foldLeft(lit(bias): org.apache.spark.sql.Column) {
      case (acc, (w, f)) => acc + lit(w) * f.cast("long")
    }
    docs.select(col("doc_id"), margin.as("margin"),
      (margin > 0L).as("keep"))
  }

  /** DSIR importance scoring of a document stream under a FROZEN ratio
    * table ([[graft.ops.TextAnalysis.importanceRatios]] output, collected
    * — vocab-sized by contract, the broadcast-model discipline of
    * [[scoreStream]]): each arriving doc is scored statelessly by its
    * quantized target-vs-raw log-ratio sum, bit-identical to the batch
    * [[graft.ops.TextAnalysis.importanceWeights]] under any micro-batch
    * slicing or replay (docs arrive whole; no cross-batch state).
    * Retrain the ratios on a fresh corpus snapshot and restart the query
    * to roll the model.
    *
    * @param ratios (term → lr6) — collect of `importanceRatios`
    * @return (doc_id, dl, score_x6); dl counts in-vocabulary tokens,
    *         exactly like the batch inner join
    */
  def importanceScoreStream(docs: DataFrame,
      ratios: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ratios)
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, text) =>
          val (n, s) = graft.ops.TextAnalysis.importanceScoreJvm(text, m)
          (id, n, s)
        }
      }.toDF("doc_id", "dl", "score_x6")
  }

  /** Content-exact dedup on the fingerprint: first arrival wins, later
    * re-uploads/re-crawls of identical content drop. Unbounded state by
    * design — the dedup ledger must remember the whole corpus (one long
    * per distinct doc); bound it with a watermark only when re-crawls
    * have a known horizon. */
  def dedupByContent(prepared: DataFrame): DataFrame =
    prepared.dropDuplicates("fp")

  /** Training-shard sink: each micro-batch appends split-partitioned
    * parquet — downstream samplers read `split=train/` with partition
    * pruning. Append mode keeps micro-batch replay idempotent per epoch
    * directory only if the checkpoint survives; exactly-once comes from
    * the checkpointed dedup state + file-sink manifest. */
  def writeShards(stream: DataFrame, path: String, checkpoint: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .partitionBy("split")
      .format("parquet")
      .option("path", path)

  /** Running dataset-card statistics (the streaming face of q69): per
    * (source, split) doc/token counts and an exact quantized quality sum,
    * maintained incrementally as the corpus streams in. A global
    * (unwindowed) stateful aggregation — state is one row per group, i.e.
    * |sources|×|splits|, control-plane sized forever; emit in Update mode
    * and upsert into the serving store from foreachBatch. The long
    * quality sum keeps the running mean exact under any arrival order
    * (same discipline as the batch q69 oracle). */
  def runningCorpusStats(prepared: DataFrame): DataFrame =
    prepared
      .select(col("source"), col("split"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
        floor(col("quality") * 1e6).cast("long").as("q6"))
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("q6")).as("q6_sum"))
      .withColumn("mean_quality",
        col("q6_sum").cast("double") / col("n_docs") / 1e6)

  // ---- incremental NEAR-dup ingest ----------------------------------
  // Exact dedup fits the state store (one fingerprint per doc);
  // near-dup needs candidate JOINS against everything seen so far, which
  // Structured Streaming's keyed state can't express. The standard
  // architecture is foreachBatch + an accumulating SIGNATURE STORE: state
  // is (id, band-hash) rows + (id, shingle-set) rows in parquet — a few
  // dozen bytes per doc, NEVER the text — written under batch_<id>
  // subdirectories so micro-batch replay overwrites instead of duplicating.
  // Every store row carries its writer's batch id (`bid`) and reads filter
  // `bid < currentBatch`: a replayed batch therefore NEVER sees its own
  // first-attempt signatures (which would self-match every survivor at
  // jaccard 1 and wipe the batch) — replay is idempotent BY the filter,
  // the directory overwrite only reclaims space. Each batch: internal LSH
  // dedup, then band-collision candidates vs the store, exact-Jaccard
  // verification, survivors appended to both corpus and store.

  /** Process one micro-batch of documents against the signature store at
    * `stateDir`; survivors land under `outDir/batch_<batchId>` and their
    * signatures under the store. Returns the survivors (for tests). */
  def ingestBatchNearDedup(batch: DataFrame, stateDir: String, outDir: String,
      batchId: Long, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = batch.sparkSession
    // within-batch near-dups first (the store only knows PRIOR batches)
    val internal = graft.ops.Dedup.applyPairsDedup(batch,
        graft.ops.Dedup.minhashDuplicatePairs(batch, threshold = threshold))
      .localCheckpoint() // 3 consumers below; never re-run the LSH dedup
    val newBands = graft.ops.Dedup.minhashBandRows(internal)
    val newSh = graft.ops.Dedup.hashedShingleSets(internal)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // BOTH store halves must exist: a crash between the bands and shingles
    // writes of the FIRST batch leaves bands-only — that store holds no
    // committed batch (bid-filter discards the half-written one anyway),
    // so treating it as empty is exact, and avoids a crash-loop on the
    // missing shingles path. Partial writes of LATER batches are handled
    // by the bid < batchId filter alone.
    val storeReady =
      fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/bands")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/shingles"))
    // stores written before the bid column existed count as prior batches
    def withBid(df: DataFrame): DataFrame =
      if (df.columns.contains("bid")) df else df.withColumn("bid", lit(-1L))
    val survivors = (
      if (!storeReady) internal
      else {
        val stBands = withBid(spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$stateDir/bands"))
          .filter(col("bid") < batchId) // exclude own replayed signatures
          .select(col("id").as("old_id"), col("band"), col("bh"))
        val stSh = withBid(spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$stateDir/shingles"))
          .filter(col("bid") < batchId)
          .select(col("id").as("old_id"), col("sh").as("old_sh"))
        val cand = newBands.join(stBands, Seq("band", "bh"))
          .select(col("id"), col("old_id")).distinct()
        val dupNew = cand
          .join(newSh, "id").join(stSh, "old_id")
          .filter(graft.ops.Dedup.jaccard(col("sh"), col("old_sh")) >= threshold)
          .select(col("id").as("doc_id")).distinct()
        internal.join(dupNew, Seq("doc_id"), "left_anti")
      }).localCheckpoint() // 3 writes below share one computation
    // batch-keyed writes: replay of the same micro-batch overwrites
    survivors.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    val survivorIds = survivors.select(col("doc_id").as("id"))
    // store rows derive from the ALREADY-built batch signatures (semi-join
    // on survivor ids), not a re-shingle of survivor text
    newBands.join(survivorIds, Seq("id"), "left_semi")
      .withColumn("bid", lit(batchId)).write.mode("overwrite")
      .parquet(s"$stateDir/bands/batch_$batchId")
    newSh.join(survivorIds, Seq("id"), "left_semi")
      .withColumn("bid", lit(batchId)).write.mode("overwrite")
      .parquet(s"$stateDir/shingles/batch_$batchId")
    survivors
  }

  /** The streaming wrapper: continuous corpus ingest with cross-batch
    * near-duplicate suppression. */
  def nearDedupIngest(stream: DataFrame, stateDir: String, outDir: String,
      checkpoint: String, threshold: Double = 0.5):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchNearDedup(batch, stateDir, outDir, batchId, threshold)
        ()
      }

  /** Process one micro-batch of IMAGE payloads against the perceptual-
    * fingerprint store — the multimodal face of [[ingestBatchNearDedup]]:
    * dHash each decodable payload ([[graft.ops.Multimodal.dhashImages]]),
    * suppress within-batch clones/near-dups, then drop anything within
    * `maxDist` Hamming bits of a PRIOR batch's surviving fingerprint.
    * Matching runs on DISTINCT fingerprints through the same pigeonhole
    * segment blocking as [[graft.ops.RecordLinkage.hammingKeyJoin]]
    * (maxDist+1 segments, ≥1 must agree exactly — recall 1.0 by
    * construction), so the store join moves fingerprint rows, never
    * media bytes. Undecodable payloads pass through untouched (the
    * error-channel contract: a perceptual gate must not silently drop
    * what it cannot see; filter on `decoded` downstream).
    *
    * Store layout: `stateDir/dhashes/batch_<id>` — (dbits, bid), one
    * 64-char string per SURVIVING distinct fingerprint; replay-idempotent
    * by the bid-filter + batch-keyed-overwrite discipline shared with the
    * text ingest. */
  def ingestBatchImageDedup(batch: DataFrame, stateDir: String,
      outDir: String, batchId: Long, maxDist: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val dh = graft.ops.Multimodal.dhashImages(batch, "doc_id", "media")
      .localCheckpoint() // decode ONCE; survivors + store derive from it
    val undecodable = batch.join(
      dh.filter(!col("decoded")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    // within-batch: first-arrival (min id) wins its exact-clone group;
    // near-dup pairs among batch-distinct fingerprints then suppress the
    // larger rep id transitively via the shared pair convention (keyed on
    // dHash bits, not Dedup's text content key, so not its content groups)
    val groups = dh.filter(col("decoded"))
      .groupBy(col("dbits"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("ids"))
      .localCheckpoint()
    val nearPairs = graft.ops.RecordLinkage.hammingKeyJoin(
      groups.select(col("rep").as("id"), col("dbits").as("key")),
      "id", "key", keyLen = 64, maxDist = maxDist)
    val keptReps = groups.select(col("rep").as("id"), col("dbits"))
      .join(nearPairs.select(col("id_b").as("id")).distinct(),
        Seq("id"), "left_anti")
    // vs PRIOR batches: segment blocking between new reps and the store
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val storeReady =
      fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/dhashes"))
    val survivors0 =
      if (!storeReady) keptReps
      else {
        val prior = spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$stateDir/dhashes")
          .filter(col("bid") < batchId)
          .select(col("dbits").as("old_bits")).distinct()
        // the SAME pigeonhole blocking hammingKeyJoin uses — shared so a
        // segmentation change can't silently diverge the two sites and
        // lose the cross-batch recall-1.0 guarantee
        def segs(df: DataFrame, keyCol: String): DataFrame =
          graft.ops.RecordLinkage.pigeonholeSegments(df, keyCol,
            keyLen = 64, maxDist = maxDist)
        val hit = segs(keptReps.select(col("dbits")), "dbits")
          .join(segs(prior, "old_bits"), Seq("seg_idx", "seg_val"))
          .filter(graft.ops.RecordLinkage.hamming(
            col("dbits"), col("old_bits"), 64) <= maxDist)
          .select(col("dbits")).distinct()
        keptReps.join(hit, Seq("dbits"), "left_anti")
      }
    val survivors = survivors0.localCheckpoint() // store write + output read it
    val out = batch
      .join(survivors.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      .unionByName(undecodable)
    out.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    survivors.select(col("dbits")).withColumn("bid", lit(batchId))
      .write.mode("overwrite").parquet(s"$stateDir/dhashes/batch_$batchId")
    out
  }

  /** The streaming wrapper: continuous image ingest with cross-batch
    * perceptual near-duplicate suppression. */
  def imageDedupIngest(stream: DataFrame, stateDir: String, outDir: String,
      checkpoint: String, maxDist: Int = 4):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchImageDedup(batch, stateDir, outDir, batchId, maxDist)
        ()
      }

  // ---- streaming ANN-index maintenance --------------------------------

  /** One micro-batch of embeddings into the persisted IVF index
    * ([[graft.ops.AnnIndex]]): the FIRST batch trains the coarse
    * quantizer and builds the index; every later batch encodes against
    * the FROZEN centroids (`ivfAdd`'s train-once contract). Replay
    * safety is inherited from the store layout — a replayed batch id
    * rewrites exactly its own `batch=` partitions (deterministic
    * encode + dynamic partition overwrite), and a replayed FIRST batch
    * retrains byte-identical centroids from the same rows — so
    * foreachBatch's at-least-once delivery yields an exactly-once
    * index. Probes ([[graft.ops.AnnIndex.ivfProbe]]) work between
    * batches: the serving shape — index continuously, query any time. */
  def ingestBatchIvf(batch: DataFrame, indexDir: String, batchId: Long,
      nlist: Int = 16, seedHash: String = "xx",
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val built =
      fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/centroids"))
    // Build writes postings under the REAL batch id, so if the first
    // delivered id is N > 0 (index dir wiped, checkpoint retained / sink
    // attached mid-stream) a replay of batch N routes to ivfAdd(N) and
    // dynamic-overwrites the same batch=N partitions — not a duplicate
    // batch_0 copy. A batchId==0 redelivery over an existing index
    // retrains; ivfBuild then purges the postings store IFF the
    // retrained centroids differ from the stored ones (a genuine rebuild
    // — new checkpoint over an old indexDir with new data — invalidates
    // every posting encoded under the superseded quantizer), while a
    // byte-identical replay retrain leaves later batches untouched.
    if (!built || batchId == 0L)
      graft.ops.AnnIndex.ivfBuild(batch, indexDir, nlist = nlist,
        idCol = idCol, vecCol = vecCol, seedHash = seedHash,
        buildBatchId = batchId)
    else
      graft.ops.AnnIndex.ivfAdd(batch, indexDir, batchId,
        idCol = idCol, vecCol = vecCol)
  }

  /** The streaming wrapper: continuous embedding ingest into a
    * probe-ready persisted IVF index. */
  def ivfIngest(stream: DataFrame, indexDir: String, checkpoint: String,
      nlist: Int = 16, seedHash: String = "xx",
      idCol: String = "vec_id", vecCol: String = "embedding"):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchIvf(batch, indexDir, batchId, nlist, seedHash,
          idCol, vecCol)
        ()
      }

  // ---- incremental CONNECTED COMPONENTS maintenance ------------------
  // The [[ingestBatchNearDedup]] architecture keeps the corpus deduped;
  // this face keeps CLUSTER MEMBERSHIP current instead — every ingested
  // doc gets a component id (min reachable doc id, exactly
  // [[graft.ops.Dedup.connectedComponents]]' semantics), maintained
  // incrementally: components can only MERGE as edges arrive, so folding
  // a batch in is connectedComponents over the SLIM union of the prior
  // (id → component) assignment — |ids| star edges — plus the batch's
  // new verified pair edges; history text/pairs are never reprocessed.
  // State layout under `stateDir` (all replay-idempotent by the same
  // bid-filter + batch-keyed-overwrite discipline as the dedup ingest):
  //   bands/batch_<id>, shingles/batch_<id> — signatures of EVERY
  //     ingested doc (nothing is dropped here — membership, not
  //     suppression), a few dozen bytes per doc, never the text;
  //   components/batch_<id> — the full (id, component) SNAPSHOT after
  //     the batch (16 B/doc): each batch reads the latest snapshot with
  //     bid < its own, so a replayed batch rebuilds from exactly the
  //     state its first attempt saw, and overwrite reclaims the rest.

  /** Fold one micro-batch into the component store; returns the
    * refreshed full (id, component) assignment (also written to
    * `stateDir/components/batch_<batchId>`). */
  def ingestBatchComponents(batch: DataFrame, stateDir: String,
      batchId: Long, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val spark = batch.sparkSession
    val b = batch.localCheckpoint() // signatures + id set read it twice
    val newBands = graft.ops.Dedup.minhashBandRows(b)
      .localCheckpoint() // store join + store write
    val newSh = graft.ops.Dedup.hashedShingleSets(b)
      .localCheckpoint() // within/cross verify + store write
    // within-batch verified pairs (LSH candidates + exact-Jaccard gate)
    val internalPairs = graft.ops.Dedup
      .minhashDuplicatePairs(b, threshold = threshold)
      .select(col("id_a").as("u"), col("id_b").as("v"))
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/$p"))
    def withBid(df: DataFrame): DataFrame =
      if (df.columns.contains("bid")) df else df.withColumn("bid", lit(-1L))
    // cross-batch verified pairs against the signature store
    val crossPairs =
      if (!exists("bands") || !exists("shingles"))
        spark.emptyDataFrame
          .select(lit(0L).as("u"), lit(0L).as("v")).limit(0)
      else {
        val stBands = withBid(spark.read
          .option("recursiveFileLookup", "true").parquet(s"$stateDir/bands"))
          .filter(col("bid") < batchId)
          .select(col("id").as("old_id"), col("band"), col("bh"))
        val stSh = withBid(spark.read
          .option("recursiveFileLookup", "true").parquet(s"$stateDir/shingles"))
          .filter(col("bid") < batchId)
          .select(col("id").as("old_id"), col("sh").as("old_sh"))
        newBands.join(stBands, Seq("band", "bh"))
          .select(col("id"), col("old_id")).distinct()
          .join(newSh, "id").join(stSh, "old_id")
          .filter(graft.ops.Dedup.jaccard(col("sh"), col("old_sh"))
            >= threshold)
          .select(col("id").as("u"), col("old_id").as("v")).distinct()
      }
    // prior snapshot = the latest components/batch_<k> with k < batchId
    val priorIds = (if (exists("components"))
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/components"))
        .map(_.getPath.getName).filter(_.startsWith("batch_"))
        .map(_.stripPrefix("batch_").toLong).filter(_ < batchId)
      else Array.empty[Long]).sorted
    val prior: Option[DataFrame] = priorIds.lastOption.map(k =>
      spark.read.parquet(s"$stateDir/components/batch_$k"))
    // merge: components over prior star edges (id → component) + new
    // pairs — min-label over stars re-yields every prior assignment
    // (component ids ARE min member ids) and merging chains re-resolve
    val starEdges = prior.map(_.select(col("id").as("u"),
      col("component").as("v"))).getOrElse(crossPairs.limit(0))
    val allIds = b.select(col("doc_id").as("id"))
      .unionByName(prior.map(_.select(col("id"))).getOrElse(
        b.select(col("doc_id").as("id")).limit(0)))
      .distinct()
    val edges = internalPairs.unionByName(crossPairs).unionByName(starEdges)
    val solved = graft.ops.Dedup.connectedComponents(edges,
      aCol = "u", bCol = "v")
    val snapshot = allIds
      .join(solved, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id"))
        .as("component")) // singletons are their own component
    snapshot.write.mode("overwrite")
      .parquet(s"$stateDir/components/batch_$batchId")
    newBands.withColumn("bid", lit(batchId)).write.mode("overwrite")
      .parquet(s"$stateDir/bands/batch_$batchId")
    newSh.withColumn("bid", lit(batchId)).write.mode("overwrite")
      .parquet(s"$stateDir/shingles/batch_$batchId")
    spark.read.parquet(s"$stateDir/components/batch_$batchId")
  }

  /** The streaming wrapper: continuously maintained near-dup cluster
    * membership (stream-maintained components ≡ batch
    * `connectedComponents` over the union of all batches — pinned by
    * DocumentStreamsSpec, including across a replayed batch). */
  def componentIngest(stream: DataFrame, stateDir: String,
      checkpoint: String, threshold: Double = 0.5):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchComponents(batch, stateDir, batchId, threshold)
        ()
      }
}
