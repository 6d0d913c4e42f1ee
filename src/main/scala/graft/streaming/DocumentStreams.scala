package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream faces of the corpus operators, each pinned by
  * DocumentStreamsSpec to the batch operator a registered query calls:
  * frozen-ratio importance scoring ([[graft.ops.TextAnalysis.importanceWeights]])
  * and incrementally maintained near-dup components
  * ([[graft.ops.Dedup.connectedComponents]]).
  */
object DocumentStreams {

  /** DSIR importance scoring of a document stream under a FROZEN ratio
    * table ([[graft.ops.TextAnalysis.importanceRatios]] output, collected
    * — vocab-sized by contract, so it ships as one broadcast): each
    * arriving doc is scored statelessly by its quantized target-vs-raw
    * log-ratio sum, bit-identical to the batch
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

  // ---- incremental CONNECTED COMPONENTS maintenance ------------------
  // Every ingested doc gets a component id (min reachable doc id, exactly
  // [[graft.ops.Dedup.connectedComponents]]' semantics), maintained
  // incrementally: components can only MERGE as edges arrive, so folding
  // a batch in is connectedComponents over the SLIM union of the prior
  // (id → component) assignment — |ids| star edges — plus the batch's
  // new verified pair edges; history text/pairs are never reprocessed.
  // State layout under `stateDir`, replay-idempotent: every store row
  // carries its writer's batch id (`bid`), reads keep `bid < batchId`, and
  // writes overwrite their own `batch_<id>` directory:
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
}
