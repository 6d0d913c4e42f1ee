package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Sequence packing for LLM training shards (north-star EXT).
  *
  * Concat-and-chunk: documents are laid out in one deterministic global
  * order, token offsets accumulate across the whole corpus, and training
  * sequences are the fixed-size windows `[i*seqTokens, (i+1)*seqTokens)` of
  * that token stream — the standard GPT-style packing (a document may
  * straddle a boundary; `seq_id` records where it starts). Ordering by a
  * content fingerprint doubles as the deterministic corpus shuffle every
  * training run needs: reproducible across retries, partitionings and
  * engines, unlike `rand()`.
  *
  * Scale: the global running offset is a classic two-phase distributed
  * prefix sum, NEVER a single-partition window (`Window.orderBy` with no
  * partition key pulls the corpus into one task):
  *   1. range-repartition on the order key + in-partition sort — the same
  *      exchange a global sort would do, so partition `i` holds a
  *      contiguous key range below partition `i+1`;
  *   2. one long per partition (its token total) is aggregated and
  *      collected — control-plane-sized (#partitions rows, not corpus);
  *   3. exclusive per-partition offsets are broadcast back and a
  *      `mapPartitions` pass adds the in-partition running sum.
  * The sorted shuffle output is persisted (MEMORY_AND_DISK) so phases 2 and
  * 3 read one materialization; at warehouse scale substitute a parquet
  * staging write. Work per row is O(1); the only corpus-wide exchange is
  * the range repartition.
  */
object Packing {

  /** Pack `docs` into `seqTokens`-sized training sequences.
    *
    * @param orderCols deterministic total order (e.g. content fingerprint +
    *                  id tie-break) — the "shuffle" of the corpus
    * @return one row per doc: `id, n_tokens, start_tok, seq_id, seq_pos`
    *         where `start_tok` is the doc's global token offset,
    *         `seq_id = start_tok div seqTokens`, `seq_pos = start_tok mod
    *         seqTokens`
    */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
      orderCols: Seq[String], seqTokens: Long, partitions: Int = 0): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    val spark = docs.sparkSession
    val n = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val ordered = docs
      .select((Seq(idCol, tokenCol) ++ orderCols).map(col): _*)
      .repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Phase 2: per-partition token totals — #partitions longs on the driver
    // (control plane). Empty partitions simply have no row.
    val totals = ordered
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum(col(tokenCol).cast("long")).as("t"))
      .collect()
      // a partition whose tokens are ALL null sums to null → zero tokens,
      // consistent with phase 3's null-as-0 handling
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val offsets = new Array[Long](n)
    var acc = 0L
    for (p <- 0 until n) { offsets(p) = acc; acc += totals.getOrElse(p, 0L) }
    val bc = spark.sparkContext.broadcast(offsets)
    // Phase 3: in-partition running sum on top of the broadcast base offset.
    val in = ordered.select(col(idCol), col(tokenCol).cast("long"))
    val schema = StructType(in.schema.fields.head.copy(name = "id") +:
      Seq(StructField("n_tokens", LongType, false),
        StructField("start_tok", LongType, false)))
    val packed = in.mapPartitions { it =>
      var off = bc.value(TaskContext.getPartitionId())
      it.map { r =>
        val t = if (r.isNullAt(1)) 0L else r.getLong(1)
        val start = off
        off += t
        Row(r.get(0), t, start)
      }
    }(Encoders.row(schema))
      .withColumn("seq_id", expr(s"start_tok div $seqTokens"))
      .withColumn("seq_pos", pmod(col("start_tok"), lit(seqTokens)))
      // materialize the (id, offsets) result — a few longs per doc, a tiny
      // fraction of the corpus — so the corpus-sized sorted cache can be
      // released NOW instead of leaking one cache entry per invocation
      .localCheckpoint()
    ordered.unpersist()
    packed
  }

  /** Per-GROUP sequence packing: like [[packSequences]], but offsets
    * restart at 0 within each `groupCol` value — one independent token
    * stream per group (per-source training shards, length-bucketed
    * batching, any "row_number within giant groups" need).
    *
    * The naive plan — `Window.partitionBy(group).orderBy(...)` — puts each
    * ENTIRE group in one task, which is exactly as unscalable as the
    * global window when groups are corpus-sized (a handful of length
    * buckets over 100 TB). Instead the two-phase prefix sum generalizes:
    * range-partition on (group, orderCols…) so each group spans a
    * contiguous partition range and groups never interleave within a
    * partition; collect per-(partition, group) totals — at most
    * #partitions + #groups entries, since a group's run is contiguous —
    * and broadcast per-(partition, group) exclusive base offsets; a
    * mapPartitions pass resets its running sum at group boundaries.
    *
    * @return one row per doc: `id, group, n_tokens, start_tok, seq_id,
    *         seq_pos` with offsets dense per group
    */
  def packSequencesGrouped(docs: DataFrame, groupCol: String, idCol: String,
      tokenCol: String, orderCols: Seq[String], seqTokens: Long,
      partitions: Int = 0): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    val spark = docs.sparkSession
    val n = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val keyCols = col(groupCol) +: orderCols.map(col)
    val ordered = docs
      .select((Seq(groupCol, idCol, tokenCol) ++ orderCols).map(col): _*)
      .repartitionByRange(n, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Phase 2: (pid, group) totals — ≤ n + |groups| rows by contiguity.
    val totals = ordered
      .groupBy(spark_partition_id().as("pid"), col(groupCol).as("g"))
      .agg(sum(col(tokenCol).cast("long")).as("t"))
      .collect()
      .map(r => (r.getInt(0), r.get(1)) ->
        (if (r.isNullAt(2)) 0L else r.getLong(2)))
    // exclusive prefix per group across its pid run, in pid order
    val bases = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
    totals.groupBy(_._1._2).foreach { case (g, entries) =>
      var acc = 0L
      entries.sortBy(_._1._1).foreach { case ((pid, _), t) =>
        bases((pid, g)) = acc; acc += t
      }
    }
    val bc = spark.sparkContext.broadcast(bases.toMap)
    val in = ordered.select(col(groupCol), col(idCol), col(tokenCol).cast("long"))
    val schema = StructType(
      in.schema.fields(1).copy(name = "id") +:
        in.schema.fields(0).copy(name = "group") +:
        Seq(StructField("n_tokens", LongType, false),
          StructField("start_tok", LongType, false)))
    val packed = in.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var currentGroup: Any = null
      var started = false
      var off = 0L
      it.map { r =>
        val g = r.get(0)
        if (!started || g != currentGroup) {
          currentGroup = g; started = true
          off = bc.value.getOrElse((pid, g), 0L)
        }
        val t = if (r.isNullAt(2)) 0L else r.getLong(2)
        val start = off
        off += t
        Row(r.get(1), g, t, start)
      }
    }(Encoders.row(schema))
      .withColumn("seq_id", expr(s"start_tok div $seqTokens"))
      .withColumn("seq_pos", pmod(col("start_tok"), lit(seqTokens)))
      .localCheckpoint()
    ordered.unpersist()
    packed
  }

  /** Running sum of the long column `value` in `order` — the value-axis
    * prefix sum the statistics family reads ranks, at-risk counts and
    * cumulative weights from. It is [[packSequences]] (with `group`,
    * [[packSequencesGrouped]], restarting per group) over one unbounded
    * sequence, so the same two-phase plan and no global window.
    *
    * @param order total order; may name `idCol` itself (a distinct-value
    *              axis keyed by the value)
    * @return one row per input row: `idCol`, `group` (when grouped),
    *         `value` (NULL read as 0) and `out` — the sum over the rows
    *         before this one, or through it when `inclusive`
    */
  private[graft] def prefixSum(df: DataFrame, idCol: String, value: String,
      order: Seq[String], out: String, group: Option[String] = None,
      inclusive: Boolean = false, partitions: Int = 0): DataFrame = {
    val packed = group match {
      case Some(g) => packSequencesGrouped(df, g, idCol, value, order,
        Long.MaxValue, partitions)
      case None => packSequences(df, idCol, value, order, Long.MaxValue,
        partitions)
    }
    val sum = if (inclusive) col("start_tok") + col("n_tokens")
      else col("start_tok")
    packed.select(Seq(col("id").as(idCol)) ++ group.map(g => col("group").as(g))
      ++ Seq(col("n_tokens").as(value), sum.as(out)): _*)
  }
}
