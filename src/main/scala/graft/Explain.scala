package graft

/** Dev tool: time a registered query twice (cold/warm) and print its
  * formatted physical plan. `runMain graft.Explain <queryName> [sfDir]
  * [key=value ...]` — trailing args become runtime session confs (e.g.
  * `graft.rangeJoin.bucketWidth=3600` to plan an opt-in rewrite). */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val confs = args.drop(2).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-explain", Some(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      name match {
        // diagnostic sub-pipelines (not part of the driver contract)
        case "_mh_sigs" => (s, d) =>
          graft.ops.Dedup.minhashSignatures(graft.sources.Tables.documents(s, d))
        case "_mh_shingles" => (s, d) =>
          graft.sources.Tables.documents(s, d)
            .select(org.apache.spark.sql.functions.explode(
              graft.ops.Dedup.shingles(org.apache.spark.sql.functions.col("text"))))
        case "_pp_candidates" => (s, d) => // q137's PPJoin candidate stage
          graft.ops.Dedup.prefixCandidates(graft.ops.Dedup.hashedShingleSets(
            graft.sources.Tables.documents(s, d)).localCheckpoint(), 0.5)
        case "_mh_pairs" => (s, d) => // q60's pair-mining stage alone
          graft.ops.Dedup.minhashDuplicatePairs(
            graft.sources.Tables.documents(s, d), threshold = 0.5)
        case "_mh_bands" => (s, d) => // signature kernel alone (no banding
          // exchange, no verification)
          graft.ops.Dedup.minhashBandRows(
            graft.sources.Tables.documents(s, d))
        case "_semdedup64" => (s, d) => // q67 with the nCentroids scale knob
          graft.ops.Similarity.semanticDedup(
            graft.sources.Tables.embeddings(s, d), nCentroids = 64,
            threshold = 0.3)
        case "_bpe1000" => (s, d) => // realistic-round-count trainer probe
          graft.ops.TextAnalysis.bpeTrain(
            graft.sources.Tables.documents(s, d), merges = 1000)
        case "_lv_edges" => (s, d) => // q263's co-purchase edge frame alone
          graft.ops.Graph.undirectedEdges(
            graft.sources.Tables.lineitem(s, d)
              .groupBy(org.apache.spark.sql.functions.col("l_orderkey"))
              .agg(org.apache.spark.sql.functions.collect_set(
                org.apache.spark.sql.functions.col("l_partkey")).as("ps")),
            "ps")
        case "_lv_l1" => (s, d) => // q263 truncated to level 1 (edge cost
          // + level-1 moves + one Q gate + composite): the level-2
          // marginal cost is q263 minus this
          graft.ops.Graph.louvain(graft.ops.Graph.undirectedEdges(
            graft.sources.Tables.lineitem(s, d)
              .groupBy(org.apache.spark.sql.functions.col("l_orderkey"))
              .agg(org.apache.spark.sql.functions.collect_set(
                org.apache.spark.sql.functions.col("l_partkey")).as("ps")),
            "ps"), levels = 1, rounds = 2)
        case "_lv_mv1" => (s, d) => // level-1 weighted move rounds alone
          // (public unweighted face = the same per-round exchange chain)
          graft.ops.Graph.modularityMoves(graft.ops.Graph.undirectedEdges(
            graft.sources.Tables.lineitem(s, d)
              .groupBy(org.apache.spark.sql.functions.col("l_orderkey"))
              .agg(org.apache.spark.sql.functions.collect_set(
                org.apache.spark.sql.functions.col("l_partkey")).as("ps")),
            "ps"), rounds = 2)
        case other => SparkEntry.queries(other)
      }
    val t0 = System.nanoTime; val n = fn(spark, sfDir).count()
    println(f"[explain] $name cold: ${(System.nanoTime - t0) / 1e9}%.2fs ($n rows)")
    val t1 = System.nanoTime; fn(spark, sfDir).count()
    println(f"[explain] $name warm: ${(System.nanoTime - t1) / 1e9}%.2fs")
    // extra warm reps (SPARK_GRAFT_EXPLAIN_REPS) for variance-aware A/Bs;
    // malformed/non-positive values warn instead of crashing the harness
    val repsEnv = sys.env.get("SPARK_GRAFT_EXPLAIN_REPS")
    val repsOpt = repsEnv.flatMap(v => scala.util.Try(v.toInt).toOption)
      .filter(_ > 0)
    if (repsEnv.isDefined && repsOpt.isEmpty)
      System.err.println(s"[explain] ignoring invalid " +
        s"SPARK_GRAFT_EXPLAIN_REPS='${repsEnv.get}' (want a positive int)")
    repsOpt.foreach { reps =>
      for (r <- 1 to reps) {
        val t = System.nanoTime; fn(spark, sfDir).count()
        println(f"[explain] $name rep$r: ${(System.nanoTime - t) / 1e9}%.2fs")
      }
    }
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
