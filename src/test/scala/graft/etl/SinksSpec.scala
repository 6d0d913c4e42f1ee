package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.{concat, input_file_name, lit, max, min}
import scala.jdk.CollectionConverters._

/** Static so the transmit closure reaches it from executor threads
  * (local mode shares the JVM — a stand-in for the HTTP endpoint). */
object SinksSpec {
  val posted = new scala.collection.mutable.ListBuffer[String]
  def record(doc: String): Unit = posted.synchronized { posted += doc }
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("keyedJson: one {key: {row}} document per row") {
    val df = Seq(("r1", 34, "F"), ("r2", 55, "M")).toDF("study_id", "age", "sex")
    val docs = Sinks.keyedJson(df, "study_id").as[String].collect().sorted
    assert(docs.length == 2)
    assert(docs(0) == """{"r1":{"age":34,"sex":"F"}}""")
    assert(docs(1) == """{"r2":{"age":55,"sex":"M"}}""")
  }

  test("envelopes: ids start at 1 (0 reserved for the header document)") {
    val df = (1 to 5).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    val envs = Sinks.envelopes(df, chunkRows = 2).as[String].collect()
    val ids = envs.map(e => """"chunk_number":(\d+)""".r.findFirstMatchIn(e).get.group(1).toLong)
    assert(ids.forall(_ >= 1))
    assert(ids.distinct.length == ids.length)
    assert(Sinks.headerDocument(None, None).startsWith("""{"chunk_number":0,"""))
  }

  test("envelope meta fields on every chunk; None renders as JSON null") {
    val df = (1 to 5).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)
    val meta = Seq(
      "redcap_project_id" -> Some("42"),
      "redcap_project_type" -> None,
      "extraction_run_datetime" -> Some("2026-08-12T10:00:00"))
    val envs = Sinks.envelopes(df, chunkRows = 2, meta).as[String].collect()
    envs.foreach { e =>
      assert(e.contains(""""redcap_project_id":"42""""))
      assert(e.contains(""""redcap_project_type":null"""))
      assert(e.contains(""""extraction_run_datetime":"2026-08-12T10:00:00""""))
      // meta sits between chunk_number and the records array
      assert(e.indexOf("redcap_records") > e.indexOf("redcap_project_id"))
    }
  }

  test("envelopesSequential: contiguous 1..n chunk numbers (reference parity)") {
    val df = (1 to 20).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    val envs = Sinks.envelopesSequential(df, chunkRows = 3).as[String].collect()
    val ids = envs.map(e => """"chunk_number":(\d+)""".r.findFirstMatchIn(e).get.group(1).toLong)
    assert(ids.sorted.toSeq == (1L to ids.length).toSeq)
    val total = envs.map(d => "\"id\"".r.findAllIn(d).length).sum
    assert(total == 20)
  }

  test("transmit: every envelope delivered exactly once via foreachPartition") {
    val df = (1 to 10).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    SinksSpec.posted.clear()
    Sinks.transmit(Sinks.envelopes(df, chunkRows = 4), SinksSpec.record)
    val docs = SinksSpec.posted.toList
    assert(docs.forall(_.startsWith("""{"chunk_number":""")))
    val total = docs.map(d => "\"id\"".r.findAllIn(d).length).sum
    assert(total == 10)
  }

  test("partitionedParquet: hive layout by partition column") {
    val dir = Files.createTempDirectory("lake").toFile.getAbsolutePath
    val df = Seq((1, "click"), (2, "view"), (3, "click")).toDF("id", "event_type")
    Sinks.partitionedParquet(df, dir, Seq("event_type"))
    val sub = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("event_type=")).sorted
    assert(sub.toSeq == Seq("event_type=click", "event_type=view"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition pruning: only one directory scanned for a partition filter
    val plan = back.filter($"event_type" === "click").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"))
  }

  test("rangeClusteredParquet: per-file key ranges are disjoint (stats prune)") {
    val dir = Files.createTempDirectory("clustered").toFile.getAbsolutePath
    val df = spark.range(0, 1000).toDF("id")
      .select($"id", ($"id" % 7).as("noise"))
      .orderBy($"noise") // scrambled input order: clustering must re-sort
    Sinks.rangeClusteredParquet(df, dir, files = 4, clusterCols = Seq("id"))
    val files = new java.io.File(dir).listFiles()
      .map(_.getAbsolutePath).filter(_.endsWith(".parquet")).toSeq
    assert(files.size == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"id"), max($"id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // every file covers a tight range; consecutive ranges never overlap
    ranges.sliding(2).foreach { case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin) }
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("zorderClusteredParquet: range predicates prune files on BOTH dims " +
      "(lexicographic clustering only prunes the leading one)") {
    // two independent dimensions: x uniform, y an unrelated permutation
    val df = spark.range(0, 4000).toDF("x")
      .select($"x", (($"x" * 37) % 4000).as("y"))
      .orderBy(($"x" * 13) % 17) // scrambled input order
    def filesTouched(dir: String, cond: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).filter(cond)
        .select(input_file_name()).distinct().count()

    val zDir = Files.createTempDirectory("zorder").toFile.getAbsolutePath
    Sinks.zorderClusteredParquet(df, zDir, files = 16, clusterCols = Seq("x", "y"))
    assert(spark.read.parquet(zDir).count() == 4000)
    // a 10% slab on either dim lands in a fraction of the 16 files
    val zx = filesTouched(zDir, $"x" >= 0 && $"x" < 400)
    val zy = filesTouched(zDir, $"y" >= 0 && $"y" < 400)
    assert(zx <= 8, s"x-slab touched $zx of 16 z-ordered files")
    assert(zy <= 8, s"y-slab touched $zy of 16 z-ordered files")

    // contrast: lexicographic (x, y) clustering cannot prune on y
    val rDir = Files.createTempDirectory("lex").toFile.getAbsolutePath
    Sinks.rangeClusteredParquet(df, rDir, files = 16, clusterCols = Seq("x", "y"))
    val ry = filesTouched(rDir, $"y" >= 0 && $"y" < 400)
    assert(ry > zy, s"lexicographic y-slab touched $ry files, z-order $zy")
  }

  test("bloomFilteredParquet: footers carry blooms on the requested column; " +
      "point lookups stay exact") {
    val dir = Files.createTempDirectory("bloomed").toFile.getAbsolutePath
    val df = spark.range(0, 5000).toDF("id")
      .select($"id", concat(lit("key-"), $"id").as("k"))
    Sinks.bloomFilteredParquet(df, dir, bloomCols = Seq("k"), ndv = 5000)
    // footer check via parquet-mr: the bloom must exist for k, not for id
    val file = new java.io.File(dir).listFiles()
      .map(_.getAbsolutePath).filter(_.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val block = reader.getRowGroups.get(0)
      val bloomOf = block.getColumns.asScala
        .map(c => c.getPath.toDotString ->
          (reader.getBloomFilterDataReader(block).readBloomFilter(c) != null))
        .toMap
      assert(bloomOf("k"), s"no bloom filter on k: $bloomOf")
      assert(!bloomOf("id"), s"unexpected bloom on id: $bloomOf")
    } finally reader.close()
    // correctness: point lookups through the bloom-filtered file are exact
    val got = spark.read.parquet(dir).filter($"k" === "key-4242")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((4242L, "key-4242")))
    assert(spark.read.parquet(dir).filter($"k" === "key-9999999").count() == 0)
  }

  test("tokenShardedParquet: every doc in exactly one shard, overshoot ≤ 1 doc, " +
      "deterministic across partition layouts") {
    val docs = (1L to 40L).map(i => (i, s"doc-$i", 1L + i % 7))
      .toDF("doc_id", "text", "nt")
    val dir = Files.createTempDirectory("shards").toFile.getAbsolutePath
    Sinks.tokenShardedParquet(docs, dir, "nt", Seq("doc_id"), shardTokens = 25L)
    val back = spark.read.parquet(dir)
      .select($"doc_id", $"nt", $"shard".cast("long"))
      .as[(Long, Long, Long)].collect()
    assert(back.map(_._1).sorted.toSeq == (1L to 40L).toSeq, "no loss, no dup")
    val perShard = back.groupBy(_._3).map { case (s, xs) => s -> xs.map(_._2).sum }
    val maxDoc = back.map(_._2).max
    perShard.foreach { case (s, tot) =>
      assert(tot <= 25L + maxDoc - 1, s"shard $s holds $tot tokens") }
    // shards are contiguous: ids 0..max all present
    assert(perShard.keySet == (0L to perShard.keys.max).toSet)
    // same corpus, different input layout → identical shard assignment
    val dir2 = Files.createTempDirectory("shards2").toFile.getAbsolutePath
    Sinks.tokenShardedParquet(docs.repartition(11), dir2, "nt", Seq("doc_id"),
      shardTokens = 25L)
    val a = back.map(r => r._1 -> r._3).toMap
    val b = spark.read.parquet(dir2).select($"doc_id", $"shard".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("tokenShardedParquet carries TOKEN-ID SEQUENCES: bpeTokenIds " +
      "output round-trips through an id-bearing shard write intact") {
    val docs = Seq((1L, "tan tab"), (2L, "rat tine tan"), (3L, "in in"),
      (4L, "a"), (5L, "bat ban tab"))
      .toDF("doc_id", "text")
    val merges = Seq((1L, "t", "a"), (2L, "a", "n"), (3L, "r", "t"),
      (4L, "i", "n"), (5L, "in", "e"), (6L, "ta", "b"))
      .toDF("round", "lhs", "rhs")
    val toks = graft.ops.TextAnalysis.bpeTokenIds(docs, merges)
    val before = toks.select($"doc_id", $"n_tokens", $"ids")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    val dir = Files.createTempDirectory("idshards").toFile.getAbsolutePath
    Sinks.tokenShardedParquet(toks, dir, "n_tokens", Seq("doc_id"),
      shardTokens = 5L)
    val back = spark.read.parquet(dir)
    // every shard row still carries its id sequence, byte-identical
    val after = back.select($"doc_id", $"n_tokens", $"ids")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(after == before)
    // shard token sums respect the budget (overshoot ≤ one doc)
    val sums = back.select($"shard".cast("long"), $"n_tokens")
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).sum }
    val maxDoc = before.map(_._2).max
    sums.foreach { case (s, tot) =>
      assert(tot <= 5L + maxDoc - 1, s"shard $s holds $tot tokens") }
    // the sequences themselves are the real payload: ids concatenate in
    // document order to the corpus token stream a loader would read
    assert(before.map(_._3.length.toLong) == before.map(_._2))
  }
}
