package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Top-level so Spark's product encoder needs no outer instance. */
case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

class DocumentStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    Doc(1, "the quick brown fox jumps over the lazy dog and that is a fine thing to see", "en", "a", 0),
    Doc(2, "the quick brown fox jumps over the lazy dog and that is a fine thing to see", "en", "a", 0),
    Doc(3, "write to alice@example.com about the state of the world that is long enough to pass", "en", "b", 0),
    Doc(5, "write to bob@other.org about the state of the world that is long enough to pass", "en", "b", 0),
    Doc(4, "1199 2838 4777 121 11", "und", "b", 0))

  test("DSIR importance-scoring stream under frozen ratios ≡ batch " +
      "importanceWeights, across micro-batch boundaries") {
    import org.apache.spark.sql.functions.col
    // ratios trained batch-side: target = the 'en' docs
    val ratios = graft.ops.TextAnalysis
      .importanceRatios(docs.toDF(), docs.toDF().filter(col("lang") === "en"))
      .as[(String, Long)].collect().toMap
    val input = MemoryStream[Doc](spark)
    val q = DocumentStreams.importanceScoreStream(input.toDF(), ratios)
      .writeStream.format("memory").queryName("dsirscored")
      .outputMode("append").start()
    input.addData(docs.take(2): _*); q.processAllAvailable()
    input.addData(docs.drop(2): _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsirscored")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.ops.TextAnalysis
      .importanceWeights(docs.toDF(), docs.toDF().filter(col("lang") === "en"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch, "frozen-ratio scoring must be slice-invariant")
    assert(streamed.size == docs.size)
    // target docs score above off-domain docs on this fixture
    val byId = streamed.map(r => r._1 -> r._3).toMap
    val en = docs.filter(_.lang == "en").map(d => byId(d.doc_id))
    val rest = docs.filter(_.lang != "en").map(d => byId(d.doc_id))
    assert(en.min > rest.max)
  }

  test("incremental components ≡ batch connectedComponents over the " +
      "union of all batches, across a replayed (restarted) batch; " +
      "chains spanning three batches merge; singletons self-labeled") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ingest").toString
    // a 3-batch chain (1 ~ 10 ~ 20 by one-token edits), a 2-batch pair
    // (2 ~ 11), an internal pair (21 ~ 22), and per-batch singletons
    val b0 = Seq(
      Doc(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "a", 0),
      Doc(2, "ships and harbors at dawn with fog over the quiet water", "en", "a", 0),
      Doc(3, "a lone document about nothing else in particular at all", "en", "a", 0))
    val b1 = Seq(
      Doc(10, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en", "a", 0),
      Doc(11, "ships and harbors at dawn with fog over the quiet harbor", "en", "a", 0))
    val b2 = Seq(
      Doc(20, "alpha beta gamma delta epsilon zeta eta theta iota mu", "en", "a", 0),
      Doc(21, "completely novel sentence about glaciers calving into sea", "en", "a", 0),
      Doc(22, "completely novel sentence about glaciers calving into sea", "en", "a", 0))
    def snap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    DocumentStreams.ingestBatchComponents(b0.toDF(), s"$dir/state", 0L)
    DocumentStreams.ingestBatchComponents(b1.toDF(), s"$dir/state", 1L)
    // crash-after-write: batch 1 re-delivered — must not self-match or
    // double-count, and must rebuild from the batch-0 snapshot it saw
    val replay1 = snap(DocumentStreams
      .ingestBatchComponents(b1.toDF(), s"$dir/state", 1L))
    val fin = snap(DocumentStreams
      .ingestBatchComponents(b2.toDF(), s"$dir/state", 2L))
    // batch reference over the UNION of everything ingested
    val all = (b0 ++ b1 ++ b2).toDF()
    val pairs = graft.ops.Dedup.minhashDuplicatePairs(all, threshold = 0.5)
    val cc = graft.ops.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val expected = (b0 ++ b1 ++ b2)
      .map(d => d.doc_id -> cc.getOrElse(d.doc_id, d.doc_id)).toMap
    assert(fin == expected, s"stream $fin\nbatch $expected")
    // the three-batch chain actually merged into one component…
    assert(fin(1L) == fin(10L) && fin(10L) == fin(20L))
    assert(fin(2L) == fin(11L) && fin(21L) == fin(22L))
    // …and singletons stayed their own (the fixture exercised both paths)
    assert(fin(3L) == 3L && fin(1L) != fin(2L))
    // restart idempotence: the replayed batch-1 snapshot matches a clean
    // batch-0+1 reference
    val ref01 = {
      val u = (b0 ++ b1).toDF()
      val c = graft.ops.Dedup.connectedComponents(
        graft.ops.Dedup.minhashDuplicatePairs(u, threshold = 0.5))
        .as[(Long, Long)].collect().toMap
      (b0 ++ b1).map(d => d.doc_id -> c.getOrElse(d.doc_id, d.doc_id)).toMap
    }
    assert(replay1 == ref01, s"replay $replay1\nref $ref01")
  }

}
