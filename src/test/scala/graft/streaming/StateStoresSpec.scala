package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.max
import java.sql.Timestamp

class StateStoresSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  // the 10:00 click window gets one event per micro-batch
  private val batch1 = Seq(Ev(1, ts(1), 1, "click", 1.0), Ev(3, ts(11), 2, "view", 3.0))
  private val batch2 = Seq(Ev(2, ts(4), 1, "click", 2.0), Ev(4, ts(12), 1, "click", 4.0))

  /** Each window's final state (update mode may emit a window twice). */
  private def finalWindows(table: String): Set[(Timestamp, String, Long, Double)] =
    spark.table(table).groupBy("w_start", "event_type")
      .agg(max("n").as("n"), max("sum_value").as("sum_value"))
      .as[(Timestamp, String, Long, Double)].collect().toSet

  test("tumbling windows under RocksDB ≡ default provider; provider actually engaged") {
    // default-provider run
    val in1 = MemoryStream[Ev](spark)
    in1.addData(batch1 ++ batch2: _*)
    val q1 = EventStreams.tumblingCounts(in1.toDF())
      .writeStream.format("memory").queryName("ss_default").outputMode("update").start()
    q1.processAllAvailable(); q1.stop()

    // RocksDB run, state accumulated across two micro-batches
    val (rows2, metrics) = StateStores.withRocksDB(spark) {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
        StateStores.RocksDBProviderClass)
      val in2 = MemoryStream[Ev](spark)
      val q2 = EventStreams.tumblingCounts(in2.toDF())
        .writeStream.format("memory").queryName("ss_rocks").outputMode("update").start()
      in2.addData(batch1: _*); q2.processAllAvailable()
      in2.addData(batch2: _*); q2.processAllAvailable()
      val m = q2.lastProgress.stateOperators(0).customMetrics
      q2.stop()
      (finalWindows("ss_rocks"), m)
    }
    // same window state under either provider
    assert(rows2 == finalWindows("ss_default"))
    assert(rows2.size == 3)
    // the 10:00 click window's state carried across the two batches
    assert(rows2.contains((ts(0), "click", 2L, 3.0)), rows2)
    // the query really ran on RocksDB: its provider-specific metrics exist
    val keys = metrics.keySet()
    assert(keys.stream().anyMatch(_.startsWith("rocksdb")),
      s"no rocksdb metrics in $keys")
    // conf restored for the shared session
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .forall(_ != StateStores.RocksDBProviderClass))
  }
}
