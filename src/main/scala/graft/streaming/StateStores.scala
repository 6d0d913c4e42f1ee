package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store configuration for the `transformWithState` faces
  * ([[EventStreams.rateLimitStream]], [[EventStreams.asofEnrichStream]]),
  * which refuse the default HDFS-backed store. RocksDB keeps state
  * off-heap on local disk with incremental checkpointing; changelog
  * checkpointing uploads per-batch deltas instead of full SST snapshots,
  * so commit time does not grow with total state size.
  */
object StateStores {

  val RocksDBProviderClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** RocksDB provider, per-batch changelog checkpointing, and one shared
    * bounded block-cache/write-buffer budget across all state-store
    * instances on an executor (without it each operator×partition
    * instance sizes its own cache). */
  private val rocksDbConf = Map(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDBProviderClass,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true")

  /** Run `body` with the RocksDB state-store confs set on `spark`,
    * restoring prior values after. Streaming queries STARTED inside pick
    * up the provider for their whole lifetime (the provider is resolved at
    * query start and pinned in the checkpoint); queries started before are
    * untouched. */
  def withRocksDB[T](spark: SparkSession)(body: => T): T = {
    val prior = rocksDbConf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    rocksDbConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
