package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Pins the RocksDB state-store path at test time. The provider swap
  * (EventStreams.rocksDbStore) shipped in round 12 for the
  * big-state replay gates was until now exercised only by the sf30
  * bench sweeps: a provider regression (bad conf key, classpath loss,
  * provider-specific state encoding bug) would have surfaced at the
  * next bench instead of in `sbt test`. Here the same stateful windowed
  * aggregation drains once under the default heap store and once under
  * RocksDB over the same staged source, and the emitted sets must be
  * identical — the state store is an execution detail, never a
  * semantics one. */
class RocksDbStoreSpec extends SparkTestBase {

  test("windowed aggregation under the RocksDB provider equals the heap-store result") {
    val dir = Scratch.register(Files.createTempDirectory("graft_rocks_").toString)
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .where(col("user_id") < 20)
      .write.mode("overwrite").parquet(dir)

    val heap = EventStreams.runWindowedOnce(spark, dir, "rocks_heap_ref")
      .collect().toSet
    val rocks = Session.withConf(spark, EventStreams.rocksDbStore) {
      // provider is read at query START — the swap must wrap .start(),
      // which runWindowedOnce performs inside the body
      EventStreams.runWindowedOnce(spark, dir, "rocks_rocksdb")
        .collect().toSet
    }
    assert(rocks.nonEmpty, "stream emitted nothing")
    assert(rocks == heap,
      s"RocksDB result diverged: only-rocks=${(rocks -- heap).take(3)} " +
        s"only-heap=${(heap -- rocks).take(3)}")
  }
}
