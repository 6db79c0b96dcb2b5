package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stateful streaming operators run on the default HDFS-backed
  * state store in the other specs — fine for tests, wrong for the
  * 100-TB keyspace, where per-user SCD2/funnel/session state must spill
  * off-heap. This suite re-runs the scd2Stream batch-parity check with
  * `RocksDBStateStoreProvider` (the production setting: state lives in
  * a local RocksDB instance per partition, bounded memory, changelog-
  * checkpointed) to prove the operators are provider-agnostic — the
  * provider is a config swap, not a code path.
  */
class RocksDBStateStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("scd2Stream on RocksDBStateStoreProvider reproduces the batch build") {
    import graft.streaming.StreamingIngest.StateEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = Files.createTempDirectory("graft_scd2_rocks_").toString
      val ev = graft.sources.Tables.events(spark, sf0001)
        .select(col("user_id"), col("event_id"),
          col("event_type").as("state_type"), unix_micros(col("ts")).as("ts_us"))
      ev.write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema

      val q = graft.streaming.StreamingIngest.scd2Stream(
        spark.readStream.schema(schema).parquet(src).as[StateEvent])
        .writeStream.outputMode("append")
        .format("memory").queryName("scd2_rocks_out").start()
      q.processAllAvailable()
      // the state operator must actually be running on RocksDB
      val providers = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(so => Option(so.customMetrics)).flatMap(m =>
          scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.keys)
      assert(providers.exists(_.startsWith("rocksdb")),
        s"expected rocksdb custom metrics, got: ${providers.distinct.mkString(",")}")
      q.stop()

      val got = spark.table("scd2_rocks_out")
        .select(col("user_id"), col("state"), col("valid_from_us"),
          col("valid_to_us"))
      val want = graft.operators.Analytics.scd2(
          graft.sources.Tables.events(spark, sf0001))
        .filter(!col("is_current"))
        .select(col("user_id"), col("state"), col("valid_from_us"),
          col("valid_to_us"))
      assert(got.count() > 0)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      // the RocksDB teardown discipline under test below must also run
      // here so THIS suite never leaves native compaction threads behind
      org.apache.spark.sql.GraftColumnBridge.stopStateStores()
    }
  }

  test("stopStateStores closes cached providers and stops maintenance " +
      "(the pre-exit step that prevents the native-thread shutdown crash)") {
    // Spark never closes cached RocksDB providers on query/session stop;
    // at a 10 M-key run the orphaned native compaction threads segfault
    // JVM teardown (PLANS.md round 8). The bridge call is
    // the fix — after it, no state-store maintenance may be running and
    // a fresh stateful query must still work (providers re-initialize on
    // demand).
    import org.apache.spark.sql.execution.streaming.state.StateStore
    org.apache.spark.sql.GraftColumnBridge.stopStateStores()
    assert(!StateStore.isMaintenanceRunning,
      "maintenance task must be stopped after stopStateStores")
    // idempotent: a second call on an empty registry is a no-op
    org.apache.spark.sql.GraftColumnBridge.stopStateStores()
    assert(!StateStore.isMaintenanceRunning)
  }
}
