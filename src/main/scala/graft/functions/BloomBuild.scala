package graft.functions

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.sketch.BloomFilter

/** A Bloom filter split into `shards.length` DISJOINT hash-prefix
  * sub-filters: item h lives in (and is probed against) shard
  * `pmod(h, p)` only. Holds the same total bits as one monolithic
  * filter of the same (expectedItems, fpp) — hashes are uniform, so
  * every shard carries ~items/p members at the same bits/item — and
  * therefore the same false-positive rate, but the shards can be BUILT
  * in parallel with bounded per-task memory (see
  * [[BloomBuild.overLongColumn]]). Probe cost is one modulo + one
  * sub-filter probe. */
final class ShardedBloom(val shards: Array[BloomFilter]) extends Serializable {
  private[this] val p = shards.length
  def mightContainLong(h: Long): Boolean = {
    val m = (h % p).toInt
    shards(if (m < 0) m + p else m).mightContainLong(h)
  }
  def totalBits: Long = { var s = 0L; shards.foreach(s += _.bitSize()); s }
  def expectedFpp: Double = shards.map(_.expectedFpp()).max
}

/** Uncapped distributed Bloom-filter build over a LONG column.
  *
  * `DataFrameStatFunctions.bloomFilter` is NOT safe for budget-sized
  * filters: since Spark ≥ 3.5 it is implemented with the same
  * `BloomFilterAggregate` that backs injected runtime filters, and that
  * aggregate silently CLAMPS the sketch to the runtime-filter limits
  * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems` = 4 M items,
  * `…maxNumBits` = 2^26 bits = 8 MB by default). Past ~7 M distinct
  * items at 1 % fpp the clamped filter SATURATES while reporting
  * success — measured here: 80 M edges produced bitSize = 67,108,864
  * and expectedFpp = 0.99999, a filter that passes everything. That
  * silently disabled every budget-sized prefilter in this engine at
  * exactly the scales they were built for.
  *
  * This builder allocates the REQUESTED total size with
  * `util.sketch.BloomFilter.create` (no cap), HASH-PREFIX SHARDED
  * (`pmod(h, p)` routes each item to one of p sub-filters):
  *
  *  1. One row-sized exchange (`partitionBy` on the shard id, 8 B/item)
  *     co-locates each shard's items in one task.
  *  2. Each task builds its shard AT FULL PARALLELISM into a
  *     totalBits/p filter — cache-resident for any realistic budget,
  *     where the earlier movement-minimizing design (`coalesce(2)` +
  *     full-size partials + a single-reducer `mergeInPlace`) ran ~N/2
  *     inserts per task against a DRAM-sized bit array: measured at a
  *     600 M-edge closing set, the 2-task insert phase plus the 2 ×
  *     720 MB merge reducer put ~5 minutes of serial work on the
  *     critical path. Sharding moves ~9.2 B/item total (8 B row + the
  *     1.2 B/item of filter, each shard's bytes moved exactly once, no
  *     overlapping partials) vs the old 2.4 B/item — and buys back the
  *     whole serial phase, caps per-task build memory at totalBits/p
  *     (the merge design peaked at 2 × totalBits in ONE reducer — a
  *     real wall at the multi-GB budget ceiling), and keeps every
  *     task result small. The driver-side ceiling is unchanged:
  *     `collect` returns totalBits/8 bytes across the p results, so
  *     `spark.driver.maxResultSize` still bounds the TOTAL filter size
  *     (see `Graph.bloomEdgeBudget`, which folds that ceiling into the
  *     edge budget).
  *  3. `collect` of the p = min(64, max(8, defaultParallelism)) shards.
  */
object BloomBuild {
  def overLongColumn(hashes: DataFrame, column: String,
      expectedItems: Long, fpp: Double): ShardedBloom = {
    val spark = hashes.sparkSession
    val p = math.min(64, math.max(8, spark.sparkContext.defaultParallelism))
    val perShard = math.max(1L, expectedItems / p)
    val rdd = hashes.select(column).rdd.map { r =>
      val h = r.getLong(0)
      val m = (h % p).toInt
      (Integer.valueOf(if (m < 0) m + p else m), h)
    }
    if (rdd.getNumPartitions == 0)
      return new ShardedBloom(Array(BloomFilter.create(expectedItems, fpp)))
    // Integer key i in [0, p) hash-partitions to partition i exactly
    // (Integer.hashCode == value), so mapPartitionsWithIndex's index IS
    // the shard id and every shard is emitted even when empty
    val shards = rdd.partitionBy(new HashPartitioner(p))
      .mapPartitionsWithIndex { (i, it) =>
        val f = BloomFilter.create(perShard, fpp)
        while (it.hasNext) f.putLong(it.next()._2)
        Iterator.single((i, f))
      }
      .collect()
    val out = new Array[BloomFilter](p)
    shards.foreach { case (i, f) => out(i) = f }
    new ShardedBloom(out)
  }
}
