package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, pmod}
import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Reference semantics (see /root/repo/SURVEY.md §1):
  *  - the single record type is (timestamp: u64 epoch-ms, value: f64)
  *    — /root/reference/engine/shard.h:9-12;
  *  - storage is bucketed into 1-hour shards,
  *    `shard = ts_ms / 3_600_000` — /root/reference/engine/insight.cpp:6,9-14;
  *  - the API-level `metric` field is accepted but dropped
  *    (/root/reference/api/main.py:48,70); we promote it to a real column —
  *    the reference behavior is the degenerate single-metric case.
  */
object model {

  /** Hour-shard width in milliseconds (reference: engine/insight.cpp:6). */
  val ShardDurationMs: Long = 3600000L

  /** One time-series point. `timestamp` is Unix epoch milliseconds. */
  final case class DataPoint(
      timestamp: Long,
      value: Double,
      metric: String = "cpu.load.avg")

  /** Explicit schema — fixed in code, never inferred (mirrors the
    * compile-time C struct, shard.h:9-12). */
  val dataPointSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("metric", StringType, nullable = false)))

  /** Shard (hour bucket) owning a timestamp (insight.cpp:9-14).
    * floorDiv, matching the DataFrame paths' `floor()` on pre-1970 values. */
  def shardHourOf(tsMs: Long): Long = Math.floorDiv(tsMs, ShardDurationMs)

  /** Inclusive epoch-ms span `[first, last]` of hour shard `hour` — the
    * reference's end-inclusive shard range (insight.cpp:11). */
  def hourSpan(hour: Long): (Long, Long) =
    (hour * ShardDurationMs, hour * ShardDurationMs + ShardDurationMs - 1)

  /** Hour of a store file relpath `shard_hour=H/<file>`. Loud on any other
    * shape: relpaths come from the manifest log, and a corrupt or foreign
    * line must fail the read rather than mis-parse. */
  def relpathHour(rel: String): Long = {
    val slash = rel.indexOf('/')
    require(rel.startsWith("shard_hour=") && slash > 0,
      s"manifest relpath '$rel' is not shard_hour=H/<file> — corrupt log?")
    rel.substring(rel.indexOf('=') + 1, slash).toLong
  }

  /** Column-level `Math.floorDiv(ts, w)` in EXACT integer arithmetic.
    * `floor(col / lit)` divides in double — near 2^53 (micro/nanosecond
    * epochs) a boundary value can round into the adjacent bucket, and even
    * `(ts - pmod) / w` is double division, so the dividend itself may not
    * be representable above 2^53. Subtracting `pmod` makes the quotient
    * integral; dividing in DECIMAL keeps every intermediate exact (the
    * quotient has remainder 0, so no rounding ever applies) — exact for
    * any sign and the full bigint range. */
  def floorDivCol(ts: Column, w: Long): Column = floorDivCol(ts, lit(w))

  /** Column-divisor overload — same exact DECIMAL arithmetic. */
  def floorDivCol(ts: Column, w: Column): Column =
    ((ts.cast(DecimalType(38, 0)) -
      pmod(ts, w).cast(DecimalType(38, 0))) / w).cast("long")

  /** Hour-shard bucket of an epoch-millis column. */
  def shardHourCol(tsMs: Column): Column = floorDivCol(tsMs, ShardDurationMs)
}
