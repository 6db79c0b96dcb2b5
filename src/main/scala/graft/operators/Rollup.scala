package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-resolution rollup store — the continuous-aggregate layer every
  * production TSDB grows (Influx CQs, Timescale caggs, Prometheus
  * recording rules): pre-aggregate the event stream at hour and day
  * grain once at ingest, then answer range queries from the COARSEST
  * exact decomposition — whole days from the day rollup, ragged edges
  * from the hour rollup. Counts and DECIMAL sums are decomposable, so
  * the multi-resolution answer is bit-identical to re-aggregating raw
  * data, while reading O(days + 48) rollup rows instead of O(points).
  *
  * Scale: rollups are one keyed aggregation each (map-side partials);
  * at 100 TB the day table is ~5 orders of magnitude smaller than the
  * base, and serving never touches the base at all. */
object Rollup {

  val HourUs = 3600000000L
  val DayUs = 86400000000L

  /** One rollup grain: per event_type × bucket, exact count + DECIMAL sum
    * (decomposable aggregates only — what makes re-serve exact). The
    * bucket uses the native [[graft.functions.TimeBucket]] expression
    * (codegen'd integer floor-div — same values as the decimal
    * [[graft.model.floorDivCol]] form for any epoch). */
  def rollup(events: DataFrame, bucketUs: Long): DataFrame =
    events.groupBy(col("event_type"),
        graft.functions.GraftFunctions
          .time_bucket(graft.operators.TimeSeries.tsUs(col("ts")), bucketUs)
          .as("bucket_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("sum_value"))

  /** Re-bucket a rollup frame to a coarser grain (sums of sums). Written
    * with the [[graft.functions.TimeBucket]] marker, so when the input
    * scans a REGISTERED hour-rollup path and the target grain is
    * day-aligned, the [[graft.plans.RollupRewrite]] navigator answers it
    * from the day rollup instead — same rows, ~1/24 the reads. */
  def rebucket(rollupDf: DataFrame, bucketUs: Long): DataFrame =
    rollupDf.groupBy(col("event_type"),
        graft.functions.GraftFunctions.time_bucket(col("bucket_us"), bucketUs)
          .as("bucket_us"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_value")).cast("decimal(18,2)").as("sum_value"))

  /** Materialize both grains under `path` (the ingest-time step). */
  def writeRollups(events: DataFrame, path: String): Unit = {
    rollup(events, HourUs).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/rollup_hour")
    rollup(events, DayUs).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/rollup_day")
  }

  /** Serve an hour-aligned [startUs, endUs) range from rollup frames:
    * day-aligned middle from `daily`, edge hours from `hourly`, tagged
    * with the resolution that served them. Exactness: every base row in
    * the range lands in exactly one emitted bucket. */
  def multiResRange(hourly: DataFrame, daily: DataFrame,
      startUs: Long, endUs: Long): DataFrame = {
    require(startUs % HourUs == 0 && endUs % HourUs == 0,
      s"range must be hour-aligned, got [$startUs, $endUs)")
    require(startUs <= endUs, s"empty range [$startUs, $endUs)")
    val dayStart = Math.floorDiv(startUs + DayUs - 1, DayUs) * DayUs
    val dayEnd = Math.floorDiv(endUs, DayUs) * DayUs
    val out =
      if (dayStart >= dayEnd) // range shorter than one aligned day
        hourly.filter(col("bucket_us") >= startUs && col("bucket_us") < endUs)
          .withColumn("resolution", lit("hour"))
      else
        hourly.filter(
            (col("bucket_us") >= startUs && col("bucket_us") < dayStart) ||
              (col("bucket_us") >= dayEnd && col("bucket_us") < endUs))
          .withColumn("resolution", lit("hour"))
          .unionByName(
            daily.filter(col("bucket_us") >= dayStart && col("bucket_us") < dayEnd)
              .withColumn("resolution", lit("day")))
    // sum_value serves as DOUBLE (exact decimal → one correctly-rounded
    // conversion, bit-identical in any engine); the store itself stays
    // DECIMAL so merges remain exact
    out.select(col("resolution"), col("event_type"), col("bucket_us"),
      col("n_events"), col("sum_value").cast("double").as("sum_value"))
  }

  /** Serve from a materialized store written by [[writeRollups]]. */
  def serveFromStore(spark: SparkSession, path: String,
      startUs: Long, endUs: Long): DataFrame =
    multiResRange(spark.read.parquet(s"$path/rollup_hour"),
      spark.read.parquet(s"$path/rollup_day"), startUs, endUs)

  /** Streaming rollup maintenance: a foreachBatch sink keeping the
    * [[writeRollups]] store continuously up to date — the continuous-
    * aggregate / recording-rule pattern. Each micro-batch is
    * pre-aggregated to its touched buckets and merged into the store by
    * re-aggregating (counts and DECIMAL sums are decomposable, so merge =
    * group-and-sum — exactly the batch result, proven in the spec).
    *
    * The merge rewrites the whole rollup table per batch — safe because
    * the rollup is tiny BY CONSTRUCTION (|types| × |buckets| rows — a
    * year of hours × 1000 types is ~10M rows, trivial per batch even at
    * 100 TB of base data); swap via an aside/rename pair (heal-on-entry
    * makes a crashed swap self-repair). */
  /** Unconditional merge (no replay guard) — for batch callers that
    * manage their own delivery semantics. The streaming sink passes the
    * micro-batch id instead. */
  def mergeRollups(batch: DataFrame, path: String): Unit =
    mergeRollups(batch, path, batchId = -1L)

  /** Merge with a replay guard: foreachBatch is AT-LEAST-once — a crash
    * after the merge lands but before the checkpoint commits re-delivers
    * the same micro-batch, and an additive merge applied twice
    * double-counts. The applied batch id is written INSIDE the grain
    * directory before the swap, so data + marker commit atomically in
    * the same rename; a re-delivered id (≤ the recorded one) is skipped.
    * (`_`-prefixed files are metadata to Spark's parquet reader, like
    * `_SUCCESS`.) */
  def mergeRollups(batch: DataFrame, path: String, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    Seq("rollup_hour" -> HourUs, "rollup_day" -> DayUs).foreach {
      case (name, bucketUs) =>
        val dir = new Path(path, name)
        val tmp = new Path(path, s".${name}_tmp")
        val old = new Path(path, s".${name}_old")
        // heal a swap that crashed between its renames
        if (!fs.exists(dir) && fs.exists(old))
          require(fs.rename(old, dir), s"could not restore $old")
        val marker = new Path(dir, "_last_batch")
        val lastApplied: Long =
          if (fs.exists(marker)) {
            val in = fs.open(marker)
            try scala.io.Source.fromInputStream(in).mkString.trim.toLong
            finally in.close()
          } else -1L
        if (batchId < 0 || batchId > lastApplied) {
          fs.delete(tmp, true)
          val inc = rollup(batch, bucketUs)
          val merged =
            if (fs.exists(dir))
              spark.read.parquet(dir.toString).unionByName(inc)
                .groupBy(col("event_type"), col("bucket_us"))
                .agg(sum(col("n_events")).as("n_events"),
                  sum(col("sum_value")).cast("decimal(18,2)").as("sum_value"))
            else inc
          merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          // a batch-mode merge (batchId < 0) on a store that carries a
          // replay marker must CARRY the marker forward — dropping it
          // would erase the guard and let a restarted stream re-apply its
          // last micro-batch on top of the batch merge (double-count)
          val markerVal = math.max(batchId, lastApplied)
          if (markerVal >= 0) {
            val out = fs.create(new Path(tmp, "_last_batch"), true)
            try out.write(markerVal.toString.getBytes("UTF-8"))
            finally out.close()
          }
          fs.delete(old, true)
          if (fs.exists(dir))
            require(fs.rename(dir, old), s"could not move $dir aside")
          require(fs.rename(tmp, dir), s"could not swap $tmp into $dir")
          fs.delete(old, true)
        }
    }
  }

  /** The streaming writer over [[mergeRollups]] (events frame: `ts`
    * timestamp, `event_type`, `value`): the checkpoint makes delivery
    * at-least-once, the in-directory batch-id marker makes the merge
    * idempotent per batch — together, effectively-once. */
  def rollupSink(events: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => mergeRollups(b, path, id))
      .start()

  /** Derive both grains inline from the base table (the no-store form the
    * oracle checks; production serves from [[writeRollups]] output). */
  def multiResRangeFromBase(events: DataFrame,
      startUs: Long, endUs: Long): DataFrame =
    multiResRange(rollup(events, HourUs), rollup(events, DayUs),
      startUs, endUs)
}
