package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Rollup
import graft.plans.RollupRewrite

/** The aggregate navigator: day-grain re-bucketing aggregates over a
  * registered hour-rollup path must be answered from the day rollup
  * (bit-identical rows, day files scanned) — and must NOT fire for any
  * shape where the rewrite could change the answer. */
class RollupRewriteSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // the shared test session carries the navigator (GraftExtensions);
  // registration state is cleared per test
  private def withNavigator[A](body: => A): A =
    try body
    finally RollupRewrite.clear()

  private def mkStore(): String = {
    val store = Files.createTempDirectory("graft_navigator_").toString
    val events = (for (d <- 0 until 5; h <- 0 until 24; t <- Seq("a", "b"))
      yield (t, (d * 24 + h).toLong, (d * 13 + h * 7) % 11 + 0.25))
      .toDF("event_type", "hour", "value")
      .select(col("event_type"),
        timestamp_micros(col("hour") * Rollup.HourUs).as("ts"), col("value"))
    Rollup.writeRollups(events, store)
    store
  }

  private def hourDf(store: String) = spark.read.parquet(s"$store/rollup_hour")

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("day-grain rebucket over the hour table reads the day rollup, same rows") {
    val store = mkStore()
    withNavigator {
      RollupRewrite.register(spark, s"$store/rollup_hour", s"$store/rollup_day")
      val rebucketed = Rollup.rebucket(hourDf(store), Rollup.DayUs)
      val plan = scannedPaths(rebucketed)
      assert(plan.contains("rollup_day"), s"navigator did not fire:\n$plan")
      assert(!plan.contains("rollup_hour"), "hour table still scanned")
      val direct = spark.read.parquet(s"$store/rollup_day")
        .select("event_type", "bucket_us", "n_events", "sum_value")
        .orderBy("event_type", "bucket_us").collect().toSeq
      val got = rebucketed.select("event_type", "bucket_us", "n_events", "sum_value")
        .orderBy("event_type", "bucket_us").collect().toSeq
      assert(got == direct, "rewritten answer must equal the day table")
    }
  }

  test("week-grain (multiple of a day) also fires; results equal the unrewritten plan") {
    val store = mkStore()
    withNavigator {
      val want = Rollup.rebucket(hourDf(store), 7 * Rollup.DayUs)
        .orderBy("event_type", "bucket_us").collect().toSeq
      RollupRewrite.register(spark, s"$store/rollup_hour", s"$store/rollup_day")
      val df = Rollup.rebucket(hourDf(store), 7 * Rollup.DayUs)
      assert(scannedPaths(df).contains("rollup_day"))
      assert(df.orderBy("event_type", "bucket_us").collect().toSeq == want)
    }
  }

  test("navigator refuses unsafe shapes") {
    val store = mkStore()
    withNavigator {
      RollupRewrite.register(spark, s"$store/rollup_hour", s"$store/rollup_day")
      // hour-grain bucket: not day-aligned
      val hourGrain = Rollup.rebucket(hourDf(store), Rollup.HourUs)
      assert(!scannedPaths(hourGrain).contains("rollup_day"))
      // count(*) counts HOUR rows, not events — must not be rewritten
      val counts = hourDf(store).groupBy(col("event_type"),
          graft.functions.GraftFunctions.time_bucket(col("bucket_us"), Rollup.DayUs)
            .as("bucket_us"))
        .agg(count(lit(1)).as("n_rows"))
      assert(!scannedPaths(counts).contains("rollup_day"))
      // raw bucket_us grouping: must not be rewritten
      val raw = hourDf(store).groupBy(col("event_type"), col("bucket_us"))
        .agg(sum(col("n_events")).as("n_events"))
      assert(!scannedPaths(raw).contains("rollup_day"))
      // grouping by a MEASURE column: hour rows group differently than
      // day rows — only registered dimension columns may group
      val byMeasure = hourDf(store).groupBy(
          graft.functions.GraftFunctions.time_bucket(col("bucket_us"), Rollup.DayUs)
            .as("bucket_us"), col("n_events"))
        .agg(sum(col("sum_value")).as("sum_value"))
      assert(!scannedPaths(byMeasure).contains("rollup_day"))
      // sum over a DOUBLE column: IEEE sums don't compose across grains —
      // a registered table pair carrying a native double measure must
      // refuse even though every other condition matches
      val dStore = Files.createTempDirectory("graft_nav_double_").toString
      val dRows = Seq(("a", 0L, 1.1), ("a", Rollup.HourUs, 2.2))
        .toDF("event_type", "bucket_us", "dval")
      dRows.write.parquet(s"$dStore/rollup_hour")
      dRows.limit(1).write.parquet(s"$dStore/rollup_day")
      RollupRewrite.register(spark, s"$dStore/rollup_hour", s"$dStore/rollup_day")
      val doubleSum = spark.read.parquet(s"$dStore/rollup_hour")
        .groupBy(col("event_type"),
          graft.functions.GraftFunctions.time_bucket(col("bucket_us"), Rollup.DayUs)
            .as("bucket_us"))
        .agg(sum(col("dval")).as("dval"))
      assert(!scannedPaths(doubleSum).contains("rollup_day"))
      // a filter between scan and aggregate: conservative refusal
      val filtered = Rollup.rebucket(
        hourDf(store).filter(col("bucket_us") >= Rollup.DayUs), Rollup.DayUs)
      assert(!scannedPaths(filtered).contains("rollup_day"))
      // unregistered path: untouched
      RollupRewrite.clear()
      val un = Rollup.rebucket(hourDf(store), Rollup.DayUs)
      assert(!scannedPaths(un).contains("rollup_day"))
    }
  }

  test("navigator sees a freshly merged store (re-resolves at rewrite time)") {
    val store = mkStore()
    withNavigator {
      RollupRewrite.register(spark, s"$store/rollup_hour", s"$store/rollup_day")
      val before = Rollup.rebucket(hourDf(store), Rollup.DayUs).count()
      // stream one more day into the store, then re-run the SAME query shape
      val more = (for (h <- 0 until 24) yield ("a", (24 * 100 + h).toLong, 1.0))
        .toDF("event_type", "hour", "value")
        .select(col("event_type"),
          timestamp_micros(col("hour") * Rollup.HourUs).as("ts"), col("value"))
      Rollup.mergeRollups(more, store)
      val after = Rollup.rebucket(hourDf(store), Rollup.DayUs)
      assert(scannedPaths(after).contains("rollup_day"))
      assert(after.count() == before + 1, "new day must be visible")
    }
  }
}
