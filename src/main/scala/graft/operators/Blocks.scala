package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TimeSeries.tsUs

/** How a skew-proof window family cuts a key's timeline into blocks.
  *
  * The plain window families partition by one key (`user_id` or
  * `event_type`): correct and one shuffle, but ONE window partition per
  * key, so a hot key holding 90 % of the rows serializes 90 % of the pass
  * on one task (AQE cannot split a window partition). Each blocked form
  * partitions by (key, `blk`) instead and repairs the block boundary, so
  * hot-key parallelism is the block count while the output stays
  * bit-identical to the plain form.
  *
  * A cut adds `blk`, contiguous and ascending in the per-key
  * (ts_us, event_id) order:
  *  - [[Blocks.Time]] cuts every `us` microseconds — no extra pass, but a
  *    burst that lands a hot key inside one block re-serializes it;
  *  - [[Blocks.Rows]] cuts every `n` rows of the per-key
  *    [[Analytics.distributedRank]] index (itself range-partitioned, so
  *    skew-proof) — density-blind, at the cost of the rank pass.
  *
  * The family picks its boundary repair by the cut: time cuts carry the
  * neighbor through one summary row per block (struct min/max), count
  * cuts through ghost rows found by index arithmetic. The session, path
  * and transition stitches merge adjacent local results whatever cut
  * made them. [[Blocks.dispatch]] picks plain, time or count from the
  * measured data. */
sealed trait Blocks {
  /** `e` (which has `ts_us`, `event_id` and `key`) plus `blk`. */
  def cut(e: DataFrame, key: String): DataFrame
  /** The total order inside a block: the rank for a count cut,
    * (ts_us, event_id) for a time cut. */
  def order: Seq[Column]
  /** Whether every gap-delimited session can span this cut's blocks:
    * a time cut must be wider than the gap; a count cut has no such
    * precondition (small blocks only mean more stitch rows). */
  def exceeds(gapUs: Long): Boolean
}

object Blocks {
  final case class Time(us: Long) extends Blocks {
    require(us > 0L, s"blockUs=$us must be positive")
    def cut(e: DataFrame, key: String): DataFrame =
      e.withColumn("blk", expr(s"ts_us div ${us}L"))
    def order: Seq[Column] = Seq(col("ts_us"), col("event_id"))
    def exceeds(gapUs: Long): Boolean = us > gapUs
  }

  final case class Rows(n: Long) extends Blocks {
    require(n > 0L, s"blockRows=$n must be positive")
    def cut(e: DataFrame, key: String): DataFrame =
      Analytics.distributedRank(e, Seq(key), Seq(col("ts_us"), col("event_id")))
        .drop("off", "n")
        .withColumn("blk", expr(s"(rn - 1) div ${n}L"))
    def order: Seq[Column] = Seq(col("rn"))
    def exceeds(gapUs: Long): Boolean = true
  }

  /** A time cut every `us` microseconds; refuses `us <= 0`. */
  def time(us: Long): Time = Time(us)
  /** A count cut every `n` rows of the per-key rank; refuses `n <= 0`. */
  def rows(n: Long): Rows = Rows(n)

  private val HourUs = 3600000000L
  /** Default sizes: a series' time cut is one hour, a session's 64 × its
    * gap (blocks shorter than the gap make every local session a
    * boundary session), and a count cut 262,144 rows. */
  val hourly: Time = time(HourUs)
  def session(gapUs: Long): Time = time(64L * gapUs)
  val DefaultRows = 262144L

  /** The family's plain form, or its blocked form on the cut
    * [[dispatch]] picks. `time` is the time cut the family would run
    * (none: it has no runnable time cut, so a skewed input takes the
    * count cut). Every branch is bit-identical (spec-pinned per family),
    * so the choice affects performance only, never results. */
  def adaptive(events: DataFrame, key: String, blockRows: Long,
      sampleFraction: Double, skewThreshold: Double,
      time: Option[Time] = Some(hourly))(plain: => DataFrame)(
      blocked: Blocks => DataFrame): DataFrame =
    dispatch(events, key, blockRows, sampleFraction, skewThreshold, time)
      .fold(plain)(blocked)

  /** The three-signal dispatch (one sampled probe job,
    * [[sampledKeyDensityStats]]); `None` means plain:
    *
    *  1. SHARE — below `skewThreshold` the plain single-window pass is
    *     already balanced: plain.
    *  2. VOLUME — a dominant key whose rows fit in < 2 count blocks gains
    *     nothing from any blocked form (2.3× overhead measured on the
    *     5-type sf0.1 corpus, where share ≥ 0.2 always but the hot series
    *     is ~20 k rows): plain.
    *  3. DENSITY — when the hot key's densest `time` block fits in one
    *     count block, the time cut bounds the max task at ~blockRows
    *     without the rank pass (PLANS.md rounds 12–13: time blocks 2.4–
    *     4.2× over plain at 99 % spread skew, count blocks only 1.0–1.2×
    *     there — distributedRank's materialization eats the win); past
    *     it — the burst shape that re-serializes time blocks — the count
    *     cut. The densest block is bounded conservatively by
    *     densest-hour × hours-per-block, read off the width of `time`.
    *
    * Costs: the probe is ONE job scanning two columns of a sample —
    * ~0.25 s of scheduling floor on a small corpus, and a 2-column
    * columnar scan at scale (cheap next to the operator's own full scan
    * and shuffle). A frame whose PLAN-STATS size cannot hold two blocks
    * at 1 byte/row skips the probe (zero jobs): bytes < 2×blockRows ⇒
    * rows < 2×blockRows ⇒ the volume gate would pick plain anyway. */
  private[graft] def dispatch(events: DataFrame, key: String, blockRows: Long,
      sampleFraction: Double, skewThreshold: Double,
      time: Option[Time] = Some(hourly)): Option[Blocks] = {
    val byRows = rows(blockRows)
    // zero-job gate 1: plan-stats bytes (bytes ≥ rows always)
    val bytes = events.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(2L) * BigInt(blockRows)) return None
    // zero-job gate 2: the probe stats memo
    val (share, hotRows, hotHour) =
      memoizedKeyDensityStats(events, key, sampleFraction)
    if (share < skewThreshold || hotRows < 2.0 * blockRows) None
    else Some(time.filter(t =>
      hotHour * math.max(1.0, t.us / HourUs.toDouble) <= blockRows).getOrElse(byRows))
  }

  /** Sampled (hottest-key share, ESTIMATED hottest-key rows, ESTIMATED
    * hottest-key rows in its DENSEST HOUR) — the dispatch probe, ONE
    * sampled job. Needs a `ts` column. `fraction=1.0` makes all three
    * exact. */
  def sampledKeyDensityStats(df: DataFrame, key: String,
      fraction: Double = 0.01, seed: Long = 42L): (Double, Double, Double) = {
    val g = df.select(col(key), tsUs(col("ts")).as("_us"))
      .sample(withReplacement = false, fraction, seed)
      .withColumn("_h", expr("_us div 3600000000L"))
      .groupBy(col(key), col("_h")).agg(count(lit(1)).as("n"))
      .groupBy(col(key))
      .agg(sum(col("n")).as("tot"), max(col("n")).as("maxh"))
    val r = g.agg(sum(col("tot")).as("grand"),
      max_by(struct(col("tot"), col("maxh")), col("tot")).as("hot"))
      .collect()(0)
    if (r.isNullAt(0) || r.isNullAt(1)) (0.0, 0.0, 0.0)
    else {
      val grand = r.getLong(0)
      val hot = r.getStruct(1)
      if (grand == 0L) (0.0, 0.0, 0.0)
      else (hot.getLong(0).toDouble / grand,
        hot.getLong(0).toDouble / fraction,
        hot.getLong(1).toDouble / fraction)
    }
  }

  /** Session-scoped memo of the probe STATS: every dispatch paid the
    * ~0.25 s probe job even when plain wins. Keyed on the CANONICALIZED
    * logical plan of the probed frame plus the probe parameters, so a
    * repeated dispatch over the same source (a dashboard re-running the
    * same adaptive query, or a bench rep) reads the memoized stats with
    * ZERO jobs. Stats, not decisions, are memoized — thresholds still
    * apply per call, so the same frame dispatches correctly under
    * different skewThreshold/blockRows arguments. Staleness (data mutated
    * under an identical plan, e.g. files rewritten at the same path) can
    * only mis-DISPATCH, never mis-ANSWER: every branch is bit-identical,
    * so a stale entry costs performance, not correctness — the same
    * contract plan-stats-driven optimizers (CBO, AQE estimates) already
    * accept. Bounded at [[ProbeMemoMax]] entries: an overflow evicts the
    * one least recently used entry, so a frame that keeps being
    * dispatched stays memoized however many others pass through (entries
    * are 3 doubles — the bound is defensive, not load-bearing). */
  private[graft] val ProbeMemoMax = 512
  /** Access-ordered, so the eldest entry is the least recently used;
    * every access holds its lock (lookups and inserts only — never a
    * probe job). */
  private[graft] val probeStatsMemo =
    new java.util.LinkedHashMap[(Int, String, String, Double, Long), (Double, Double, Double)](
      16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (Int, String, String, Double, Long), (Double, Double, Double)]): Boolean =
        size > ProbeMemoMax
    }

  private[graft] def memoProbeSize: Int = probeStatsMemo.synchronized(probeStatsMemo.size)
  private[graft] def memoProbeClear(): Unit = probeStatsMemo.synchronized(probeStatsMemo.clear())

  private[graft] def memoizedKeyDensityStats(df: DataFrame, key: String,
      fraction: Double, seed: Long = 42L): (Double, Double, Double) = {
    val plan = df.queryExecution.optimizedPlan
    // semanticHash + schema string: the int hash alone could collide two
    // distinct plans (perf-only harm, but cheap to harden against)
    val memoKey = (plan.semanticHash(), plan.schema.catalogString,
      key, fraction, seed)
    // never run the ~0.25 s probe JOB while holding the memo lock — that
    // would serialize unrelated dispatches behind it. Locked get → run
    // outside any lock → locked putIfAbsent: two racing dispatches of the
    // SAME frame may both run the probe (stats are deterministic for a
    // (plan, fraction, seed) key, so both compute the same triple and the
    // first put wins harmlessly), but no dispatch ever blocks behind
    // another's Spark job.
    val cached = probeStatsMemo.synchronized(probeStatsMemo.get(memoKey))
    if (cached != null) return cached
    val stats = sampledKeyDensityStats(df, key, fraction, seed)
    probeStatsMemo.synchronized(probeStatsMemo.putIfAbsent(memoKey, stats))
    stats
  }
}
