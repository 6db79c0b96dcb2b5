package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: the graft extensions (native
  * expressions as SQL functions, the as-of join strategy, the cosine
  * fusion and rollup navigator rules, compiled-code reuse across queries
  * that differ only in constants) and the engine's recommended confs
  * applied. Every main, dev tool and the test session build through
  * here; a harness that needs its own confs adds them to
  * [[localBuilder]]. A user of the reference engine starts here:
  *
  * {{{
  *   val spark = GraftSession.local(cpus = 32)
  *   SparkEntry.registerViews(spark, "/data/sf")   // optional SQL surface
  *   spark.sql("SELECT graft_cosine(a, b) FROM ...")
  * }}}
  *
  * On a real cluster use [[configure]] on your own builder instead of
  * [[local]] — the extension/conf set is identical; only the master and
  * shuffle sizing differ.
  */
object GraftSession {

  /** Apply the graft extensions and engine confs to an existing builder.
    * Confs follow the 100 TB design notes: AQE on (runtime re-plan, skew
    * splitting), shuffle partitions sized by the caller (cores locally;
    * ~2-3× total cores on a cluster), UTC session time (the oracle-stable
    * timestamp convention). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // without this, AQE REFUSES to split a skewed join partition
      // whenever a downstream operator reuses the join's partitioning —
      // and aggregate-on-the-join-key, the single most common analytics
      // shape, is exactly that case. Measured (PLANS.md round 10, 10 M
      // rows 99 % on one key): refused 7.4 s vs forced 1.4 s INCLUDING
      // the extra re-shuffle the force accepts. The full hot-share sweep
      // (synth:0.1-0.99, r11) shows no regression region anywhere: the
      // force only fires when a partition exceeds BOTH the byte
      // threshold AND 5× the median (skewedPartitionFactor), so in the
      // mildly-skewed band it never engages (plans byte-identical to
      // off), and wherever it does engage it wins ≥2× including the
      // extra shuffle. At 100 TB a hot key crosses the default 256 MiB
      // threshold routinely; serializing sort+join+agg of the hot
      // partition onto one task is never the better trade.
      .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")

  /** Local core count for a main's session: `$SPARK_GRAFT_CPUS`, else
    * the host's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Builder for a local session at `local[cpus]` with the extensions
    * applied — for a harness that adds its own confs (a scheduler mode,
    * an AQE knob) before `getOrCreate()`. */
  def localBuilder(cpus: Int, appName: String): SparkSession.Builder =
    configure(SparkSession.builder(), cpus)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.ui.enabled", "false")

  /** Local session at `local[cpus]` with the extensions applied. */
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val s = localBuilder(cpus, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
