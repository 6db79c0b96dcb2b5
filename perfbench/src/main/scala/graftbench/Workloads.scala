package graftbench

import Series.{HourMs, T0}

/** The two workloads. Both start from the same store, built `WarmSetups`
  * times per run, each time on a freshly built session, after a short
  * warm-up build on the cold JVM, so that set-up time is a median of warm
  * builds; the last store is the one measured. It holds
  * `StoreHours` of the reference series from `T0`:
  *  - the oldest `OldHours` are committed in one `Committer.ingest`,
  *    compacted per hour and vacuumed;
  *  - the newest hours arrive as `SetupBatch`-point micro-batches through
  *    `Committer.ingestOnce` and stay as micro-batch files.
  * `serve` then reads that store; `ingest` keeps writing to it. */
object Workloads {
  val StoreHours = 6
  val OldHours = 4
  val StorePoints: Int = StoreHours * 3600
  val SetupBatch = 1800
  val LoopBatch = 300
  val ColdHours = 3
  val StatsHours = 3
  val WarmSetups = 3
  /** Untimed operations before the clock starts: a fixed count starts
    * every run at the same point of the JVM's compile curve, which the
    * lowered compile thresholds (`JIT` in run.py) keep short. */
  val WarmReads = 9
  val WarmCycles = 2
  /** Fewest timed samples of each operation kind a run takes, however
    * long that takes, so that no median rests on a handful. */
  val MinPerKind = 16
  /** Most points the ingest loop may append: far more than a run reaches. */
  val MaxLoopPoints = 100 * 3600

  /** What a workload leaves behind for the metrics. */
  final case class Result(store: Store, setupMs: Seq[Double],
      maintMsPerHour: Seq[Double], batchStage: String)

  /** Stages of the set-up operations: the warm-up build on the cold JVM,
    * whose figures are no samples, and the warm builds. */
  val ColdSetup = "setup-cold"
  val WarmSetup = "setup"

  /** Seeded choices: operation kinds, and the windows they read. Kinds
    * and `stats` start hours come in shuffled blocks that hold each value
    * once, so every run makes the same mix of operations over the same
    * spread of store regions; the seed picks their order and the offsets
    * inside hours. */
  final class Mix(seed: Long, kinds: Seq[String]) {
    private val rng = new java.util.SplittableRandom(seed ^ 0x5851F42D4C957F2DL)
    private var kindBlock: List[String] = Nil
    private var hourBlock: List[Int] = Nil

    private def shuffled[A](xs: Seq[A]): List[A] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toList
    }

    def next(): String = {
      if (kindBlock.isEmpty) kindBlock = shuffled(kinds)
      val k = kindBlock.head
      kindBlock = kindBlock.tail
      k
    }

    private def below(n: Long): Long = rng.nextLong(n)

    /** A 1 h window starting at a whole second inside the store's newest
      * two hours. */
    def hot(): (Long, Long) = {
      val s = T0 + (StoreHours - 2) * HourMs + below(3600) * 1000L
      (s, s + HourMs - 1)
    }

    /** A `ColdHours` window inside the compacted `OldHours`; it holds more
      * points than the row cap, so the cap binds. */
    def cold(): (Long, Long) = {
      val s = T0 + below(3600) * 1000L
      (s, s + ColdHours * HourMs - 1)
    }

    /** A `StatsHours` window whose edges fall inside hours, within the
      * store's `StoreHours`. */
    def stats(): (Long, Long) = {
      if (hourBlock.isEmpty) hourBlock = shuffled(0 until StoreHours - StatsHours)
      val h = hourBlock.head
      hourBlock = hourBlock.tail
      val s = T0 + h * HourMs + (1 + below(3599)) * 1000L
      (s, s + StatsHours * HourMs - 1)
    }
  }

  private def hours(from: Int, until: Int): Seq[Long] =
    (from until until).map(Series.hourOf(T0) + _)

  /** Build the starting store `WarmSetups` times, each time on a new
    * session, after one short warm-up build on the cold JVM. Returns the
    * last store with the wall time of every warm set-up and the per-hour
    * maintenance cost of every hour they compacted. */
  private def setup(run: Run, series: Series): (Store, Seq[Double], Seq[Double]) = {
    var store: Store = null
    val walls = Seq.newBuilder[Double]
    val maint = Seq.newBuilder[Double]
    for (k <- 0 to WarmSetups) {
      // build 0 makes each call once on the cold JVM, where it takes several
      // times as long as later; none of its figures is a sample
      val warm = k > 0
      val (old, points) = if (warm) (OldHours, StorePoints) else (1, 3600 + SetupBatch)
      run.stage = if (warm) WarmSetup else ColdSetup
      val prev = store
      val t0 = run.tracer.nowMs
      run.session()
      store = new Store(run, s"${run.args.work}/store$k", series)
      store.bulk(old * 3600)
      while (store.visible < points)
        store.batch(math.min(store.visible + SetupBatch, points))
      val perHour = store.maintain(hours(0, old))
      if (warm) {
        walls += run.tracer.nowMs - t0
        maint ++= perHour
      }
      if (prev != null) Store.delete(prev.root)
    }
    (store, walls.result(), maint.result())
  }

  private def checkAll(run: Run, store: Store): Unit = {
    run.stage = "check"
    store.read("stats", 0L, Long.MaxValue / 4)
  }

  /** Loop until `seconds` have passed and every kind in `kinds` has
    * `MinPerKind` timed samples, or until `more` turns false. */
  private def timedLoop(run: Run, kinds: Seq[String], more: => Boolean = true)(
      step: Boolean => Unit): Unit = {
    run.stage = "timed"
    val deadline = run.tracer.nowMs + run.args.seconds * 1000.0
    val hardStop = deadline + 30000.0
    var n = 0
    def short = kinds.exists(k =>
      run.ops.count(o => o.stage == "timed" && o.kind == k && !o.traced) < MinPerKind)
    while ((run.tracer.nowMs < deadline || short) && run.tracer.nowMs < hardStop && more) {
      // a traced run alternates traced and untraced steps; their medians
      // give the tracing overhead
      step(n % 2 == 0)
      n += 1
    }
  }

  /** Read-only serving: a seeded closed loop of `hot`, `cold` and `stats`
    * reads in equal shares on the maintained store, one client. */
  def serve(run: Run): Result = {
    val series = new Series(run.args.seed, StorePoints)
    val (store, setupMs, maint) = setup(run, series)
    checkAll(run, store)
    val mix = new Mix(run.args.seed, Seq("hot", "cold", "stats"))
    def step(traced: Boolean): Unit = {
      val kind = mix.next()
      val (s, e) = kind match {
        case "hot" => mix.hot()
        case "cold" => mix.cold()
        case _ => mix.stats()
      }
      store.read(kind, s, e, traced)
    }
    run.stage = "warm"
    (0 until WarmReads).foreach(_ => step(traced = true))
    timedLoop(run, Seq("hot", "cold", "stats"))(step)
    Result(store, setupMs, maint, WarmSetup)
  }

  /** Writes beside reads: a closed loop of `LoopBatch`-point micro-batches
    * through `ingestOnce`, each followed by three reads of the growing
    * store: the newest hour (`hot`), a `cold` window and a `stats`
    * aggregate over the newest `StatsHours`. Then a maintenance pass
    * compacts every closed hour not compacted yet, and vacuums. */
  def ingest(run: Run): Result = {
    val series = new Series(run.args.seed, StorePoints + MaxLoopPoints)
    val (store, setupMs, maint) = setup(run, series)
    checkAll(run, store)
    val mix = new Mix(run.args.seed, Nil)
    def reads(traced: Boolean): Unit = {
      val newest = series.ts(store.visible - 1)
      store.read("hot", newest - HourMs + 1, newest, traced)
      val (cs, ce) = mix.cold()
      store.read("cold", cs, ce, traced)
      store.read("stats", newest - StatsHours * HourMs + 1, newest, traced)
    }
    run.stage = "warm"
    (0 until WarmCycles).foreach { _ =>
      store.batch(store.visible + LoopBatch)
      reads(traced = true)
    }
    store.batchFiles.clear()
    timedLoop(run, Seq("batch", "hot", "cold", "stats"),
        more = store.visible + LoopBatch <= series.n) { traced =>
      store.batch(store.visible + LoopBatch, traced)
      reads(traced)
    }
    run.stage = "maint"
    val closed = hours(OldHours, (store.visible - 1) / 3600)
    val perHour = store.maintain(closed)
    checkAll(run, store)
    Result(store, setupMs, maint ++ perHour, "timed")
  }
}
