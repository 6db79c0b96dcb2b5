package graftbench

import java.lang.management.ManagementFactory

import org.json4s._
import org.json4s.JsonDSL._

/** Benchmark entry point:
  * {{{
  *   graftbench.Main --workload serve|ingest --seed N --seconds S --trace 0|1
  *                   --work DIR --out DIR
  * }}}
  * Prints a provenance line, then, as the last line, one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. Every
  * operation's start and wall time go to `DIR/ops-<workload>-<seed>-trace<0|1>.jsonl`;
  * a traced run also writes its spans to `DIR/spans-<workload>-<seed>.jsonl`. */
object Main {
  val Workloads = Map[String, Run => graftbench.Workloads.Result](
    "serve" -> graftbench.Workloads.serve,
    "ingest" -> graftbench.Workloads.ingest)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t")
      }, get("work"), get("out"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.keys.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val run = new Run(args)
    try {
      val result = Workloads(args.workload)(run)
      val metrics =
        if (!args.trace) Metrics.endToEnd(run, result)
        else {
          run.jobs().filter(_.endMs >= 0).foreach(j =>
            run.tracer.addChild("exec.job", j.op, j.startMs.toDouble, j.endMs.toDouble))
          val spans = run.tracer.spans
          Trace.write(java.nio.file.Paths.get(args.out,
            s"spans-${args.workload}-${args.seed}.jsonl"), spans)
          Metrics.layers(run, result, run.jobs(), spans)
        }
      writeOps(java.nio.file.Paths.get(args.out,
        s"ops-${args.workload}-${args.seed}-trace${if (args.trace) 1 else 0}.jsonl"), run)
      val spark = run.spark
      val attempted = run.ops.size
      val failed = run.ops.count(!_.ok)
      val timed = run.ops.filter(o => o.stage == "timed" && o.ok)
      val selfMs =
        if (args.trace) Metrics.selfByLayer(run, run.tracer.spans)
          .map { case (k, v) => k -> Json.num(v) }.toList
        else Nil
      val provenance =
        ("workload" -> args.workload) ~
        ("seed" -> args.seed) ~
        ("seconds" -> args.seconds) ~
        ("trace" -> args.trace) ~
        ("nproc" -> run.cpus) ~
        ("default_parallelism" -> spark.sparkContext.defaultParallelism) ~
        ("shuffle_partitions" -> spark.sessionState.conf.numShufflePartitions) ~
        ("heap_max_bytes" -> Runtime.getRuntime.maxMemory) ~
        ("spark_version" -> spark.version) ~
        ("java_version" -> System.getProperty("java.version")) ~
        ("load_avg_start" -> loadStart) ~
        ("load_avg_end" -> os.getSystemLoadAverage) ~
        ("fail_frac" -> failed.toDouble / math.max(1, attempted)) ~
        ("failures" -> run.failures.take(20).toList) ~
        ("timed_ops" -> JObject((Metrics.ReadKinds :+ "batch").map(k =>
          k -> JInt(timed.count(_.kind == k))).toList)) ~
        ("setup_ms" -> result.setupMs.toList) ~
        ("self_ms" -> JObject(selfMs))
      println(Json.line("provenance" -> provenance))
      println(Json.line(
        ("correct" -> (failed == 0)) ~
        ("attempted" -> attempted) ~
        ("failed" -> failed) ~
        ("metrics" -> JObject(metrics.map(m =>
          m.name -> (("value" -> Json.num(m.value)) ~ ("unit" -> m.unit))).toList))))
    } finally run.close()
  }

  private def writeOps(path: java.nio.file.Path, run: Run): Unit =
    Json.writeLines(path, run.ops.toList.map(o =>
      ("id" -> o.id) ~ ("kind" -> o.kind) ~ ("stage" -> o.stage) ~
        ("start_ms" -> o.startMs) ~ ("ms" -> o.ms) ~
        ("ok" -> o.ok) ~ ("traced" -> o.traced)))
}
