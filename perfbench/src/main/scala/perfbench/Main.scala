package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** What one run measured, and each output check by name: None when the
  * output was right, else the reason. */
final case class Result(
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    checks: Seq[(String, Option[String])],
    notes: Map[String, Any]) {
  def attempted: Int = checks.size
  def failed: Int = checks.count(_._2.nonEmpty)
  /** True when every failed check is a known fault of the engine. */
  def correct: Boolean = checks.forall { case (n, r) => r.isEmpty || Checks.KnownFaults(n) }
}

final class RunConfig(
    val seed: Long,
    val seconds: Int,
    val tracer: Tracer,
    val cores: Int,
    val runDir: File,
    val outDir: File,
    val sessionS: Double) {
  val progress = new ProgressCollector
  val exec = new ExecCollector
  def dir(name: String): File = new File(runDir, name)

  /** `setup_s`: the JVM and the Spark session start once per process and
    * are measured once (`sessionS`); the workload's own set-up (inputs,
    * planning, start) runs [[RunConfig.SetUps]] times and adds its median. */
  def setupS(setupSec: collection.Seq[Double]): Double = sessionS + Stats.median(setupSec)
}

object RunConfig {
  val SetUps = 3
}

/** Runs one workload once and prints its metrics as the last stdout line:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --run-dir <dir> --out-dir <dir>
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` registers the
  * listeners, the log appender and the spans, prints the per-layer metrics
  * and writes the spans and notes to `<out-dir>/trace-<workload>-<seed>.json`. */
object Main {
  val Workloads = Seq("keyed_analytics", "curate_batch")

  /** Measured in every run but printed with the per-layer metrics: the
    * open-loop latency of keyed_analytics spreads too widely from run to run
    * for a regression bound (figures in the README). */
  val UnboundedEndToEnd = Set("latency_p50_ms", "latency_p95_ms")

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "records_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_p95_ms" -> "ms", "retained_heap_mb" -> "MB",
    "sql.parse_ms" -> "ms", "plan.build_ms" -> "ms", "catalyst.prepare_ms" -> "ms",
    "codegen.fallbacks" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.offsets_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.add_batch_ms" -> "ms", "gen.late_ms" -> "ms",
    "state.rows" -> "count", "state.memory_mb" -> "MB", "state.commit_ms" -> "ms",
    "state.update_ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.task_skew" -> "ratio", "operators.analyze_s" -> "s",
    "operators.minhash_pairs_s" -> "s", "operators.components_s" -> "s",
    "operators.pack_s" -> "s", "pack.fill_ratio" -> "ratio", "jvm.heap_peak_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val tracer = new Tracer(opts("trace") == "1")
    val codegen = if (tracer.enabled) Some(CodegenFallbackCounter.attach()) else None
    val cores = opts("cores").toInt
    val runDir = new File(opts("run-dir"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(runDir, "local").toString)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").toString)
      .getOrCreate()
    val run = new RunConfig(opts("seed").toLong, opts("seconds").toInt, tracer,
      cores, runDir, new File(opts("out-dir")),
      (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val result =
      try {
        if (run.tracer.enabled) {
          spark.sparkContext.addSparkListener(run.exec)
          spark.streams.addListener(run.progress)
        }
        workload match {
          case "curate_batch" => new CurateRun(spark, run).execute()
          case "keyed_analytics" => new KeyedRun(spark, run).execute()
        }
      } finally spark.stop()

    val fallbacks = codegen.map(_.count).getOrElse(0)
    val (unbounded, bounded) = result.endToEnd.partition { case (k, _) => UnboundedEndToEnd(k) }
    val layers = result.perLayer ++ unbounded + ("codegen.fallbacks" -> fallbacks.toDouble)
    // a layer the workload does not use reads 0
    val metrics =
      if (run.tracer.enabled)
        (Units.keySet -- bounded.keySet).map(k => k -> layers.getOrElse(k, 0.0)).toMap
      else bounded
    if (run.tracer.enabled) {
      run.outDir.mkdirs()
      val f = new File(run.outDir, s"trace-$workload-${run.seed}.json")
      java.nio.file.Files.writeString(f.toPath, Json.render(Map(
        "workload" -> workload, "seed" -> run.seed,
        "end_to_end" -> result.endToEnd, "per_layer" -> metrics,
        "notes" -> result.notes,
        "codegen_fallback_messages" -> codegen.map(_.messages.toArray.toList).getOrElse(Nil),
        "spans" -> run.tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      )) + "\n")
    }
    System.err.println("perfbench notes: " + Json.render(result.notes))
    println(Json.render(Map(
      "correct" -> result.correct,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units(k)) })))
  }
}

/** A small JSON writer for the result line and the trace file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
}
