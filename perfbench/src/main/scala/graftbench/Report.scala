package graftbench

/** What a workload measured. `e2e` and `layers` are keyed by the metric
  * names declared below; `extra` holds the remaining figures, which are
  * printed by name but are not in the machine-read result (they can be
  * 0, or exist on one workload only). */
final case class Outcome(attempted: Int, failed: Int,
                         e2e: Map[String, Double],
                         extra: Seq[(String, String, String)],
                         layers: Map[String, Double])

object Report {
  final case class Decl(name: String, unit: String)

  /** Untraced result metrics — the `end_to_end` list of BENCHMARK.json. */
  val EndToEnd: Seq[Decl] = Seq(
    Decl("setup_s", "s"), Decl("latency_p50_ms", "ms"),
    Decl("throughput", "items/s"), Decl("recall_mean", "ratio"))

  /** Traced result metrics — the `per_layer` list of BENCHMARK.json.
    * Counters of the search layer are per `BoundedSearch.search` call,
    * those of the prepare layer per `PreparePipeline.run`; a layer a
    * workload does not run reads 0. */
  val PerLayer: Seq[Decl] = Seq(
    Decl("search.driver_ms", "ms"), Decl("search.jobs", "count"),
    Decl("search.stages", "count"), Decl("search.tasks", "count"),
    Decl("spark.job_gap_ms", "ms"),
    Decl("search.rounds_mean", "rounds"), Decl("search.rounds_max", "rounds"),
    Decl("search.nprobe_mean", "lists"), Decl("search.nprobe_p50", "lists"),
    Decl("search.nprobe_p99", "lists"),
    Decl("search.recall_min", "ratio"), Decl("search.bound_violations", "count"),
    Decl("search.rows_scanned", "rows"), Decl("search.bytes_read", "bytes"),
    Decl("search.scan_task_cpu_ms", "ms"), Decl("search.merge_task_cpu_ms", "ms"),
    Decl("search.shuffle_write_bytes", "bytes"), Decl("search.shuffle_read_bytes", "bytes"),
    Decl("search.spill_bytes", "bytes"), Decl("search.gc_ms", "ms"),
    Decl("kernel.distance_evals", "count"), Decl("kernel.ns_per_eval", "ns"),
    Decl("kernel.bytes_computed", "bytes"), Decl("search.rows_per_result", "ratio"),
    Decl("index.train_s", "s"), Decl("index.assign_write_s", "s"),
    Decl("index.files_written", "count"), Decl("index.bytes_written", "bytes"),
    Decl("index.list_size_max", "rows"), Decl("index.list_size_mean", "rows"),
    Decl("profile.train_s", "s"), Decl("profile.calibrate_s", "s"),
    Decl("profile.jobs", "count"),
    Decl("prepare.jobs", "count"), Decl("prepare.stages", "count"),
    Decl("prepare.task_cpu_ms", "ms"), Decl("prepare.shuffle_write_bytes", "bytes"),
    Decl("prepare.spill_bytes", "bytes"), Decl("prepare.gc_ms", "ms"),
    Decl("prepare.output_bytes", "bytes"),
    Decl("ops.MinHash.cpu_ms", "ms"), Decl("ops.Components.cpu_ms", "ms"),
    Decl("ops.Components.jobs", "count"), Decl("ops.Decontaminate.cpu_ms", "ms"),
    Decl("ops.SequencePack.cpu_ms", "ms"), Decl("ops.PreparePipeline.cpu_ms", "ms"),
    Decl("trace.overhead_pct", "%"))

  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, "metric is not a finite number")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    require(n > 0, "median of no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Nearest-rank percentile, p in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). With ten samples or fewer no
    * such percentile exists, and the maximum is reported as p100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.length
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n, n) else (s.last, 100.0, n)
  }

  /** Median latency of traced ops over that of untraced ops of the
    * same run, as a percentage above 1. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else 100 * (median(traced) / median(untraced) - 1)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def line(name: String, value: String, unit: String): String =
    s"[perfbench] $name = $value $unit"
}
