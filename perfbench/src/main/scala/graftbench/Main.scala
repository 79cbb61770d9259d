package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   --workload bounded_micro|bounded_bulk|prepare_fuzzy --seed N
  *   --seconds S --trace 0|1 --cores N --work DIR --spans FILE [--tiny]
  *
  * Prints the inputs' digest, every metric by name with its unit, the
  * host/JVM/Spark environment, and as its LAST stdout line one JSON
  * object {"correct", "attempted", "failed", "metrics"} holding the
  * end-to-end metrics (untraced run) or the per-layer metrics (traced
  * run). All artifacts live under --work, which the launcher deletes. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: String, spans: String, tiny: Boolean)

  val Workloads = Seq("bounded_micro", "bounded_bulk", "prepare_fuzzy")

  // confs that name this run's process, paths or ports, not its setup
  private val RunLocal = Set("spark.app.id", "spark.app.startTime", "spark.driver.host",
    "spark.driver.port", "spark.executor.id", "spark.local.dir", "spark.sql.warehouse.dir")

  def parse(argv: Array[String]): Opts = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("cores").toInt, req("work"), req("spans"), argv.contains("--tiny"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    require(o.seconds >= 1 && o.cores >= 1, "seconds and cores must be positive")
    o
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // loopback only, whatever the host's name resolves to
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tr = new Tracer(spark.sparkContext, o.trace)
      if (o.trace) spark.sparkContext.addSparkListener(new SpanListener(tr))
      val out = tr.span("workload", o.workload) {
        if (o.workload == "prepare_fuzzy") Prepare.run(spark, tr, o) else Bounded.run(spark, tr, o)
      }
      if (o.trace) { tr.drain(); tr.write(o.spans); println(s"[perfbench] spans written: ${tr.spans.size}") }
      print(spark, o, out)
    } finally spark.stop()
  }

  private def print(spark: SparkSession, o: Opts, out: Outcome): Unit = {
    val mode = if (o.trace) "traced" else "untraced"
    Report.EndToEnd.foreach(d => println(Report.line(d.name, Report.num(out.e2e(d.name)), s"${d.unit} ($mode)")))
    out.extra.foreach { case (n, v, u) => println(Report.line(n, v, u)) }
    if (o.trace) Report.PerLayer.foreach(d =>
      println(Report.line(d.name, Report.num(out.layers.getOrElse(d.name, 0.0)), d.unit)))
    val confs = spark.conf.getAll.toSeq.sorted
      .filter { case (k, _) => !RunLocal(k) }
      .map { case (k, v) => s""""${Report.esc(k)}":"${Report.esc(v)}"""" }.mkString(",")
    println(s"""[perfbench] env {"nproc":${o.cores},"jvm":"${Report.esc(System.getProperty("java.vm.name"))} ${System.getProperty("java.runtime.version")}",""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"spark":"${spark.version}","scala":"${scala.util.Properties.versionNumberString}",""" +
      s""""workload":"${o.workload}","seed":${o.seed},"seconds":${o.seconds},"trace":${if (o.trace) 1 else 0},"confs":{$confs}}""")
    val decl = if (o.trace) Report.PerLayer else Report.EndToEnd
    val values = if (o.trace) out.layers else out.e2e
    val metrics = decl.map(d =>
      s""""${d.name}": {"value": ${Report.num(values.getOrElse(d.name, 0.0))}, "unit": "${d.unit}"}""").mkString(", ")
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$metrics}}""")
  }
}
