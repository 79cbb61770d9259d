package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CompareMetrics
import graft.functions.Kernels
import graft.index.{IVFIndex, IVFModel}
import graft.profile.{CalibrationFit, ProfileTrainer}
import graft.profile.ErrorProfile.Trace
import graft.search.{BoundedSearch, FlatSearch, IVFSearch}

/** The two error-bounded search workloads. Both build the same index
  * (k-means IVF over an overlapping-cluster corpus, written as a
  * `list_no`-partitioned parquet table, error profile and calibration
  * fitted on held-out queries) and then drive `BoundedSearch.search`
  * from one closed-loop client:
  *
  *  - bounded_micro: 16-query batches at required recall 0.9 — the
  *    driver-decided staged path, where each batch costs a few Spark
  *    jobs per adaptive round and almost no scan work;
  *  - bounded_bulk: batches above `graft.eager.maxQueries`, so the
  *    search keeps its control state in a distributed Dataset; required
  *    recall cycles over {0.5, 0.7, 0.8, 0.9} per query. */
object Bounded {
  val D = 64
  val K = 10
  val NList = 256
  // CalibrationFit runs on a one-cell grid: a wider sweep picks a
  // different (multiplier, σ) pair per seed, which moves every batch's
  // probe depth by up to 4× and swamps run-to-run comparisons. The fit
  // still checks the pair against the held-out ground truth.
  val Multipliers = Seq(4f)
  val StdMs = Seq(1f)
  val TrainFraction = 0.25

  final case class Shape(n: Int, centres: Int, noise: Double, nTrain: Int,
                         nHold: Int, batch: Int, recalls: Array[Float],
                         auditPerBatch: Int, minOps: Int, warmup: Int)

  def shape(workload: String, tiny: Boolean): Shape = (workload, tiny) match {
    case (_, true) =>
      Shape(4096, 256, 0.5, 100, 50, 16, Array(0.9f), 4, 2, 1)
    case ("bounded_micro", _) =>
      Shape(16384, 512, 0.7, 400, 100, 16, Array(0.9f), 4, 8, 10)
    case _ =>
      Shape(16384, 512, 0.7, 400, 100, 34000, Array(0.5f, 0.7f, 0.8f, 0.9f), 128, 2, 0)
  }

  final case class Index(model: IVFModel, ivf: DataFrame, traces: Array[Trace],
                         fit: CalibrationFit.Fit)

  /** One timed batch: its queries, what came back, and how long it took. */
  final case class Batch(idx: Int, traced: Boolean, qs: Array[(Long, Array[Float], Float)],
                         rows: Array[(Long, Long, Double)], stats: Seq[BoundedSearch.QueryStats],
                         ns: Long, callSpan: Option[Span], var error: Option[String])

  def run(spark: SparkSession, tr: Tracer, o: Main.Opts): Outcome = {
    import spark.implicits._
    val sh = shape(o.workload, o.tiny)
    val seed = o.seed
    val dir = o.work

    // ---- inputs (untimed): corpus written as parquet, query sets
    val mix = Gen.mixture(seed, D, sh.centres, sh.noise)
    val corpusV = Array.tabulate(sh.n)(i => mix.point(seed, Gen.Corpus, i))
    val dg = new Gen.Digest
    corpusV.foreach(dg.vec)
    spark.sparkContext.parallelize(corpusV.indices.map(i => (i.toLong, corpusV(i))), o.cores)
      .toDF("id", "vec").write.parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    def qset(stream: Long, n: Int): DataFrame = {
      val v = Array.tabulate(n)(i => (i.toLong, mix.point(seed, stream, i)))
      v.foreach(x => dg.vec(x._2))
      v.toSeq.toDF("qid", "vec")
    }
    val trainQ = qset(Gen.Train, sh.nTrain)
    val holdQ = qset(Gen.Hold, sh.nHold)
    def batchQueries(stream: Long, b: Int): Array[(Long, Array[Float], Float)] =
      Array.tabulate(sh.batch) { p =>
        val qid = b.toLong * sh.batch + p
        (qid, mix.point(seed, stream, qid), sh.recalls(p % sh.recalls.length))
      }
    (0 until sh.minOps).foreach(b => batchQueries(Gen.Batch, b).foreach(q => dg.vec(q._2)))
    println(s"[perfbench] inputs seed=$seed corpus=${sh.n}x$D centres=${sh.centres} " +
      s"noise=${sh.noise} nlist=$NList k=$K train=${sh.nTrain} holdout=${sh.nHold} " +
      s"batch=${sh.batch} recalls=${sh.recalls.mkString(",")} digest=${dg.hex}")

    // ---- setup (timed): the user-side index build, once per run — a
    // cold build costs ~25 s, so repeating it does not fit a run
    val indexDir = s"$dir/ivf"
    val (idx, steps) = tr.span("op", "setup")(build(spark, tr, corpus, trainQ, holdQ, indexDir, seed))

    // ---- setup audit (untimed): every corpus row landed in one valid list
    val listSizes: Map[Int, Long] = idx.ivf.groupBy(col("list_no")).count()
      .as[(Int, Long)].collect().toMap
    require(listSizes.values.sum == sh.n && listSizes.keys.forall(l => l >= 0 && l < NList),
      s"IVF table holds ${listSizes.values.sum} rows in lists ${listSizes.keys.min}..${listSizes.keys.max}, expected ${sh.n}")
    val (files, bytes) = parquetFiles(indexDir)

    def search(qs: Array[(Long, Array[Float], Float)]) = {
      val qdf = qs.toSeq.toDF("qid", "vec", "required_recall")
      val r = BoundedSearch.search(idx.ivf, idx.model, idx.traces, qdf, K,
        multiplier = idx.fit.multiplier, stdM = idx.fit.stdM)
      val rows = r.results.select(col("qid").cast("long"), col("id").cast("long"),
        col("dist").cast("double")).as[(Long, Long, Double)].collect()
      (r.stats, rows)
    }

    // ---- warm-up (untimed, unchecked): JIT and codegen for this path
    (0 until sh.warmup).foreach(b => search(batchQueries(Gen.Warm, b)))

    // ---- timed phase: closed loop, one batch in flight; a trace run
    // traces every other batch so the untraced ones give the overhead
    val batches = scala.collection.mutable.ArrayBuffer[Batch]()
    var opNs = 0L
    while (opNs < o.seconds * 1000000000L || batches.length < sh.minOps) {
      val b = batches.length
      val qs = batchQueries(Gen.Batch, b)
      val traced = tr.enabled && b % 2 == 0
      var span: Option[Span] = None
      val t0 = System.nanoTime()
      val res =
        if (!traced) scala.util.Try(search(qs))
        else tr.span("op", s"batch-$b") {
          tr.span("call", "BoundedSearch.search") { span = tr.current; scala.util.Try(search(qs)) }
        }
      val ns = System.nanoTime() - t0
      opNs += ns
      batches += (res match {
        case scala.util.Success((stats, rows)) =>
          Batch(b, traced, qs, rows, stats, ns, span, check(qs, rows, stats, corpusV))
        case scala.util.Failure(e) =>
          Batch(b, traced, qs, Array.empty, Nil, ns, span, Some(s"threw: $e"))
      })
    }

    // ---- audit (untimed): exact ground truth on a seeded sample of
    // every batch; recall below the query's bound is reported, not failed
    val audited = batches.filter(_.error.isEmpty).flatMap { bt =>
      val r = Gen.rng(seed, Gen.Audit, bt.idx)
      val pick = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(bt.qs.indices.toVector).take(sh.auditPerBatch)
      pick.map(i => (bt, bt.qs(i)))
    }
    val gt: Map[Long, Array[Double]] = FlatSearch
      .knn(corpus, audited.map { case (_, q) => (q._1, q._2) }.toSeq.toDF("qid", "vec"), K)
      .select(col("qid").cast("long"), col("dist").cast("double"), col("rank").cast("int"))
      .as[(Long, Double, Int)].collect().groupBy(_._1)
      .map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2) }
    val recalls = audited.map { case (bt, (qid, _, req)) =>
      val got = bt.rows.filter(_._1 == qid).map(_._3).sorted
      val exact = gt(qid)
      // no approximate answer can beat the exact i-th distance
      if (got.indices.exists(i => got(i) < exact(i) - 1e-6 * math.max(1.0, exact(i))))
        bt.error = Some(s"qid $qid returned distances below the exact k-NN")
      val rec = CompareMetrics.thresholdRecall(Map(qid -> got), Map(qid -> exact(K - 1)), K)(qid)
      (rec, req)
    }
    val failed = batches.count(_.error.nonEmpty)
    batches.filter(_.error.nonEmpty).take(3).foreach(b =>
      System.err.println(s"[perfbench] batch ${b.idx} failed: ${b.error.get}"))

    // ---- end-to-end figures
    val latMs = batches.map(_.ns / 1e6).toSeq
    val (tailMs, tailPct, nLat) = Report.tail(latMs)
    val nq = batches.map(_.qs.length).sum
    val qps = nq / (opNs / 1e9)
    val recs = recalls.map(_._1)
    val violations = recalls.count { case (rec, req) => rec < req }
    // decision counts over the fixed prefix of batches every run makes,
    // so they compare exactly across versions at the same seed
    val fixed = batches.take(sh.minOps).flatMap(_.stats)
    val nprobes = fixed.map(_.nprobeUsed.toDouble).toSeq
    val rounds = fixed.map(s => Integer.numberOfTrailingZeros(Integer.highestOneBit(s.decidedAtStage)) + 1.0).toSeq
    val e2e = Map(
      "setup_s" -> steps.values.sum,
      "latency_p50_ms" -> Report.median(latMs),
      "throughput" -> qps,
      "recall_mean" -> Report.mean(recs.toSeq))
    val extra = Seq(
      ("qps", Report.num(qps), "queries/s"),
      ("latency_tail_ms", Report.num(tailMs), f"ms (p$tailPct%.1f of $nLat batches)"),
      ("latencies_ms", latMs.map(x => f"$x%.0f").mkString(","), "ms (every timed batch, in order)"),
      ("peak_rss_mb", Report.num(Report.peakRssMb()), "MB"),
      ("recall_min", Report.num(if (recs.isEmpty) 0.0 else recs.min), "ratio"),
      ("bound_violations", s"$violations/${recalls.length}", "count/audited"),
      ("nprobe_mean", Report.num(Report.mean(nprobes)), s"lists (of $NList, first ${sh.minOps} batches)"),
      ("rounds_mean", Report.num(Report.mean(rounds)), s"rounds (first ${sh.minOps} batches)"),
      ("failed_ops", Report.num(failed.toDouble / batches.length), s"share ($failed/${batches.length})"),
      ("calibration", s"multiplier=${idx.fit.multiplier} stdM=${idx.fit.stdM} met=${idx.fit.met}", ""),
      ("setup_steps_s", steps.map { case (k, v) => f"$k=$v%.3f" }.mkString(","), ""))

    // ---- per-layer figures (traced run only)
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.drain()
        val traced = batches.filter(b => b.traced && b.callSpan.isDefined && b.error.isEmpty)
        val calls = traced.map { bt =>
          val call = bt.callSpan.get
          val jobs = tr.children(call.id, "job")
          val st = tr.stagesOfJobs(jobs.map(_.id).toSet)
          val scan = st.filter(_.inRecords > 0)
          (bt, jobs, st, scan)
        }
        def per(f: ((Batch, Seq[Span], Seq[StageRec], Seq[StageRec])) => Double): Double =
          Report.mean(calls.map(f).toSeq)
        // exact distance evaluations: each query scans the first
        // nprobeUsed lists of its coarse ranking
        val evals = calls.map { case (bt, _, _, _) =>
          val top = bt.stats.map(_.nprobeUsed).max
          val ranks = IVFSearch.rankTop(spark, idx.model, bt.qs.map(q => (q._1, q._2)), top)
          val np = bt.stats.map(s => s.qid -> s.nprobeUsed).toMap
          bt.qs.indices.map { i =>
            ranks(i).take(np(bt.qs(i)._1)).map(l => listSizes.getOrElse(l._1, 0L)).sum
          }.sum.toDouble
        }
        val scanCpuNs = calls.map(_._4.map(_.cpuNs).sum.toDouble).sum
        val rowsScanned = calls.map(_._3.map(_.inRecords).sum.toDouble).sum
        val profileJobs = tr.spans.toArray(Array.empty[Span]).filter(s =>
          s.kind == "call" && (s.name == "ProfileTrainer.train" || s.name == "CalibrationFit.fit"))
          .map(s => tr.children(s.id, "job").length).sum.toDouble
        val tracedLat = traced.map(_.ns / 1e6).toSeq
        val plainLat = batches.filter(b => !b.traced && b.error.isEmpty).map(_.ns / 1e6).toSeq
        Map(
          "search.driver_ms" -> per { case (bt, jobs, _, _) => Tracer.selfMs(bt.callSpan.get, jobs) },
          "search.jobs" -> per(_._2.length.toDouble),
          "search.stages" -> per(_._3.length.toDouble),
          "search.tasks" -> per(_._3.map(_.tasks).sum.toDouble),
          "spark.job_gap_ms" -> Report.mean(calls.flatMap(c => Tracer.gapsMs(c._2)).toSeq),
          "search.rounds_mean" -> Report.mean(rounds),
          "search.rounds_max" -> (if (rounds.isEmpty) 0.0 else rounds.max),
          "search.nprobe_mean" -> Report.mean(nprobes),
          "search.nprobe_p50" -> Report.pct(nprobes, 50),
          "search.nprobe_p99" -> Report.pct(nprobes, 99),
          "search.recall_min" -> (if (recs.isEmpty) 0.0 else recs.min),
          "search.bound_violations" -> violations.toDouble,
          "search.rows_scanned" -> rowsScanned / math.max(1, calls.length),
          "search.bytes_read" -> per(_._3.map(_.inBytes).sum.toDouble),
          "search.scan_task_cpu_ms" -> per(_._4.map(_.cpuNs).sum / 1e6),
          "search.merge_task_cpu_ms" -> per(c => c._3.filter(_.inRecords == 0).map(_.cpuNs).sum / 1e6),
          "search.shuffle_write_bytes" -> per(_._3.map(_.shWrite).sum.toDouble),
          "search.shuffle_read_bytes" -> per(_._3.map(_.shRead).sum.toDouble),
          "search.spill_bytes" -> per(_._3.map(_.spill).sum.toDouble),
          "search.gc_ms" -> per(_._3.map(_.gcMs).sum.toDouble),
          "kernel.distance_evals" -> Report.mean(evals.toSeq),
          "kernel.ns_per_eval" -> (if (evals.sum > 0) scanCpuNs / evals.sum else 0.0),
          "kernel.bytes_computed" -> Report.mean(evals.toSeq) * D * 4,
          "search.rows_per_result" -> rowsScanned / math.max(1.0, traced.map(_.qs.length * K).sum.toDouble),
          "index.train_s" -> steps("IVFIndex.train"),
          "index.assign_write_s" -> steps("IVFIndex.assign+write"),
          "index.files_written" -> files.toDouble,
          "index.bytes_written" -> bytes.toDouble,
          "index.list_size_max" -> listSizes.values.max.toDouble,
          "index.list_size_mean" -> sh.n.toDouble / NList,
          "profile.train_s" -> steps("ProfileTrainer.train"),
          "profile.calibrate_s" -> steps("CalibrationFit.fit"),
          "profile.jobs" -> profileJobs,
          "trace.overhead_pct" -> Report.overheadPct(tracedLat, plainLat))
      }
    Outcome(batches.length + 1, failed, e2e, extra, layers)
  }

  /** The user-side build, step by step (seconds per public call). */
  private def build(spark: SparkSession, tr: Tracer, corpus: DataFrame, trainQ: DataFrame,
                    holdQ: DataFrame, path: String, seed: Long): (Index, Map[String, Double]) = {
    val steps = scala.collection.mutable.LinkedHashMap[String, Double]()
    def step[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = tr.span("call", name)(f)
      steps(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    // k-means trains on a seeded quarter of the corpus (32 points per
    // list), as IVF indexes are usually trained on a sample
    val model = step("IVFIndex.train")(
      IVFIndex.train(corpus.sample(TrainFraction, seed), NList, "l2", seed))
    step("IVFIndex.assign+write")(IVFIndex.write(IVFIndex.assign(corpus, model), path))
    val ivf = spark.read.parquet(path)
    val traces = step("ProfileTrainer.train")(
      ProfileTrainer.train(ivf, model, trainQ, FlatSearch.knn(corpus, trainQ, K), K))
    val fit = step("CalibrationFit.fit")(
      CalibrationFit.fit(ivf, model, traces, holdQ, FlatSearch.knn(corpus, holdQ, K), K,
        requiredRecall = 0.9f, multipliers = Multipliers, stdMs = StdMs))
    (Index(model, ivf, traces, fit), scala.collection.immutable.ListMap(steps.toSeq: _*))
  }

  /** Structural checks on every query of a batch: k distinct corpus ids
    * per query, each with its true distance, and one stats row each. */
  def check(qs: Array[(Long, Array[Float], Float)], rows: Array[(Long, Long, Double)],
            stats: Seq[BoundedSearch.QueryStats], corpus: Array[Array[Float]]): Option[String] = {
    val byQ = rows.groupBy(_._1)
    if (byQ.size != qs.length) return Some(s"${byQ.size} queries answered of ${qs.length}")
    if (stats.map(_.qid).toSet != qs.map(_._1).toSet) return Some("stats do not cover the batch")
    qs.foreach { case (qid, v, _) =>
      val rs = byQ.getOrElse(qid, Array.empty)
      if (rs.length != K) return Some(s"qid $qid: ${rs.length} rows, expected $K")
      if (rs.map(_._2).distinct.length != K) return Some(s"qid $qid: duplicate ids")
      rs.foreach { case (_, id, d) =>
        if (id < 0 || id >= corpus.length) return Some(s"qid $qid: id $id is not in the corpus")
        val exact = Kernels.l2Sqr(v, corpus(id.toInt))
        if (math.abs(exact - d) > 1e-6 * math.max(1.0, exact))
          return Some(s"qid $qid: id $id distance $d, true $exact")
      }
    }
    None
  }

  /** Data files of a written parquet table and their total size. */
  def parquetFiles(path: String): (Int, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
    (fs.length, fs.map(_.length).sum)
  }
}
