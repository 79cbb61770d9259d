package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SpecAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.{IVFIndex, IVFModel}
import graft.profile.ErrorProfile.Trace
import graft.profile.ProfileTrainer
import graft.search.{BoundedSearch, FlatSearch}

/** End-to-end Auncel-semantics acceptance: train the error profile on
  * seeded data, run bounded-error search, and check the reference's own
  * success criterion — worst-case distance-threshold recall ≥ required
  * (`Auncel/eval/bound.cpp:400-414`). */
class BoundedSearchSpec extends SparkSpec {
  import BoundedSearchSpec.Fixture

  val d = 24
  val k = 20
  val nlist = 64 // nlist/8 = 8 → trace levels {1,2,4,8}

  // clustered data — the structure IVF (and the error profile) exploits;
  // uniform random vectors would legitimately force every query to the cap
  lazy val pool = clusteredVecs(4210, d, nClusters = 48, seed = 21)
  lazy val base = pool.take(4000)
  lazy val baseDF = vecDF(base)
  lazy val model = IVFIndex.train(baseDF, nlist, metric = "l2", seed = 42L)
  lazy val assigned = IVFIndex.assign(baseDF, model).cache()

  lazy val trainQ = pool.slice(4000, 4150)
  lazy val evalQ = pool.slice(4150, 4210)

  lazy val traces = {
    val tq = vecDF(trainQ, "qid")
    val gt = FlatSearch.knn(baseDF, tq, k)
    ProfileTrainer.train(assigned, model, tq, gt, maxTopk = k, bs = 100)
  }

  /** Distance-threshold recall@k (the reference's `true_recall`:
    * returned dist ≤ GT k-th dist × 1.0005). */
  def achievedRecall(results: Map[Long, Array[Double]],
                     gtKth: Map[Long, Double]): Map[Long, Double] =
    results.map { case (qid, dists) =>
      (qid, dists.count(_ <= gtKth(qid) * 1.0005).toDouble / k)
    }

  /** Train and assign an IVF index over `n` seeded clustered vectors
    * and train its profile on the next `nTrain` vectors of the same
    * stream. */
  def fixture(n: Int, nTrain: Int, nl: Int, clusters: Int, seed: Long,
              kk: Int = k): Fixture = {
    val b = clusteredVecs(n, d, nClusters = clusters, seed = seed)
    val bDF = vecDF(b)
    val m = IVFIndex.train(bDF, nlist = nl, seed = 42L)
    val a = IVFIndex.assign(bDF, m).cache()
    val tq = vecDF(clusteredVecs(n + nTrain, d, nClusters = clusters, seed = seed)
      .drop(n), "qid")
    val gt = FlatSearch.knn(bDF, tq, kk)
    Fixture(a, m, ProfileTrainer.train(a, m, tq, gt, maxTopk = kk, bs = 50))
  }

  // nlist=32 → levels 3 → the eager one-pass route for small batches
  lazy val fix32 = fixture(2000, 100, nl = 32, clusters = 24, seed = 55)
  // nlist=256 → levels 6 → the per-round searchStagedDriver route
  lazy val fix256 = fixture(5120, 150, nl = 256, clusters = 48, seed = 91)

  /** `n` clustered queries of the nlist-32 fixture's stream. */
  def queries32(n: Int, recall: Int => Float): DataFrame = {
    import spark.implicits._
    clusteredVecs(2100 + n, d, nClusters = 24, seed = 55).drop(2100)
      .zipWithIndex.map { case (v, i) => (i.toLong, v, recall(i)) }
      .toSeq.toDF("qid", "vec", "required_recall")
  }

  /** `n` clustered queries of the nlist-256 fixture's stream. */
  def queries256(n: Int): DataFrame = {
    import spark.implicits._
    clusteredVecs(5270 + n, d, nClusters = 48, seed = 91).drop(5270)
      .zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
  }

  /** Rows sorted by (qid, rank), and stats sorted by qid. */
  def rowsAndStats(r: BoundedSearch.Result) = {
    import spark.implicits._
    (r.results.select(col("qid"), col("rank"), col("id"), col("dist"))
      .as[(Long, Int, Long, Double)].collect().sortBy(x => (x._1, x._2)),
      r.stats.sortBy(_.qid))
  }

  /** Run `body` and count the Spark jobs it submits from this thread
    * (tagged through a thread-local property, so jobs of other threads
    * do not count). */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.spec.jobTag") == tag) n.incrementAndGet()
    }
    SpecAccess.drainListenerBus(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.jobTag", tag)
    try {
      val out = body
      SpecAccess.drainListenerBus(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty("graft.spec.jobTag", null)
      sc.removeSparkListener(l)
    }
  }

  /** Adaptive rounds a query took: decided at stage 2^(r−1). */
  def roundsOf(s: BoundedSearch.QueryStats): Int =
    Integer.numberOfTrailingZeros(Integer.highestOneBit(s.decidedAtStage)) + 1

  test("stagedTopK chunked query batches produce identical capture") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tq = vecDF(trainQ.take(20), "qid")
    def capture(chunk: Int) =
      ProfileTrainer.stagedTopK(assigned, model, tq, maxTopk = k, chunkQueries = chunk)
        .select(col("qid").cast("long"), col("stage"), col("dists"))
        .as[(Long, Int, Array[Double])].collect()
        .map { case (q, s, ds) => (q, s, ds.toSeq) }.sortBy(x => (x._1, x._2))
    val whole = capture(1000)
    val chunked = capture(7) // forces 3 chunks
    assert(whole.sameElements(chunked))
  }

  test("traces are trained, monotone-indexed, and non-trivial") {
    assert(traces.length == 4)
    traces.zipWithIndex.foreach { case (t, j) =>
      assert(t.nprobe == (1 << j))
      assert(t.phis.nonEmpty, s"level $j has no points")
      assert(t.phis.sameElements(t.phis.sorted), s"level $j φ not ascending")
      // U ≥ 1: a result's GT rank can only be ≥ its current rank
      assert(t.us.forall(_ >= 1f - 1e-6f), s"level $j U<1")
    }
    // deeper probes → smaller rank inflation at comparable φ
    assert(traces.last.us.head <= traces.head.us.last + 1e-3)
  }

  test("bounded search meets the error bound for every query (ε=0.2)") {
    import spark.implicits._
    val require = 0.8f
    val qdf = evalQ.zipWithIndex.map { case (v, i) => (i.toLong, v, require) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val res = BoundedSearch.search(assigned, model, traces, qdf, k,
      multiplier = 8.0f, stdM = 1.5f)

    val got = res.results.select(col("qid"), col("dist"))
      .as[(Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val gtKth = evalQ.zipWithIndex.map { case (q, i) =>
      (i.toLong, bruteForce(base, q, k).last._1)
    }.toMap

    val rec = achievedRecall(got, gtKth)
    val worst = rec.values.min
    assert(worst >= require, s"worst-case recall $worst < $require")

    // and it is actually adaptive: not every query paid the max probes
    val probes = res.stats.map(_.nprobeUsed)
    assert(probes.max <= nlist)
    assert(probes.distinct.size > 1, s"no per-query adaptivity: $probes")
    val meanProbes = probes.sum.toDouble / probes.size
    assert(meanProbes < nlist, s"mean nprobe $meanProbes not below full scan")
  }

  test("bound sweep: eps in {0.1, 0.3} and k=10 all hold (run.sh-style)") {
    import spark.implicits._
    // same-k sweep over the trained traces (ε variations)
    for (require <- Seq(0.9f, 0.7f)) {
      val qdf = evalQ.take(30).zipWithIndex
        .map { case (v, i) => (i.toLong, v, require) }
        .toSeq.toDF("qid", "vec", "required_recall")
      val res = BoundedSearch.search(assigned, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f)
      val got = res.results.select(col("qid"), col("dist"))
        .as[(Long, Double)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2)).toMap
      val worst = evalQ.take(30).zipWithIndex.map { case (q, i) =>
        val kth = bruteForce(base, q, k).last._1
        got.getOrElse(i.toLong, Array.empty).count(_ <= kth * 1.0005).toDouble / k
      }.min
      assert(worst >= require, s"eps=${1 - require}: worst $worst < $require")
    }
    // different k needs its own traces (the map granularity is per-k)
    val k10 = 10
    val gt10 = FlatSearch.knn(baseDF, vecDF(trainQ, "qid"), k10)
    val traces10 = ProfileTrainer.train(assigned, model, vecDF(trainQ, "qid"),
      gt10, maxTopk = k10, bs = 100)
    val qdf10 = evalQ.take(30).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val res10 = BoundedSearch.search(assigned, model, traces10, qdf10, k10,
      multiplier = 8.0f, stdM = 1.5f)
    val got10 = res10.results.select(col("qid"), col("dist"))
      .as[(Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val worst10 = evalQ.take(30).zipWithIndex.map { case (q, i) =>
      val kth = bruteForce(base, q, k10).last._1
      got10.getOrElse(i.toLong, Array.empty).count(_ <= kth * 1.0005).toDouble / k10
    }.min
    assert(worst10 >= 0.8, s"k=10 worst $worst10 < 0.8")
  }

  test("higher required recall costs more probes") {
    import spark.implicits._
    def meanProbes(require: Float): Double = {
      val qdf = evalQ.take(30).zipWithIndex
        .map { case (v, i) => (i.toLong, v, require) }
        .toSeq.toDF("qid", "vec", "required_recall")
      val res = BoundedSearch.search(assigned, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f)
      res.stats.map(_.nprobeUsed).sum.toDouble / res.stats.size
    }
    val lo = meanProbes(0.3f)
    val hi = meanProbes(0.9f)
    assert(lo <= hi, s"probes(0.3)=$lo > probes(0.9)=$hi")
  }

  test("bounded search under the inner-product metric (angle-space profile)") {
    import spark.implicits._
    import graft.functions.Kernels
    // normalized vectors: IP ranking ≡ cosine; profile runs in arccos space
    val ipBase = base.map(Kernels.l2Normalize)
    val ipDF = vecDF(ipBase)
    val ipModel = IVFIndex.train(ipDF, nlist, metric = "ip", seed = 42L)
    val ipAssigned = IVFIndex.assign(ipDF, ipModel).cache()
    val ipTrainQ = trainQ.map(Kernels.l2Normalize)
    val ipEvalQ = evalQ.take(30).map(Kernels.l2Normalize)
    val tq = vecDF(ipTrainQ, "qid")
    val gt = FlatSearch.knn(ipDF, tq, k, metric = "ip")
    val ipTraces = ProfileTrainer.train(ipAssigned, ipModel, tq, gt, maxTopk = k, bs = 100)
    assert(ipTraces.forall(_.phis.nonEmpty), "IP traces empty")

    val require = 0.7f
    val qdf = ipEvalQ.zipWithIndex.map { case (v, i) => (i.toLong, v, require) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val res = BoundedSearch.search(ipAssigned, ipModel, ipTraces, qdf, k,
      multiplier = 8.0f, stdM = 1.5f)
    val got = res.results.select(col("qid"), col("dist"))
      .as[(Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    // distance-threshold recall in IP space: dot ≥ GT k-th dot × 0.9995
    // (`IndexIVF.cpp:565-567`)
    val rec = ipEvalQ.zipWithIndex.map { case (q, i) =>
      val kthDot = -bruteForce(ipBase, q, k, metric = "ip").last._1
      got.getOrElse(i.toLong, Array.empty).count(d => -d >= kthDot * 0.9995)
        .toDouble / k
    }
    assert(rec.min >= require, s"IP worst-case recall ${rec.min} < $require")
    assert(res.stats.map(_.nprobeUsed).max <= nlist)
  }

  test("traces persist and reload as a parquet model table") {
    val dir = java.nio.file.Files.createTempDirectory("traces").toString
    ProfileTrainer.saveTraces(traces, s"$dir/t", spark)
    val back = ProfileTrainer.loadTraces(s"$dir/t", spark)
    // empty level round-trips without shifting the level alignment
    import graft.profile.ErrorProfile.Trace
    val withEmpty = traces.updated(1, Trace(2, Array.empty, Array.empty, Array.empty))
    ProfileTrainer.saveTraces(withEmpty, s"$dir/t2", spark)
    val back2 = ProfileTrainer.loadTraces(s"$dir/t2", spark)
    assert(back2.length == withEmpty.length)
    assert(back2(1).phis.isEmpty && back2(2).nprobe == 4)
    assert(back.length == traces.length)
    traces.zip(back).foreach { case (a, b) =>
      assert(a.nprobe == b.nprobe)
      assert(a.phis.sameElements(b.phis))
      assert(a.us.sameElements(b.us))
      assert(a.stds.sameElements(b.stds))
      // lookups identical through the round-trip
      assert(a.search(a.phis.last / 2, 1.0f) == b.search(a.phis.last / 2, 1.0f))
    }
  }

  test("eager staged path is bit-identical to the distributed path, mixed recalls") {
    // nlist=32 → levels 3 → eager by default; forceDistributed reruns
    // the same queries through the per-round control Dataset. Required
    // recall varies per query, so queries decide at different rounds.
    val Fixture(a32, m32, tr32) = fix32
    val qdf = queries32(30, i => Array(0.5f, 0.9f, 0.99f)(i % 3))
    val (eRows, eStats) = rowsAndStats(BoundedSearch.search(a32, m32, tr32,
      qdf, k, multiplier = 4.0f, stdM = 1.0f))
    val (dRows, dStats) = rowsAndStats(BoundedSearch.search(a32, m32, tr32,
      qdf, k, multiplier = 4.0f, stdM = 1.0f, forceDistributed = true))
    assert(eStats.map(_.decidedAtStage).distinct.size > 1,
      "queries must decide at more than one round")
    assert(eRows.sameElements(dRows))
    assert(eStats == dStats)
  }

  test("deep-schedule driver-decided path is bit-identical to the distributed path") {
    // nlist=256 → levels 6 → the searchStagedDriver route (one job
    // per round, driver-side decisions); forceDistributed reruns the
    // per-round control Dataset on the identical inputs. Both must
    // agree on rows AND stats for every query — the decisions share
    // rankings, boundary windows, predictedRecall, and decideStep by
    // construction, and this pins the plumbing around them.
    val Fixture(a256, m256, tr) = fix256
    assert(tr.length > 4, "config must exercise the deep (levels > 4) route")
    val qdf = queries256(40)
    def run(forceDistributed: Boolean) = rowsAndStats(
      BoundedSearch.search(a256, m256, tr, qdf, k,
        multiplier = 4.0f, stdM = 1.0f, forceDistributed = forceDistributed))
    val (hRows, hStats) = run(forceDistributed = false)
    val (dRows, dStats) = run(forceDistributed = true)
    assert(hRows.sameElements(dRows),
      "driver-decided rows differ from distributed rows")
    assert(hStats == dStats, "driver-decided stats differ from distributed stats")
  }

  test("fully-distributed (cogroup) path is bit-identical to the eager staged path") {
    val Fixture(a32, m32, tr32) = fix32
    val qdf = queries32(30, _ => 0.8f)
    def run(forceDistributed: Boolean) = rowsAndStats(
      BoundedSearch.search(a32, m32, tr32, qdf, k,
        multiplier = 4.0f, stdM = 1.0f, forceDistributed = forceDistributed))
    val (eRows, eStats) = run(forceDistributed = false)
    val (dRows, dStats) = run(forceDistributed = true)
    assert(eRows.sameElements(dRows),
      "distributed rows differ from eager rows")
    assert(eStats == dStats, "distributed stats differ from eager stats")
  }

  test("cogroup path salts hot lists and stays bit-identical under skew") {
    import spark.implicits._
    // all queries jittered around ONE base point → the same few lists
    // take every probe row; maxProbes=4 forces multi-salt sub-keys on
    // those hot lists, exercising the data-replication + probe-split
    // path that guards a task's memory at 100k+ queries
    val Fixture(a32, m32, tr32) = fix32
    val rnd = new scala.util.Random(91)
    val anchor = clusteredVecs(2000, d, nClusters = 24, seed = 55)(17)
    val skewQ = Array.fill(30)(
      anchor.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val qdf = skewQ.zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def run(salted: Boolean, distributed: Boolean) = {
      if (salted) sys.props("graft.cogroup.maxProbes") = "4"
      try rowsAndStats(BoundedSearch.search(a32, m32, tr32, qdf, k,
        multiplier = 4.0f, stdM = 1.0f, forceDistributed = distributed))
      finally if (salted) sys.props.remove("graft.cogroup.maxProbes")
    }
    val (eRows, eStats) = run(salted = false, distributed = false)
    val (sRows, sStats) = run(salted = true, distributed = true)
    assert(eRows.sameElements(sRows), "salted cogroup rows differ from eager")
    assert(eStats == sStats, "salted cogroup stats differ from eager")
  }

  test("over-cap batches take the driver-decided rounds and match distributed") {
    import spark.implicits._
    // nq just above the eager one-pass cap (32768) on a levels-3 index:
    // the default router sends the batch to the per-round driver path
    // (searchStagedDriver) rather than the eager scan; per-query
    // decisions are independent of the route, so the forced
    // fully-distributed run must give identical rows and stats.
    val Fixture(a32, m32, tr32) =
      fixture(1500, 100, nl = 32, clusters = 24, seed = 77, kk = 10)
    assert(tr32.length <= 4, "config must be shallow enough for the eager path")
    val nq = 32768 + 32
    val qdf = clusteredVecs(nq, d, nClusters = 24, seed = 78)
      .zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def run(forceDistributed: Boolean) = rowsAndStats(
      BoundedSearch.search(a32, m32, tr32, qdf, k = 10,
        multiplier = 4.0f, stdM = 1.0f, forceDistributed = forceDistributed))
    val (sRows, sStats) = run(forceDistributed = false)
    assert(sStats.size == nq)
    assert(sRows.map(_._1).distinct.length == nq, "some query lost its rows")
    val (dRows, dStats) = run(forceDistributed = true)
    assert(sRows.sameElements(dRows), "driver-decided rows differ from distributed rows")
    assert(sStats == dStats, "driver-decided stats differ from distributed stats")
  }

  test("driver-decided calls run one job per round plus the finishing pass") {
    // per round ONE job (scan + per-query top-k reduce, collected), one
    // more for the finishing pass, no routing or ranking jobs, and
    // `results` arrives materialized
    val Fixture(a256, m256, tr) = fix256
    val qdf = queries256(40)
    val (staged, jobs) = jobsOf(BoundedSearch.search(a256, m256, tr, qdf, k,
      multiplier = 4.0f, stdM = 1.0f))
    val rounds = staged.stats.map(roundsOf).max
    assert(rounds > 1, "config must take several adaptive rounds")
    assert(jobs <= rounds + 1, s"$jobs jobs for $rounds rounds")
    assert(jobsOf(staged.results.collect())._2 == 0,
      "collecting driver-decided results ran a job")

    val Fixture(a32, m32, tr32) = fix32
    val (eager, eJobs) = jobsOf(BoundedSearch.search(a32, m32, tr32,
      queries32(30, _ => 0.8f), k, multiplier = 4.0f, stdM = 1.0f))
    assert(eJobs <= 2, s"eager call ran $eJobs jobs")
    assert(jobsOf(eager.results.collect())._2 == 0,
      "collecting eager results ran a job")
  }

  test("results have one schema and gap-free ranks on every path") {
    import spark.implicits._
    // the same batch through the eager (nlist 32), staged-driver
    // (nlist 256) and distributed routes, plus timeSearch; callers
    // join and order on these columns
    val qdf = queries32(30, _ => 0.8f)
    val Fixture(a32, m32, tr32) = fix32
    val Fixture(a256, m256, tr) = fix256
    def run(f: Fixture, forceDistributed: Boolean) =
      BoundedSearch.search(f.ivf, f.model, f.traces, qdf, k,
        multiplier = 4.0f, stdM = 1.0f, forceDistributed = forceDistributed).results
    val timed = BoundedSearch.timeSearch(a32, m32,
      qdf.withColumn("budget_ms", lit(8.0)), k, costPerProbeMs = 1.0).results
    val expected = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))
    Seq("eager" -> run(fix32, false), "staged" -> run(fix256, false),
        "distributed32" -> run(fix32, true), "distributed256" -> run(fix256, true),
        "timeSearch" -> timed).foreach { case (name, res) =>
      assert(res.schema == expected, s"$name schema ${res.schema.simpleString}")
      val ranks = res.select(col("qid"), col("rank")).as[(Long, Int)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sorted.toSeq }
      assert(ranks.size == 30, s"$name lost queries")
      assert(ranks.values.forall(_ == (1 to k)), s"$name ranks are not 1..$k")
    }
  }

  test("latency-bounded search respects the probe budget") {
    import spark.implicits._
    val qdf = evalQ.take(10).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 8.0) } // 8ms budget
      .toSeq.toDF("qid", "vec", "budget_ms")
    val res = BoundedSearch.timeSearch(assigned, model, qdf, k,
      costPerProbeMs = 1.0)
    assert(res.stats.forall(_.nprobeUsed <= 8))
    assert(res.results.count() > 0)
  }
}

object BoundedSearchSpec {
  /** An assigned IVF table with its model and trained traces. */
  final case class Fixture(ivf: DataFrame, model: IVFModel, traces: Array[Trace])
}
