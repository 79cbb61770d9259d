package graftbench

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the same seed yields the same inputs no
  * matter in which order or how many of them a run draws. */
object Gen {
  // streams: independent draws that never share a generator state
  val Centres = 1L; val Corpus = 2L; val Train = 3L; val Hold = 4L
  val Batch = 5L; val Warm = 6L; val Audit = 7L; val Text = 8L

  def mix(a: Long, b: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L ^ (b + 0x632BE59BD9B4E019L)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^ (h >>> 33)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), i))

  /** Gaussian mixture whose clusters overlap: `noise` is the per-axis
    * standard deviation around a centre drawn from N(0, 1)^d. With more
    * centres than inverted lists, a query's neighbours straddle list
    * boundaries, so the bounded search has to run its adaptive rounds
    * instead of deciding every query after the first probe. */
  final case class Mixture(centres: Array[Array[Float]], noise: Double) {
    def dim: Int = centres(0).length
    def point(seed: Long, stream: Long, i: Long): Array[Float] = {
      val r = rng(seed, stream, i)
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dim)(j => (c(j) + noise * r.nextGaussian()).toFloat)
    }
  }

  def mixture(seed: Long, d: Int, nCentres: Int, noise: Double): Mixture =
    Mixture(Array.tabulate(nCentres) { c =>
      val r = rng(seed, Centres, c)
      Array.fill(d)(r.nextGaussian().toFloat)
    }, noise)

  /** Incremental SHA-256 over generated inputs, printed so two runs can
    * be shown to have measured the same data. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def vec(v: Array[Float]): Unit = {
      val b = ByteBuffer.allocate(v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      v.foreach(b.putFloat)
      md.update(b.array())
    }
    def long(x: Long): Unit =
      md.update(ByteBuffer.allocate(8).putLong(x).array())
    def text(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def hex: String = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Documents for the prepare pipeline, with planted structure whose
    * expected outcome has a closed form (checked by [[Prepare]]):
    *
    *  - background docs: 40 words that occur nowhere else, so they
    *    share no shingle, n-gram or hash band with any other doc;
    *  - near-dup chains of `chainLen` (≥ 41) members: member j is the
    *    40-word window at offset j of the chain's private word stream,
    *    so consecutive members share 37 of 39 shingles while the chain
    *    endpoints share none — only the transitive closure joins them,
    *    and exactly one member (the min doc id) must survive;
    *  - exact duplicates: a verbatim copy of a background doc (the min
    *    doc id of the pair survives);
    *  - short docs: 10 words, below the pipeline's minTokens gate;
    *  - contamination: each benchmark doc embeds one 4-gram of a
    *    distinct background doc, which must then be dropped.
    *
    * Doc ids are a seeded permutation of 0 until total, so no role
    * sits in an id range. Words carry a seed-derived salt, so each seed
    * gives different texts and different MinHash draws. */
  final case class Docs(corpus: Array[(Long, String)], bench: Array[(Long, String)],
                        expected: Set[Long], plantedNonReps: Set[Long],
                        contaminated: Set[Long], digest: String) {
    def expectedTokens: Long = 40L * expected.size
  }

  def docs(seed: Long, nBg: Int, chains: Int, chainLen: Int, nDup: Int,
           nShort: Int, nContam: Int): Docs = {
    require(chainLen >= 41, "chain endpoints must share no shingle")
    require(nDup + nContam <= nBg, "duplicates and contamination need distinct background docs")
    val salt = java.lang.Long.toString(mix(seed, Text) & 0xFFFFFFL, 36)
    val total = nBg + chains * chainLen + nDup + nShort
    // seeded Fisher-Yates permutation: slot -> doc id
    val ids = Array.tabulate(total)(_.toLong)
    val r = rng(seed, Text, -1L)
    var i = total - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    def words(prefix: String, from: Int, n: Int): String =
      (from until from + n).map(w => s"$salt$prefix$w").mkString(" ")
    val corpus = new Array[(Long, String)](total)
    var slot = 0
    def add(text: String): Long = {
      val id = ids(slot); corpus(slot) = (id, text); slot += 1; id
    }
    val bgText = Array.tabulate(nBg)(b => words(s"b${b}x", 0, 40))
    val bg = bgText.map(add)
    val expected = scala.collection.mutable.Set[Long]()
    val nonReps = scala.collection.mutable.Set[Long]()
    for (c <- 0 until chains) {
      val members = (0 until chainLen).map(j => add(words(s"c${c}x", j, 40)))
      expected += members.min
      nonReps ++= members.filter(_ != members.min)
    }
    // duplicates copy the first nDup background docs; contamination
    // targets the next nContam, so no doc plays both roles
    val dupOf = (0 until nDup).map(d => (bg(d), add(bgText(d))))
    (0 until nShort).foreach(s => add(words(s"s${s}x", 0, 10)))
    val targets = (nDup until nDup + nContam).map(bg(_))
    val bench = (0 until nContam).map { j =>
      val b = nDup + j
      val off = rng(seed, Text, j.toLong).nextInt(37)
      // the 4-gram at `off` of the target, between benchmark-only words
      ((total + j).toLong,
        s"${words(s"q${j}x", 0, 5)} ${words(s"b${b}x", off, 4)} ${words(s"q${j}x", 5, 5)}")
    }.toArray
    expected ++= bg
    expected --= targets
    dupOf.foreach { case (orig, copy) => expected -= math.max(orig, copy); expected += math.min(orig, copy) }
    val dg = new Digest
    corpus.foreach { case (id, t) => dg.long(id); dg.text(t) }
    bench.foreach { case (id, t) => dg.long(id); dg.text(t) }
    Docs(corpus, bench, expected.toSet, nonReps.toSet, targets.toSet, dg.hex)
  }
}
