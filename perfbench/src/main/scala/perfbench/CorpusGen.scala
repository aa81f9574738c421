package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded source-code-like corpus in the `documents.parquet` schema
  * (`doc_id, text, lang, source, n_chars`) that `Corpus.docs`,
  * `Index.build` and the `Bm25.*Exact` oracles read unchanged.
  *
  * Vocabulary: `vocab` identifier-like terms (four two-letter syllables,
  * lowercase so the analyzer keeps each one whole) drawn Zipf(1.0) by
  * rank, plus `bigrams` Zipf-drawn two-token idioms so phrase queries have
  * real adjacency. Facets: `lang` over 5 skewed values and `repo` (the
  * `source` column) Zipf over `repos` names.
  *
  * The generator counts each term's and bigram's document frequency while
  * it writes, so query terms are drawn from its own statistics and never
  * from the program's dictionary. */
object CorpusGen {

  /** Bump when the generated bytes change, so cached corpora are rebuilt. */
  val Version = 1

  final case class Spec(docs: Int, vocab: Int = 100000, bigrams: Int = 5000,
                        repos: Int = 1000, meanLen: Int = 80)

  val Langs: Array[String] = Array("py", "java", "js", "go", "rust")
  private val LangCdf = cdf(Array(0.42, 0.24, 0.17, 0.11, 0.06))

  private val Syllables: Array[String] = for {
    c <- Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v")
    v <- Array("a", "e", "i", "o", "u")
  } yield c + v

  private val Separators =
    Array(" ", " ", " ", ".", "(", ")", ", ", "_", "\n", " = ", "; ", "::", "->")

  /** A generated corpus on disk plus the generator's own statistics. */
  final class Generated(val dir: String, val spec: Spec,
                        val terms: Array[String], val termDf: Array[Int],
                        val bigramA: Array[Int], val bigramB: Array[Int],
                        val bigramDf: Array[Int], val inputBytes: Long) {
    def n: Int = spec.docs
  }

  def cdf(w: Array[Double]): Array[Double] = {
    val s = w.sum
    val out = new Array[Double](w.length)
    var acc = 0.0
    var i = 0
    while (i < w.length) { acc += w(i) / s; out(i) = acc; i += 1 }
    out(w.length - 1) = 1.0
    out
  }

  def zipfCdf(n: Int, s: Double = 1.0): Array[Double] =
    cdf(Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s)))

  /** Index of the first cdf entry ≥ u. */
  def draw(c: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = c.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (c(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Distinct identifier names, rank → name, seeded. Names sharing their
    * first three syllables form a prefix family of at most 70 names. */
  def vocabulary(seed: Long, v: Int): Array[String] = {
    val a = Syllables.length
    val space = a * a * a * a
    require(v <= space / 2, s"vocab $v too large for the name space")
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val used = new java.util.BitSet(space)
    val out = new Array[String](v)
    var i = 0
    while (i < v) {
      val x = rnd.nextInt(space)
      if (!used.get(x)) {
        used.set(x)
        out(i) = Syllables(x / (a * a * a)) + Syllables(x / (a * a) % a) +
          Syllables(x / a % a) + Syllables(x % a)
        i += 1
      }
    }
    out
  }

  def repoNames(seed: Long, n: Int): Array[String] = {
    val rnd = new SplittableRandom(seed ^ 0x2545F491L)
    Array.tabulate(n)(i =>
      s"org${rnd.nextInt(200)}/${Syllables(rnd.nextInt(Syllables.length))}" +
        s"${Syllables(rnd.nextInt(Syllables.length))}$i")
  }

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Int)

  /** Element-wise sum of per-task count arrays. */
  final class CountsAccumulator(n: Int)
      extends org.apache.spark.util.AccumulatorV2[Array[Long], Array[Long]] {
    private var sums = new Array[Long](n)
    def isZero: Boolean = sums.forall(_ == 0L)
    def copy(): CountsAccumulator = {
      val c = new CountsAccumulator(n); c.sums = sums.clone(); c }
    def reset(): Unit = sums = new Array[Long](n)
    def add(v: Array[Long]): Unit = {
      var i = 0
      while (i < n) { sums(i) += v(i); i += 1 }
    }
    def merge(o: org.apache.spark.util.AccumulatorV2[Array[Long], Array[Long]]): Unit =
      add(o.value)
    def value: Array[Long] = sums
  }

  private def docRandom(seed: Long, doc: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed * 0x9E3779B97F4A7C15L + doc).nextLong())

  /** Generate (or reuse the cached copy of) the corpus for (seed, spec). */
  def generate(spark: SparkSession, root: Path, seed: Long, spec: Spec): Generated = {
    val dir = root.resolve(s"v$Version-d${spec.docs}-v${spec.vocab}-b${spec.bigrams}-s$seed")
    val statsFile = dir.resolve("genstats.bin")
    val terms = vocabulary(seed, spec.vocab)
    val rndB = new SplittableRandom(seed ^ 0x6A09E667L)
    val topMid = math.min(spec.vocab, 20000)
    val termCdf = zipfCdf(spec.vocab)
    val bigramA = Array.fill(spec.bigrams)(draw(termCdf, rndB.nextDouble()))
    val bigramB = Array.fill(spec.bigrams)(rndB.nextInt(topMid))
    if (Files.exists(statsFile) && Files.exists(dir.resolve("documents.parquet/_SUCCESS"))) {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        Files.newInputStream(statsFile)))
      try {
        val termDf = Array.fill(spec.vocab)(in.readInt())
        val bigramDf = Array.fill(spec.bigrams)(in.readInt())
        val bytes = in.readLong()
        return new Generated(dir.toString, spec, terms, termDf,
          bigramA, bigramB, bigramDf, bytes)
      } finally in.close()
    }
    Files.createDirectories(dir)
    val repos = repoNames(seed, spec.repos)
    val repoCdf = zipfCdf(spec.repos, 0.9)
    val bigramCdf = zipfCdf(spec.bigrams)
    val acc = new CountsAccumulator(spec.vocab + spec.bigrams + 1)
    spark.sparkContext.register(acc, "perfbench.gen.df")
    val parts = math.max(4 * spark.sparkContext.defaultParallelism, spec.docs / 20000 + 1)
    import spark.implicits._
    // one parquet file per task: the scan then yields enough tasks for
    // every core without a repartition
    spark.range(0L, spec.docs.toLong, 1L, parts).as[Long].mapPartitions { ids =>
      val counts = new Array[Long](spec.vocab + spec.bigrams + 1)
      val lastT = Array.fill(spec.vocab)(-1L)
      val lastB = Array.fill(spec.bigrams)(-1L)
      val sb = new java.lang.StringBuilder
      val docs = ids.map { d =>
        val r = docRandom(seed, d)
        sb.setLength(0)
        def put(rank: Int): Unit = {
          if (sb.length > 0) sb.append(Separators(r.nextInt(Separators.length)))
          sb.append(terms(rank))
          if (lastT(rank) != d) { lastT(rank) = d; counts(rank) += 1 }
        }
        // token count: mean `meanLen`, exponential tail (a few big files)
        val len = 8 + (-math.log(1.0 - r.nextDouble()) * (spec.meanLen - 8)).toInt
        var t = 0
        while (t < len) {
          if (r.nextDouble() < 0.08) {
            val b = draw(bigramCdf, r.nextDouble())
            put(bigramA(b))
            sb.append(' ') // adjacent tokens: the idiom is a phrase
            sb.append(terms(bigramB(b)))
            if (lastT(bigramB(b)) != d) { lastT(bigramB(b)) = d; counts(bigramB(b)) += 1 }
            if (lastB(b) != d) { lastB(b) = d; counts(spec.vocab + b) += 1 }
            t += 2
          } else { put(draw(termCdf, r.nextDouble())); t += 1 }
        }
        val text = sb.toString
        counts(spec.vocab + spec.bigrams) += text.length
        Doc(d, text, Langs(draw(LangCdf, r.nextDouble())),
          repos(draw(repoCdf, r.nextDouble())), text.length)
      }
      new Iterator[Doc] {
        private var flushed = false
        def hasNext: Boolean = docs.hasNext || {
          if (!flushed) { flushed = true; acc.add(counts) }
          false
        }
        def next(): Doc = docs.next()
      }
    }.write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val all = acc.value
    val termDf = Array.tabulate(spec.vocab)(i => all(i).toInt)
    val bigramDf = Array.tabulate(spec.bigrams)(i => all(spec.vocab + i).toInt)
    val bytes = all(spec.vocab + spec.bigrams)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(statsFile)))
    try {
      termDf.foreach(out.writeInt)
      bigramDf.foreach(out.writeInt)
      out.writeLong(bytes)
    } finally out.close()
    new Generated(dir.toString, spec, terms, termDf, bigramA, bigramB,
      bigramDf, bytes)
  }
}
