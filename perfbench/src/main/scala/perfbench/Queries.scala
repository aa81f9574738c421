package perfbench

import java.util.SplittableRandom

/** Query families and seeded query pools, drawn by df class from the
  * generator's own statistics (never from the program's dictionary). */
object Queries {

  val Families: Seq[String] =
    Seq("and", "or", "phrase", "not", "prefix", "facet", "count", "grouped")

  val Classes: Seq[String] = Seq("head", "mid", "tail")
  /** df class of the anchor term by pool rank: 30% head, 50% mid, 20% tail. */
  private val ClassPattern =
    Array("mid", "head", "mid", "tail", "mid", "head", "mid", "mid", "tail", "head")

  /** One query: the family decides the engine entry point. `terms` are
    * the analyzed terms whose postings the query touches (prefix
    * expansions included); `postings` is their generator df sum. */
  final case class Query(id: Int, family: String, dfClass: String, text: String,
                         terms: Seq[String], postings: Long,
                         // AND base (positive terms) for not/facet/count/grouped
                         base: String = "", neg: String = "")

  /** Term ranks grouped by df class: head > 10% of docs, tail < 0.1%
    * (at least one doc), mid in between. */
  final class Classes(g: CorpusGen.Generated) {
    private val n = g.n.toDouble
    private def cls(df: Int): String =
      if (df > 0.10 * n) "head" else if (df < math.max(2.0, 0.001 * n)) "tail" else "mid"
    val byClass: Map[String, Array[Int]] =
      g.termDf.indices.filter(g.termDf(_) > 0).groupBy(r => cls(g.termDf(r)))
        .map { case (c, rs) => c -> rs.toArray }
    val bigramsByClass: Map[String, Array[Int]] =
      g.bigramDf.indices.filter(g.bigramDf(_) > 0).groupBy(b => cls(g.bigramDf(b)))
        .map { case (c, bs) => c -> bs.toArray }
    /** Prefix (first two syllables) → the vocabulary terms present. */
    val prefixTerms: Map[String, Array[Int]] =
      g.termDf.indices.filter(g.termDf(_) > 0).groupBy(r => g.terms(r).take(4))
        .map { case (p, rs) => p -> rs.toArray }
  }

  /** A pool of `size` distinct queries. The family and the anchor's df
    * class are fixed by pool rank (families cycle, classes follow a fixed
    * 30/50/20 pattern), so every seed has the same shape and seeds differ
    * only in the concrete terms. Terms within a class are drawn uniformly,
    * or Zipf (`zipfTerms`) so popular terms recur across queries. */
  def pool(g: CorpusGen.Generated, seed: Long, size: Int, zipfTerms: Boolean,
           exclude: Set[String] = Set.empty): IndexedSeq[Query] = {
    val rnd = new SplittableRandom(seed ^ 0x51ED27L)
    val cl = new Classes(g)
    val cdfs = cl.byClass.map { case (c, rs) => c -> CorpusGen.zipfCdf(rs.length, 0.8) }
    def term(c: String): Int = {
      val rs = cl.byClass(c)
      // ranks ascend with df rank within a class: a Zipf draw favours the
      // class's most frequent terms
      if (zipfTerms) rs(CorpusGen.draw(cdfs(c), rnd.nextDouble())) else rs(rnd.nextInt(rs.length))
    }
    def name(r: Int) = g.terms(r)
    val seen = scala.collection.mutable.LinkedHashMap.empty[(String, String), Query]
    var guard = 0
    var skips = 0 // a family that cannot fill its slot (all terms excluded) yields it
    var misses = 0
    while (seen.size < size && guard < size * 50) {
      guard += 1
      if (misses >= 20) { skips += 1; misses = 0 }
      val fam = Families((seen.size + skips) % Families.size)
      val c = ClassPattern(seen.size % ClassPattern.length)
      val a = term(c)
      val b = term("mid")
      val baseTerms = Seq(name(a), name(b)).distinct.sorted
      val base = baseTerms.mkString(" ")
      val basePostings = (Seq(a, b).distinct).map(g.termDf(_).toLong).sum
      val q: Option[Query] = fam match {
        case "and" | "count" | "grouped" =>
          Some(Query(0, fam, c, base, baseTerms, basePostings, base = base))
        case "or" =>
          val extra = term(if (rnd.nextBoolean()) "mid" else "tail")
          val ts = Seq(a, b, extra).distinct
          Some(Query(0, fam, c, ts.map(name).sorted.mkString(" "), ts.map(name).sorted,
            ts.map(g.termDf(_).toLong).sum))
        case "not" =>
          val neg = term("head")
          if (neg == a || neg == b) None
          else Some(Query(0, fam, c, s"$base -${name(neg)}", baseTerms :+ name(neg),
            basePostings + g.termDf(neg), base = base, neg = name(neg)))
        case "facet" =>
          val lang = CorpusGen.Langs(rnd.nextInt(CorpusGen.Langs.length))
          Some(Query(0, fam, c, s"$base lang:$lang", baseTerms, basePostings, base = base))
        case "phrase" =>
          cl.bigramsByClass.get(c).orElse(cl.bigramsByClass.get("mid")).flatMap { bs =>
            val bi = bs(rnd.nextInt(bs.length))
            val (x, y) = (g.bigramA(bi), g.bigramB(bi))
            if (x == y) None
            else {
              val ts = Seq(name(x), name(y))
              Some(Query(0, fam, c, "\"" + ts.mkString(" ") + "\"", ts.sorted,
                g.termDf(x).toLong + g.termDf(y)))
            }
          }
        case "prefix" =>
          val p = name(a).take(4)
          val rs = cl.prefixTerms(p)
          if (rs.length > 64) None
          else Some(Query(0, fam, c, p + "*", rs.map(name).sorted.toSeq,
            rs.map(g.termDf(_).toLong).sum, base = p))
      }
      q.filter(x => !x.terms.exists(exclude) && !seen.contains((x.family, x.text))) match {
        case Some(x) => seen((x.family, x.text)) = x; misses = 0
        case None => misses += 1
      }
    }
    seen.values.zipWithIndex.map { case (q, i) => q.copy(id = i) }.toIndexedSeq
  }

  /** Distinct-term postings of a pool: what the driver segment cache must
    * hold for every pool query to be resident. */
  def poolPostings(g: CorpusGen.Generated, pool: Seq[Query]): Long = {
    val idx = g.terms.zipWithIndex.toMap
    pool.flatMap(_.terms).distinct.map(t => g.termDf(idx(t)).toLong).sum
  }
}
