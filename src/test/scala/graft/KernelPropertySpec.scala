package graft

import graft.operators.{Bm25, Index, QueryEngine}
import graft.operators.Index.{BuildParams, TermPosting}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property gates for the query kernels, against brute-force set/window
  * semantics on generated inputs encoded through the REAL segment codec
  * (multi-segment, salted-chunk layouts forced by tiny segmentSize). */
class KernelPropertySpec extends AnyFunSuite {

  private def forAllGen[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = Seed(1337L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 10) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > 0, "generator produced no values")
  }

  // ---------------------------------------------------------- windowMatch

  private val windowCase: Gen[(Map[String, Array[Long]], Int)] =
    for {
      nTerms <- Gen.chooseNum(1, 4)
      w <- Gen.chooseNum(1, 12)
      lists <- Gen.listOfN(nTerms,
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 60L)).map(_.distinct.sorted.toArray))
    } yield (lists.zipWithIndex.map { case (l, i) => s"t$i" -> l }.toMap, w)

  test("windowMatch == brute 'exists start covering all terms' (property)") {
    forAllGen(windowCase, n = 300) { case (byTerm, w) =>
      val terms = byTerm.keys.toArray.sorted
      val maxPos = byTerm.values.map(_.max).max
      val brute = (0L to maxPos).exists(i =>
        terms.forall(t => byTerm(t).exists(p => p >= i && p <= i + w - 1)))
      assert(QueryEngine.windowMatch(byTerm, terms, w) == brute,
        s"byTerm=${byTerm.view.mapValues(_.mkString(",")).toMap} w=$w")
    }
  }

  // ----------------------------------------------------------- countRange

  private val params = BuildParams(segmentSize = 16, saltThreshold = 20,
    saltChunk = 32)

  private def segsOf(term: String, ids: Array[Long],
                     tfOf: Long => Long = d => (d % 5) + 1) = {
    val df = ids.length.toLong
    Index.encodePartition(
      ids.iterator.map(d =>
        TermPosting(term, d, tfOf(d), (d % 9) + 3, df, 0,
          Array.emptyByteArray)),
      params).toArray
  }

  private val countCase: Gen[(Map[String, Array[Long]], Long, Long, Boolean)] =
    for {
      nTerms <- Gen.chooseNum(1, 3)
      lists <- Gen.listOfN(nTerms,
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 200L)).map(_.distinct.sorted.toArray))
      lo <- Gen.chooseNum(0L, 100L)
      span <- Gen.chooseNum(0L, 150L)
      orMode <- Gen.oneOf(true, false)
    } yield (lists.zipWithIndex.map { case (l, i) => s"t$i" -> l }.toMap,
      lo, lo + span, orMode)

  test("countRange == brute set intersection/union size in [lo, hi) (property)") {
    forAllGen(countCase, n = 300) { case (byIds, lo, hi, orMode) =>
      val segs = byIds.map { case (t, ids) => t -> segsOf(t, ids) }
      val terms = byIds.keys.toArray.sorted
      val inRange = byIds.view.mapValues(_.filter(d => d >= lo && d < hi).toSet)
      val brute =
        if (orMode) inRange.values.foldLeft(Set.empty[Long])(_ | _).size.toLong
        else inRange.values.reduce(_ & _).size.toLong
      assert(QueryEngine.collectMatches(segs, terms, 10.0, lo, hi, orMode,
        new QueryEngine.Count).total == brute,
        s"terms=${byIds.view.mapValues(_.mkString(",")).toMap} lo=$lo hi=$hi or=$orMode")
    }
  }

  test("countRange with a monotone gate == brute gated count (property)") {
    forAllGen(countCase, n = 200) { case (byIds, lo, hi, orMode) =>
      val segs = byIds.map { case (t, ids) => t -> segsOf(t, ids) }
      val terms = byIds.keys.toArray.sorted
      val allowedIds = (0L to 200L by 3).toArray // every third id allowed
      val inRange = byIds.view.mapValues(
        _.filter(d => d >= lo && d < hi && d % 3 == 0).toSet)
      val brute =
        if (orMode) inRange.values.foldLeft(Set.empty[Long])(_ | _).size.toLong
        else inRange.values.reduce(_ & _).size.toLong
      val gate = QueryEngine.monotoneGate(allowedIds, negate = false)
      assert(QueryEngine.collectMatches(segs, terms, 10.0, lo, hi, orMode,
        new QueryEngine.Count, gate).total == brute)
    }
  }

  // ----------------------------------------------- countGroupsRange

  test("countGroupsRange == brute per-group counts; unmapped docs skipped (property)") {
    forAllGen(countCase, n = 200) { case (byIds, lo, hi, orMode) =>
      val segs = byIds.map { case (t, ids) => t -> segsOf(t, ids) }
      val terms = byIds.keys.toArray.sorted
      // group map: docs ≡ 0 (mod 4) are UNMAPPED (cursor −1); the rest
      // group by d mod 3 — exercises the range-agg exclusion semantics
      val mapped = (0L to 200L).filter(_ % 4 != 0).toArray
      val groups = mapped.map(d => (d % 3).toInt)
      val inRange = byIds.view.mapValues(_.filter(d => d >= lo && d < hi).toSet)
      val matches =
        if (orMode) inRange.values.foldLeft(Set.empty[Long])(_ | _)
        else inRange.values.reduce(_ & _)
      val brute = Array.tabulate(3)(g =>
        matches.count(d => d % 4 != 0 && (d % 3).toInt == g).toLong)
      val got = QueryEngine.collectMatches(segs, terms, 10.0, lo, hi, orMode,
        new QueryEngine.Count(QueryEngine.monotoneGroupCursor(mapped, groups), 3)).counts
      assert(got.toSeq == brute.toSeq,
        s"terms=${byIds.view.mapValues(_.mkString(",")).toMap} lo=$lo hi=$hi or=$orMode")
    }
  }

  // --------------------------------------------- mergeGroupSegments

  private val mergeCase: Gen[(List[Array[Long]], Long, Long)] =
    for {
      nMembers <- Gen.chooseNum(1, 4)
      lists <- Gen.listOfN(nMembers,
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 120L)).map(_.distinct.sorted.toArray))
      lo <- Gen.chooseNum(0L, 60L)
      span <- Gen.chooseNum(0L, 100L)
    } yield (lists, lo, lo + span)

  test("mergeGroupSegments == brute tf-sum merge inside [lo, hi) (property)") {
    forAllGen(mergeCase, n = 200) { case (lists, lo, hi) =>
      val memberSegs =
        lists.zipWithIndex.map { case (ids, i) => segsOf(s"m$i", ids) }.toArray
      val lenOf: Long => Long = d => (d % 9) + 3 // segsOf's len recipe
      val dfG = lists.map(_.length.toLong).max
      val merged = QueryEngine.mergeGroupSegments("g", dfG, memberSegs,
        lenOf, 10.0, lo, hi)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      if (merged.nonEmpty) {
        val it = new QueryEngine.PostingListIterator(merged, 10.0)
        it.advance(0L)
        while (!it.exhausted) {
          got += ((it.docID, it.tf)); it.advance(it.docID + 1)
        }
      }
      // member tf = (d % 5) + 1 (segsOf's recipe); the group tf SUMS
      // across members present at d — the SynonymQuery contract
      val brute = lists
        .flatMap(_.filter(d => d >= lo && d < hi).map(d => d -> ((d % 5) + 1L)))
        .groupBy(_._1).toSeq
        .map { case (d, xs) => (d, xs.map(_._2).sum) }.sortBy(_._1)
      assert(got.toSeq == brute,
        s"lists=${lists.map(_.mkString(",")).mkString(";")} lo=$lo hi=$hi")
      // strictly increasing docIDs (posting-order invariant O4)
      assert(got.map(_._1).sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    }
  }

  // ------------------------------------------- scored kernels vs brute

  private val N = 400.0
  private val Avgdl = 10.0
  private val lenOf: Long => Long = d => (d % 9) + 3 // segsOf's len recipe
  /** Random tiny postings for terms t0..t{n-1}: ids ⊂ [0, 150], one
    * TermCtx each (ascending term order) with a boost. A term's tf is its
    * random level for the doc's 16-doc stretch (+ d mod 2), so block
    * maxima differ and the block-max skip fires. */
  private final class Scored(val ids: Map[String, Array[Long]],
                             levels: Map[String, Array[Int]],
                             val ctx: Array[QueryEngine.TermCtx],
                             val lo: Long, val hi: Long, val k: Int,
                             val rounded: Boolean) {
    def tf(t: String, d: Long): Long = levels(t)((d / 16).toInt) + d % 2
    val segs: Map[String, Array[Index.PostingSegment]] = ids.map { case (t, xs) =>
      t -> segsOf(t, xs, tf(t, _)) }
    def has(t: String, d: Long): Boolean =
      java.util.Arrays.binarySearch(ids(t), d) >= 0
    /** Exact BM25 over the ascending term order; absent terms add +0.0. */
    def score(d: Long): Double = {
      var s = 0.0
      ctx.foreach { tc =>
        s += (if (has(tc.term, d)) tc.boost *
          Bm25.contrib(tc.idf, tf(tc.term, d), lenOf(d), Avgdl)
          else 0.0)
      }
      s
    }
    def key(s: Double): Double = if (rounded) QueryEngine.r4(s) else s
    /** (docID, exact score) ranked on (key desc, docID asc). */
    def ranked(docs: Iterable[Long]): Seq[(Long, Double)] =
      docs.toSeq.map(d => (d, score(d))).sortBy { case (d, s) => (-key(s), d) }
  }

  private val scoredCase: Gen[Scored] =
    for {
      nTerms <- Gen.chooseNum(1, 4)
      lists <- Gen.listOfN(nTerms, Gen.chooseNum(10, 300).flatMap(m =>
        Gen.listOfN(m, Gen.chooseNum(0L, 150L)).map(_.distinct.sorted.toArray)))
      levels <- Gen.listOfN(nTerms, Gen.listOfN(10, Gen.oneOf(1, 1, 1, 3, 8)))
      boosts <- Gen.listOfN(nTerms, Gen.oneOf(1.0, 1.0, 0.5, 2.0, 1.5))
      lo <- Gen.chooseNum(0L, 60L)
      span <- Gen.chooseNum(0L, 160L)
      k <- Gen.oneOf(1, 3, 10)
      rounded <- Gen.oneOf(true, false)
    } yield {
      val ids = lists.zipWithIndex.map { case (l, i) => s"t$i" -> l }.toMap
      val lv = levels.zipWithIndex.map { case (l, i) => s"t$i" -> l.toArray }.toMap
      val ctx = ids.toSeq.sortBy(_._1).zip(boosts).map { case ((t, l), b) =>
        QueryEngine.TermCtx(t, l.length.toLong, Bm25.idf(N, l.length.toLong), b)
      }.toArray
      new Scored(ids, lv, ctx, lo, lo + span, k, rounded)
    }

  /** Kernel output ranked like [[Scored.ranked]]. */
  private def rankedHits(c: Scored, hits: Seq[QueryEngine.ScoredDoc]) =
    hits.map(h => (h.docID, h.score)).sortBy { case (d, s) => (-c.key(s), d) }

  // the one call per kernel shape under test
  private def topK(c: Scored, segs: Map[String, Array[Index.PostingSegment]],
                   orMode: Boolean, msm: Int, gate: () => (Long => Boolean),
                   neg: Array[String], afterKey: Double, afterDoc: Long) =
    QueryEngine.kernel(null, 0, orMode, gate, neg, afterKey, afterDoc, msm)(
      segs, c.ctx, lenOf, Avgdl, c.lo, c.hi, c.k, c.rounded)

  private def groupedTopN(c: Scored, groupOf: Long => Int, nGroups: Int) =
    QueryEngine.conjunctive(c.segs, c.ctx, QueryEngine.rarestFirst(c.ctx), lenOf,
      Avgdl, c.lo, c.hi,
      new QueryEngine.GroupedTopK(c.k, c.rounded, groupOf, nGroups)).results

  private def sortedByField(c: Scored, leaderFirst: Array[String],
                            fieldOf: Long => Long) =
    QueryEngine.collectMatches(c.segs, leaderFirst, Avgdl, c.lo, c.hi, orMode = false,
      new QueryEngine.SortedByField(c.k, fieldOf)).results

  test("AND/OR top-k (msm, gate, NOT, search-after, boosts) == brute ranking (property)") {
    var cursors = 0
    var pruned = 0 // cases with more eligible docs than k
    forAllGen(for {
      c <- scoredCase
      orMode <- Gen.oneOf(true, false)
      msm <- Gen.chooseNum(1, c.ctx.length)
      gated <- Gen.oneOf(true, false)
      gateNeg <- Gen.oneOf(true, false)
      negIds <- Gen.option(Gen.nonEmptyListOf(Gen.chooseNum(0L, 150L))
        .map(_.distinct.sorted.toArray))
      afterPick <- Gen.chooseNum(-1, 4)
    } yield (c, orMode, if (orMode) msm else 1, gated, gateNeg, negIds, afterPick),
      n = 400) { case (c, orMode, msm, gated, gateNeg, negIds, afterPick) =>
      val gateIds = (0L to 150L by 2).toArray // even ids
      def allowed(d: Long) = !gated || ((d % 2 == 0) != gateNeg)
      val segs = c.segs ++ negIds.map(ns => "n0" -> segsOf("n0", ns))
      def matches(d: Long) = {
        val m = c.ctx.count(tc => c.has(tc.term, d))
        if (orMode) m >= msm else m == c.ctx.length
      }
      val eligible = (c.lo until c.hi).filter(d =>
        matches(d) && allowed(d) && !negIds.exists(ns =>
          java.util.Arrays.binarySearch(ns, d) >= 0))
      val full = c.ranked(eligible)
      if (full.length > c.k) pruned += 1
      // search-after cursor: some ranked doc's (key, docID), or none
      val (afterKey, afterDoc) =
        if (afterPick < 0 || afterPick >= full.length) (Double.NaN, 0L)
        else { cursors += 1; (c.key(full(afterPick)._2), full(afterPick)._1) }
      val expected = full
        .filterNot { case (d, s) =>
          c.key(s) > afterKey || (c.key(s) == afterKey && d <= afterDoc) }
        .take(c.k)
      val got = topK(c, segs, orMode, msm,
        if (gated) () => QueryEngine.monotoneGate(gateIds, gateNeg) else null,
        if (negIds.isDefined) Array("n0") else Array.empty[String],
        afterKey, afterDoc)
      assert(rankedHits(c, got) == expected,
        s"ids=${c.ids.view.mapValues(_.mkString(",")).toMap} " +
          s"boosts=${c.ctx.map(_.boost).mkString(",")} lo=${c.lo} hi=${c.hi} " +
          s"k=${c.k} rounded=${c.rounded} or=$orMode msm=$msm gated=$gated/$gateNeg " +
          s"neg=${negIds.map(_.mkString(","))} after=($afterKey, $afterDoc)")
    }
    assert(cursors > 80 && pruned > 100, s"weak generator: $cursors cursors, $pruned over-k cases")
  }

  test("TopK rounded fast reject: a same-key offer just below the root still enters") {
    // exact scores under 0.00005 apart that round to one 4-decimal key
    // (2.49996 and 2.499962 round up to 2.5; 2.49993 and 2.49994 round
    // down to 2.4999): a smaller docID at an equal key must displace the
    // root even though its exact score lies below the root's
    val offers = Seq(10L -> 2.5, 12L -> 2.50001, 5L -> 2.49996,
      3L -> 2.49993, 7L -> 2.499962, 1L -> 2.49994)
    val brute = offers.sortBy { case (d, s) => (-QueryEngine.r4(s), d) }
    for (k <- 1 to 4; order <- offers.permutations) {
      val top = new QueryEngine.TopK(k, rounded = true)
      order.foreach { case (d, s) => top.offer(d, s) }
      val got = top.results.map(h => (h.docID, h.score))
        .sortBy { case (d, s) => (-QueryEngine.r4(s), d) }
      assert(got == brute.take(k), s"k=$k offers=$order")
    }
  }

  test("grouped top-n == brute per-group ranking; unmapped docs skipped (property)") {
    forAllGen(scoredCase, n = 300) { c =>
      // docs ≡ 0 (mod 4) are unmapped (cursor −1); the rest group by d mod 3
      val mapped = (0L to 150L).filter(_ % 4 != 0).toArray
      val groupIdx = mapped.map(d => (d % 3).toInt)
      val matches = (c.lo until c.hi).filter(d =>
        d % 4 != 0 && c.ctx.forall(tc => c.has(tc.term, d)))
      val expected = (0 until 3).flatMap(g =>
        c.ranked(matches.filter(_ % 3 == g)).take(c.k).map { case (d, s) => (g, d, s) })
      val got = groupedTopN(c, QueryEngine.monotoneGroupCursor(mapped, groupIdx), 3)
        .map { case (g, h) => (g, h.docID, h.score) }
        .sortBy { case (g, d, s) => (g, -c.key(s), d) }
      assert(got == expected,
        s"ids=${c.ids.view.mapValues(_.mkString(",")).toMap} lo=${c.lo} " +
          s"hi=${c.hi} k=${c.k} rounded=${c.rounded}")
    }
  }

  test("sorted-by-field top-k == brute (field desc, docID asc) (property)") {
    forAllGen(scoredCase, n = 300) { c =>
      val fieldOf: Long => Long = d => (d * 7) % 13 // many ties
      // any leader works for AND; callers lead with the driver term
      val leaderFirst = c.ctx.map(_.term).sortBy(t => -c.ids(t).length)
      val expected = (c.lo until c.hi)
        .filter(d => c.ctx.forall(tc => c.has(tc.term, d)))
        .map(d => (d, fieldOf(d))).sortBy { case (d, v) => (-v, d) }.take(c.k)
      val got = sortedByField(c, leaderFirst, fieldOf).sortBy { case (d, v) => (-v, d) }
      assert(got == expected,
        s"ids=${c.ids.view.mapValues(_.mkString(",")).toMap} lo=${c.lo} " +
          s"hi=${c.hi} k=${c.k}")
    }
  }
}
