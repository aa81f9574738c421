package graft.operators

import graft.functions.{Analyzer, Codec}
import graft.operators.Index._
import com.google.common.cache.{Cache, CacheBuilder, RemovalNotification}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Indexed BM25 top-k query path (SURVEY.md §7 M2; north rule:
  * "multi-term queries with BM25 top-k scoring via posting-list
  * intersection and block-max WAND pruning").
  *
  * Replaces the reference's whole query engine — an unindexed
  * `SELECT url FROM pages WHERE content LIKE '%q%'` full scan
  * (reference `src/searcher/searcher.cpp:16-39`) — with:
  *
  *   driver: analyze query → dictionary lookup (term-pruned scan) →
  *   bucket list → partition-pruned postings scan → shard the docID
  *   space into ranges → each range-task runs conjunctive block-max WAND
  *   over its terms' segments (AND semantics) with a bounded top-k heap →
  *   global merge via orderBy(score desc, docID asc).limit(k)
  *   (TakeOrderedAndProject).
  *
  * Scale design: the index is term-partitioned on disk (df-range buckets,
  * salted segments) but queries are evaluated doc-partitioned — each task
  * owns a contiguous docID range, so stop-word posting lists are processed
  * by many tasks in parallel instead of one hot task. Document norms
  * (docstats) are broadcast when the corpus is small enough, else
  * co-shuffled to range-tasks via cogroup — both paths are exercised in
  * tests.
  */
object QueryEngine {

  /** The engine's one bounded-cache shape: an LRU holding at most
    * `maxWeight` total `weigh` over its entries. One segment
    * (`concurrencyLevel(1)`): Guava's default of four would give each a
    * quarter of the budget, so an entry above that could never be cached
    * and LRU order would hold only per segment. `get(k, loader)` runs the
    * load outside any lock — a hit never waits on another key's load.
    * A capacity-evicted broadcast is unpersisted, NOT destroyed: a lazy
    * frame or a query on another thread may still hold it, and Spark
    * re-ships it from the driver if it is used again (`close()` destroys
    * what is still resident). */
  private[graft] def boundedCache[K <: AnyRef, V <: AnyRef](maxWeight: Long)(
      weigh: (K, V) => Int): Cache[K, V] =
    CacheBuilder.newBuilder()
      .concurrencyLevel(1)
      .maximumWeight(maxWeight)
      .weigher[K, V]((k: K, v: V) => weigh(k, v))
      .removalListener[K, V]((n: RemovalNotification[K, V]) => n.getValue match {
        case b: Broadcast[_] if n.wasEvicted => b.unpersist(false)
        case _ =>
      })
      .recordStats()
      .build[K, V]()

  /** Content key of a filter-gate array: equal ids share one cache entry,
    * and arrays whose hashes collide stay distinct entries. */
  private[graft] final class GateKey(val ids: Array[Long]) {
    override def hashCode: Int = java.util.Arrays.hashCode(ids)
    override def equals(o: Any): Boolean = o match {
      case g: GateKey => java.util.Arrays.equals(ids, g.ids)
      case _ => false
    }
  }

  /** Schemas of the result frames built on the driver ([[frame]]): the
    * ones the tuple encoders gave, primitive columns non-nullable, which
    * is also what the unrounded distributed paths return. */
  private val ScoreSchema = new StructType()
    .add("docID", LongType, nullable = false).add("score", DoubleType, nullable = false)
  private val GroupedSchema = new StructType().add("grp", StringType)
    .add("rank", IntegerType, nullable = false).add("docID", LongType, nullable = false)
    .add("score", DoubleType, nullable = false)
  private val LenSchema = new StructType()
    .add("docID", LongType, nullable = false).add("len", LongType, nullable = false)
  private val DocIDSchema = new StructType().add("docID", LongType, nullable = false)
  private val BucketSchema = new StructType()
    .add("bucket", LongType, nullable = false).add("n_docs", LongType, nullable = false)
  private val RangeSchema = new StructType()
    .add("lo", LongType, nullable = false).add("n_docs", LongType, nullable = false)

  /** Spark/DuckDB-compatible HALF_UP rounding to 4 decimals (scores are
    * non-negative). Matches `round(col, 4)`. */
  def r4(s: Double): Double =
    new JBigDecimal(s).setScale(4, RoundingMode.HALF_UP).doubleValue()

  /** Safety pad for block-max upper bounds before pruning comparisons.
    * The (maxTf, minLen) bound is FP-monotone vs the scoring quotient
    * (every op is correctly-rounded and monotone), so this is pure
    * insurance — it can only make pruning more conservative. */
  private def pad(ub: Double): Double = ub * (1.0 + 1e-9) + 1e-12

  /** Broadcast norms as sorted parallel PRIMITIVE arrays + binary search
    * (VERDICT r1 #7): 16 bytes/doc flat, vs hundreds of bytes/entry for
    * a boxed Map[Long, Long] — raises the broadcast-norms ceiling ~10×
    * before the cogroup fallback has to take over. */
  final class NormsTable(ids: Array[Long], lens: Array[Long]) extends Serializable {
    def apply(docID: Long): Long = {
      val i = java.util.Arrays.binarySearch(ids, docID)
      require(i >= 0, s"docID $docID absent from docstats")
      lens(i)
    }
    def size: Int = ids.length

    /** Stateful monotone lookup for ONE kernel invocation: kernels probe
      * norms at NON-DECREASING candidates, so a galloping cursor answers
      * each probe in amortized O(1) near-sequential reads instead of a
      * full log₂(N) cache-missing binary search per scored candidate
      * (the [[monotoneGate]] argument applied to norms — at 4M docs the
      * binary search was ~22 random cache lines per candidate, a top-2
      * term in the kernel CPU profile). Falls back to a full binary
      * search on a backward probe, so it is CORRECT for any probe order
      * — only the speed is monotone-tuned. Construct fresh per kernel
      * invocation; never share across ranges or threads. */
    def cursor(): Long => Long = {
      var i = 0
      docID => {
        if (i >= ids.length || ids(i) > docID) {
          // backward (or past-end) probe: full binary search
          val j = java.util.Arrays.binarySearch(ids, docID)
          require(j >= 0, s"docID $docID absent from docstats")
          i = j
        } else if (ids(i) < docID) {
          // gallop forward: ids(i + bound/2) < docID invariant
          var bound = 1
          while (i + bound < ids.length && ids(i + bound) < docID) bound <<= 1
          var lo = i + (bound >> 1)
          var hi = math.min(i + bound, ids.length)
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (ids(mid) < docID) lo = mid + 1 else hi = mid
          }
          require(lo < ids.length && ids(lo) == docID,
            s"docID $docID absent from docstats")
          i = lo
        }
        lens(i)
      }
    }
  }

  // ----------------------------------------------------- posting iterator

  /** Iterator over one term's posting list = its minDoc-ordered,
    * range-disjoint segments. Supports advance(target) with segment-level
    * skip (minDoc/maxDoc), block-level skip (binary search on
    * blockLastDoc), and lazy block decode. */
  final class PostingListIterator(segments: Array[PostingSegment],
                                  avgdl: Double,
                                  needPositions: Boolean = false) {
    require(segments.nonEmpty)
    private var segIdx = 0
    private var blkIdx = -1
    private var ids: Array[Long] = null
    private var tfs: Array[Long] = null
    private var poss: Array[Array[Long]] = null
    private var pos = 0
    var docID: Long = -1L
    var tf: Long = 0L
    private var exhaustedFlag = false

    /** Token positions of the current posting (positional indexes only). */
    def positions: Array[Long] = poss(pos)

    def exhausted: Boolean = exhaustedFlag
    private def seg: PostingSegment = segments(segIdx)

    /** Upper-bound quotient of the block containing the current posting:
      * quotient(maxTf, minLen) under the CURRENT avgdl — admissible even
      * when the segment was encoded against an older corpus. Cached per
      * block: the kernels read it once per ALIGNED CANDIDATE (millions
      * of times for dense terms) while it only changes per block. */
    private var blockMaxQCached = Double.NaN
    private var blockMaxQBlk = -1
    private var blockMaxQSeg = -1
    def blockMaxQ: Double = {
      if (blockMaxQBlk != blkIdx || blockMaxQSeg != segIdx) {
        blockMaxQCached =
          Bm25.quotient(seg.blockMaxTf(blkIdx), seg.blockMinLen(blkIdx), avgdl)
        blockMaxQBlk = blkIdx
        blockMaxQSeg = segIdx
      }
      blockMaxQCached
    }

    /** Last docID of the current block (block-max skip horizon). */
    def blockLastDoc: Long = seg.blockLastDoc(blkIdx)

    private def decodeBlock(b: Int): Unit = {
      blkIdx = b
      val cnt = Codec.blockCount(seg.count, b)
      val (i, t) = Codec.decodeBlock(seg.docBlob, seg.tfBlob,
        seg.blockDocOff(b), seg.blockTfOff(b), cnt)
      ids = i; tfs = t; pos = 0
      if (needPositions) {
        require(seg.posBlob.nonEmpty,
          "phrase query against a non-positional index (storePositions=false)")
        poss = Codec.decodePositionsBlock(seg.posBlob, seg.blockPosOff(b), cnt)
      }
    }

    /** Position at the first posting with docID >= target. */
    def advance(target: Long): Unit = {
      if (exhaustedFlag) return
      // segment-level skip
      while (segIdx < segments.length && segments(segIdx).maxDoc < target) {
        segIdx += 1; blkIdx = -1; ids = null
      }
      if (segIdx >= segments.length) {
        exhaustedFlag = true; docID = Long.MaxValue; return
      }
      val s = seg
      // block-level: binary search first block with lastDoc >= target
      val fromBlk = if (blkIdx >= 0 && ids != null && s.blockLastDoc(blkIdx) >= target) blkIdx
        else {
          var lo = math.max(blkIdx, 0)
          var hi = s.blockLastDoc.length - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (s.blockLastDoc(mid) < target) lo = mid + 1 else hi = mid
          }
          lo
        }
      if (fromBlk != blkIdx || ids == null) decodeBlock(fromBlk)
      else if (docID >= target) return // already positioned
      // in-block scan (postings sorted; linear from current pos)
      while (pos < ids.length && ids(pos) < target) pos += 1
      if (pos >= ids.length) {
        // target fell in a gap past this block's end; recurse to next block
        if (blkIdx + 1 < s.blockLastDoc.length) { decodeBlock(blkIdx + 1); advance(target) }
        else { segIdx += 1; blkIdx = -1; ids = null; advance(target) }
      } else {
        docID = ids(pos); tf = tfs(pos)
      }
    }
  }

  /** Owned docID intervals of a scan task holding `mySegs` driver-term
    * segments, given the term's GLOBAL sorted range directory
    * (`mins`/`maxs`, pairwise disjoint): each held segment i contributes
    * (maxs(i−1), maxs(i)] — i.e. the segment's own range plus the gap
    * BEFORE it; the holder of segment 0 starts at 0 and the holder of the
    * last extends to ∞. Contiguous held indices merge into one interval
    * (fewer per-task kernel invocations). Intervals are half-open
    * [lo, hi); across all tasks they tile [0, ∞) exactly once. */
  def ownedIntervals(mySegs: Array[PostingSegment],
                     mins: Array[Long], maxs: Array[Long]): Seq[(Long, Long)] = {
    val idxs = mySegs.map { s =>
      val i = java.util.Arrays.binarySearch(mins, s.minDoc)
      require(i >= 0, s"segment ${s.term}@${s.minDoc} absent from range directory")
      i
    }.sorted
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < idxs.length) {
      var j = i
      while (j + 1 < idxs.length && idxs(j + 1) == idxs(j) + 1) j += 1
      val lo = if (idxs(i) == 0) 0L else maxs(idxs(i) - 1) + 1
      val hi = if (idxs(j) == mins.length - 1) Long.MaxValue else maxs(idxs(j)) + 1
      out += ((lo, hi))
      i = j + 1
    }
    out.result()
  }

  // --------------------------------------------------------- range task

  /** `boost` is the query-time term weight (`term^w` grammar): every
    * scoring and bound site multiplies the term's contribution by it as
    * an OUTER factor — `boost * (idf * quotient)` — so `boost == 1.0`
    * is bit-exact with the unboosted path (IEEE `1.0 * x == x`) and the
    * Spark/DuckDB twins' commuted `contrib * boost` is the identical
    * double (FP multiplication is commutative). */
  final case class TermCtx(term: String, df: Long, idf: Double,
                           boost: Double = 1.0)
  final case class ScoredDoc(docID: Long, score: Double)
  final case class RangedSeg(rangeId: Int, seg: PostingSegment)

  /** Conjunctive block-max WAND over one docID range [lo, hi).
    * `termsSorted` ascending by term — scores accumulate in that fixed
    * order (rank-identity contract). Returns up to k (docID, score) with
    * score EXACT; ordering/rounding applied by the caller. In `rounded`
    * mode the heap competes on (round4(score), docID) so pruning matches
    * the final rounded ranking. */
  def wandRange(
      segsByTerm: Map[String, Array[PostingSegment]],
      termsSorted: Array[TermCtx],
      lenOf: Long => Long,
      avgdl: Double,
      lo: Long, hi: Long, k: Int,
      rounded: Boolean): Seq[ScoredDoc] =
    conjunctiveRange(segsByTerm, termsSorted, lenOf, avgdl, lo, hi, k,
      rounded, null, 0, null)

  /** Exact-phrase variant: conjunctive WAND whose aligned candidates must
    * additionally contain the phrase tokens at CONSECUTIVE positions
    * (positional index required). Scoring is plain BM25 over the
    * phrase's distinct terms — identical to the AND score, gated by the
    * adjacency test, so all WAND bounds stay admissible (phrase matches
    * ⊆ AND matches). */
  def phraseRange(phraseSeq: Array[String])(
      segsByTerm: Map[String, Array[PostingSegment]],
      termsSorted: Array[TermCtx],
      lenOf: Long => Long,
      avgdl: Double,
      lo: Long, hi: Long, k: Int,
      rounded: Boolean): Seq[ScoredDoc] =
    conjunctiveRange(segsByTerm, termsSorted, lenOf, avgdl, lo, hi, k,
      rounded, Array(phraseSeq), 0, null)

  /** Proximity variant: conjunctive WAND whose aligned candidates must
    * additionally contain ALL query terms within some window of `w`
    * consecutive tokens (positional index required). Like the phrase
    * gate, window matches ⊆ AND matches, so scoring and all pruning
    * bounds are exactly the AND path's. */
  def windowRange(terms: Array[String], w: Int)(
      segsByTerm: Map[String, Array[PostingSegment]],
      termsSorted: Array[TermCtx],
      lenOf: Long => Long,
      avgdl: Double,
      lo: Long, hi: Long, k: Int,
      rounded: Boolean): Seq[ScoredDoc] =
    conjunctiveRange(segsByTerm, termsSorted, lenOf, avgdl, lo, hi, k,
      rounded, Array(terms), w, null)

  /** Kernel factory for every (AND/OR/phrase/window) × (gated/ungated)
    * shape — one 8-arg function the physical paths dispatch on. `posGates`
    * (may be null = no positional gate) carries one or more phrase token
    * sequences when `windowW == 0` (ALL must match — the unified search
    * front door composes several quoted phrases conjunctively), else a
    * single entry holding the distinct terms of a `windowW`-token
    * proximity gate. Every gate term must be a scoring term (the search
    * parser guarantees phrase tokens join the positive term set).
    * `gate` (may be null = unfiltered) restricts
    * candidates to allowed docIDs at the aligned candidate, BEFORE scoring
    * and heap entry, so filtered top-k is exact (a post-filter of an
    * unfiltered top-k would lose filtered docs ranked below the unfiltered
    * k). Pruning bounds stay admissible: the gate only REMOVES
    * candidates. */
  def kernel(posGates: Array[Array[String]], windowW: Int, orMode: Boolean,
             gate: Long => Boolean,
             afterKey: Double, afterDoc: Long, msm: Int):
      (Map[String, Array[PostingSegment]], Array[TermCtx],
       Long => Long, Double, Long, Long, Int, Boolean) => Seq[ScoredDoc] =
    if (orMode)
      (segs, ts, lenOf, av, lo, hi, k, rnd) =>
        disjunctiveRange(segs, ts, lenOf, av, lo, hi, k, rnd, gate,
          afterKey, afterDoc, msm)
    else
      (segs, ts, lenOf, av, lo, hi, k, rnd) =>
        conjunctiveRange(segs, ts, lenOf, av, lo, hi, k, rnd, posGates,
          windowW, gate, afterKey, afterDoc)

  /** NOT-aware kernel factory: negated terms become ANTI-POSTING
    * iterators composed into the candidate gate — a candidate aligned by
    * the positive terms is rejected iff some negated term's posting list
    * contains it. The anti iterators ride the exact same compressed
    * segments (segment/block skip included) as scoring terms, so
    * exclusion costs O(neg postings ∩ range) with no global docID-set
    * materialization — the 100 TB-honest shape (a broadcast deny-set of
    * a negated stop word would be corpus-sized).
    *
    * The gate is built FRESH per kernel invocation (per docID range):
    * both kernels probe the gate at non-decreasing candidates within one
    * invocation — the conjunctive driver only moves forward, the
    * disjunctive pivot is the min over forward-only iterators — which is
    * exactly the contract the stateful anti iterators need. Sharing one
    * gate across ranges (pooled threads, per-task interval lists) would
    * break it; this factory makes that impossible by construction. */
  def kernel(posGates: Array[Array[String]], windowW: Int, orMode: Boolean,
             gateFactory: () => (Long => Boolean), negTerms: Array[String],
             afterKey: Double = Double.NaN, afterDoc: Long = 0L,
             // minimum-should-match (OR mode only): a doc must match at
             // least this many distinct query terms to be scored — the
             // Lucene `minimum_should_match` contract. 1 = plain OR;
             // n = AND-equivalent scores (absent terms contribute +0.0)
             msm: Int = 1):
      (Map[String, Array[PostingSegment]], Array[TermCtx],
       Long => Long, Double, Long, Long, Int, Boolean) => Seq[ScoredDoc] =
    if ((negTerms == null || negTerms.isEmpty) && gateFactory == null)
      kernel(posGates, windowW, orMode, null, afterKey, afterDoc, msm)
    else
      (segs, ts, lenOf, av, lo, hi, k, rnd) => {
        // both gate shapes are STATEFUL cursors (monotone broadcast gate,
        // anti-posting iterators) — built fresh per invocation here, so
        // sharing across ranges/threads is impossible by construction
        val base = if (gateFactory == null) null else gateFactory()
        val g =
          if (negTerms == null || negTerms.isEmpty) base
          else negatedGate(base, negTerms, segs, av, lo)
        kernel(posGates, windowW, orMode, g, afterKey, afterDoc, msm)(
          segs, ts, lenOf, av, lo, hi, k, rnd)
      }

  /** Query-time synonym-group posting merge (Lucene SynonymQuery
    * semantics): the group scores as ONE term — tf(d) = Σ member tf(d),
    * df = max member df — so a doc matching any member matches the
    * group and multiple members never stack IDF. Members' posting
    * lists (range-disjoint sorted segments each) are k-way merged over
    * [lo, hi) and re-encoded through the standard segment kernel
    * ([[Index.encodePartition]]), so block-max metadata is recomputed
    * from the SUMMED tfs and every WAND bound downstream stays
    * admissible. Pure and executor-safe: the distributed range path
    * calls it per range task — merge cost is O(member postings ∩
    * range), the price any engine pays to iterate a disjunction.
    * Returns EMPTY when no member has a posting in range; callers must
    * then OMIT the pseudo-term's map entry (the kernels treat a missing
    * scoring term as an unmatchable conjunct), never insert an empty
    * array. */
  def mergeGroupSegments(name: String, dfG: Long,
                         memberSegs: Array[Array[PostingSegment]],
                         lenOf: Long => Long, avgdl: Double,
                         lo: Long, hi: Long): Array[PostingSegment] = {
    val its = memberSegs.filter(_.nonEmpty)
      .map(ss => new PostingListIterator(ss, avgdl))
    its.foreach(_.advance(lo))
    val rows = scala.collection.mutable.ArrayBuffer.empty[Index.TermPosting]
    var live = its.filter(!_.exhausted)
    var stop = false
    while (live.nonEmpty && !stop) {
      var d = Long.MaxValue
      live.foreach { it => if (it.docID < d) d = it.docID }
      if (d >= hi) stop = true
      else {
        var tf = 0L
        live.foreach { it =>
          if (it.docID == d) { tf += it.tf; it.advance(d + 1) } }
        rows += Index.TermPosting(name, d, tf, lenOf(d), dfG,
          Index.bucketOf(dfG, 16), Array.emptyByteArray)
        live = live.filter(!_.exhausted)
      }
    }
    if (rows.isEmpty) Array.empty
    else Index.encodePartition(rows.iterator,
      Index.BuildParams(segmentSize = 4096,
        saltThreshold = Long.MaxValue)).toArray
  }

  /** Fixed percentile set of the `len_percentiles` entry. */
  val PercentileSet: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95, 0.99)

  /** Fixed probe values of the `len_percentile_ranks` entry — spread
    * over the 10–99-token len domain. */
  val PercentileRankValues: Seq[Long] = Seq(30L, 50L, 70L, 90L)

  /** [[mergeGroupSegments]] over every group of a synonym query:
    * `specs` = (pseudoName, present members, group df). Groups whose
    * merge is empty in [lo, hi) are OMITTED (unmatchable conjunct —
    * see [[mergeGroupSegments]]). Static so executor closures capture
    * only the spec array, never an engine instance. */
  def mergeAllGroups(specs: Seq[(String, Array[String], Long)],
                     byReal: Map[String, Array[PostingSegment]],
                     lenOf: Long => Long, avgdl: Double,
                     lo: Long, hi: Long): Map[String, Array[PostingSegment]] =
    specs.iterator.map { case (nm, ms, dfG) =>
      nm -> mergeGroupSegments(nm, dfG,
        ms.map(m => byReal.getOrElse(m, Array.empty[PostingSegment])),
        lenOf, avgdl, lo, hi)
    }.filter(_._2.nonEmpty).toMap

  /** Classic Levenshtein distance (unit insert/delete/substitute) — the
    * in-memory twin of Spark's and DuckDB's `levenshtein`, used by the
    * pinned-dictionary fuzzy expansion so all three paths agree. Two-row
    * DP, O(|a|·|b|) time, O(min) space. */
  def editDistance(a: String, b: String): Int = {
    val (s, t) = if (a.length < b.length) (a, b) else (b, a)
    var prev = Array.tabulate(s.length + 1)(identity)
    var cur = new Array[Int](s.length + 1)
    var j = 1
    while (j <= t.length) {
      cur(0) = j
      var i = 1
      while (i <= s.length) {
        val sub = prev(i - 1) + (if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1)
        cur(i) = math.min(sub, math.min(prev(i) + 1, cur(i - 1) + 1))
        i += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      j += 1
    }
    prev(s.length)
  }

  /** Membership gate over a sorted docID array for ONE kernel
    * invocation: kernels probe gates at NON-DECREASING candidates (the
    * same contract [[negatedGate]]'s anti iterators rely on), so a
    * galloping cursor answers each probe in amortized O(1) sequential
    * reads instead of a full log₂(m) cache-missing binary search —
    * measured on the largest-facet bench pass (1.3M-id lang gate, 4M
    * docs): faceted p50 487.7 → 59.1 ms, p95 3028.9 → 78.5 ms; the
    * gated query is now FASTER than its unfiltered twin because the
    * cursor rejects candidates before they are scored. Stateful:
    * construct FRESH per invocation (the factory below does), never
    * share across ranges or threads. */
  def monotoneGate(ids: Array[Long], negate: Boolean): Long => Boolean = {
    var i = 0
    id => {
      if (i < ids.length && ids(i) < id) {
        // gallop: ids(i + bound/2) < id is invariant entering the search
        var bound = 1
        while (i + bound < ids.length && ids(i + bound) < id) bound <<= 1
        var lo = i + (bound >> 1)
        var hi = math.min(i + bound, ids.length)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ids(mid) < id) lo = mid + 1 else hi = mid
        }
        i = lo
      }
      (i < ids.length && ids(i) == id) != negate
    }
  }

  /** Group-membership cursor over a (sorted docID, parallel group index)
    * mapping for ONE kernel invocation: probes at NON-DECREASING docIDs
    * (the [[monotoneGate]] contract), galloping forward; returns the
    * docID's group index, or -1 when unmapped. Stateful — construct
    * fresh per invocation, never share across ranges or threads. */
  def monotoneGroupCursor(ids: Array[Long], groups: Array[Int]): Long => Int = {
    var i = 0
    id => {
      if (i < ids.length && ids(i) < id) {
        var bound = 1
        while (i + bound < ids.length && ids(i + bound) < id) bound <<= 1
        var lo = i + (bound >> 1)
        var hi = math.min(i + bound, ids.length)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ids(mid) < id) lo = mid + 1 else hi = mid
        }
        i = lo
      }
      if (i < ids.length && ids(i) == id) groups(i) else -1
    }
  }

  /** Grouped (field-collapsing) conjunctive top-n over one docID range:
    * ONE postings pass maintaining an independent top-`n` heap PER GROUP
    * — the one-pass collector a search service uses for "top n per
    * lang". Alignment sweep and scoring are exactly
    * [[conjunctiveRange]]'s (boosts ride [[TermCtx]] unchanged); the
    * block-max prune compares against the MINIMUM threshold across
    * groups (−∞ until every group's heap is full), the only admissible
    * bound when the block's docs may belong to any group — grouped
    * pruning is inherently weaker than single-heap pruning, the honest
    * cost of the semantics. Candidates unmapped by the cursor (-1) are
    * skipped before scoring. Returns (groupIdx, doc, EXACT score). */
  def groupedRange(
      segsByTerm: Map[String, Array[PostingSegment]],
      termsSorted: Array[TermCtx],
      lenOf: Long => Long,
      avgdl: Double,
      lo: Long, hi: Long, nPerGroup: Int,
      rounded: Boolean,
      groupOf: Long => Int,
      nGroups: Int): Seq[(Int, ScoredDoc)] = {
    val n = termsSorted.length
    if (n == 0 || nGroups == 0 ||
        termsSorted.exists(tc => !segsByTerm.contains(tc.term)))
      return Nil
    val iters = termsSorted.map(tc =>
      new PostingListIterator(segsByTerm(tc.term), avgdl))
    iters.foreach(_.advance(lo))
    if (iters.exists(_.exhausted)) return Nil
    val order = termsSorted.indices.sortBy(i => termsSorted(i).df).toArray

    final case class Entry(key: Double, docID: Long, score: Double)
    val worseFirst = Ordering.fromLessThan[Entry]((a, b) =>
      a.key < b.key || (a.key == b.key && a.docID > b.docID))
    val heaps = Array.fill(nGroups)(
      new mutable.PriorityQueue[Entry]()(worseFirst.reverse))
    // last (score → key) memo — see [[conjunctiveRange]]
    var memoScore = Double.NaN
    var memoKey = Double.NaN
    def keyOf(score: Double): Double =
      if (!rounded) score
      else if (score == memoScore) memoKey
      else { memoScore = score; memoKey = r4(score); memoKey }
    def thresholdOf(g: Int): Double =
      if (heaps(g).size < nPerGroup) Double.NegativeInfinity
      else if (rounded) heaps(g).head.key - 0.00005
      else heaps(g).head.key
    // global prune threshold = min over groups; −∞ while any heap fills
    var notFull = nGroups
    var minTh = Double.NegativeInfinity
    def recomputeMinTh(): Unit =
      if (notFull == 0) {
        var m = Double.PositiveInfinity
        var g = 0
        while (g < nGroups) {
          val t = thresholdOf(g); if (t < m) m = t; g += 1
        }
        minTh = m
      }

    var candidate = iters(order(0)).docID
    var running = !iters(order(0)).exhausted
    while (running && candidate < hi) {
      var matched = true
      var oi = 1
      var bump = candidate
      while (matched && oi < n) {
        val it = iters(order(oi))
        it.advance(candidate)
        if (it.exhausted) { running = false; matched = false }
        else if (it.docID != candidate) { bump = it.docID; matched = false }
        oi += 1
      }
      if (!running) ()
      else if (!matched) {
        iters(order(0)).advance(bump)
        if (iters(order(0)).exhausted) running = false
        else candidate = iters(order(0)).docID
      } else {
        var ub = 0.0
        var minLast = Long.MaxValue
        var i = 0
        while (i < n) {
          ub += termsSorted(i).boost * (termsSorted(i).idf * iters(i).blockMaxQ)
          if (iters(i).blockLastDoc < minLast) minLast = iters(i).blockLastDoc
          i += 1
        }
        if (pad(ub) < minTh) {
          val skipTo = math.max(candidate + 1, minLast + 1)
          iters(order(0)).advance(skipTo)
        } else {
          val g = groupOf(candidate)
          if (g >= 0) {
            val len = lenOf(candidate)
            val norm = 1.2 * (0.25 + 0.75 * len.toDouble / avgdl)
            var score = 0.0
            i = 0
            while (i < n) {
              val tfv = iters(i).tf.toDouble
              score += termsSorted(i).boost *
                (termsSorted(i).idf * (tfv * 2.2) / (tfv + norm))
              i += 1
            }
            val h = heaps(g)
            // exact-score fast reject before r4 — see [[conjunctiveRange]]
            val rejectFast = h.size >= nPerGroup && {
              val w = h.head
              if (rounded) score < w.key - 0.0000501 // 1e-9 pad: the double
              // subtraction can land a hair above the exact decimal
              // band edge; widening the band keeps the reject sound
              else score < w.key || (score == w.key && candidate > w.docID)
            }
            if (!rejectFast) {
              val key = keyOf(score)
              if (h.size < nPerGroup) {
                h.enqueue(Entry(key, candidate, score))
                if (h.size == nPerGroup) { notFull -= 1; recomputeMinTh() }
              } else {
                val w = h.head
                if (key > w.key || (key == w.key && candidate < w.docID)) {
                  h.dequeue(); h.enqueue(Entry(key, candidate, score))
                  recomputeMinTh()
                }
              }
            }
          }
          iters(order(0)).advance(candidate + 1)
        }
        if (iters(order(0)).exhausted) running = false
        else candidate = iters(order(0)).docID
      }
    }
    val out = Seq.newBuilder[(Int, ScoredDoc)]
    var g = 0
    while (g < nGroups) {
      val h = heaps(g)
      while (h.nonEmpty) {
        val e = h.dequeue()
        out += ((g, ScoredDoc(e.docID, e.score)))
      }
      g += 1
    }
    out.result()
  }

  /** Compose `base` (nullable) with anti-posting iterators over the
    * negated terms present in `segs` (absent terms exclude nothing).
    * Monotonic: callers must probe at non-decreasing docIDs. */
  def negatedGate(base: Long => Boolean, negTerms: Array[String],
                  segs: Map[String, Array[PostingSegment]],
                  avgdl: Double, lo: Long): Long => Boolean = {
    val negIters = negTerms.flatMap(segs.get).filter(_.nonEmpty)
      .map(ss => new PostingListIterator(ss, avgdl))
    negIters.foreach(_.advance(lo))
    if (negIters.isEmpty) base
    else { id =>
      var hit = false
      var i = 0
      while (!hit && i < negIters.length) {
        val it = negIters(i)
        if (!it.exhausted && it.docID < id) it.advance(id)
        hit = !it.exhausted && it.docID == id
        i += 1
      }
      !hit && (base == null || base(id))
    }
  }

  /** Does any occurrence of the full phrase start at some position p?
    * byTerm maps each distinct phrase term to its (sorted) positions in
    * the candidate document. */
  def phraseMatch(byTerm: Map[String, Array[Long]],
                  phrase: Array[String]): Boolean = {
    val first = byTerm(phrase(0))
    var i = 0
    while (i < first.length) {
      val p = first(i)
      var j = 1
      var ok = true
      while (ok && j < phrase.length) {
        ok = java.util.Arrays.binarySearch(byTerm(phrase(j)), p + j) >= 0
        j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** Do all `terms` co-occur within some window of `w` consecutive
    * tokens? Classic minimal-cover sweep over the per-term sorted
    * position arrays: maintain one cursor per term, test the span
    * (max − min ≤ w − 1) of the current frontier, then advance the
    * cursor holding the minimum. O(total positions × |terms|) with
    * |terms| tiny; no position list is materialized beyond what the
    * iterator already decoded. Matches the brute oracle's
    * "∃ start i: slice(toks, i, w) contains every term" exactly
    * (a slice of w tokens holds the terms iff their positions span
    * ≤ w − 1). */
  def windowMatch(byTerm: Map[String, Array[Long]],
                  terms: Array[String], w: Int): Boolean = {
    val n = terms.length
    if (n == 1) return byTerm(terms(0)).nonEmpty
    val lists = new Array[Array[Long]](n)
    val cur = new Array[Int](n)
    var i = 0
    while (i < n) {
      lists(i) = byTerm(terms(i))
      if (lists(i).isEmpty) return false
      i += 1
    }
    var running = true
    while (running) {
      var minI = 0
      var minP = lists(0)(cur(0))
      var maxP = minP
      i = 1
      while (i < n) {
        val p = lists(i)(cur(i))
        if (p < minP) { minP = p; minI = i }
        if (p > maxP) maxP = p
        i += 1
      }
      if (maxP - minP <= w - 1) return true
      cur(minI) += 1
      if (cur(minI) >= lists(minI).length) running = false
    }
    false
  }

  private def conjunctiveRange(
      segsByTerm: Map[String, Array[PostingSegment]],
      termsSorted: Array[TermCtx],
      lenOf: Long => Long,
      avgdl: Double,
      lo: Long, hi: Long, k: Int,
      rounded: Boolean,
      // positional gates (null = none): windowW == 0 → each entry is a
      // phrase token sequence and ALL must match; windowW > 0 → single
      // entry holding the proximity gate's distinct terms
      posGates: Array[Array[String]],
      windowW: Int,
      allowed: Long => Boolean,
      // search-after cursor (pagination): a doc whose ranking key
      // (rounded-or-exact score, docID) sorts AT OR BEFORE
      // (afterKey desc, afterDoc asc) is on an earlier page and never
      // enters the heap. afterKey = NaN disables (every comparison with
      // NaN is false, so the skip test never fires). Pruning stays
      // admissible: the cursor only REMOVES candidates, and the WAND
      // threshold is still derived from the heap of ELIGIBLE docs.
      afterKey: Double = Double.NaN,
      afterDoc: Long = 0L): Seq[ScoredDoc] = {
    val n = termsSorted.length
    // containment, not size: segsByTerm may carry EXTRA entries (the
    // anti-posting lists of negated terms) beyond the scoring terms
    if (n == 0 || termsSorted.exists(tc => !segsByTerm.contains(tc.term)))
      return Nil
    val needPos = posGates != null
    val iters = termsSorted.map(tc =>
      new PostingListIterator(segsByTerm(tc.term), avgdl, needPos))
    iters.foreach(_.advance(lo))
    if (iters.exists(_.exhausted)) return Nil
    // driver order: rarest first minimizes advance() work
    val order = termsSorted.indices.sortBy(i => termsSorted(i).df).toArray

    // heap of k best; root = weakest. Better = (key desc, docID asc).
    final case class Entry(key: Double, docID: Long, score: Double)
    val worseFirst = Ordering.fromLessThan[Entry]((a, b) =>
      a.key < b.key || (a.key == b.key && a.docID > b.docID))
    val heap = new mutable.PriorityQueue[Entry]()(worseFirst.reverse) // dequeue = worst
    // r4 is a JBigDecimal round — hundreds of ns. Memoize the last
    // (score → key) pair: synthetic/real corpora alike repeat scores
    // heavily (few distinct (tf, len) combos), so most candidates that
    // survive the fast-reject below hit the memo.
    var memoScore = Double.NaN
    var memoKey = Double.NaN
    def keyOf(score: Double): Double =
      if (!rounded) score
      else if (score == memoScore) memoKey
      else { memoScore = score; memoKey = r4(score); memoKey }
    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity
      else if (rounded) heap.head.key - 0.00005
      else heap.head.key

    var candidate = iters(order(0)).docID
    var running = !iters(order(0)).exhausted
    while (running && candidate < hi) {
      // align all iterators on candidate
      var matched = true
      var oi = 1
      var bump = candidate
      while (matched && oi < n) {
        val it = iters(order(oi))
        it.advance(candidate)
        if (it.exhausted) { running = false; matched = false }
        else if (it.docID != candidate) { bump = it.docID; matched = false }
        oi += 1
      }
      if (!running) ()
      else if (!matched) {
        iters(order(0)).advance(bump)
        if (iters(order(0)).exhausted) running = false
        else candidate = iters(order(0)).docID
      } else {
        // all aligned at candidate: block-max upper bound
        var ub = 0.0
        var minLast = Long.MaxValue
        var i = 0
        while (i < n) {
          ub += termsSorted(i).boost * (termsSorted(i).idf * iters(i).blockMaxQ)
          if (iters(i).blockLastDoc < minLast) minLast = iters(i).blockLastDoc
          i += 1
        }
        if (pad(ub) < threshold) {
          // no doc in (candidate, minLast] can beat the threshold
          val skipTo = math.max(candidate + 1, minLast + 1)
          iters(order(0)).advance(skipTo)
        } else if (allowed != null && !allowed(candidate)) {
          // filtered out — never scored, never enters the heap
          iters(order(0)).advance(candidate + 1)
        } else if (posGates != null && {
            val byTerm = termsSorted.iterator.zipWithIndex
              .map { case (tc, ti) => tc.term -> iters(ti).positions }.toMap
            if (windowW > 0) !windowMatch(byTerm, posGates(0), windowW)
            else !posGates.forall(p => phraseMatch(byTerm, p))
          }) {
          // all terms present but never consecutively (phrase) / never
          // within one w-token window (proximity) — not a hit
          iters(order(0)).advance(candidate + 1)
        } else {
          // exact score, fixed ascending-term association
          val len = lenOf(candidate)
          val norm = 1.2 * (0.25 + 0.75 * len.toDouble / avgdl)
          var score = 0.0
          i = 0
          while (i < n) {
            val tfv = iters(i).tf.toDouble
            score += termsSorted(i).boost *
              (termsSorted(i).idf * (tfv * 2.2) / (tfv + norm))
            i += 1
          }
          // fast reject on the EXACT score before any rounding: with a
          // full heap, a candidate whose exact score is strictly below
          // the rounded threshold band (rounded: |r4(s) − s| ≤ 0.00005;
          // unrounded: key = s) can never displace the heap root — skip
          // the r4 entirely. This is the hot exit for dense terms.
          val rejectFast = heap.size >= k && {
            val w = heap.head
            if (rounded) score < w.key - 0.0000501 // 1e-9 pad: the double
              // subtraction can land a hair above the exact decimal
              // band edge; widening the band keeps the reject sound
            else score < w.key || (score == w.key && candidate > w.docID)
          }
          if (!rejectFast) {
            val key = keyOf(score)
            // search-after gate: ranked at-or-before the cursor → earlier
            // page, skip (both tests false when afterKey is NaN = no cursor)
            if (!(key > afterKey || (key == afterKey && candidate <= afterDoc))) {
              if (heap.size < k) heap.enqueue(Entry(key, candidate, score))
              else {
                val w = heap.head
                if (key > w.key || (key == w.key && candidate < w.docID)) {
                  heap.dequeue(); heap.enqueue(Entry(key, candidate, score))
                }
              }
            }
          }
          iters(order(0)).advance(candidate + 1)
        }
        if (iters(order(0)).exhausted) running = false
        else candidate = iters(order(0)).docID
      }
    }
    val out = Seq.newBuilder[ScoredDoc]
    while (heap.nonEmpty) {
      val e = heap.dequeue()
      out += ScoredDoc(e.docID, e.score)
    }
    out.result()
  }

  /** Count matching docs in [lo, hi) WITHOUT scoring, norms lookups or
    * materializing matches — the "total hits" aggregate of a search
    * service. AND mode: alignment sweep led by `terms(0)` (callers on
    * the scan path MUST pass the task-local driver term first — every
    * AND match contains it, so per-task counts partition cleanly across
    * tasks holding disjoint driver segments). OR mode: distinct-doc
    * sort-merge over the present terms. Memory O(#terms); no top-k
    * structure of any kind. */
  def countRange(segsByTerm: Map[String, Array[PostingSegment]],
                 terms: Array[String], avgdl: Double,
                 lo: Long, hi: Long, orMode: Boolean,
                 // optional candidate gate (facet counts); probed at
                 // non-decreasing docIDs, so monotone-cursor gates work
                 allowed: Long => Boolean = null): Long = {
    if (orMode) {
      val iters = terms.filter(segsByTerm.contains)
        .map(t => new PostingListIterator(segsByTerm(t), avgdl))
      if (iters.isEmpty) return 0L
      iters.foreach(_.advance(lo))
      var count = 0L
      var running = true
      while (running) {
        var min = Long.MaxValue
        var i = 0
        while (i < iters.length) {
          val it = iters(i)
          if (!it.exhausted && it.docID < min) min = it.docID
          i += 1
        }
        if (min == Long.MaxValue || min >= hi) running = false
        else {
          if (allowed == null || allowed(min)) count += 1
          i = 0
          while (i < iters.length) {
            val it = iters(i)
            if (!it.exhausted && it.docID == min) it.advance(min + 1)
            i += 1
          }
        }
      }
      count
    } else {
      if (terms.isEmpty || terms.exists(t => !segsByTerm.contains(t)))
        return 0L
      val iters = terms.map(t => new PostingListIterator(segsByTerm(t), avgdl))
      iters.foreach(_.advance(lo))
      if (iters.exists(_.exhausted)) return 0L
      var count = 0L
      var candidate = iters(0).docID
      var running = true
      while (running && candidate < hi) {
        var matched = true
        var bump = candidate
        var i = 1
        while (matched && i < iters.length) {
          val it = iters(i)
          it.advance(candidate)
          if (it.exhausted) { running = false; matched = false }
          else if (it.docID != candidate) { bump = it.docID; matched = false }
          i += 1
        }
        if (running) {
          if (matched) {
            if (allowed == null || allowed(candidate)) count += 1
            iters(0).advance(candidate + 1)
          }
          else iters(0).advance(bump)
          if (iters(0).exhausted) running = false
          else candidate = iters(0).docID
        }
      }
      count
    }
  }

  /** Per-group match counts in [lo, hi) — [[countRange]]'s sweep with
    * the single counter replaced by one counter PER GROUP of a doc→group
    * mapping probed through a monotone cursor ([[monotoneGroupCursor]]).
    * This is the one-pass histogram/date-range aggregation of a search
    * service ("matches by length bucket"): B buckets cost ONE postings
    * sweep, not B gated sweeps. No scoring, no norms, no materialized
    * matches; unmapped docs (cursor -1) are skipped. Counts are
    * additive over disjoint ranges, so pooled/distributed shards merge
    * by elementwise array addition. */
  def countGroupsRange(segsByTerm: Map[String, Array[PostingSegment]],
                       terms: Array[String], avgdl: Double,
                       lo: Long, hi: Long, orMode: Boolean,
                       groupOf: Long => Int, nGroups: Int): Array[Long] = {
    val counts = new Array[Long](nGroups)
    if (orMode) {
      val iters = terms.filter(segsByTerm.contains)
        .map(t => new PostingListIterator(segsByTerm(t), avgdl))
      if (iters.isEmpty) return counts
      iters.foreach(_.advance(lo))
      var running = true
      while (running) {
        var min = Long.MaxValue
        var i = 0
        while (i < iters.length) {
          val it = iters(i)
          if (!it.exhausted && it.docID < min) min = it.docID
          i += 1
        }
        if (min == Long.MaxValue || min >= hi) running = false
        else {
          val g = groupOf(min)
          if (g >= 0) counts(g) += 1
          i = 0
          while (i < iters.length) {
            val it = iters(i)
            if (!it.exhausted && it.docID == min) it.advance(min + 1)
            i += 1
          }
        }
      }
      counts
    } else {
      if (terms.isEmpty || terms.exists(t => !segsByTerm.contains(t)))
        return counts
      val iters = terms.map(t => new PostingListIterator(segsByTerm(t), avgdl))
      iters.foreach(_.advance(lo))
      if (iters.exists(_.exhausted)) return counts
      var candidate = iters(0).docID
      var running = true
      while (running && candidate < hi) {
        var matched = true
        var bump = candidate
        var i = 1
        while (matched && i < iters.length) {
          val it = iters(i)
          it.advance(candidate)
          if (it.exhausted) { running = false; matched = false }
          else if (it.docID != candidate) { bump = it.docID; matched = false }
          i += 1
        }
        if (running) {
          if (matched) {
            val g = groupOf(candidate)
            if (g >= 0) counts(g) += 1
            iters(0).advance(candidate + 1)
          }
          else iters(0).advance(bump)
          if (iters(0).exhausted) running = false
          else candidate = iters(0).docID
        }
      }
      counts
    }
  }

  /** Top-k matching docs in [lo, hi) ordered by a STATIC doc-values
    * field instead of relevance — the search-service `sort:` parameter
    * (newest-first, longest-first, …). Relevance is never computed:
    * the sweep is [[countRange]]'s AND alignment (leader term first —
    * scan-path callers pass the task-local driver term at index 0) and
    * each match offers `(fieldOf(docID), docID)` to ONE bounded k-heap
    * ordered (field desc, docID asc). Without an index sorted on the
    * field there is no admissible early termination — a doc's field
    * value is independent of its postings — so the honest cost is the
    * full intersection sweep plus an O(log k) heap offer per match,
    * exactly Lucene's sort-by-field plan on an unsorted index. Results
    * from disjoint ranges merge by a global (field desc, docID asc)
    * re-sort: per-range top-k is a correct candidate superset because
    * the order key is per-doc. */
  def sortedRange(segsByTerm: Map[String, Array[PostingSegment]],
                  terms: Array[String], avgdl: Double,
                  lo: Long, hi: Long, k: Int,
                  fieldOf: Long => Long): Seq[(Long, Long)] = {
    if (terms.isEmpty || terms.exists(t => !segsByTerm.contains(t)))
      return Nil
    val iters = terms.map(t => new PostingListIterator(segsByTerm(t), avgdl))
    iters.foreach(_.advance(lo))
    if (iters.exists(_.exhausted)) return Nil
    final case class E(v: Long, docID: Long)
    val worseFirst = Ordering.fromLessThan[E]((a, b) =>
      a.v < b.v || (a.v == b.v && a.docID > b.docID))
    val heap = new mutable.PriorityQueue[E]()(worseFirst.reverse)
    def offer(d: Long): Unit = {
      val v = fieldOf(d)
      if (heap.size < k) heap.enqueue(E(v, d))
      else {
        val w = heap.head
        if (v > w.v || (v == w.v && d < w.docID)) {
          heap.dequeue(); heap.enqueue(E(v, d))
        }
      }
    }
    var candidate = iters(0).docID
    var running = true
    while (running && candidate < hi) {
      var matched = true
      var bump = candidate
      var i = 1
      while (matched && i < iters.length) {
        val it = iters(i)
        it.advance(candidate)
        if (it.exhausted) { running = false; matched = false }
        else if (it.docID != candidate) { bump = it.docID; matched = false }
        i += 1
      }
      if (running) {
        if (matched) {
          offer(candidate)
          iters(0).advance(candidate + 1)
        }
        else iters(0).advance(bump)
        if (iters(0).exhausted) running = false
        else candidate = iters(0).docID
      }
    }
    val out = Seq.newBuilder[(Long, Long)]
    while (heap.nonEmpty) {
      val e = heap.dequeue()
      out += ((e.docID, e.v))
    }
    out.result()
  }

  /** Disjunctive (OR-semantics) WAND over one docID range [lo, hi):
    * score = Σ contributions of the query terms PRESENT in the doc,
    * accumulated in ascending term order with absent terms contributing
    * an exact +0.0 (so the association matches the SQL twin's
    * `coalesce(c_i, 0)` fixed-order sum bit-for-bit).
    *
    * Pruning = classic WAND pivot selection on per-term global upper
    * bounds (idf × max block quotient over the term's segments), plus a
    * block-max re-check at the pivot before full scoring. Both bounds are
    * padded (admissibility insurance, same as the AND path). */
  def wandOrRange(
      segsByTerm: Map[String, Array[PostingSegment]],
      termsSorted: Array[TermCtx],
      lenOf: Long => Long,
      avgdl: Double,
      lo: Long, hi: Long, k: Int,
      rounded: Boolean): Seq[ScoredDoc] =
    disjunctiveRange(segsByTerm, termsSorted, lenOf, avgdl, lo, hi, k,
      rounded, null)

  private def disjunctiveRange(
      segsByTerm: Map[String, Array[PostingSegment]],
      termsSorted: Array[TermCtx],
      lenOf: Long => Long,
      avgdl: Double,
      lo: Long, hi: Long, k: Int,
      rounded: Boolean,
      allowed: Long => Boolean,
      // search-after cursor — same contract as [[conjunctiveRange]]'s
      // (NaN = none; skip docs ranked at-or-before (afterKey, afterDoc))
      afterKey: Double = Double.NaN,
      afterDoc: Long = 0L,
      // minimum-should-match: score only docs matching ≥ msm distinct
      // query terms. Gating happens at the aligned pivot, AFTER the
      // pivot/block-max pruning decisions — msm matches ⊆ OR matches,
      // so every pruning bound stays admissible (same argument as the
      // phrase gate on the conjunctive side). msm = 1 is bit-identical
      // to plain OR (any aligned pivot matches ≥ 1 term by definition).
      msm: Int = 1): Seq[ScoredDoc] = {
    val present = termsSorted.filter(tc => segsByTerm.contains(tc.term))
    val n = present.length
    // fewer present terms than the floor → no doc can reach msm matches
    if (n == 0 || n < msm) return Nil
    val iters = present.map(tc => new PostingListIterator(segsByTerm(tc.term), avgdl))
    iters.foreach(_.advance(lo))
    // global admissible UB per term: idf × max block quotient anywhere
    val ub = present.map { tc =>
      tc.boost * (tc.idf * segsByTerm(tc.term).iterator.flatMap(s =>
        s.blockMaxTf.lazyZip(s.blockMinLen).map(Bm25.quotient(_, _, avgdl))).max)
    }

    final case class Entry(key: Double, docID: Long, score: Double)
    val worseFirst = Ordering.fromLessThan[Entry]((a, b) =>
      a.key < b.key || (a.key == b.key && a.docID > b.docID))
    val heap = new mutable.PriorityQueue[Entry]()(worseFirst.reverse)
    // last (score → key) memo + exact-score fast reject — the same two
    // hot-path cuts as [[conjunctiveRange]] (r4 is a JBigDecimal round)
    var memoScore = Double.NaN
    var memoKey = Double.NaN
    def keyOf(score: Double): Double =
      if (!rounded) score
      else if (score == memoScore) memoKey
      else { memoScore = score; memoKey = r4(score); memoKey }
    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity
      else if (rounded) heap.head.key - 0.00005
      else heap.head.key
    def offer(docID: Long, score: Double): Unit = {
      if (heap.size >= k) {
        val w = heap.head
        val rejectFast =
          if (rounded) score < w.key - 0.0000501 // 1e-9 pad: the double
              // subtraction can land a hair above the exact decimal
              // band edge; widening the band keeps the reject sound
          else score < w.key || (score == w.key && docID > w.docID)
        if (rejectFast) return
      }
      val key = keyOf(score)
      // search-after gate (both tests false when afterKey is NaN)
      if (key > afterKey || (key == afterKey && docID <= afterDoc)) return
      if (heap.size < k) heap.enqueue(Entry(key, docID, score))
      else {
        val w = heap.head
        if (key > w.key || (key == w.key && docID < w.docID)) {
          heap.dequeue(); heap.enqueue(Entry(key, docID, score))
        }
      }
    }

    val order = Array.range(0, n) // indices sorted by current docID
    var running = true
    while (running) {
      // insertion sort by current docID (n is tiny; exhausted → MaxValue)
      var i = 1
      while (i < n) {
        val v = order(i)
        var j = i - 1
        while (j >= 0 && iters(order(j)).docID > iters(v).docID) {
          order(j + 1) = order(j); j -= 1
        }
        order(j + 1) = v
        i += 1
      }
      if (iters(order(0)).exhausted || iters(order(0)).docID >= hi) running = false
      else {
        // pivot: first prefix of docID-sorted iterators whose Σ UB beats θ
        val th = threshold
        var acc = 0.0
        var p = -1
        var pi = 0
        while (p < 0 && pi < n) {
          val oi = order(pi)
          if (!iters(oi).exhausted) {
            acc += ub(oi)
            if (pad(acc) >= th || th == Double.NegativeInfinity) p = pi
          }
          pi += 1
        }
        if (p < 0) running = false
        else {
          val pivotDoc = iters(order(p)).docID
          if (pivotDoc >= hi) running = false
          else if (iters(order(0)).docID == pivotDoc) {
            // align every iterator ≤ pivot on pivotDoc, then block-max check
            var a = 0
            while (a <= p) { iters(order(a)).advance(pivotDoc); a += 1 }
            var bub = 0.0
            var bi = 0
            while (bi < n) {
              val it = iters(bi)
              if (!it.exhausted && it.docID == pivotDoc)
                bub += present(bi).boost * (present(bi).idf * it.blockMaxQ)
              bi += 1
            }
            if ((heap.size >= k && pad(bub) < threshold) ||
                (allowed != null && !allowed(pivotDoc))) {
              // cannot enter top-k (or gated out by the filter): skip
              // past pivotDoc on matching iterators
              var m = 0
              while (m < n) {
                val it = iters(m)
                if (!it.exhausted && it.docID == pivotDoc) it.advance(pivotDoc + 1)
                m += 1
              }
            } else {
              // exact score, ascending-term order, absent terms +0.0 exact
              val len = lenOf(pivotDoc)
              val norm = 1.2 * (0.25 + 0.75 * len.toDouble / avgdl)
              var score = 0.0
              var nMatched = 0
              var s = 0
              while (s < n) {
                val it = iters(s)
                if (!it.exhausted && it.docID == pivotDoc) {
                  nMatched += 1
                  val tfv = it.tf.toDouble
                  score += present(s).boost *
                    (present(s).idf * (tfv * 2.2) / (tfv + norm))
                } else score += 0.0
                s += 1
              }
              if (nMatched >= msm) offer(pivotDoc, score)
              var m = 0
              while (m < n) {
                val it = iters(m)
                if (!it.exhausted && it.docID == pivotDoc) it.advance(pivotDoc + 1)
                m += 1
              }
            }
          } else {
            // advance, up to pivotDoc, the largest-UB iterator that is
            // strictly BEFORE it (order(0) qualifies — this branch means
            // order(0).docID < pivotDoc — so progress is guaranteed;
            // an iterator already AT pivotDoc must not be chosen, its
            // advance would be a no-op and the loop would spin)
            var best = 0
            var bi = 1
            while (bi < p) {
              if (iters(order(bi)).docID < pivotDoc && ub(order(bi)) > ub(order(best)))
                best = bi
              bi += 1
            }
            iters(order(best)).advance(pivotDoc)
          }
        }
      }
    }
    val out = Seq.newBuilder[ScoredDoc]
    while (heap.nonEmpty) {
      val e = heap.dequeue()
      out += ScoredDoc(e.docID, e.score)
    }
    out.result()
  }
}

/** Per-index query session: caches stats, the docID-range layout and
  * (small-corpus path) the broadcast norms, then serves topK queries —
  * the analogue of keeping the index open in a search service.
  *
  * Accepts ONE OR MORE index directories (LSM-style): a base index plus
  * incremental deltas ([[graft.streaming.IncrementalIndex]]). The only
  * precondition is pairwise-disjoint docID ranges between indexes
  * (append-style ingestion) — asserted at load. Global statistics
  * (N, avgdl, per-term df) are combined exactly, and block-max bounds
  * stay admissible because segments store (maxTf, minLen), not a
  * quotient baked against a stale avgdl. */
final class QueryEngine(
    spark: SparkSession,
    indexDirs: Seq[String],
    numRanges: Int = 32,
    broadcastNormsUpTo: Long = 40_000_000L,
    dictCacheUpTo: Long = 1_000_000L,
    broadcastPostingsUpTo: Long = 8_000_000L,
    cachePostings: Boolean = true,
    // total query df at or below which WAND runs ON THE DRIVER against
    // driver-cached segments + the local norms array — no Spark job at
    // all (VERDICT r2 #4: distributed latency is scheduling-bound).
    // Threshold MEASURED, not guessed: a single-term query must score
    // every posting, and the driver-local kernel sustains ~2.5M
    // postings/s decode+score (BENCH r3: 3.1M-df single-term queries
    // took 1.1-1.3 s locally vs ~200 ms distributed at local[32]), so
    // the local path wins only below ~200 ms × 2.5M/s ≈ 500k total df.
    // The first 12M-df default turned the whole bench query set into
    // driver-serial scans — p50 198→1139 ms. 0 disables the fast path
    // (the path-identity specs compare all three paths).
    localWandUpTo: Long = 500_000L,
    // Parallel extension of the driver-local path: a query whose total
    // df is in (localWandUpTo, localWandUpTo × threads] runs the SAME
    // WAND kernel sharded by docID range on a driver-side thread pool —
    // still zero Spark jobs. The per-thread budget stays localWandUpTo
    // (the measured serial crossover), so the pooled path only claims
    // queries it can finish under the distributed scheduling floor.
    // -1 = auto (min(defaultParallelism, 32) threads); 0/1 disables
    // pooling (serial threshold only). At 10^12 scale this is the "query
    // node holding hot shards" design: the bounded LRU below decides
    // which terms are resident, everything else stays distributed.
    localWandThreads: Int = -1,
    // total-df ceiling of the pooled path; -1 = auto
    // (localWandUpTo × threads, i.e. pooled wall time ≈ the measured
    // serial crossover). Settable directly for tests/tuning.
    localWandParallelUpTo: Long = -1L,
    // Filtered retrieval (topKFiltered): max allowed-set (or complement)
    // size shipped as a sorted-array broadcast gate into the WAND
    // kernels. Selective filters (the common case) broadcast the allowed
    // IDs; near-universal filters broadcast the smaller COMPLEMENT with
    // a negated gate; a filter too large on both sides falls back to the
    // exact score-all + semi-join plan (no top-k pruning — shuffle ∝
    // matching docs, the honest distributed cost of an unselective
    // filter over an unselective query).
    filterBroadcastUpTo: Int = 4_000_000,
    // total ids retained across cached filter-gate broadcasts (the
    // content-keyed LRU below); a parameter so specs can force eviction
    gateCacheMaxIds: Long = 8_000_000L) extends Serializable {

  import QueryEngine._
  import spark.implicits._
  require(indexDirs.nonEmpty)

  private val perDirStats: Seq[CorpusStat] =
    indexDirs.map(d => Index.readStats(spark, d))
  // LSM precondition: docID ranges disjoint across constituent indexes
  perDirStats.map(s => (s.minDoc, s.maxDoc)).sortBy(_._1).sliding(2).foreach {
    case Seq(a, b) =>
      require(a._2 < b._1, s"index docID ranges overlap: $a vs $b")
    case _ =>
  }

  /** Combined corpus statistics. Single-index avgdl reproduces the stored
    * value bit-for-bit (same double division). */
  val stats: CorpusStat = {
    val n = perDirStats.map(_.n).sum
    val sumLen = perDirStats.map(_.sumLen).sum
    CorpusStat(n, sumLen.toDouble / n, perDirStats.map(_.maxDoc).max,
      perDirStats.map(_.minDoc).min, sumLen)
  }
  private val useBroadcastNorms = stats.n <= broadcastNormsUpTo.toDouble

  /** Small-vocab path: every constituent dictionary pinned on the driver
    * (a search service keeps its term dictionary in memory). Vocabulary
    * grows ~log(corpus), so this holds far beyond sandbox scale; above
    * the cap, lookups fall back to term-pruned dictionary scans. Each
    * dictionary is one array sorted by term (`String` order): a lookup
    * or a prefix expansion is a binary search ([[dictFrom]]). */
  private val dictCaches: Option[Seq[Array[DictEntry]]] = {
    val ds = indexDirs.map(d => Index.readDictionary(spark, d))
    if (ds.map(_.count()).sum <= dictCacheUpTo)
      Some(ds.map(_.collect().sortBy(_.term)))
    else None
  }

  /** Index of the first entry of the term-sorted `dict` whose term is
    * `>= t` (`dict.length` when none is). */
  private def dictFrom(dict: Array[DictEntry], t: String): Int = {
    var lo = 0
    var hi = dict.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (dict(mid).term.compareTo(t) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** A per-query result frame built on the driver: `rows` under a fixed
    * schema, planned as a bare `LocalRelation`. No encoder and no
    * aliasing `Project` are built, which a `Seq.toDF` does on every call
    * (1.4–2.4 ms a call on a 4-vCPU VM, most of a resident query). */
  private def frame(rows: Seq[Row], schema: StructType = ScoreSchema): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def allDocStats =
    indexDirs.map(d => Index.readDocStats(spark, d)).reduce(_ union _)

  /** One postings DataFrame per constituent index, opened once — the
    * file listing / schema read would otherwise repeat on every query.
    * With `cachePostings` (default), the compressed segments are pinned
    * in executor storage memory (a search service keeps its index hot):
    * queries then skip in-memory batches on (bucket, term) stats instead
    * of re-reading parquet per query. MEMORY_AND_DISK and LRU-evictable,
    * so an index bigger than the cluster degrades gracefully to the
    * parquet path rather than failing. */
  private val postingsByDir: Map[String, DataFrame] =
    indexDirs.map { d =>
      val df = spark.read.parquet(s"$d/postings")
      d -> (if (cachePostings)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df)
    }.toMap

  private def segmentsOf(dir: String, terms: Seq[String],
                         buckets: Seq[Int]) =
    Index.segmentsFrom(spark, postingsByDir(dir), terms, buckets)

  /** Small-corpus path: norms as sorted primitive arrays (binary-search
    * lookup) — flat, boxing-free broadcast payload. Collected docID-sorted
    * and filled straight into the primitive arrays via toLocalIterator so
    * the driver never holds the boxed DocStat rows of the whole corpus
    * (ADVICE r2: a 40M-doc collect() was a multi-GB transient heap spike
    * just below the cogroup-fallback threshold). */
  private val normsBc =
    if (useBroadcastNorms) {
      val nDocs = stats.n.toLong
      require(nDocs <= Int.MaxValue, s"norms table needs $nDocs slots")
      val ids = new Array[Long](nDocs.toInt)
      val lens = new Array[Long](nDocs.toInt)
      val it = allDocStats.orderBy(col("docID"))
        .select(col("docID"), col("len")).as[(Long, Long)]
        .toLocalIterator()
      var i = 0
      while (it.hasNext) {
        val (d, l) = it.next()
        ids(i) = d; lens(i) = l; i += 1
      }
      require(i == nDocs, s"docstats rows $i != corpus n $nDocs")
      Some(spark.sparkContext.broadcast(new NormsTable(ids, lens)))
    } else None

  /** Session cache of side-term segment broadcasts, keyed by the query's
    * (driver term, term set): repeated queries re-use one broadcast
    * instead of leaking a new block per call (ADVICE r1). At most 256. */
  private val sideBcCache =
    boundedCache[String, Broadcast[Map[String, Array[PostingSegment]]]](256)((_, _) => 1)

  private def sideBroadcast(key: String)(
      compute: => Map[String, Array[PostingSegment]]) =
    sideBcCache.get(key, () => spark.sparkContext.broadcast(compute))

  /** Session cache of the driver term's GLOBAL segment-range directory
    * (sorted parallel minDoc/maxDoc arrays) — the metadata that lets OR
    * scan tasks own docID gaps (docs without the driver term). One
    * two-column pruned collect per driver term, then cached: steady-state
    * OR latency pays zero extra jobs. At most 256 terms. */
  private val rangeDirCache = boundedCache[String, (Array[Long], Array[Long])](256)((_, _) => 1)

  private def driverRangeDir(driverTerm: String,
                             perDir: Seq[Seq[DictEntry]]): (Array[Long], Array[Long]) =
    rangeDirCache.get(driverTerm, () => {
      val rows = indexDirs.zip(perDir).flatMap { case (dir, es) =>
        val de = es.filter(_.term == driverTerm)
        if (de.isEmpty) Nil
        else segmentsOf(dir, Seq(driverTerm), de.map(_.bucket).distinct)
          .select(col("minDoc"), col("maxDoc")).as[(Long, Long)]
          .collect().toSeq
      }.sortBy(_._1)
      (rows.map(_._1).toArray, rows.map(_._2).toArray)
    })

  /** Cache of filter-gate broadcasts keyed by CONTENT ([[GateKey]]).
    * Facet filters repeat across queries (lang = 'x', repo = 'y'), so
    * steady-state filtered queries reship nothing. The bound is total
    * RETAINED ids, not entry count — one cap-sized filter must not pin 32
    * cap-sized arrays. */
  private[graft] val gateBcCache =
    boundedCache[GateKey, Broadcast[Array[Long]]](gateCacheMaxIds)((k, _) => k.ids.length)

  /** Total ids retained across resident gate broadcasts. */
  private[graft] def gateCacheIds: Long =
    gateBcCache.asMap().keySet().asScala.iterator.map(_.ids.length.toLong).sum

  private[graft] def gateBroadcast(arr: Array[Long]): Broadcast[Array[Long]] =
    gateBcCache.get(new GateKey(arr), () => spark.sparkContext.broadcast(arr))

  /** Resolve a caller-supplied allowed-docID frame into one of the three
    * filter shapes, cheapest first:
    *   1. allowed set ≤ cap → broadcast gate over the sorted allowed ids;
    *   2. complement ≤ cap → broadcast NEGATED gate over the sorted
    *      disallowed ids (near-universal filters, e.g. lang != rare);
    *   3. both sides over cap → exact score-all + semi-join postFilter.
    * Returns (gateBc, negate, postFilter); exactly one of gateBc /
    * postFilter is non-null. */
  private def resolveFilter(allowedDocs: DataFrame):
      (org.apache.spark.broadcast.Broadcast[Array[Long]], Boolean, DataFrame) = {
    val ids = allowedDocs.select(col("docID").cast("long").as("docID")).distinct()
    val cap = filterBroadcastUpTo
    val take = ids.as[Long].take(cap + 1)
    if (take.length <= cap) {
      java.util.Arrays.sort(take)
      (gateBroadcast(take), false, null)
    } else {
      val dis = allDocStats.map(_.docID).toDF("docID")
        .except(ids).as[Long].take(cap + 1)
      if (dis.length <= cap) {
        java.util.Arrays.sort(dis)
        (gateBroadcast(dis), true, null)
      } else (null, false, ids)
    }
  }

  /** A resolved filter, reusable across queries: resolving costs one
    * Spark job (the distinct+take over the allowed frame), so callers
    * serving many queries against the same facet prepare it ONCE and
    * pass the handle — steady-state faceted latency is then gate-check
    * cost only (the broadcast itself is also content-cached). */
  final class Facet private[QueryEngine] (
      private[QueryEngine] val gateBc: org.apache.spark.broadcast.Broadcast[Array[Long]],
      private[QueryEngine] val negate: Boolean,
      private[QueryEngine] val postFilter: DataFrame)

  /** Resolve `allowedDocs` into a reusable [[Facet]] handle. */
  def prepareFilter(allowedDocs: DataFrame): Facet = {
    val (g, neg, post) = resolveFilter(allowedDocs)
    new Facet(g, neg, post)
  }

  /** Resolve a DENIED-docID frame into a negated-gate [[Facet]] —
    * candidates in the set are excluded before scoring. This is the LSM
    * delete surface ([[graft.streaming.IncrementalIndex.delete]]):
    * queries exclude tombstoned docs while corpus stats stay as-built
    * (Lucene-style deleted-docs semantics — df/avgdl correct themselves
    * at compaction, which drops the postings for real). The deny set
    * must fit the gate broadcast cap: an index whose LIVE tombstones
    * exceed it is overdue for compaction, and that is the scale-correct
    * response — the alternative (enumerating the corpus-sized allowed
    * complement) is exactly what this API exists to avoid. */
  def prepareDeny(deniedDocs: DataFrame): Facet = {
    val take = deniedDocs.select(col("docID").cast("long").as("docID"))
      .distinct().as[Long].take(filterBroadcastUpTo + 1)
    require(take.length <= filterBroadcastUpTo,
      s"deny set exceeds the gate broadcast cap ($filterBroadcastUpTo ids) — " +
        "compact the index to drop tombstoned postings first")
    java.util.Arrays.sort(take)
    new Facet(gateBroadcast(take), true, null)
  }

  /** A resolved docID→group (collapse-key) mapping, reusable across
    * queries — the grouped-retrieval analogue of [[Facet]]. Arrays are
    * docID-sorted and parallel; `names` maps group index → value. */
  final class Groups private[QueryEngine] (
      private[QueryEngine] val ids: Array[Long],
      private[QueryEngine] val groups: Array[Int],
      val names: IndexedSeq[String])

  /** Resolve a (docID, group) frame into a reusable [[Groups]] handle.
    * The map must fit the gate broadcast cap — the same honesty budget
    * as the facet tier; a corpus-sized collapse key should instead run
    * one explicit [[topKFiltered]] per group over frames (the
    * postFilter path scales, the driver map does not). A docID mapped
    * to two groups rejects: a collapse key must be a function. */
  def prepareGroups(grouped: DataFrame): Groups = {
    val cap = filterBroadcastUpTo
    val rows = grouped
      .select(col("docID").cast("long").as("docID"), col("grp").cast("string").as("grp"))
      .distinct().take(cap + 1)
    require(rows.length <= cap,
      s"group map exceeds the gate broadcast cap ($cap ids) — " +
        "run one topKFiltered per group over frames instead")
    val pairs = rows.map(r => (r.getLong(0), r.getString(1)))
    require(pairs.map(_._1).distinct.length == pairs.length,
      "collapse key must be a function: some docID maps to two groups")
    val names = pairs.map(_._2).distinct.sorted.toIndexedSeq
    val idx = names.zipWithIndex.toMap
    val sorted = pairs.sortBy(_._1)
    new Groups(sorted.map(_._1), sorted.map(p => idx(p._2)), names)
  }

  /** Grouped (field-collapsing) top-n: the best `n` docs PER GROUP of
    * the collapse key, scored with corpus-global stats — "top 3 per
    * lang" in one query. Driver-local path (postings resident): ONE
    * kernel pass with per-group heaps ([[QueryEngine.groupedRange]]);
    * above the serial threshold the same kernel runs sharded by docID
    * range on the driver pool (per-group tops over disjoint ranges
    * merge by concatenation), up to the pooled total-df ceiling.
    * Fallback: one faceted top-n per group through the ordinary gated
    * kernel — identical output by construction (a group's top-n IS the
    * faceted top-n for that group's docID set), asserted by the
    * path-identity spec. Bare terms + `term^w` boosts only in this
    * version (gates would compose the same way; reject > untested).
    * Returns (grp, rank, docID, score) ordered (grp, rank). */
  def searchGroupedTopK(qtext: String, groups: Groups, n: Int = 3,
                        rounded: Boolean = true,
                        forceComposition: Boolean = false): DataFrame = {
    val p = Analyzer.parseSearch(qtext)
    require(p.phrases.isEmpty && p.neg.isEmpty && p.fields.isEmpty &&
      p.prefixes.isEmpty && p.fuzzies.isEmpty && p.wildcards.isEmpty,
      "grouped retrieval supports bare terms and term^w boosts only")
    val terms = p.pos
    if (terms.isEmpty || groups.names.isEmpty) return frame(Nil, GroupedSchema)
    val perDir = lookupPerDir(terms)
    val combinedDf: Map[String, Long] =
      perDir.flatten.groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    if (combinedDf.size < terms.size) return frame(Nil, GroupedSchema)
    val nS = stats.n
    val avgdl = stats.avgdl
    val termCtx = combinedDf.toSeq
      .map { case (t, df) =>
        TermCtx(t, df, Bm25.idf(nS, df), p.boosts.getOrElse(t, 1.0)) }
      .sortBy(_.term).toArray
    val totalDf = combinedDf.values.sum
    val hits: Seq[(Int, ScoredDoc)] =
      if (!forceComposition && normsBc.isDefined && localWandUpTo > 0 &&
          totalDf <= math.max(localWandUpTo, localParallelCap)) {
        val byTerm = localSegsFor(termCtx.map(_.term).toSeq, perDir)
        val norms = normsBc.get.value
        val nG = groups.names.size
        // per-group top-n over disjoint ranges concatenates soundly (the
        // global top-n per group is within the union of shard top-ns);
        // the merge below takes it
        localShards(totalDf) { (lo, hi) =>
          QueryEngine.groupedRange(byTerm, termCtx, norms.cursor(), avgdl,
            lo, hi, n, rounded,
            QueryEngine.monotoneGroupCursor(groups.ids, groups.groups), nG)
        }.flatten
      } else {
        groups.names.indices.flatMap { g =>
          val gids = groups.ids.zip(groups.groups)
            .collect { case (d, gg) if gg == g => d }
          topKImpl(terms.mkString(" "), n, rounded, orMode = false,
            gateBc = gateBroadcast(gids), boosts = p.boosts)
            .collect().map(r => (g, ScoredDoc(r.getLong(0), r.getDouble(1)))).toSeq
        }
      }
    frame(hits
      .map { case (g, h) =>
        (g, h.docID, if (rounded) QueryEngine.r4(h.score) else h.score) }
      .groupBy(_._1).toSeq
      .flatMap { case (g, hs) =>
        hs.sortBy(h => (-h._3, h._2)).take(n).zipWithIndex
          .map { case ((_, d, s), i) => (groups.names(g), i + 1, d, s) }
      }
      .sortBy(r => (r._1, r._2))
      .map { case (g, r, d, s) => Row(g, r, d, s) }, GroupedSchema)
  }

  /** Driver-contract frame over the fixed grouped query set
    * ([[Bm25.GroupedQuerySet]]): (query, grp, rank, docID, score). */
  def searchGroupedAll(groups: Groups, n: Int = 3): DataFrame =
    Bm25.GroupedQuerySet.map { case (qid, q) =>
      searchGroupedTopK(q, groups, n).select(lit(qid).as("query"),
        col("grp"), col("rank"), col("docID"), col("score"))
    }.reduce(_ unionAll _).orderBy(col("query"), col("grp"), col("rank"))

  /** Filtered top-k: BM25 top-k restricted to `allowedDocs` (any frame
    * with a docID column — e.g. `Corpus.docs(...).filter(lang === "de")
    * .select("docID")`). Scoring statistics (idf, avgdl) stay
    * CORPUS-GLOBAL — the filter restricts the result set, not the
    * ranking model (standard faceted-search semantics, and the only
    * semantics that needs no per-filter stat rebuild). Exact: the gate
    * applies at the WAND candidate, before top-k pruning. */
  def topKFiltered(qtext: String, allowedDocs: DataFrame, k: Int = Bm25.K,
                   rounded: Boolean = false, orMode: Boolean = false): DataFrame =
    topKFiltered(qtext, prepareFilter(allowedDocs), k, rounded, orMode)

  /** Filtered top-k against a prepared [[Facet]] (no per-query resolve). */
  def topKFiltered(qtext: String, facet: Facet, k: Int,
                   rounded: Boolean, orMode: Boolean): DataFrame =
    topKImpl(qtext, k, rounded, orMode,
      gateBc = facet.gateBc, gateNegate = facet.negate,
      postFilter = facet.postFilter)

  /** Search-after pagination composed with a facet: the k results AFTER
    * the `(afterScore, afterDoc)` cursor within the faceted ranking —
    * both gates apply inside the WAND kernel (page 2+ of a faceted
    * result list). */
  def topKFilteredAfter(qtext: String, facet: Facet, k: Int,
                        afterScore: Double, afterDoc: Long,
                        rounded: Boolean = false,
                        orMode: Boolean = false): DataFrame =
    topKImpl(qtext, k, rounded, orMode,
      gateBc = facet.gateBc, gateNegate = facet.negate,
      postFilter = facet.postFilter,
      afterScore = afterScore, afterDoc = afterDoc)

  /** Release every broadcast this session created (norms + cached side
    * segments + filter gates). Call it only after every returned frame
    * is consumed; the engine must not be queried afterwards. */
  def close(): Unit = {
    sideBcCache.asMap().values.forEach(_.destroy())
    gateBcCache.asMap().values.forEach(_.destroy())
    Seq(sideBcCache, gateBcCache, rangeDirCache, localSegCache).foreach(_.invalidateAll())
    if (localPoolInit) localPool.shutdown()
    normsBc.foreach(_.destroy())
    if (cachePostings) postingsByDir.values.foreach(_.unpersist(false))
  }

  // --------------------------------------------- driver-resident fast path

  /** Effective pool width for the parallel local path (0/1 = serial only).
    * Auto sizes from DRIVER cores, not defaultParallelism (ADVICE r3): on
    * a real cluster defaultParallelism reflects total executor cores, and
    * a 4-core driver fronting 512 executor cores would get a 32-thread
    * pool running 8× oversubscribed — plus a pooled-path claim (and a
    * cache budget) scaled to capacity the driver doesn't have. Cluster
    * deployments wanting a wider pool set localWandThreads explicitly. */
  private val localThreads: Int =
    if (localWandThreads < 0)
      math.min(Runtime.getRuntime.availableProcessors(), 32)
    else localWandThreads
  /** Total-df ceiling of the pooled local path: per-thread serial budget
    * × pool width, so pooled wall time ≈ the serial crossover time. */
  private val localParallelCap: Long =
    if (localWandUpTo <= 0 || localThreads <= 1) 0L
    else if (localWandParallelUpTo >= 0) localWandParallelUpTo
    else localWandUpTo * localThreads

  /** Driver-side per-term segment cache backing [[topK]]'s local fast
    * path (VERDICT r2 #4): once a query's terms are resident, WAND runs
    * on the driver with NO Spark job — distributed latency was
    * scheduling-bound (~180 ms/job) against a sub-10 ms kernel. Bounded
    * by total cached postings. */
  private[graft] val localSegCache =
    boundedCache[String, Array[PostingSegment]](
      4L * math.max(localWandUpTo, localParallelCap))((_, v) => v.iterator.map(_.count).sum)

  /** Lazily-built pool backing the parallel local path; daemon threads so
    * an unclosed engine never blocks JVM exit. `localPoolInit` lets
    * [[close]] skip pools that were never materialized (ADVICE r3: an
    * unconditional shutdown() forced the lazy val to initialize a pool
    * just to tear it down on engines that never took the pooled path). */
  @transient @volatile private var localPoolInit = false
  @transient private lazy val localPool: java.util.concurrent.ExecutorService = {
    localPoolInit = true
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, localThreads),
      (r: Runnable) => {
        val t = new Thread(r, "graft-local-wand")
        t.setDaemon(true)
        t
      })
  }

  /** The full segment arrays of `terms`: hits from [[localSegCache]],
    * misses loaded with one pruned collect per index dir. The load holds
    * no lock, so a warm query never waits on it; two queries missing the
    * same term may both load it, and the later `putAll` stores an equal
    * array. */
  private def localSegsFor(terms: Seq[String],
                           perDir: Seq[Seq[DictEntry]]): Map[String, Array[PostingSegment]] = {
    val hits = localSegCache.getAllPresent(terms.asJava).asScala.toMap
    val missing = terms.filterNot(hits.contains).toSet
    if (missing.isEmpty) return hits
    val loaded = indexDirs.zip(perDir).flatMap { case (dir, es) =>
      val want = es.filter(e => missing(e.term))
      if (want.isEmpty) Nil
      else segmentsOf(dir, want.map(_.term), want.map(_.bucket).distinct)
        .collect().toSeq
    }.groupBy(_.term).map { case (t, ss) => t -> ss.sortBy(_.minDoc).toArray }
    localSegCache.putAll(loaded.asJava)
    hits ++ loaded
  }

  /** `f(lo, hi)` over the docID space of a driver-local query: one call
    * on this thread when `totalDf` fits the serial budget, else one call
    * per disjoint range on the driver pool, sharded exactly like the
    * distributed range path. ~25k postings/range ≈ 10 ms of serial kernel
    * per task, capped at 4× the pool so task-submit overhead stays
    * trivial. Callers merge the per-range results and build every
    * stateful cursor (norms, gates, group maps) INSIDE `f`. */
  private def localShards[T](totalDf: Long)(f: (Long, Long) => T): Seq[T] =
    if (totalDf <= localWandUpTo) Seq(f(0L, Long.MaxValue))
    else {
      val nr = math.max(1L, math.min(4L * localThreads,
        math.max(localThreads.toLong, totalDf / 25_000L + 1))).toInt
      val rsz = math.max(1L, (stats.maxDoc + nr) / nr)
      (0 until nr).map { r =>
        localPool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = f(r * rsz, (r + 1L) * rsz)
        })
      }.map(_.get())
    }

  /** Per constituent index: the query terms it knows, with ITS bucket
    * assignment (buckets are per-index — df-local at build time). */
  private def lookupPerDir(terms: Seq[String]): Seq[Seq[DictEntry]] =
    dictCaches match {
      case Some(ds) => ds.map(d => terms.flatMap { t =>
        val i = dictFrom(d, t)
        if (i < d.length && d(i).term == t) Some(d(i)) else None
      })
      case None => indexDirs.map { d =>
        Index.readDictionary(spark, d)
          .filter(col("term").isin(terms: _*))
          .collect().toSeq
      }
    }

  /** Expand a term prefix to every dictionary term starting with it
    * (distinct ascending). Small-vocab path: a binary search of each
    * pinned dictionary for the first term `>= prefix`, then a walk
    * forward while terms start with it. Big-vocab fallback: a
    * `startsWith` dictionary scan — the dictionary is written
    * term-sorted (Index stage 3), so
    * the StringStartsWith filter prunes to the parquet row groups whose
    * term min/max straddle the prefix. `cap` bounds the expansion: an
    * unselective prefix over a web-scale vocabulary ("a*") would turn
    * one query into thousands of posting lists — the caller must narrow
    * it rather than the engine silently scanning the corpus. */
  def expandPrefix(prefix: String, cap: Int = 64): Seq[String] = {
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    require(p.nonEmpty, "empty prefix")
    val expanded = (dictCaches match {
      case Some(ds) => ds.flatMap(d =>
        d.view.drop(dictFrom(d, p)).map(_.term).takeWhile(_.startsWith(p)))
      case None => indexDirs.flatMap { d =>
        Index.readDictionary(spark, d)
          .filter(col("term").startsWith(p))
          .select(col("term")).as[String]
          .take(cap + 1).toSeq
      }
    }).distinct.sorted
    require(expanded.size <= cap,
      s"prefix '$p' expands to ${expanded.size} terms (cap $cap) — narrow it")
    expanded
  }

  /** Expand a (possibly misspelled) term to every dictionary term within
    * Levenshtein distance `maxDist` (distinct ascending). Small-vocab
    * path: an in-memory sweep of the pinned dictionaries. Big-vocab
    * fallback: a full dictionary scan with the codegen'd `levenshtein`
    * filter — edit distance has no sortable prefix to push down, but the
    * dictionary is only ~log(corpus) rows and the scan is embarrassingly
    * parallel, the honest cost of fuzzy lookup at scale. `cap` bounds
    * the expansion exactly like [[expandPrefix]]. */
  def expandFuzzy(term: String, maxDist: Int = 1, cap: Int = 64): Seq[String] = {
    val q = term.toLowerCase(java.util.Locale.ROOT)
    require(q.nonEmpty, "empty term")
    val expanded = (dictCaches match {
      case Some(ds) => ds.flatMap(
        _.iterator.map(_.term).filter(QueryEngine.editDistance(_, q) <= maxDist))
      case None => indexDirs.flatMap { d =>
        Index.readDictionary(spark, d)
          .filter(levenshtein(col("term"), lit(q)) <= maxDist)
          .select(col("term")).as[String]
          .take(cap + 1).toSeq
      }
    }).distinct.sorted
    require(expanded.size <= cap,
      s"fuzzy '$q' (dist ≤ $maxDist) expands to ${expanded.size} terms (cap $cap)")
    expanded
  }

  /** Expand a term FRAGMENT to every dictionary term containing it
    * (distinct ascending) — the `*frag*` wildcard of a search box.
    * Small-vocab path: an in-memory sweep of the pinned dictionaries.
    * Big-vocab fallback: a full dictionary scan with the codegen'd
    * Contains filter — an infix has no sortable prefix to push down
    * (same honest cost as [[expandFuzzy]]: the dictionary is only
    * ~log(corpus) rows and the scan is embarrassingly parallel). `cap`
    * bounds the expansion exactly like [[expandPrefix]]. */
  def expandContains(frag: String, cap: Int = 64): Seq[String] = {
    val f = frag.toLowerCase(java.util.Locale.ROOT)
    require(f.nonEmpty, "empty fragment")
    val expanded = (dictCaches match {
      case Some(ds) => ds.flatMap(_.iterator.map(_.term).filter(_.contains(f)))
      case None => indexDirs.flatMap { d =>
        Index.readDictionary(spark, d)
          .filter(col("term").contains(f))
          .select(col("term")).as[String]
          .take(cap + 1).toSeq
      }
    }).distinct.sorted
    require(expanded.size <= cap,
      s"wildcard '*$f*' expands to ${expanded.size} terms (cap $cap) — narrow it")
    expanded
  }

  /** Regexp dictionary expansion: every dictionary term FULL-matching
    * the pattern (java.util.regex `matches()`; the above-cap dictionary
    * scan uses Spark RLike — the same java.util.regex — anchored
    * `^(?:pat)$`, a codegen'd row filter like the wildcard scan; an
    * infix regex has no sortable prefix to push down, the honest
    * fuzzy-lookup cost). Patterns should stay in the java/RE2 shared
    * construct subset when a DuckDB twin is in play
    * ([[Bm25.RegexQuerySet]]). */
  def expandRegex(pattern: String, cap: Int = 64): Seq[String] = {
    require(pattern.nonEmpty, "empty pattern")
    // user-facing guard rail (ADVICE r4): a malformed pattern fails with
    // the same IllegalArgumentException contract as every other expansion
    // guard (not a raw PatternSyntaxException), and a length cap bounds
    // the construct budget a catastrophic-backtracking pattern gets
    // against every dictionary term on the driver
    require(pattern.length <= 256,
      s"regex pattern too long (${pattern.length} > 256 chars) — narrow it")
    val p =
      try java.util.regex.Pattern.compile(pattern)
      catch {
        case e: java.util.regex.PatternSyntaxException =>
          throw new IllegalArgumentException(
            s"malformed regex '$pattern': ${e.getMessage}", e)
      }
    val expanded = (dictCaches match {
      case Some(ds) =>
        ds.flatMap(_.iterator.map(_.term).filter(t => p.matcher(t).matches()))
      case None => indexDirs.flatMap { d =>
        Index.readDictionary(spark, d)
          .filter(col("term").rlike("^(?:" + pattern + ")$"))
          .select(col("term")).as[String]
          .take(cap + 1).toSeq
      }
    }).distinct.sorted
    require(expanded.size <= cap,
      s"regex '$pattern' expands to ${expanded.size} terms (cap $cap) — narrow it")
    expanded
  }

  /** Fuzzy retrieval: the query term expands to its Levenshtein-≤-1
    * dictionary neighborhood ([[expandFuzzy]]) and runs with OR
    * semantics over the expansion — identical scoring/path story to
    * [[topKPrefix]]. */
  def topKFuzzy(term: String, k: Int = Bm25.K, rounded: Boolean = false,
                maxDist: Int = 1, cap: Int = 64): DataFrame = {
    val terms = expandFuzzy(term, maxDist, cap)
    if (terms.isEmpty) frame(Nil)
    else topKImpl(terms.mkString(" "), k, rounded, orMode = true)
  }

  /** Driver-contract frame over the fixed FUZZY query set
    * ([[Bm25.FuzzyQuerySet]]): (query, rank, docID, score), rounded. */
  def topKAllFuzzy(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.FuzzyQuerySet.map { case (qid, q) =>
      qid -> topKFuzzy(q, k, rounded = true)
    })

  /** Prefix retrieval: the prefix expands to every dictionary term
    * starting with it ([[expandPrefix]]) and runs with OR semantics over
    * the expansion — score = ordered sum of the contributions of the
    * expansion terms the doc contains. Expansion terms are plain
    * analyzer tokens, so they re-enter the normal query pipeline
    * verbatim and ride every existing physical path and cache. */
  def topKPrefix(prefix: String, k: Int = Bm25.K, rounded: Boolean = false,
                 cap: Int = 64): DataFrame = {
    val terms = expandPrefix(prefix, cap)
    if (terms.isEmpty) frame(Nil)
    else topKImpl(terms.mkString(" "), k, rounded, orMode = true)
  }

  /** Driver-contract frame over the fixed PREFIX query set
    * ([[Bm25.PrefixQuerySet]]): (query, rank, docID, score), rounded. */
  def topKAllPrefix(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.PrefixQuerySet.map { case (qid, prefix) =>
      qid -> topKPrefix(prefix, k, rounded = true)
    })

  /** Wildcard (contains) retrieval: the fragment expands to every
    * dictionary term containing it ([[expandContains]]) and runs with
    * OR semantics over the expansion — identical scoring/path story to
    * [[topKPrefix]]: expansion terms are plain analyzer tokens, so they
    * re-enter the normal query pipeline verbatim and ride every
    * existing physical path and cache. */
  def topKWildcard(frag: String, k: Int = Bm25.K, rounded: Boolean = false,
                   cap: Int = 64): DataFrame = {
    val terms = expandContains(frag, cap)
    if (terms.isEmpty) frame(Nil)
    else topKImpl(terms.mkString(" "), k, rounded, orMode = true)
  }

  /** Driver-contract frame over the fixed WILDCARD query set
    * ([[Bm25.WildcardQuerySet]]): (query, rank, docID, score), rounded. */
  def topKAllWildcard(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.WildcardQuerySet.map { case (qid, frag) =>
      qid -> topKWildcard(frag, k, rounded = true)
    })

  /** Regexp retrieval (Lucene RegexpQuery): the pattern expands to its
    * full-match dictionary neighborhood ([[expandRegex]]) and runs with
    * OR semantics over the expansion — identical scoring/path story to
    * [[topKPrefix]]/[[topKWildcard]]: expansion terms are plain
    * analyzer tokens, so they re-enter the normal query pipeline
    * verbatim and ride every existing physical path and cache. */
  def topKRegex(pattern: String, k: Int = Bm25.K, rounded: Boolean = false,
                cap: Int = 64): DataFrame = {
    val terms = expandRegex(pattern, cap)
    if (terms.isEmpty) frame(Nil)
    else topKImpl(terms.mkString(" "), k, rounded, orMode = true)
  }

  /** Driver-contract frame over the fixed REGEXP query set
    * ([[Bm25.RegexQuerySet]]): (query, rank, docID, score), rounded. */
  def topKAllRegex(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.RegexQuerySet.map { case (qid, pat) =>
      qid -> topKRegex(pat, k, rounded = true)
    })

  /** Autocomplete: the top-m dictionary completions of `prefix` by
    * (df desc, term asc) — the suggest-as-you-type surface. Rides
    * [[expandPrefix]]'s machinery (pinned-dict sweep below the cache
    * cap, term-sorted StringStartsWith row-group-pruned scan above it),
    * then attaches exact combined df from the dictionary — pure metadata,
    * no posting touched. */
  def suggest(prefix: String, m: Int = 8, cap: Int = 64): Seq[(String, Long)] = {
    val terms = expandPrefix(prefix, cap)
    if (terms.isEmpty) return Nil
    val dfs = lookupPerDir(terms).flatten.groupBy(_.term)
      .map { case (t, es) => t -> es.map(_.df).sum }
    terms.map(t => t -> dfs.getOrElse(t, 0L))
      .sortBy { case (t, d) => (-d, t) }.take(m)
  }

  /** Driver-contract frame over the fixed PREFIX query set:
    * (query, rank, term, df) — completions ranked by document frequency.
    * An absent prefix (x04) contributes no rows. */
  def suggestAll(m: Int = 8): DataFrame =
    Bm25.PrefixQuerySet.flatMap { case (qid, prefix) =>
      suggest(prefix, m).zipWithIndex.map { case ((t, d), i) =>
        (qid, i + 1, t, d)
      }
    }.toDF("query", "rank", "term", "df")
      .orderBy(col("query"), col("rank"))

  /** Spell suggestion ("did you mean"): per analyzer token of `qtext`,
    * the dictionary term within Levenshtein distance `maxDist` with the
    * highest document frequency (ties → term asc) — the classic
    * df-weighted direct spell checker. A term present in the dictionary
    * competes at distance 0 and loses to a strictly higher-df neighbor
    * (common misspellings ARE in real dictionaries; df is the signal).
    * No candidate in range → ("", 0). Dictionary metadata only — rides
    * [[expandFuzzy]]'s pinned-dict sweep / scan fallback, no posting
    * touched, no job on the pinned path. */
  def didYouMean(qtext: String, maxDist: Int = 1,
                 cap: Int = 4096): Seq[(String, String, Long)] =
    Analyzer.queryTerms(qtext).map { t =>
      val cands = expandFuzzy(t, maxDist, cap)
      if (cands.isEmpty) (t, "", 0L)
      else {
        val dfs = lookupPerDir(cands).flatten.groupBy(_.term)
          .map { case (c, es) => c -> es.map(_.df).sum }
        val (best, d) = cands.map(c => (c, dfs.getOrElse(c, 0L)))
          .minBy { case (c, d) => (-d, c) }
        (t, best, d)
      }
    }

  /** Driver-contract frame over the fixed did-you-mean query set
    * ([[Bm25.DidYouMeanQuerySet]]): (query, term, suggestion, sugg_df),
    * one row per input term, ordered (query, term). */
  def didYouMeanAll(): DataFrame =
    Bm25.DidYouMeanQuerySet.flatMap { case (qid, q) =>
      didYouMean(q).map { case (t, s, d) => (qid, t, s, d) }
    }.toDF("query", "term", "suggestion", "sugg_df")
      .orderBy(col("query"), col("term"))

  /** Score explanation (the relevance-debugging surface): for each of
    * the query's top-k docs, one row per query term with the raw
    * ingredients — tf, df and the term's BM25 contribution — exactly as
    * the kernel combined them. Rank comes from the ordinary [[topK]]
    * (rounded) ranking; the per-term breakdown re-derives from a
    * docID-pushdown point read of the index's stage-1 tf table (k docs,
    * never a corpus scan — [[moreLikeThis]]'s read shape), with doc
    * length recovered as Σtf over the doc's rows (the build's own
    * definition of len). */
  def explainScores(qtext: String, k: Int = Bm25.K): DataFrame = {
    val empty = Seq.empty[(Int, Long, String, Long, Long, Double)]
      .toDF("rank", "docID", "term", "tf", "df", "contrib")
    val terms = Analyzer.queryTerms(qtext)
    val top = topK(qtext, k, rounded = true).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    if (top.isEmpty) return empty
    val ids = top.map(_._1)
    val tfRows = indexDirs.map(d =>
        spark.read.parquet(s"$d/tf").filter(col("docID").isin(ids: _*)))
      .reduce(_ unionAll _)
      .collect()
      .map(r => (r.getAs[Long]("docID"), r.getAs[String]("term"), r.getAs[Long]("tf")))
    val lens = tfRows.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._3).sum }
    val tfOf = tfRows.map { case (d, t, f) => (d, t) -> f }.toMap
    val dfs = lookupPerDir(terms).flatten.groupBy(_.term)
      .map { case (t, es) => t -> es.map(_.df).sum }
    val n = stats.n
    val avgdl = stats.avgdl
    top.zipWithIndex.toSeq.flatMap { case ((docID, _), i) =>
      terms.map { t =>
        val tf = tfOf((docID, t)) // AND semantics: every term present
        val df = dfs(t)
        (i + 1, docID, t, tf, df,
          QueryEngine.r4(Bm25.contrib(Bm25.idf(n, df), tf, lens(docID), avgdl)))
      }
    }.toDF("rank", "docID", "term", "tf", "df", "contrib")
      .orderBy(col("rank"), col("term"))
  }

  /** Driver-contract frame over the fixed AND query set
    * ([[Bm25.QuerySet]]): (query, rank, docID, term, tf, df, contrib) —
    * the per-term breakdown of every top-k hit. Absent-term q05
    * contributes no rows. */
  def explainScoresAll(k: Int = Bm25.K): DataFrame =
    Bm25.QuerySet.map { case (qid, q) =>
      explainScores(q, k).select(lit(qid).as("query"), col("rank"),
        col("docID"), col("term"), col("tf"), col("df"), col("contrib"))
    }.reduce(_ unionAll _).orderBy(col("query"), col("rank"), col("term"))

  /** ES /termvectors parity: the per-doc term vector — (docID, term,
    * tf, df) for each requested doc — from the INDEX's own artifacts:
    * stage-1 tf rows by docID-pushdown point read (as
    * [[moreLikeThis]]'s term selection), df summed across constituent
    * dictionaries (LSM deltas hold disjoint docIDs, so per-dir dfs add
    * exactly). The ≤ |ids|·|doc terms| tf rows broadcast into one probe
    * join against the dictionary — never the reverse. Cross-gates the
    * index artifacts against corpus truth: the DuckDB twin re-derives
    * the identical vector by tokenizing the corpus. */
  def termVectors(ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "no doc ids")
    val tf = indexDirs.map(d => spark.read.parquet(s"$d/tf")
        .select(col("docID"), col("term"), col("tf"))
        .filter(col("docID").isin(ids: _*)))
      .reduce(_ unionAll _)
    val df = indexDirs.map(d =>
        Index.readDictionary(spark, d).toDF().select(col("term"), col("df")))
      .reduce(_ unionAll _)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    df.join(broadcast(tf), "term")
      .select(col("docID"), col("term"), col("tf"), col("df"))
      .orderBy(col("docID"), col("term"))
  }

  /** Driver-contract frame: [[termVectors]] over the fixed
    * [[Bm25.TermVectorDocs]] fixture ids. */
  def termVectorsAll(): DataFrame = termVectors(Bm25.TermVectorDocs)

  /** More-like-this: the top-k docs most similar to `srcDoc`, by BM25
    * over the source doc's top-`t` tf·idf terms (the classic Lucene MLT
    * recipe). Term selection reads the source doc's rows from the
    * index's stage-1 tf table (docID-pushdown point read — never a
    * corpus scan), ranks them by round4(tf·idf) with term-asc
    * tie-break, and the selected terms re-enter the ordinary OR query
    * pipeline; the source doc itself is excluded from the k+1 result
    * exactly (top-k excluding one known doc ⊆ top-(k+1) including it). */
  def moreLikeThis(srcDoc: Long, k: Int = Bm25.K, t: Int = 5): DataFrame = {
    val tfRows = indexDirs.map(d =>
        spark.read.parquet(s"$d/tf").filter(col("docID") === srcDoc))
      .reduce(_ unionAll _)
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("tf"))
    if (tfRows.isEmpty) return frame(Nil)
    val dfs = lookupPerDir(tfRows.map(_._1).distinct.sorted).flatten
      .groupBy(_.term).map { case (tm, es) => tm -> es.map(_.df).sum }
    val n = stats.n
    val terms = tfRows
      .map { case (tm, tf) => (tm, QueryEngine.r4(tf * Bm25.idf(n, dfs(tm)))) }
      .sortBy { case (tm, s) => (-s, tm) }.take(t).map(_._1)
    topKImpl(terms.mkString(" "), k + 1, rounded = true, orMode = true)
      .filter(col("docID") =!= srcDoc)
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
  }

  /** Driver-contract frame over the fixed source-doc set: for each
    * source, (src, rank, docID, score) of its k most similar docs. */
  def moreLikeThisAll(k: Int = Bm25.K): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Bm25.MltSources.map { src =>
      moreLikeThis(src, k)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc))
            .cast("int"))
        .select(lit(src).as("src"), col("rank"), col("docID"), col("score"))
    }.reduce(_ unionAll _).orderBy(col("src"), col("rank"))
  }

  /** (term, df) over the whole index — the background document-frequency
    * frame from the index's OWN dictionary artifact (summed across
    * constituent indexes; their docID ranges are disjoint). This is the
    * corpus-df surface aggregations join against ([[SigTerms]]) without
    * ever re-tokenizing the corpus. */
  def dictionaryDf(): DataFrame =
    indexDirs.map(Index.readDictionary(spark, _).toDF())
      .reduce(_ unionAll _)
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"))

  /** Index metadata surface: ONE row
    * (n_docs, n_terms, n_postings, max_df, avgdl) — what a search
    * service's /stats endpoint reports, assembled from the index's own
    * artifacts (stats + dictionary tables; no corpus scan, no posting
    * decode). The oracle twin re-derives every value from the raw
    * corpus, so this entry cross-gates the index METADATA against
    * corpus truth. */
  def indexStats(): DataFrame = {
    val dict = indexDirs.map(Index.readDictionary(spark, _).toDF())
      .reduce(_ unionAll _)
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"))
      .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("n_postings"),
        max(col("df")).as("max_df"))
      .head()
    Seq((stats.n.toLong, dict.getLong(0), dict.getLong(1), dict.getLong(2),
      QueryEngine.r4(stats.avgdl)))
      .toDF("n_docs", "n_terms", "n_postings", "max_df", "avgdl")
  }

  /** Total-hits count for a query — the search service's "About N
    * results" aggregate. Never scores, never touches norms, never
    * materializes matches ([[QueryEngine.countRange]]). Driver-local
    * when the query's postings are resident; otherwise the zero-shuffle
    * scan path (AND: every match contains the task-local driver term,
    * so per-task counts partition cleanly; OR: tasks count within their
    * owned intervals from the driver range directory) — each task ships
    * ONE long; beyond the side-broadcast cap, the per-query segment
    * range shuffle. */
  def countMatches(qtext: String, orMode: Boolean = false): Long =
    countImpl(qtext, orMode, null)

  /** Faceted total-hits count: [[countMatches]] restricted to a prepared
    * [[Facet]] — the facet-navigation sidebar of a search service
    * ("lang:en (1,234)") computed per facet value with zero match
    * materialization. The facet must resolve to a broadcast gate (or its
    * negated complement); a facet too large for both caps has no bounded
    * count shape — compact the deny set or count via the score-all path. */
  def countMatchesFiltered(qtext: String, facet: Facet,
                           orMode: Boolean = false): Long = {
    require(facet.postFilter == null,
      "facet exceeds both gate caps — no bounded count gate exists")
    val gb = facet.gateBc
    val neg = facet.negate
    countImpl(qtext, orMode, () => QueryEngine.monotoneGate(gb.value, neg))
  }

  private def countImpl(qtext: String, orMode: Boolean,
                        gateF: () => (Long => Boolean)): Long = {
    def gate(): Long => Boolean = if (gateF == null) null else gateF()
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return 0L
    val perDir = lookupPerDir(terms)
    val combinedDf: Map[String, Long] =
      perDir.flatten.groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    if (!orMode && combinedDf.size < terms.size) return 0L
    if (combinedDf.isEmpty) return 0L
    val presentTerms = combinedDf.keys.toSeq.sorted
    val driverTerm = combinedDf.maxBy(_._2)._1
    // scan-path invariant: the task-local driver term LEADS the AND sweep
    val leaderFirst = (driverTerm +: presentTerms.filterNot(_ == driverTerm)).toArray
    val totalDf = combinedDf.values.sum
    val av = stats.avgdl
    if (localWandUpTo > 0 && totalDf <= math.max(localWandUpTo, localParallelCap)) {
      val byTerm = localSegsFor(presentTerms, perDir)
      // counts are additive over disjoint ranges
      return localShards(totalDf) { (lo, hi) =>
        QueryEngine.countRange(byTerm, leaderFirst, av, lo, hi, orMode, gate())
      }.sum
    }
    val sideDfSum = combinedDf.filter(_._1 != driverTerm).values.sum
    val om = orMode
    val lf = leaderFirst
    val dt = driverTerm
    if (sideDfSum <= broadcastPostingsUpTo) {
      val para = spark.sparkContext.defaultParallelism
      val sideBc = sideBroadcast(dt + "|" + presentTerms.mkString(",")) {
        indexDirs.zip(perDir).flatMap { case (dir, es) =>
          val se = es.filter(_.term != dt)
          if (se.isEmpty) Nil
          else segmentsOf(dir, se.map(_.term),
            se.map(_.bucket).distinct).coalesce(para).collect().toSeq
        }.groupBy(_.term).map { case (t, ss) => t -> ss.sortBy(_.minDoc).toArray }
      }
      val rangeDir: (Array[Long], Array[Long]) =
        if (om && presentTerms.length > 1) driverRangeDir(dt, perDir) else null
      val driverSegs = indexDirs.zip(perDir)
        .filter(_._2.exists(_.term == dt))
        .map { case (dir, es) =>
          segmentsOf(dir, Seq(dt), es.filter(_.term == dt).map(_.bucket).distinct)
        }
        .reduce(_ union _)
        .coalesce(para)
      val gf = gateF
      driverSegs.mapPartitions { it =>
        val mySegs = it.toArray
        if (mySegs.isEmpty) Iterator.single(0L)
        else {
          val byTerm = sideBc.value + (dt -> mySegs.sortBy(_.minDoc))
          if (rangeDir == null)
            Iterator.single(QueryEngine.countRange(
              byTerm, lf, av, 0L, Long.MaxValue, om,
              if (gf == null) null else gf()))
          else Iterator.single(
            QueryEngine.ownedIntervals(mySegs, rangeDir._1, rangeDir._2)
              .map { case (lo, hi) =>
                QueryEngine.countRange(byTerm, lf, av, lo, hi, om,
                  if (gf == null) null else gf()) }.sum)
        }
      }.reduce(_ + _)
    } else {
      // per-query segment shuffle — the honest fallback when the side
      // terms outgrow the broadcast budget
      val nr = math.max(1L, math.min(numRanges.toLong,
        totalDf / 100_000L + 1)).toInt
      val rs = math.max(1L, (stats.maxDoc + nr) / nr)
      val segs = indexDirs.zip(perDir)
        .filter(_._2.nonEmpty)
        .map { case (dir, es) =>
          segmentsOf(dir, es.map(_.term), es.map(_.bucket).distinct)
        }
        .reduce(_ union _)
      val gf = gateF
      segs.flatMap { s =>
        ((s.minDoc / rs).toInt to (s.maxDoc / rs).toInt)
          .map(r => RangedSeg(r, s))
      }.groupByKey(_.rangeId).mapGroups { (rid, it) =>
        val byTerm = it.map(_.seg).toArray.groupBy(_.term)
          .map { case (t, ss) => t -> ss.sortBy(_.minDoc) }
        val lo = rid.toLong * rs
        QueryEngine.countRange(byTerm, lf, av, lo, lo + rs, om,
          if (gf == null) null else gf())
      }.reduce(_ + _)
    }
  }

  /** Driver-contract frame over the fixed query set: (query, n_docs,
    * n_docs_or) — AND and OR total-hit counts per query. */
  def matchCountsAll(): DataFrame =
    Bm25.QuerySet.map { case (qid, q) =>
      (qid, countMatches(q), countMatches(q, orMode = true))
    }.toDF("query", "n_docs", "n_docs_or").orderBy(col("query"))

  /** Doc-values RANGE facet — the search-service `len:[lo TO hi]`
    * numeric filter: the allowed set comes from the index's OWN
    * docStats doc-values column, no corpus join (Lucene's points/
    * doc-values range query). Resolves through [[prepareFilter]], so it
    * composes with every gated surface (top-k, phrase, counts,
    * search-after) and inherits the gate/complement/postFilter cap
    * ladder. A deployment range-filtering a different numeric column
    * (recency, stars, size) wires it through this same shape. */
  def prepareLenRange(lo: Long, hi: Long): Facet = {
    require(lo <= hi, s"empty range: [$lo, $hi]")
    prepareFilter(allDocStats.filter(col("len").between(lo, hi))
      .select(col("docID")))
  }

  /** Doc-values KEYWORD facet — the search-service `field:value` filter
    * resolved from the index's OWN docvals artifact, no corpus access
    * (the Lucene keyword doc-values filter; the len twin is
    * [[prepareLenRange]]). The artifact is FIELD-partitioned and
    * (value, docID)-sorted within each field, so the field predicate
    * prunes whole directories, the value predicate prunes parquet row
    * groups and the gate ids arrive docID-sorted. Resolves through
    * [[prepareFilter]] — the full gate/complement/postFilter cap ladder
    * — so it composes with every gated surface. Every name in
    * [[Index.KeywordFields]] (`lang`, `repo`) is faceted by this one
    * resolver; a deployment faceting another keyword column (license,
    * mime) adds the name there and re-builds. */
  def prepareKeywordFacet(field: String, value: String): Facet =
    prepareFilter(keywordFacetDocs(field, value))

  /** The allowed-docID frame behind [[prepareKeywordFacet]] — exposed
    * for surfaces that resolve their own filter ladder (phrase facets). */
  def keywordFacetDocs(field: String, value: String): DataFrame = {
    require(Index.KeywordFields.contains(field),
      s"unknown keyword doc-values field: $field (have ${Index.KeywordFields.mkString(", ")})")
    indexDirs.map(d => Index.readDocVals(spark, d)).reduce(_ unionAll _)
      .filter(col("field") === field && col("value") === value)
      .select(col("docID"))
  }

  /** Distinct facet values of one keyword doc-values field, ascending —
    * the facet-navigation vocabulary, from the index's own artifact. */
  def facetValues(field: String): Seq[String] = {
    import spark.implicits._
    require(Index.KeywordFields.contains(field),
      s"unknown keyword doc-values field: $field")
    indexDirs.map(d => Index.readDocVals(spark, d)).reduce(_ unionAll _)
      .filter(col("field") === field)
      .select(col("value")).distinct().as[String].collect().sorted.toSeq
  }

  /** `lang` convenience wrappers over the per-field resolver. */
  def prepareLangFacet(lang: String): Facet = prepareKeywordFacet("lang", lang)
  def langFacetDocs(lang: String): DataFrame = keywordFacetDocs("lang", lang)
  def langFacetValues(): Seq[String] = facetValues("lang")

  /** Doc→length-bucket [[Groups]] for [[lenHistogram]]: bucket =
    * ⌊len/width⌋ over the index's own docStats doc-values column,
    * prepared ONCE and reused across queries (like a facet gate).
    * Subject to [[prepareGroups]]'s broadcast cap — the resident-kernel
    * histogram exists exactly while the doc→bucket map is
    * broadcastable; beyond it, [[lenHistogramRelational]] is the plan
    * of record. A deployment histogramming a different doc-values
    * column (recency, stars, size) wires it through this same shape. */
  def prepareLenGroups(width: Int): Groups = {
    require(width > 0, s"bucket width must be positive: $width")
    prepareGroups(allDocStats.select(col("docID"),
      floor(col("len") / width).cast("long").cast("string").as("grp")))
  }

  /** Histogram of matching docs by length bucket — the ES-style
    * `histogram` aggregation over the match set: (bucket, n_docs) for
    * every bucket with ≥1 match, bucket ascending. ONE postings sweep
    * counts ALL buckets ([[QueryEngine.countGroupsRange]]) — B buckets
    * do not cost B gated counts. Driver-local when the query's postings
    * are resident; sharded by docID range on the driver pool up to the
    * pooled ceiling (bucket counts over disjoint ranges add
    * elementwise). Queries beyond the resident caps take
    * [[lenHistogramRelational]] — identical by the path-identity spec. */
  def lenHistogram(qtext: String, groups: Groups,
                   orMode: Boolean = false): Seq[(Int, Long)] = {
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty || groups.names.isEmpty) return Nil
    val perDir = lookupPerDir(terms)
    val combinedDf: Map[String, Long] =
      perDir.flatten.groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    if (!orMode && combinedDf.size < terms.size) return Nil
    if (combinedDf.isEmpty) return Nil
    val presentTerms = combinedDf.keys.toSeq.sorted
    val driverTerm = combinedDf.maxBy(_._2)._1
    val leaderFirst = (driverTerm +: presentTerms.filterNot(_ == driverTerm)).toArray
    val totalDf = combinedDf.values.sum
    val av = stats.avgdl
    val nG = groups.names.size
    require(localWandUpTo > 0 &&
      totalDf <= math.max(localWandUpTo, localParallelCap),
      s"histogram kernel needs resident postings (total df $totalDf beyond " +
        "the pooled ceiling) — use lenHistogramRelational")
    val byTerm = localSegsFor(presentTerms, perDir)
    val counts: Array[Long] = localShards(totalDf) { (lo, hi) =>
      QueryEngine.countGroupsRange(byTerm, leaderFirst, av, lo, hi, orMode,
        QueryEngine.monotoneGroupCursor(groups.ids, groups.groups), nG)
    }.reduce { (a, b) =>
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    counts.zipWithIndex.collect { case (c, g) if c > 0 =>
      (groups.names(g).toInt, c) }.sortBy(_._1).toSeq
  }

  /** Relational twin of [[lenHistogram]] over the index's OWN artifacts
    * (stage-1 tf table term-pruned by parquet pushdown, docStats for the
    * doc-values column) — no corpus scan, no driver map, shuffles only
    * the match set. This is the 10^12-doc histogram shape: when the
    * doc→bucket map outgrows the gate broadcast cap or the query's
    * postings outgrow the resident ceiling, aggregation belongs to the
    * cluster, not a driver kernel. Identical output to the kernel path
    * by the path-identity spec. */
  def lenHistogramRelational(qtext: String, width: Int,
                             orMode: Boolean = false): DataFrame = {
    require(width > 0, s"bucket width must be positive: $width")
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return frame(Nil, BucketSchema)
    matchDocs(qtext, orMode)
      .join(allDocStats.select(col("docID"), col("len")), "docID")
      .groupBy(floor(col("len") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket"))
  }

  /** Driver-contract frame over the fixed AND query set: (query,
    * bucket, n_docs) — the per-length-bucket match histogram, zero
    * buckets omitted, bucket width [[Bm25.HistogramWidth]]. The bucket
    * groups are prepared once and every query reuses them. */
  def lenHistogramAll(width: Int = Bm25.HistogramWidth): DataFrame = {
    val groups = prepareLenGroups(width)
    Bm25.QuerySet.flatMap { case (qid, q) =>
      lenHistogram(q, groups).map { case (b, n) => (qid, b, n) }
    }.toDF("query", "bucket", "n_docs").orderBy(col("query"), col("bucket"))
  }

  /** Distributed match-set EXPORT — the ES scroll / point-in-time
    * export, and the bridge from retrieval to the training-data tier
    * ("all docs matching q" as a frame feeding a curation step): the
    * full AND/OR match set, no scoring, no top-k, entirely
    * artifact-side. The stage-1 tf scan is term-pruned by parquet
    * row-group pushdown; the match reduction is one partial-aggregable
    * groupBy; shuffle ∝ matching docs, the corpus is never read. The
    * relational aggregation fallbacks ([[lenHistogramRelational]],
    * [[lenRangesRelational]], [[lenPercentilesRelational]]) all build
    * on this frame. */
  def matchDocs(qtext: String, orMode: Boolean = false): DataFrame = {
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return frame(Nil, DocIDSchema)
    val tf = indexDirs.map(d => spark.read.parquet(s"$d/tf"))
      .reduce(_ unionAll _)
      .filter(col("term").isin(terms: _*))
    if (orMode) tf.select(col("docID")).distinct()
    else tf.groupBy(col("docID")).agg(count(lit(1)).as("nt"))
      .filter(col("nt") === terms.size).select(col("docID"))
  }

  /** Driver-contract frame over the fixed AND query set: (query,
    * docID) — every match of every query, docID-ordered per query. */
  def matchDocsAll(): DataFrame =
    Bm25.QuerySet.map { case (qid, q) =>
      matchDocs(q).select(lit(qid).as("query"), col("docID"))
    }.reduce(_ unionAll _).orderBy(col("query"), col("docID"))

  /** Doc→range [[Groups]] for the ES `range` AGGREGATION (custom bucket
    * boundaries, vs [[prepareLenGroups]]'s fixed width): ascending
    * `bounds` b0 < b1 < … define ranges [b0,b1), [b1,b2), …, [bLast,∞);
    * a doc with len < b0 belongs to NO range (the group cursor's −1 —
    * skipped by the counting kernel before it counts), the ES range-agg
    * contract. Group name = the range's lower bound; bounds must share
    * a digit count so [[prepareGroups]]'s lexicographic name sort is
    * numeric. Same broadcast-cap honesty budget as the histogram;
    * beyond it [[lenRangesRelational]] is the plan of record. */
  def prepareLenRangeGroups(bounds: Seq[Long]): Groups = {
    require(bounds.nonEmpty && bounds == bounds.sorted &&
      bounds.distinct.size == bounds.size, s"bounds must ascend: $bounds")
    require(bounds.map(_.toString.length).distinct.size == 1,
      s"bounds must share a digit count (name sort is lexicographic): $bounds")
    val desc = bounds.reverse
    val startCol = desc.tail.foldLeft(
      when(col("len") >= desc.head, lit(desc.head))) { (acc, b) =>
      acc.when(col("len") >= b, lit(b))
    }
    prepareGroups(allDocStats.filter(col("len") >= bounds.head)
      .select(col("docID"), startCol.cast("string").as("grp")))
  }

  /** Relational twin of the range aggregation over the index's OWN
    * artifacts (as [[lenHistogramRelational]]) — the 10^12-doc shape:
    * term-pruned tf match set joined to docStats, grouped by the
    * containing range's lower bound; docs below b0 drop out. */
  def lenRangesRelational(qtext: String, bounds: Seq[Long],
                          orMode: Boolean = false): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted, s"bad bounds: $bounds")
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return frame(Nil, RangeSchema)
    val matches = matchDocs(qtext, orMode)
    val desc = bounds.reverse
    val startCol = desc.tail.foldLeft(
      when(col("len") >= desc.head, lit(desc.head))) { (acc, b) =>
      acc.when(col("len") >= b, lit(b))
    }
    matches
      .join(allDocStats.select(col("docID"), col("len")), "docID")
      .filter(col("len") >= bounds.head)
      .groupBy(startCol.cast("long").as("lo"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lo"))
  }

  /** Driver-contract frame over the fixed AND query set: (query, lo,
    * n_docs) — the ES `range` aggregation of each match set over the
    * len doc-values column at the [[Bm25.RangeBounds]] boundaries.
    * Rides [[lenHistogram]]'s grouped-counting kernel unchanged (ONE
    * sweep counts all ranges; pooled shards add elementwise); the
    * range groups are prepared once and every query reuses them. */
  def lenRangesAll(bounds: Seq[Long] = Bm25.RangeBounds): DataFrame = {
    val groups = prepareLenRangeGroups(bounds)
    Bm25.QuerySet.flatMap { case (qid, q) =>
      lenHistogram(q, groups).map { case (b, n) => (qid, b.toLong, n) }
    }.toDF("query", "lo", "n_docs").orderBy(col("query"), col("lo"))
  }

  /** EXACT length percentiles of a query's match set — the ES
    * `percentiles` aggregation over a doc-values column, computed
    * nearest-rank (the len at sorted position ceil(p·cnt); IEEE
    * double product on both engines, so the twin lands on the same
    * rank). NO global sort: the match set reduces to its VALUE
    * DISTRIBUTION (one groupBy(len) — output bounded by the doc-values
    * domain cardinality, ~90 distinct lengths here, never the match
    * count) and the rank is resolved by a driver-side cumulative walk
    * of that tiny frame. A naive row_number window over the match set
    * would single-partition corpus-sized matches (the pack_sequences
    * lesson); this shape shuffles only (len, count) rows. */
  def lenPercentilesRelational(qtext: String,
                               ps: Seq[Double] = QueryEngine.PercentileSet,
                               orMode: Boolean = false): Seq[(Double, Long)] = {
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return Nil
    val dist = matchDocs(qtext, orMode)
      .join(allDocStats.select(col("docID"), col("len")), "docID")
      .groupBy(col("len")).agg(count(lit(1)).as("c"))
      .orderBy(col("len"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cnt = dist.iterator.map(_._2).sum
    if (cnt == 0) return Nil
    ps.map { p =>
      val r = math.max(1L, math.ceil(p * cnt).toLong)
      var cum = 0L
      var ans = dist.last._1
      var i = 0
      var found = false
      while (i < dist.length && !found) {
        cum += dist(i)._2
        if (cum >= r) { ans = dist(i)._1; found = true }
        i += 1
      }
      (p, ans)
    }
  }

  /** Driver-contract frame over the fixed AND query set: (query, p,
    * len) — exact nearest-rank length percentiles of each match set;
    * a query with no matches contributes no rows. */
  def lenPercentilesAll(): DataFrame =
    Bm25.QuerySet.flatMap { case (qid, q) =>
      lenPercentilesRelational(q).map { case (p, l) => (qid, p, l) }
    }.toDF("query", "p", "len").orderBy(col("query"), col("p"))

  /** EXACT percentile RANKS — the inverse of [[lenPercentilesRelational]]
    * (the ES `percentile_ranks` aggregation): for each probe value v,
    * the fraction of the match set with len ≤ v, round4. Same scale
    * shape as the percentiles: the match set reduces to its VALUE
    * DISTRIBUTION (one groupBy(len), output bounded by the doc-values
    * domain) and a driver-side walk resolves each probe — no global
    * sort, no corpus scan. FP parity is trivial: an exact-integer
    * count divided by an exact-integer total, rounded identically. */
  def lenPercentileRanks(qtext: String,
                         values: Seq[Long] = QueryEngine.PercentileRankValues,
                         orMode: Boolean = false): Seq[(Long, Double)] = {
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return Nil
    val dist = matchDocs(qtext, orMode)
      .join(allDocStats.select(col("docID"), col("len")), "docID")
      .groupBy(col("len")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cnt = dist.iterator.map(_._2).sum
    if (cnt == 0) return Nil
    values.map { v =>
      val below = dist.iterator.filter(_._1 <= v).map(_._2).sum
      v -> QueryEngine.r4(below.toDouble / cnt)
    }
  }

  /** Driver-contract frame over the fixed AND query set: (query,
    * value, frac) — percentile ranks of each match set at the fixed
    * probe values; a query with no matches contributes no rows. */
  def lenPercentileRanksAll(): DataFrame =
    Bm25.QuerySet.flatMap { case (qid, q) =>
      lenPercentileRanks(q).map { case (v, f) => (qid, v, f) }
    }.toDF("query", "value", "frac").orderBy(col("query"), col("value"))

  /** Match-set stats bundle — the ES `stats` + `cardinality`
    * aggregations over the doc-values columns: per fixed AND query,
    * (n_docs, n_langs, min_len, max_len, avg_len) where n_langs is the
    * exact distinct count of the keyword doc-values column and avg_len
    * = round4(Σlen / n). Entirely artifact-side (term-pruned tf +
    * docstats + docvals) — the corpus is never read; every aggregate
    * is an integer min/max/sum or an exact distinct over the tiny
    * keyword domain, so cross-engine FP parity is trivial (one final
    * division). A query with no matches contributes no row. */
  def matchStatsAll(): DataFrame = {
    val docvals = indexDirs.map(d => Index.readDocVals(spark, d))
      .reduce(_ unionAll _)
      .filter(col("field") === "lang")
      .select(col("docID"), col("value").as("lang"))
    Bm25.QuerySet.flatMap { case (qid, q) =>
      val row = matchDocs(q)
        .join(allDocStats.select(col("docID"), col("len")), "docID")
        .join(docvals, "docID")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("len")).as("min_len"),
          max(col("len")).as("max_len"),
          round(sum(col("len")).cast("double") / count(lit(1)), 4)
            .as("avg_len"))
        .collect()(0)
      if (row.getLong(0) == 0L) Nil
      else Seq((qid, row.getLong(0), row.getLong(1), row.getLong(2),
        row.getLong(3), row.getDouble(4)))
    }.toDF("query", "n_docs", "n_langs", "min_len", "max_len", "avg_len")
      .orderBy(col("query"))
  }

  /** Sort-by-field retrieval — the search-service "sort by a doc-values
    * column, not by relevance" mode: the k docs matching ALL query terms
    * ordered by document LENGTH descending (docID ascending tie-break).
    * `len` is the doc-values column the index already materializes as
    * norms, so the field lookup rides the same resident/broadcast array
    * relevance scoring uses; a deployment sorting by recency would wire
    * its timestamp column through the identical shape. Physical paths
    * mirror [[countMatches]]: driver-local / pooled when the postings
    * are resident, the zero-shuffle broadcast scan otherwise, and the
    * per-query segment shuffle (with cogrouped norms beyond the
    * broadcast cap) as the 10^12-doc fallback ([[QueryEngine.sortedRange]]
    * explains why no early termination exists without a field-sorted
    * index). */
  def topKSortedByLen(qtext: String, k: Int = Bm25.K): DataFrame = {
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return frame(Nil, LenSchema)
    val perDir = lookupPerDir(terms)
    val combinedDf: Map[String, Long] =
      perDir.flatten.groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    if (combinedDf.size < terms.size) return frame(Nil, LenSchema) // AND: missing term → ∅
    val presentTerms = combinedDf.keys.toSeq.sorted
    val driverTerm = combinedDf.maxBy(_._2)._1
    val leaderFirst = (driverTerm +: presentTerms.filterNot(_ == driverTerm)).toArray
    val totalDf = combinedDf.values.sum
    val av = stats.avgdl
    val kk = k

    // driver-local / pooled fast path (postings + norms resident)
    if (normsBc.isDefined && localWandUpTo > 0 &&
        totalDf <= math.max(localWandUpTo, localParallelCap)) {
      val byTerm = localSegsFor(presentTerms, perDir)
      val norms = normsBc.get.value
      val hits = localShards(totalDf) { (lo, hi) =>
        QueryEngine.sortedRange(byTerm, leaderFirst, av, lo, hi, kk, norms.cursor())
      }.flatten
      return frame(hits.sortBy(h => (-h._2, h._1)).take(k)
        .map { case (d, l) => Row(d, l) }, LenSchema)
    }

    val sideDfSum = combinedDf.filter(_._1 != driverTerm).values.sum
    val lf = leaderFirst
    val dt = driverTerm
    val local: org.apache.spark.sql.Dataset[(Long, Long)] =
    if (normsBc.isDefined && sideDfSum <= broadcastPostingsUpTo) {
      // zero-shuffle scan path: driver-term segments scanned distributed,
      // side terms broadcast; AND matches always contain the driver term,
      // so per-task results partition cleanly across disjoint segments
      val bc = normsBc.get
      val para = spark.sparkContext.defaultParallelism
      val sideBc = sideBroadcast(dt + "|" + presentTerms.mkString(",")) {
        indexDirs.zip(perDir).flatMap { case (dir, es) =>
          val se = es.filter(_.term != dt)
          if (se.isEmpty) Nil
          else segmentsOf(dir, se.map(_.term),
            se.map(_.bucket).distinct).coalesce(para).collect().toSeq
        }.groupBy(_.term).map { case (t, ss) => t -> ss.sortBy(_.minDoc).toArray }
      }
      val driverSegs = indexDirs.zip(perDir)
        .filter(_._2.exists(_.term == dt))
        .map { case (dir, es) =>
          segmentsOf(dir, Seq(dt), es.filter(_.term == dt).map(_.bucket).distinct)
        }
        .reduce(_ union _)
        .coalesce(para)
      driverSegs.mapPartitions { it =>
        val mySegs = it.toArray
        if (mySegs.isEmpty) Iterator.empty
        else {
          val byTerm = sideBc.value + (dt -> mySegs.sortBy(_.minDoc))
          QueryEngine.sortedRange(byTerm, lf, av,
            0L, Long.MaxValue, kk, bc.value.cursor()).iterator
        }
      }
    } else {
      // per-query segment shuffle; norms broadcast when available,
      // cogrouped per docID range beyond the cap (the 10^12-doc shape)
      val nr = math.max(1L, math.min(numRanges.toLong,
        totalDf / 100_000L + 1)).toInt
      val rs = math.max(1L, (stats.maxDoc + nr) / nr)
      val segs = indexDirs.zip(perDir)
        .filter(_._2.nonEmpty)
        .map { case (dir, es) =>
          segmentsOf(dir, es.map(_.term), es.map(_.bucket).distinct)
        }
        .reduce(_ union _)
      val ranged = segs.flatMap { s =>
        ((s.minDoc / rs).toInt to (s.maxDoc / rs).toInt)
          .map(r => RangedSeg(r, s))
      }
      normsBc match {
        case Some(bc) =>
          ranged.groupByKey(_.rangeId).flatMapGroups { (rid, it) =>
            val byTerm = it.map(_.seg).toArray.groupBy(_.term)
              .map { case (t, ss) => t -> ss.sortBy(_.minDoc) }
            val lo = rid.toLong * rs
            QueryEngine.sortedRange(byTerm, lf, av,
              lo, lo + rs, kk, bc.value.cursor()).iterator
          }
        case None =>
          val normsByRange = allDocStats
            .groupByKey(d => (d.docID / rs).toInt)
          ranged.groupByKey(_.rangeId).cogroup(normsByRange) { (rid, segIt, dsIt) =>
            val byTerm = segIt.map(_.seg).toArray.groupBy(_.term)
              .map { case (t, ss) => t -> ss.sortBy(_.minDoc) }
            if (byTerm.isEmpty) Iterator.empty
            else {
              val norms = dsIt.map(d => d.docID -> d.len).toMap
              val lo = rid.toLong * rs
              QueryEngine.sortedRange(byTerm, lf, av,
                lo, lo + rs, kk, norms.apply).iterator
            }
          }
      }
    }
    local.toDF("docID", "len")
      .orderBy(col("len").desc, col("docID").asc)
      .limit(k)
  }

  /** Driver-contract frame over the fixed query set: (query, rank,
    * docID, len) — per query, the k matching docs longest-first.
    * Column-identical to the DuckDB twin ([[Bm25.oracleSqlSortedTopK]]). */
  def sortedAll(k: Int = Bm25.K): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Bm25.QuerySet.map { case (qid, q) =>
      topKSortedByLen(q, k)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("len").desc, col("docID").asc))
            .cast("int"))
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("len"))
    }.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Top-k (docID, score) for a query string; AND semantics; empty
    * result if any term is absent (or the query has no terms). Score is
    * exact in exact mode, rounded to 4 decimals in rounded mode; order
    * (score desc, docID asc) on the mode's score. */
  def topK(qtext: String, k: Int = Bm25.K, rounded: Boolean = false): DataFrame =
    topKImpl(qtext, k, rounded, orMode = false)

  /** Disjunctive variant: docs matching ANY query term, scored over the
    * terms they contain ([[QueryEngine.wandOrRange]]). */
  def topKOr(qtext: String, k: Int = Bm25.K, rounded: Boolean = false): DataFrame =
    topKImpl(qtext, k, rounded, orMode = true)

  /** Minimum-should-match retrieval — the Lucene `minimum_should_match`
    * contract: disjunctive scoring over the terms a doc contains, but
    * only docs matching at least `m` DISTINCT query terms qualify.
    * m = 1 is plain OR; m = |terms| ranks exactly like AND (absent-term
    * contributions are an exact +0.0). The floor gates candidates at
    * the aligned pivot inside the disjunctive WAND kernel — msm matches
    * ⊆ OR matches, so all pruning bounds stay admissible — and rides
    * every physical path (driver-local, pooled, scan, range) unchanged. */
  def topKMsm(qtext: String, m: Int, k: Int = Bm25.K,
              rounded: Boolean = false): DataFrame = {
    require(m >= 1, s"minimum-should-match must be >= 1, got $m")
    topKImpl(qtext, k, rounded, orMode = true, msm = m)
  }

  /** Driver-contract frame over [[Bm25.MsmQuerySet]] (query, rank,
    * docID, score) — column-identical to [[Bm25.oracleTopKMsm]] and its
    * DuckDB SQL twin. */
  def topKAllMsm(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.MsmQuerySet.map { case (qid, qtext, m) =>
      qid -> topKImpl(qtext, k, rounded = true, orMode = true, msm = m)
    })

  /** Search-after pagination: the k results ranked strictly AFTER the
    * cursor `(afterScore, afterDoc)` in (score desc, docID asc) order —
    * the deep-paging contract of a search service. The cursor is the
    * last row of the previous page; the client holds it, the engine
    * never re-materializes earlier pages. The gate applies INSIDE the
    * WAND kernels at heap insertion (post-score, pre-heap), so every
    * physical path (driver-local, pooled, distributed scan / range)
    * pages identically — and, at scale, each range task still ships only
    * k rows per page instead of the page·k rows a take-then-slice plan
    * would (the reason search_after exists). In rounded mode the cursor
    * compares on its 4-decimal rounding, matching the heap key, so a
    * page boundary splitting a rounded-score tie is resolved by the
    * docID tie-break exactly as the global ranking would. */
  def topKAfter(qtext: String, k: Int, afterScore: Double, afterDoc: Long,
                rounded: Boolean = false, orMode: Boolean = false): DataFrame =
    topKImpl(qtext, k, rounded, orMode,
      afterScore = afterScore, afterDoc = afterDoc)

  /** Boolean-NOT retrieval: query pieces prefixed `-` are negated —
    * `"hash join -window"` ranks docs containing hash AND join but NOT
    * window. Scoring is plain BM25 over the positive terms (exclusion
    * never contributes to the score, so ranks among survivors equal the
    * plain-AND ranks — the SQL `NOT IN` twin). Negation rides
    * anti-posting iterators in the kernel gate
    * ([[QueryEngine.negatedGate]]): no global deny-set materialization,
    * all three physical paths (driver-local, pooled, distributed scan /
    * range) apply it identically. A term both positive and negated
    * yields ∅ by construction. */
  def topKNot(qtext: String, k: Int = Bm25.K, rounded: Boolean = false,
              afterScore: Double = Double.NaN, afterDoc: Long = 0L): DataFrame = {
    val (pos, neg) = Analyzer.signedTerms(qtext)
    topKImpl(pos.mkString(" "), k, rounded, orMode = false, negTerms = neg,
      afterScore = afterScore, afterDoc = afterDoc)
  }

  /** Disjunctive twin of [[topKNot]]: OR over the positive terms, docs
    * containing any negated term excluded. */
  def topKOrNot(qtext: String, k: Int = Bm25.K, rounded: Boolean = false): DataFrame = {
    val (pos, neg) = Analyzer.signedTerms(qtext)
    topKImpl(pos.mkString(" "), k, rounded, orMode = true, negTerms = neg)
  }

  /** Driver-contract shape over the fixed NOT query set
    * ([[Bm25.NotQuerySet]]): (query, rank, docID, score), rounded. */
  def topKAllNot(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.NotQuerySet.map { case (qid, q) =>
      val (pos, neg) = Analyzer.signedTerms(q)
      qid -> topKImpl(pos.mkString(" "), k, rounded = true, orMode = false,
        negTerms = neg)
    })

  /** Exact-phrase variant: docs containing the query tokens at
    * consecutive positions, BM25-scored over the distinct terms.
    * Requires an index built with storePositions=true. */
  def topKPhrase(qtext: String, k: Int = Bm25.K, rounded: Boolean = false): DataFrame =
    topKImpl(qtext, k, rounded, orMode = false, phraseMode = true)

  /** Proximity retrieval: docs containing ALL query terms within some
    * window of `w` consecutive tokens, BM25-scored over the distinct
    * terms (window matches ⊆ AND matches, so ranks among survivors equal
    * the plain-AND ranks — the SQL sliding-window twin). Requires an
    * index built with storePositions=true. All three physical paths
    * (driver-local, pooled, distributed) apply the same
    * [[QueryEngine.windowMatch]] gate inside the kernel. */
  def topKWindow(qtext: String, w: Int, k: Int = Bm25.K,
                 rounded: Boolean = false): DataFrame = {
    require(w >= 1, s"window width must be >= 1, got $w")
    topKImpl(qtext, k, rounded, orMode = false, windowW = w)
  }

  /** Driver-contract frame over the fixed WINDOW query set
    * ([[Bm25.WindowQuerySet]]): (query, rank, docID, score), rounded. */
  def topKAllWindow(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.WindowQuerySet.map { case (qid, qtext, w) =>
      qid -> topKImpl(qtext, k, rounded = true, orMode = false, windowW = w)
    })

  /** Faceted exact-phrase retrieval: [[topKPhrase]] restricted to
    * `allowedDocs`, same corpus-global scoring and filter-shape
    * resolution as [[topKFiltered]] (the WAND gate applies BEFORE the
    * positional phrase check — cheaper test first, same exactness). */
  def topKPhraseFiltered(qtext: String, allowedDocs: DataFrame,
                         k: Int = Bm25.K, rounded: Boolean = false): DataFrame =
    topKPhraseFiltered(qtext, prepareFilter(allowedDocs), k, rounded)

  /** Faceted phrase top-k against a prepared [[Facet]] handle. */
  def topKPhraseFiltered(qtext: String, facet: Facet, k: Int,
                         rounded: Boolean): DataFrame =
    topKImpl(qtext, k, rounded, orMode = false, phraseMode = true,
      gateBc = facet.gateBc, gateNegate = facet.negate,
      postFilter = facet.postFilter)

  /** Unified query-string front door — ONE raw search-box string, parsed
    * by [[graft.functions.Analyzer.parseSearch]] into the engine's
    * composable retrieval modes:
    *
    *   `search("""merge "table hash" -slow""")`
    *
    * ranks docs containing merge ∧ table ∧ hash, with `table hash`
    * adjacent, and without slow — BM25-scored over ALL positive distinct
    * terms (phrase tokens included), so quoted adjacency and `-negation`
    * are pure GATES and ranks among survivors equal the plain-AND ranks
    * (the SQL twin: HAVING all terms + one adjacency subquery per phrase
    * + NOT IN). Multiple quoted phrases compose conjunctively inside the
    * same WAND kernel pass; phrases require a positional index.
    *
    * Dispatch rules: a `piece*` (prefix), `piece~` (fuzzy), `*piece*`
    * (wildcard) or `/piece/` (regexp) marker must be the whole query —
    * their OR-over-expansion semantics don't compose with AND gates
    * ([[topKPrefix]]/[[topKFuzzy]]/[[topKWildcard]]/[[topKRegex]] are
    * the targets). `orMode` applies only to phrase-free queries (phrases
    * imply AND). Only-negative or empty queries return ∅.
    *
    * A `field:value` piece (e.g. `lang:en`) becomes a facet gate inside
    * the same kernel pass — scoring stats stay corpus-global, exactly
    * [[topKFiltered]]'s contract. The index stores postings, not doc
    * metadata, so resolving a field value to its docID set is the
    * CALLER's job via `fieldFacet` (at corpus scale that resolver is a
    * doc-metadata index; the [[Facet]] handle's content-keyed broadcast
    * LRU makes repeated field queries reship nothing). One positive
    * field piece per query in this version. */
  def search(qtext: String, k: Int = Bm25.K, rounded: Boolean = false,
             orMode: Boolean = false,
             fieldFacet: (String, String) => Facet = null): DataFrame = {
    val p = Analyzer.parseSearch(qtext)
    val facet: Facet =
      if (p.fields.isEmpty) null
      else {
        require(fieldFacet != null,
          s"query has field piece(s) ${p.fields.mkString(", ")} but no fieldFacet resolver")
        require(p.fields.size == 1,
          "at most one field:value piece per query in this version")
        fieldFacet(p.fields.head._1, p.fields.head._2)
      }
    if (p.prefixes.nonEmpty || p.fuzzies.nonEmpty || p.wildcards.nonEmpty ||
        p.regexes.nonEmpty) {
      require(p.prefixes.size + p.fuzzies.size + p.wildcards.size +
        p.regexes.size == 1 &&
        p.pos.isEmpty && p.neg.isEmpty && p.phrases.isEmpty && facet == null,
        "a prefix* / fuzzy~ / *wildcard* / /regex/ piece must be the only piece of the query")
      if (p.prefixes.nonEmpty) topKPrefix(p.prefixes.head, k, rounded)
      else if (p.wildcards.nonEmpty) topKWildcard(p.wildcards.head, k, rounded)
      else if (p.regexes.nonEmpty) topKRegex(p.regexes.head, k, rounded)
      else topKFuzzy(p.fuzzies.head, k, rounded)
    } else if (p.phrases.isEmpty) {
      if (facet == null)
        topKImpl(p.pos.mkString(" "), k, rounded, orMode, negTerms = p.neg,
          boosts = p.boosts)
      else
        topKImpl(p.pos.mkString(" "), k, rounded, orMode, negTerms = p.neg,
          gateBc = facet.gateBc, gateNegate = facet.negate,
          postFilter = facet.postFilter, boosts = p.boosts)
    } else {
      require(!orMode, "quoted phrases imply AND semantics (orMode unsupported)")
      if (facet == null)
        topKImpl(p.pos.mkString(" "), k, rounded, orMode = false,
          negTerms = p.neg, phraseSeqs = p.phrases.map(_.toArray).toArray,
          boosts = p.boosts)
      else
        topKImpl(p.pos.mkString(" "), k, rounded, orMode = false,
          negTerms = p.neg, phraseSeqs = p.phrases.map(_.toArray).toArray,
          gateBc = facet.gateBc, gateNegate = facet.negate,
          postFilter = facet.postFilter, boosts = p.boosts)
    }
  }

  /** Driver-contract frame over the fixed mixed search-box query set
    * ([[Bm25.MixedQuerySet]]): (query, rank, docID, score), rounded. */
  def searchAll(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.MixedQuerySet.map { case (qid, q) =>
      qid -> search(q, k, rounded = true)
    })

  /** Driver-contract frame over the fixed field-faceted search-box set
    * ([[Bm25.FieldQuerySet]]), resolving `field:value` pieces through
    * the caller-supplied facet resolver. */
  def searchFieldAll(fieldFacet: (String, String) => Facet,
                     k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.FieldQuerySet.map { case (qid, q) =>
      qid -> search(q, k, rounded = true, fieldFacet = fieldFacet)
    })

  /** Driver-contract frame over the fixed boosted search-box set
    * ([[Bm25.BoostQuerySet]] — `term^w` weighted queries). */
  def searchBoostedAll(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.BoostQuerySet.map { case (qid, q) =>
      qid -> search(q, k, rounded = true)
    })

  private def topKImpl(qtext: String, k: Int, rounded: Boolean,
                       orMode: Boolean, phraseMode: Boolean = false,
                       // >0: proximity gate — all query terms within some
                       // window of this many consecutive tokens
                       windowW: Int = 0,
                       // sorted allowed (or, negated, DISALLOWED) docIDs
                       // — the broadcast filter gate (topKFiltered)
                       gateBc: org.apache.spark.broadcast.Broadcast[Array[Long]] = null,
                       gateNegate: Boolean = false,
                       // beyond-both-caps fallback: score ALL matches
                       // (kernel k = ∞, no driver-local path), then
                       // semi-join this docID frame before the global
                       // top-k — exact, distributed, never over-fetches
                       postFilter: DataFrame = null,
                       // NOT terms: docs containing ANY of these are
                       // excluded via anti-posting iterators in the
                       // kernel gate ([[QueryEngine.negatedGate]])
                       negTerms: Seq[String] = Nil,
                       // search-after cursor (pagination): exclude docs
                       // ranked at-or-before (afterScore, afterDoc) in
                       // (score desc, docID asc) order. NaN = none. In
                       // rounded mode the cursor score is compared on its
                       // 4-decimal rounding, matching the heap key.
                       afterScore: Double = Double.NaN,
                       afterDoc: Long = 0L,
                       // explicit phrase gates (unified search): each
                       // entry is one quoted phrase's token sequence,
                       // ALL must match; every gate term must appear in
                       // qtext (the scoring term set). Overrides the
                       // phraseMode/windowW-derived gate.
                       phraseSeqs: Array[Array[String]] = null,
                       // per-term query-time weights (`term^w`); absent
                       // terms weigh 1.0 — bit-exact with the unboosted
                       // path (outer multiply, see [[TermCtx]])
                       boosts: Map[String, Double] = Map.empty,
                       // minimum-should-match floor (OR mode only):
                       // docs matching fewer than msm distinct query
                       // terms are not scored. 1 = plain OR
                       msm: Int = 1): DataFrame = {
    val terms = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return frame(Nil)
    val posGates: Array[Array[String]] =
      if (phraseSeqs != null) phraseSeqs
      else if (phraseMode) Array(Analyzer.tokenize(qtext).toArray)
      else if (windowW > 0) Array(terms.toArray)
      else null
    val perDir = lookupPerDir(terms)
    // negated terms absent from the dictionary exclude nothing — drop
    // them here so every downstream path sees only real posting lists
    val negPerDir =
      if (negTerms.isEmpty) perDir.map(_ => Seq.empty[DictEntry])
      else lookupPerDir(negTerms.distinct.sorted)
    val negPresent: Array[String] =
      negPerDir.flatten.map(_.term).distinct.sorted.toArray
    val negDfSum = negPerDir.flatten.map(_.df).sum
    // per-dir union of scoring + anti entries (deduped by term for the
    // both-signs case, where the same posting list serves both roles)
    val perDirAll = perDir.zip(negPerDir).map { case (a, b) =>
      (a ++ b.filterNot(e => a.exists(_.term == e.term)))
    }
    // exact combined df: sum of per-index dfs (docID ranges are disjoint)
    val combinedDf: Map[String, Long] =
      perDir.flatten.groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    if (!orMode && combinedDf.size < terms.size) return frame(Nil) // AND: missing term → ∅
    if (combinedDf.isEmpty) return frame(Nil)
    // msm: fewer dictionary-present terms than the floor → ∅ (no doc
    // can match msm distinct terms the corpus doesn't contain)
    if (orMode && combinedDf.size < msm) return frame(Nil)

    val n = stats.n
    val avgdl = stats.avgdl
    val termCtx = combinedDf.toSeq
      .map { case (t, df) =>
        TermCtx(t, df, Bm25.idf(n, df), boosts.getOrElse(t, 1.0)) }
      .sortBy(_.term).toArray
    // shard the docID space ∝ posting volume (~100k postings per task,
    // capped at numRanges): a rare-term query runs in one task with no
    // fan-out, a stop-word query spreads across the cluster
    val ranges = math.max(1L,
      math.min(numRanges.toLong,
        (combinedDf.values.sum + negDfSum) / 100_000L + 1)).toInt
    val rs = math.max(1L, (stats.maxDoc + ranges) / ranges)
    // postFilter mode disables per-range top-k pruning: a range's
    // filtered survivors may all rank below its unfiltered top k
    val kk = if (postFilter != null) Int.MaxValue else k
    val rnd = rounded
    // gate FACTORY, not gate: the monotone-cursor gate is stateful, so
    // the kernel factory constructs a fresh one per range invocation
    val gateF: () => (Long => Boolean) = if (gateBc == null) null else {
      val gb = gateBc
      val neg = gateNegate
      () => QueryEngine.monotoneGate(gb.value, neg)
    }
    val afterKey =
      if (rounded && !afterScore.isNaN) QueryEngine.r4(afterScore)
      else afterScore
    val wandFn: (Map[String, Array[PostingSegment]], Array[TermCtx],
      Long => Long, Double, Long, Long, Int, Boolean) => Seq[ScoredDoc] =
      QueryEngine.kernel(posGates, windowW, orMode, gateF, negPresent,
        afterKey, afterDoc, msm)

    // ---- driver-local fast path -------------------------------------
    // All of the query's postings fit the driver cache and norms are
    // resident → run the WAND kernel here: zero jobs, zero scheduling
    // latency. The top k become `Row`s under the fixed (docID, score)
    // schema ([[frame]]), so the returned plan is a bare LocalRelation
    // with no encoder built and a collect() that stays on the driver.
    // Identical kernel + identical final (rounded-score desc, docID asc)
    // ordering as the distributed paths, so results are rank-identical
    // by construction (asserted in IndexQuerySpec across all three
    // paths). Works for AND, OR and phrase (all terms are co-located on
    // the driver).
    val totalDf = combinedDf.values.sum + negDfSum
    if (postFilter == null && normsBc.isDefined && localWandUpTo > 0 &&
        totalDf <= math.max(localWandUpTo, localParallelCap)) {
      val byTerm =
        localSegsFor((termCtx.map(_.term) ++ negPresent.toSeq).distinct, perDirAll)
      val norms = normsBc.get.value
      // pooled ranges mirror the distributed range path (disjoint ranges,
      // per-range top-k, one global merge): rank identity by construction
      val hits = localShards(totalDf) { (lo, hi) =>
        wandFn(byTerm, termCtx, norms.cursor(), avgdl, lo, hi, k, rounded)
      }.flatten
      val ordered =
        (if (rounded) hits.map(h => ScoredDoc(h.docID, r4(h.score))) else hits)
          .sortBy(h => (-h.score, h.docID)).take(k)
      return frame(ordered.map(h => Row(h.docID, h.score)))
    }

    // ---- physical path selection ------------------------------------
    // SCAN path (default): zero per-query shuffle. The highest-df
    // ("driver") term is scanned distributed straight off the
    // partition/row-group-pruned postings table; every other query
    // term's compressed segments are collected (they are the RARER
    // terms — bounded by broadcastPostingsUpTo total postings) and
    // broadcast. Each scan task runs WAND over its driver segments'
    // docID ranges; ranges are disjoint across tasks, so the union of
    // per-task top-k feeds one global TakeOrderedAndProject.
    // Precondition: broadcast norms available.
    //
    // OR mode (multi-term) rides the SAME scan (VERDICT r3 #5 — it used
    // to fall back to the per-query segment shuffle): disjunction must
    // also score docs that DON'T contain the driver term, so docID-range
    // ownership can't stay implicit in the driver postings. Each task
    // instead derives explicit owned intervals from the GLOBAL range
    // directory of the driver term's segments ([[driverRangeDir]] —
    // per-term metadata, cached across queries): the owner of global
    // segment i owns (maxDoc(i−1), maxDoc(i)]; the owner of segment 0
    // also owns [0, minDoc(0)) and the owner of the last also owns
    // (maxDoc(last), ∞). Segment ranges are pairwise disjoint (build
    // invariant), so the intervals tile the docID space exactly once
    // across tasks and the union of per-interval top-k stays a correct
    // global candidate set.
    //
    // RANGE path (fallback; also the 10^12-scale plan for norm tables
    // that outgrow broadcast): shard the docID space, shuffle segments
    // (and, beyond the norms cap, cogroup norms) to range tasks.
    val driverTerm = termCtx.maxBy(_.df).term
    // anti segments of negated terms travel exactly like scoring side
    // segments (broadcast on the scan path, shuffled on the range path),
    // so they count against the same broadcast budget — except a term
    // that is ALSO the driver, whose segments already ride the scan
    val sideDfSum = termCtx.filter(_.term != driverTerm).map(_.df).sum +
      negPerDir.flatten.filter(_.term != driverTerm).map(_.df).sum
    val scanPath = normsBc.isDefined && sideDfSum <= broadcastPostingsUpTo

    val local: org.apache.spark.sql.Dataset[ScoredDoc] =
    if (scanPath) {
      val bc = normsBc.get
      val para = spark.sparkContext.defaultParallelism
      val sideBc = sideBroadcast(driverTerm + "|" + terms.sorted.mkString(",") +
          (if (negPresent.isEmpty) "" else "|!" + negPresent.mkString(","))) {
        indexDirs.zip(perDirAll).flatMap { case (dir, es) =>
          val se = es.filter(_.term != driverTerm)
          if (se.isEmpty) Nil
          else segmentsOf(dir, se.map(_.term),
            se.map(_.bucket).distinct).coalesce(para).collect().toSeq
        }.groupBy(_.term).map { case (t, ss) => t -> ss.sortBy(_.minDoc).toArray }
      }
      // global driver-segment range directory — OR multi-term only (AND
      // matches always contain the driver term, so ownership is implicit)
      val rangeDir: (Array[Long], Array[Long]) =
        if (orMode && termCtx.length > 1) driverRangeDir(driverTerm, perDir)
        else null
      // coalesce: the pruned read otherwise yields one micro-task per
      // index file — scheduling dominates at interactive latency
      val driverSegs = indexDirs.zip(perDir)
        .filter(_._2.exists(_.term == driverTerm))
        .map { case (dir, es) =>
          segmentsOf(dir, Seq(driverTerm),
            es.filter(_.term == driverTerm).map(_.bucket).distinct)
        }
        .reduce(_ union _)
        .coalesce(para)
      val tc = termCtx
      val dt = driverTerm
      val av = avgdl
      val wf = wandFn
      driverSegs.mapPartitions { it =>
        val mySegs = it.toArray
        if (mySegs.isEmpty) Iterator.empty
        else {
          val byTerm = sideBc.value + (dt -> mySegs.sortBy(_.minDoc))
          val norms = bc.value
          if (rangeDir == null)
            wf(byTerm, tc, norms.cursor(), av, 0L, Long.MaxValue, kk, rnd).iterator
          else
            QueryEngine.ownedIntervals(mySegs, rangeDir._1, rangeDir._2)
              .iterator.flatMap { case (lo, hi) =>
                wf(byTerm, tc, norms.cursor(), av, lo, hi, kk, rnd) }
        }
      }
    } else {
      val segs = indexDirs.zip(perDirAll)
        .filter(_._2.nonEmpty)
        .map { case (dir, es) =>
          segmentsOf(dir, es.map(_.term), es.map(_.bucket).distinct)
        }
        .reduce(_ union _)
      val ranged = segs.flatMap { s =>
        val loR = (s.minDoc / rs).toInt
        val hiR = (s.maxDoc / rs).toInt
        (loR to hiR).map(r => RangedSeg(r, s))
      }

      normsBc match {
        case Some(bc) =>
          ranged.groupByKey(_.rangeId).flatMapGroups { (rid, it) =>
            val byTerm = it.map(_.seg).toArray.groupBy(_.term)
              .map { case (t, ss) => t -> ss.sortBy(_.minDoc) }
            val lo = rid.toLong * rs
            val norms = bc.value
            wandFn(byTerm, termCtx, norms.cursor(), avgdl, lo, lo + rs, kk, rnd)
              .iterator
          }
        case None =>
          val normsByRange = allDocStats
            .groupByKey(d => (d.docID / rs).toInt)
          ranged.groupByKey(_.rangeId).cogroup(normsByRange) { (rid, segIt, dsIt) =>
            val byTerm = segIt.map(_.seg).toArray.groupBy(_.term)
              .map { case (t, ss) => t -> ss.sortBy(_.minDoc) }
            if (byTerm.isEmpty) Iterator.empty
            else {
              val norms = dsIt.map(d => d.docID -> d.len).toMap
              val lo = rid.toLong * rs
              wandFn(byTerm, termCtx, norms.apply, avgdl, lo, lo + rs, kk, rnd)
                .iterator
            }
          }
      }
    }

    val gated =
      if (postFilter == null) local.toDF()
      else local.toDF().join(
        postFilter.select(col("docID").cast("long").as("docID")).distinct(),
        Seq("docID"), "left_semi")
    if (rounded)
      gated
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docID").asc)
        .limit(k)
    else
      gated
        .orderBy(col("score").desc, col("docID").asc)
        .limit(k)
  }

  /** Driver-contract shape over the whole fixed query set:
    * (query, rank, docID, score) with rounded ranking — column-identical
    * to Bm25.oracleTopK / its DuckDB SQL twin. */
  def topKAll(k: Int = Bm25.K, orMode: Boolean = false): DataFrame =
    topKAllOver(Bm25.QuerySet, k, orMode)

  /** [[topKAll]] over an arbitrary fixed query set — the fielded (BM25F)
    * entry runs [[Bm25.FieldedQuerySet]] through the same kernels
    * against its fielded index. */
  def topKAllOver(querySet: Seq[(String, String)], k: Int = Bm25.K,
                  orMode: Boolean = false): DataFrame =
    contractFrame(querySet.map { case (qid, qtext) =>
      qid -> topKImpl(qtext, k, rounded = true, orMode = orMode)
    })

  /** Synonym-group retrieval (Lucene SynonymQuery semantics): `a|b`
    * pieces score as ONE pseudo-term — tf summed across members,
    * df = max member df — AND-composed with the query's other pieces.
    * Member postings merge at query prep into synthetic block-max
    * segments ([[QueryEngine.mergeGroupSegments]]), so the ordinary
    * conjunctive kernel runs unchanged and a pipe-free query is
    * IDENTICAL to [[topK]] (singleton group ≡ plain term; spec-pinned).
    * Paths: driver-local / pooled below the caps (each pooled shard
    * merges its own docID slice), the distributed range path beyond
    * them (each range task merges its slice — member postings ship to
    * range tasks exactly like plain terms, no driver materialization). */
  def topKSyn(qtext: String, k: Int = Bm25.K,
              rounded: Boolean = true): DataFrame = {
    val groups = Analyzer.synGroups(qtext)
    if (groups.isEmpty) return frame(Nil)
    val memberTerms = groups.flatten.distinct.sorted
    val perDir = lookupPerDir(memberTerms)
    val combinedDf: Map[String, Long] =
      perDir.flatten.groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    // (name, present members, dfG, merge volume); a fully absent group
    // is an unmatchable conjunct → ∅
    val resolved: Seq[(String, Array[String], Long, Long)] = groups.map { g =>
      val present = g.filter(combinedDf.contains)
      if (present.isEmpty) return frame(Nil)
      (g.mkString("|"), present.toArray,
        present.map(combinedDf).max, present.map(combinedDf).sum)
    }
    val n = stats.n
    val avgdl = stats.avgdl
    val termCtx = resolved
      .map { case (nm, _, dfG, _) => TermCtx(nm, dfG, Bm25.idf(n, dfG)) }
      .sortBy(_.term).toArray
    val wandFn = QueryEngine.kernel(null, 0, orMode = false,
      null, Array.empty[String])
    val totalDf = resolved.map(_._4).sum
    val specs = resolved.map { case (nm, ms, dfG, _) => (nm, ms, dfG) }

    // ---- driver-local / pooled path (same caps as topKImpl) ----------
    if (normsBc.isDefined && localWandUpTo > 0 &&
        totalDf <= math.max(localWandUpTo, localParallelCap)) {
      val byReal = localSegsFor(memberTerms, perDir)
      val norms = normsBc.get.value
      val hits = localShards(totalDf) { (lo, hi) =>
        wandFn(QueryEngine.mergeAllGroups(specs, byReal, norms.cursor(), avgdl, lo, hi),
          termCtx, norms.cursor(), avgdl, lo, hi, k, rounded)
      }.flatten
      val ordered =
        (if (rounded) hits.map(h => ScoredDoc(h.docID, QueryEngine.r4(h.score)))
         else hits)
          .sortBy(h => (-h.score, h.docID)).take(k)
      return frame(ordered.map(h => Row(h.docID, h.score)))
    }

    val tc = termCtx
    val av = avgdl
    val wf = wandFn
    val sp = specs
    val rnd = rounded

    // ---- distributed SCAN path (zero per-query Exchange) -------------
    // Mirrors the multi-term OR scan path (VERDICT r3 #5): the highest-
    // df MEMBER is the driver; every other member's segments broadcast
    // (shared cache key with plain queries — side segments are by TERM,
    // so a synonym query warms the same entries); each task derives its
    // owned docID intervals from the driver member's global range
    // directory (gap coverage included — an AND match may contain the
    // driver GROUP only via a non-driver member, exactly OR's problem)
    // and merges each group's members WITHIN the interval before the
    // ordinary conjunctive kernel.
    val driverTerm = combinedDf.maxBy(_._2)._1
    val sideDfSum = totalDf - combinedDf(driverTerm)
    if (normsBc.isDefined && sideDfSum <= broadcastPostingsUpTo) {
      val bc = normsBc.get
      val para = spark.sparkContext.defaultParallelism
      val sideBc = sideBroadcast(
          driverTerm + "|" + memberTerms.sorted.mkString(",")) {
        indexDirs.zip(perDir).flatMap { case (dir, es) =>
          val se = es.filter(_.term != driverTerm)
          if (se.isEmpty) Nil
          else segmentsOf(dir, se.map(_.term),
            se.map(_.bucket).distinct).coalesce(para).collect().toSeq
        }.groupBy(_.term).map { case (t, ss) => t -> ss.sortBy(_.minDoc).toArray }
      }
      val rangeDir = driverRangeDir(driverTerm, perDir)
      val driverSegs = indexDirs.zip(perDir)
        .filter(_._2.exists(_.term == driverTerm))
        .map { case (dir, es) =>
          segmentsOf(dir, Seq(driverTerm),
            es.filter(_.term == driverTerm).map(_.bucket).distinct)
        }
        .reduce(_ union _)
        .coalesce(para)
      val dt = driverTerm
      val local = driverSegs.mapPartitions { it =>
        val mySegs = it.toArray
        if (mySegs.isEmpty) Iterator.empty
        else {
          val byReal = sideBc.value + (dt -> mySegs.sortBy(_.minDoc))
          val norms = bc.value
          QueryEngine.ownedIntervals(mySegs, rangeDir._1, rangeDir._2)
            .iterator.flatMap { case (lo, hi) =>
              wf(QueryEngine.mergeAllGroups(sp, byReal, norms.cursor(), av, lo, hi),
                tc, norms.cursor(), av, lo, hi, k, rnd)
            }
        }
      }
      return finishTopK(local, k, rounded)
    }

    // ---- distributed range path (fallback beyond the broadcast cap) --
    val ranges = math.max(1L, math.min(numRanges.toLong,
      totalDf / 100_000L + 1)).toInt
    val rs = math.max(1L, (stats.maxDoc + ranges) / ranges)
    val segs = indexDirs.zip(perDir)
      .filter(_._2.nonEmpty)
      .map { case (dir, es) =>
        segmentsOf(dir, es.map(_.term), es.map(_.bucket).distinct)
      }
      .reduce(_ union _)
    val ranged = segs.flatMap { s =>
      val loR = (s.minDoc / rs).toInt
      val hiR = (s.maxDoc / rs).toInt
      (loR to hiR).map(r => RangedSeg(r, s))
    }
    val local: org.apache.spark.sql.Dataset[ScoredDoc] = normsBc match {
      case Some(bc) =>
        ranged.groupByKey(_.rangeId).flatMapGroups { (rid, it) =>
          val byReal = it.map(_.seg).toArray.groupBy(_.term)
            .map { case (t, ss) => t -> ss.sortBy(_.minDoc) }
          val lo = rid.toLong * rs
          val norms = bc.value
          wf(QueryEngine.mergeAllGroups(sp, byReal, norms.cursor(), av, lo, lo + rs),
            tc, norms.cursor(), av, lo, lo + rs, k, rnd).iterator
        }
      case None =>
        val normsByRange = allDocStats.groupByKey(d => (d.docID / rs).toInt)
        ranged.groupByKey(_.rangeId).cogroup(normsByRange) { (rid, segIt, dsIt) =>
          val segArr = segIt.map(_.seg).toArray
          if (segArr.isEmpty) Iterator.empty
          else {
            val byReal = segArr.groupBy(_.term)
              .map { case (t, ss) => t -> ss.sortBy(_.minDoc) }
            val norms = dsIt.map(d => d.docID -> d.len).toMap
            val lo = rid.toLong * rs
            wf(QueryEngine.mergeAllGroups(sp, byReal, norms.apply, av, lo, lo + rs),
              tc, norms.apply, av, lo, lo + rs, k, rnd).iterator
          }
        }
    }
    finishTopK(local, k, rounded)
  }

  /** Global rounded top-k over a per-range candidate Dataset — the
    * shared tail of the synonym physical paths. */
  private def finishTopK(local: org.apache.spark.sql.Dataset[ScoredDoc],
                         k: Int, rounded: Boolean): DataFrame =
    if (rounded)
      local.toDF()
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docID").asc)
        .limit(k)
    else
      local.toDF()
        .orderBy(col("score").desc, col("docID").asc)
        .limit(k)

  /** Driver-contract frame over the fixed SYNONYM query set. */
  def topKAllSyn(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.SynQuerySet.map { case (qid, qtext) =>
      qid -> topKSyn(qtext, k)
    })

  /** Driver-contract frame for PAGE 2 of the fixed query set: for each
    * query, page 1 (top k) supplies the cursor — its k-th (score, docID)
    * — and [[topKAfter]] retrieves the next k. Ranks are GLOBAL
    * (k+1 .. 2k). A query with fewer than k page-1 results has no page 2
    * (∅ — nothing ranks after a short page 1 by definition). */
  def topKAllPage2(k: Int = Bm25.K): DataFrame = {
    contractFrame(Bm25.QuerySet.map { case (qid, qtext) =>
      val page1 = topKImpl(qtext, k, rounded = true, orMode = false)
        .collect().sortBy(r => (-r.getDouble(1), r.getLong(0)))
      if (page1.length < k) qid -> frame(Nil)
      else {
        val last = page1.last
        qid -> topKImpl(qtext, k, rounded = true, orMode = false,
          afterScore = last.getDouble(1), afterDoc = last.getLong(0))
      }
    }, rankOffset = k)
  }

  /** Driver-contract frame over the fixed PHRASE query set. */
  def topKAllPhrase(k: Int = Bm25.K): DataFrame =
    contractFrame(Bm25.PhraseQuerySet.map { case (qid, qtext) =>
      qid -> topKImpl(qtext, k, rounded = true, orMode = false, phraseMode = true)
    })

  /** Driver-contract frame over the fixed query set, every query
    * restricted to `allowedDocs`. The filter resolves ONCE (one gate
    * broadcast shared by all queries), not per query. */
  def topKAllFiltered(allowedDocs: DataFrame, k: Int = Bm25.K,
                      orMode: Boolean = false): DataFrame = {
    val (g, neg, post) = resolveFilter(allowedDocs)
    contractFrame(Bm25.QuerySet.map { case (qid, qtext) =>
      qid -> topKImpl(qtext, k, rounded = true, orMode = orMode,
        gateBc = g, gateNegate = neg, postFilter = post)
    })
  }

  /** [[topKAllFiltered]] against a prepared [[Facet]] handle (e.g. the
    * deny facet of [[prepareDeny]]) — no per-call filter resolve. */
  def topKAllFiltered(facet: Facet, k: Int, orMode: Boolean): DataFrame =
    contractFrame(Bm25.QuerySet.map { case (qid, qtext) =>
      qid -> topKImpl(qtext, k, rounded = true, orMode = orMode,
        gateBc = facet.gateBc, gateNegate = facet.negate,
        postFilter = facet.postFilter)
    })

  /** Faceted twin of [[topKAllPhrase]]: the fixed PHRASE query set, every
    * query restricted to `allowedDocs`; one filter resolve for the set. */
  def topKAllPhraseFiltered(allowedDocs: DataFrame, k: Int = Bm25.K): DataFrame = {
    val (g, neg, post) = resolveFilter(allowedDocs)
    contractFrame(Bm25.PhraseQuerySet.map { case (qid, qtext) =>
      qid -> topKImpl(qtext, k, rounded = true, orMode = false,
        phraseMode = true, gateBc = g, gateNegate = neg, postFilter = post)
    })
  }

  private def contractFrame(perQuery: Seq[(String, DataFrame)],
                            // pagination: report GLOBAL ranks (page 2 of
                            // a k-deep ranking ranks k+1 .. 2k)
                            rankOffset: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    perQuery.map { case (qid, df) =>
      df.withColumn("rank",
          (row_number().over(Window.orderBy(col("score").desc, col("docID").asc))
            + lit(rankOffset)).cast("int"))
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }
}
