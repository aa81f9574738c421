package graft

import graft.functions.Codec
import graft.operators.{Bm25, Index, LinkGraph, QueryEngine, Rescore}
import graft.operators.Index._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.reflect.io.Directory

/** End-to-end gate for M1/M2: the indexed engine must be rank-identical
  * to the brute-force DataFrame oracle (north rule; SURVEY.md §5.2.3).
  * Built with aggressive salting/segmenting params so the skew paths are
  * exercised even on the 500-doc corpus. */
class IndexQuerySpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  private val sfDir = SparkFixture.Sf0001
  private val indexDir = "target/test-index-sf0001"
  // df>50 → salted in 64-doc chunks; segments ≤128 postings; tiny buckets
  private val params = BuildParams(numBuckets = 8, saltThreshold = 50,
    saltChunk = 64, segmentSize = 128, partitions = 4)

  private lazy val built: Unit = {
    new Directory(new java.io.File(indexDir)).deleteRecursively()
    Index.build(spark, sfDir, indexDir, params)
  }
  private lazy val engine: QueryEngine = { built; new QueryEngine(spark, Seq(indexDir)) }

  private def collectTopK(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select(col("docID").cast("long"), col("score").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("rank-identity: indexed WAND == brute-force oracle (exact scores, every query)") {
    built
    for ((qid, qtext) <- Bm25.QuerySet) {
      val oracle = collectTopK(Bm25.oracleTopKExact(spark, sfDir, qtext))
      val indexed = collectTopK(engine.topK(qtext, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid '$qtext': docID ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
    }
  }

  test("rounded driver-contract output matches M0 oracle frame") {
    built
    val oracle = Bm25.oracleTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAll().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("cogroup (non-broadcast norms) path is identical") {
    built
    val cg = new QueryEngine(spark, Seq(indexDir), broadcastNormsUpTo = 0L)
    for ((_, qtext) <- Bm25.QuerySet.take(4)) {
      assert(collectTopK(cg.topK(qtext)) == collectTopK(engine.topK(qtext)))
    }
  }

  test("range-shuffle path identical to the default scan path (AND + OR)") {
    built
    // broadcastPostingsUpTo = -1 forces the range path even for
    // single-term queries (sideDfSum = 0); localWandUpTo = 0 keeps the
    // driver-local fast path from short-circuiting it
    val rangePath = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((_, qtext) <- Bm25.QuerySet) {
      assert(collectTopK(rangePath.topK(qtext)) == collectTopK(engine.topK(qtext)),
        s"AND '$qtext'")
      assert(collectTopK(rangePath.topKOr(qtext)) == collectTopK(engine.topKOr(qtext)),
        s"OR '$qtext'")
    }
  }

  test("driver-local fast path: identical to scan and range paths; no job launched") {
    built
    // default engine at this scale IS the fast path (tiny dfs); compare
    // against an engine with it disabled (distributed scan path)
    val dist = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    for ((_, qtext) <- Bm25.QuerySet) {
      assert(collectTopK(engine.topK(qtext)) == collectTopK(dist.topK(qtext)),
        s"AND '$qtext'")
      assert(collectTopK(engine.topKOr(qtext)) == collectTopK(dist.topKOr(qtext)),
        s"OR '$qtext'")
    }
    // the fast path must not launch a job once its term cache is warm:
    // collect() on the returned LocalRelation stays driver-side
    engine.topK("hash join", rounded = true).collect() // warm the cache
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val out = engine.topK("hash join", rounded = true).collect()
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(out.nonEmpty)
    assert(after == before, s"fast path launched ${after - before} job(s)")
  }

  test("driver-local result frames: distributed schema, bare LocalRelation, no job") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // every driver-built frame (fast-path results and empty results) has
    // the schema of the same call on the distributed path, names, types
    // and nullability, and is planned as a bare LocalRelation. Top-k
    // calls run unrounded: the distributed rounded tail's round() makes
    // its score column nullable, which no driver-built frame ever was.
    posEngine // force the positional build
    val dist = new QueryEngine(spark, Seq(posDir), localWandUpTo = 0L)
    val lang = Corpus.docs(spark, sfDir).select(col("docID"), col("lang").as("grp"))
    val calls: Seq[(String, QueryEngine => DataFrame)] = Seq(
      "AND" -> (_.search("hash join")),
      "OR" -> (_.search("hash join", orMode = true)),
      "phrase" -> (_.search("\"table hash\"")),
      "NOT" -> (_.search("hash join -window")),
      "grouped" -> (e => e.searchGroupedTopK("hash join", e.prepareGroups(lang))),
      "synonym" -> (_.topKSyn("hash|join table", rounded = false)),
      "absent term" -> (_.search("zzzzunknown")),
      "only negative" -> (_.search("-window")))
    val sc = spark.sparkContext
    for ((name, call) <- calls) {
      assert(call(posEngine).schema == call(dist).schema, s"$name: schema differs")
      call(posEngine).collect() // warm the segment cache
      val df = call(posEngine)
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"$name: plan is not a bare LocalRelation:\n${df.queryExecution.analyzed}")
      val before = sc.statusTracker.getJobIdsForGroup(null).length
      df.collect()
      val after = sc.statusTracker.getJobIdsForGroup(null).length
      assert(after == before, s"$name: collect launched ${after - before} job(s)")
    }
    // the grouped frame is driver-built on every path: pin its encoder schema
    import spark.implicits._
    assert(posEngine.searchGroupedTopK("hash join", posEngine.prepareGroups(lang)).schema ==
      Seq.empty[(String, Int, Long, Double)].toDF("grp", "rank", "docID", "score").schema)
    dist.close()
  }

  test("pooled driver-local path: identical to serial local + distributed; no job launched") {
    built
    // Force the POOLED branch: serial threshold 1 posting with an
    // explicit pooled ceiling → every fixture query's total df lands in
    // (1, 1M], so the kernel runs sharded on the 8-thread pool. Phrase
    // needs positions, so AND/OR only here (phrase parity is covered on
    // the positional index).
    val pooled = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 1L, localWandThreads = 8,
      localWandParallelUpTo = 1_000_000L)
    val dist = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    for ((_, qtext) <- Bm25.QuerySet) {
      assert(collectTopK(pooled.topK(qtext)) == collectTopK(dist.topK(qtext)),
        s"AND '$qtext'")
      assert(collectTopK(pooled.topKOr(qtext)) == collectTopK(dist.topKOr(qtext)),
        s"OR '$qtext'")
    }
    pooled.topK("hash join", rounded = true).collect() // warm the term cache
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val out = pooled.topK("hash join", rounded = true).collect()
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(out.nonEmpty)
    assert(after == before, s"pooled path launched ${after - before} job(s)")
    pooled.close(); dist.close()
  }

  test("search-after: page 2 == rows k+1..2k of a 2k-deep ranking, all paths, AND + OR") {
    built
    val dist = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    val range = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((qid, qtext) <- Bm25.QuerySet; orMode <- Seq(false, true);
         rounded <- Seq(false, true)) {
      def run(e: QueryEngine) = {
        val top20 = collectTopK(
          if (orMode) e.topKOr(qtext, 20, rounded) else e.topK(qtext, 20, rounded))
          .sortBy(t => (-t._2, t._1))
        if (top20.length < 10) Seq.empty -> Seq.empty
        else {
          val (cDoc, cScore) = top20(9)
          val page2 = collectTopK(
            e.topKAfter(qtext, 10, cScore, cDoc, rounded, orMode))
            .sortBy(t => (-t._2, t._1))
          top20.drop(10) -> page2
        }
      }
      for (e <- Seq(engine, dist, range)) {
        val (expected, page2) = run(e)
        assert(page2 == expected,
          s"$qid '$qtext' or=$orMode rounded=$rounded:\n want=$expected\n got =$page2")
      }
    }
    // short result set (absent term): no page 2 by definition
    assert(engine.topKAfter("zzzzunknown", 10, 1.0, 0L).collect().isEmpty)
    dist.close(); range.close()
  }

  test("search-after composes with the facet gate and boolean-NOT") {
    built
    // faceted paging: page 2 of a lang-gated ranking == slice of its top-20
    val allowed = Corpus.docs(spark, sfDir)
      .filter(col("lang") === "en").select(col("docID"))
    val facet = engine.prepareFilter(allowed)
    val ftop20 = collectTopK(
      engine.topKFiltered("hash join", facet, 20, rounded = true, orMode = false))
      .sortBy(t => (-t._2, t._1))
    assert(ftop20.length >= 12, "fixture: need a deep faceted result set")
    val (fd, fs) = ftop20(9)
    val fpage2 = collectTopK(engine.topKFilteredAfter("hash join", facet, 10,
      afterScore = fs, afterDoc = fd, rounded = true))
      .sortBy(t => (-t._2, t._1))
    assert(fpage2 == ftop20.drop(10).take(10))
    // NOT paging: page 2 of an exclusion query == slice of its top-20
    val ntop20 = collectTopK(engine.topKNot("table -the", 20, rounded = true))
      .sortBy(t => (-t._2, t._1))
    if (ntop20.length >= 11) {
      val (nd, ns) = ntop20(9)
      val npage2 = collectTopK(engine.topKNot("table -the", 10,
        rounded = true, afterScore = ns, afterDoc = nd))
        .sortBy(t => (-t._2, t._1))
      assert(npage2 == ntop20.drop(10).take(10))
    } else fail("fixture: NOT query needs >10 results to exercise paging")
  }

  test("search-after contract frame: global ranks k+1..2k, matches oracle slice") {
    built
    val oracle20 = Bm25.oracleTopK(spark, sfDir, k = 20).collect()
      .map(_.toSeq).toSeq.filter(r => r(1).asInstanceOf[Int] > 10)
    val page2 = engine.topKAllPage2().collect().map(_.toSeq).toSeq
    assert(page2 == oracle20)
  }

  test("OR multi-term scan path: zero per-query Exchange, identical to range path") {
    built
    // VERDICT r3 #5: multi-term OR used to force the per-query segment
    // shuffle. It now rides the scan path with explicit docID-range
    // ownership from the driver term's global range directory.
    val scan = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    val range = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((_, qtext) <- Bm25.QuerySet ++ Seq(
        ("qx1", "hash join window"), ("qx2", "window zzzzunknown"))) {
      assert(collectTopK(scan.topKOr(qtext)) == collectTopK(range.topKOr(qtext)),
        s"OR '$qtext'")
    }
    // plan shape: pruned postings scan → WAND mapPartitions → single
    // TakeOrderedAndProject; NO Exchange anywhere in a 2-term OR query
    val plan = scan.topKOr("hash join").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"multi-term OR scan path must not shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    scan.close(); range.close()
  }

  test("ownedIntervals: tasks tile the docID space exactly once") {
    built
    import spark.implicits._
    // global directory of a salted (multi-segment) term from the real
    // index; any partitioning of its segments must tile [0, ∞) once
    val segs = spark.read.parquet(s"$indexDir/postings")
      .select(col("term"), col("minDoc"), col("maxDoc"))
      .as[(String, Long, Long)].collect()
    val (term, ss) = segs.groupBy(_._1).maxBy(_._2.length)
    assert(ss.length >= 3, s"need a multi-segment term, best was $term")
    val sorted = ss.sortBy(_._2)
    val mins = sorted.map(_._2)
    val maxs = sorted.map(_._3)
    def fakeSeg(min: Long): Index.PostingSegment =
      Index.PostingSegment(term, 0, 0L, min, min, 1,
        Array.emptyByteArray, Array.emptyByteArray, Array(min), Array(1L),
        Array(1L), Array(0), Array(0), Array.emptyByteArray, Array.empty[Int])
    // split the segments across 3 "tasks" in an interleaved pattern
    val tasks = sorted.indices.groupBy(_ % 3).values.toSeq
      .map(_.map(i => fakeSeg(mins(i))).toArray)
    val intervals = tasks.flatMap(t => QueryEngine.ownedIntervals(t, mins, maxs))
      .sortBy(_._1)
    assert(intervals.head._1 == 0L)
    assert(intervals.last._2 == Long.MaxValue)
    intervals.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 == b._1, s"gap or overlap between $a and $b")
      case _ =>
    }
  }

  test("OR mode: rank-identity vs exact disjunctive oracle (every query)") {
    built
    for ((qid, qtext) <- Bm25.QuerySet if qtext != "zzzzunknown") {
      val oracle = collectTopK(Bm25.oracleTopKOrExact(spark, sfDir, qtext))
      val indexed = collectTopK(engine.topKOr(qtext, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid '$qtext': OR docID ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
    }
  }

  test("OR mode: rounded driver-contract frame matches brute-force OR oracle") {
    built
    val oracle = Bm25.oracleTopKOr(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAll(orMode = true).collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("NOT mode: rounded driver-contract frame matches brute-force NOT oracle") {
    built
    val oracle = Bm25.oracleTopKNot(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAllNot().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("NOT mode: path identity (driver-local == pooled == range shuffle), AND + OR") {
    built
    val pooled = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 1L, localWandThreads = 8,
      localWandParallelUpTo = 1_000_000L)
    val range = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((qid, qtext) <- Bm25.NotQuerySet) {
      val local = collectTopK(engine.topKNot(qtext))
      assert(collectTopK(pooled.topKNot(qtext)) == local, s"$qid pooled AND-NOT")
      assert(collectTopK(range.topKNot(qtext)) == local, s"$qid range AND-NOT")
      val localOr = collectTopK(engine.topKOrNot(qtext))
      assert(collectTopK(pooled.topKOrNot(qtext)) == localOr, s"$qid pooled OR-NOT")
      assert(collectTopK(range.topKOrNot(qtext)) == localOr, s"$qid range OR-NOT")
    }
  }

  test("OR-NOT: identical to exhaustive disjunctive oracle minus excluded docs") {
    built
    import spark.implicits._
    val tf = Bm25.termFreq(Corpus.docs(spark, sfDir))
    for (qtext <- Seq("hash join -window", "table -the", "the -table")) {
      val (pos, neg) = graft.functions.Analyzer.signedTerms(qtext)
      val negDocs = tf.filter(col("term").isin(neg: _*))
        .select("docID").as[Long].collect().toSet
      // exhaustive: k beyond corpus size, exclude, re-take 10 — exact
      // exclusion-before-top-k semantics
      val brute = collectTopK(
          Bm25.oracleTopKOrExact(spark, sfDir, pos.mkString(" "), k = 1_000_000))
        .filterNot(h => negDocs(h._1)).take(10)
      val indexed = collectTopK(engine.topKOrNot(qtext))
      assert(indexed.map(_._1) == brute.map(_._1),
        s"'$qtext': docID ranking differs\n brute=$brute\n indexed=$indexed")
      brute.zip(indexed).foreach { case ((d, bs), (_, is)) =>
        assert(math.abs(bs - is) < 1e-9, s"'$qtext' doc $d: brute=$bs indexed=$is")
      }
    }
  }

  test("NOT mode: absent negated term is a no-op; self-negation is empty") {
    built
    assert(collectTopK(engine.topKNot("batch -zzzzunknown")) ==
           collectTopK(engine.topK("batch")))
    assert(engine.topKNot("window -window").count() == 0)
    assert(engine.topKOrNot("window -window").count() == 0)
    // pure negation (no positive terms) is ∅, not "everything minus"
    assert(engine.topKNot("-window").count() == 0)
  }

  test("OR mode: single-term queries coincide with AND; all-absent query is empty") {
    built
    for (q <- Seq("window", "batch", "the"))
      assert(collectTopK(engine.topKOr(q)) == collectTopK(engine.topK(q)))
    assert(engine.topKOr("zzzzunknown").count() == 0)
    // mixed present/absent: OR degrades to the present term, AND is empty
    assert(collectTopK(engine.topKOr("window zzzzunknown")) ==
      collectTopK(engine.topK("window")))
  }

  test("sorted: driver-contract frame matches brute oracle; path identity") {
    built
    // contract frame == brute-force construction (len desc, docID asc)
    val oracle = Bm25.oracleSortedTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.sortedAll().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
    // result set = the AND match set's k longest docs (vs raw tf + lens)
    import spark.implicits._
    val tf = Bm25.termFreq(Corpus.docs(spark, sfDir))
    val lens = Bm25.docLengths(tf).as[(Long, Long)].collect().toMap
    val terms = graft.functions.Analyzer.queryTerms("hash join")
    val expect = tf.filter(col("term").isin(terms: _*))
      .groupBy(col("docID")).count().filter(col("count") === terms.size)
      .select("docID").as[Long].collect()
      .map(d => (d, lens(d))).sortBy(h => (-h._2, h._1)).take(10).toSeq
    val got = engine.topKSortedByLen("hash join")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
    // path identity: driver-local == pooled == scan == range shuffle
    val pooled = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 1L, localWandThreads = 8,
      localWandParallelUpTo = 1_000_000L)
    val scan = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    val range = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((qid, qtext) <- Bm25.QuerySet) {
      val local = engine.topKSortedByLen(qtext)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      for ((nm, eng2) <- Seq(("pooled", pooled), ("scan", scan), ("range", range))) {
        val got2 = eng2.topKSortedByLen(qtext)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got2 == local, s"$qid $nm sorted path differs")
      }
    }
  }

  test("MSM: rounded driver-contract frame matches brute-force MSM oracle") {
    built
    val oracle = Bm25.oracleTopKMsm(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAllMsm().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("MSM: m=1 ≡ OR, m=|terms| ≡ AND, unreachable floor ∅, path identity") {
    built
    // m = 1 degenerates to plain OR (the aligned pivot always matches ≥ 1)
    for (q <- Seq("hash join", "table scan merge", "spark query"))
      assert(collectTopK(engine.topKMsm(q, 1)) == collectTopK(engine.topKOr(q)))
    // m = |terms| scores exactly like AND: only all-term docs qualify and
    // their disjunctive sum (absent +0.0) is the conjunctive sum verbatim
    for (q <- Seq("hash join", "table scan merge")) {
      val n = graft.functions.Analyzer.queryTerms(q).size
      assert(collectTopK(engine.topKMsm(q, n)) == collectTopK(engine.topK(q)),
        s"'$q' m=$n vs AND")
    }
    // floor above the dictionary-present term count → ∅
    assert(engine.topKMsm("zzzzunknown window", 2).count() == 0)
    // every returned doc really matches ≥ m distinct terms (vs raw tf)
    import spark.implicits._
    val tf = Bm25.termFreq(Corpus.docs(spark, sfDir))
    val terms = graft.functions.Analyzer.queryTerms("table scan merge")
    val matchedBy = tf.filter(col("term").isin(terms: _*))
      .groupBy(col("docID")).count()
      .filter(col("count") >= 2).select("docID").as[Long].collect().toSet
    val got = collectTopK(engine.topKMsm("table scan merge", 2))
    assert(got.nonEmpty && got.forall(h => matchedBy(h._1)))
    // path identity: driver-local == pooled == range shuffle on all fixtures
    val pooled = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 1L, localWandThreads = 8,
      localWandParallelUpTo = 1_000_000L)
    val range = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((qid, qtext, m) <- Bm25.MsmQuerySet) {
      val local = collectTopK(engine.topKMsm(qtext, m))
      assert(collectTopK(pooled.topKMsm(qtext, m)) == local, s"$qid pooled")
      assert(collectTopK(range.topKMsm(qtext, m)) == local, s"$qid range")
    }
  }

  private val posDir = "target/test-index-pos-sf0001"
  private lazy val posEngine: QueryEngine = {
    new Directory(new java.io.File(posDir)).deleteRecursively()
    Index.build(spark, sfDir, posDir,
      BuildParams(numBuckets = 8, saltThreshold = 50, saltChunk = 64,
        segmentSize = 128, partitions = 4, storePositions = true))
    new QueryEngine(spark, Seq(posDir))
  }

  test("phrase: rank-identity vs exact phrase oracle (every phrase query)") {
    for ((qid, qtext) <- Bm25.PhraseQuerySet) {
      val oracle = collectTopK(Bm25.oraclePhraseTopKExact(spark, sfDir, qtext))
      val indexed = collectTopK(posEngine.topKPhrase(qtext, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid '$qtext': phrase ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
      if (qid == "p01" || qid == "p03" || qid == "p04")
        assert(oracle.nonEmpty, s"$qid should match documents in this corpus")
    }
  }

  test("phrase: rounded driver-contract frame matches brute-force phrase oracle") {
    val oracle = Bm25.oraclePhraseTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = posEngine.topKAllPhrase().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("filtered phrase: three shapes match the exhaustive filtered construction") {
    posEngine // force the positional build
    val posDir = "target/test-index-pos-sf0001"
    // even-docID facet: excludes real phrase matches (gate + score-all
    // shapes); all-but-3 facet: complement of 3 ids fits cap 5, forcing
    // the NEGATED-gate shape
    val even = Corpus.docs(spark, sfDir)
      .filter(col("docID") % 2 === 0).select(col("docID"))
    val ge3 = Corpus.docs(spark, sfDir)
      .filter(col("docID") >= 3).select(col("docID"))
    val negEng = new QueryEngine(spark, Seq(posDir), filterBroadcastUpTo = 5)
    val postEng = new QueryEngine(spark, Seq(posDir), filterBroadcastUpTo = 0)
    def exhaustive(qtext: String, allowed: org.apache.spark.sql.DataFrame) = {
      val ids = allowed.collect().map(_.getLong(0)).toSet
      collectTopK(posEngine.topKPhrase(qtext, k = 100000))
        .filter(r => ids.contains(r._1)).take(Bm25.K)
    }
    for ((qid, qtext) <- Bm25.PhraseQuerySet) {
      val exEven = exhaustive(qtext, even)
      assert(collectTopK(posEngine.topKPhraseFiltered(qtext, even)) == exEven,
        s"$qid gate shape")
      assert(collectTopK(postEng.topKPhraseFiltered(qtext, even)) == exEven,
        s"$qid score-all shape")
      val exGe3 = exhaustive(qtext, ge3)
      assert(collectTopK(negEng.topKPhraseFiltered(qtext, ge3)) == exGe3,
        s"$qid negated-gate shape")
    }
  }

  test("phrase: single word ≡ AND; phrase result ⊆ AND result; non-positional index rejected") {
    built
    assert(collectTopK(posEngine.topKPhrase("window")) ==
      collectTopK(posEngine.topK("window")))
    val andDocs = collectTopK(posEngine.topK("table hash", k = 1000)).map(_._1).toSet
    val phraseDocs = collectTopK(posEngine.topKPhrase("table hash", k = 1000)).map(_._1).toSet
    assert(phraseDocs.nonEmpty && phraseDocs.subsetOf(andDocs))
    val e = intercept[Exception] {
      engine.topKPhrase("table hash").collect()
    }
    assert(e.getMessage != null)
  }

  test("window: rank-identity vs exact window oracle (every window query)") {
    for ((qid, qtext, w) <- Bm25.WindowQuerySet) {
      val oracle = collectTopK(Bm25.oracleWindowTopKExact(spark, sfDir, qtext, w))
      val indexed = collectTopK(posEngine.topKWindow(qtext, w, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid '$qtext' w=$w: window ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
    }
  }

  test("window: rounded driver-contract frame matches brute-force window oracle") {
    val oracle = Bm25.oracleWindowTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = posEngine.topKAllWindow().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("window: semantic envelope — ⊆ AND, ⊇ phrase at w=|phrase|, w=1 ≡ ∅/AND") {
    built
    val andDocs = collectTopK(posEngine.topK("table hash", k = 1000)).map(_._1).toSet
    val winDocs = collectTopK(posEngine.topKWindow("table hash", 8, k = 1000)).map(_._1).toSet
    assert(winDocs.nonEmpty && winDocs.subsetOf(andDocs))
    // an exact phrase is a window match at w = phrase length
    val phraseDocs = collectTopK(posEngine.topKPhrase("table hash", k = 1000)).map(_._1).toSet
    val winTight = collectTopK(posEngine.topKWindow("table hash", 2, k = 1000)).map(_._1).toSet
    assert(phraseDocs.subsetOf(winTight))
    // w=1, two distinct terms: impossible by construction
    assert(collectTopK(posEngine.topKWindow("table hash", 1)).isEmpty)
    // w=1, single term ≡ AND; huge w ≡ AND
    assert(collectTopK(posEngine.topKWindow("window", 1)) ==
      collectTopK(posEngine.topK("window")))
    assert(collectTopK(posEngine.topKWindow("table hash", 1 << 20, k = 1000)).map(_._1).toSet
      == andDocs)
    // non-positional index rejected (same needPositions guard as phrase)
    intercept[Exception] { engine.topKWindow("table hash", 4).collect() }
  }

  test("search parser: quotes, negation, markers, malformed input") {
    import graft.functions.Analyzer.parseSearch
    val p = parseSearch("""merge "table hash" -slow""")
    assert(p.pos == Seq("hash", "merge", "table"))
    assert(p.neg == Seq("slow"))
    assert(p.phrases == Seq(Seq("table", "hash")))
    assert(p.prefixes.isEmpty && p.fuzzies.isEmpty)
    // single-token quoted piece degrades to a plain term (no phrase)
    val q = parseSearch(""""window" scan""")
    assert(q.phrases.isEmpty && q.pos == Seq("scan", "window"))
    // two phrases, duplicate tokens deduped in pos, kept in phrases
    val r = parseSearch(""""table hash" "batch batch"""")
    assert(r.phrases == Seq(Seq("table", "hash"), Seq("batch", "batch")))
    assert(r.pos == Seq("batch", "hash", "table"))
    // markers
    assert(parseSearch("ta*").prefixes == Seq("ta"))
    assert(parseSearch("hsh~").fuzzies == Seq("hsh"))
    // unterminated quote runs to end-of-string
    assert(parseSearch(""""stream table""").phrases == Seq(Seq("stream", "table")))
    // negated phrase rejected; bare '-' and empty input are inert
    intercept[IllegalArgumentException] { parseSearch("""-"table hash"""") }
    // path tokens are bare terms; only an unclosed /…/ pair rejects
    assert(parseSearch("src/").pos == Seq("src"))
    assert(parseSearch("/usr").pos == Seq("usr"))
    assert(parseSearch("/usr/lib").pos == Seq("lib", "usr"))
    intercept[IllegalArgumentException] { parseSearch("/a b/") }
    assert(parseSearch("/ha.h/").regexes == Seq("ha.h"))
    assert(parseSearch("- ").pos.isEmpty)
    assert(parseSearch("").pos.isEmpty)
  }

  test("search: rounded mixed frame matches brute-force mixed oracle (every query)") {
    val oracle = Bm25.oracleMixedTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = posEngine.searchAll().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
    // the set exercises non-trivial matches: term+phrase and phrase+NOT
    // queries must return rows on this corpus
    val qids = indexed.map(_.head).toSet
    for (mustMatch <- Seq("m01", "m02", "m03", "m05"))
      assert(qids.contains(mustMatch), s"$mustMatch matched nothing")
    // the ∅-by-construction queries must stay empty
    for (mustBeEmpty <- Seq("m06", "m07"))
      assert(!qids.contains(mustBeEmpty), s"$mustBeEmpty should be empty")
  }

  test("search: dispatch degenerates to the dedicated modes exactly") {
    built
    assert(collectTopK(posEngine.search("hash join")) ==
      collectTopK(posEngine.topK("hash join")))
    assert(collectTopK(posEngine.search("hash join", orMode = true)) ==
      collectTopK(posEngine.topKOr("hash join")))
    assert(collectTopK(posEngine.search("hash join -window")) ==
      collectTopK(posEngine.topKNot("hash join -window")))
    assert(collectTopK(posEngine.search("\"table hash\"")) ==
      collectTopK(posEngine.topKPhrase("table hash")))
    assert(collectTopK(posEngine.search("ta*")) ==
      collectTopK(posEngine.topKPrefix("ta")))
    assert(collectTopK(posEngine.search("hsh~")) ==
      collectTopK(posEngine.topKFuzzy("hsh")))
    // invalid compositions are rejected, not silently re-interpreted
    intercept[IllegalArgumentException] { posEngine.search("ta* window") }
    intercept[IllegalArgumentException] {
      posEngine.search("scan \"table hash\"", orMode = true)
    }
  }

  test("search: mixed query equals the exhaustive gate construction; all paths agree") {
    built
    val qtext = """scan "table hash" -slow"""
    // exhaustive twin: deep AND ranking over all positive terms, gated by
    // the phrase-match set and the negated-term set
    val phraseDocs = collectTopK(posEngine.topKPhrase("table hash", k = 100000))
      .map(_._1).toSet
    val negDocs = collectTopK(posEngine.topK("slow", k = 100000)).map(_._1).toSet
    val expected = collectTopK(posEngine.topK("scan table hash", k = 100000))
      .filter(r => phraseDocs.contains(r._1) && !negDocs.contains(r._1))
      .take(Bm25.K)
    assert(expected.nonEmpty, "fixture: mixed query should match documents")
    assert(collectTopK(posEngine.search(qtext)) == expected)
    // distributed (no driver-local) and range paths return the same frame
    val posDir = "target/test-index-pos-sf0001"
    val dist = new QueryEngine(spark, Seq(posDir), localWandUpTo = 0L)
    val range = new QueryEngine(spark, Seq(posDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    assert(collectTopK(dist.search(qtext)) == expected, "scan path")
    assert(collectTopK(range.search(qtext)) == expected, "range path")
    dist.close(); range.close()
  }

  test("search: field facet pieces — parser, engine == brute field oracle, guards") {
    import graft.functions.Analyzer.parseSearch
    val p = parseSearch("""scan "table hash" lang:en""")
    assert(p.fields == Seq(("lang", "en")))
    assert(p.pos == Seq("hash", "scan", "table"))
    assert(p.phrases == Seq(Seq("table", "hash")))
    // negated field pieces rejected (deny facets are explicit API)
    intercept[IllegalArgumentException] { parseSearch("-lang:en window") }
    // engine vs brute over the whole fixed field set
    val docs = Corpus.docs(spark, sfDir)
    val resolver = (f: String, v: String) => {
      require(f == "lang", s"unknown field: $f")
      posEngine.prepareFilter(docs.filter(col("lang") === v).select(col("docID")))
    }
    val oracle = Bm25.oracleFieldTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = posEngine.searchFieldAll(resolver).collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
    val qids = indexed.map(_.head).toSet
    assert(qids.contains("f05"), "stop-word + facet should match documents")
    assert(!qids.contains("f04"), "absent facet value must stay empty")
    // a field piece without a resolver is an error, not a silent ignore
    intercept[IllegalArgumentException] { posEngine.search("window lang:en") }
    // more than one field piece is rejected in this version
    intercept[IllegalArgumentException] {
      posEngine.search("window lang:en lang:de", fieldFacet = resolver)
    }
  }

  test("search: term^w boosts — parser, engine == brute boosted oracle, guards") {
    import graft.functions.Analyzer.parseSearch
    val p = parseSearch("""scan^2 "table hash" window^0.5""")
    assert(p.boosts == Map("scan" -> 2.0, "window" -> 0.5))
    assert(p.pos == Seq("hash", "scan", "table", "window"))
    assert(p.phrases == Seq(Seq("table", "hash")))
    // guards: boost composes with nothing that cannot score
    intercept[IllegalArgumentException] { parseSearch("-scan^2 window") }
    intercept[IllegalArgumentException] { parseSearch("lang:en^2 window") }
    intercept[IllegalArgumentException] { parseSearch("scan*^2") }
    intercept[IllegalArgumentException] { parseSearch("scan^0 window") }
    intercept[IllegalArgumentException] { parseSearch("scan^2 scan^3") }
    intercept[IllegalArgumentException] { parseSearch("\"table hash\"^2") }
    // engine vs brute over the whole fixed boosted set
    val oracle = Bm25.oracleBoostedTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = posEngine.searchBoostedAll().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
    val byQid = indexed.groupBy(_.head)
    assert(!byQid.contains("w06"), "AND with an absent term must stay empty")
    // the boost is live: w01's scores differ from the unboosted twin's
    val boosted = posEngine.search("scan^2 window", rounded = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val plain = posEngine.search("scan window", rounded = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val common = boosted.keySet intersect plain.keySet
    assert(common.nonEmpty && common.forall(d => boosted(d) > plain(d)),
      "an up-boosted term must strictly raise every surviving doc's score")
  }

  test("prefix: rank-identity vs exact prefix oracle (every prefix query)") {
    built
    for ((qid, prefix) <- Bm25.PrefixQuerySet) {
      val oracle = collectTopK(Bm25.oraclePrefixTopKExact(spark, sfDir, prefix))
      val indexed = collectTopK(engine.topKPrefix(prefix, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid '$prefix*': prefix ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
    }
  }

  test("prefix: rounded driver-contract frame matches brute-force prefix oracle") {
    built
    val oracle = Bm25.oraclePrefixTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAllPrefix().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("prefix: expansion semantics — exact-term ≡ OR, absent ∅, cap enforced") {
    built
    // expansion of an exact full term behaves like the plain OR query
    assert(collectTopK(engine.topKPrefix("window")) ==
      collectTopK(engine.topKOr("window")))
    // absent prefix → empty, no error
    assert(collectTopK(engine.topKPrefix("zz")).isEmpty)
    // expansion list is the sorted dictionary range
    assert(engine.expandPrefix("s") ==
      Seq("scan", "slow", "small", "sort", "spark", "stream"))
    // cap guards unselective prefixes
    intercept[IllegalArgumentException] { engine.topKPrefix("s", cap = 3) }
    // prefix result covers every doc any expansion term matches (OR ⊇)
    val viaOr = collectTopK(engine.topKOr("data dup", k = 1000)).map(_._1).toSet
    assert(collectTopK(engine.topKPrefix("d", k = 1000)).map(_._1).toSet == viaOr)
  }

  test("len-range facet: ≡ explicit allowed-set facet; composes with counts; guards") {
    built
    val range = engine.prepareLenRange(32, 79)
    // identical to a facet prepared from corpus-derived lengths
    val lens = Bm25.docLengths(Bm25.termFreq(Corpus.docs(spark, sfDir)))
    val explicit = engine.prepareFilter(
      lens.filter(col("len").between(32, 79)).select(col("docID")))
    for ((qid, q) <- Bm25.QuerySet) {
      val a = engine.topKFiltered(q, range, Bm25.K, rounded = true,
        orMode = false).collect().toSeq
      val b = engine.topKFiltered(q, explicit, Bm25.K, rounded = true,
        orMode = false).collect().toSeq
      assert(a == b, s"$qid: len-range facet diverges from explicit facet")
    }
    // composes with the counting surface; bounded by the unfiltered count
    val n = engine.countMatchesFiltered("table hash", range)
    assert(n > 0 && n <= engine.countMatches("table hash"))
    // degenerate range that admits nothing → empty results, no error
    val none = engine.prepareLenRange(100000, 100001)
    assert(engine.topKFiltered("table hash", none, Bm25.K,
      rounded = true, orMode = false).isEmpty)
    intercept[IllegalArgumentException] { engine.prepareLenRange(5, 4) }
  }

  test("histogram: kernel path ≡ relational path; bucket sums ≡ total counts") {
    built
    val groups = engine.prepareLenGroups(Bm25.HistogramWidth)
    for ((qid, q) <- Bm25.QuerySet; orMode <- Seq(false, true)) {
      val kernel = engine.lenHistogram(q, groups, orMode)
      val rel = engine.lenHistogramRelational(q, Bm25.HistogramWidth, orMode)
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).toSeq
      assert(kernel == rel,
        s"$qid or=$orMode: kernel=$kernel relational=$rel")
      // B buckets from one pass must add up to the single total count
      assert(kernel.map(_._2).sum == engine.countMatches(q, orMode),
        s"$qid or=$orMode: bucket sums diverge from countMatches")
    }
    // absent-term AND query yields no buckets on both paths
    assert(engine.lenHistogram("table zzzzunknown", groups).isEmpty)
    assert(engine.lenHistogramRelational("table zzzzunknown",
      Bm25.HistogramWidth).isEmpty)
    // histogram of a match-everything query covers every doc exactly once
    val all = engine.lenHistogram("the", groups, orMode = true)
    assert(all.map(_._2).sum == engine.countMatches("the", orMode = true))
    intercept[IllegalArgumentException] { engine.prepareLenGroups(0) }
  }

  test("concurrent clients: parallel query calls equal serial results") {
    built
    val serial = Bm25.QuerySet.map { case (qid, q) =>
      qid -> engine.topK(q, rounded = true).collect().map(_.toSeq).toSeq
    }.toMap
    val counts = Bm25.QuerySet.map { case (qid, q) =>
      qid -> engine.countMatches(q)
    }.toMap
    def runConcurrently(eng: QueryEngine): Unit = {
      import scala.concurrent._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = (0 until 4).flatMap { _ =>
        Bm25.QuerySet.map { case (qid, q) =>
          Future {
            val rows = eng.topK(q, rounded = true).collect().map(_.toSeq).toSeq
            val n = eng.countMatches(q)
            (qid, rows, n)
          }
        }
      }
      val res = Await.result(Future.sequence(futs),
        duration.Duration(180, "seconds"))
      pool.shutdown()
      res.foreach { case (qid, rows, n) =>
        assert(rows == serial(qid), s"$qid: concurrent topK diverged")
        assert(n == counts(qid), s"$qid: concurrent count diverged")
      }
    }
    runConcurrently(engine)
    // every query term here has df ≈ 380-415: one-term queries run
    // serial, two-term queries pooled, three-term ones distributed, and
    // the 4 × 840-posting segment cache holds fewer terms than the set
    // uses — so evictions and reloads race under the 8 clients
    val small = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 420L, localWandThreads = 2)
    try {
      runConcurrently(small)
      assert(small.localSegCache.stats().evictionCount() > 0L,
        "the small engine never evicted a segment array")
    } finally small.close()
  }

  test("percentile ranks: monotone in value, consistent with percentiles") {
    built
    for ((qid, q) <- Bm25.QuerySet) {
      val ranks = engine.lenPercentileRanks(q)
      // fractions in [0,1], non-decreasing in the probe value
      assert(ranks.forall { case (_, f) => f >= 0.0 && f <= 1.0 }, qid)
      assert(ranks.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)), qid)
      // inverse consistency: frac(len at percentile p) >= p
      val pcts = engine.lenPercentilesRelational(q)
      for ((p, l) <- pcts) {
        val fr = engine.lenPercentileRanks(q, Seq(l)).head._2
        assert(fr >= p - 1e-9, s"$qid: frac($l)=$fr < p=$p")
      }
    }
    assert(engine.lenPercentileRanks("zzzzunknown").isEmpty)
  }

  test("match docs: export set cardinality == count kernel; AND ⊆ OR") {
    built
    for ((qid, q) <- Bm25.QuerySet) {
      val and = engine.matchDocs(q).collect().map(_.getLong(0)).toSet
      assert(and.size.toLong == engine.countMatches(q), s"$qid AND")
      val or = engine.matchDocs(q, orMode = true).collect().map(_.getLong(0)).toSet
      assert(or.size.toLong == engine.countMatches(q, orMode = true), s"$qid OR")
      assert(and.subsetOf(or), qid)
    }
  }

  test("range agg: kernel ≡ relational; below-b0 docs excluded on both paths") {
    built
    val bounds = Bm25.RangeBounds
    val groups = engine.prepareLenRangeGroups(bounds)
    for ((qid, q) <- Bm25.QuerySet; orMode <- Seq(false, true)) {
      val kernel = engine.lenHistogram(q, groups, orMode)
        .map { case (b, n) => (b.toLong, n) }
      val rel = engine.lenRangesRelational(q, bounds, orMode)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(kernel == rel, s"$qid or=$orMode: kernel=$kernel relational=$rel")
      // every emitted range start is a declared bound
      assert(kernel.forall(r => bounds.contains(r._1)), s"$qid: stray range")
    }
    // the exclusion case is LIVE: some match of the stop-word query has
    // len < b0, so range sums undercount the total (unlike the histogram)
    val all = engine.lenHistogram("the", groups, orMode = true)
    assert(all.map(_._2).sum < engine.countMatches("the", orMode = true),
      "no doc below the first bound — exclusion fixture is dead")
    // guards: unsorted bounds and mixed digit counts reject
    intercept[IllegalArgumentException] {
      engine.prepareLenRangeGroups(Seq(40L, 20L))
    }
    intercept[IllegalArgumentException] {
      engine.prepareLenRangeGroups(Seq(9L, 20L))
    }
  }

  test("wildcard: rank-identity vs exact contains oracle (every wildcard query)") {
    built
    for ((qid, frag) <- Bm25.WildcardQuerySet) {
      val oracle = collectTopK(Bm25.oracleWildcardTopKExact(spark, sfDir, frag))
      val indexed = collectTopK(engine.topKWildcard(frag, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid '*$frag*': wildcard ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
    }
  }

  test("wildcard: rounded driver-contract frame matches brute-force contains oracle") {
    built
    val oracle = Bm25.oracleWildcardTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAllWildcard().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("wildcard: expansion semantics — exact-term ≡ OR, absent ∅, cap, parser, search-box") {
    built
    // a fragment matching exactly one full term behaves like the plain OR query
    assert(collectTopK(engine.topKWildcard("able")) ==
      collectTopK(engine.topKOr("table")))
    // absent fragment → empty, no error
    assert(collectTopK(engine.topKWildcard("zzz")).isEmpty)
    // expansion list is the sorted set of dictionary terms containing it
    assert(engine.expandContains("ow") == Seq("row", "slow", "window"))
    // cap guards unselective fragments ('a' expands to 13 terms here)
    intercept[IllegalArgumentException] { engine.topKWildcard("a", cap = 3) }
    // wildcard ⊇ prefix for the same string (contains ⊇ startsWith)
    val viaPrefix = collectTopK(engine.topKPrefix("w", k = 1000)).map(_._1).toSet
    val viaWild = collectTopK(engine.topKWildcard("w", k = 1000)).map(_._1).toSet
    assert(viaPrefix.subsetOf(viaWild))
    // parser: *frag* classifies as a wildcard piece, not a prefix
    val p = graft.functions.Analyzer.parseSearch("*ow*")
    assert(p.wildcards == Seq("ow") && p.prefixes.isEmpty && p.pos.isEmpty)
    // search-box dispatch ≡ the direct API; mixing with other pieces rejected
    assert(engine.search("*ow*", rounded = true).collect().toSeq ==
      engine.topKWildcard("ow", rounded = true).collect().toSeq)
    intercept[IllegalArgumentException] { engine.search("*ow* table") }
  }

  test("regex: rank-identity vs exact oracle; expansion semantics; dict-scan path") {
    built
    for ((qid, pat) <- Bm25.RegexQuerySet) {
      val oracle = collectTopK(Bm25.oracleRegexTopKExact(spark, sfDir, pat))
      val indexed = collectTopK(engine.topKRegex(pat, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid /$pat/: regex ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
    }
    // driver-contract frame vs brute oracle
    val oracleAll = Bm25.oracleRegexTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexedAll = engine.topKAllRegex().collect().map(_.toSeq).toSeq
    assert(indexedAll == oracleAll)
    // a pattern full-matching exactly one term behaves like the plain OR query
    assert(collectTopK(engine.topKRegex("ha.h")) ==
      collectTopK(engine.topKOr("hash")))
    // absent pattern → empty, no error; full-match is anchored (no
    // substring semantics: "a." must NOT match 3+-letter terms)
    assert(collectTopK(engine.topKRegex("z+")).isEmpty)
    assert(engine.expandRegex("a.").isEmpty ||
      engine.expandRegex("a.").forall(_.length == 2))
    // expansion is the sorted full-match set
    assert(engine.expandRegex("s(can|ort)") == Seq("scan", "sort"))
    // cap guards unselective patterns (.a.* expands to 7 terms here)
    intercept[IllegalArgumentException] { engine.topKRegex(".a.*", cap = 3) }
    // big-vocab fallback: anchored RLike dictionary scan, same expansion
    val scan = new QueryEngine(spark, Seq(indexDir), dictCacheUpTo = 0L)
    for ((_, pat) <- Bm25.RegexQuerySet.take(3))
      assert(scan.expandRegex(pat) == engine.expandRegex(pat), s"/$pat/")
    // search-box grammar: /re/ classifies as a regex piece, dispatches
    // to topKRegex, and must be the lone piece; negated/boosted rejected
    val p = graft.functions.Analyzer.parseSearch("/ha.h/")
    assert(p.regexes == Seq("ha.h") && p.pos.isEmpty && p.wildcards.isEmpty)
    assert(engine.search("/ha.h/", rounded = true).collect().toSeq ==
      engine.topKRegex("ha.h", rounded = true).collect().toSeq)
    intercept[IllegalArgumentException] { engine.search("/ha.h/ table") }
    intercept[IllegalArgumentException] {
      graft.functions.Analyzer.parseSearch("-/ha.h/")
    }
    intercept[IllegalArgumentException] {
      graft.functions.Analyzer.parseSearch("/ha.h/^2")
    }
  }

  test("term vectors: index artifacts == corpus truth; sum(tf) == doc len") {
    built
    val got = engine.termVectors(Bm25.TermVectorDocs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // brute truth from corpus tokenization
    val tf = Bm25.termFreq(Corpus.docs(spark, sfDir)).cache()
    val dfm = Bm25.docFreq(tf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = tf.filter(col("docID").isin(Bm25.TermVectorDocs: _*)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .map { case (d, t, f) => (d, t, f, dfm(t)) }
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got == want)
    // invariant: the vector's tf sums to the doc's indexed length
    val lens = spark.read.parquet(s"$indexDir/docstats").collect()
      .map(r => r.getAs[Long]("docID") -> r.getAs[Long]("len")).toMap
    got.groupBy(_._1).foreach { case (d, rows) =>
      assert(rows.map(_._3).sum == lens(d), s"doc $d: sum(tf) != len")
    }
  }

  test("suggest: completions == brute df ranking; absent prefix empty; dict-scan path identical") {
    built
    val dfTruth = Bm25.docFreq(Bm25.termFreq(Corpus.docs(spark, sfDir)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((_, p) <- Bm25.PrefixQuerySet) {
      val want = dfTruth.toSeq.filter(_._1.startsWith(p))
        .sortBy { case (t, d) => (-d, t) }.take(8)
      assert(engine.suggest(p) == want, s"prefix '$p'")
    }
    assert(engine.suggest("zz").isEmpty)
    // big-vocab fallback (dictionary scan, StringStartsWith pushdown)
    val scan = new QueryEngine(spark, Seq(indexDir), dictCacheUpTo = 0L)
    for ((_, p) <- Bm25.PrefixQuerySet.take(3))
      assert(scan.suggest(p) == engine.suggest(p), s"scan path, prefix '$p'")
  }

  test("moreLikeThis: top-tfidf expansion + OR ranking == independent construction") {
    built
    val docs = Corpus.docs(spark, sfDir)
    val tf = Bm25.termFreq(docs)
    val tfRows = tf.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val dfm = tfRows.groupBy(_._2).map { case (t, rs) => t -> rs.length.toLong }
    val n = tfRows.map(_._1).distinct.length.toDouble
    for (src <- Bm25.MltSources) {
      // expected expansion: top-5 source terms by (round4(tf*idf) desc, term)
      val expTerms = tfRows.filter(_._1 == src)
        .map { case (_, t, f) => (t, QueryEngine.r4(f * Bm25.idf(n, dfm(t)))) }
        .sortBy { case (t, s) => (-s, t) }.take(Bm25.MltTerms).map(_._1)
      // expected ranking: brute OR oracle over those terms, src excluded
      val want = collectTopK(
        Bm25.oracleTopKOrExact(spark, sfDir, expTerms.mkString(" "), k = 1 << 20))
        .map { case (d, s) => (d, QueryEngine.r4(s)) }
        .filter(_._1 != src)
        .sortBy { case (d, s) => (-s, d) }.take(10)
      val got = collectTopK(engine.moreLikeThis(src)).sortBy(t => (-t._2, t._1))
      assert(got == want, s"src=$src expansion=$expTerms:\n want=$want\n got =$got")
      assert(!got.exists(_._1 == src), s"src=$src must be excluded")
    }
  }

  test("LSM (two-index) engine: suggest / indexStats / moreLikeThis / paging identical") {
    built
    val docs = Corpus.docs(spark, sfDir)
    val dirA = "target/test-index-lsm-a"
    val dirB = "target/test-index-lsm-b"
    Seq(dirA, dirB).foreach(d =>
      new Directory(new java.io.File(d)).deleteRecursively())
    Index.buildFrom(spark, docs.filter(col("docID") < 250), dirA, params)
    Index.buildFrom(spark, docs.filter(col("docID") >= 250), dirB, params)
    val lsm = new QueryEngine(spark, Seq(dirA, dirB))
    for ((_, p) <- Bm25.PrefixQuerySet.take(4))
      assert(lsm.suggest(p) == engine.suggest(p), s"suggest '$p'")
    assert(lsm.indexStats().collect().toSeq.map(_.toSeq) ==
      engine.indexStats().collect().toSeq.map(_.toSeq))
    for (src <- Bm25.MltSources)
      assert(collectTopK(lsm.moreLikeThis(src)).sortBy(t => (-t._2, t._1)) ==
        collectTopK(engine.moreLikeThis(src)).sortBy(t => (-t._2, t._1)),
        s"moreLikeThis $src")
    // paging across the delta boundary
    val top20 = collectTopK(engine.topK("hash join", 20, rounded = true))
      .sortBy(t => (-t._2, t._1))
    val (cDoc, cScore) = top20(9)
    assert(collectTopK(lsm.topKAfter("hash join", 10, cScore, cDoc,
        rounded = true)).sortBy(t => (-t._2, t._1)) == top20.drop(10))
    lsm.close()
  }

  test("indexStats: index metadata equals corpus-derived truth") {
    built
    val tf = Bm25.termFreq(Corpus.docs(spark, sfDir))
    val dfr = Bm25.docFreq(tf).collect().map(r => r.getLong(1))
    val lens = Bm25.docLengths(tf).collect().map(r => r.getLong(1))
    val row = engine.indexStats().head()
    assert(row.getLong(0) == lens.length.toLong)              // n_docs
    assert(row.getLong(1) == dfr.length.toLong)               // n_terms
    assert(row.getLong(2) == dfr.sum)                         // n_postings
    assert(row.getLong(3) == dfr.max)                         // max_df
    assert(row.getDouble(4) ==
      QueryEngine.r4(lens.sum.toDouble / lens.length))        // avgdl
  }

  test("snippets: argmax window, tie-break, highlight, short-doc clamp") {
    import graft.operators.Snippets
    import spark.implicits._
    val docs = Seq(
      // best L=3 window is [z, join, hash] at start 4 (cov 2 beats cov 1)
      (1L, "x hash y z join hash k"),
      // tie on coverage (both windows cov 1) → earliest start wins
      (2L, "hash a b c hash d e"),
      // shorter than L → single start, clamped slice = whole doc
      (3L, "join hash")
    ).toDF("docID", "content")
    val toks = docs.select(col("docID"),
      graft.functions.Analyzer.tokensCol(col("content")).as("toks"))
    val out = toks
      .withColumn("start", Snippets.bestStart(col("toks"), Seq("hash", "join"), 3))
      .withColumn("snippet",
        Snippets.snippetCol(col("toks"), col("start"), Seq("hash", "join"), 3))
      .select(col("docID"), col("start"), col("snippet"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == (4L, "z [join] [hash]"))
    assert(out(2L) == (1L, "[hash] a b"))
    assert(out(3L) == (1L, "[join] [hash]"))
  }

  test("snippets: every contract row carries a highlighted query term") {
    built
    val snips = graft.operators.Snippets.searchSnippets(
      spark, Corpus.docs(spark, sfDir), engine.topKAll())
    val rows = snips.collect()
    assert(rows.nonEmpty)
    val ranked = engine.topKAll().select("query", "rank", "docID")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // one snippet per ranked hit, and AND semantics guarantee a highlight
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      == ranked)
    rows.foreach { r =>
      assert(r.getString(3).contains("["),
        s"${r.getString(0)} rank ${r.getInt(1)}: no highlighted term in '${r.getString(3)}'")
    }
  }

  test("fuzzy: rank-identity vs exact fuzzy oracle (every fuzzy query)") {
    built
    for ((qid, q) <- Bm25.FuzzyQuerySet) {
      val oracle = collectTopK(Bm25.oracleFuzzyTopKExact(spark, sfDir, q))
      val indexed = collectTopK(engine.topKFuzzy(q, rounded = false))
      assert(indexed.map(_._1) == oracle.map(_._1),
        s"$qid '$q~': fuzzy ranking differs\n oracle=$oracle\n indexed=$indexed")
      oracle.zip(indexed).foreach { case ((d, os), (_, is)) =>
        assert(math.abs(os - is) < 1e-9, s"$qid doc $d: oracle=$os indexed=$is")
      }
    }
  }

  test("fuzzy: rounded driver-contract frame matches brute-force fuzzy oracle") {
    built
    val oracle = Bm25.oracleFuzzyTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAllFuzzy().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
  }

  test("grouped: per-group-heap kernel == faceted composition == brute oracle") {
    built
    import spark.implicits._
    val docs = Corpus.docs(spark, sfDir)
    val groups = engine.prepareGroups(
      docs.select(col("docID"), col("lang").as("grp")))
    assert(groups.names.nonEmpty)
    // engine (one-pass kernel path) vs brute Spark oracle, whole set
    val oracle = Bm25.oracleGroupedTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.searchGroupedAll(groups).collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
    // path identity: the faceted-composition fallback AND the pooled
    // sharded kernel produce the identical frame for every query of the
    // set (pooled forced by a 1-posting serial threshold with an
    // explicit pooled ceiling, as in the pooled-WAND spec)
    val pooledG = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 1L, localWandThreads = 8,
      localWandParallelUpTo = 1_000_000L)
    val groupsP = pooledG.prepareGroups(
      docs.select(col("docID"), col("lang").as("grp")))
    for ((_, q) <- Bm25.GroupedQuerySet) {
      val kernel = engine.searchGroupedTopK(q, groups).collect().map(_.toSeq).toSeq
      val comp = engine.searchGroupedTopK(q, groups, forceComposition = true)
        .collect().map(_.toSeq).toSeq
      assert(kernel == comp, s"'$q': kernel/composition paths diverge")
      val pooled = pooledG.searchGroupedTopK(q, groupsP).collect().map(_.toSeq).toSeq
      assert(pooled == kernel, s"'$q': pooled/serial grouped paths diverge")
    }
    pooledG.close()
    // every group's rows are a prefix ranking 1..m with descending scores
    val byQG = indexed.groupBy(r => (r(0), r(1)))
    byQG.values.foreach { rs =>
      val ranks = rs.map(_(2).asInstanceOf[Int])
      assert(ranks.sorted == (1 to rs.size).toSeq)
      val scores = rs.sortBy(_(2).asInstanceOf[Int]).map(_(4).asInstanceOf[Double])
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // the absent-term query contributes nothing; the stop word hits
    // more than one group (the collapse is real)
    assert(!byQG.keySet.exists(_._1 == "c04"))
    assert(byQG.keySet.count(_._1 == "c03") > 1)
    // guards: non-plain pieces and non-functional collapse keys reject
    intercept[IllegalArgumentException] {
      engine.searchGroupedTopK("\"hash join\" scan", groups)
    }
    intercept[IllegalArgumentException] {
      engine.prepareGroups(
        Seq((1L, "a"), (1L, "b")).toDF("docID", "grp"))
    }
  }

  test("rescored: window contract, indexed == brute stage-1, blend is live") {
    built
    val oracle = Rescore.rescoredOracle(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = Rescore.rescoredAll(spark, sfDir, engine).collect().map(_.toSeq).toSeq
    // stage-1 source identity: index-retrieved window == brute-oracle window
    assert(indexed == oracle)
    // static-rank vector: exactly one prs per doc, all above the (1-d)/N
    // damping floor (mean-normalized: floor becomes (1-d))
    val pr = LinkGraph.pageRankAll(spark, sfDir).collect()
    val n = graft.Corpus.docs(spark, sfDir).count()
    assert(pr.length == n)
    assert(pr.forall(_.getDouble(1) >= (1.0 - LinkGraph.Damping) - 1e-9))
    // rescore window contract: every rescored hit sits inside its
    // query's bm25 top-WindowSize (authority can never pull a doc in
    // from outside the relevance window)
    val win = engine.topKAllOver(Bm25.QuerySet, Rescore.WindowSize)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(indexed.forall(r =>
      win.contains((r(0).asInstanceOf[String], r(2).asInstanceOf[Long]))))
    // the blend is live on the fixture: at least one query's (rank →
    // docID) assignment differs from the plain bm25 top-k
    val plain = engine.topKAll().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val res = indexed.map(r => (r(0).asInstanceOf[String],
      r(1).asInstanceOf[Int], r(2).asInstanceOf[Long])).toSet
    assert(res != plain, "rescoring never re-ordered any query — dead blend")
  }

  test("explain: per-term breakdown consistent with topK ranking and scores") {
    built
    for ((qid, q) <- Bm25.QuerySet) {
      val top = engine.topK(q, rounded = true).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val rows = engine.explainScores(q).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(5)))
      val terms = graft.functions.Analyzer.queryTerms(q)
      if (top.isEmpty) assert(rows.isEmpty, s"$qid: breakdown of an empty result")
      else {
        // one row per (rank, term); rank→docID matches the ranking exactly
        assert(rows.length == top.length * terms.size, s"$qid row count")
        val byRank = rows.groupBy(_._1)
        top.zipWithIndex.foreach { case ((docID, score), i) =>
          val rs = byRank(i + 1)
          assert(rs.forall(_._2 == docID), s"$qid rank ${i + 1} docID mismatch")
          assert(rs.map(_._3).sorted.toSeq == terms, s"$qid rank ${i + 1} terms")
          // rounded per-term contribs re-sum to the rounded score within
          // per-row rounding slack
          val sum = rs.map(_._4).sum
          assert(math.abs(sum - score) <= 0.0001 * terms.size + 1e-9,
            s"$qid rank ${i + 1}: contribs $sum vs score $score")
        }
      }
    }
  }

  test("did-you-mean: engine == corpus-derived brute twin over the fixed set") {
    built
    // brute twin: max-df dictionary term within distance 1, ties term asc
    val dfr = Bm25.docFreq(Bm25.termFreq(Corpus.docs(spark, sfDir)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def brute(t: String): (String, Long) = {
      val cands = dfr.filter(c => QueryEngine.editDistance(c._1, t) <= 1)
      if (cands.isEmpty) ("", 0L)
      else cands.minBy { case (c, d) => (-d, c) }
    }
    val expected = Bm25.DidYouMeanQuerySet.flatMap { case (qid, q) =>
      graft.functions.Analyzer.queryTerms(q).map { t =>
        val (s, d) = brute(t); (qid, t, s, d)
      }
    }.sortBy(r => (r._1, r._2))
    val got = engine.didYouMeanAll().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the ∅-candidate case must be exercised by the fixed set
    assert(got.exists { case (_, t, s, d) => t == "zzzz" && s == "" && d == 0L })
    // every non-empty suggestion is a real distance-≤1 dictionary term
    got.filter(_._3.nonEmpty).foreach { case (_, t, s, d) =>
      assert(QueryEngine.editDistance(t, s) <= 1)
      assert(dfr.exists(c => c._1 == s && c._2 == d))
    }
  }

  test("prefix expansion: binary search of the sorted dictionary == brute startsWith") {
    built
    val vocab = engine.dictionaryDf().select(col("term")).collect().map(_.getString(0)).sorted
    def brute(p: String) = vocab.filter(_.startsWith(p)).toSeq
    val below = "!"
    val above = "~"
    assert(below < vocab.head && above > vocab.last, "fixture: bounds must straddle the vocabulary")
    val exact = "window"
    assert(vocab.contains(exact))
    for (p <- Seq(exact, below, above) ++ ('a' to 'z').map(_.toString))
      assert(engine.expandPrefix(p, cap = vocab.length) == brute(p), s"prefix '$p'")
    assert(engine.expandPrefix(exact).contains(exact))
    assert(engine.expandPrefix(below).isEmpty && engine.expandPrefix(above).isEmpty)
    // a prefix that still expands past the cap rejects
    assert(brute("s").size > 3)
    intercept[IllegalArgumentException] { engine.expandPrefix("s", cap = 3) }
  }

  test("fuzzy/prefix expansions: in-memory sweep == dictionary-scan fallback") {
    built
    // VERDICT r3 #4 lesson: fallback branches need their own gate. Force
    // the big-vocab dictionary-SCAN expansion (dictCacheUpTo = 0) and
    // require term-for-term identity with the pinned-dict sweep.
    val scanEng = new QueryEngine(spark, Seq(indexDir), dictCacheUpTo = 0L)
    assert(scanEng.expandPrefix("s") == engine.expandPrefix("s"))
    assert(scanEng.expandPrefix("zz") == engine.expandPrefix("zz"))
    for ((_, q) <- Bm25.FuzzyQuerySet)
      assert(scanEng.expandFuzzy(q) == engine.expandFuzzy(q), s"'$q'")
    // expansion semantics on the engine: multi-term neighborhood == OR
    assert(engine.expandFuzzy("sow") == Seq("row", "slow"))
    assert(collectTopK(engine.topKFuzzy("sow", k = 1000)) ==
      collectTopK(engine.topKOr("row slow", k = 1000)))
    assert(collectTopK(engine.topKFuzzy("zzzz")).isEmpty)
    // editDistance twin == Spark's levenshtein on the whole vocab × queries
    val vocab = engine.expandPrefix("a", cap = 1000) ++
      Seq("batch", "query", "window", "stream")
    import spark.implicits._
    for (q <- Seq("hsh", "sow", "query", "zzzz", "dat", "pert", "batc")) {
      val sparkDists = vocab.toDF("t")
        .select(col("t"), levenshtein(col("t"), lit(q)).as("d"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      vocab.foreach { t =>
        assert(QueryEngine.editDistance(t, q) == sparkDists(t), s"$t vs $q")
      }
    }
  }

  test("countMatches: every path equals the exhaustive match count (AND + OR)") {
    built
    // exhaustive expectation: score-all top-k with a huge k
    def expectAnd(q: String) = collectTopK(engine.topK(q, k = 1000000)).size.toLong
    def expectOr(q: String) = collectTopK(engine.topKOr(q, k = 1000000)).size.toLong
    val scanEng = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    val rangeEng = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((qid, q) <- Bm25.QuerySet) {
      val (ea, eo) = (expectAnd(q), expectOr(q))
      assert(engine.countMatches(q) == ea, s"$qid AND local")
      assert(engine.countMatches(q, orMode = true) == eo, s"$qid OR local")
    }
    // distributed paths on a representative subset (job-count economy,
    // same pattern as the cogroup spec): multi-term, stop-word, absent
    val pooledEng = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 1L, localWandThreads = 8,
      localWandParallelUpTo = 1_000_000L)
    for ((qid, q) <- Bm25.QuerySet.take(3) :+ Bm25.QuerySet.find(_._1 == "q05").get) {
      val (ea, eo) = (expectAnd(q), expectOr(q))
      assert(scanEng.countMatches(q) == ea, s"$qid AND scan")
      assert(scanEng.countMatches(q, orMode = true) == eo, s"$qid OR scan")
      assert(rangeEng.countMatches(q) == ea, s"$qid AND range")
      assert(rangeEng.countMatches(q, orMode = true) == eo, s"$qid OR range")
      // pooled driver-local count (serial threshold 1 → every non-empty
      // query shards onto the thread pool)
      assert(pooledEng.countMatches(q) == ea, s"$qid AND pooled")
      assert(pooledEng.countMatches(q, orMode = true) == eo, s"$qid OR pooled")
    }
    pooledEng.close()
    assert(engine.countMatches("") == 0L)
    assert(engine.countMatches("zzzzunknown", orMode = true) == 0L)
  }

  test("countMatchesFiltered: gated counts == exhaustive filtered count, all paths + shapes") {
    built
    val even = Corpus.docs(spark, sfDir)
      .filter(col("docID") % 2 === 0).select(col("docID"))
    val ge3 = Corpus.docs(spark, sfDir)
      .filter(col("docID") >= 3).select(col("docID"))
    val negEng = new QueryEngine(spark, Seq(indexDir), filterBroadcastUpTo = 5)
    val scanEng = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    val evenIds = even.collect().map(_.getLong(0)).toSet
    def expect(q: String, orMode: Boolean, ids: Set[Long]) =
      collectTopK(if (orMode) engine.topKOr(q, k = 1000000)
                  else engine.topK(q, k = 1000000))
        .count(r => ids.contains(r._1)).toLong
    val evenFacetL = engine.prepareFilter(even)
    val evenFacetS = scanEng.prepareFilter(even)
    val ge3Facet = negEng.prepareFilter(ge3) // forces the NEGATED-gate shape
    val ge3Ids = ge3.collect().map(_.getLong(0)).toSet
    for ((qid, q) <- Bm25.QuerySet) {
      assert(engine.countMatchesFiltered(q, evenFacetL) ==
        expect(q, orMode = false, evenIds), s"$qid AND local")
      assert(engine.countMatchesFiltered(q, evenFacetL, orMode = true) ==
        expect(q, orMode = true, evenIds), s"$qid OR local")
    }
    for ((qid, q) <- Bm25.QuerySet.take(3)) {
      assert(scanEng.countMatchesFiltered(q, evenFacetS) ==
        expect(q, orMode = false, evenIds), s"$qid AND scan")
      assert(scanEng.countMatchesFiltered(q, evenFacetS, orMode = true) ==
        expect(q, orMode = true, evenIds), s"$qid OR scan")
      assert(negEng.countMatchesFiltered(q, ge3Facet) ==
        expect(q, orMode = false, ge3Ids), s"$qid AND negated-gate")
    }
  }

  test("window/fuzzy: path identity across local, scan and range paths") {
    val posDir = "target/test-index-pos-sf0001"
    posEngine // force the positional build
    val scanP = new QueryEngine(spark, Seq(posDir), localWandUpTo = 0L)
    val rangeP = new QueryEngine(spark, Seq(posDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((qid, qtext, w) <- Bm25.WindowQuerySet) {
      val ref = collectTopK(posEngine.topKWindow(qtext, w))
      assert(collectTopK(scanP.topKWindow(qtext, w)) == ref, s"$qid scan")
      assert(collectTopK(rangeP.topKWindow(qtext, w)) == ref, s"$qid range")
    }
    built
    val scanE = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    val rangeE = new QueryEngine(spark, Seq(indexDir),
      broadcastPostingsUpTo = -1L, localWandUpTo = 0L)
    for ((qid, q) <- Bm25.FuzzyQuerySet) {
      val ref = collectTopK(engine.topKFuzzy(q))
      assert(collectTopK(scanE.topKFuzzy(q)) == ref, s"$qid scan")
      assert(collectTopK(rangeE.topKFuzzy(q)) == ref, s"$qid range")
    }
  }

  test("monotoneGate: gallop cursor == binary search under non-decreasing probes") {
    val rnd = new scala.util.Random(42)
    val ids = Array.iterate(0L, 5000)(x => x + 1 + rnd.nextInt(20)).map(_ * 3)
    // non-decreasing probe sequence with repeats and gaps
    val probes = Array.iterate(0L, 20000)(x => x + rnd.nextInt(4)).sorted
    for (neg <- Seq(false, true)) {
      val g = QueryEngine.monotoneGate(ids, neg)
      probes.foreach { p =>
        val expected = (java.util.Arrays.binarySearch(ids, p) >= 0) != neg
        assert(g(p) == expected, s"probe $p neg=$neg")
      }
    }
    // empty gate
    val ge = QueryEngine.monotoneGate(Array.emptyLongArray, false)
    assert(!ge(7L))
    assert(QueryEngine.monotoneGate(Array.emptyLongArray, true)(7L))
  }

  test("windowMatch kernel cases") {
    import QueryEngine.windowMatch
    val byTerm = Map(
      "a" -> Array(0L, 10L, 50L),
      "b" -> Array(3L, 47L),
      "c" -> Array(49L))
    assert(windowMatch(byTerm, Array("a", "b"), 4))       // 0..3 span 3 ≤ 3
    assert(!windowMatch(byTerm, Array("a", "b"), 3))      // min span 3 > 2
    assert(windowMatch(byTerm, Array("a", "b", "c"), 4))  // 47,49,50 span 3
    assert(!windowMatch(byTerm, Array("a", "b", "c"), 3))
    assert(windowMatch(byTerm, Array("a"), 1))            // single term
    assert(!windowMatch(byTerm ++ Map("d" -> Array.empty[Long]),
      Array("a", "d"), 100))                              // empty list
  }

  test("stage-4 scale fallback (broadcast caps 0): segment-identical, rank-identical") {
    built
    // VERDICT r3 #4: the wide-row shuffle-join branch is the declared
    // 10^12-file plan of record and was never executed by any test.
    // Force it (both broadcast caps 0) and require the PHYSICAL index it
    // writes to be segment-for-segment identical to the broadcast-path
    // index — same (term, chunk) grouping, same docID order, same blobs —
    // plus full AND/OR rank-identity through the engine.
    val fbDir = "target/test-index-fallback-sf0001"
    new Directory(new java.io.File(fbDir)).deleteRecursively()
    Index.build(spark, sfDir, fbDir,
      params.copy(broadcastDocStatsUpTo = 0L, broadcastDictUpTo = 0L))
    def segKeys(dir: String) = spark.read.parquet(s"$dir/postings")
      .select(col("term"), col("bucket"), col("df"), col("minDoc"),
        col("maxDoc"), col("count"), sha2(col("docBlob"), 256).as("dh"),
        sha2(col("tfBlob"), 256).as("th"))
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(segKeys(fbDir) == segKeys(indexDir),
      "fallback-built segments differ from broadcast-built segments")
    val fb = new QueryEngine(spark, Seq(fbDir))
    for ((_, qtext) <- Bm25.QuerySet) {
      assert(collectTopK(fb.topK(qtext)) == collectTopK(engine.topK(qtext)),
        s"AND '$qtext'")
      assert(collectTopK(fb.topKOr(qtext)) == collectTopK(engine.topKOr(qtext)),
        s"OR '$qtext'")
    }
    fb.close()
  }

  test("stage-4 scale fallback, positional: phrase rank-identical to broadcast build") {
    val fbDir = "target/test-index-fallback-pos-sf0001"
    new Directory(new java.io.File(fbDir)).deleteRecursively()
    Index.build(spark, sfDir, fbDir,
      BuildParams(numBuckets = 8, saltThreshold = 50, saltChunk = 64,
        segmentSize = 128, partitions = 4, storePositions = true,
        broadcastDocStatsUpTo = 0L, broadcastDictUpTo = 0L))
    val fb = new QueryEngine(spark, Seq(fbDir))
    for ((qid, qtext) <- Bm25.PhraseQuerySet) {
      assert(collectTopK(fb.topKPhrase(qtext)) ==
        collectTopK(posEngine.topKPhrase(qtext)), s"$qid '$qtext'")
    }
    fb.close()
  }

  test("empty query and absent term give empty results (AND semantics)") {
    built
    assert(engine.topK("").count() == 0)
    assert(engine.topK("zzzzunknown").count() == 0)
    assert(engine.topK("window zzzzunknown").count() == 0)
  }

  test("salting: heavy terms split into multiple range-disjoint segments") {
    built
    import spark.implicits._
    val segs = spark.read.parquet(s"$indexDir/postings")
      .select(col("term"), col("minDoc"), col("maxDoc"), col("count"), col("df"))
      .as[(String, Long, Long, Long, Long)].collect()
    val salted = segs.filter(_._5 > params.saltThreshold)
    assert(salted.nonEmpty, "expected df-skewed terms at this corpus")
    val multi = salted.groupBy(_._1).filter(_._2.length > 1)
    assert(multi.nonEmpty, "salted terms should produce multiple segments")
    // ranges disjoint per term
    for ((t, ss) <- segs.groupBy(_._1)) {
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._2, s"term $t: overlapping segments $a / $b")
        case _ =>
      }
    }
  }

  test("posting invariants: strictly increasing docIDs; Σcount == postings; Σtf == Σlen") {
    built
    import spark.implicits._
    val all = spark.read.parquet(s"$indexDir/postings")
      .select(col("term"), col("bucket"), col("df"), col("minDoc"),
        col("maxDoc"), col("count"), col("docBlob"), col("tfBlob"),
        col("blockLastDoc"), col("blockMaxTf"), col("blockMinLen"),
        col("blockDocOff"), col("blockTfOff"),
        col("posBlob"), col("blockPosOff"))
      .as[PostingSegment].collect()
    var totalPostings = 0L
    var totalTf = 0L
    for (s <- all) {
      val ids = Codec.decodeDeltas(s.docBlob, s.count)
      assert(ids.head == s.minDoc && ids.last == s.maxDoc)
      ids.sliding(2).foreach {
        case Array(a, b) => assert(a < b, s"term ${s.term}: non-increasing")
        case _ =>
      }
      totalPostings += s.count
      totalTf += Codec.decodeInts(s.tfBlob, s.count).sum
    }
    val tfRows = spark.read.parquet(s"$indexDir/tf")
    assert(totalPostings == tfRows.count())
    val sumLen = spark.read.parquet(s"$indexDir/docstats")
      .agg(sum(col("len"))).head().getLong(0)
    assert(totalTf == sumLen, "Σtf over postings must equal Σ doc lengths")
  }

  test("dictionary df == segment-count sums; bucketOf is log2-ranged") {
    built
    import spark.implicits._
    val dict = Index.readDictionary(spark, indexDir).collect()
    val segDf = spark.read.parquet(s"$indexDir/postings")
      .groupBy(col("term")).agg(sum(col("count")).as("c"))
      .as[(String, Long)].collect().toMap
    for (d <- dict) {
      assert(segDf(d.term) == d.df, s"term ${d.term}")
      assert(d.bucket == Index.bucketOf(d.df, params.numBuckets))
    }
    assert(Index.bucketOf(1, 16) == 0)
    assert(Index.bucketOf(2, 16) == 1)
    assert(Index.bucketOf(3, 16) == 1)
    assert(Index.bucketOf(1L << 40, 16) == 15)
  }

  test("lineage rows cover every stage with complete status") {
    built
    val stages = Index.readLineage(spark, indexDir)
      .select("stage", "status").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    for (s <- Seq("tf", "docstats", "dictionary", "postings"))
      assert(stages.contains((s, "complete")), s"missing lineage for $s")
  }

  test("resumable build: postings-only rebuild reuses earlier stages, identical results") {
    built
    val before = engine.topKAll().collect().map(_.toSeq).toSeq
    val docstatsMarker = Paths.get(s"$indexDir/_done_docstats")
    val mtime = Files.getLastModifiedTime(docstatsMarker)
    // simulate a crash after dictionary: drop postings output + marker
    Files.deleteIfExists(Paths.get(s"$indexDir/_done_postings"))
    new Directory(new java.io.File(s"$indexDir/postings")).deleteRecursively()
    Index.build(spark, sfDir, indexDir, params)
    assert(Files.getLastModifiedTime(docstatsMarker) == mtime,
      "completed stages must not be recomputed")
    val after = new QueryEngine(spark, Seq(indexDir)).topKAll().collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("build counters: accumulator gauges match lineage-level truth") {
    val dir = "target/test-index-metrics"
    new Directory(new java.io.File(dir)).deleteRecursively()
    Index.build(spark, sfDir, dir, params)
    val m = Index.lastBuildMetrics.get
    val tfRows = spark.read.parquet(s"$dir/tf").count()
    val sumLen = spark.read.parquet(s"$dir/docstats")
      .agg(sum(col("len"))).head().getLong(0)
    assert(m.docs == 500L)
    assert(m.tokens == sumLen)
    assert(m.postings == tfRows, "executor-side posting counter")
    assert(m.segments > 0 && m.encodedBytes > 0)
    assert(m.inputBytes > 0, "listener should observe scan bytes")
    // resumed build does no work → counters stay at zero
    Index.build(spark, sfDir, dir, params)
    val m2 = Index.lastBuildMetrics.get
    assert(m2.postings == 0L && m2.docs == 0L)
  }

  test("format version: stale/pre-version dirs rebuild instead of resuming") {
    val dir = "target/test-index-version"
    new Directory(new java.io.File(dir)).deleteRecursively()
    Index.build(spark, sfDir, dir, params)
    val before = new QueryEngine(spark, Seq(dir)).topKAll().collect().map(_.toSeq).toSeq
    // simulate an old-layout dir: markers present, version file missing
    Files.delete(Paths.get(s"$dir/_format_version"))
    Index.build(spark, sfDir, dir, params)
    assert(Files.exists(Paths.get(s"$dir/_format_version")))
    assert(Index.lastBuildMetrics.get.postings > 0L,
      "version mismatch must force a full rebuild, not a resume")
    val after = new QueryEngine(spark, Seq(dir)).topKAll().collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("per-row sha256 invariant vs source table (input_hint)") {
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("docID"), sha2(col("text"), 256).as("sha"))
    val eng = Corpus.docs(spark, sfDir)
      .select(col("docID"), sha2(col("content"), 256).as("sha"))
    assert(src.exceptAll(eng).count() == 0 && eng.exceptAll(src).count() == 0)
  }

  // ------------------------------------------------- filtered retrieval

  private def langAllowed(lang: String) =
    Corpus.docs(spark, sfDir).filter(col("lang") === lang).select(col("docID"))

  test("filtered retrieval: gate path rank-identical to the filtered brute oracle") {
    built
    for (lang <- Seq("en", "de")) {
      val oracle = Bm25.oracleTopK(spark, sfDir, langFilter = lang)
        .collect().map(_.toSeq).toSeq
      val indexed = engine.topKAllFiltered(langAllowed(lang))
        .collect().map(_.toSeq).toSeq
      assert(indexed == oracle, s"lang=$lang")
      // exactness, not post-filtering: every returned doc IS of the lang
      val ids = Corpus.docs(spark, sfDir).filter(col("lang") === lang)
        .select(col("docID")).collect().map(_.getLong(0)).toSet
      assert(indexed.forall(r => ids.contains(r(2).asInstanceOf[Long])))
    }
  }

  test("filtered retrieval: all three filter shapes identical (gate / negated gate / score-all)") {
    built
    // allowed = all but 3 docs → forces the COMPLEMENT (negated-gate)
    // shape at cap 5, and the score-all semi-join shape at cap 0
    val allowed = Corpus.docs(spark, sfDir)
      .filter(col("docID") >= 3).select(col("docID"))
    val gateEng = engine // default cap: broadcast allowed set
    val negEng = new QueryEngine(spark, Seq(indexDir), filterBroadcastUpTo = 5)
    val postEng = new QueryEngine(spark, Seq(indexDir), filterBroadcastUpTo = 0)
    for ((_, qtext) <- Bm25.QuerySet.take(4)) {
      val a = collectTopK(gateEng.topKFiltered(qtext, allowed))
      assert(collectTopK(negEng.topKFiltered(qtext, allowed)) == a, s"negated '$qtext'")
      assert(collectTopK(postEng.topKFiltered(qtext, allowed)) == a, s"score-all '$qtext'")
      val ao = collectTopK(gateEng.topKFiltered(qtext, allowed, orMode = true))
      assert(collectTopK(negEng.topKFiltered(qtext, allowed, orMode = true)) == ao,
        s"negated OR '$qtext'")
      assert(collectTopK(postEng.topKFiltered(qtext, allowed, orMode = true)) == ao,
        s"score-all OR '$qtext'")
    }
  }

  test("filter-gate cache: content hit, collision fallback, id-bounded eviction") {
    built
    val eng = new QueryEngine(spark, Seq(indexDir), gateCacheMaxIds = 5L)
    try {
      // content hit: equal arrays (distinct instances) share one broadcast
      val b123 = eng.gateBroadcast(Array(1L, 2L, 3L))
      assert(eng.gateBroadcast(Array(1L, 2L, 3L)) eq b123)
      assert(eng.gateCacheIds == 3L)
      // hash collision (java.util.Arrays.hashCode == 31 for BOTH: the
      // single elements 0L and 2^32+1 element-hash to 0): the key is the
      // content, so the resident entry stays resident and the colliding
      // filter falls back to its own entry with ITS OWN content — silently reusing
      // the resident array would apply the wrong filter
      val z = eng.gateBroadcast(Array(0L))
      assert(java.util.Arrays.hashCode(Array(0L)) ==
        java.util.Arrays.hashCode(Array(4294967297L)))
      val c = eng.gateBroadcast(Array(4294967297L))
      assert(c ne z)
      assert(c.value.toSeq == Seq(4294967297L))
      assert(eng.gateBroadcast(Array(0L)) eq z, "resident entry evicted by collision")
      assert(eng.gateBroadcast(Array(4294967297L)) eq c, "colliding entry not cached")
      assert(eng.gateCacheIds == 5L)
      // eviction is bounded by TOTAL retained ids, oldest-touched first:
      // adding 2 ids over the cap of 5 evicts the LRU head (the 3-id
      // array; 0L was touched later), then re-requesting it re-broadcasts
      eng.gateBroadcast(Array(9L, 10L))
      assert(eng.gateCacheIds == 4L)
      assert(eng.gateBroadcast(Array(0L)) eq z, "recently-touched entry evicted")
      assert(eng.gateBroadcast(Array(1L, 2L, 3L)) ne b123)
    } finally eng.close()
  }

  test("BM25F fielded index: indexed frame == fielded oracle; field semantics hold") {
    val fDir = "target/test-index-f-sf0001"
    new Directory(new java.io.File(fDir)).deleteRecursively()
    Index.buildFrom(spark, Bm25.fieldedDocs(Corpus.docs(spark, sfDir)), fDir, params)
    val eng = new QueryEngine(spark, Seq(fDir))
    try {
      val oracle = Bm25.oracleFieldedTopK(spark, sfDir).collect().map(_.toSeq).toSeq
      val indexed = eng.topKAllOver(Bm25.FieldedQuerySet).collect().map(_.toSeq).toSeq
      assert(indexed == oracle)
      val byQ = indexed.groupBy(_.head)
      // f03 "txt": the extension token is in EVERY doc's path → a full
      // page of k results; f05 has an absent term → ∅ under AND
      assert(byQ("f03").size == Bm25.K)
      assert(!byQ.contains("f05"))
      // f01 "src3": every hit's weighted tf ≥ FieldWeightPath only for
      // src3-repo docs; the synthetic content never contains "src3", so
      // the match set is exactly that repo
      val src3 = Corpus.docs(spark, sfDir).filter(col("repo") === "src3")
        .select("docID").collect().map(_.getLong(0)).toSet
      val f01Docs = byQ("f01").map(r => r(2).asInstanceOf[Long]).toSet
      assert(f01Docs.nonEmpty && f01Docs.subsetOf(src3))
    } finally eng.close()
  }

  test("synonym groups: engine == oracle; degenerate identities; range-path identity") {
    built
    // driver-contract parity against the relational oracle
    val oracle = Bm25.oracleSynTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = engine.topKAllSyn().collect().map(_.toSeq).toSeq
    assert(indexed == oracle)
    // y05 (pipe-free) ≡ plain AND — bit-equal unrounded scores
    assert(collectTopK(engine.topKSyn("scan", rounded = false)) ==
      collectTopK(engine.topK("scan")))
    // y07 duplicate members collapse: hash|hash ≡ hash
    assert(collectTopK(engine.topKSyn("hash|hash table", rounded = false)) ==
      collectTopK(engine.topK("hash table")))
    // y03 absent member drops without touching df: window|zzzzunknown ≡ window
    assert(collectTopK(engine.topKSyn("window|zzzzunknown", rounded = false)) ==
      collectTopK(engine.topK("window")))
    // y04 fully absent group → ∅ under AND
    assert(collectTopK(engine.topKSyn("zzzzunknown|qqqmissing batch")).isEmpty)
    // a genuine group never double-counts IDF: its score differs from the
    // naive two-term AND on at least the docs containing both members
    val grouped = collectTopK(engine.topKSyn("hash|join"))
    assert(grouped.nonEmpty)
    // distributed SCAN path (local fast path disabled; side members fit
    // the broadcast cap) is rank-identical to the driver-local path
    val scanPath = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
    // distributed RANGE fallback (broadcast cap disabled too)
    val rangePath = new QueryEngine(spark, Seq(indexDir),
      localWandUpTo = 0L, broadcastPostingsUpTo = -1L)
    try {
      for ((_, qtext) <- Bm25.SynQuerySet) {
        assert(collectTopK(scanPath.topKSyn(qtext)) ==
          collectTopK(engine.topKSyn(qtext)), s"syn scan '$qtext'")
        assert(collectTopK(rangePath.topKSyn(qtext)) ==
          collectTopK(engine.topKSyn(qtext)), s"syn range '$qtext'")
      }
    } finally { scanPath.close(); rangePath.close() }
  }

  test("significant terms: sampler invariants hold over the fixed set") {
    built
    import graft.operators.SigTerms
    val rows = SigTerms.significantTerms(spark, sfDir, engine,
      (q, n) => engine.topK(q, n, rounded = true)).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getString(0))
    // absent-term query contributes nothing; every present query ≤ TopTerms
    assert(!byQ.contains("q05"))
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= SigTerms.TopTerms, q)
      // the query's own terms are excluded from its significant terms
      val qTerms = graft.functions.Analyzer
        .queryTerms(Bm25.QuerySet.toMap.apply(q)).toSet
      assert(rs.forall(r => !qTerms(r.getString(2))), q)
      // fg_df bounded by the sample, positive; ranks are 1..m
      assert(rs.forall(r => r.getLong(3) >= 1 &&
        r.getLong(3) <= SigTerms.SampleSize), q)
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length), q)
    }
  }

  test("keyword doc-values facet == corpus-derived facet; unknown value is empty") {
    built
    val corpusAllowed = Corpus.docs(spark, sfDir)
      .filter(col("lang") === "en").select(col("docID"))
    for ((_, qtext) <- Bm25.QuerySet.take(4)) {
      assert(collectTopK(engine.topKFiltered(qtext,
          engine.prepareLangFacet("en"), Bm25.K, rounded = false,
          orMode = false)) ==
        collectTopK(engine.topKFiltered(qtext, corpusAllowed)), s"'$qtext'")
    }
    // the artifact's facet vocabulary is exactly the corpus's
    val corpusLangs = Corpus.docs(spark, sfDir).select(col("lang"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(engine.langFacetValues() == corpusLangs)
    assert(collectTopK(engine.topKFiltered("window",
      engine.prepareLangFacet("zz"), Bm25.K, rounded = false,
      orMode = false)).isEmpty)
    // SECOND facet dimension (repo) through the same per-field resolver:
    // identical to the corpus-derived gate, vocabulary exact, unknown ∅
    val repoV = engine.facetValues("repo")
    val corpusRepos = Corpus.docs(spark, sfDir).select(col("repo"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(repoV == corpusRepos)
    val someRepo = repoV.head
    val corpusRepoAllowed = Corpus.docs(spark, sfDir)
      .filter(col("repo") === someRepo).select(col("docID"))
    for ((_, qtext) <- Bm25.QuerySet.take(3)) {
      assert(collectTopK(engine.topKFiltered(qtext,
          engine.prepareKeywordFacet("repo", someRepo), Bm25.K,
          rounded = false, orMode = false)) ==
        collectTopK(engine.topKFiltered(qtext, corpusRepoAllowed)), s"'$qtext'")
    }
    assert(collectTopK(engine.topKFiltered("window",
      engine.prepareKeywordFacet("repo", "nosuchrepo"), Bm25.K,
      rounded = false, orMode = false)).isEmpty)
    intercept[IllegalArgumentException] {
      engine.prepareKeywordFacet("license", "mit")
    }
  }

  test("len percentiles: nearest-rank exactness vs an in-test sort; monotone in p") {
    built
    // independent oracle: collect the match set's lens and index directly
    val q = "window"
    val terms = graft.functions.Analyzer.queryTerms(q)
    val lens = Corpus.docs(spark, sfDir)
      .select(col("docID"), graft.functions.Analyzer.tokensCol(col("content")).as("ts"))
      .collect()
      .filter(r => terms.forall(t =>
        r.getSeq[String](1).contains(t)))
      .map(r => (r.getSeq[String](1).length.toLong, r.getLong(0)))
      .sortBy(identity).map(_._1)
    val got = engine.lenPercentilesRelational(q)
    assert(got.map(_._1) == QueryEngine.PercentileSet)
    got.foreach { case (p, l) =>
      val r = math.max(1L, math.ceil(p * lens.length).toLong).toInt
      assert(l == lens(r - 1), s"p=$p: got $l want ${lens(r - 1)}")
    }
    assert(got.map(_._2).zip(got.map(_._2).tail).forall { case (a, b) => a <= b },
      "percentiles must be non-decreasing in p")
    assert(engine.lenPercentilesRelational("zzzzunknown").isEmpty)
  }

  test("filtered retrieval: empty filter is empty; all-docs filter == unfiltered") {
    built
    val none = Corpus.docs(spark, sfDir).filter(col("docID") < 0).select(col("docID"))
    val all = Corpus.docs(spark, sfDir).select(col("docID"))
    for ((_, qtext) <- Bm25.QuerySet.take(3)) {
      assert(collectTopK(engine.topKFiltered(qtext, none)).isEmpty)
      assert(collectTopK(engine.topKFiltered(qtext, all)) ==
        collectTopK(engine.topK(qtext)), s"'$qtext'")
      assert(collectTopK(engine.topKFiltered(qtext, all, orMode = true)) ==
        collectTopK(engine.topKOr(qtext)), s"OR '$qtext'")
    }
  }
}
