package graft

import graft.operators.{Bm25, Index, QueryEngine}
import graft.operators.Index.BuildParams
import graft.streaming.{Events, IncrementalIndex, StreamingDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.reflect.io.Directory

/** Structured-Streaming surface: incremental (LSM) index maintenance and
  * event-stream analytics. All streams are bounded file-source replays
  * (Trigger.AvailableNow) — deterministic, no wall-clock dependence. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  private val sfDir = SparkFixture.Sf0001

  /** The ranked driver-contract frame of a fixed query set, one
    * per-query engine call each. */
  private def contract(qs: Seq[(String, String)])(
      run: String => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    SparkEntry.ranked(qs.map { case (qid, q) => qid -> run(q) })

  // ------------------------------------------------- incremental index

  test("incremental ingestion: base+deltas rank-identical to one-shot build") {
    import spark.implicits._
    val stage = "target/test-stream-docs"
    val lsm = "target/test-stream-lsm"
    val full = "target/test-stream-full"
    Seq(stage, lsm, full).foreach(d =>
      new Directory(new java.io.File(d)).deleteRecursively())

    // split the corpus into 3 docID ranges; write one file per range so
    // maxFilesPerTrigger=1 replays them as 3 ordered micro-batches
    val docs = Corpus.docs(spark, sfDir).cache()
    val cuts = Seq((0L, 170L), (170L, 340L), (340L, Long.MaxValue))
    cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      docs.filter(col("docID") >= lo && col("docID") < hi)
        .coalesce(1).write.parquet(s"$stage/part_$i")
      Thread.sleep(1100) // distinct mtimes → deterministic file order
    }

    val params = BuildParams(numBuckets = 8, saltThreshold = 50,
      saltChunk = 64, segmentSize = 128, partitions = 4)
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$stage/part_*")
    IncrementalIndex.ingest(stream, lsm, params).awaitTermination()

    val deltas = IncrementalIndex.deltaDirs(lsm)
    assert(deltas.size == 3, s"expected 3 delta indexes, got $deltas")

    Index.build(spark, sfDir, full, params)
    val oneShot = new QueryEngine(spark, Seq(full))
    val merged = IncrementalIndex.engine(spark, lsm)

    assert(merged.stats == oneShot.stats, "combined stats must be exact")
    val a = contract(Bm25.QuerySet)(merged.topK(_, rounded = true)).collect().map(_.toSeq).toSeq
    val b = contract(Bm25.QuerySet)(oneShot.topK(_, rounded = true)).collect().map(_.toSeq).toSeq
    assert(a == b, "LSM query result must equal the one-shot index")
    val ao = contract(Bm25.QuerySet)(merged.topKOr(_, rounded = true)).collect().map(_.toSeq).toSeq
    val bo = contract(Bm25.QuerySet)(oneShot.topKOr(_, rounded = true)).collect().map(_.toSeq).toSeq
    assert(ao == bo)
    // synonym groups across constituent indexes: member df sums across
    // the disjoint deltas BEFORE the group max, so the pseudo-term's
    // df/idf equal the one-shot index's
    val as = contract(Bm25.SynQuerySet)(merged.topKSyn(_)).collect().map(_.toSeq).toSeq
    val bs = contract(Bm25.SynQuerySet)(oneShot.topKSyn(_)).collect().map(_.toSeq).toSeq
    assert(as == bs, "LSM synonym result must equal the one-shot index")
  }

  test("compaction of deltas == one-shot build (rank-identical, same stats)") {
    // depends on the ingestion test's outputs; rebuild if absent
    val lsm = "target/test-stream-lsm"
    val full = "target/test-stream-full"
    val compacted = "target/test-stream-compacted"
    assume(IncrementalIndex.deltaDirs(lsm).size == 3,
      "ingestion test must have run first")
    new Directory(new java.io.File(compacted)).deleteRecursively()
    val params = BuildParams(numBuckets = 8, saltThreshold = 50,
      saltChunk = 64, segmentSize = 128, partitions = 4)
    IncrementalIndex.compact(spark, IncrementalIndex.deltaDirs(lsm), compacted, params)
    val c = new QueryEngine(spark, Seq(compacted))
    val oneShot = new QueryEngine(spark, Seq(full))
    assert(c.stats == oneShot.stats)
    assert(contract(Bm25.QuerySet)(c.topK(_, rounded = true)).collect().map(_.toSeq).toSeq ==
      contract(Bm25.QuerySet)(oneShot.topK(_, rounded = true)).collect().map(_.toSeq).toSeq)
  }

  test("tombstone deletes: queries exclude deleted docs, brute-twin exact, idempotent") {
    import spark.implicits._
    val base = "target/test-stream-deletes"
    new Directory(new java.io.File(base)).deleteRecursively()
    val params = BuildParams(numBuckets = 8, saltThreshold = 50,
      saltChunk = 64, segmentSize = 128, partitions = 4)
    Index.build(spark, sfDir, base, params)
    val eng = new QueryEngine(spark, Seq(base))
    val delIds = Corpus.docs(spark, sfDir)
      .filter(col("docID") % 5 === 1).select(col("docID"))
    IncrementalIndex.delete(delIds, base)
    val tombDir = IncrementalIndex.tombstoneDir(base)
    def tombState() = (new java.io.File(tombDir).listFiles().count(_.getName.endsWith(".parquet")),
      spark.read.parquet(tombDir).count())
    val before = tombState()
    IncrementalIndex.delete(delIds, base) // replay: must change nothing
    assert(tombState() == before, "a replayed delete appended tombstones")
    val deny = IncrementalIndex.denyFacet(spark, base, eng).get
    val del = delIds.as[Long].collect().toSet
    def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.select(col("docID").cast("long"), col("score").cast("double"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for ((qid, qtext) <- Bm25.QuerySet) {
      val got = hits(eng.topKFiltered(qtext, deny, Bm25.K,
        rounded = false, orMode = false))
      assert(got.forall(h => !del(h._1)), s"$qid returned a deleted doc")
      // brute twin: exclusion BEFORE top-k; stats over the FULL corpus
      // (Lucene deleted-doc semantics pre-compaction)
      val brute = hits(Bm25.oracleTopKExact(spark, sfDir, qtext, k = 1_000_000))
        .filterNot(h => del(h._1)).take(Bm25.K)
      assert(got.map(_._1) == brute.map(_._1),
        s"$qid '$qtext': ranking differs\n brute=$brute\n got=$got")
      brute.zip(got).foreach { case ((d, bs), (_, is)) =>
        assert(math.abs(bs - is) < 1e-9, s"$qid doc $d: brute=$bs got=$is")
      }
    }
  }

  test("compaction with tombstones drops deleted docs AND their stat contributions") {
    import spark.implicits._
    val base = "target/test-stream-deletes"
    val compacted = "target/test-stream-deletes-compacted"
    val fresh = "target/test-stream-deletes-fresh"
    assume(IncrementalIndex.tombstones(spark, base).nonEmpty,
      "tombstone delete test must have run first")
    Seq(compacted, fresh).foreach(d =>
      new Directory(new java.io.File(d)).deleteRecursively())
    val params = BuildParams(numBuckets = 8, saltThreshold = 50,
      saltChunk = 64, segmentSize = 128, partitions = 4)
    IncrementalIndex.compact(spark, Seq(base), compacted, params,
      IncrementalIndex.tombstones(spark, base))
    // the exactness oracle: a fresh one-shot build over ONLY survivors
    Index.buildFrom(spark,
      Corpus.docs(spark, sfDir).filter(col("docID") % 5 =!= 1), fresh, params)
    val c = new QueryEngine(spark, Seq(compacted))
    val f = new QueryEngine(spark, Seq(fresh))
    assert(c.stats == f.stats,
      s"compaction must recompute N/avgdl over survivors: ${c.stats} vs ${f.stats}")
    assert(contract(Bm25.QuerySet)(c.topK(_, rounded = true)).collect().map(_.toSeq).toSeq ==
      contract(Bm25.QuerySet)(f.topK(_, rounded = true)).collect().map(_.toSeq).toSeq)
    assert(contract(Bm25.QuerySet)(c.topKOr(_, rounded = true)).collect().map(_.toSeq).toSeq ==
      contract(Bm25.QuerySet)(f.topKOr(_, rounded = true)).collect().map(_.toSeq).toSeq)
  }

  test("deny set beyond the gate cap demands compaction") {
    val base = "target/test-stream-deletes"
    assume(IncrementalIndex.tombstones(spark, base).nonEmpty,
      "tombstone delete test must have run first")
    val small = new QueryEngine(spark, Seq(base), filterBroadcastUpTo = 3)
    val e = intercept[IllegalArgumentException] {
      IncrementalIndex.denyFacet(spark, base, small)
    }
    assert(e.getMessage.contains("compact"))
  }

  test("incremental ingestion is idempotent under batch replay") {
    import spark.implicits._
    val lsm = "target/test-stream-replay"
    new Directory(new java.io.File(lsm)).deleteRecursively()
    val docs = Corpus.docs(spark, sfDir).limit(50).cache()
    val params = BuildParams(partitions = 2)
    // simulate foreachBatch retry: build the same delta twice
    Index.buildFrom(spark, docs, IncrementalIndex.deltaDir(lsm, 0L), params)
    val postings1 = spark.read.parquet(s"${IncrementalIndex.deltaDir(lsm, 0L)}/postings")
      .count()
    Index.buildFrom(spark, docs, IncrementalIndex.deltaDir(lsm, 0L), params)
    val postings2 = spark.read.parquet(s"${IncrementalIndex.deltaDir(lsm, 0L)}/postings")
      .count()
    assert(postings1 == postings2, "replayed batch must be a no-op")
  }

  test("overlapping docID ranges across indexes are rejected") {
    val lsm = "target/test-stream-overlap"
    new Directory(new java.io.File(lsm)).deleteRecursively()
    val docs = Corpus.docs(spark, sfDir).limit(20).cache()
    val params = BuildParams(partitions = 2)
    Index.buildFrom(spark, docs, s"$lsm/a", params)
    Index.buildFrom(spark, docs, s"$lsm/b", params) // same docIDs
    val e = intercept[IllegalArgumentException] {
      new QueryEngine(spark, Seq(s"$lsm/a", s"$lsm/b"))
    }
    assert(e.getMessage.contains("overlap"))
  }

  // ------------------------------------------------- event-stream ops

  test("streaming windowed counts equal the batch aggregation") {
    val streaming = Events.windowedCountsStreaming(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = Events.windowedCountsBatch(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streaming.nonEmpty && streaming == batch)
  }

  test("streaming sessions (append) = batch sessions sealed by the final watermark") {
    val batch = Events.sessionsBatch(spark, sfDir).collect().map(_.toSeq).toSeq
    val streamed = Events.sessionsStreaming(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "bounded replay should seal most sessions")
    // watermark at replay end: max event time - watermark delay
    val wm = spark.read.parquet(s"$sfDir/events.parquet")
      .agg(max(col("ts"))).head()
      .getAs[java.time.LocalDateTime](0).minusHours(1)
    // a session is sealed iff its window end (last event + gap) ≤ watermark
    val sealedSessions = batch.filter { row =>
      val end = row(2).asInstanceOf[java.time.LocalDateTime]
      !end.plusMinutes(30).isAfter(wm)
    }
    assert(streamed == sealedSessions,
      s"streamed ${streamed.size} sessions, expected ${sealedSessions.size} sealed of ${batch.size}")
  }

  test("stateful streaming dedup (mapGroupsWithState) == batch exact dedup") {
    val streamed = StreamingDedup.exactDedupStreaming(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Dedup.exactDedup(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }
}
