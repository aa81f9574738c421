package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.Corpus
import graft.functions.Analyzer
import graft.operators.{Bm25, QueryEngine}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array_contains, col}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Helpers shared by the workloads: host gauges and the per-layer names. */
object Workloads {
  def gauges(res: Main.Result, g: Host.Gauges): Unit = {
    res.info("host_ext_busy_frac") = f"${g.extBusyFrac}%.4f"
    res.info("host_steal_frac") = f"${g.stealFrac}%.4f"
    res.info("host_loadavg") = f"${g.loadAvg}%.2f"
    res.info("own_cores") = f"${g.ownCores}%.2f"
    res.info("window_s") = f"${g.seconds}%.2f"
    res.info("host_calib_ms") = f"${g.calibBeforeMs}%.2f,${g.calibAfterMs}%.2f"
    res.info("host_calib_drift") = f"${g.calibDrift}%.4f"
    res.info("dirty_window") = g.dirty.toString
  }

  val QueryLayers: Seq[(String, String)] = Seq(
    "QueryEngine.open_s" -> "s", "QueryEngine.warm_s" -> "s",
    "Analyzer.parse_us" -> "us", "QueryEngine.expand_prefix_ms" -> "ms",
    "QueryEngine.call_ms" -> "ms", "QueryEngine.collect_ms" -> "ms",
    "spark.jobs_per_query" -> "count", "spark.tasks_per_query" -> "count",
    "QueryEngine.zero_job_frac" -> "ratio") ++
    Queries.Families.map(f => s"family.${f}_p50_ms" -> "ms") ++
    Seq("family.prefix_p99_ms" -> "ms") ++
    Queries.Classes.map(c => s"dfclass.${c}_p50_ms" -> "ms") ++
    Seq("jvm.cpu_ms_per_query" -> "ms", "jvm.gc_ms_per_query" -> "ms")
  val OpenLayers: Seq[(String, String)] =
    Main.OpenRates.map(r => s"open.cpu_frac.${r._1}" -> "ratio") ++
      Seq("open.gen_lag_p99_ms" -> "ms", "open.backlog_max" -> "count")

  /** Layers a workload does not run report 0 (README: layer map). */
  def zeroQueryLayers(res: Main.Result): Unit =
    (QueryLayers ++ OpenLayers).foreach { case (n, u) => res.put(n, 0.0, u) }
  def zeroOpenLayers(res: Main.Result): Unit =
    OpenLayers.foreach { case (n, u) => res.put(n, 0.0, u) }
}

/** `search-hot` (closed loop, 1 client, pool resident in the driver segment
  * cache) and `search-open` (open loop, Poisson arrivals at three fixed
  * rates, Zipf pool overflowing the cache). Every family goes through the
  * public entry points: `search` (and, or, phrase, not, prefix, facet),
  * `countMatches` and `searchGroupedTopK`. */
final class SearchWorkload(spark: SparkSession, a: Main.Args, sizes: Main.Sizes,
                           res: Main.Result, trace: Trace, sessionS: Double) {
  import Main._
  import Queries.Query

  private val open = a.workload == "search-open"

  /** One executed query: wall, call and collect times, and its output
    * (sorted top-k rows, a count, or grouped rows). */
  final case class Done(q: Query, exec: Int, ms: Double, callMs: Double, collectMs: Double,
                        parseUs: Double, expandMs: Double, out: Seq[Any])

  final class Session(val engine: QueryEngine, val groups: QueryEngine#Groups) {
    private val facets = mutable.Map.empty[(String, String), QueryEngine#Facet]
    def facet(f: String, v: String): engine.Facet = facets.synchronized {
      facets.getOrElseUpdate((f, v), engine.prepareKeywordFacet(f, v))
    }.asInstanceOf[engine.Facet]

    private val execs = new AtomicInteger(0)

    def exec(q: Query): Done = {
      val execId = execs.incrementAndGet()
      spark.sparkContext.setLocalProperty(JobListener.QueryProperty, execId.toString)
      val t0 = System.nanoTime()
      var parseUs = Double.NaN
      var expandMs = Double.NaN
      if (trace.enabled) {
        val tp = System.nanoTime()
        trace.span("Analyzer.parseSearch", q.id)(Analyzer.parseSearch(q.text))
        parseUs = (System.nanoTime() - tp) / 1e3
        if (q.family == "prefix") {
          val te = System.nanoTime()
          trace.span("QueryEngine.expandPrefix", q.id)(engine.expandPrefix(q.base))
          expandMs = (System.nanoTime() - te) / 1e6
        }
      }
      val tc = System.nanoTime()
      val (callMs, collectMs, out) = trace.span(s"query.${q.family}", q.id) {
        if (q.family == "count") {
          val n = trace.span("QueryEngine.countMatches", q.id)(engine.countMatches(q.text))
          ((System.nanoTime() - tc) / 1e6, 0.0, Seq(n))
        } else {
          val frame = trace.span("QueryEngine.call", q.id) {
            q.family match {
              case "grouped" =>
                engine.searchGroupedTopK(q.text, groups.asInstanceOf[engine.Groups], GroupN)
              case "or" => engine.search(q.text, K, rounded = true, orMode = true)
              case "facet" => engine.search(q.text, K, rounded = true,
                fieldFacet = (f: String, v: String) => facet(f, v))
              case _ => engine.search(q.text, K, rounded = true)
            }
          }
          val call = (System.nanoTime() - tc) / 1e6
          val tk = System.nanoTime()
          val rows = trace.span("QueryEngine.collect", q.id)(frame.collect())
          val coll = (System.nanoTime() - tk) / 1e6
          val out: Seq[Any] =
            if (q.family == "grouped")
              rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
                .sortBy(r => (r._1, r._2)).toSeq
            else rows.map(r => (r.getLong(0), r.getDouble(1))).sortBy(r => (-r._2, r._1)).toSeq
          (call, coll, out)
        }
      }
      spark.sparkContext.setLocalProperty(JobListener.QueryProperty, null)
      Done(q, execId, (System.nanoTime() - t0) / 1e6, callMs, collectMs, parseUs, expandMs, out)
    }
  }

  def run(): Unit = {
    val b = new Builder(spark, a, trace)
    val g = CorpusStep(spark, a, sizes.searchDocs, sizes.vocab, a.seed, res, trace)
    phase("corpus")
    val lst = if (a.trace) {
      val l = new JobListener; spark.sparkContext.addSparkListener(l); l
    } else null
    // the index this run queries: positional (phrase family), never reused
    val build = b.build(g.dir, a.run.resolve("index"), positional = true, listen = a.trace)
    b.checkInvariants(build, g.n, res)
    res.report("build_docs_per_s") = (g.n / build.seconds, "docs/s")
    res.put("index_bytes_per_input_byte", b.indexBytes(build).toDouble / g.inputBytes, "ratio")
    if (a.trace) {
      b.layerMetrics(build, res)
      res.put("Index.build_docs_per_s", g.n / build.seconds, "docs/s")
    }
    phase("build")

    // search-hot keeps the engine defaults (8M-posting cache on 4 cores).
    // search-open serves a hot pool that fills OpenHotShare of the driver
    // segment cache plus a stream of cold queries (every OpenColdEvery-th
    // arrival, each used once, terms disjoint from the hot pool): the
    // queried postings overflow the cache, every cold query is a segment
    // fetch under the engine monitor, and least-recently-used eviction
    // drops old cold terms before the re-used hot ones. The local-path
    // budget L sizes the cache (4 × L × threads postings) and caps each
    // query's postings (L × threads), so every query is driver-local.
    val threads = math.max(1, a.cores)
    val hot0 = Queries.pool(g, a.seed, if (open) sizes.openPool else sizes.hotPool,
      zipfTerms = open)
    val localWandUpTo =
      if (open) math.max(1000L,
        (Queries.poolPostings(g, hot0) / OpenHotShare / (4.0 * threads)).toLong)
      else 500000L
    def local(qs: Seq[Query]) =
      if (open) qs.filter(_.postings <= localWandUpTo * threads) else qs
    val pool = local(hot0).zipWithIndex.map { case (q, i) => q.copy(id = i) }
    val cold =
      if (!open) IndexedSeq.empty[Query]
      else local(Queries.pool(g, a.seed ^ 0xC01DL, sizes.coldPool, zipfTerms = true,
        exclude = pool.flatMap(_.terms).toSet)).zipWithIndex
        .map { case (q, i) => q.copy(id = pool.size + i) }
    val poolPostings = Queries.poolPostings(g, pool ++ cold)
    val cachePostings = 4L * localWandUpTo * threads
    res.info("pool_queries") = s"${pool.size} hot + ${cold.size} cold"
    res.info("pool_postings") = poolPostings.toString
    res.info("segment_cache_postings") = cachePostings.toString
    res.info("local_wand_up_to") = localWandUpTo.toString

    val langGroups = Corpus.docs(spark, g.dir).select(col("docID"), col("lang").as("grp"))
    // set-up, three times: engine open, collapse-key groups, one warm query
    var session: Session = null
    val setups = (0 until 3).map { i =>
      if (session != null) session.engine.close()
      val t0 = System.nanoTime()
      val e = trace.span("QueryEngine.open") {
        new QueryEngine(spark, Seq(build.dir.toString), localWandUpTo = localWandUpTo)
      }
      val groups = e.prepareGroups(langGroups)
      val openS = secs(t0)
      session = new Session(e, groups)
      val t1 = System.nanoTime()
      trace.span("warmup")(session.exec(pool(i % pool.size)))
      (openS, secs(t1))
    }
    // set-up time: everything before the first timed query — session
    // start, the index build and the median engine open + warm-up
    res.put("setup_s", sessionS + build.seconds + median(setups.map(s => s._1 + s._2)), "s")
    phase("setup")
    if (a.trace) {
      res.put("QueryEngine.open_s", median(setups.map(_._1)), "s")
      res.put("QueryEngine.warm_s", median(setups.map(_._2)), "s")
    }

    // query draws cycle through a seeded permutation of the pool, so every
    // query runs equally often and every seed has the same family and df
    // class mix; seeds differ in corpus, terms and arrival times
    val rnd = new SplittableRandom(a.seed ^ 0xC0FFEEL)
    val order = {
      val xs = Array.range(0, pool.size)
      for (i <- xs.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
      }
      xs
    }
    // the cold stream starts with the window: warm-up runs the hot pool
    var next = 0
    var arrivals = 0
    var nextCold = 0
    var coldOn = false
    def nextQuery(): Query = synchronized {
      arrivals += 1
      if (coldOn && arrivals % OpenColdEvery == 0 && nextCold < cold.size) {
        nextCold += 1
        cold(nextCold - 1)
      } else { next += 1; pool(order(next % pool.size)) }
    }
    // prime: disjunctions over pool terms load their segments in one fetch
    // each (a disjunction within the local cap runs driver-local and caches
    // every term it touches). search-hot loads the whole pool; search-open
    // loads the hot pool (OpenHotShare of the cache), so the window starts
    // in steady state. Then each family runs once.
    val termDf = g.terms.zip(g.termDf).toMap
    val batches = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[String])
    var batchPostings = 0L
    val seenTerms = mutable.Set.empty[String]
    for (q <- pool; t <- q.terms if seenTerms.add(t)) {
      if (batchPostings + termDf(t) > localWandUpTo * threads) {
        batches += mutable.ArrayBuffer.empty[String]
        batchPostings = 0L
      }
      batches.last += t
      batchPostings += termDf(t)
    }
    batches.filter(_.nonEmpty).foreach(b =>
      session.engine.search(b.mkString(" "), K, orMode = true).collect())
    Queries.Families.flatMap(f => pool.find(_.family == f)).foreach(session.exec)
    CorpusGen.Langs.foreach(l => session.facet("lang", l))
    val traceOverhead = if (a.trace) {
      // the same 40 queries untraced (which also warms them), traced, and
      // untraced again; overhead compares the last two passes
      val probe = Seq.fill(40)(nextQuery())
      trace.enabled = false
      spark.sparkContext.removeSparkListener(lst)
      probe.foreach(session.exec)
      trace.enabled = true
      spark.sparkContext.addSparkListener(lst)
      val traced = probe.map(q => session.exec(q).ms).sum
      trace.enabled = false
      spark.sparkContext.removeSparkListener(lst)
      val plain = probe.map(q => session.exec(q).ms).sum
      trace.enabled = true
      spark.sparkContext.addSparkListener(lst)
      traced / plain - 1
    } else Double.NaN

    phase("prime")
    // closed-loop warm-up until C2 has compiled the query paths, side by
    // side with the correctness check (both outside the timed window)
    val tw = System.nanoTime()
    @volatile var checked = false
    val warmers = (0 until WarmClients).map { _ =>
      val t = new Thread(() =>
        while (!checked || secs(tw) < WarmSeconds) session.exec(nextQuery()))
      t.start(); t
    }
    try check(session, g, pool) finally checked = true
    phase("check")
    warmers.foreach(_.join())
    coldOn = open
    phase("warm")
    val (jobs0, tasks0) =
      if (lst != null) { ListenerDrain(spark); (lst.jobs.get, lst.tasks.get) } else (0L, 0L)
    val cpu0 = Host.cpuNanos()
    val gc0 = Host.gcMillis()
    val gauges = new Host.Window
    val jit0 = Host.jitMillis()
    val done = mutable.ArrayBuffer.empty[Done]
    if (open) openLoop(session, nextQuery _, done, _.id >= pool.size)
    else {
      val t0 = System.nanoTime()
      while (secs(t0) < a.seconds) {
        val q = nextQuery()
        res.attempted += 1
        try done += session.exec(q)
        catch { case e: Exception => res.fail(s"query ${q.text}: ${e.getMessage}") }
      }
    }
    // JIT compile time spent in the window: C2 is still compiling the
    // query paths when the window opens (README: method)
    res.info("jit_compile_ms") = (Host.jitMillis() - jit0).toString
    val gz = gauges.stop()
    phase("window")
    val cpuMs = (Host.cpuNanos() - cpu0) / 1e6
    val gcMs = (Host.gcMillis() - gc0).toDouble
    Workloads.gauges(res, gz)
    res.put("live_heap_mb", Host.liveHeapMb(spark), "MB")

    val ms = done.map(_.ms).toSeq
    res.info("window_samples") = s"${ms.size} requests over ${done.map(_.q.id).distinct.size} distinct queries"
    res.info("p50_by_fifth_ms") = ms.grouped(math.max(1, (ms.size + 4) / 5)).map(q => f"${median(q)}%.2f").mkString(",")
    if (!open) {
      // each pool query runs several times in the window: its median
      // latency drops one-off stalls (GC, a noisy neighbour), and the
      // gated figures are the median and the 90th percentile of those
      // per-query medians over the pool
      val perQuery = done.groupBy(_.q.id).values.map(ds => median(ds.map(_.ms).toSeq)).toSeq
      res.put("op_p50_ms", median(perQuery), "ms")
      res.put("op_tail_ms", pct(perQuery, 0.90), "ms")
      res.report("query_p50_ms") = (median(ms), "ms")
      res.report("query_p99_ms") = (pct(ms, 0.99), "ms")
    }
    if (a.trace) {
      ListenerDrain(spark)
      val n = math.max(1, done.size).toDouble
      res.put("spark.jobs_per_query", (lst.jobs.get - jobs0) / n, "count")
      res.put("spark.tasks_per_query", (lst.tasks.get - tasks0) / n, "count")
      // jobs carry the id of the query execution that launched them
      val withJobs = done.count(d => lst.jobsByQuery.containsKey(d.exec.toString))
      res.put("QueryEngine.zero_job_frac", 1.0 - withJobs / n, "ratio")
      res.put("Analyzer.parse_us", median(done.map(_.parseUs).filterNot(_.isNaN).toSeq), "us")
      res.put("QueryEngine.expand_prefix_ms",
        median(done.map(_.expandMs).filterNot(_.isNaN).toSeq), "ms")
      res.put("QueryEngine.call_ms", median(done.map(_.callMs).toSeq), "ms")
      res.put("QueryEngine.collect_ms",
        median(done.filter(_.q.family != "count").map(_.collectMs).toSeq), "ms")
      Queries.Families.foreach(f =>
        res.put(s"family.${f}_p50_ms", median(done.filter(_.q.family == f).map(_.ms).toSeq), "ms"))
      res.put("family.prefix_p99_ms",
        pct(done.filter(_.q.family == "prefix").map(_.ms).toSeq, 0.99), "ms")
      Queries.Classes.foreach(c =>
        res.put(s"dfclass.${c}_p50_ms", median(done.filter(_.q.dfClass == c).map(_.ms).toSeq), "ms"))
      res.put("jvm.cpu_ms_per_query", cpuMs / n, "ms")
      res.put("jvm.gc_ms_per_query", gcMs / n, "ms")
      res.put("trace.overhead_frac", traceOverhead, "ratio")
      if (!open) Workloads.zeroOpenLayers(res)
      spark.sparkContext.removeSparkListener(lst)
    }

    session.engine.close()
  }

  // ------------------------------------------------------------ open loop

  /** Open loop: each rate gets its share of the window, and its arrival
    * times are `rate × share × window` points drawn uniformly over that
    * part (a Poisson process conditioned on its count); one dispatcher thread releases each request at its due time
    * to a pool of `cores` workers. Latency is completion minus due time. */
  private def openLoop(s: Session, next: () => Query, done: mutable.ArrayBuffer[Done],
                       isCold: Query => Boolean): Unit = {
    val servedWarm = mutable.ArrayBuffer.empty[Double]
    val servedCold = mutable.ArrayBuffer.empty[Double]
    var lagged = false
    var maxQps = 0.0
    var backlogMax = 0
    val lags = mutable.ArrayBuffer.empty[Double]
    val rawLat = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rnd = new SplittableRandom(a.seed ^ 0x0BE11L)
    OpenRates.zip(OpenShares).foreach { case ((name, rate), share) =>
      val sub = a.seconds * share
      val n = math.max(1, math.round(rate * sub).toInt)
      val due = Array.fill(n)(rnd.nextDouble() * sub * 1e9).sorted.map(_.toLong)
      val qs = Array.fill(n)(next())
      val workers = Executors.newFixedThreadPool(a.cores)
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val warmLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val coldLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val pending = new AtomicInteger(0)
      val backlog = new Array[Int](n)
      val cpu0 = Host.cpuNanos()
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val wait = t0 + due(i) - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        if (a.genLagMs > 0) Thread.sleep(a.genLagMs)
        val dueAbs = t0 + due(i)
        lags += (System.nanoTime() - dueAbs) / 1e6
        backlog(i) = pending.getAndIncrement()
        val q = qs(i)
        val i0 = i
        res.attempted += 1
        workers.submit(new Runnable {
          def run(): Unit = {
            try {
              val d = s.exec(q)
              val l = (System.nanoTime() - dueAbs) / 1e6
              lat.add(l)
              if (isCold(q)) coldLat.add(l) else warmLat.add(l)
              rawLat.add(s"$name,${due(i0)},${q.id},${q.family},$l,${d.ms}")
              done.synchronized(done += d)
            } catch {
              case e: Exception => res.synchronized(res.fail(s"query ${q.text}: ${e.getMessage}"))
            } finally pending.decrementAndGet()
          }
        })
        i += 1
      }
      workers.shutdown()
      if (!workers.awaitTermination(30, TimeUnit.SECONDS)) {
        workers.shutdownNow()
        res.synchronized(res.fail(s"open loop at $name: requests still running 30 s after the window"))
      }
      val wall = secs(t0)
      val cpuFrac = (Host.cpuNanos() - cpu0) / 1e9 / (wall * a.cores)
      val ls = lat.asScala.toSeq
      val p50 = median(ls)
      val p95 = pct(ls, 0.95)
      // a growing backlog: the last third of arrivals queued behind more
      // requests than the first third plus one per worker
      val third = math.max(1, n / 3)
      val growing = backlog.takeRight(third).sum.toDouble / third >
        backlog.take(third).sum.toDouble / third + a.cores
      backlogMax = math.max(backlogMax, backlog.max)
      val ok = p95 <= OpenSloMs && !growing
      if (ok) maxQps = math.max(maxQps, ls.size / wall)
      if (name != OpenRates.last._1) {
        servedWarm ++= warmLat.asScala
        servedCold ++= coldLat.asScala
      }
      res.report(s"open_p50_ms.$name") = (p50, "ms")
      res.report(s"open_p95_ms.$name") = (p95, "ms")
      res.info(s"open_$name") = f"rate=$rate%.1f/s n=$n completed=${ls.size} " +
        f"p50=$p50%.1fms p95=$p95%.1fms cpu_frac=$cpuFrac%.3f backlog_max=${backlog.max} " +
        f"growing=$growing slo_met=$ok"
      if (a.trace) res.put(s"open.cpu_frac.$name", cpuFrac, "ratio")
    }
    if (a.trace) {
      // rate, due offset (ns), query id, family, latency (ms), service (ms)
      java.nio.file.Files.createDirectories(a.work.resolve("traces"))
      java.nio.file.Files.write(a.work.resolve("traces").resolve(s"open-latencies-${a.seed}.csv"),
        rawLat.asScala.mkString("\n").getBytes("UTF-8"))
    }
    val lagP99 = pct(lags.toSeq, 0.99)
    lagged = lagP99 > GenLagMs
    res.info("open_generator_lagged") = lagged.toString
    if (lagged) res.info("dirty_generator") = f"generator lag p99 $lagP99%.1f ms > $GenLagMs%.0f ms"
    res.report("max_qps_slo") = (maxQps, "1/s")
    // pooled over the rates below the knee (low, mid; high is past it,
    // where latency is queueing that grows with the window): the median of
    // the warm (hot-pool) requests, stalls behind cold loads included, and
    // the median of the cold ones (1 in OpenColdEvery arrivals): a cache
    // miss and its segment fetch. Percentiles of all requests together
    // fall where the warm and the cold latencies meet, and jump run to run.
    res.put("op_p50_ms", median(servedWarm.toSeq), "ms")
    res.put("op_tail_ms", median(servedCold.toSeq), "ms")
    if (a.trace) {
      res.put("open.gen_lag_p99_ms", lagP99, "ms")
      res.put("open.backlog_max", backlogMax.toDouble, "count")
    }
  }

  // ---------------------------------------------------------- correctness

  /** Compare a seeded sample of every family's rounded top-k (count,
    * grouped rows) with the exact `Bm25` oracles on the generated corpus.
    * Runs before the timed window, beside the warm-up. */
  private def check(s: Session, g: CorpusGen.Generated, pool: Seq[Query]): Unit = {
    val rnd = new SplittableRandom(a.seed ^ 0xC4EC4L)
    def sample(f: String): Option[Query] = {
      val xs = pool.filter(_.family == f)
      if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
    }
    // the oracles re-derive term frequencies from the corpus on every
    // call; caching the identical frames lets Spark reuse them
    val docs = Corpus.docs(spark, g.dir)
    val tfCached = Bm25.termFreq(docs).cache()
    val toks = docs.select(col("docID"), Analyzer.tokensCol(col("content")).as("toks")).cache()
    phase("check.cache")
    try {
      val r4 = QueryEngine.r4 _
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def roundedTop(xs: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
        xs.map { case (d, v) => (d, r4(v)) }.sortBy(r => (-r._2, r._1)).take(k)
      // deepen the oracle until no unseen doc can tie the k-th rounded score
      def settled(fetch: Int => Seq[(Long, Double)]): Seq[(Long, Double)] = {
        var depth = 4 * K
        var xs = fetch(depth)
        while (xs.length == depth && roundedTop(xs, K).length == K &&
               r4(xs.last._2) >= roundedTop(xs, K).last._2) {
          depth *= 4
          xs = fetch(depth)
        }
        roundedTop(xs, K)
      }
      def compare(q: Query, expected: Seq[Any]): Unit = {
        res.attempted += 1
        val got0 = s.exec(q).out
        val got = if (a.perturbCheck && got0.nonEmpty) got0.head match {
          case (d: Long, v: Double) => (d + 1, v) +: got0.tail
          case (gr: String, rk: Int, d: Long, v: Double) => (gr, rk, d + 1, v) +: got0.tail
          case n: Long => Seq(n + 1)
        } else got0
        if (got != expected)
          res.fail(s"${q.family} '${q.text}': engine ${got.take(3).mkString(",")} " +
            s"!= oracle ${expected.take(3).mkString(",")} (${got.size} vs ${expected.size} rows)")
      }
      val n = g.n
      val (andQ, notQ, orQ, phraseQ, prefixQ) =
        (sample("and"), sample("not"), sample("or"), sample("phrase"), sample("prefix"))
      val facetLang = CorpusGen.Langs(rnd.nextInt(CorpusGen.Langs.length))
      // the or, phrase and prefix oracles are independent Spark jobs: they
      // run side by side with the exhaustive AND oracle below
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val expected = Seq(
        orQ.map(q => q -> Future(settled(d =>
          rows(Bm25.oracleTopKOrExact(spark, g.dir, q.text, d))))),
        phraseQ.map(q => q -> Future(settled(d =>
          rows(Bm25.oraclePhraseTopKExact(spark, g.dir, q.text, d))))),
        prefixQ.map(q => q -> Future(settled(d =>
          rows(Bm25.oraclePrefixTopKExact(spark, g.dir, q.base, d)))))).flatten
      andQ.foreach { base =>
        // and, not, facet, count and grouped share one base: one exhaustive
        // AND oracle call serves all five
        val allAnd = rows(Bm25.oracleTopKExact(spark, g.dir, base.base, n))
        compare(base, roundedTop(allAnd, K))
        compare(base.copy(family = "count"), Seq(allAnd.size.toLong))
        val lang: Map[Long, String] = docs.select(col("docID"), col("lang"))
          .filter(col("docID").isin(allAnd.map(_._1): _*)).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val grouped = allAnd.groupBy(d => lang(d._1)).toSeq.flatMap { case (gname, xs) =>
          roundedTop(xs, GroupN).zipWithIndex.map { case ((d, v), i) => (gname, i + 1, d, v) }
        }.sortBy(r => (r._1, r._2))
        compare(base.copy(family = "grouped"), grouped)
        compare(base.copy(family = "facet", text = s"${base.base} lang:$facetLang"),
          roundedTop(allAnd.filter(d => lang(d._1) == facetLang), K))
        notQ.foreach { nq =>
          val negDocs = toks.filter(array_contains(col("toks"), nq.neg)).select(col("docID"))
            .collect().map(_.getLong(0)).toSet
          compare(base.copy(family = "not", text = s"${base.base} -${nq.neg}"),
            roundedTop(allAnd.filterNot(d => negDocs(d._1)), K))
        }
      }
      phase("check.and")
      expected.foreach { case (q, f) =>
        compare(q, Await.result(f, scala.concurrent.duration.Duration.Inf)) }
    } finally {
      tfCached.unpersist(true)
      toks.unpersist(true)
    }
  }
}

/** Drain Spark's asynchronous listener bus before reading counters. */
object ListenerDrain {
  def apply(spark: SparkSession): Unit =
    org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
}
