package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.operators.Index
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Benchmark JVM: runs one workload for one seed and writes a result file
  * (metrics with units, box profile, host gauges, correctness) that
  * `run.py` prints. See README.md for the workloads and metrics. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        size: String, work: Path, run: Path, out: Path, cores: Int,
                        heapMb: Long, memTotalMb: Long,
                        perturbCheck: Boolean, genLagMs: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("size", "default"), Paths.get(m("work")), Paths.get(m("run")),
      Paths.get(m("out")),
      m("cores").toInt, m("heap-mb").toLong, m("mem-total-mb").toLong,
      m.getOrElse("perturb-check", "0") == "1", m.getOrElse("gen-lag-ms", "0").toInt)
  }

  /** Corpus and pool sizes per size profile. `tiny` is the smoke size the
    * benchmark's own tests use. */
  final case class Sizes(buildDocs: Int, warmDocs: Int, searchDocs: Int, vocab: Int,
                         hotPool: Int, openPool: Int, coldPool: Int)
  val Profiles: Map[String, Sizes] = Map(
    "default" -> Sizes(buildDocs = 40000, warmDocs = 1500, searchDocs = 6000,
      vocab = 50000, hotPool = 200, openPool = 150, coldPool = 600),
    "tiny" -> Sizes(buildDocs = 2000, warmDocs = 300, searchDocs = 1500,
      vocab = 8000, hotPool = 24, openPool = 40, coldPool = 80))

  /** Closed-loop warm-up before every search window, with this many
    * clients; it runs beside the correctness check and lasts at least this
    * long. C2 is still compiling when the window opens (README: method);
    * one core stays free for the compiler. */
  val WarmSeconds = 8.0
  val WarmClients = 3

  /** Top-k depth of every top-k family; grouped keeps the best 3 per lang. */
  val K = 10
  val GroupN = 3

  /** search-open: fixed Poisson rates (queries/s) and the p95 SLO. Measured
    * on a 4-vCPU VM (README: search-open): p95 stayed at 130-260 ms up to
    * 32/s, 48/s was borderline, and at 64/s the backlog grew on every run
    * (SLO missed), so the knee lies between mid and high. */
  val OpenRates: Seq[(String, Double)] = Seq("low" -> 8.0, "mid" -> 16.0, "high" -> 64.0)
  /** search-open: share of the window each rate gets. */
  val OpenShares: Seq[Double] = Seq(0.45, 0.45, 0.1)
  val OpenSloMs = 400.0
  /** search-open: share of the driver segment cache the hot pool fills. */
  val OpenHotShare = 0.7
  /** search-open: every this-th arrival is a cold (first-seen) query. */
  val OpenColdEvery = 8
  /** search-open: a generator whose release lag p99 exceeds this is flagged. */
  val GenLagMs = 50.0

  // --------------------------------------------------------------- result

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** The workload's named user-facing figures (README), printed next to
      * the metrics. */
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def fail(msg: String): Unit = { failed += 1; errors += msg }
    def json: String = {
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
      def obj(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
        s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
      }.mkString(",")
      val in = info.map { case (k, v) => s""""$k":"${esc(v)}"""" }
      val er = errors.take(20).map(e => "\"" + esc(e) + "\"")
      s"""{"correct":${errors.isEmpty},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":{${obj(metrics)}},"report":{${obj(report)}},"info":{${in.mkString(",")}},""" +
        s""""errors":[${er.mkString(",")}]}"""
    }
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Phase timeline of the run (seconds since JVM start), for the log. */
  private val phases = mutable.ArrayBuffer.empty[String]
  def phase(name: String): Unit = phases.synchronized {
    phases += f"$name@${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f"
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally it.close()
  }
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val it = Files.walk(p)
    try {
      var s = 0L
      it.forEach(x => if (Files.isRegularFile(x)) s += Files.size(x))
      s
    } finally it.close()
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    val trace = new Trace(a.trace)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", a.run.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.run.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    phase("session")
    res.info("profile") = s"local[${a.cores}] heap=${a.heapMb}MB memTotal=${a.memTotalMb}MB " +
      s"pool=${a.cores} threads storage=disk (index, corpus and spark-local under the checkout)"
    res.info("workload") = a.workload
    res.info("seed") = a.seed.toString
    res.info("size") = a.size
    val sizes = Profiles(a.size)
    val code = try {
      a.workload match {
        case "build" => new BuildWorkload(spark, a, sizes, res, trace, sessionS).run()
        case "search-hot" | "search-open" =>
          new SearchWorkload(spark, a, sizes, res, trace, sessionS).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (res.errors.isEmpty) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        1
    }
    if (a.trace) {
      Files.createDirectories(a.work.resolve("traces"))
      trace.write(a.work.resolve("traces").resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
    }
    res.info("phases") = phases.mkString(" ")
    Files.write(a.out, res.json.getBytes("UTF-8"))
    spark.stop()
    System.exit(code)
  }
}

/** One timed index build and what the build layers reported. */
final case class BuildRun(seconds: Double, dir: Path, stageS: Map[String, Double],
                          serialS: Double, busyFrac: Double, shuffleBytes: Long,
                          spillBytes: Long, gcS: Double,
                          codec: Option[Index.BuildMetricsSnapshot])

/** Index-build timing shared by every workload (every workload builds the
  * index it needs; the index is the program's output and never reused). */
final class Builder(spark: SparkSession, a: Main.Args, trace: Trace) {
  import Main._

  def build(corpusDir: String, indexDir: Path, positional: Boolean,
            listen: Boolean): BuildRun = {
    deleteTree(indexDir)
    val lst = if (listen) {
      val l = new JobListener; spark.sparkContext.addSparkListener(l); l
    } else null
    val gc0 = Host.gcMillis()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    trace.span("Index.build") {
      Index.build(spark, corpusDir, indexDir.toString,
        Index.BuildParams(partitions = a.cores, storePositions = positional))
    }
    val s = secs(t0)
    val wall1 = System.currentTimeMillis()
    val gcS = (Host.gcMillis() - gc0) / 1e3
    // stage times from the resume markers each stage writes when it is done
    var prev = wall0
    val stageS = Seq("tf", "docstats", "dictionary", "postings").map { st =>
      val m = Files.getLastModifiedTime(indexDir.resolve(s"_done_$st")).toMillis
      val d = (m - prev) / 1e3
      prev = m
      st -> math.max(0.0, d)
    }.toMap
    val (serial, busy, shuffle, spill) = if (lst != null) {
      ListenerDrain(spark)
      spark.sparkContext.removeSparkListener(lst)
      val covered = lst.taskCoveredMs(wall0, wall1)
      ((wall1 - wall0 - covered) / 1e3,
        lst.taskRunNs.get / 1e9 / math.max(1e-9, s * a.cores),
        lst.shuffleWriteBytes.get, lst.spillBytes.get)
    } else (Double.NaN, Double.NaN, 0L, 0L)
    BuildRun(s, indexDir, stageS, serial, busy, shuffle, spill, gcS, Index.lastBuildMetrics)
  }

  /** Build invariants: docstats rows equal the generated doc count, and the
    * postings lineage token count equals the encoder's posting count. */
  def checkInvariants(b: BuildRun, docs: Long, res: Result): Unit = {
    res.attempted += 2
    val rows = spark.read.parquet(b.dir.resolve("docstats").toString).count()
    if (rows != docs) res.fail(s"invariant: docstats rows $rows != generated docs $docs")
    val lin = Index.readLineage(spark, b.dir.toString)
      .filter(col("stage") === "postings")
      .agg(org.apache.spark.sql.functions.sum(col("tokenCount"))).head().getLong(0)
    val posted = b.codec.map(_.postings).getOrElse(-1L)
    if (lin != posted) res.fail(s"invariant: postings lineage tokenCount $lin != Codec.postings $posted")
  }

  val ArtifactDirs = Seq("tf", "docvals", "docstats", "dictionary", "postings", "lineage")

  /** Per-layer build metrics of one traced build. */
  def layerMetrics(b: BuildRun, res: Result): Unit = {
    Seq("tf", "docstats", "dictionary", "postings").foreach(st =>
      res.put(s"Index.${st}_s", b.stageS(st), "s"))
    res.put("Index.serial_s", b.serialS, "s")
    res.put("Index.task_busy_frac", b.busyFrac, "ratio")
    res.put("Index.shuffle_write_bytes", b.shuffleBytes.toDouble, "bytes")
    res.put("Index.spill_bytes", b.spillBytes.toDouble, "bytes")
    res.put("Index.gc_s", b.gcS, "s")
    val c = b.codec.getOrElse(Index.BuildMetricsSnapshot(0, 0, 0, 0, 0, 0, 0))
    res.put("Codec.postings", c.postings.toDouble, "count")
    res.put("Codec.segments", c.segments.toDouble, "count")
    res.put("Codec.encoded_bytes", c.encodedBytes.toDouble, "bytes")
    ArtifactDirs.foreach(d =>
      res.put(s"Index.bytes.$d", treeBytes(b.dir.resolve(d)).toDouble, "bytes"))
  }

  def indexBytes(b: BuildRun): Long = ArtifactDirs.map(d => treeBytes(b.dir.resolve(d))).sum
}
