package perfbench

import graft.Corpus
import graft.functions.Analyzer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size, sum}

/** Shared corpus step: generate (or reuse the cached copy of) the seeded
  * corpus, and in traced runs time one tokenize pass over it. */
object CorpusStep {
  def apply(spark: SparkSession, a: Main.Args, docs: Int, vocab: Int, seed: Long,
            res: Main.Result, trace: Trace): CorpusGen.Generated = {
    val t0 = System.nanoTime()
    val g = trace.span("Corpus.generate") {
      CorpusGen.generate(spark, a.work.resolve("corpus"), seed, CorpusGen.Spec(docs, vocab))
    }
    if (a.trace) {
      res.put("Corpus.gen_s", Main.secs(t0), "s")
      val t1 = System.nanoTime()
      val tokens = trace.span("Analyzer.tokenize") {
        Corpus.docs(spark, g.dir).select(sum(size(Analyzer.tokensCol(col("content")))))
          .head().getLong(0)
      }
      res.put("Analyzer.tokenize_s", Main.secs(t1), "s")
      res.put("Corpus.tokens", tokens.toDouble, "count")
    }
    g
  }
}

/** `build`: repeated full non-positional builds of one corpus at
  * local[cores] for the measured window, after warm-up builds of a small
  * slice. No query layer runs in the timed window. */
final class BuildWorkload(spark: SparkSession, a: Main.Args, sizes: Main.Sizes,
                          res: Main.Result, trace: Trace, sessionS: Double) {
  import Main._

  def run(): Unit = {
    val b = new Builder(spark, a, trace)
    val warm = CorpusStep(spark, a, sizes.warmDocs, sizes.vocab, a.seed + 1000003L, res,
      new Trace(false))
    val g = CorpusStep(spark, a, sizes.buildDocs, sizes.vocab, a.seed, res, trace)
    phase("corpus")
    // set-up: three warm-up builds of the slice (JIT, codegen, file system
    // caches); set-up time is the session start plus their median
    val warmS = (0 until 3).map { i =>
      b.build(warm.dir, a.run.resolve(s"index-warm-$i"), positional = false, listen = false).seconds
    }
    res.put("setup_s", sessionS + median(warmS), "s")
    (0 until 3).foreach(i => deleteTree(a.run.resolve(s"index-warm-$i")))
    phase("setup")

    val gauges = new Host.Window
    val t0 = System.nanoTime()
    val runs = scala.collection.mutable.ArrayBuffer.empty[BuildRun]
    // alternate traced and untraced builds in traced runs: their ratio is
    // the tracing overhead
    while (runs.length < 2 || secs(t0) < a.seconds) {
      val listen = a.trace && runs.length % 2 == 1
      res.attempted += 1
      runs += b.build(g.dir, a.run.resolve(s"index-${runs.length % 2}"), positional = false,
        listen = listen)
    }
    val gz = gauges.stop()
    phase("window")
    val secsPerBuild = runs.map(_.seconds).toSeq
    val last = runs.last
    b.checkInvariants(last, g.n, res)
    val dps = g.n / median(secsPerBuild)
    res.report("build_docs_per_s") = (dps, "docs/s")
    res.put("index_bytes_per_input_byte", b.indexBytes(last).toDouble / g.inputBytes, "ratio")
    res.put("live_heap_mb", Host.liveHeapMb(spark), "MB")
    res.put("op_p50_ms", median(secsPerBuild) * 1e3, "ms")
    res.put("op_tail_ms", secsPerBuild.max * 1e3, "ms")
    res.info("builds") = secsPerBuild.map(s => f"$s%.3f").mkString(",")
    res.info("docs") = g.n.toString
    res.info("input_bytes") = g.inputBytes.toString
    Workloads.gauges(res, gz)
    if (a.trace) {
      val traced = runs.filter(r => !r.serialS.isNaN)
      val plain = runs.filter(_.serialS.isNaN)
      b.layerMetrics(traced.last, res)
      res.put("Index.build_docs_per_s", dps, "docs/s")
      res.put("trace.overhead_frac",
        median(traced.map(_.seconds).toSeq) / median(plain.map(_.seconds).toSeq) - 1, "ratio")
      Workloads.zeroQueryLayers(res)
    }
    runs.indices.foreach(i => deleteTree(a.run.resolve(s"index-${i % 2}")))
  }
}
