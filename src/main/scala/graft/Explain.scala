package graft

import graft.operators.{Bm25, Dedup, Index, Metrics, QueryEngine, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan-audit main: dumps `explain("formatted")` for the headline
  * operators so the physical plans can be reviewed (pushdown, pruning,
  * broadcast choices, codegen spans). Output is committed to PLANS.md.
  *
  * Usage: sbt -batch "runMain graft.Explain [sfDir]" */
object Explain {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def show(name: String, note: String, df: DataFrame): Unit = {
      println(s"\n## $name\n\n$note\n\n```")
      df.explain("formatted")
      println("```")
    }

    show("corpus scan, projected + filtered",
      "Expect: ReadSchema limited to doc_id/text-derived columns and " +
        "PushedFilters on doc_id — predicate + projection reach the scan.",
      Corpus.docs(spark, sfDir).select(col("docID"), col("lang"))
        .filter(col("docID") < 100))

    show("tf projection (index stage 1)",
      "Expect: NO Exchange anywhere — per-doc term frequencies are " +
        "computed row-locally by the fused TokenCounts kernel (counted " +
        "explode + struct projection); every token of a doc lives in " +
        "one source row, so the old groupBy(docID, term) exchange " +
        "aggregated groups that never crossed a partition.",
      Bm25.termFreq(Corpus.docs(spark, sfDir)))

    val indexDir = "/tmp/graft/explain_index"
    Index.build(spark, sfDir, indexDir)
    show("postings scan for a 2-term query (pruned)",
      "Expect: PartitionFilters on bucket (directory pruning), " +
        "PushedFilters on term (row-group stats).",
      Index.readSegments(spark, indexDir, Seq("hash", "join"),
        Seq(Index.bucketOf(100, 16), Index.bucketOf(400, 16), 7, 8, 9)
          .distinct).toDF())

    show("indexed BM25 top-k (scan path, physical)",
      "Expect: no Exchange before the WAND mapPartitions; a single " +
        "TakeOrderedAndProject on (score desc, docID asc). " +
        "(localWandUpTo=0 pins the distributed path for this dump.)",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .topK("hash join"))

    show("indexed BM25 top-k, multi-term OR (scan path, physical)",
      "Expect: SAME shape as AND — no Exchange before the WAND " +
        "mapPartitions, one TakeOrderedAndProject. OR tasks derive owned " +
        "docID intervals from the cached driver-segment range directory " +
        "(gap coverage included), so multi-term OR pays no per-query " +
        "segment shuffle either.",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .topKOr("hash join"))

    show("indexed BM25 top-k, faceted (broadcast gate, scan path)",
      "Expect: IDENTICAL plan to the unfiltered scan path — the filter " +
        "rides the closure as a sorted-array broadcast gate checked " +
        "inside the WAND kernel at the aligned candidate (before top-k " +
        "pruning), adding zero operators and zero Exchange. The gate's " +
        "allowed set resolved from the index's OWN keyword doc-values " +
        "artifact (docvals), never the corpus.",
      {
        val eng = new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        eng.topKFiltered("hash join", eng.prepareKeywordFacet("lang", "en"),
          Bm25.K, rounded = false, orMode = false)
      })

    show("keyword facet prep (per-field docvals artifact, repo dimension)",
      "Expect: PartitionFilters on field (directory pruning — only the " +
        "field=repo partition is read) and PushedFilters on value " +
        "(row-group stats; the artifact is (value, docID)-sorted within " +
        "each field); ReadSchema is docID only after pruning. The " +
        "corpus is never touched.",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .keywordFacetDocs("repo", "src3"))

    val posDir = "/tmp/graft/explain_index_pos"
    Index.build(spark, sfDir, posDir,
      Index.BuildParams(storePositions = true))
    show("indexed BM25 top-k, proximity window (scan path, physical)",
      "Expect: IDENTICAL shape to the AND scan path — no Exchange before " +
        "the WAND mapPartitions, one TakeOrderedAndProject. The window " +
        "gate is a per-candidate positional sweep inside the kernel, " +
        "adding zero operators.",
      new QueryEngine(spark, Seq(posDir), localWandUpTo = 0L)
        .topKWindow("hash join", 8))

    show("unified search-box query (terms + phrase + NOT, scan path)",
      "Expect: IDENTICAL shape to the AND scan path — no Exchange before " +
        "the WAND mapPartitions, one TakeOrderedAndProject. The quoted " +
        "phrase rides the kernel's positional gate and the -negation an " +
        "anti-posting iterator: parsing one raw search string adds zero " +
        "plan operators over plain AND.",
      new QueryEngine(spark, Seq(posDir), localWandUpTo = 0L)
        .search("""scan "table hash" -slow"""))

    show("indexed BM25 top-k, prefix expansion (scan path, physical)",
      "Expect: SAME shape as multi-term OR — the expansion happened " +
        "driver-side against the pinned dictionary (no job), and the " +
        "expanded terms run the ordinary OR scan path: no per-query " +
        "Exchange, one TakeOrderedAndProject.",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .topKPrefix("s"))

    show("indexed BM25 top-k, wildcard expansion (scan path, physical)",
      "Expect: SAME shape as prefix — the contains-expansion happened " +
        "driver-side against the pinned dictionary (no job), and the " +
        "expanded terms run the ordinary OR scan path: no per-query " +
        "Exchange, one TakeOrderedAndProject.",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .topKWildcard("ow"))

    show("indexed BM25 top-k, regexp expansion (scan path, physical)",
      "Expect: SAME shape as wildcard — the full-match expansion " +
        "happened driver-side against the pinned dictionary (no job), " +
        "and the expanded terms run the ordinary OR scan path: no " +
        "per-query Exchange, one TakeOrderedAndProject.",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .topKRegex("s(can|ort)"))

    show("static-rank rescore (stage-2 blend, window frame broadcast)",
      "Expect: the Q·R-row stage-1 window frame behind a " +
        "BroadcastExchange (build side) into ONE probe join against the " +
        "N-row PageRank vector — the rank artifact is scanned once per " +
        "query SET with no corpus-proportional shuffle; the final " +
        "re-rank window is partitionBy(query) over ≤ Q·R rows.",
      {
        val eng = new QueryEngine(spark, Seq(indexDir))
        graft.operators.Rescore.rescoredAllWith(eng,
          graft.operators.LinkGraph.pageRankAll(spark, sfDir))
      })

    show("term vectors (index point read, cross-gate surface)",
      "Expect: the stage-1 tf scan carries PushedFilters In(docID, " +
        "[...]) — a point read of the five fixture docs, never a full " +
        "artifact scan; the ≤ |ids|·|doc terms| tf rows behind a " +
        "BroadcastExchange probing the dictionary aggregate.",
      new QueryEngine(spark, Seq(indexDir))
        .termVectors(Bm25.TermVectorDocs))

    show("synonym-group query (distributed scan path, physical)",
      "Expect: SAME shape as the AND/OR scan path — the driver MEMBER's " +
        "pruned segments scan into the WAND mapPartitions with NO " +
        "Exchange before it, one TakeOrderedAndProject. Each task " +
        "derives owned docID intervals from the driver member's range " +
        "directory (gap coverage — an AND match may contain the driver " +
        "GROUP only via a broadcast side member) and k-way merges each " +
        "group's members within the interval into a synthetic block-max " +
        "pseudo-term (tf summed, df = max) before the ordinary " +
        "conjunctive kernel. Beyond the side broadcast cap a groupByKey " +
        "range path takes over (path-identity spec-asserted); below the " +
        "caps the query never reaches a plan at all (driver-local merge " +
        "+ kernel), which is the common case.",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .topKSyn("hash|join table"))

    show("length-histogram aggregation (relational fallback, artifact-side)",
      "Expect: NO corpus scan — the tf artifact scan carries " +
        "PushedFilters In(term, [...]) (term-pruned row groups); one " +
        "match-set aggregate (partial_count before its Exchange), the " +
        "docStats join, and a bucket hash-agg whose input is the match " +
        "set, never the corpus. (The resident path is a driver kernel — " +
        "no plan at all; this fallback is the 10^12-doc shape.)",
      new QueryEngine(spark, Seq(indexDir), localWandUpTo = 0L)
        .lenHistogramRelational("hash join", Bm25.HistogramWidth))

    show("search snippets (fetch-by-id + codegen argmax)",
      "Expect: the corpus scan carries PushedFilters: In(doc_id, [...]) " +
        "— the ≤ k·|Q| result ids, never a full read; the window argmax " +
        "and highlight are Project-only expressions (no UDF, no extra " +
        "Exchange beyond the presentation orderBy).",
      {
        val eng = new QueryEngine(spark, Seq(indexDir))
        graft.operators.Snippets.searchSnippets(
          spark, Corpus.docs(spark, sfDir), SparkEntry.ranked(Bm25.QuerySet.map {
            case (qid, q) => qid -> eng.topK(q, rounded = true) }))
      })

    show("indexed BM25 top-k (driver-local fast path)",
      "Expect: LocalTableScan ONLY — the WAND kernel already ran on the " +
        "driver against cached segments + local norms; collect() " +
        "launches no job (latency was scheduling-bound at ~180 ms/job).",
      new QueryEngine(spark, Seq(indexDir)).topK("hash join"))

    show("pack_sequences sharded cumsum",
      "Expect: document-row window partitioned by (lang, shard) — " +
        "bounded per-task sort — plus a per-shard prefix window over " +
        "one row per shard, broadcast-joined back; no window partitioned " +
        "by lang alone anywhere.",
      graft.operators.TextStats.packSequencesOf(
        Corpus.docs(spark, sfDir).select(col("docID"), col("lang"),
          size(graft.functions.Analyzer.tokensCol(col("content")))
            .cast("long").as("n_tokens")),
        graft.operators.TextStats.PackBudget, 64L, checkpoint = false))

    show("repetition stats (per-doc modal bigram, shuffle-free)",
      "Expect: Scan → Project (sorted-run aggregate HOF) with NO " +
        "hashpartitioning anywhere — the only Exchange is the " +
        "presentation orderBy's rangepartitioning (an explode+groupBy " +
        "formulation would shuffle ~n rows per doc).",
      graft.operators.TextStats.repetitionStats(spark, sfDir))

    show("decontaminate (benchmark overlap, broadcast eval probe)",
      "Expect: the eval fingerprint set behind a BroadcastExchange into " +
        "a LeftSemi BroadcastHashJoin on the corpus probe — the only " +
        "post-probe hashpartitioning is the per-doc HITS count (rows ∝ " +
        "contamination found, never corpus fingerprint volume).",
      graft.operators.TextStats.decontaminate(spark, sfDir))

    show("curated training set (selection ∧ eval-exclusion ∧ decon anti-join)",
      "Expect: trainingSet's single-scan selection with the eval modulus " +
        "filter pushed into it, and the decontamination-flagged set — " +
        "bounded by contamination FOUND — behind a BroadcastExchange into " +
        "a LeftAnti BroadcastHashJoin; no new corpus-proportional " +
        "Exchange over the trainingSet plan.",
      graft.operators.TextStats.curatedTrainingSet(spark, sfDir))

    show("line dedup (boilerplate removal, broadcast frequent-line probe)",
      "Expect: two partial-aggregable hash aggs (distinct (doc,line) then " +
        "count per line); the frequent set behind a BroadcastExchange " +
        "into a BroadcastHashJoin probe (corpus probes, never builds); " +
        "ONE groupBy(docID) rebuild exchange computing n_lines/n_removed/" +
        "cleaned together — no corpus-wide doc re-join anywhere.",
      Dedup.lineDedup(spark, sfDir))

    val emb0 = Corpus.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val dim0 = emb0.select(size(col("embedding"))).head().getInt(0)

    show("brute-force BM25 oracle",
      "Expect: broadcast of the 1-row stats; shuffle joins tf⋈df⋈len; " +
        "window rank per query.",
      Bm25.oracleTopKExact(spark, sfDir, "hash join"))

    show("minhash LSH candidates",
      "Expect: signatures as ONE hash-agg of 128 partial mins (map-side " +
        "combine), band explode, self-equi-join on (band, bh).",
      Dedup.lshCandidates(Dedup.minhashSignatures(
        Dedup.shingleHashes(Corpus.docs(spark, sfDir)))))

    show("ANN brute cosine top-k",
      "Expect: BroadcastNestedLoopJoin (tiny query side broadcast), " +
        "graft_cosine codegen'd in the projection, then the bounded-heap " +
        "top-d pre-reduction (SerializeFromObject/mapPartitions) BEFORE " +
        "the rank window — the window's hashpartitioning receives only " +
        "the ≤ |queries|·k·partitions survivors, never the corpus.",
      Similarity.bruteTopK(spark, sfDir))

    show("SQ8 quantized ANN (codes projection + rerank)",
      "Expect: the codes artifact is Scan → Project only (zero " +
        "Exchange); the query pass shows the broadcast query side, the " +
        "same bounded-heap pre-reduction before the candidate window, " +
        "and an exact rerank joining ONLY the candidate ids back to the " +
        "full-precision table.",
      {
        val dims = Similarity.sq8Dims(emb0, dim0)
        val mns = dims.map(_._2).toArray
        val steps = dims.map(_._3).toArray
        Similarity.sq8Query(emb0, Similarity.sq8Codes(emb0, mns, steps),
          mns, steps)
      })

    show("hybrid RRF fusion (two d-row legs)",
      "Expect: the semantic leg is one corpus scan with the broadcast " +
        "query vectors and the bounded-heap pre-reduction; the fusion " +
        "full-outer join and final rank window run over ≤ 2·d rows per " +
        "query — every post-leg operator is survivor-sized.",
      {
        val eng = new QueryEngine(spark, Seq(indexDir))
        graft.operators.Hybrid.hybridTopK(spark, sfDir, eng)
      })

    show("related terms (PMI co-occurrence)",
      "Expect: two partial-aggregated reductions over the (docID, term) " +
        "incidence frame — the co-occurrence groupBy combines map-side; " +
        "df sides joined, seed df broadcast; no quadratic dictionary op.",
      graft.operators.RelatedTerms.relatedTerms(spark, sfDir))

    show("IVF assignment (per-row argmin over literal centroids)",
      "Expect: Scan + Project ONLY — zero Exchange per Lloyd round " +
        "(round-1 crossJoin+window plan shuffled nlist× the corpus).",
      Similarity.ivfModel(spark, sfDir)._1)

    val emb = emb0
    val dim = dim0
    show("LSH signature table (L tables × corpus-scaled planes)",
      "Expect: shuffle-free projection pass (scan → project → explode); " +
        "plane dots via the codegen'd graft_cosine.",
      Similarity.lshSignatures(emb, dim, Similarity.lshPlanes(emb.count())))

    show("metrics rollup",
      "Expect: Expand + single hash aggregate with partial aggregation.",
      Metrics.rollupMetrics(spark, sfDir))

    spark.stop()
  }
}
