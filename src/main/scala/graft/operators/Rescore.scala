package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import graft.functions.Analyzer

/** Static-rank rescoring — the two-stage ranking every web search
  * engine runs (Elasticsearch `rescore` + Lucene FeatureField / the
  * classic "PageRank-boosted BM25"): stage 1 retrieves the
  * top-[[WindowSize]] docs per query by BM25 relevance, stage 2
  * re-ranks JUST that window by
  *
  *   combined = round4(bm25) + [[Weight]] · staticRank(doc)
  *
  * where the static rank is the PageRank doc-values vector over the
  * crawl tier's link graph ([[LinkGraph.pageRankAll]]) — the reference
  * crawler's frontier "priority" was keyword heuristics
  * (`src/url/url_priority.cpp:7-117`); this is that signal done the
  * web-search way: query-independent authority blended with
  * query-dependent relevance. Docs outside the relevance window never
  * surface regardless of authority — the documented rescore contract,
  * and what bounds per-query work to the window size.
  *
  * Scale shape: stage 1 is the ordinary indexed top-R (all physical
  * paths/caches apply unchanged; R·Q rows total). Stage 2 broadcasts
  * that window frame into ONE probe join against the N-row rank
  * vector — the rank artifact is scanned once per query SET, nothing
  * shuffles, and the final per-query re-rank window holds ≤ R rows
  * (the partitionBy(query) window runs over a Q·R-row frame). At
  * corpus scale the rank vector is a materialized doc-values artifact
  * next to the index's docstats.
  *
  * Rank/FP parity with the DuckDB twin: stage-1 membership is decided
  * on round4 scores with (score desc, docID asc) ties in both engines;
  * the PageRank vector is exactly order-free per node (in-degree ≤ 2 —
  * see [[LinkGraph]]); and the combined score adds two round4 doubles
  * (identical IEEE sum) before a final round4.
  */
object Rescore {

  /** Stage-1 relevance window per query (ES `window_size`). */
  val WindowSize = 50

  /** Static-rank blend weight: combined = bm25 + Weight · prs. The
    * corpus mean of prs is ~1.0 (mean-normalized PageRank), so 1.0
    * prices authority at about one BM25 contribution unit. */
  val Weight = 1.0

  /** Re-rank a (query, docID, score) stage-1 window frame by the
    * blended score. `pr` is the (docID, prs) static-rank vector. */
  private def blend(win: DataFrame, pr: DataFrame, k: Int): DataFrame =
    pr.join(broadcast(win.select(col("query"), col("docID"), col("score"))),
        "docID")
      .withColumn("score2", round(col("score") + lit(Weight) * col("prs"), 4))
      .withColumn("rank",
        row_number().over(
          W.partitionBy(col("query"))
            .orderBy(col("score2").desc, col("docID").asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query"), col("rank"), col("docID"),
        col("score2").as("score"))
      .orderBy(col("query"), col("rank"))

  /** Driver-contract frame (query, rank, docID, score) over the fixed
    * query set: top-[[WindowSize]] by BM25 through the INDEXED engine,
    * re-ranked by the blended score, top-k emitted. */
  def rescoredAll(spark: SparkSession, sfDir: String, eng: QueryEngine,
                  k: Int = Bm25.K): DataFrame =
    rescoredAllWith(eng, LinkGraph.pageRankAll(spark, sfDir), k)

  /** [[rescoredAll]] against an already-materialized static-rank vector
    * (the production shape: the artifact is built once, queries reuse
    * it — also what the bench times). */
  def rescoredAllWith(eng: QueryEngine, pr: DataFrame,
                      k: Int = Bm25.K): DataFrame =
    blend(graft.SparkEntry.ranked(Bm25.QuerySet.map { case (qid, q) =>
      qid -> eng.topK(q, WindowSize, rounded = true) }), pr, k)

  /** Brute-force twin of [[rescoredAll]]: stage 1 from the DataFrame
    * BM25 oracle instead of the index — the engine-independent Spark
    * side of the rank-identity triangle (oracle, indexed, DuckDB). */
  def rescoredOracle(spark: SparkSession, sfDir: String,
                     k: Int = Bm25.K): DataFrame =
    blend(Bm25.oracleTopK(spark, sfDir, WindowSize),
      LinkGraph.pageRankAll(spark, sfDir), k)

  /** DuckDB twin: the BM25 base CTEs + the PageRank CTE chain
    * ([[LinkGraph.oracleSql]]'s recurrence, prefixed `pr*` to avoid
    * colliding with the BM25 `stats`), then per query the top-window
    * BM25 ranking joined to the rank vector and re-ranked blended.
    * `scored` and `prvec` are MATERIALIZED: every per-query subquery
    * reads both, and inlined they are recomputed once per query. */
  def oracleSql(k: Int = Bm25.K): String = {
    val d = LinkGraph.Damping
    val iters = (1 to LinkGraph.Iterations).map { i =>
      val prev = s"pr${i - 1}"
      s"""pr$i AS (
         |  SELECT prnodes.id,
         |         (1.0 - $d) / prstats.n + $d * coalesce(s.m, 0.0) AS r
         |  FROM prnodes CROSS JOIN prstats
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r / od.od) AS m
         |    FROM predges e
         |    JOIN $prev p ON e.src = p.id
         |    JOIN proutdeg od ON e.src = od.src
         |    GROUP BY e.dst
         |  ) s ON prnodes.id = s.id
         |)""".stripMargin
    }.mkString(",\n")
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |), dl AS (
         |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |         CAST(sum(len) AS DOUBLE) / count(*) AS avgdl
         |  FROM dl
         |), dfr AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
         |), scored AS MATERIALIZED (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |), prnodes AS (
         |  SELECT doc_id AS id FROM documents
         |), prstats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(count(*) AS BIGINT) AS nn
         |  FROM documents
         |), predges AS (
         |  SELECT DISTINCT id AS src, dst FROM (
         |    SELECT id, (id + 1) % nn AS dst FROM prnodes CROSS JOIN prstats
         |    WHERE id % 10 <> 7
         |    UNION ALL
         |    SELECT id, (7 * id + 3) % nn AS dst FROM prnodes CROSS JOIN prstats
         |    WHERE id % 4 = 0 OR id % 25 = 3
         |  )
         |), proutdeg AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS od FROM predges GROUP BY src
         |), pr0 AS (
         |  SELECT prnodes.id, 1.0 / prstats.n AS r FROM prnodes CROSS JOIN prstats
         |),
         |$iters,
         |prvec AS MATERIALIZED (
         |  SELECT id AS docID, round(r * prstats.n, 4) AS prs
         |  FROM pr${LinkGraph.Iterations} CROSS JOIN prstats
         |)""".stripMargin
    val perQuery = Bm25.QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round(bscore + $Weight * prs, 4) AS score,
         |         row_number() OVER (ORDER BY round(bscore + $Weight * prs, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, round($scoreExpr, 4) AS bscore,
         |           row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS brank
         |    FROM (
         |      SELECT docID, $cs
         |      FROM scored WHERE term IN ($inList)
         |      GROUP BY docID
         |      HAVING count(*) = ${terms.size}
         |    )
         |  ) JOIN prvec USING (docID)
         |  WHERE brank <= $WindowSize
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }
}
