package graft.operators

import graft.functions.Analyzer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snippet generation for search results (SURVEY.md §2 result-sink tier;
  * the reference prints raw matching rows — `src/searcher/searcher.cpp`
  * emits url+title verbatim — a real engine returns a query-focused
  * excerpt instead).
  *
  * Contract: for each (query, rank, docID) of the fixed AND query set's
  * top-k, emit the `snippetLen`-token window that maximizes DISTINCT
  * query-term coverage (tie → earliest start), with matched terms
  * bracket-highlighted. Both the window argmax and the highlight are
  * pure built-in column expressions (whole-stage codegen; no UDF), and
  * the argmax is the lexicographic minimum of [−coverage, start] pairs —
  * the exact idiom the DuckDB twin uses (`list_sort(...)[1][2]`), so
  * the two sides agree bit-for-bit including ties.
  *
  * Scale shape: ranking comes from the indexed engine (no corpus scan);
  * the corpus is touched only to fetch the ≤ k·|Q| result docs, via an
  * `isin` filter that reaches the parquet scan as an In() pushdown —
  * fetch-by-id over row-group min/max, not a full read. */
object Snippets {

  /** Distinct-term coverage of the window starting at 1-based `i`. */
  private def coverage(toks: Column, i: Column, terms: Seq[String],
                       len: Int): Column =
    terms.map(t => when(array_contains(slice(toks, i, lit(len)), t), 1)
      .otherwise(0)).reduce(_ + _)

  /** Best 1-based window start: lexicographic min over [−cov, start]. */
  def bestStart(toks: Column, terms: Seq[String], len: Int): Column =
    array_min(transform(
      sequence(lit(1), greatest(size(toks) - (len - 1), lit(1))),
      i => array((-coverage(toks, i, terms, len)).cast("long"),
        i.cast("long")))).getItem(1)

  /** Bracket-highlighted, space-joined window text. */
  def snippetCol(toks: Column, start: Column, terms: Seq[String],
                 len: Int): Column =
    array_join(transform(slice(toks, start.cast("int"), lit(len)),
      t => when(t.isin(terms: _*), concat(lit("["), t, lit("]")))
        .otherwise(t)), " ")

  /** (query, rank, docID, snippet) for every fixed AND query's top-k.
    * `ranked` must be the engine's contract frame (query, rank, docID,
    * score) over [[Bm25.QuerySet]]. */
  def searchSnippets(spark: SparkSession, docs: DataFrame, ranked: DataFrame,
                     k: Int = Bm25.K, snippetLen: Int = 12): DataFrame = {
    val hits = ranked.select(col("query"), col("rank"), col("docID"))
    // bounded driver lookup (≤ k·|QuerySet| ids) → In() parquet pushdown
    val ids = hits.select(col("docID")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // cache the fetched rows (≤ k·|Q|): the per-query joins below would
    // otherwise re-run the pruned fetch once per query
    val toks = docs.filter(col("docID").isin(ids: _*))
      .select(col("docID"), Analyzer.tokensCol(col("content")).as("toks"))
      .cache()
    val perQuery = Bm25.QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      hits.filter(col("query") === qid)
        .join(toks, "docID")
        .withColumn("start", bestStart(col("toks"), terms, snippetLen))
        .select(col("query"), col("rank"), col("docID"),
          snippetCol(col("toks"), col("start"), terms, snippetLen)
            .as("snippet"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** DuckDB twin: recomputes the brute top-k ranking per query (the same
    * SQL as [[Bm25.oracleSqlTopK]]'s per-query block), then the identical
    * window argmax + highlight over the token array. */
  def searchSnippetsSql(k: Int = Bm25.K, snippetLen: Int = 12): String = {
    val L = snippetLen
    val perQuery = Bm25.QuerySet.map { case (qid, qtext) =>
      val inList = Analyzer.queryTerms(qtext).map(t => s"'$t'").mkString(", ")
      val covExpr =
        s"len(list_filter([$inList], t -> list_contains(toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+${L - 1}], t)))"
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, r.docID,
         |  array_to_string(list_transform(
         |    toks[CAST(start AS BIGINT):CAST(start AS BIGINT)+${L - 1}],
         |    t -> CASE WHEN t IN ($inList) THEN '[' || t || ']' ELSE t END), ' ') AS snippet
         |FROM (
         |  SELECT docID, rank FROM (
         |    SELECT docID,
         |           row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |    FROM (${Bm25.candSql(Bm25.Match.and(qtext))})
         |  ) WHERE rank <= $k
         |) r JOIN (
         |  SELECT docID, toks,
         |         list_sort(list_transform(range(1, greatest(len(toks) - ${L - 1}, 1) + 1),
         |           i -> [ -CAST($covExpr AS BIGINT), CAST(i AS BIGINT) ]))[1][2] AS start
         |  FROM tokarr
         |) s ON r.docID = s.docID)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${Bm25.baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }
}
