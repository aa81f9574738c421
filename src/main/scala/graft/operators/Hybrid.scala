package graft.operators

import graft.Corpus
import graft.functions.Native
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: BM25 (lexical) + embedding cosine (semantic) fused
  * by Reciprocal Rank Fusion — the standard two-leg retrieval stack of a
  * modern search / RAG service (RRF per Cormack–Clarke–Buettcher, SIGIR
  * 2009: score(d) = Σ_legs 1/(C + rank_leg(d)), C = 60).
  *
  * Fusion is rank-based, not score-based, so the two legs never need
  * score calibration — which is also what makes the oracle twin exact:
  * both legs' ranks are deterministic under this repo's rounding contract
  * (4-decimal scores, ties broken by docID asc), and the fused score is a
  * fixed-order sum of two IEEE doubles, identical in the JVM and DuckDB.
  *
  * Scale shape (100 TB): each leg is its own scale-correct engine — the
  * lexical leg is the block-max-WAND indexed engine (zero per-query
  * shuffle), the semantic leg a one-scan broadcast-query cosine top-d
  * (swap in the LSH/IVF path beyond scan affordability). Fusion then
  * touches ≤ 2·d rows per query: a full-outer join of two k-row driver
  * frames — asymptotically free, never corpus-sized.
  *
  * The corpus contract: `embeddings.vec_id` is the document key (1:1
  * with `documents.doc_id`), so the semantic leg ranks the same docID
  * space the lexical leg does.
  */
object Hybrid {

  /** RRF smoothing constant (the original paper's k = 60). */
  val RrfC = 60

  /** Per-leg retrieval depth d: each leg contributes its top-d ranks;
    * docs beyond a leg's top-d get that leg's contribution = 0. */
  val Depth = 20

  /** Final fused top-k. */
  val K = 10

  /** Fixed hybrid query set: (qid, text query, query-vector id). Covers:
    * common terms + vector, rare-pair text, absent text (pure-semantic
    * fallback — lexical leg ∅), stop-word text (lexical leg = df-heavy),
    * multi-term with a shared vector, single rare term. */
  val HybridQuerySet: Seq[(String, String, Long)] = Seq(
    ("h01", "hash join", 0L),
    ("h02", "window", 1L),
    ("h03", "table scan merge", 2L),
    ("h04", "zzzzunknown", 3L),
    ("h05", "the", 4L),
    ("h06", "spark query", 0L),
  )

  /** One leg's contribution column: 1/(C + rank), 0 beyond depth. */
  private def rrfOf(rank: org.apache.spark.sql.Column) =
    when(rank.isNotNull, lit(1.0) / (lit(RrfC.toDouble) + rank.cast("double")))
      .otherwise(lit(0.0))

  /** Semantic leg: per query-vector, the top-`depth` corpus docs by
    * 4-decimal-rounded cosine (ties docID asc). One corpus scan for ALL
    * queries — the query vectors ride a broadcast, and the top-`depth`
    * selection pre-reduces with [[Similarity.topDPerQuery]]'s bounded
    * per-partition heaps, so the rank window only ever sees ≤
    * |queries|·depth·partitions survivor rows (a window partitioned by
    * 6 query ids over the raw scored frame would own the whole corpus in
    * 6 tasks — the single-task-partition scale-killer). */
  def semanticRanks(spark: SparkSession, sfDir: String,
                    depth: Int = Depth): DataFrame = {
    import spark.implicits._
    val e = Corpus.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val qidx = HybridQuerySet.zipWithIndex
      .map { case ((qid, _, vid), i) => (i.toLong, qid, vid) }
    val qmap = qidx.map { case (i, qid, _) => (i, qid) }.toDF("qi", "query")
    val q = qidx.map { case (i, _, vid) => (i, vid) }.toDF("qi", "qvec_id")
      .join(e.withColumnRenamed("vec_id", "qvec_id"), "qvec_id")
      .select(col("qi"), col("embedding").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .withColumn("cos", round(Native.cosine(col("qv"), col("embedding")), 4))
      .select(col("qi").as("query_id"), col("vec_id"), col("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    Similarity.topDPerQuery(scored, depth)
      .withColumn("arank", row_number().over(w))
      .filter(col("arank") <= depth)
      .join(broadcast(qmap), col("query_id") === col("qi"))
      .select(col("query"), col("vec_id").as("docID"), col("arank"))
  }

  /** Lexical leg: the indexed engine's disjunctive (OR) top-`depth` per
    * query, rounded ranking — rank = position in (round4(score) desc,
    * docID asc). Queries whose terms all miss the corpus contribute ∅. */
  def lexicalRanks(engine: QueryEngine, depth: Int = Depth): DataFrame = {
    val w = Window.partitionBy(col("query"))
      .orderBy(col("score").desc, col("docID").asc)
    HybridQuerySet.map { case (qid, qtext, _) =>
      engine.topKOr(qtext, depth, rounded = true)
        .select(lit(qid).as("query"), col("docID"), col("score"))
    }.reduce(_ unionAll _)
      .withColumn("brank", row_number().over(w))
      .select(col("query"), col("docID"), col("brank"))
  }

  /** Fused top-k: full-outer join of the two legs on (query, docID),
    * rrf = 1/(C+brank) + 1/(C+arank) with absent legs contributing an
    * exact +0.0, summed lexical-then-semantic (fixed association order),
    * rounded to 6 decimals, ranked (rrf desc, docID asc). */
  def hybridTopK(spark: SparkSession, sfDir: String, engine: QueryEngine,
                 k: Int = K, depth: Int = Depth): DataFrame = {
    val lex = lexicalRanks(engine, depth)
    val sem = semanticRanks(spark, sfDir, depth)
    val fused = lex.join(sem, Seq("query", "docID"), "full_outer")
      .withColumn("rrf",
        round(rrfOf(col("brank")) + rrfOf(col("arank")), 6))
    val w = Window.partitionBy(col("query"))
      .orderBy(col("rrf").desc, col("docID").asc)
    fused
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query"), col("rank"), col("docID"), col("rrf"))
      .orderBy(col("query"), col("rank"))
  }

  /** DuckDB twin: the OR-mode BM25 rank CTE per query (same fixed-order
    * contribution sum as [[Bm25.oracleSqlTopKOr]]), a cosine rank CTE per
    * query vector, then the same full-outer RRF fusion. */
  def hybridTopKSql(k: Int = K, depth: Int = Depth): String = {
    val perQuery = HybridQuerySet.map { case (qid, qtext, vid) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, rrf FROM (
         |  SELECT docID, rrf,
         |         row_number() OVER (ORDER BY rrf DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT coalesce(l.docID, s.docID) AS docID,
         |           round(coalesce(1.0/($RrfC + l.brank), 0.0)
         |               + coalesce(1.0/($RrfC + s.arank), 0.0), 6) AS rrf
         |    FROM (
         |      SELECT docID, brank FROM (
         |        SELECT docID,
         |               row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS brank
         |        FROM (${Bm25.candSql(Bm25.Match.or(qtext))})
         |      ) WHERE brank <= $depth
         |    ) l
         |    FULL OUTER JOIN (
         |      SELECT docID, arank FROM (
         |        SELECT e.vec_id AS docID,
         |               row_number() OVER (
         |                 ORDER BY round(list_cosine_similarity(
         |                   CAST(q.embedding AS DOUBLE[]),
         |                   CAST(e.embedding AS DOUBLE[])), 4) DESC,
         |                 e.vec_id ASC) AS arank
         |        FROM embeddings e
         |        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = $vid) q
         |      ) WHERE arank <= $depth
         |    ) s ON l.docID = s.docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${Bm25.baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }
}
