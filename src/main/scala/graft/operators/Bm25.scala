package graft.operators

import graft.Corpus
import graft.functions.Analyzer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 scoring: constants, the shared term-statistics dataflow, and the
  * brute-force DataFrame oracle scorer (SURVEY.md §7 M0).
  *
  * The oracle replaces the reference's unranked `LIKE '%q%'` full scan
  * (reference `src/searcher/searcher.cpp:16-39`) with real IR semantics:
  * multi-term AND + BM25 top-k, deterministic `(score DESC, docID ASC)`
  * order. It is deliberately the simplest obviously-correct formulation —
  * everything in the indexed engine (Index/QueryEngine) is tested
  * rank-identical against it.
  *
  * Floating-point determinism contract (BASELINE.md "rank-identity"):
  *   - score = ((c_t1 + c_t2) + c_t3) ... accumulated in ascending term
  *     order — a FIXED association order, identical in oracle, indexed
  *     engine, and the DuckDB oracle SQL.
  *   - externally-compared entries round scores to 4 decimals and order by
  *     the rounded score, so ULP-level libm differences between JVM and
  *     DuckDB cannot flip ranks; internal Spark-vs-Spark tests assert 1e-9.
  */
object Bm25 {

  val K1 = 1.2
  val B  = 0.75
  val K  = 10

  /** The fixed reference query set (FIXTURES.md §4). */
  val QuerySet: Seq[(String, String)] = Seq(
    "q01" -> "window",
    "q02" -> "batch",
    "q03" -> "hash join",
    "q04" -> "table scan merge",
    "q05" -> "zzzzunknown",
    "q06" -> "Sort ORDER",
    "q07" -> "spark query",
    "q08" -> "customer line",
    "q09" -> "the",
    "q10" -> "filter small value",
  )

  /** Fixed phrase query set (FIXTURES.md §10): common bigram, rarer
    * bigram, trigram, repeated-term phrase, mixed case, absent term
    * (empty), single word (≡ AND). */
  val PhraseQuerySet: Seq[(String, String)] = Seq(
    "p01" -> "table hash",
    "p02" -> "slow key",
    "p03" -> "stream table hash",
    "p04" -> "batch batch",
    "p05" -> "Merge GROUP",
    "p06" -> "window zzzzunknown",
    "p07" -> "window",
  )

  /** Fixed proximity (window) query set (FIXTURES.md §13): (qid, qtext,
    * w) — the doc must contain ALL distinct query terms within some
    * window of w consecutive tokens. Covers: common pair loose/tight,
    * three terms, absent term (∅), single word (≡ AND), impossible
    * window (two distinct terms, w=1 → ∅), rare pair wide. */
  val WindowQuerySet: Seq[(String, String, Int)] = Seq(
    ("v01", "table hash", 8),
    ("v02", "hash join", 4),
    ("v03", "stream table hash", 12),
    ("v04", "window zzzzunknown", 8),
    ("v05", "window", 8),
    ("v06", "Merge GROUP", 1),
    ("v07", "slow key", 16),
  )

  /** Fixed prefix query set (FIXTURES.md §14): each query is one term
    * PREFIX; the query expands to every dictionary term starting with it
    * and runs with OR semantics over the expansion (score = ordered sum
    * of the contributions of the expansion terms the doc contains).
    * Covers: wide expansion (6 terms), mixed-df expansion (common +
    * rare), single-term expansion (≡ OR), absent prefix (∅), exact-term
    * prefix, two-term expansion. */
  val PrefixQuerySet: Seq[(String, String)] = Seq(
    ("x01", "s"),
    ("x02", "d"),
    ("x03", "qu"),
    ("x04", "zz"),
    ("x05", "ta"),
    ("x06", "w"),
    ("x07", "b"),
  )

  /** Fixed fuzzy query set (FIXTURES.md §15): each query is one possibly
    * misspelled term; it expands to every dictionary term within
    * Levenshtein distance 1 and runs with OR semantics over the
    * expansion (same ordered-fold scoring as prefix). Covers: deletion
    * typo, TWO-term expansion (sow → row, slow), exact term (dist 0),
    * absent (∅), truncation, substitution, suffix-drop. */
  val FuzzyQuerySet: Seq[(String, String)] = Seq(
    ("z01", "hsh"),
    ("z02", "sow"),
    ("z03", "query"),
    ("z04", "zzzz"),
    ("z05", "dat"),
    ("z06", "pert"),
    ("z07", "batc"),
  )

  /** Fixed wildcard (contains) query set (FIXTURES.md §24): each query
    * is one term FRAGMENT; it expands to every dictionary term
    * CONTAINING it and runs with OR semantics over the expansion (same
    * ordered-fold scoring as prefix/fuzzy). Covers: infix expansion
    * (3 terms, mixed df), suffix-ish expansion (4 terms), single-term
    * expansion (≡ OR), absent fragment (∅), widest expansion (13
    * terms), two-term expansion, rare exact-contains. */
  val WildcardQuerySet: Seq[(String, String)] = Seq(
    ("c01", "ow"),
    ("c02", "er"),
    ("c03", "able"),
    ("c04", "zzz"),
    ("c05", "a"),
    ("c06", "ue"),
    ("c07", "dup"),
  )

  /** Fixed regexp query set (FIXTURES.md §35): each query is a regular
    * expression FULL-matched against the dictionary; the expansion runs
    * with OR semantics (same ordered-fold scoring as prefix/fuzzy/
    * wildcard). Patterns are restricted to the construct subset where
    * java.util.regex (engine + Spark RLike) and RE2 (DuckDB
    * regexp_full_match) agree: literals, char classes, `.`,
    * alternation groups, `?` `+` `*`. Covers: dot class (1 term),
    * 2-way and 3-way alternation, absent (∅), wide dot-star expansion
    * (7 terms), optional quantifier, partially-absent alternative. */
  val RegexQuerySet: Seq[(String, String)] = Seq(
    ("x01", "ha.h"),
    ("x02", "s(can|ort)"),
    ("x03", "(batch|merge|stream)"),
    ("x04", "z+"),
    ("x05", ".a.*"),
    ("x06", "colum?n"),
    ("x07", "quer(y|ies)"),
  )

  /** Fixed doc ids for the term-vectors fixture (FIXTURES.md §36) —
    * all < 500, so present at every scale factor. */
  val TermVectorDocs: Seq[Long] = Seq(7L, 42L, 101L, 333L, 499L)

  /** Range-aggregation boundaries (FIXTURES.md §38): ranges [20,40),
    * [40,60), [60,80), [80,∞) over the 10–99-token corpus — docs under
    * 20 tokens fall in NO range (the ES range-agg exclusion case is
    * live at every scale factor). Two digits each: the group-name sort
    * is lexicographic. */
  val RangeBounds: Seq[Long] = Seq(20L, 40L, 60L, 80L)

  /** Length-histogram bucket width (FIXTURES.md §25): ⌊len/16⌋ spans
    * ~7 buckets over the synthetic corpus's 10–99-token documents at
    * every scale factor. */
  val HistogramWidth = 16

  /** BM25F integer weight of the `path` field (content weight 1). An
    * INTEGER weight lets Robertson's BM25F — tf'(t,d) = Σ_f w_f·tf_f and
    * dl'(d) = Σ_f w_f·len_f with shared k1/b — be expressed as plain
    * BM25 over a weighted field concatenation (path repeated w times in
    * the token stream), so the index builder, dictionary, WAND kernels
    * and the DuckDB SQL twin all apply unchanged. df under this model is
    * the document frequency in the UNION of fields, the standard BM25F
    * choice. */
  val FieldWeightPath = 3

  /** Fixed fielded (BM25F) query set (FIXTURES.md §27). Path tokens are
    * `srcN` (the repo), the doc_id digits, and the extension `txt`
    * (present in EVERY doc — a field-level stop word). Covers: pure
    * path term, path+content AND, the universal field token (ranking
    * degenerates to length normalization), pure content term under
    * fielded stats, absent term (∅), mixed case + path term, content
    * term AND universal field token. */
  val FieldedQuerySet: Seq[(String, String)] = Seq(
    "f01" -> "src3",
    "f02" -> "src7 window",
    "f03" -> "txt",
    "f04" -> "window",
    "f05" -> "src1 zzzzunknown",
    "f06" -> "Sort src11",
    "f07" -> "batch txt",
  )

  /** The fielded corpus: `path` folded into the token stream with weight
    * [[FieldWeightPath]] (see there). Output shape == input shape, so
    * [[graft.operators.Index.buildFrom]] consumes it directly. */
  def fieldedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("content",
      concat_ws(" ",
        (col("content") +: Seq.fill(FieldWeightPath)(col("path"))): _*))

  /** Fixed synonym query set (FIXTURES.md §28): `a|b` pieces form
    * synonym groups scored as ONE term (tf summed over members,
    * df = max member df — Lucene SynonymQuery). Covers: classic pair +
    * plain term, lone pair, a group with one absent member (≡ the
    * present term alone — SAME scores, spec-pinned), a fully absent
    * group (∅ under AND), a pipe-free query (≡ plain AND, bit-equal),
    * a stop-word-heavy group, and duplicate members collapsing. */
  val SynQuerySet: Seq[(String, String)] = Seq(
    "y01" -> "hash|join table",
    "y02" -> "merge|sort",
    "y03" -> "window|zzzzunknown",
    "y04" -> "zzzzunknown|qqqmissing batch",
    "y05" -> "scan",
    "y06" -> "the|batch small",
    "y07" -> "hash|hash table",
  )

  /** Fixed more-like-this source docs (FIXTURES.md §22): present at
    * every scale factor (doc_id 0..499 at sf0.001 already). */
  val MltSources: Seq[Long] = Seq(0L, 7L, 42L)

  /** MLT expansion width: top-t source-doc terms by round4(tf·idf). */
  val MltTerms = 5

  /** Fixed boolean-NOT query set (`-piece` = negated): common neg,
    * stop-word-sized neg posting list, absent neg (≡ plain AND), two
    * negs, self-negation (∅ by construction), stop-word driver with a
    * common neg. */
  val NotQuerySet: Seq[(String, String)] = Seq(
    "n01" -> "hash join -window",
    "n02" -> "table -the",
    "n03" -> "batch -zzzzunknown",
    "n04" -> "spark query -merge -sort",
    "n05" -> "window -window",
    "n06" -> "the -table",
  )

  /** Fixed minimum-should-match query set: (qid, qtext, m) — OR-scored
    * docs qualifying only with ≥ m distinct matched terms (the Lucene
    * `minimum_should_match` contract). Covers: 2-of-3 (three spreads),
    * m=1 (≡ OR), m=|terms| (≡ AND ranks), an absent term inside a
    * reachable 2-of-3, an unreachable floor (one present term, m=2 → ∅),
    * and a stop-word-heavy 2-of-3. */
  val MsmQuerySet: Seq[(String, String, Int)] = Seq(
    ("m01", "table scan merge", 2),
    ("m02", "hash join window", 2),
    ("m03", "filter small value", 2),
    ("m04", "spark query", 1),
    ("m05", "hash join", 2),
    ("m06", "batch zzzzunknown merge", 2),
    ("m07", "zzzzunknown window", 2),
    ("m08", "the table sort", 2),
  )

  /** Fixed mixed search-box query set (FIXTURES.md §23): ONE raw string
    * combining bare terms, quoted phrases and `-negations` — the unified
    * front door's grammar (QueryEngine.search). Covers: term+phrase,
    * phrase+NOT, term+phrase+NOT, two phrases conjoined, trigram
    * phrase+term, absent-phrase-term (∅), self-negation (∅), plain
    * single term (parser degenerate case), single-token quoted piece
    * (≡ plain term — adjacency vacuous). */
  val MixedQuerySet: Seq[(String, String)] = Seq(
    "m01" -> "scan \"table hash\"",
    "m02" -> "\"slow key\" -window",
    "m03" -> "merge \"table hash\" -slow",
    "m04" -> "\"table hash\" \"slow key\"",
    "m05" -> "\"stream table hash\" batch",
    "m06" -> "scan \"window zzzzunknown\"",
    "m07" -> "batch -batch",
    "m08" -> "window",
    "m09" -> "\"window\" scan",
  )

  /** Fixed boosted search-box query set: `term^w` weighted queries —
    * up-weight flips a ranking, down-weight flips it the other way,
    * boost×phrase, boost×NOT, fractional boost, boost+absent term (∅).
    * Weights are short decimal literals, identical doubles on the
    * Spark and DuckDB sides (both parse correctly-rounded). */
  val BoostQuerySet: Seq[(String, String)] = Seq(
    "w01" -> "scan^2 window",
    "w02" -> "scan window^0.5",
    "w03" -> "hash^3 join table",
    "w04" -> "\"table hash\" scan^2",
    "w05" -> "window^2 -batch",
    "w06" -> "scan^2.5 zzzzunknown",
  )

  /** Fixed grouped (field-collapsing) query set: single term, two-term
    * AND, stop word (every group matches), absent term (∅), boosted. */
  val GroupedQuerySet: Seq[(String, String)] = Seq(
    "c01" -> "window",
    "c02" -> "hash join",
    "c03" -> "the",
    "c04" -> "zzzzunknown",
    "c05" -> "scan^2 table",
  )

  /** Fixed field-faceted search-box query set (FIXTURES.md §23): the
    * mixed grammar plus one `lang:value` facet piece per query —
    * term+phrase+facet, term+NOT+facet, lone-phrase+facet, absent facet
    * value (∅), stop-word+facet. Scoring stats stay corpus-global (the
    * faceted-retrieval contract); the facet is a pure gate. */
  val FieldQuerySet: Seq[(String, String)] = Seq(
    "f01" -> "scan \"table hash\" lang:en",
    "f02" -> "window -batch lang:de",
    "f03" -> "\"slow key\" lang:en",
    "f04" -> "hash join lang:zz",
    "f05" -> "the lang:fr",
  )

  // ---------------------------------------------------------------- stats

  /** (docID, term, tf) — term frequency per document. One shuffle
    * (hash agg with map-side partial aggregation). */
  def termFreq(docs: DataFrame): DataFrame =
    docs
      .select(col("docID"),
        explode(graft.functions.Native.tokenCounts(col("content"))).as("tc"))
      .select(col("docID"), col("tc.term").as("term"), col("tc.tf").as("tf"))

  /** Positional variant of [[termFreq]]: adds `positions` — the sorted
    * 0-based token positions of the term in the document (len(positions)
    * == tf by construction).
    *
    * Both variants are SHUFFLE-FREE: every token of a document lives in
    * one source row, so the per-(docID, term) aggregation happens
    * row-locally inside the fused [[graft.functions.TokenCounts]]
    * kernel (one tokenize pass, counted explode). The previous
    * `explode → groupBy(docID, term)` formulation exchanged the entire
    * posting-cardinality frame (93M rows / 3.6 GB at the bench corpus)
    * to aggregate groups that never crossed a partition boundary —
    * the index build's dominant byte mover for no semantic need. */
  def termFreqWithPositions(docs: DataFrame): DataFrame =
    docs
      .select(col("docID"),
        explode(graft.functions.Native.tokenCountsPos(col("content"))).as("tc"))
      .select(col("docID"), col("tc.term").as("term"), col("tc.tf").as("tf"),
        col("tc.positions").as("positions"))

  /** (docID, len) — document length in tokens. Derived from termFreq so
    * Σtf-per-doc == len by construction. */
  def docLengths(tf: DataFrame): DataFrame =
    tf.groupBy(col("docID")).agg(sum(col("tf")).as("len"))

  /** (term, df) — exact document frequency. tf is unique per (term,docID),
    * so df is a plain count — no countDistinct shuffle needed. */
  def docFreq(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Single-row (n, avgdl). avgdl = sum(len)/n (exact integer sum, one
    * rounding at the division) — NOT avg(), whose accumulation order could
    * differ between engines. */
  def corpusStats(doclen: DataFrame): DataFrame =
    doclen.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("len")).cast("double") / count(lit(1))).as("avgdl"))

  // -------------------------------------------------------------- scoring

  /** idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1) — column form. */
  def idfCol(n: Column, df: Column): Column =
    log((n - df.cast("double") + lit(0.5)) / (df.cast("double") + lit(0.5)) + lit(1.0))

  /** Per-(term,doc) BM25 contribution:
    * idf * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl)).
    * Literal shapes match the DuckDB SQL twin exactly (2.2, 1.2, 0.25,
    * 0.75 — all exactly-representable arithmetic up to the division). */
  def contribCol(idf: Column, tf: Column, len: Column, avgdl: Column): Column =
    idf * (tf.cast("double") * lit(2.2)) /
      (tf.cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * len.cast("double") / avgdl))

  /** Scala twin of idf/contrib for the mapPartitions query engine. Must
    * mirror the column expressions operation-for-operation. */
  def idf(n: Double, df: Long): Double =
    math.log((n - df.toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)

  def contrib(idf: Double, tf: Long, len: Long, avgdl: Double): Double =
    idf * (tf.toDouble * 2.2) / (tf.toDouble + 1.2 * (0.25 + 0.75 * len.toDouble / avgdl))

  /** idf-free quotient `tf*(k1+1) / (tf + k1*(1-b+b*len/avgdl))`, stored
    * per-block (max) at index-build time as the block-max WAND upper
    * bound. NOT used for scoring (scoring recomputes [[contrib]] with the
    * exact association order); bounds built from it are padded by 1 ULP-ish
    * before pruning comparisons, so the different association here can
    * never cause a wrongful prune. */
  def quotient(tf: Long, len: Long, avgdl: Double): Double =
    (tf.toDouble * 2.2) / (tf.toDouble + 1.2 * (0.25 + 0.75 * len.toDouble / avgdl))

  // --------------------------------------------------------------- oracle

  /** Brute-force BM25 AND-semantics top-k for every query in [[QuerySet]].
    * Output: (query, rank, docID, score) with score rounded to 4 decimals
    * and rank computed over the ROUNDED score (see class doc).
    *
    * Implementation: per query, pivot per-term contributions into columns
    * and add them in ascending-term order — a fixed-association sum, and
    * the pivot doubles as the AND filter (all columns non-null).
    *
    * `langFilter` (faceted retrieval twin): restrict the RESULT SET to
    * docs of that lang; scoring stats stay corpus-global (the filter
    * selects candidates, it does not change the ranking model).
    */
  def oracleTopK(spark: SparkSession, sfDir: String, k: Int = K,
                 langFilter: String = null): DataFrame =
    oracleTopKCore(Corpus.docs(spark, sfDir), QuerySet, k, langFilter)

  /** BM25F twin of [[oracleTopK]]: plain BM25 over [[fieldedDocs]] with
    * the [[FieldedQuerySet]] — see [[FieldWeightPath]] for why that IS
    * Robertson's BM25F with integer field weights. */
  def oracleFieldedTopK(spark: SparkSession, sfDir: String,
                        k: Int = K): DataFrame =
    oracleTopKCore(fieldedDocs(Corpus.docs(spark, sfDir)), FieldedQuerySet, k, null)

  /** Synonym-group brute-force top-k (Lucene SynonymQuery semantics;
    * see [[SynQuerySet]]): per group, tf sums over the members and df
    * is the MAX member df; the group contribution then follows the
    * ordinary BM25 formula and groups AND-compose. Association order =
    * ascending canonical group name (Analyzer.synGroups), mirrored by
    * the engine's pseudo-term sort and the SQL twin's generated sum. */
  def oracleSynTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val dfr    = docFreq(tf)

    val perQuery = SynQuerySet.map { case (qid, qtext) =>
      val groups = Analyzer.synGroups(qtext)
      val parts = groups.zipWithIndex.map { case (g, i) =>
        val gtf = tf.filter(col("term").isin(g: _*))
          .groupBy(col("docID")).agg(sum(col("tf")).as(s"tf$i"))
        val gdf = dfr.filter(col("term").isin(g: _*))
          .agg(max(col("df")).as(s"df$i"))
        (gtf, gdf)
      }
      // inner joins = AND across groups; a fully absent group's tf frame
      // is empty, so the query yields ∅ — same as the engine's early-out
      val joined = parts.map(_._2).foldLeft(
          parts.map(_._1).reduce((a, b) => a.join(b, "docID"))
            .join(doclen, "docID").crossJoin(broadcast(stats))
        )((acc, gdf) => acc.crossJoin(broadcast(gdf)))
      val score = groups.indices
        .map { i =>
          contribCol(idfCol(col("n"), col(s"df$i")),
            col(s"tf$i"), col("len"), col("avgdl"))
        }
        .reduce(_ + _) // fixed left-to-right association, group-name order
      joined
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  private def oracleTopKCore(docs: DataFrame, querySet: Seq[(String, String)],
                             k: Int, langFilter: String): DataFrame = {
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val allowed =
      if (langFilter == null) null
      else docs.filter(col("lang") === langFilter).select(col("docID"))

    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = querySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val pivoted = scored
        .filter(col("term").isin(terms: _*))
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      // fixed left-to-right association: ((c1 + c2) + c3) ...
      val score = terms.map(t => col(t)).reduce(_ + _)
      (if (allowed == null) pivoted
       else pivoted.join(broadcast(allowed), Seq("docID"), "left_semi"))
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }

    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Disjunctive (OR-semantics) brute-force top-k: docs matching ANY
    * query term; absent-term contribution is an exact +0.0 in the same
    * fixed ascending-term association (`coalesce` twin of the AND sum,
    * bit-identical because x + 0.0 == x for finite non-negative x). */
  def oracleTopKOr(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)

    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val pivoted = scored
        .filter(col("term").isin(terms: _*))
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val score = terms.map(t => coalesce(col(t), lit(0.0))).reduce(_ + _)
      pivoted
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }

    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Brute-force minimum-should-match top-k over [[MsmQuerySet]]: the
    * OR-semantics pivot-and-sum of [[oracleTopKOr]] plus a distinct
    * matched-term count floor — docs with fewer than m non-null term
    * columns are dropped BEFORE ranking, so the top-k is exact (a
    * post-filter of the OR top-k would lose qualifying docs ranked
    * below the unfiltered k). */
  def oracleTopKMsm(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)

    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = MsmQuerySet.map { case (qid, qtext, m) =>
      val terms = Analyzer.queryTerms(qtext)
      val pivoted = scored
        .filter(col("term").isin(terms: _*))
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val score = terms.map(t => coalesce(col(t), lit(0.0))).reduce(_ + _)
      val matched = terms.map(t =>
        when(col(t).isNotNull, 1).otherwise(0)).reduce(_ + _)
      pivoted
        .filter(matched >= m)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }

    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Brute-force sort-by-field top-k over [[QuerySet]]: docs matching
    * ALL query terms ordered by document length descending (docID
    * ascending tie-break) — relevance is never computed. The twin of
    * QueryEngine.topKSortedByLen / [[oracleSqlSortedTopK]]. */
  def oracleSortedTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val matching = tf
        .filter(col("term").isin(terms: _*))
        .groupBy(col("docID")).agg(count(lit(1)).as("nt"))
        .filter(col("nt") === terms.size)
        .select(col("docID"))
      matching.join(doclen, "docID")
        .withColumn("rank",
          row_number().over(Window.orderBy(col("len").desc, col("docID").asc))
            .cast("int"))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("len"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** DuckDB twin of [[oracleSortedTopK]]: the AND match set (per-doc
    * matched-term count = |terms|) joined to doc lengths, ranked
    * (len DESC, docID ASC), top k per query. */
  def oracleSqlSortedTopK(k: Int = K): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |), dl AS (
         |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, len FROM (
         |  SELECT dl.docID AS docID, dl.len AS len,
         |         row_number() OVER (ORDER BY dl.len DESC, dl.docID ASC) AS rank
         |  FROM dl JOIN (
         |    SELECT docID FROM tf WHERE term IN ($inList)
         |    GROUP BY docID HAVING count(*) = ${terms.size}
         |  ) m USING (docID)
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** Brute-force boolean-NOT top-k over [[NotQuerySet]]: AND-semantics
    * BM25 over each query's positive terms, docs containing ANY negated
    * term removed by an anti-join BEFORE ranking (so the top-k is exact
    * among survivors, not a post-filter of an unfiltered top-k). The
    * negated terms never contribute to the score — survivor scores equal
    * the plain-AND scores, the property the indexed engine's anti-gate
    * relies on. */
  def oracleTopKNot(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)

    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = NotQuerySet.map { case (qid, qtext) =>
      val (terms, neg) = graft.functions.Analyzer.signedTerms(qtext)
      val pivoted = scored
        .filter(col("term").isin(terms: _*))
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val excluded =
        if (neg.isEmpty) pivoted
        else pivoted.join(
          broadcast(tf.filter(col("term").isin(neg: _*))
            .select(col("docID")).distinct()),
          Seq("docID"), "left_anti")
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      val score = terms.map(t => col(t)).reduce(_ + _)
      excluded
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }

    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Exact-score variant for internal rank-identity tests (no rounding;
    * order by the exact score). */
  def oracleTopKExact(spark: SparkSession, sfDir: String, qtext: String,
                      k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val terms  = Analyzer.queryTerms(qtext)
    if (terms.isEmpty) return spark.emptyDataFrame
      .selectExpr() // never hit by the fixed set; guarded in tests
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
    val pivoted = scored
      .filter(col("term").isin(terms: _*))
      .groupBy(col("docID"))
      .pivot("term", terms)
      .agg(first(col("contrib")))
    val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
    val score = terms.map(t => col(t)).reduce(_ + _)
    pivoted
      .filter(allPresent)
      .withColumn("score", score)
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  /** Column predicate: does `toks` contain the phrase tokens at
    * consecutive positions? Pure built-ins (exists over an index
    * sequence), guarded against sequence's descending-step surprise when
    * the doc is shorter than the phrase. */
  def phraseAdjCol(toks: Column, phrase: Seq[String]): Column = {
    val m = phrase.length
    when(size(toks) >= m,
      exists(sequence(lit(1), size(toks) - lit(m - 1)),
        i => phrase.zipWithIndex.map { case (w, j) =>
          element_at(toks, (i + lit(j)).cast("int")) === lit(w)
        }.reduce(_ && _))
    ).otherwise(lit(false))
  }

  /** Brute-force exact-phrase BM25 top-k over [[PhraseQuerySet]]:
    * adjacency filter on the token array, then the same pivoted
    * fixed-association AND scoring as [[oracleTopK]]. `langFilter`
    * restricts the RESULT set to one lang facet while scoring stats stay
    * corpus-global (the faceted-retrieval contract, as in [[oracleTopK]]). */
  def oraclePhraseTopK(spark: SparkSession, sfDir: String, k: Int = K,
                       langFilter: String = null): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val allowed =
      if (langFilter == null) null
      else docs.filter(col("lang") === langFilter).select(col("docID"))
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))
    val toks = docs.select(col("docID"),
      Analyzer.tokensCol(col("content")).as("toks"))

    val perQuery = PhraseQuerySet.map { case (qid, qtext) =>
      val phrase = Analyzer.tokenize(qtext)
      val terms = Analyzer.queryTerms(qtext)
      val adj = toks.filter(phraseAdjCol(col("toks"), phrase)).select(col("docID"))
      val pivoted = scored
        .filter(col("term").isin(terms: _*))
        .join(adj, "docID")
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      val score = terms.map(t => col(t)).reduce(_ + _)
      (if (allowed == null) pivoted
       else pivoted.join(broadcast(allowed), Seq("docID"), "left_semi"))
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Brute-force mixed search-box BM25 top-k over [[MixedQuerySet]]:
    * parse each raw query string ([[Analyzer.parseSearch]]), then the
    * same pivoted fixed-association AND scoring as [[oracleTopK]] over
    * ALL positive terms, gated by one adjacency filter per quoted phrase
    * ([[phraseAdjCol]]) and an anti-join on the negated terms — phrase
    * and NOT are pure gates, so ranks among survivors equal plain-AND
    * ranks (the same contract the engine's kernel gates keep). */
  def oracleMixedTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))
    val toks = docs.select(col("docID"),
      Analyzer.tokensCol(col("content")).as("toks"))

    val perQuery = MixedQuerySet.map { case (qid, qtext) =>
      val p = Analyzer.parseSearch(qtext)
      val terms = p.pos
      var base = scored.filter(col("term").isin(terms: _*))
      for (phrase <- p.phrases) {
        val adj = toks.filter(phraseAdjCol(col("toks"), phrase)).select(col("docID"))
        base = base.join(adj, "docID")
      }
      if (p.neg.nonEmpty) {
        val negDocs = tf.filter(col("term").isin(p.neg: _*))
          .select(col("docID")).distinct()
        base = base.join(negDocs, Seq("docID"), "left_anti")
      }
      val pivoted = base
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      val score = terms.map(t => col(t)).reduce(_ + _)
      pivoted
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Brute-force field-faceted search-box BM25 top-k over
    * [[FieldQuerySet]]: [[oracleMixedTopK]]'s gate construction plus a
    * semi-join on the `lang:value` facet's docID set — the facet is a
    * pure gate over corpus-global scoring, the faceted-retrieval
    * contract ([[oraclePhraseTopK]]'s `langFilter` generalized to the
    * parsed grammar). */
  def oracleFieldTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))
    val toks = docs.select(col("docID"),
      Analyzer.tokensCol(col("content")).as("toks"))

    val perQuery = FieldQuerySet.map { case (qid, qtext) =>
      val p = Analyzer.parseSearch(qtext)
      val terms = p.pos
      var base = scored.filter(col("term").isin(terms: _*))
      for ((f, v) <- p.fields) {
        require(f == "lang", s"oracle supports the lang field, got $f")
        base = base.join(
          broadcast(docs.filter(col("lang") === v).select(col("docID"))),
          Seq("docID"), "left_semi")
      }
      for (phrase <- p.phrases) {
        val adj = toks.filter(phraseAdjCol(col("toks"), phrase)).select(col("docID"))
        base = base.join(adj, "docID")
      }
      if (p.neg.nonEmpty) {
        val negDocs = tf.filter(col("term").isin(p.neg: _*))
          .select(col("docID")).distinct()
        base = base.join(negDocs, Seq("docID"), "left_anti")
      }
      val pivoted = base
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      val score = terms.map(t => col(t)).reduce(_ + _)
      pivoted
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Brute-force boosted search-box BM25 top-k over [[BoostQuerySet]]:
    * [[oracleMixedTopK]]'s gate construction with each term's pivoted
    * contribution multiplied by its `term^w` weight before the fixed
    * ascending-term sum — `contrib * w` commutes bit-exactly with the
    * kernel's `w * contrib` (IEEE multiplication), so rank identity
    * holds with no new FP hazard. */
  def oracleBoostedTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))
    val toks = docs.select(col("docID"),
      Analyzer.tokensCol(col("content")).as("toks"))

    val perQuery = BoostQuerySet.map { case (qid, qtext) =>
      val p = Analyzer.parseSearch(qtext)
      val terms = p.pos
      var base = scored.filter(col("term").isin(terms: _*))
      for (phrase <- p.phrases) {
        val adj = toks.filter(phraseAdjCol(col("toks"), phrase)).select(col("docID"))
        base = base.join(adj, "docID")
      }
      if (p.neg.nonEmpty) {
        val negDocs = tf.filter(col("term").isin(p.neg: _*))
          .select(col("docID")).distinct()
        base = base.join(negDocs, Seq("docID"), "left_anti")
      }
      val pivoted = base
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      val score = terms.map { t =>
        p.boosts.get(t) match {
          case Some(w) => col(t) * lit(w)
          case None    => col(t)
        }
      }.reduce(_ + _)
      pivoted
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Brute-force grouped (field-collapsing) BM25 top-n per lang over
    * [[GroupedQuerySet]]: the AND pivot with `term^w` weights, ranked by
    * row_number over (partition by lang, round4(score) desc, docID asc)
    * — the declarative twin of the per-group-heap kernel. */
  def oracleGroupedTopK(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))
    val langOf = docs.select(col("docID"), col("lang").as("grp"))

    val perQuery = GroupedQuerySet.map { case (qid, qtext) =>
      val p = Analyzer.parseSearch(qtext)
      val terms = p.pos
      val pivoted = scored.filter(col("term").isin(terms: _*))
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      val score = terms.map { t =>
        p.boosts.get(t) match {
          case Some(w) => col(t) * lit(w)
          case None    => col(t)
        }
      }.reduce(_ + _)
      pivoted
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .join(langOf, "docID")
        .withColumn("rank",
          row_number().over(Window.partitionBy(col("grp"))
            .orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= n)
        .select(lit(qid).as("query"), col("grp"), col("rank"),
          col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _)
      .orderBy(col("query"), col("grp"), col("rank"))
  }

  /** Column predicate: do all `terms` co-occur within some window of `w`
    * consecutive tokens? Pure built-ins — exists over every 1-based start
    * position, slice clamps at the array end. `greatest(..., 1)` guards
    * sequence()'s descending-step surprise on empty token arrays. */
  def windowCol(toks: Column, terms: Seq[String], w: Int): Column =
    exists(sequence(lit(1), greatest(size(toks), lit(1))),
      i => terms.map(t => array_contains(slice(toks, i, lit(w)), t))
        .reduce(_ && _))

  /** Brute-force proximity (window) BM25 top-k over [[WindowQuerySet]]:
    * co-occurrence-within-w filter on the token array, then the same
    * pivoted fixed-association AND scoring as [[oracleTopK]]. Window
    * matches ⊆ AND matches, so scoring semantics are exactly AND's. */
  def oracleWindowTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))
    val toks = docs.select(col("docID"),
      Analyzer.tokensCol(col("content")).as("toks"))

    val perQuery = WindowQuerySet.map { case (qid, qtext, w) =>
      val terms = Analyzer.queryTerms(qtext)
      val near = toks.filter(windowCol(col("toks"), terms, w)).select(col("docID"))
      val pivoted = scored
        .filter(col("term").isin(terms: _*))
        .join(near, "docID")
        .groupBy(col("docID"))
        .pivot("term", terms)
        .agg(first(col("contrib")))
      val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
      val score = terms.map(t => col(t)).reduce(_ + _)
      pivoted
        .filter(allPresent)
        .withColumn("score", round(score, 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Exact-score window variant for internal rank-identity tests. */
  def oracleWindowTopKExact(spark: SparkSession, sfDir: String, qtext: String,
                            w: Int, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val terms  = Analyzer.queryTerms(qtext)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
    val near = docs
      .select(col("docID"), Analyzer.tokensCol(col("content")).as("toks"))
      .filter(windowCol(col("toks"), terms, w)).select(col("docID"))
    val pivoted = scored
      .filter(col("term").isin(terms: _*))
      .join(near, "docID")
      .groupBy(col("docID"))
      .pivot("term", terms)
      .agg(first(col("contrib")))
    val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
    val score = terms.map(t => col(t)).reduce(_ + _)
    pivoted
      .filter(allPresent)
      .withColumn("score", score)
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  /** Brute-force prefix BM25 top-k over [[PrefixQuerySet]]: every corpus
    * term starting with the prefix contributes with OR semantics. The
    * score folds the matching contributions in ASCENDING TERM ORDER
    * starting from 0.0 — bit-identical to both the engine's disjunctive
    * accumulation (absent terms add an exact +0.0) and the DuckDB twin's
    * `list_reduce(list(contrib ORDER BY term), +)`. */
  def oraclePrefixTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = PrefixQuerySet.map { case (qid, prefix) =>
      scored
        .filter(col("term").startsWith(prefix))
        .groupBy(col("docID"))
        .agg(aggregate(
          sort_array(collect_list(struct(col("term"), col("contrib")))),
          lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("raw"))
        .withColumn("score", round(col("raw"), 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Exact-score prefix variant for internal rank-identity tests. */
  def oraclePrefixTopKExact(spark: SparkSession, sfDir: String,
                            prefix: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    tf.join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .filter(col("term").startsWith(prefix))
      .groupBy(col("docID"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  /** Brute-force fuzzy BM25 top-k over [[FuzzyQuerySet]]: every corpus
    * term within Levenshtein distance 1 of the query contributes with OR
    * semantics; scoring is the same ascending-term ordered fold as
    * [[oraclePrefixTopK]] (bit-identical to the engine and the DuckDB
    * `list_reduce` twin). */
  def oracleFuzzyTopK(spark: SparkSession, sfDir: String, k: Int = K,
                      maxDist: Int = 1): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = FuzzyQuerySet.map { case (qid, q) =>
      scored
        .filter(levenshtein(col("term"), lit(q)) <= maxDist)
        .groupBy(col("docID"))
        .agg(aggregate(
          sort_array(collect_list(struct(col("term"), col("contrib")))),
          lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("raw"))
        .withColumn("score", round(col("raw"), 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Exact-score fuzzy variant for internal rank-identity tests. */
  def oracleFuzzyTopKExact(spark: SparkSession, sfDir: String, q: String,
                           k: Int = K, maxDist: Int = 1): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    tf.join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .filter(levenshtein(col("term"), lit(q)) <= maxDist)
      .groupBy(col("docID"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  /** Brute-force wildcard (contains) BM25 top-k over
    * [[WildcardQuerySet]]: every corpus term CONTAINING the fragment
    * contributes with OR semantics; scoring is the same ascending-term
    * ordered fold as [[oraclePrefixTopK]] (bit-identical to the engine
    * and the DuckDB `list_reduce` twin). */
  def oracleWildcardTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = WildcardQuerySet.map { case (qid, frag) =>
      scored
        .filter(col("term").contains(frag))
        .groupBy(col("docID"))
        .agg(aggregate(
          sort_array(collect_list(struct(col("term"), col("contrib")))),
          lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("raw"))
        .withColumn("score", round(col("raw"), 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Exact-score wildcard variant for internal rank-identity tests. */
  def oracleWildcardTopKExact(spark: SparkSession, sfDir: String,
                              frag: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    tf.join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .filter(col("term").contains(frag))
      .groupBy(col("docID"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  /** Regexp brute-force top-k over [[RegexQuerySet]] — the wildcard
    * oracle with the contains-predicate swapped for an ANCHORED regex
    * match (`rlike("^(?:pat)$")` ≡ java.util.regex `matches()`, the
    * engine's dictionary-expansion predicate). */
  def oracleRegexTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs).cache()
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .select(col("docID"), col("term"), col("contrib"))

    val perQuery = RegexQuerySet.map { case (qid, pat) =>
      scored
        .filter(col("term").rlike("^(?:" + pat + ")$"))
        .groupBy(col("docID"))
        .agg(aggregate(
          sort_array(collect_list(struct(col("term"), col("contrib")))),
          lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("raw"))
        .withColumn("score", round(col("raw"), 4))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(lit(qid).as("query"), col("rank"), col("docID"), col("score"))
    }
    perQuery.reduce(_ unionAll _).orderBy(col("query"), col("rank"))
  }

  /** Exact-score regexp variant for internal rank-identity tests. */
  def oracleRegexTopKExact(spark: SparkSession, sfDir: String,
                           pat: String, k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    tf.join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
      .filter(col("term").rlike("^(?:" + pat + ")$"))
      .groupBy(col("docID"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  /** Exact-score phrase variant for internal rank-identity tests. */
  def oraclePhraseTopKExact(spark: SparkSession, sfDir: String, qtext: String,
                            k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val phrase = Analyzer.tokenize(qtext)
    val terms  = Analyzer.queryTerms(qtext)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
    val adj = docs
      .select(col("docID"), Analyzer.tokensCol(col("content")).as("toks"))
      .filter(phraseAdjCol(col("toks"), phrase)).select(col("docID"))
    val pivoted = scored
      .filter(col("term").isin(terms: _*))
      .join(adj, "docID")
      .groupBy(col("docID"))
      .pivot("term", terms)
      .agg(first(col("contrib")))
    val allPresent = terms.map(t => col(t).isNotNull).reduce(_ && _)
    val score = terms.map(t => col(t)).reduce(_ + _)
    pivoted
      .filter(allPresent)
      .withColumn("score", score)
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  /** Exact-score disjunctive variant for internal rank-identity tests. */
  def oracleTopKOrExact(spark: SparkSession, sfDir: String, qtext: String,
                        k: Int = K): DataFrame = {
    val docs   = Corpus.docs(spark, sfDir)
    val tf     = termFreq(docs)
    val doclen = docLengths(tf)
    val stats  = corpusStats(doclen)
    val df     = docFreq(tf)
    val terms  = Analyzer.queryTerms(qtext)
    val scored = tf
      .join(df, "term")
      .join(doclen, "docID")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
    val pivoted = scored
      .filter(col("term").isin(terms: _*))
      .groupBy(col("docID"))
      .pivot("term", terms)
      .agg(first(col("contrib")))
    val score = terms.map(t => coalesce(col(t), lit(0.0))).reduce(_ + _)
    pivoted
      .withColumn("score", score)
      .orderBy(col("score").desc, col("docID").asc)
      .limit(k)
      .select(col("docID"), col("score"))
  }

  // ------------------------------------------------------- DuckDB twin SQL

  /** ANSI SQL (DuckDB dialect) twin of [[oracleTopK]], generated from the
    * same QuerySet so both sides share one source of truth. Table name
    * `documents` = the driver-registered parquet. */
  /** DuckDB text expression of [[fieldedDocs]]: the raw `documents`
    * columns reassembled into `content ⊕ path×w` (path is derived, not
    * stored — `source || '/' || doc_id || '.txt'`, Corpus.scala:32). */
  def fieldedTextSql: String =
    s"lower(text || ' ' || repeat(source || '/' || CAST(doc_id AS VARCHAR) || '.txt '," +
      s" $FieldWeightPath))"

  /** DuckDB twin of [[oracleFieldedTopK]] / the fielded indexed entry. */
  def oracleSqlFieldedTopK(k: Int = K): String =
    oracleSqlTopK(k, querySet = FieldedQuerySet, textExpr = fieldedTextSql)

  /** DuckDB twin of [[oracleSynTopK]] / the engine's synonym path: per
    * group a summed-tf derived table and a max-df scalar, contributions
    * summed in canonical group-name order (identical association). */
  def oracleSqlSynTopK(k: Int = K): String = {
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
         |)""".stripMargin
    val perQuery = SynQuerySet.map { case (qid, qtext) =>
      val groups = Analyzer.synGroups(qtext)
      def in(g: Seq[String]): String = g.map(t => s"'$t'").mkString(", ")
      val fromChain = groups.indices.map { i =>
        val sub = s"(SELECT docID, CAST(sum(tf) AS DOUBLE) AS tf FROM tf " +
          s"WHERE term IN (${in(groups(i))}) GROUP BY docID) t$i"
        if (i == 0) sub else s"JOIN $sub USING (docID)"
      }.mkString("\n    ")
      val dJoins = groups.indices.map { i =>
        s"CROSS JOIN (SELECT CAST(max(df) AS DOUBLE) AS df FROM dfr " +
          s"WHERE term IN (${in(groups(i))})) d$i"
      }.mkString("\n    ")
      val gCols = groups.indices.map { i =>
        s"ln((stats.n - d$i.df + 0.5) / (d$i.df + 0.5) + 1.0)" +
          s" * (t$i.tf * 2.2)" +
          s" / (t$i.tf + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl)) AS g$i"
      }.mkString(",\n           ")
      val scoreExpr = groups.indices.map(i => s"g$i").mkString(" + ")
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID,
         |           $gCols
         |    FROM $fromChain
         |    JOIN dl USING (docID)
         |    CROSS JOIN stats
         |    $dJoins
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  def oracleSqlTopK(k: Int = K, langFilter: String = null,
                    // extra raw SQL predicate on the candidate docID
                    // (e.g. the tombstone-exclusion twin); appended to
                    // the per-query WHERE clause verbatim
                    docPred: String = null,
                    // pagination twin: emit ranks in [rankLo, k] — page 2
                    // of a k-deep ranking is (k+1, 2k). 1 = from the top.
                    rankLo: Int = 1,
                    // the query set and tokenized-text expression — the
                    // fielded (BM25F) twin swaps both, nothing else
                    querySet: Seq[(String, String)] = QuerySet,
                    textExpr: String = "lower(text)"): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array($textExpr, '[^a-z0-9]+')) AS t(term)
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = querySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      val langPred =
        (if (langFilter == null) ""
         else s"\n      AND docID IN (SELECT doc_id FROM documents WHERE lang = '$langFilter')") +
        (if (docPred == null) "" else s"\n      AND $docPred")
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList)$langPred
         |    GROUP BY docID
         |    HAVING count(*) = ${terms.size}
         |  )
         |) WHERE rank BETWEEN $rankLo AND $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of [[oraclePhraseTopK]]: same CTEs plus a token-array
    * CTE; adjacency via list_filter over 1-based index range (DuckDB
    * range(a, b) is empty when b <= a, so short docs need no guard).
    * `langFilter` gates the result set like [[oracleSqlTopK]]'s. */
  def oracleSqlPhraseTopK(k: Int = K, langFilter: String = null): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tokarr AS (
         |  SELECT doc_id AS docID,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
         |  FROM documents
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = PhraseQuerySet.map { case (qid, qtext) =>
      val phrase = graft.functions.Analyzer.tokenize(qtext)
      val terms = graft.functions.Analyzer.queryTerms(qtext)
      val m = phrase.length
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val adjCond = phrase.zipWithIndex
        .map { case (w, j) => s"toks[CAST(i AS BIGINT)+$j] = '$w'" }.mkString(" AND ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      val langPred =
        if (langFilter == null) ""
        else s"\n      AND docID IN (SELECT doc_id FROM documents WHERE lang = '$langFilter')"
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList) AND docID IN (
         |      SELECT docID FROM tokarr
         |      WHERE len(list_filter(range(1, len(toks) - ${m - 1} + 1),
         |                            i -> $adjCond)) > 0)$langPred
         |    GROUP BY docID
         |    HAVING count(*) = ${terms.size}
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of [[oracleMixedTopK]] (and of the engine's
    * `searchAll`): the AND-semantics per-query SQL over ALL positive
    * terms of the parsed search string, plus one list_filter adjacency
    * subquery per quoted phrase (as the phrase twin) and a `NOT IN` over
    * the negated terms (as the NOT twin) — both pure gates before
    * ranking. */
  def oracleSqlMixedTopK(k: Int = K): String = searchBoxSql(MixedQuerySet, k)

  /** DuckDB twin of [[oracleFieldTopK]] (and of the engine's
    * `searchFieldAll`): the mixed twin plus a `docID IN (docs of the
    * lang facet)` gate per `field:value` piece. */
  def oracleSqlFieldTopK(k: Int = K): String = searchBoxSql(FieldQuerySet, k)

  /** DuckDB twin of [[oracleBoostedTopK]] (and of the engine's
    * `searchBoostedAll`): each pivoted term contribution multiplied by
    * its `term^w` weight before the fixed-order sum. */
  def oracleSqlBoostedTopK(k: Int = K): String = searchBoxSql(BoostQuerySet, k)

  /** DuckDB twin of [[oracleGroupedTopK]] (and of the `search_grouped`
    * entry): rank partitioned by the doc's lang. */
  def oracleSqlGroupedTopK(n: Int = 3): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = GroupedQuerySet.map { case (qid, qtext) =>
      val p = graft.functions.Analyzer.parseSearch(qtext)
      val terms = p.pos
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.zipWithIndex.map { case (t, i) =>
        p.boosts.get(t) match {
          case Some(w) => s"(c$i * $w)"
          case None    => s"c$i"
        }
      }.mkString(" + ")
      s"""(SELECT '$qid' AS query, grp, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT d.lang AS grp, s.docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (PARTITION BY d.lang
         |           ORDER BY round($scoreExpr, 4) DESC, s.docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList)
         |    GROUP BY docID
         |    HAVING count(*) = ${terms.size}
         |  ) s JOIN documents d ON d.doc_id = s.docID
         |) WHERE rank <= $n)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, grp, rank"
  }

  private def searchBoxSql(querySet: Seq[(String, String)], k: Int): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tokarr AS (
         |  SELECT doc_id AS docID,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
         |  FROM documents
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = querySet.map { case (qid, qtext) =>
      val p = graft.functions.Analyzer.parseSearch(qtext)
      val terms = p.pos
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      // `term^w` boosts: `(c_i * w)` — commutes bit-exactly with the
      // kernel's `w * contrib`; unboosted terms stay bare (x * 1.0 == x)
      val scoreExpr = terms.zipWithIndex.map { case (t, i) =>
        p.boosts.get(t) match {
          case Some(w) => s"(c$i * $w)"
          case None    => s"c$i"
        }
      }.mkString(" + ")
      val fieldPreds = p.fields.map { case (f, v) =>
        require(f == "lang", s"SQL twin supports the lang field, got $f")
        s"\n      AND docID IN (SELECT doc_id FROM documents WHERE lang = '$v')"
      }.mkString
      val phrasePreds = p.phrases.map { phrase =>
        val m = phrase.length
        val adjCond = phrase.zipWithIndex
          .map { case (w, j) => s"toks[CAST(i AS BIGINT)+$j] = '$w'" }.mkString(" AND ")
        s"""
           |      AND docID IN (
           |        SELECT docID FROM tokarr
           |        WHERE len(list_filter(range(1, len(toks) - ${m - 1} + 1),
           |                              i -> $adjCond)) > 0)""".stripMargin
      }.mkString
      val negPred =
        if (p.neg.isEmpty) ""
        else {
          val negList = p.neg.map(t => s"'$t'").mkString(", ")
          s"\n      AND docID NOT IN (SELECT docID FROM tf WHERE term IN ($negList))"
        }
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList)$fieldPreds$phrasePreds$negPred
         |    GROUP BY docID
         |    HAVING count(*) = ${terms.size}
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of the `suggest_terms` entry: per fixed prefix, the
    * top-m dictionary terms starting with it by (df desc, term asc) —
    * document frequency straight off the tokenization CTE. */
  def suggestSql(m: Int = 8): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tfd AS (
         |  SELECT DISTINCT docID, term FROM tok
         |), dfr AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfd GROUP BY term
         |)""".stripMargin
    val perPrefix = PrefixQuerySet.map { case (qid, p) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, term, df FROM (
         |  SELECT term, df,
         |         row_number() OVER (ORDER BY df DESC, term ASC) AS rank
         |  FROM dfr WHERE term LIKE '$p%'
         |) WHERE rank <= $m)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perPrefix\n) ORDER BY query, rank"
  }

  /** DuckDB twin of the `explain_scores` entry: the AND twin's
    * ranked top-k joined back to the per-(doc, term) scored rows, so
    * every (tf, df, contrib) ingredient is re-derived from the raw
    * corpus and cross-gates the engine's index-side point read. */
  def explainSql(k: Int = K): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term, tf.tf, dfr.df,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = graft.functions.Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      s"""(SELECT '$qid' AS query, CAST(r.rank AS INTEGER) AS rank, r.docID,
         |        s.term, s.tf, s.df, round(s.contrib, 4) AS contrib
         | FROM (
         |   SELECT docID,
         |          row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |   FROM (
         |     SELECT docID, $cs
         |     FROM scored WHERE term IN ($inList)
         |     GROUP BY docID
         |     HAVING count(*) = ${terms.size}
         |   )
         | ) r JOIN scored s USING (docID)
         | WHERE r.rank <= $k AND s.term IN ($inList))""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank, term"
  }

  /** Fixed did-you-mean query set: two misspellings, exact+misspelled,
    * no candidate within distance 1 (∅ → empty suggestion), two more
    * misspellings, and a present high-df term (competes at distance 0,
    * may still lose to a higher-df neighbor — df is the signal). */
  val DidYouMeanQuerySet: Seq[(String, String)] = Seq(
    ("d01", "hsh sow"),
    ("d02", "query batc"),
    ("d03", "zzzz"),
    ("d04", "pert dat"),
    ("d05", "the"),
  )

  /** DuckDB twin of the `did_you_mean` entry: per input term, the
    * max-df dictionary term within Levenshtein distance 1 (ties term
    * asc), '' / 0 when none — `levenshtein` is a DuckDB built-in with
    * unit-cost edits, same metric as the engine's expansion. */
  def didYouMeanSql(maxDist: Int = 1): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tfd AS (
         |  SELECT DISTINCT docID, term FROM tok
         |), dfr AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfd GROUP BY term
         |)""".stripMargin
    val perTerm = DidYouMeanQuerySet.flatMap { case (qid, q) =>
      graft.functions.Analyzer.queryTerms(q).map { t =>
        s"""(SELECT '$qid' AS query, '$t' AS term,
           |        coalesce(s.term, '') AS suggestion,
           |        CAST(coalesce(s.df, 0) AS BIGINT) AS sugg_df
           | FROM (SELECT 1) one LEFT JOIN (
           |   SELECT term, df FROM dfr WHERE levenshtein(term, '$t') <= $maxDist
           |   ORDER BY df DESC, term ASC LIMIT 1) s ON TRUE)""".stripMargin
      }
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perTerm\n) ORDER BY query, term"
  }

  /** DuckDB twin of `QueryEngine.indexStats`: every index-metadata value
    * re-derived from the raw corpus. */
  def indexStatsSql(): String =
    s"""WITH tok AS (
       |  SELECT doc_id AS docID, t.term AS term
       |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
       |  WHERE t.term <> ''
       |), tf AS (
       |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
       |), dl AS (
       |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
       |), dfr AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
       |)
       |SELECT CAST((SELECT count(*) FROM dl) AS BIGINT) AS n_docs,
       |       CAST((SELECT count(*) FROM dfr) AS BIGINT) AS n_terms,
       |       CAST((SELECT sum(df) FROM dfr) AS BIGINT) AS n_postings,
       |       CAST((SELECT max(df) FROM dfr) AS BIGINT) AS max_df,
       |       round((SELECT CAST(sum(len) AS DOUBLE) / count(*) FROM dl), 4) AS avgdl""".stripMargin

  /** DuckDB twin of [[oracleTopKOr]]: same CTEs, no HAVING gate, absent
    * terms coalesce to 0.0 in the same fixed-order sum. A query whose
    * terms all miss the corpus (q05) matches no scored rows → empty. */
  def oracleSqlTopKOr(k: Int = K): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"coalesce(max(CASE WHEN term = '$t' THEN contrib END), 0.0) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList)
         |    GROUP BY docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of [[oracleTopKMsm]]: the OR-semantics per-query SQL
    * plus `HAVING count(*) >= m` on the per-doc pivot — `scored` has
    * exactly one row per (docID, matched term), so the group count IS
    * the distinct matched-term count. */
  def oracleSqlTopKMsm(k: Int = K): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = MsmQuerySet.map { case (qid, qtext, m) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"coalesce(max(CASE WHEN term = '$t' THEN contrib END), 0.0) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList)
         |    GROUP BY docID
         |    HAVING count(*) >= $m
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of [[oracleTopKNot]]: the AND-semantics per-query SQL
    * plus `docID NOT IN (docs containing any negated term)` applied
    * before ranking — the same exclusion-before-top-k the engine's
    * anti-posting gate performs. */
  def oracleSqlTopKNot(k: Int = K): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = NotQuerySet.map { case (qid, qtext) =>
      val (terms, neg) = graft.functions.Analyzer.signedTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      val negPred =
        if (neg.isEmpty) ""
        else {
          val negList = neg.map(t => s"'$t'").mkString(", ")
          s"\n      AND docID NOT IN (SELECT docID FROM tf WHERE term IN ($negList))"
        }
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList)$negPred
         |    GROUP BY docID
         |    HAVING count(*) = ${terms.size}
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of [[oraclePrefixTopK]]: the dynamic expansion is a
    * `term LIKE 'p%'` predicate, and the data-dependent score sum is an
    * ORDERED FOLD — `list_reduce(list(contrib ORDER BY term), +)` —
    * which associates left-to-right over ascending terms exactly like
    * the engine's disjunctive accumulator (+0.0 init is bit-neutral for
    * the positive contributions). */
  def oracleSqlPrefixTopK(k: Int = K): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = PrefixQuerySet.map { case (qid, prefix) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round(raw, 4) AS score,
         |         row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID,
         |           list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS raw
         |    FROM scored WHERE term LIKE '$prefix%'
         |    GROUP BY docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of the `more_like_this` entry: per source doc, the
    * top-t terms by round4(tf·idf) (term-asc ties), then OR-mode BM25
    * over that data-dependent expansion — the ordered `list_reduce`
    * fold, source doc excluded before ranking. */
  def oracleSqlMoreLikeThis(k: Int = K, t: Int = MltTerms): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perSrc = MltSources.map { src =>
      s"""(SELECT CAST($src AS BIGINT) AS src, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round(raw, 4) AS score,
         |         row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID,
         |           list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS raw
         |    FROM scored
         |    WHERE docID <> $src AND term IN (
         |      SELECT term FROM (
         |        SELECT tf.term,
         |               row_number() OVER (
         |                 ORDER BY round(CAST(tf.tf AS DOUBLE)
         |                   * ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5)
         |                        / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0), 4) DESC,
         |                 tf.term ASC) AS tr
         |        FROM tf JOIN dfr USING (term) CROSS JOIN stats
         |        WHERE tf.docID = $src
         |      ) WHERE tr <= $t
         |    )
         |    GROUP BY docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perSrc\n) ORDER BY src, rank"
  }

  /** DuckDB twin of the engine's total-hits counts
    * (the `match_counts` entry): per query, the number of docs
    * containing ALL terms (AND) and ANY term (OR) — pure relational
    * counting over the tf CTE, no scoring involved. */
  def oracleSqlMatchCounts(): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term FROM tok GROUP BY docID, term
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query,
         |  CAST((SELECT count(*) FROM (
         |    SELECT docID FROM tf WHERE term IN ($inList)
         |    GROUP BY docID HAVING count(*) = ${terms.size})) AS BIGINT) AS n_docs,
         |  CAST((SELECT count(DISTINCT docID) FROM tf
         |        WHERE term IN ($inList)) AS BIGINT) AS n_docs_or)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query"
  }

  /** DuckDB twin of the engine's per-facet hit counts
    * (the `facet_counts` entry): per query, matching docs grouped
    * by lang — facet values with zero hits are absent on both sides. */
  def oracleSqlFacetCounts(): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term FROM tok GROUP BY docID, term
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query, d.lang AS lang,
         |        CAST(count(*) AS BIGINT) AS n_docs
         | FROM (SELECT docID FROM tf WHERE term IN ($inList)
         |       GROUP BY docID HAVING count(*) = ${terms.size}) m
         | JOIN documents d ON d.doc_id = m.docID
         | GROUP BY d.lang)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, lang"
  }

  /** DuckDB twin of [[oracleFuzzyTopK]]: the prefix twin with the
    * expansion predicate swapped to `levenshtein(term, q) <= 1`
    * (classic edit distance in both engines), same ordered fold. */
  def oracleSqlFuzzyTopK(k: Int = K, maxDist: Int = 1): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = FuzzyQuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round(raw, 4) AS score,
         |         row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID,
         |           list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS raw
         |    FROM scored WHERE levenshtein(term, '$q') <= $maxDist
         |    GROUP BY docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of the `len_histogram` entry: per AND query, the
    * matching docs bucketed by ⌊len/width⌋ — zero buckets absent on
    * both sides, bucket ascending. The absent-term query (q05)
    * contributes no rows (HAVING can never reach the term count). */
  def oracleSqlLenHistogram(width: Int = HistogramWidth): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |), dl AS (
         |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query,
         |        CAST(floor(CAST(dl.len AS DOUBLE) / $width) AS INTEGER) AS bucket,
         |        CAST(count(*) AS BIGINT) AS n_docs
         | FROM (SELECT docID FROM tf WHERE term IN ($inList)
         |       GROUP BY docID HAVING count(*) = ${terms.size}) m
         | JOIN dl USING (docID)
         | GROUP BY 1, 2)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, bucket"
  }

  /** DuckDB twin of the `len_percentile_ranks` entry: fraction of each
    * match set with len ≤ each probe value — exact-integer count over
    * exact-integer total, one round4 division. */
  def oracleSqlLenPercentileRanks(values: Seq[Long]): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |), dl AS (
         |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
         |)""".stripMargin
    val vlist = values.map(v => s"($v)").mkString(", ")
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query, CAST(v.v AS BIGINT) AS value,
         |        round(CAST(sum(CASE WHEN dl.len <= v.v THEN 1 ELSE 0 END) AS DOUBLE)
         |              / count(*), 4) AS frac
         | FROM (SELECT docID FROM tf WHERE term IN ($inList)
         |       GROUP BY docID HAVING count(*) = ${terms.size}) m
         | JOIN dl USING (docID)
         | CROSS JOIN (VALUES $vlist) v(v)
         | GROUP BY v.v)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, value"
  }

  /** DuckDB twin of the `match_docs` entry:
    * the full AND match set per fixed query, docID-ordered — the
    * scroll/export contract re-derived from the corpus. */
  def oracleSqlMatchDocs(): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query, docID FROM tf WHERE term IN ($inList)
         | GROUP BY docID HAVING count(*) = ${terms.size})""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, docID"
  }

  /** DuckDB twin of the `len_ranges` entry:
    * the histogram twin with the floor-division bucket swapped for the
    * containing range's lower bound (CASE over descending bounds);
    * docs below the first bound drop out — ES range-agg semantics. */
  def oracleSqlLenRanges(bounds: Seq[Long] = RangeBounds): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |), dl AS (
         |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
         |)""".stripMargin
    val caseExpr = bounds.reverse
      .map(b => s"WHEN dl.len >= $b THEN CAST($b AS BIGINT)")
      .mkString("CASE ", " ", " END")
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query, $caseExpr AS lo,
         |        CAST(count(*) AS BIGINT) AS n_docs
         | FROM (SELECT docID FROM tf WHERE term IN ($inList)
         |       GROUP BY docID HAVING count(*) = ${terms.size}) m
         | JOIN dl USING (docID)
         | WHERE dl.len >= ${bounds.head}
         | GROUP BY 1, 2)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, lo"
  }

  /** DuckDB twin of the `len_percentiles` entry: exact nearest-rank —
    * the len at sorted position ceil(p·cnt) of each match set, (len,
    * docID)-ordered.
    * The rank product is the same IEEE double on both engines, so both
    * land on the same position. The twin may use a plain row_number
    * (DuckDB is single-node); the engine resolves the rank from the
    * value DISTRIBUTION instead (no global sort — see the scaladoc
    * there). */
  def oracleSqlLenPercentiles(ps: Seq[Double]): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |), dl AS (
         |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
         |)""".stripMargin
    val ordCtes = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""o_$qid AS (
         |  SELECT dl.len, dl.docID,
         |         row_number() OVER (ORDER BY dl.len, dl.docID) AS rn,
         |         CAST(count(*) OVER () AS BIGINT) AS cnt
         |  FROM (SELECT docID FROM tf WHERE term IN ($inList)
         |        GROUP BY docID HAVING count(*) = ${terms.size}) m
         |  JOIN dl USING (docID)
         |)""".stripMargin
    }.mkString(",\n")
    val perCell = QuerySet.flatMap { case (qid, _) =>
      ps.map { p =>
        s"""(SELECT '$qid' AS query, CAST($p AS DOUBLE) AS p, len
           | FROM o_$qid
           | WHERE rn = greatest(1, CAST(ceil($p * cnt) AS BIGINT)))""".stripMargin
      }
    }.mkString("\n UNION ALL \n")
    s"$base,\n$ordCtes\nSELECT * FROM (\n$perCell\n) ORDER BY query, p"
  }

  /** DuckDB twin of the `match_stats` entry:
    * the same integer min/max/sum + exact distinct-lang count over the
    * match set, one final rounded division. */
  def oracleSqlMatchStats(): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tf AS (
         |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
         |), dl AS (
         |  SELECT docID, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY docID
         |), dv AS (
         |  SELECT doc_id AS docID, lang FROM documents
         |)""".stripMargin
    val perQuery = QuerySet.map { case (qid, qtext) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""(SELECT '$qid' AS query,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(count(DISTINCT dv.lang) AS BIGINT) AS n_langs,
         |        CAST(min(dl.len) AS BIGINT) AS min_len,
         |        CAST(max(dl.len) AS BIGINT) AS max_len,
         |        round(CAST(sum(dl.len) AS DOUBLE) / count(*), 4) AS avg_len
         | FROM (SELECT docID FROM tf WHERE term IN ($inList)
         |       GROUP BY docID HAVING count(*) = ${terms.size}) m
         | JOIN dl USING (docID)
         | JOIN dv USING (docID)
         | HAVING count(*) > 0)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query"
  }

  /** DuckDB twin of [[oracleWildcardTopK]]: the prefix twin with the
    * expansion predicate swapped to `term LIKE '%frag%'` (fragments are
    * analyzer tokens — alphanumeric only, no LIKE metacharacters), same
    * ordered fold. */
  def oracleSqlWildcardTopK(k: Int = K): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = WildcardQuerySet.map { case (qid, frag) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round(raw, 4) AS score,
         |         row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID,
         |           list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS raw
         |    FROM scored WHERE term LIKE '%$frag%'
         |    GROUP BY docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of [[oracleRegexTopK]]: the wildcard twin with the
    * LIKE predicate swapped for `regexp_full_match` (RE2; anchored, as
    * the engine's java.util.regex `matches()` — patterns restricted to
    * the shared construct subset, see [[RegexQuerySet]]). */
  def oracleSqlRegexTopK(k: Int = K): String = {
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = RegexQuerySet.map { case (qid, pat) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round(raw, 4) AS score,
         |         row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID,
         |           list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS raw
         |    FROM scored WHERE regexp_full_match(term, '$pat')
         |    GROUP BY docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of the `term_vectors` entry: the per-doc term
    * vector re-derived from the corpus — what the index's stage-1 tf +
    * dictionary artifacts must agree with row-for-row. */
  def oracleSqlTermVectors(ids: Seq[Long] = TermVectorDocs): String = {
    val inList = ids.mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id AS docID, t.term AS term
       |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
       |  WHERE t.term <> ''
       |), tf AS (
       |  SELECT docID, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY docID, term
       |), dfr AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
       |)
       |SELECT docID, term, tf, df FROM tf JOIN dfr USING (term)
       |WHERE docID IN ($inList)
       |ORDER BY docID, term""".stripMargin
  }

  /** DuckDB twin of [[oracleWindowTopK]]: the phrase twin's CTEs with the
    * adjacency predicate generalized to a sliding window — a doc matches
    * iff some 1-based start i has every query term inside
    * toks[i : i+w−1] (DuckDB slices are inclusive and clamp at the list
    * end, exactly like Spark's `slice(toks, i, w)`). */
  def oracleSqlWindowTopK(k: Int = K): String = {
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id AS docID, t.term AS term
         |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
         |  WHERE t.term <> ''
         |), tokarr AS (
         |  SELECT doc_id AS docID,
         |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
         |  FROM documents
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
         |), scored AS (
         |  SELECT tf.docID, tf.term,
         |         ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf.tf AS DOUBLE) * 2.2)
         |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))
         |           AS contrib
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
         |)""".stripMargin
    val perQuery = WindowQuerySet.map { case (qid, qtext, w) =>
      val terms = Analyzer.queryTerms(qtext)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val winCond = terms.map(t =>
        s"list_contains(toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+${w - 1}], '$t')")
        .mkString(" AND ")
      val cs = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN contrib END) AS c$i"
      }.mkString(", ")
      val scoreExpr = terms.indices.map(i => s"c$i").mkString(" + ")
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT docID, round($scoreExpr, 4) AS score,
         |         row_number() OVER (ORDER BY round($scoreExpr, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    SELECT docID, $cs
         |    FROM scored WHERE term IN ($inList) AND docID IN (
         |      SELECT docID FROM tokarr
         |      WHERE len(list_filter(range(1, len(toks) + 1),
         |                            i -> $winCond)) > 0)
         |    GROUP BY docID
         |    HAVING count(*) = ${terms.size}
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }
}
