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
  * everything in the indexed engine is tested
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
    * the index builder consumes it directly. */
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
    * front door's grammar (the engine's `search`). Covers: term+phrase,
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
  //
  // Every brute-force oracle is the same four parts: one corpus context
  // ([[Context]]), one per-query scorer ([[score]] over a [[Match]]), one
  // rank tail ([[rank]]), and — for the DuckDB twins — one base-CTE
  // builder ([[baseSql]]) with its per-query scorer and tail
  // ([[candSql]], [[rankSql]]). None of it reads the index.

  /** The corpus side of every brute-force oracle, derived from one `docs`
    * frame: term frequencies, doc lengths, corpus stats, document
    * frequencies and `scored` (docID, term, contrib). `cached` keeps `tf`
    * in memory for the set-level oracles, which score many queries
    * against it; the exact per-query oracles persist nothing. */
  final class Context(val docs: DataFrame, cached: Boolean) {
    val tf: DataFrame = if (cached) termFreq(docs).cache() else termFreq(docs)
    val doclen: DataFrame = docLengths(tf)
    val stats: DataFrame = corpusStats(doclen)
    val df: DataFrame = docFreq(tf)

    /** (docID, term, contrib) for (docID, term, tf) rows `terms` whose
      * document frequencies are the (term, df) rows `dfs`. */
    def contribs(terms: DataFrame, dfs: DataFrame): DataFrame =
      terms.join(dfs, "term").join(doclen, "docID").crossJoin(broadcast(stats))
        .withColumn("contrib",
          contribCol(idfCol(col("n"), col("df")), col("tf"), col("len"), col("avgdl")))
        .select(col("docID"), col("term"), col("contrib"))

    val scored: DataFrame = contribs(tf, df)

    /** (docID, toks): the token arrays the phrase and window gates read. */
    def toks: DataFrame =
      docs.select(col("docID"), Analyzer.tokensCol(col("content")).as("toks"))
  }

  object Context {
    def apply(spark: SparkSession, sfDir: String, cached: Boolean = false): Context =
      new Context(Corpus.docs(spark, sfDir), cached)
  }

  /** One brute-force query. A doc is a candidate when it holds at least
    * `minMatch` of the positive `terms` (AND: all of them, OR: one, msm:
    * m) — or, with `expand`, any corpus term the expansion predicate
    * accepts (prefix, fuzzy, wildcard, regex; OR semantics) — and passes
    * every gate: each of `phrases` at consecutive positions, all `terms`
    * within some `window` of consecutive tokens (0 = no window), its lang
    * equal to each of `langs`, and none of the `neg` terms. Gates never
    * score, so ranks among survivors are the ungated ranks. `boosts`
    * multiplies a term's contribution by its `term^w` weight. `expand`
    * holds one predicate on `term` twice: as a Spark column and as
    * DuckDB SQL. */
  final case class Match(
      terms: Seq[String] = Nil,
      minMatch: Int = 1,
      boosts: Map[String, Double] = Map.empty,
      neg: Seq[String] = Nil,
      phrases: Seq[Seq[String]] = Nil,
      window: Int = 0,
      langs: Seq[String] = Nil,
      expand: Option[(Column, String)] = None)

  object Match {
    def and(q: String): Match = { val t = Analyzer.queryTerms(q); Match(t, t.size) }
    def or(q: String): Match = Match(Analyzer.queryTerms(q))
    def msm(q: String, m: Int): Match = Match(Analyzer.queryTerms(q), m)
    def not(q: String): Match = {
      val (pos, neg) = Analyzer.signedTerms(q)
      Match(pos, pos.size, neg = neg)
    }
    def phrase(q: String): Match = and(q).copy(phrases = Seq(Analyzer.tokenize(q)))
    def window(q: String, w: Int): Match = and(q).copy(window = w)

    /** The search-box grammar ([[Analyzer.parseSearch]]): all positive
      * terms ANDed, with their boosts, quoted phrases, NOT terms and
      * `lang:value` facets. */
    def search(q: String): Match = {
      val p = Analyzer.parseSearch(q)
      val langs = p.fields.map { case (f, v) =>
        require(f == "lang", s"oracle supports the lang field, got $f"); v
      }
      Match(p.pos, p.pos.size, p.boosts, p.neg, p.phrases, langs = langs)
    }

    def prefix(p: String): Match =
      expansion(col("term").startsWith(p), s"term LIKE '$p%'")
    /** Levenshtein distance ≤ maxDist (unit-cost edits on both engines). */
    def fuzzy(q: String, maxDist: Int = 1): Match =
      expansion(levenshtein(col("term"), lit(q)) <= maxDist,
        s"levenshtein(term, '$q') <= $maxDist")
    /** Contains the fragment (an analyzer token: no LIKE metacharacters). */
    def wildcard(frag: String): Match =
      expansion(col("term").contains(frag), s"term LIKE '%$frag%'")
    /** Anchored full match: `rlike("^(?:pat)$")` ≡ java.util.regex
      * `matches()` ≡ RE2 `regexp_full_match` on [[RegexQuerySet]]'s
      * construct subset. */
    def regex(pat: String): Match =
      expansion(col("term").rlike("^(?:" + pat + ")$"), s"regexp_full_match(term, '$pat')")

    private def expansion(c: Column, sql: String): Match = Match(expand = Some((c, sql)))
  }

  /** The one brute-force scorer: (docID, score) for every candidate of
    * `m` (see [[Match]]). The score folds the candidate's (boosted)
    * contributions from 0.0 in ascending term order — bit-identical to
    * the engine's fixed association ((c1 + c2) + c3)..., since 0.0 + c1
    * == c1, and to the DuckDB twin's ordered `list_reduce`. `rows`
    * replaces the context's `scored` rows (the synonym oracle scores its
    * groups as pseudo-terms). */
  def score(c: Context, m: Match, rows: DataFrame = null): DataFrame = {
    def ids(gate: DataFrame): DataFrame = gate.select(col("docID"))
    val gates =
      m.langs.map(v => ids(c.docs.filter(col("lang") === v)) -> "left_semi") ++
      m.phrases.map(p => ids(c.toks.filter(phraseAdjCol(col("toks"), p))) -> "left_semi") ++
      (if (m.window <= 0) Nil
       else Seq(ids(c.toks.filter(windowCol(col("toks"), m.terms, m.window))) -> "left_semi")) ++
      (if (m.neg.isEmpty) Nil
       else Seq(ids(c.tf.filter(col("term").isin(m.neg: _*))) -> "left_anti"))
    val hit = m.expand.map(_._1).getOrElse(col("term").isin(m.terms: _*))
    val cands = gates.foldLeft(Option(rows).getOrElse(c.scored).filter(hit)) {
      case (acc, (gate, how)) => acc.join(gate, Seq("docID"), how)
    }
    val boosted = m.boosts.foldLeft(col("contrib")) { case (acc, (t, w)) =>
      when(col("term") === t, col("contrib") * lit(w)).otherwise(acc)
    }
    cands.groupBy(col("docID"))
      .agg(count(lit(1)).as("nt"), aggregate(
        sort_array(collect_list(struct(col("term"), boosted.as("contrib")))),
        lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
      .filter(col("nt") >= m.minMatch)
      .select(col("docID"), col("score"))
  }

  /** The one rank tail.
    *   - `rounded` (the set-level shape): `cands` carries a `query`
    *     column (and the `partition` column, when given). Scores round to
    *     4 decimals, each query's (and partition's) candidates rank by
    *     (score desc, docID asc), and the top k come out as
    *     (query, [partition,] rank, docID, score) ordered by those keys.
    *   - exact: one query's top k by exact score, as (docID, score).
    * Rounding before ranking keeps ULP-level libm differences between
    * the JVM and DuckDB from flipping ranks (see the object doc). */
  def rank(cands: DataFrame, k: Int, rounded: Boolean,
           partition: String = null): DataFrame =
    if (!rounded)
      cands.orderBy(col("score").desc, col("docID").asc).limit(k)
        .select(col("docID"), col("score"))
    else {
      val keys = (Seq("query") ++ Option(partition)).map(col)
      cands.withColumn("score", round(col("score"), 4))
        .withColumn("rank", row_number().over(
          Window.partitionBy(keys: _*).orderBy(col("score").desc, col("docID").asc)))
        .filter(col("rank") <= k)
        .select(keys ++ Seq(col("rank"), col("docID"), col("score")): _*)
        .orderBy(keys :+ col("rank"): _*)
    }

  /** Each query's candidates, tagged with its id and unioned — the input
    * of [[rank]]'s set-level shape. */
  private def tagged(qs: Seq[(String, DataFrame)]): DataFrame =
    qs.map { case (qid, cands) => cands.withColumn("query", lit(qid)) }.reduce(_ unionAll _)

  /** A set-level oracle: every query scored against one cached context,
    * ranked by the rounded tail. */
  private def ranked(c: Context, qs: Seq[(String, Match)], k: Int): DataFrame =
    rank(tagged(qs.map { case (qid, m) => qid -> score(c, m) }), k, rounded = true)

  /** Brute-force BM25 AND top-k over [[QuerySet]] as (query, rank, docID,
    * score), score rounded to 4 decimals. `langFilter` (the faceted
    * retrieval twin) gates the candidates to one lang; scoring stats stay
    * corpus-global. */
  def oracleTopK(spark: SparkSession, sfDir: String, k: Int = K,
                 langFilter: String = null): DataFrame =
    ranked(Context(spark, sfDir, cached = true), QuerySet.map { case (qid, q) =>
      qid -> Match.and(q).copy(langs = Option(langFilter).toSeq) }, k)

  /** BM25F twin of [[oracleTopK]]: plain BM25 over [[fieldedDocs]] with
    * the [[FieldedQuerySet]] — see [[FieldWeightPath]] for why that IS
    * Robertson's BM25F with integer field weights. */
  def oracleFieldedTopK(spark: SparkSession, sfDir: String,
                        k: Int = K): DataFrame =
    ranked(new Context(fieldedDocs(Corpus.docs(spark, sfDir)), cached = true),
      FieldedQuerySet.map { case (qid, q) => qid -> Match.and(q) }, k)

  /** Synonym-group brute-force top-k (Lucene SynonymQuery semantics; see
    * [[SynQuerySet]]): each group is one pseudo-term named by its
    * canonical name, with tf summed over the members and df the MAX
    * member df; groups AND-compose. The names sort as
    * [[Analyzer.synGroups]] orders the groups, so the scorer's ascending
    * fold is the engine's association order. A fully absent group has no
    * tf rows, so the query yields ∅, as the engine's early-out. */
  def oracleSynTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val c = Context(spark, sfDir, cached = true)
    rank(tagged(SynQuerySet.map { case (qid, qtext) =>
      val groups = Analyzer.synGroups(qtext).map(g => g.mkString("|") -> g)
      def members(f: DataFrame, g: Seq[String]) = f.filter(col("term").isin(g: _*))
      val gtf = groups.map { case (name, g) =>
        members(c.tf, g).groupBy(col("docID")).agg(sum(col("tf")).as("tf"))
          .withColumn("term", lit(name))
      }.reduce(_ unionAll _)
      val gdf = groups.map { case (name, g) =>
        members(c.df, g).agg(max(col("df")).as("df")).withColumn("term", lit(name))
      }.reduce(_ unionAll _)
      qid -> score(c, Match(groups.map(_._1), groups.size), c.contribs(gtf, gdf))
    }), k, rounded = true)
  }

  /** Disjunctive (OR) brute-force top-k over [[QuerySet]]: docs matching
    * ANY query term. */
  def oracleTopKOr(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      QuerySet.map { case (qid, q) => qid -> Match.or(q) }, k)

  /** Minimum-should-match top-k over [[MsmQuerySet]]: OR scoring over the
    * docs holding ≥ m distinct query terms, dropped BEFORE ranking (a
    * post-filter of the OR top-k would lose docs below the unfiltered k). */
  def oracleTopKMsm(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      MsmQuerySet.map { case (qid, q, m) => qid -> Match.msm(q, m) }, k)

  /** Sort-by-field top-k over [[QuerySet]]: the AND candidates ordered by
    * document length descending (docID ascending tie-break) — relevance
    * is never used. The twin of the engine's sort-by-length top-k /
    * [[oracleSqlSortedTopK]]. Rounding a long length is the identity. */
  def oracleSortedTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame = {
    val c = Context(spark, sfDir, cached = true)
    rank(tagged(QuerySet.map { case (qid, q) =>
      qid -> score(c, Match.and(q)).join(c.doclen, "docID")
        .select(col("docID"), col("len").as("score"))
    }), k, rounded = true).withColumnRenamed("score", "len")
  }

  /** Boolean-NOT top-k over [[NotQuerySet]]: AND over the positive
    * terms, docs holding any negated term removed before ranking. */
  def oracleTopKNot(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      NotQuerySet.map { case (qid, q) => qid -> Match.not(q) }, k)

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

  /** Column predicate: do all `terms` co-occur within some window of `w`
    * consecutive tokens? Pure built-ins — exists over every 1-based start
    * position, slice clamps at the array end. `greatest(..., 1)` guards
    * sequence()'s descending-step surprise on empty token arrays. */
  def windowCol(toks: Column, terms: Seq[String], w: Int): Column =
    exists(sequence(lit(1), greatest(size(toks), lit(1))),
      i => terms.map(t => array_contains(slice(toks, i, lit(w)), t))
        .reduce(_ && _))

  /** Exact-phrase top-k over [[PhraseQuerySet]]: AND scoring gated by the
    * adjacency of the query's tokens; `langFilter` gates the candidates
    * to one lang as in [[oracleTopK]]. */
  def oraclePhraseTopK(spark: SparkSession, sfDir: String, k: Int = K,
                       langFilter: String = null): DataFrame =
    ranked(Context(spark, sfDir, cached = true), PhraseQuerySet.map { case (qid, q) =>
      qid -> Match.phrase(q).copy(langs = Option(langFilter).toSeq) }, k)

  /** Mixed search-box top-k over [[MixedQuerySet]] ([[Match.search]]):
    * AND over all positive terms, gated by each quoted phrase and the
    * negated terms — the contract the engine's kernel gates keep. */
  def oracleMixedTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      MixedQuerySet.map { case (qid, q) => qid -> Match.search(q) }, k)

  /** Field-faceted search-box top-k over [[FieldQuerySet]]: the mixed
    * grammar plus a `lang:value` facet gate over corpus-global scoring. */
  def oracleFieldTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      FieldQuerySet.map { case (qid, q) => qid -> Match.search(q) }, k)

  /** Boosted search-box top-k over [[BoostQuerySet]]: each contribution
    * times its `term^w` weight — `contrib * w` commutes bit-exactly with
    * the kernel's `w * contrib`, so rank identity holds. */
  def oracleBoostedTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      BoostQuerySet.map { case (qid, q) => qid -> Match.search(q) }, k)

  /** Grouped (field-collapsing) top-n per lang over [[GroupedQuerySet]]:
    * the boosted AND candidates ranked per (query, lang) — the
    * declarative twin of the per-group-heap kernel. */
  def oracleGroupedTopK(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    val c = Context(spark, sfDir, cached = true)
    val langOf = c.docs.select(col("docID"), col("lang").as("grp"))
    rank(tagged(GroupedQuerySet.map { case (qid, q) =>
      qid -> score(c, Match.search(q)).join(langOf, "docID")
    }), n, rounded = true, partition = "grp")
  }

  /** Proximity top-k over [[WindowQuerySet]]: AND scoring gated by the
    * co-occurrence of all terms within w tokens. */
  def oracleWindowTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      WindowQuerySet.map { case (qid, q, w) => qid -> Match.window(q, w) }, k)

  /** Prefix top-k over [[PrefixQuerySet]]: every corpus term starting
    * with the prefix contributes with OR semantics. */
  def oraclePrefixTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      PrefixQuerySet.map { case (qid, p) => qid -> Match.prefix(p) }, k)

  /** Fuzzy top-k over [[FuzzyQuerySet]]: every corpus term within
    * Levenshtein distance `maxDist` contributes with OR semantics. */
  def oracleFuzzyTopK(spark: SparkSession, sfDir: String, k: Int = K,
                      maxDist: Int = 1): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      FuzzyQuerySet.map { case (qid, q) => qid -> Match.fuzzy(q, maxDist) }, k)

  /** Wildcard (contains) top-k over [[WildcardQuerySet]]. */
  def oracleWildcardTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      WildcardQuerySet.map { case (qid, f) => qid -> Match.wildcard(f) }, k)

  /** Regexp top-k over [[RegexQuerySet]]. */
  def oracleRegexTopK(spark: SparkSession, sfDir: String, k: Int = K): DataFrame =
    ranked(Context(spark, sfDir, cached = true),
      RegexQuerySet.map { case (qid, p) => qid -> Match.regex(p) }, k)

  // Exact-score per-query oracles (no rounding; order by the exact score)
  // for the rank-identity specs and the benchmark's correctness check.
  // Other families call rank(score(Context(spark, sfDir), m), k,
  // rounded = false) directly.

  def oracleTopKExact(spark: SparkSession, sfDir: String, qtext: String,
                      k: Int = K): DataFrame =
    rank(score(Context(spark, sfDir), Match.and(qtext)), k, rounded = false)

  def oracleTopKOrExact(spark: SparkSession, sfDir: String, qtext: String,
                        k: Int = K): DataFrame =
    rank(score(Context(spark, sfDir), Match.or(qtext)), k, rounded = false)

  def oraclePhraseTopKExact(spark: SparkSession, sfDir: String, qtext: String,
                            k: Int = K): DataFrame =
    rank(score(Context(spark, sfDir), Match.phrase(qtext)), k, rounded = false)

  def oraclePrefixTopKExact(spark: SparkSession, sfDir: String,
                            prefix: String, k: Int = K): DataFrame =
    rank(score(Context(spark, sfDir), Match.prefix(prefix)), k, rounded = false)

  // ------------------------------------------------------- DuckDB twin SQL

  /** The DuckDB base every BM25 twin builds on, over the tokenized text
    * expression `textExpr` (table `documents` = the driver-registered
    * parquet): `tok` (one row per token), `tokarr` (each doc's token
    * array), `tf`, `dl`, `stats`, `dfr`, and `scored` (docID, term, tf,
    * df, idf, contrib) — the SQL side of [[Context]]. `scored` is
    * MATERIALIZED: every per-query subquery reads it, and inlined it is
    * recomputed once per query. Twins append their own CTEs after a
    * comma. */
  def baseSql(textExpr: String = "lower(text)"): String =
    s"""WITH tok AS (
       |  SELECT doc_id AS docID, t.term AS term
       |  FROM documents, unnest(regexp_split_to_array($textExpr, '[^a-z0-9]+')) AS t(term)
       |  WHERE t.term <> ''
       |), tokarr AS (
       |  SELECT doc_id AS docID,
       |         list_filter(regexp_split_to_array($textExpr, '[^a-z0-9]+'), t -> t <> '') AS toks
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
       |), scored AS MATERIALIZED (
       |  SELECT docID, term, tf, df, idf,
       |         idf * (CAST(tf AS DOUBLE) * 2.2)
       |           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / avgdl))
       |           AS contrib
       |  FROM (
       |    SELECT tf.docID, tf.term, tf.tf, dfr.df, dl.len, stats.avgdl,
       |           ln((stats.n - CAST(dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0)
       |             AS idf
       |    FROM tf JOIN dfr USING (term) JOIN dl USING (docID) CROSS JOIN stats
       |  )
       |)""".stripMargin

  private def inList(ts: Seq[String]): String = ts.map(t => s"'$t'").mkString(", ")

  /** DuckDB twin of [[score]]: (docID, raw) for every candidate of `m`,
    * raw = `list_reduce` over the (boosted) contributions in ascending
    * term order — the same left-to-right fold. Reads [[baseSql]]'s
    * `scored`, `tf` and `tokarr`; `docPred` is one more raw predicate on
    * the candidate docID (e.g. the tombstone exclusion). Phrase and
    * window gates test every 1-based start i (DuckDB `range(a, b)` is
    * empty when b <= a, and slices clamp at the list end, as Spark's
    * `slice`). */
  def candSql(m: Match, docPred: String = null): String = {
    def tokGate(hi: String, cond: String) =
      s"docID IN (SELECT docID FROM tokarr WHERE len(list_filter(range(1, $hi), i -> $cond)) > 0)"
    val gates =
      m.langs.map(v => s"docID IN (SELECT doc_id FROM documents WHERE lang = '$v')") ++
      m.phrases.map(p => tokGate(s"len(toks) - ${p.length - 1} + 1", p.zipWithIndex
        .map { case (w, j) => s"toks[CAST(i AS BIGINT)+$j] = '$w'" }.mkString(" AND "))) ++
      (if (m.window <= 0) Nil
       else Seq(tokGate("len(toks) + 1", m.terms.map(t =>
         s"list_contains(toks[CAST(i AS BIGINT):CAST(i AS BIGINT)+${m.window - 1}], '$t')")
         .mkString(" AND ")))) ++
      (if (m.neg.isEmpty) Nil
       else Seq(s"docID NOT IN (SELECT docID FROM tf WHERE term IN (${inList(m.neg)}))")) ++
      Option(docPred)
    val hit = m.expand.map(_._2).getOrElse(s"term IN (${inList(m.terms)})")
    // `term^w` boosts: `contrib * w` — commutes bit-exactly with the
    // kernel's `w * contrib`
    val boosted =
      if (m.boosts.isEmpty) "contrib"
      else m.boosts.map { case (t, w) => s"WHEN term = '$t' THEN contrib * $w" }
        .mkString("CASE ", " ", " ELSE contrib END")
    s"""SELECT docID, list_reduce(list($boosted ORDER BY term), (a, b) -> a + b) AS raw
       |    FROM scored WHERE ${(hit +: gates).mkString("\n      AND ")}
       |    GROUP BY docID HAVING count(*) >= ${m.minMatch}""".stripMargin
  }

  /** The one DuckDB rank tail ([[rank]]'s set-level shape): per query,
    * its candidates' (docID, raw[, grp]) ranked by (round(raw, 4) desc,
    * docID asc), ranks rankLo..k kept as (query, [grp,] rank, docID,
    * score). `grp` partitions each query's ranking by its `grp` column. */
  def rankSql(qs: Seq[(String, String)], k: Int, rankLo: Int = 1,
              grp: Boolean = false, base: String = baseSql()): String = {
    val (g, part) = if (grp) ("grp, ", "PARTITION BY grp ") else ("", "")
    val perQuery = qs.map { case (qid, cands) =>
      s"""(SELECT '$qid' AS query, ${g}CAST(rank AS INTEGER) AS rank, docID, score FROM (
         |  SELECT ${g}docID, round(raw, 4) AS score,
         |         row_number() OVER (${part}ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |  FROM (
         |    $cands
         |  )
         |) WHERE rank BETWEEN $rankLo AND $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"$base\nSELECT * FROM (\n$perQuery\n) ORDER BY query, ${g}rank"
  }

  /** A rounded set-level twin: every query's [[candSql]] through
    * [[rankSql]]. */
  private def rankedSql(qs: Seq[(String, Match)], k: Int): String =
    rankSql(qs.map { case (qid, m) => qid -> candSql(m) }, k)

  /** The AND match set of `q` (docIDs holding every query term), for the
    * unscored twins. */
  private def matchSql(q: String): String = {
    val terms = Analyzer.queryTerms(q)
    s"SELECT docID FROM tf WHERE term IN (${inList(terms)}) " +
      s"GROUP BY docID HAVING count(*) = ${terms.size}"
  }

  /** DuckDB twin of [[oracleTopK]] (and of every entry that must
    * reproduce its frame), generated from the same query set.
    * `docPred` is an extra raw SQL predicate on the candidate docID
    * (e.g. the tombstone-exclusion twin). `rankLo` is the pagination
    * twin: ranks [rankLo, k] — page 2 of a k-deep ranking is (k+1, 2k).
    * The fielded (BM25F) twin swaps `querySet` and `textExpr`. */
  def oracleSqlTopK(k: Int = K, langFilter: String = null,
                    docPred: String = null, rankLo: Int = 1,
                    querySet: Seq[(String, String)] = QuerySet,
                    textExpr: String = "lower(text)"): String =
    rankSql(querySet.map { case (qid, q) =>
      qid -> candSql(Match.and(q).copy(langs = Option(langFilter).toSeq), docPred)
    }, k, rankLo, base = baseSql(textExpr))

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
    val perQuery = SynQuerySet.map { case (qid, qtext) =>
      val groups = Analyzer.synGroups(qtext)
      val fromChain = groups.indices.map { i =>
        val sub = s"(SELECT docID, CAST(sum(tf) AS DOUBLE) AS tf FROM tf " +
          s"WHERE term IN (${inList(groups(i))}) GROUP BY docID) t$i"
        if (i == 0) sub else s"JOIN $sub USING (docID)"
      }.mkString("\n      ")
      val dJoins = groups.indices.map { i =>
        s"CROSS JOIN (SELECT CAST(max(df) AS DOUBLE) AS df FROM dfr " +
          s"WHERE term IN (${inList(groups(i))})) d$i"
      }.mkString("\n      ")
      val gCols = groups.indices.map { i =>
        s"ln((stats.n - d$i.df + 0.5) / (d$i.df + 0.5) + 1.0)" +
          s" * (t$i.tf * 2.2)" +
          s" / (t$i.tf + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / stats.avgdl))"
      }.mkString(" +\n      ")
      qid ->
        s"""SELECT docID,
           |      $gCols AS raw
           |    FROM $fromChain
           |    JOIN dl USING (docID)
           |    CROSS JOIN stats
           |    $dJoins""".stripMargin
    }
    rankSql(perQuery, k)
  }

  /** DuckDB twin of [[oraclePhraseTopK]]. */
  def oracleSqlPhraseTopK(k: Int = K, langFilter: String = null): String =
    rankedSql(PhraseQuerySet.map { case (qid, q) =>
      qid -> Match.phrase(q).copy(langs = Option(langFilter).toSeq) }, k)

  /** DuckDB twin of [[oracleMixedTopK]] (and of the engine's `search`). */
  def oracleSqlMixedTopK(k: Int = K): String =
    rankedSql(MixedQuerySet.map { case (qid, q) => qid -> Match.search(q) }, k)

  /** DuckDB twin of [[oracleFieldTopK]]. */
  def oracleSqlFieldTopK(k: Int = K): String =
    rankedSql(FieldQuerySet.map { case (qid, q) => qid -> Match.search(q) }, k)

  /** DuckDB twin of [[oracleBoostedTopK]]. */
  def oracleSqlBoostedTopK(k: Int = K): String =
    rankedSql(BoostQuerySet.map { case (qid, q) => qid -> Match.search(q) }, k)

  /** DuckDB twin of [[oracleGroupedTopK]] (and of the `search_grouped`
    * entry): rank partitioned by the doc's lang. */
  def oracleSqlGroupedTopK(n: Int = 3): String =
    rankSql(GroupedQuerySet.map { case (qid, q) =>
      qid -> (s"SELECT c.docID, c.raw, d.lang AS grp FROM (${candSql(Match.search(q))}) c" +
        " JOIN documents d ON d.doc_id = c.docID")
    }, n, grp = true)

  /** DuckDB twin of [[oracleTopKOr]]: a query whose terms all miss the
    * corpus (q05) has no scored rows → empty. */
  def oracleSqlTopKOr(k: Int = K): String =
    rankedSql(QuerySet.map { case (qid, q) => qid -> Match.or(q) }, k)

  /** DuckDB twin of [[oracleTopKMsm]]: `scored` has exactly one row per
    * (docID, matched term), so the group count IS the distinct
    * matched-term count. */
  def oracleSqlTopKMsm(k: Int = K): String =
    rankedSql(MsmQuerySet.map { case (qid, q, m) => qid -> Match.msm(q, m) }, k)

  /** DuckDB twin of [[oracleTopKNot]]. */
  def oracleSqlTopKNot(k: Int = K): String =
    rankedSql(NotQuerySet.map { case (qid, q) => qid -> Match.not(q) }, k)

  /** DuckDB twin of [[oracleWindowTopK]]. */
  def oracleSqlWindowTopK(k: Int = K): String =
    rankedSql(WindowQuerySet.map { case (qid, q, w) => qid -> Match.window(q, w) }, k)

  /** DuckDB twin of [[oraclePrefixTopK]]. */
  def oracleSqlPrefixTopK(k: Int = K): String =
    rankedSql(PrefixQuerySet.map { case (qid, p) => qid -> Match.prefix(p) }, k)

  /** DuckDB twin of [[oracleFuzzyTopK]]. */
  def oracleSqlFuzzyTopK(k: Int = K, maxDist: Int = 1): String =
    rankedSql(FuzzyQuerySet.map { case (qid, q) => qid -> Match.fuzzy(q, maxDist) }, k)

  /** DuckDB twin of [[oracleWildcardTopK]]. */
  def oracleSqlWildcardTopK(k: Int = K): String =
    rankedSql(WildcardQuerySet.map { case (qid, f) => qid -> Match.wildcard(f) }, k)

  /** DuckDB twin of [[oracleRegexTopK]]. */
  def oracleSqlRegexTopK(k: Int = K): String =
    rankedSql(RegexQuerySet.map { case (qid, p) => qid -> Match.regex(p) }, k)

  /** DuckDB twin of [[oracleSortedTopK]]: the AND match set joined to
    * doc lengths, ranked (len DESC, docID ASC), top k per query. */
  def oracleSqlSortedTopK(k: Int = K): String = {
    val perQuery = QuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, docID, len FROM (
         |  SELECT docID, len, row_number() OVER (ORDER BY len DESC, docID ASC) AS rank
         |  FROM (${matchSql(q)}) m JOIN dl USING (docID)
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank"
  }

  /** DuckDB twin of the `suggest_terms` entry: per fixed prefix, the
    * top-m dictionary terms starting with it by (df desc, term asc). */
  def suggestSql(m: Int = 8): String = {
    val perPrefix = PrefixQuerySet.map { case (qid, p) =>
      s"""(SELECT '$qid' AS query, CAST(rank AS INTEGER) AS rank, term, df FROM (
         |  SELECT term, df,
         |         row_number() OVER (ORDER BY df DESC, term ASC) AS rank
         |  FROM dfr WHERE term LIKE '$p%'
         |) WHERE rank <= $m)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perPrefix\n) ORDER BY query, rank"
  }

  /** DuckDB twin of the `explain_scores` entry: the AND twin's ranked
    * top-k joined back to the per-(doc, term) scored rows, so every
    * (tf, df, contrib) ingredient is re-derived from the raw corpus and
    * cross-gates the engine's index-side point read. */
  def explainSql(k: Int = K): String = {
    val perQuery = QuerySet.map { case (qid, q) =>
      val m = Match.and(q)
      s"""(SELECT '$qid' AS query, CAST(r.rank AS INTEGER) AS rank, r.docID,
         |        s.term, s.tf, s.df, round(s.contrib, 4) AS contrib
         | FROM (
         |   SELECT docID,
         |          row_number() OVER (ORDER BY round(raw, 4) DESC, docID ASC) AS rank
         |   FROM (${candSql(m)})
         | ) r JOIN scored s USING (docID)
         | WHERE r.rank <= $k AND s.term IN (${inList(m.terms)}))""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, rank, term"
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
    val perTerm = DidYouMeanQuerySet.flatMap { case (qid, q) =>
      Analyzer.queryTerms(q).map { t =>
        s"""(SELECT '$qid' AS query, '$t' AS term,
           |        coalesce(s.term, '') AS suggestion,
           |        CAST(coalesce(s.df, 0) AS BIGINT) AS sugg_df
           | FROM (SELECT 1) one LEFT JOIN (
           |   SELECT term, df FROM dfr WHERE levenshtein(term, '$t') <= $maxDist
           |   ORDER BY df DESC, term ASC LIMIT 1) s ON TRUE)""".stripMargin
      }
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perTerm\n) ORDER BY query, term"
  }

  /** DuckDB twin of the engine's index stats: every index-metadata value
    * re-derived from the raw corpus. */
  def indexStatsSql(): String =
    s"""${baseSql()}
       |SELECT CAST((SELECT count(*) FROM dl) AS BIGINT) AS n_docs,
       |       CAST((SELECT count(*) FROM dfr) AS BIGINT) AS n_terms,
       |       CAST((SELECT sum(df) FROM dfr) AS BIGINT) AS n_postings,
       |       CAST((SELECT max(df) FROM dfr) AS BIGINT) AS max_df,
       |       round((SELECT CAST(sum(len) AS DOUBLE) / count(*) FROM dl), 4) AS avgdl""".stripMargin

  /** DuckDB twin of the `more_like_this` entry: per source doc, the
    * top-t terms by round4(tf·idf) (term-asc ties), then OR-mode BM25
    * over that data-dependent expansion — the ordered `list_reduce`
    * fold, source doc excluded before ranking. */
  def oracleSqlMoreLikeThis(k: Int = K, t: Int = MltTerms): String = {
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
         |        SELECT term,
         |               row_number() OVER (
         |                 ORDER BY round(CAST(tf AS DOUBLE) * idf, 4) DESC, term ASC) AS tr
         |        FROM scored WHERE docID = $src
         |      ) WHERE tr <= $t
         |    )
         |    GROUP BY docID
         |  )
         |) WHERE rank <= $k)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perSrc\n) ORDER BY src, rank"
  }

  /** DuckDB twin of the engine's total-hits counts (the `match_counts`
    * entry): per query, the number of docs containing ALL terms (AND)
    * and ANY term (OR) — pure relational counting, no scoring. */
  def oracleSqlMatchCounts(): String = {
    val perQuery = QuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query,
         |  CAST((SELECT count(*) FROM (${matchSql(q)})) AS BIGINT) AS n_docs,
         |  CAST((SELECT count(DISTINCT docID) FROM tf
         |        WHERE term IN (${inList(Analyzer.queryTerms(q))})) AS BIGINT) AS n_docs_or)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query"
  }

  /** DuckDB twin of the engine's per-facet hit counts (the
    * `facet_counts` entry): per query, matching docs grouped by lang —
    * facet values with zero hits are absent on both sides. */
  def oracleSqlFacetCounts(): String = {
    val perQuery = QuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query, d.lang AS lang,
         |        CAST(count(*) AS BIGINT) AS n_docs
         | FROM (${matchSql(q)}) m
         | JOIN documents d ON d.doc_id = m.docID
         | GROUP BY d.lang)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, lang"
  }

  /** DuckDB twin of the `len_histogram` entry: per AND query, the
    * matching docs bucketed by ⌊len/width⌋ — zero buckets absent on
    * both sides, bucket ascending. The absent-term query (q05)
    * contributes no rows (HAVING can never reach the term count). */
  def oracleSqlLenHistogram(width: Int = HistogramWidth): String = {
    val perQuery = QuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query,
         |        CAST(floor(CAST(dl.len AS DOUBLE) / $width) AS INTEGER) AS bucket,
         |        CAST(count(*) AS BIGINT) AS n_docs
         | FROM (${matchSql(q)}) m
         | JOIN dl USING (docID)
         | GROUP BY 1, 2)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, bucket"
  }

  /** DuckDB twin of the `len_percentile_ranks` entry: fraction of each
    * match set with len ≤ each probe value — exact-integer count over
    * exact-integer total, one round4 division. */
  def oracleSqlLenPercentileRanks(values: Seq[Long]): String = {
    val vlist = values.map(v => s"($v)").mkString(", ")
    val perQuery = QuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query, CAST(v.v AS BIGINT) AS value,
         |        round(CAST(sum(CASE WHEN dl.len <= v.v THEN 1 ELSE 0 END) AS DOUBLE)
         |              / count(*), 4) AS frac
         | FROM (${matchSql(q)}) m
         | JOIN dl USING (docID)
         | CROSS JOIN (VALUES $vlist) v(v)
         | GROUP BY v.v)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, value"
  }

  /** DuckDB twin of the `match_docs` entry: the full AND match set per
    * fixed query, docID-ordered — the scroll/export contract re-derived
    * from the corpus. */
  def oracleSqlMatchDocs(): String = {
    val perQuery = QuerySet.map { case (qid, q) =>
      s"(SELECT '$qid' AS query, docID FROM (${matchSql(q)}))"
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, docID"
  }

  /** DuckDB twin of the `len_ranges` entry: the histogram twin with the
    * floor-division bucket swapped for the containing range's lower
    * bound (CASE over descending bounds); docs below the first bound drop
    * out — ES range-agg semantics. */
  def oracleSqlLenRanges(bounds: Seq[Long] = RangeBounds): String = {
    val caseExpr = bounds.reverse
      .map(b => s"WHEN dl.len >= $b THEN CAST($b AS BIGINT)")
      .mkString("CASE ", " ", " END")
    val perQuery = QuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query, $caseExpr AS lo,
         |        CAST(count(*) AS BIGINT) AS n_docs
         | FROM (${matchSql(q)}) m
         | JOIN dl USING (docID)
         | WHERE dl.len >= ${bounds.head}
         | GROUP BY 1, 2)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query, lo"
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
    val ordCtes = QuerySet.map { case (qid, q) =>
      s"""o_$qid AS (
         |  SELECT dl.len, dl.docID,
         |         row_number() OVER (ORDER BY dl.len, dl.docID) AS rn,
         |         CAST(count(*) OVER () AS BIGINT) AS cnt
         |  FROM (${matchSql(q)}) m
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
    s"${baseSql()},\n$ordCtes\nSELECT * FROM (\n$perCell\n) ORDER BY query, p"
  }

  /** DuckDB twin of the `match_stats` entry: the same integer
    * min/max/sum + exact distinct-lang count over the match set, one
    * final rounded division. */
  def oracleSqlMatchStats(): String = {
    val perQuery = QuerySet.map { case (qid, q) =>
      s"""(SELECT '$qid' AS query,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
         |        CAST(min(dl.len) AS BIGINT) AS min_len,
         |        CAST(max(dl.len) AS BIGINT) AS max_len,
         |        round(CAST(sum(dl.len) AS DOUBLE) / count(*), 4) AS avg_len
         | FROM (${matchSql(q)}) m
         | JOIN dl USING (docID)
         | JOIN documents d ON d.doc_id = m.docID
         | HAVING count(*) > 0)""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"${baseSql()}\nSELECT * FROM (\n$perQuery\n) ORDER BY query"
  }

  /** DuckDB twin of the `term_vectors` entry: the per-doc term vector
    * re-derived from the corpus — what the index's stage-1 tf +
    * dictionary artifacts must agree with row-for-row. */
  def oracleSqlTermVectors(ids: Seq[Long] = TermVectorDocs): String =
    s"""${baseSql()}
       |SELECT docID, term, tf, df FROM tf JOIN dfr USING (term)
       |WHERE docID IN (${ids.mkString(", ")})
       |ORDER BY docID, term""".stripMargin
}
