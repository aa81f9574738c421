package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analyzer (tokenizer) shared by index build, query parsing and the
  * brute-force oracle scorer.
  *
  * Semantics descend from the reference's normalization chain — lowercase
  * (reference `src/url/url_utils.cpp:19-20`), whitespace collapse + trim
  * (`src/htmlparser/htmlparser.cpp:104-138`), ASCII-case-insensitive
  * matching (`src/searcher/searcher.cpp:16,24`) — upgraded to real
  * tokenization: `lower(s).split(/[^a-z0-9]+/).filter(_.nonEmpty)`.
  *
  * The column form and the driver-side Scala form MUST stay semantically
  * identical: the query path analyzes the query string on the driver while
  * the index path analyzes content distributed, and BM25 rank-identity
  * requires both to agree token-for-token.
  */
object Analyzer {

  /** Split pattern: any run of chars outside [a-z0-9]. Applied after
    * lowercasing, so uppercase input is handled. */
  val SplitPattern = "[^a-z0-9]+"

  /** Column-level tokenizer: `array<string>` of non-empty tokens.
    * The fused native [[graft.functions.Tokenize]] expression — one
    * codegen'd pass, no regex engine, zero-copy token slices. Must stay
    * bit-identical to [[tokensColBuiltin]] (AnalyzerSpec contract). */
  def tokensCol(c: Column): Column = Native.tokenize(c)

  /** The pure-built-in formulation (lower/split/filter) the native
    * expression fuses — kept as the semantics oracle for the
    * equivalence contract test. */
  def tokensColBuiltin(c: Column): Column =
    filter(split(lower(c), SplitPattern), t => length(t) > lit(0))

  /** Driver/executor-side Scala twin of [[tokensCol]]. Locale.ROOT so the
    * result is independent of the JVM default locale (e.g. Turkish 'I'). */
  def tokenize(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT)
      .split(SplitPattern).toSeq.filter(_.nonEmpty)

  /** Query analysis: distinct terms in ascending order. Sorted order is
    * load-bearing — BM25 scores are accumulated term-by-term in this order
    * in BOTH the oracle and the indexed engine, so floating-point sums
    * associate identically (rank-identity contract, BASELINE.md). */
  def queryTerms(q: String): Seq[String] = tokenize(q).distinct.sorted

  /** Signed-query analysis: whitespace pieces prefixed `-` are NEGATED
    * (boolean NOT — "hash join -window" = docs with hash∧join, without
    * window). Each side then goes through the normal analyzer, so
    * `-Sort.ORDER` negates both `sort` and `order`. Returns
    * (positive terms, negated terms), each distinct + ascending (the
    * positive order is the BM25 association order, as [[queryTerms]]).
    * A term on both sides stays on both — AND requires it, NOT rejects
    * it, so such a query is ∅ by construction, matching the SQL twin. */
  def signedTerms(q: String): (Seq[String], Seq[String]) = {
    val pieces = q.split("\\s+").filter(_.nonEmpty)
    val (neg, pos) = pieces.partition(p => p.length > 1 && p.startsWith("-"))
    (pos.flatMap(tokenize).distinct.sorted.toSeq,
     neg.flatMap(p => tokenize(p.drop(1))).distinct.sorted.toSeq)
  }

  /** Synonym-group analysis (Lucene `SynonymQuery` grammar): whitespace
    * pieces split on `|` form groups — "hash|join table" is
    * (hash OR join) AND table with the group scored as ONE term. Each
    * member goes through the normal analyzer; members dedupe + sort
    * inside the group; groups dedupe by canonical name (sorted members
    * joined "|") and sort by it — the BM25 association order, as
    * [[queryTerms]]. A piece without `|` is a singleton group ≡ a plain
    * term, so a pipe-free query is identical to the plain AND query. */
  def synGroups(q: String): Seq[Seq[String]] =
    q.split("\\s+").filter(_.nonEmpty).toSeq
      .map(p => p.split('|').toSeq.flatMap(tokenize).distinct.sorted)
      .filter(_.nonEmpty)
      .distinct
      .sortBy(_.mkString("|"))

  /** Parsed search-box query — the unified front door's grammar
    * ([[parseSearch]]). `pos` contains EVERY positive scoring term
    * (bare pieces AND the tokens of every quoted phrase), distinct +
    * ascending — the BM25 association order, as [[queryTerms]].
    * `phrases` keeps each multi-token quoted piece as its token
    * sequence (input order, duplicates preserved — a phrase like
    * `"batch batch"` needs both occurrences for the adjacency test). */
  final case class SearchQuery(
      pos: Seq[String],
      neg: Seq[String],
      phrases: Seq[Seq[String]],
      prefixes: Seq[String],
      fuzzies: Seq[String],
      // `*frag*` wildcard (contains) expansion pieces (input order)
      wildcards: Seq[String] = Nil,
      // `field:value` facet pieces (input order); the VALUE is kept raw
      // (field values are metadata, not analyzed text)
      fields: Seq[(String, String)] = Nil,
      // per-term scoring weights from `term^w` pieces; terms absent from
      // the map weigh 1.0
      boosts: Map[String, Double] = Map.empty,
      // `/pattern/` regexp expansion pieces (raw — a regex is not
      // analyzed text; Lucene RegexpQuery syntax)
      regexes: Seq[String] = Nil)

  /** Search-box query parser: one raw string → [[SearchQuery]].
    *
    * Grammar (the classic web-search syntax):
    *   - bare piece            → positive term(s) (analyzer-tokenized)
    *   - `-piece`              → negated term(s) (boolean NOT)
    *   - `"multi word"`        → exact-phrase requirement; its terms also
    *                             join the positive (scoring) term set.
    *                             A single-token quoted piece degrades to
    *                             a plain term (adjacency is vacuous).
    *   - `piece*`              → prefix-expansion piece
    *   - `piece~`              → fuzzy-expansion (Levenshtein-1) piece
    *   - `*piece*`             → wildcard (contains) expansion piece
    *   - `/pattern/`           → regexp-expansion piece (raw pattern,
    *                             Lucene RegexpQuery syntax; not analyzed)
    *
    *   - `field:value`        → facet restriction (e.g. `lang:en`); the
    *                             value is raw metadata, not analyzed
    *   - `piece^w`             → boost: the piece's term(s) weigh w (> 0)
    *                             in the BM25 sum instead of 1.0
    *
    * An unterminated quote runs to end-of-string. A negated quoted piece
    * (`-"a b"`) is rejected — NOT-phrase needs an anti positional gate
    * the kernels deliberately do not grow — and so is a negated field
    * piece (`-lang:en`; compose a deny facet explicitly instead).
    * Marker suffixes on negated pieces are inert (the analyzer strips
    * non-alnum anyway): `-foo*` negates the term `foo`. */
  def parseSearch(q: String): SearchQuery = {
    // (text, quoted, negated) raw pieces, quote-aware whitespace split
    val pieces = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Boolean)]
    val n = q.length
    var i = 0
    while (i < n) {
      if (q.charAt(i).isWhitespace) i += 1
      else {
        var negated = false
        if (q.charAt(i) == '-' && i + 1 < n && !q.charAt(i + 1).isWhitespace) {
          negated = true; i += 1
        }
        if (i < n && q.charAt(i) == '"') {
          val end = q.indexOf('"', i + 1)
          val stop = if (end < 0) n else end
          pieces += ((q.substring(i + 1, stop), true, negated))
          i = if (end < 0) n else end + 1
        } else {
          var j = i
          while (j < n && !q.charAt(j).isWhitespace && q.charAt(j) != '"') j += 1
          if (j > i) pieces += ((q.substring(i, j), false, negated))
          i = j
        }
      }
    }
    require(!pieces.exists(p => p._2 && p._3),
      "negated phrases (-\"...\") are not supported")
    val FieldPat = "([A-Za-z][A-Za-z0-9_]*):(.+)".r
    require(!pieces.exists(p => !p._2 && p._3 && FieldPat.matches(p._1)),
      "negated field pieces (-field:value) are not supported; use a deny facet")
    // `piece^w` boosts: resolved BEFORE the field/prefix/fuzzy collects so
    // a stripped piece classifies as a plain bare term. A `^w` right after
    // a closing quote splits into its own piece — reject it (phrase boosts
    // would weigh the phrase's tokens individually; reject > surprising).
    val BoostPat = "(.+)\\^(\\d+(?:\\.\\d+)?)".r
    require(!pieces.exists(_._1.startsWith("^")),
      "dangling ^w piece (phrase boosts \"...\"^w are not supported)")
    require(!pieces.exists(p => !p._2 && p._3 && BoostPat.matches(p._1)),
      "boosted negations (-term^w) are not supported (a NOT term never scores)")
    val boostsB = scala.collection.mutable.Map.empty[String, Double]
    val pieces2 = pieces.map {
      case (BoostPat(base, w), false, false) =>
        require(!FieldPat.matches(base),
          s"boosted field pieces ($base^$w) are not supported")
        require(!(base.length > 1 && (base.endsWith("*") || base.endsWith("~"))),
          s"boosted prefix*/fuzzy~ pieces ($base^$w) are not supported")
        require(!(base.length > 2 && base.startsWith("/") && base.endsWith("/")),
          s"boosted regex pieces ($base^$w) are not supported")
        val wd = w.toDouble
        require(wd > 0.0, s"boost must be > 0: $base^$w")
        for (t <- tokenize(base)) {
          require(!boostsB.contains(t) || boostsB(t) == wd,
            s"conflicting boosts for term '$t'")
          boostsB(t) = wd
        }
        (base, false, false)
      case p => p
    }
    val fields = pieces2.collect {
      case (FieldPat(f, v), false, false) => (f, v)
    }.toSeq
    val phrases = pieces2.collect { case (t, true, false) => tokenize(t) }
      .filter(_.length >= 2).toSeq
    // `*frag*` wildcards collect FIRST: they also end with '*', so the
    // prefix collect below must not claim them
    val wildcards = pieces2.collect {
      case (t, false, false) if t.length > 2 && t.startsWith("*") &&
        t.endsWith("*") && !FieldPat.matches(t) =>
        tokenize(t.substring(1, t.length - 1)).mkString
    }.filter(_.nonEmpty).toSeq
    val prefixes = pieces2.collect {
      case (t, false, false) if t.length > 1 && t.endsWith("*") &&
        !(t.length > 2 && t.startsWith("*")) &&
        !FieldPat.matches(t) => tokenize(t.dropRight(1)).mkString
    }.filter(_.nonEmpty).toSeq
    val fuzzies = pieces2.collect {
      case (t, false, false) if t.length > 1 && t.endsWith("~") &&
        !FieldPat.matches(t) => tokenize(t.dropRight(1)).mkString
    }.filter(_.nonEmpty).toSeq
    def isRegexPiece(t: String): Boolean =
      t.length > 2 && t.startsWith("/") && t.endsWith("/")
    require(!pieces2.exists(p => !p._2 && p._3 && isRegexPiece(p._1)),
      "negated regex pieces (-/re/) are not supported")
    // an unclosed /…/ pair split on whitespace ("/a b/" → "/a", "b/")
    // must not silently degrade to bare AND terms with the slashes
    // stripped — reject it, mirroring the boosted/negated regex guards
    // (ADVICE r4). A lone leading or trailing slash is a path token
    // (`src/`, `/usr`, `/usr/lib`) and stays a bare term.
    def slashPiece(p: (String, Boolean, Boolean), f: String => Boolean) =
      !p._2 && f(p._1) && !isRegexPiece(p._1)
    val opened = pieces2.indexWhere(slashPiece(_, _.startsWith("/")))
    require(opened < 0 ||
        !pieces2.drop(opened + 1).exists(slashPiece(_, _.endsWith("/"))),
      "incomplete regex piece (regexes are single /pattern/ pieces " +
        "without whitespace)")
    val regexes = pieces2.collect {
      case (t, false, false) if isRegexPiece(t) =>
        t.substring(1, t.length - 1)
    }.toSeq
    val bare = pieces2.collect {
      case (t, false, false) if !(t.length > 1 && (t.endsWith("*") || t.endsWith("~"))) &&
        !FieldPat.matches(t) && !isRegexPiece(t) => t
      case (t, true, false) => t // single-token quoted pieces fall through here too
    }
    val pos = (bare.flatMap(tokenize) ++ phrases.flatten).distinct.sorted.toSeq
    val neg = pieces2.collect { case (t, false, true) => t }
      .flatMap(tokenize).distinct.sorted.toSeq
    SearchQuery(pos, neg, phrases, prefixes, fuzzies, wildcards,
      fields, boostsB.toMap, regexes)
  }
}
