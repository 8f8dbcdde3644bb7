package graft.analyze

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Code-aware text analyzer.
  *
  * Semantics: split camelCase boundaries, lowercase, split on any
  * non-[a-z0-9] run, drop empty tokens and tokens longer than 40 chars.
  * This mirrors tantivy's `default` analyzer (simple tokenizer +
  * lowercase + RemoveLongFilter(40); pinned by reference Cargo.toml:55,
  * per-column tokenizers documented at lnx-server/src/apis/mod.rs:211-213)
  * extended with camelCase/snake_case code splitting per the north star.
  *
  * The same semantics are implemented three ways, asserted equivalent in
  * AnalyzerSpec: (1) plain Scala for driver-side query tokenization and
  * typed mapPartitions in the index build hot path; (2) Spark Column
  * (codegen'd built-ins, no UDF); (3) DuckDB SQL for the oracle.
  */
object Analyzer {
  final val MaxTokenLen = 40
  private final val CamelRe = "([a-z0-9])([A-Z])"
  private final val SplitRe = "[^a-z0-9]+"
  private val CamelPat = java.util.regex.Pattern.compile(CamelRe)
  private val SplitPat = java.util.regex.Pattern.compile(SplitRe)

  /** Reference implementation: literally the regex pipeline the Column
    * and DuckDB variants express. Used as the semantic oracle in
    * AnalyzerSpec and as the fallback for non-ASCII input.
    */
  def tokenizeRegex(s: String): Array[String] =
    SplitPat.split(CamelPat.matcher(s).replaceAll("$1 $2")
        .toLowerCase(java.util.Locale.ROOT))
      .filter(t => t.nonEmpty && t.length <= MaxTokenLen)

  /** Hot-path tokenizer: single-pass scanner, no regex, no intermediate
    * strings — equivalent to tokenizeRegex for ASCII input (asserted in
    * AnalyzerSpec); non-ASCII input falls back to the regex pipeline.
    */
  def tokenize(s: String): Array[String] = {
    var i = 0
    val n = s.length
    while (i < n) { if (s.charAt(i) >= 128) return tokenizeRegex(s); i += 1 }
    val out = Array.newBuilder[String]
    val cur = new java.lang.StringBuilder(16)
    var prevLowerDigit = false
    def flush(): Unit = {
      val len = cur.length()
      if (len > 0 && len <= MaxTokenLen) out += cur.toString
      cur.setLength(0)
    }
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        cur.append(c)
        prevLowerDigit = true
      } else if (c >= 'A' && c <= 'Z') {
        if (prevLowerDigit) flush() // camelCase boundary
        cur.append((c + 32).toChar)
        prevLowerDigit = false
      } else {
        flush()
        prevLowerDigit = false
      }
      i += 1
    }
    flush()
    out.result()
  }

  /** (token -> tf) and total token count, one pass. */
  def tokenCounts(s: String): (collection.Map[String, Int], Int) = {
    val (m, n) = tokenCountsJava(s)
    import scala.jdk.CollectionConverters._
    (m.asScala.map { case (k, v) => (k, v.intValue) }, n)
  }

  /** The raw java map — the build hot path iterates entrySet directly;
    * the Scala wrapper above copies the whole map per document, which
    * is pure per-doc garbage across a corpus-sized build.
    */
  private[graft] def tokenCountsJava(s: String): (java.util.HashMap[String, Int], Int) = {
    val toks = tokenize(s)
    val m = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < toks.length) {
      m.merge(toks(i), 1, (a, b) => a + b)
      i += 1
    }
    (m, toks.length)
  }

  /** Column-level tokenizer: array<string> of tokens (codegen'd built-ins). */
  def tokensCol(c: Column): Column =
    filter(
      split(lower(regexp_replace(c, CamelRe, "$1 $2")), SplitRe),
      t => t =!= lit("") && length(t) <= lit(MaxTokenLen))

  /** DuckDB SQL producing the same token array from `col`. */
  def tokensSqlDuck(col: String): String =
    s"list_filter(regexp_split_to_array(lower(regexp_replace($col, '([a-z0-9])([A-Z])', " +
      raw"'\1 \2', 'g')), '[^a-z0-9]+'), t -> t <> '' AND length(t) <= $MaxTokenLen)"

  /** DuckDB twin of the `whitespace` tokenizer (Tokenizers.tokenize):
    * split on Unicode White_Space runs (RE2 class mirroring WsPat —
    * controls 09-0D, NEL, LS/PS, category Zs), case preserved, cap in
    * codepoints like DuckDB's length().
    */
  def whitespaceTokensSqlDuck(col: String): String =
    raw"list_filter(regexp_split_to_array($col, " +
      raw"'[\t\n\x{000B}\f\r\x{0085}\x{2028}\x{2029}\p{Zs}]+'), " +
      s"t -> t <> '' AND length(t) <= $MaxTokenLen)"
}

/** Per-column tokenizer registry — the engine-side analogue of the
  * reference's named-tokenizer DDL surface: a column declared
  * `WITH (tokenizers = (col = 'name'))` is indexed with that tokenizer,
  * and "functions will tokenize the input query text with the same
  * tokenizer as is specified for the given column"
  * (lnx-server/src/apis/mod.rs:211-213; parse shape lnx-query/src/sql.rs:110).
  *
  * Registered names:
  *  - `default` / `simple`: the code-aware analyzer (Analyzer.tokenize) —
  *    tantivy's default pipeline + camelCase splitting.
  *  - `raw`: the column value is indexed as ONE un-analyzed token (no
  *    lowercasing, no splitting — tantivy's raw tokenizer), so
  *    `fts(rawCol, 'Exact Value')` is an exact-value match. Empty/null
  *    values index nothing; values beyond MaxRawLen are dropped (term-
  *    dictionary sanity cap, the raw analogue of RemoveLongFilter).
  *  - `whitespace`: split on whitespace runs only — no lowercasing, no
  *    camelCase splitting (tantivy's whitespace tokenizer).
  *  - `en_stem`: the default analysis followed by Snowball English
  *    ("Porter2") stemming per token — the algorithm tantivy's en_stem
  *    registry entry runs via rust-stemmers (SnowballStemmer).
  *
  * Unknown names are rejected at CREATE TABLE instead of silently
  * falling back to the default analyzer.
  */
object Tokenizers {
  final val Default = "default"
  final val MaxRawLen = 255

  /** Version of the analysis semantics, persisted in every IndexStore
    * manifest. Query-time tokenization must match what was indexed
    * TERM-FOR-TERM, so any change to a tokenizer's output is a new
    * version, and loading a store whose affected tokenizers predate
    * the change fails loudly instead of silently missing the persisted
    * dictionary (e.g. querying 'quickly' against terms stemmed to
    * 'quickli'). v1 = Porter 1980 `en_stem` (manifests without the
    * column); v2 = Snowball English ("Porter2") `en_stem`, matching
    * tantivy's rust-stemmers; v3 = Unicode-whitespace split +
    * codepoint-granular length caps for `whitespace`/`raw` (v3 also
    * made the then-persisted SymSpell delete variants codepoint-
    * granular; no store artifact depends on them any more). */
  final val AnalyzerVersion = 3

  /** Tokenizers whose output (or persisted derived artifacts) changed
    * since stored version `v` — a store using any of these must be
    * rebuilt, not re-interpreted. */
  def changedSince(v: Int): Set[String] =
    (if (v < 2) Set("en_stem") else Set.empty[String]) ++
      (if (v < 3) Set("raw", "whitespace") else Set.empty[String])

  val known: Set[String] = Set("default", "simple", "raw", "whitespace", "en_stem")
  def isKnown(name: String): Boolean = known.contains(name)

  /** tantivy's whitespace tokenizer splits on Rust `char::is_whitespace`
    * = the Unicode White_Space property, NOT Java's ASCII-only `\s`:
    * controls 09-0D, NEL 85, LS/PS 2028/2029, plus category Zs (NBSP,
    * ideographic space, ...). Same class in Java regex and DuckDB RE2.
    */
  private val WsPat =
    java.util.regex.Pattern.compile("[\\t\\n\\x0B\\f\\r\\u0085\\u2028\\u2029\\p{Zs}]+")

  def tokenize(name: String, s: String): Array[String] = name match {
    case "raw" =>
      // codepoint cap: DuckDB's length() (the oracle mirror,
      // OracleSql rawTermsCte) counts codepoints, not UTF-16 units.
      // length > 2*cap is over in any encoding — don't scan megabyte
      // values just to reject them.
      if (s.isEmpty || s.length > 2 * MaxRawLen ||
          s.codePointCount(0, s.length) > MaxRawLen) Array.empty
      else Array(s)
    case "whitespace" =>
      WsPat.split(s).filter(t =>
        t.nonEmpty && t.codePointCount(0, t.length) <= Analyzer.MaxTokenLen)
    case "en_stem" => Analyzer.tokenize(s).map(SnowballStemmer.stem)
    case _ => Analyzer.tokenize(s)
  }

  /** (token -> tf) and total token count with the named tokenizer. */
  def tokenCounts(name: String, s: String): (collection.Map[String, Int], Int) = {
    val (m, n) = tokenCountsJava(name, s)
    import scala.jdk.CollectionConverters._
    (m.asScala.map { case (k, v) => (k, v.intValue) }, n)
  }

  /** Raw-java-map variant for the build hot path (see
    * Analyzer.tokenCountsJava).
    */
  private[graft] def tokenCountsJava(name: String,
      s: String): (java.util.HashMap[String, Int], Int) = name match {
    case "default" | "simple" => Analyzer.tokenCountsJava(s) // hot path: single-pass scanner
    case other =>
      val toks = tokenize(other, s)
      val m = new java.util.HashMap[String, Int]()
      var i = 0
      while (i < toks.length) { m.merge(toks(i), 1, (a, b) => a + b); i += 1 }
      (m, toks.length)
  }
}
