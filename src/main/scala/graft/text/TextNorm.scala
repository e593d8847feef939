package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Char-exact re-implementation of the reference's per-row text-normalization
  * invariant ("per-turn text equality" contract of the north rule).
  *
  * Reference: `EEASettings.parseForJson` (EEASettings.java:56-63) applies, in
  * order: trim; `[\n\r]` -> space; `"` -> `'`; tab -> 4 spaces; `\'` -> `'`;
  * `\xNN` -> `_`; `\` -> `\\`. The order matters (e.g. `\"` first becomes
  * `\'` in step 3 and is then unescaped by step 5).
  *
  * Reference: `EEASettings.removeIllegalXMLChar` (EEASettings.java:65-69)
  * discards the result of `replaceAll` — a latent no-op bug. We expose both
  * the bug-compatible identity and the intended strip (SURVEY.md P6).
  */
object TextNorm {

  /** Pure-Scala parity implementation (used by the extraction kernel and
    * golden-fixture generators). Single left-to-right pass — the naive
    * 7-step chain compiles regexes and allocates intermediates per call,
    * which at 32 concurrent tasks turns the extractor allocation-bound.
    * Semantics are char-exact vs the reference chain; the equivalence is
    * property-tested against an independent step-by-step model
    * (TextNormSpec). */
  def parseForJson(text: String): String = {
    // single char-level implementation lives in CharScan.clean (the fused
    // extraction kernel's form); this is the String facade over it.
    // clean() may REPLACE s.buf while growing it — read the field only
    // after it returns.
    val s = new CharScan.Scratch
    val len = CharScan.clean(text, s)
    new String(s.buf, 0, len)
  }

  /** Whitespace tokens of a cleaned string without regex compilation --
    * splits on the Java regex \s class (space, tab, \n, \x0B, \f, \r). */
  def fastTokens(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && CharScan.isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !CharScan.isWs(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** The 7 ordered replacement steps (isRegex, pattern, replacement) —
    * ONE constant list feeds both the Column form and the catalyst
    * Expression form (SQL `graft_clean`), so the two can never drift.
    * Step 3 is a char translate, the rest regex replaces. */
  private val CleanSteps: Seq[(Boolean, String, String)] = Seq(
    (true, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", ""), // Java String.trim
    (true, "[\\n\\r]", " "),
    (false, "\"", "'"),
    (true, "\\t", "    "),
    (true, "\\\\'", "'"),
    (true, "\\\\x[a-fA-F0-9][a-fA-F0-9]", "_"),
    (true, "\\\\", "\\\\\\\\"))

  /** Catalyst Column form — stays inside whole-stage codegen (regexp_replace
    * and translate are codegen'd built-ins; no UDF).
    *
    * NOTE: Java's `String.trim` strips every char <= U+0020 — not just
    * spaces like Spark's `trim` — so the Column form emulates it with a
    * regexp to stay char-exact. */
  def parseForJsonCol(c: Column): Column =
    CleanSteps.foldLeft(c) { case (x, (isRe, p, r)) =>
      if (isRe) regexp_replace(x, p, r) else translate(x, p, r)
    }

  /** Catalyst Expression form of the same chain, for SQL registration
    * (`graft_clean` via GraftExtensions): function builders must return
    * analyzable Expressions — a Column-node wrapper is unevaluable there. */
  def parseForJsonExpr(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace, StringTranslate}
    CleanSteps.foldLeft(e) { case (x, (isRe, p, r)) =>
      if (isRe) RegExpReplace(x, Literal(p), Literal(r))
      else StringTranslate(x, Literal(p), Literal(r))
    }
  }

  private val IllegalXml = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"

  /** The *intended* behavior of removeIllegalXMLChar (documented divergence —
    * SURVEY.md P6): strip XML-illegal control chars. */
  def removeIllegalXmlCharsIntended(c: Column): Column =
    regexp_replace(c, IllegalXml, "")

  def removeIllegalXmlCharsIntended(text: String): String =
    text.replaceAll(IllegalXml, "")

  private val TokenSplit = "\\s+"

  /** Whitespace tokenizer shared by extraction / scoring / dedup paths. */
  def tokensCol(c: Column): Column =
    filter(split(lower(c), TokenSplit), t => length(t) > 0)

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set — THE near-dup key, shared by ta_fingerprint,
    * ta_curation_pipeline and dd_dup_clusters (cluster membership is
    * defined by equality on this key, so it exists exactly once). NULL
    * text hashes like empty text, matching the oracles'
    * md5(coalesce(..., '')) — an un-coalesced md5 would be NULL and
    * silently drop the doc from every equality join.
    *
    * Optimization dead end (measured r6, kept OUT): a single-pass native
    * sort+dedup-adjacent+join Expression (DotProduct-style) replacing the
    * array_sort(array_distinct(...)) chain was row-exact but a wash on the
    * 200k-doc dedup-index corpus (~150 tokens/doc): chain 0.36-0.42 s vs
    * kernel 0.38-0.39 s noop min-of-3, with tokens-only at 0.35 s — the
    * md5 + tokenize map dominates and the chain costs ~50 ms total, so the
    * suspected O(n^2) string array_distinct cost never materializes at
    * this tokens-per-doc shape. */
  def fingerprintCol(text: Column): Column =
    md5(coalesce(
      array_join(array_sort(array_distinct(tokensCol(text))), " "),
      lit("")).cast("binary"))

  /** Catalyst Expression form of [[fingerprintCol]] for SQL registration
    * (`graft_fingerprint`): built from UnresolvedFunction nodes (the
    * analyzer resolves a builder's output iteratively), sharing the token
    * split/join constants with the Column form. */
  def fingerprintExpr(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GreaterThan, LambdaFunction, Literal, UnresolvedNamedLambdaVariable}
    def uf(name: String, args: Expression*): Expression =
      UnresolvedFunction(Seq(name), args, isDistinct = false)
    val v = UnresolvedNamedLambdaVariable(Seq("t"))
    val lam = LambdaFunction(GreaterThan(uf("length", v), Literal(0)), Seq(v))
    val toks = uf("filter", uf("split", uf("lower", e), Literal(TokenSplit)), lam)
    uf("md5", Cast(uf("coalesce",
      uf("array_join", uf("array_sort", uf("array_distinct", toks)), Literal(" ")),
      Literal("")), org.apache.spark.sql.types.BinaryType))
  }

  /** Adjacent-token bigrams ("a b") of a token array — shared by the
    * multi-token linking and repetition-signal paths so the span semantics
    * can never drift between them. Guards size >= 2 itself: Spark's
    * sequence(1, 0) would DESCEND, not be empty. */
  def bigramsCol(l: Column): Column =
    when(size(l) >= 2,
      transform(sequence(lit(1), size(l) - 1),
        i => concat(element_at(l, i), lit(" "), element_at(l, i + 1))))
      .otherwise(expr("cast(array() as array<string>)"))
}
