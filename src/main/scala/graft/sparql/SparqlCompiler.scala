package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TransitiveClosure

import SparqlAst._

/** Compiles the parsed SPARQL subset into a Catalyst plan over a triple
  * frame with string columns (s, p, o).
  *
  * This is the Spark-first re-expression of the reference's query surface
  * (Harvester.java:1516-1659 hands these same queries to Jena/a remote
  * triplestore): a BGP becomes a chain of equality hash joins over the
  * triple table, never an interpreter.
  *
  * Scale shape, by construction:
  *  - Constant positions in a pattern become `col === lit` filters applied
  *    directly to the scan, so Catalyst pushes them into the parquet reader
  *    (PushedFilters) and prunes row groups — a pattern like
  *    `?s <urn:p:label> ?o` reads only the label slice of a 100 TB table.
  *  - Pattern joins are EQUALITY joins on shared variables (shuffle or
  *    broadcast hash, AQE's choice), greedily ordered most-constant-first
  *    so the most selective pattern seeds the chain.
  *  - A join step with NO shared variable is REFUSED (SparqlUnsupported):
  *    at 10^12 triples an accidental cross product is an outage, not a
  *    query. The one sanctioned cross is the reference template's constant
  *    "redundant clause" (Harvester.java:1020-1024), compiled as an
  *    existence GATE: `LIMIT 1` on the constant match, then an equality
  *    join on a literal key — a 0-or-1-row BROADCAST HASH join, not a
  *    nested loop.
  *  - OPTIONAL is a left outer hash join on the shared variables;
  *    FILTER(!BOUND(?v)) is an IS NULL filter on top — together they
  *    compile the reference's has-no-label anti-join idiom into exactly
  *    the LeftOuter+IsNull plan Catalyst rewrites to an ANTI join. A
  *    filter INSIDE the optional group that references left-side bindings
  *    becomes the left join's residual condition (full LeftJoin(A, P, F)
  *    semantics — still a hash join, the shared-var equalities drive it).
  *  - A variable bound only optionally (or only in some UNION branches)
  *    must not be used as a later join key: SPARQL joins treat unbound as
  *    compatible-with-anything while SQL nulls never match, so such plans
  *    are REFUSED rather than silently diverging.
  *  - Property paths stay equality-hash-join shaped: sequence = a join per
  *    step, alternation = union, inverse = endpoint swap, '+'/'*' = an
  *    iterative-doubling closure of the path's OWN predicate-filtered edge
  *    slice run to the fixpoint (see [[pathPairs]]).
  *  - GROUP BY / aggregates compile to one map-side-combinable hash
  *    aggregate; COUNT/SUM/AVG outputs are genuine numeric columns tracked
  *    per-variable so a number never silently joins/unions against a
  *    string term. SUM/AVG (and numeric FILTER ordering / ORDER BY value
  *    sort) compile only over PROVABLY numeric variables — aggregate
  *    outputs, or string terms whose single binding scan carries a
  *    numeric-datatype proof via the `dt` column (a datatype() or numeric-
  *    comparison conjunct); unproven numerics refuse rather than silently
  *    comparing/summing lexical forms (see [[compileAggSelect]]).
  *  - BIND is a projection extension (withColumn); re-binding and
  *    enclosing-scope references are refused per the same scope rules.
  */
object SparqlCompiler {

  final class SparqlUnsupported(msg: String) extends IllegalArgumentException(msg)

  private def unsupported(msg: String): Nothing = throw new SparqlUnsupported(msg)

  /** A compiled fragment: the frame, its bound variables in first-bound
    * order, the subset of vars that may be NULL (bound only in an
    * OPTIONAL or only in some UNION branches), and the subset that are
    * NUMERIC (COUNT/SUM/AVG aggregate outputs — genuine numeric columns
    * in an otherwise all-string model; joining one against a string term
    * would silently coerce, so such joins are refused unless both sides
    * are numeric).
    *
    * `numSql` gives the SQL type of each `numeric` column ("bigint" for
    * COUNT and integer SUM, "double" for AVG / non-integer SUM; absent
    * means "bigint", the historical default). `castable` marks STRING-term
    * variables PROVEN numeric-typed at their binding scan (a
    * datatype()=<numeric xsd type> or numeric-comparison conjunct pushed
    * there): its value is the cast target that makes SUM/AVG/ORDER BY
    * value-exact ("bigint" when the proof pins an integer type, otherwise
    * "double"). */
  private final case class Frag(df: DataFrame, vars: Seq[String],
      maybeNull: Set[String], numeric: Set[String] = Set.empty,
      numSql: Map[String, String] = Map.empty,
      castable: Map[String, String] = Map.empty)

  /** XSD numeric datatypes, split by exact-integer vs floating value
    * space — the split picks SUM/ORDER cast targets ("bigint" stays exact
    * cross-engine; decimal/double go through "double"). */
  private val XsdNs = "http://www.w3.org/2001/XMLSchema#"
  private val integerDts: Set[String] = Set(
    "integer", "long", "int", "short", "byte",
    "nonNegativeInteger", "positiveInteger", "nonPositiveInteger",
    "negativeInteger", "unsignedLong", "unsignedInt", "unsignedShort",
    "unsignedByte").map(XsdNs + _)
  private val floatDts: Set[String] =
    Set("decimal", "double", "float").map(XsdNs + _)
  private val numericDts: Set[String] = integerDts ++ floatDts

  /** Registered local graphs for SERVICE IRIs: a SERVICE block compiles
    * against its registered frame and joins like a nested group. */
  type Services = Map[String, DataFrame]

  /** Parse + compile in one step. `triples` must have string columns
    * (s, p, o), plus optionally `ol` (the object's language tag, ''/null
    * when untagged) — required only by lang()/langMatches() filters — and
    * `dt` (typed-literal datatype IRI) — required by datatype()/numeric
    * comparisons — and `tk` (the OBJECT term's kind: 'i' IRI / 'l' literal
    * / 'b' blank, non-null) — required by isIRI()/isLiteral()/isBlank()
    * filters. A frame WITH `tk` also gets exact spec semantics for
    * negative lang()/datatype() comparisons (a non-literal binding is the
    * spec's type error and the row is removed); without it the documented
    * union divergence in [[langCondCol]]'s scaladoc applies. ASK compiles
    * to a 0-or-1-row frame with a single `ask` column (use [[ask]] for the
    * boolean). `services` maps SERVICE IRIs to pre-materialized local
    * graph frames. */
  def compile(query: String, triples: DataFrame,
      services: Services = Map.empty): DataFrame =
    compileAst(SparqlParser.parse(query), triples, services)

  /** ASK helper: true iff the pattern has at least one solution. */
  def ask(query: String, triples: DataFrame,
      services: Services = Map.empty): Boolean =
    SparqlParser.parse(query) match {
      case AskQ(where) => !compileGroup(where, triples, services = services).df.isEmpty
      case _ => unsupported("ask() requires an ASK query")
    }

  def compileAst(q: SparqlQuery, triples: DataFrame,
      services: Services = Map.empty): DataFrame = q match {
    case sel: SelectQ => compileSelect(sel, triples, services).df

    case ConstructQ(template, where, limit) =>
      if (template.isEmpty) unsupported("CONSTRUCT with an empty template")
      val w = compileGroup(where, triples, services = services)
      // SPARQL solution modifiers bound the SOLUTION sequence; the template
      // then instantiates per kept solution — limiting output triples
      // instead would truncate mid-solution on multi-triple templates
      val wdf = limit.fold(w.df)(n => w.df.limit(checkedInt(n, "LIMIT")))
      def out(t: Term): Column = t match {
        case V(n) =>
          // cast: an aggregate-valued var (sub-select COUNT) renders as its
          // canonical lexical form — a CONSTRUCT emits RDF terms, so the
          // string boundary is the right one here
          if (w.vars.contains(n)) col(n).cast("string")
          else lit(null).cast("string") // unbound template var: rows drop below
        case I(u) => lit(u)
        case L(v) => lit(v)
      }
      val parts = template.map { tp =>
        wdf.select(out(tp.s).as("s"), out(tp.p).as("p"), out(tp.o).as("o"))
          // RDF graphs cannot contain triples with unbound positions —
          // template rows that lost a var (OPTIONAL miss) are skipped
          .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
      }
      parts.reduce(_ unionAll _).distinct() // a graph is a SET of triples

    case DescribeQ(terms, where) =>
      val iris = terms.collect { case I(u) => u }
      val vars = terms.collect { case V(n) => n }
      val byIri =
        if (iris.isEmpty) None
        else Some(triples.filter(col("s").isin(iris: _*)))
      val byVar = vars match {
        case Seq() => None
        case vs =>
          val w = compileGroup(where.getOrElse(unsupported(
            "DESCRIBE ?var requires a WHERE group")), triples, services = services)
          vs.foreach { v =>
            if (!w.vars.contains(v)) unsupported(s"DESCRIBE ?$v: variable not bound in WHERE")
            if (w.numeric(v)) unsupported(s"DESCRIBE ?$v: an aggregate value is not a resource")
          }
          // subjects to describe = union of the described vars' bindings;
          // LEFT SEMI keeps the scan-side pruned and never duplicates
          val subjects = vs.map(v => w.df.select(col(v).as("__subj")))
            .reduce(_ unionAll _).filter(col("__subj").isNotNull).distinct()
          Some(triples.join(subjects, col("s") === col("__subj"), "left_semi"))
      }
      (byIri, byVar) match {
        case (Some(a), Some(b)) => a.unionAll(b).distinct()
        case (Some(a), None) => a.distinct()
        case (None, Some(b)) => b.distinct()
        case (None, None) => unsupported("DESCRIBE with no terms")
      }

    case AskQ(where) =>
      compileGroup(where, triples, services = services).df.limit(1)
        .select(lit(true).as("ask"))
  }

  private def checkedInt(n: Long, what: String): Int = {
    if (n < 0 || n > Int.MaxValue) unsupported(s"$what $n out of range")
    n.toInt
  }

  // ---- SELECT ---------------------------------------------------------------

  /** `graphVar`: set when this SELECT is a sub-select inside GRAPH ?var —
    * the spec's active-graph iteration. Its patterns thread the graph var
    * (compileGroup), and the projection carries it IMPLICITLY (appended
    * column; added to the grouping keys on the aggregate path, so
    * aggregation is per graph). Solution modifiers are refused there:
    * per-graph LIMIT/ORDER would need per-graph windows. */
  private def compileSelect(sel: SelectQ, triples: DataFrame,
      services: Services = Map.empty, graphVar: Option[String] = None): Frag = {
    val w = compileGroup(sel.where, triples, services = services, graphVar = graphVar)
    graphVar.foreach { gv =>
      if (!w.vars.contains(gv))
        unsupported(s"sub-SELECT under GRAPH ?$gv binds no triple pattern: " +
          "the graph variable would stay unbound")
      if (sel.orderBy.nonEmpty || sel.limit.isDefined || sel.offset.isDefined)
        unsupported(s"ORDER BY/LIMIT/OFFSET inside a sub-SELECT under GRAPH " +
          s"?$gv is not compiled (the spec's per-graph evaluation would need " +
          "per-graph windows)")
      sel.projs.find(p => p.name == gv && p.expr != PVarRef(gv)).foreach { _ =>
        unsupported(s"(... AS ?$gv) re-binds the enclosing GRAPH variable")
      }
    }
    val isAgg = sel.groupBy.nonEmpty || sel.having.nonEmpty ||
      sel.projs.exists(_.expr.isInstanceOf[PAggRef])
    if (isAgg) return compileAggSelect(sel, w, graphVar)
    if (sel.projs.isEmpty && w.vars.isEmpty)
      unsupported("SELECT * over an all-constant pattern binds no variables " +
        "(a zero-column result): use ASK for existence checks")
    // the graph var rides the projection implicitly (one graph per row)
    val extraG: Seq[String] =
      graphVar.filterNot(gv => sel.projs.exists(_.name == gv)).toSeq
    val (projected, outVars) =
      if (sel.projs.isEmpty) { // SELECT *
        (w.df.select(w.vars.map(col): _*), w.vars)
      } else {
        val cols = sel.projs.map {
          case Proj(name, PVarRef(src)) =>
            if (!w.vars.contains(src)) unsupported(s"projected variable ?$src is not bound")
            col(src).as(name)
          case Proj(name, _) => unsupported(s"aggregate projection ?$name slipped " +
            "past the aggregate path") // unreachable: isAgg covers it
        } ++ extraG.map(col)
        (w.df.select(cols: _*), sel.projs.map(_.name) ++ extraG)
      }
    // projection renames can re-bind names; everything projected is now
    // top-level, and null-ness / numeric-ness / type proofs survive the
    // rename
    def renamed(src: Set[String]): Set[String] = sel.projs match {
      case Seq() => src
      case ps => ps.collect {
        case Proj(name, PVarRef(s)) if src(s) => name
      }.toSet
    }
    def renamedMap(src: Map[String, String]): Map[String, String] = sel.projs match {
      case Seq() => src
      case ps => ps.collect {
        case Proj(name, PVarRef(s)) if src.contains(s) => name -> src(s)
      }.toMap
    }
    val castableOut = renamedMap(w.castable)
    var df = if (sel.distinct) projected.distinct() else projected
    df = applyOrderLimit(df, sel, outVars, castableOut)
    Frag(df, outVars, renamed(w.maybeNull), renamed(w.numeric),
      renamedMap(w.numSql), castableOut)
  }

  /** ORDER BY sorts string terms lexicographically (the documented term
    * model; exact for the reference's fixed-layout dateTime watermarks)
    * EXCEPT over genuinely numeric columns (aggregate outputs sort as the
    * numbers they are) and over `castable` vars, whose numeric-type proof
    * upgrades the sort to value order via a cast sort key. */
  private def applyOrderLimit(df0: DataFrame, sel: SelectQ, outVars: Seq[String],
      castable: Map[String, String] = Map.empty): DataFrame = {
    var df = df0
    if (sel.orderBy.nonEmpty) {
      sel.orderBy.foreach { case (v, _) =>
        if (!outVars.contains(v)) unsupported(s"ORDER BY ?$v is not in the projection")
      }
      df = df.orderBy(sel.orderBy.map { case (v, asc) =>
        val key = castable.get(v).map(t => col(v).try_cast(t)).getOrElse(col(v))
        if (asc) key.asc else key.desc
      }: _*)
    }
    sel.offset.foreach(n => df = df.offset(checkedInt(n, "OFFSET")))
    sel.limit.foreach(n => df = df.limit(checkedInt(n, "LIMIT")))
    df
  }

  /** GROUP BY / aggregate SELECT: one hash aggregate (map-side combinable —
    * COUNT/MIN/MAX partial-aggregate; GROUP_CONCAT collects then sorts
    * per group). Semantics choices over the string-term model, all
    * spec-conformant and cross-engine deterministic:
    *  - SAMPLE is implementation-defined by the spec; compiled as MIN so
    *    both engines pick the same witness.
    *  - GROUP_CONCAT order is undefined by the spec; values are SORTED
    *    before joining (DuckDB: string_agg(... ORDER BY ...)).
    *  - COUNT outputs are genuine BIGINTs (marked `numeric`).
    *  - SUM/AVG compile ONLY over provably numeric arguments: a genuine
    *    numeric column (a COUNT output — SUM-of-COUNTs is a common roll-up)
    *    or a `castable` var (numeric-datatype proof at its binding scan);
    *    integer proofs sum as BIGINT (exact cross-engine), everything else
    *    as DOUBLE; AVG of an integer-proven var is ONE double division
    *    after an exact integer sum, so it is cross-engine deterministic.
    *    Per the spec, Sum({}) = 0 and Avg({}) = 0 — the empty/all-unbound
    *    group coalesces to zero instead of SQL's NULL.
    *  - Aggregates skip NULL (unbound) inputs in both engines, matching
    *    the spec's error-row elision; COUNT(*) counts all solutions. */
  private def compileAggSelect(sel: SelectQ, w: Frag,
      graphVar: Option[String] = None): Frag = {
    if (sel.projs.isEmpty)
      unsupported("SELECT * cannot be combined with GROUP BY / aggregates")
    sel.groupBy.foreach { v =>
      if (!w.vars.contains(v)) unsupported(s"GROUP BY ?$v is not bound in the pattern")
    }
    // under GRAPH ?var the graph variable joins the grouping keys (the
    // spec's per-active-graph evaluation) and rides the output implicitly
    val extraG: Seq[String] =
      graphVar.filterNot(sel.groupBy.contains).toSeq
    val groupKeys: Seq[String] = sel.groupBy ++ extraG
    def checkArg(a: Agg): Unit = a.arg.foreach { v =>
      if (!w.vars.contains(v)) unsupported(s"aggregate over unbound variable ?$v")
      if (a.fn == "SUM" || a.fn == "AVG") {
        if (!w.numeric(v) && !w.castable.contains(v))
          unsupported(s"${a.fn}(?$v): ?$v is not provably numeric — terms are " +
            s"strings end-to-end; add FILTER(datatype(?$v) = <numeric xsd " +
            "type>) at its binding pattern (frame needs a `dt` column) so " +
            "the aggregate is value-exact, not a sum of lexical forms")
      } else if (w.numeric(v))
        unsupported(s"aggregating the aggregate-valued ?$v is not supported")
    }
    /** SQL type a SUM over ?v produces (and AVG's input cast) */
    def numArgType(v: String): String =
      if (w.numeric(v)) w.numSql.getOrElse(v, "bigint") else w.castable(v)
    sel.projs.foreach {
      case Proj(name, PVarRef(src)) =>
        if (!groupKeys.contains(src))
          unsupported(s"?$src is projected but not in GROUP BY (SPARQL requires " +
            "projected variables of an aggregate query to be grouped)")
        if (name != src && w.vars.contains(name))
          unsupported(s"(?$src AS ?$name) re-binds the in-scope variable ?$name")
      case Proj(name, PAggRef(a)) =>
        checkArg(a)
        if (w.vars.contains(name))
          unsupported(s"(${a.fn}(...) AS ?$name) re-binds the in-scope variable ?$name")
    }
    sel.having.foreach(h => checkArg(h.agg))

    def aggCol(a: Agg): Column = a match {
      case Agg("COUNT", None, _, _) => count(lit(1))
      case Agg("COUNT", Some(v), true, _) => countDistinct(col(v))
      case Agg("COUNT", Some(v), false, _) => count(col(v))
      case Agg("MIN", Some(v), _, _) => min(col(v))
      case Agg("MAX", Some(v), _, _) => max(col(v))
      case Agg("SAMPLE", Some(v), _, _) => min(col(v))
      case Agg("GROUP_CONCAT", Some(v), d, sep) =>
        val vals = if (d) collect_set(col(v)) else collect_list(col(v))
        array_join(array_sort(vals), sep.getOrElse(" "))
      case Agg("SUM", Some(v), d, _) =>
        val t = numArgType(v)
        // try_cast: a proof-passing row with an invalid lexical form
        // contributes null (skipped) instead of an ANSI cast error
        val c = if (w.numeric(v)) col(v) else col(v).try_cast(t)
        val s = if (d) sum_distinct(c) else sum(c)
        coalesce(s, lit(0).cast(t)).cast(t) // Sum({}) = 0 per spec
      case Agg("AVG", Some(v), d, _) =>
        if (d) unsupported("AVG(DISTINCT) is not supported (spell it as " +
          "SUM(DISTINCT)/COUNT(DISTINCT) if the intent is real)")
        val c = if (w.numeric(v)) col(v) else col(v).try_cast(numArgType(v))
        coalesce(avg(c), lit(0.0)) // Avg({}) = 0 per spec
      case other => unsupported(s"unsupported aggregate ${other.fn}")
    }

    // internal names dodge collisions between agg aliases and key vars;
    // HAVING aggregates ride the same hash aggregate as extra columns
    val projAggs = sel.projs.zipWithIndex.collect {
      case (Proj(_, PAggRef(a)), i) => s"__agg_$i" -> a
    }
    val havingAggs = sel.having.zipWithIndex.map { case (h, i) => s"__having_$i" -> h }
    val aggExprs = projAggs.map { case (n, a) => aggCol(a).as(n) } ++
      havingAggs.map { case (n, h) => aggCol(h.agg).as(n) }

    var df =
      if (aggExprs.isEmpty)
        // GROUP BY with only key projections degenerates to DISTINCT keys
        w.df.select(groupKeys.map(col): _*).distinct()
      else if (groupKeys.isEmpty)
        w.df.agg(aggExprs.head, aggExprs.tail: _*)
      else
        w.df.groupBy(groupKeys.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)

    havingAggs.foreach { case (cn, HCmp(agg, op, rhs)) =>
      val c = col(cn)
      val r: Column = agg.fn match {
        case "COUNT" => lit(rhs.toLong)
        case "SUM" | "AVG" =>
          if (rhs.contains(".")) lit(rhs.toDouble) else lit(rhs.toLong)
        case _ => lit(rhs)
      }
      df = df.filter(op match {
        case "=" => c === r
        case "!=" => c =!= r
        case "<" => c < r
        case "<=" => c <= r
        case ">" => c > r
        case ">=" => c >= r
      })
    }
    if (havingAggs.nonEmpty) df = df.drop(havingAggs.map(_._1): _*)

    val projCols = sel.projs.zipWithIndex.map[Column] {
      case (Proj(name, PVarRef(src)), _) => col(src).as(name)
      case (Proj(name, PAggRef(_)), i) => col(s"__agg_$i").as(name)
    } ++ extraG.map(col)
    df = df.select(projCols: _*)
    if (sel.distinct) df = df.distinct()
    val outVars = sel.projs.map(_.name) ++ extraG
    // group-key projections keep their numeric-type proofs across the agg
    val castableOut = sel.projs.collect {
      case Proj(name, PVarRef(src)) if w.castable.contains(src) =>
        name -> w.castable(src)
    }.toMap
    df = applyOrderLimit(df, sel, outVars, castableOut)
    val numSql = sel.projs.collect {
      case Proj(name, PAggRef(a)) if a.fn == "COUNT" => name -> "bigint"
      case Proj(name, PAggRef(a)) if a.fn == "SUM" =>
        name -> numArgType(a.arg.get)
      case Proj(name, PAggRef(a)) if a.fn == "AVG" => name -> "double"
    }.toMap
    // COUNT/SUM/AVG never null (zero-coalesced per spec); the string
    // aggregates can be: over the implicit single group of an empty input,
    // or when every group member's arg is unbound
    val zeroed = Set("COUNT", "SUM", "AVG")
    val nullable = sel.projs.collect {
      case Proj(name, PAggRef(a)) if !zeroed(a.fn) &&
        (groupKeys.isEmpty || a.arg.exists(w.maybeNull)) => name
      case Proj(name, PVarRef(src)) if w.maybeNull(src) => name
    }.toSet
    Frag(df, outVars, nullable, numSql.keySet, numSql, castableOut)
  }

  // ---- group graph patterns -----------------------------------------------------

  /** `leftVars`: variables bound OUTSIDE this group when it is the pattern
    * of an OPTIONAL — the scope `compileOptional` may lift that group's
    * filters into the left-join condition from (see its scaladoc). In every
    * other position, a filter referencing a var its own group never binds
    * is conformant SPARQL (unbound -> error -> row removed) and compiles as
    * such. */
  private def compileGroup(g: Group, triples: DataFrame,
                           leftVars: Set[String] = Set.empty,
                           graphVar: Option[String] = None,
                           services: Services = Map.empty): Frag = {
    var acc: Option[Frag] = None
    var gates = List.empty[DataFrame] // constant-only patterns: existence checks
    var gateId = 0

    def joinInto(f: Frag, kind: String): Unit = acc match {
      case None =>
        if (kind == "optional")
          unsupported("OPTIONAL cannot be the first pattern of a group")
        acc = Some(f)
      case Some(a) =>
        val shared = a.vars.filter(f.vars.contains)
        if (shared.isEmpty)
          unsupported(s"join of {${f.vars.mkString(",")}} with {${a.vars.mkString(",")}} " +
            "shares no variable: refusing the cross product")
        shared.filter(a.maybeNull).foreach { v =>
          unsupported(s"?$v is only optionally bound and later used as a join key: " +
            "SPARQL unbound-compatibility differs from SQL null-join semantics")
        }
        shared.filter(f.maybeNull).foreach { v =>
          unsupported(s"?$v is only optionally bound in a sub-pattern used as a join key")
        }
        checkNumericAligned(a, f, shared)
        val joined = a.df.join(f.df, shared, if (kind == "optional") "left_outer" else "inner")
        val vars = a.vars ++ f.vars.filterNot(a.vars.contains)
        val fresh = f.vars.filterNot(a.vars.contains).toSet
        val maybeNull =
          if (kind == "optional") a.maybeNull ++ fresh ++ (f.maybeNull -- shared.toSet)
          else a.maybeNull ++ (f.maybeNull -- shared.toSet)
        acc = Some(Frag(joined, vars, maybeNull, a.numeric ++ f.numeric,
          a.numSql ++ f.numSql, a.castable ++ f.castable))
    }

    /** SPARQL `OPTIONAL { P FILTER F }` is LeftJoin(left, P, F): F sees the
      * LEFT side's bindings, not just P's. Filters of the optional group
      * that reference left-bound variables therefore compile into the left
      * join's CONDITION — equality on the shared variables plus the residual
      * predicate, which Spark still executes as a hash join (the equality
      * keys drive the build/probe; the residual evaluates per matched row).
      * Filters over only the group's own variables apply to P before the
      * join, same result, cheaper (they prune the build side). A condition
      * variable bound NOWHERE compiles to null => never matches => the left
      * row survives bare — exactly SPARQL's error-means-no-extension. Only
      * variables visible one level up are in scope; a condition reaching a
      * grand-outer binding is refused. */
    def compileOptional(og: Group): Unit = {
      val a = acc.getOrElse(
        unsupported("OPTIONAL cannot be the first pattern of a group"))
      val bound = a.vars.toSet ++ leftVars
      val (filterElems, core0) = og.elems.partition(_.isInstanceOf[GFilter])
      val split = filterElems.collect { case GFilter(e) =>
        conjuncts(e).partition(scanCondIn(og.elems))
      }
      // scan-column conjuncts (lang/datatype) never reference left-side
      // vars usefully (their columns exist only at the binding pattern's
      // scan), so they compile INSIDE the optional group via the
      // group-level pushdown; only genuine boolean filters join the
      // LeftJoin-condition machinery
      val core = core0 ++ split.flatMap(_._1).map(GFilter(_))
      val fs = split.flatMap(s => s._2.reduceOption(FAnd))
      val c0 = compileGroup(Group(core), triples, bound, graphVar, services)
      val (pending, local) = fs.partition(e => (fvars(e) -- c0.vars.toSet).exists(bound))
      val c = local.foldLeft(c0)((f, e) =>
        f.copy(df = f.df.filter(compileFilter(e, f))))
      val shared = a.vars.filter(c.vars.contains)
      if (shared.isEmpty)
        unsupported(s"OPTIONAL {${c.vars.mkString(",")}} shares no variable " +
          s"with {${a.vars.mkString(",")}}: refusing the cross product")
      (shared.filter(a.maybeNull) ++ shared.filter(c.maybeNull)).foreach { v =>
        unsupported(s"?$v is only optionally bound and later used as a join key: " +
          "SPARQL unbound-compatibility differs from SQL null-join semantics")
      }
      pending.flatMap(fvars).distinct.foreach { v =>
        if (!a.vars.contains(v) && !c.vars.contains(v) && bound(v))
          unsupported(s"FILTER in OPTIONAL references ?$v bound outside the " +
            "enclosing group: only one level of left-join condition scope is compiled")
      }
      checkNumericAligned(a, c, shared)
      val freshVars = c.vars.filterNot(a.vars.contains)
      if (pending.isEmpty) {
        acc = Some(Frag(a.df.join(c.df, shared, "left_outer"),
          a.vars ++ freshVars,
          a.maybeNull ++ freshVars.toSet ++ (c.maybeNull -- shared.toSet),
          a.numeric ++ c.numeric, a.numSql ++ c.numSql,
          a.castable ++ c.castable))
      } else {
        // disambiguate the optional side, then join on shared-var equality
        // AND the residual condition
        val ren = c.vars.map(v => v -> s"__opt_$v").toMap
        val cdf = c.vars.foldLeft(c.df)((d, v) => d.withColumnRenamed(v, ren(v)))
        val resolve: String => Option[Column] = v =>
          if (c.vars.contains(v)) Some(col(ren(v)))
          else if (a.vars.contains(v)) Some(col(v))
          else None // bound nowhere: null condition => no extension
        val eq = shared.map(v => col(v) === col(ren(v))).reduce(_ && _)
        val cond = pending.map(e => compileFilter(e, resolve,
          a.numeric ++ c.numeric, a.castable ++ c.castable)).reduce(_ && _)
        val joined = a.df.join(cdf, eq && cond, "left_outer")
          .select(a.vars.map(col) ++ freshVars.map(v => col(ren(v)).as(v)): _*)
        acc = Some(Frag(joined, a.vars ++ freshVars,
          a.maybeNull ++ freshVars.toSet ++ (c.maybeNull -- shared.toSet),
          a.numeric ++ c.numeric, a.numSql ++ c.numSql,
          a.castable ++ c.castable))
      }
    }

    // ---- scan-column pushdown: pull top-level lang()/langMatches()/
    // datatype() conjuncts out of this group's filters and compile each
    // into the ONE plain triple pattern that binds its variable in object
    // position — the term model is a string, so the tag/datatype live in
    // the frame's `ol`/`dt` columns, which exist only at that pattern's
    // scan (and the condition prunes there, right next to the
    // constant-position PushedFilters)
    val scanBuf = Seq.newBuilder[FExpr]
    val elems0: Seq[GElem] = g.elems.flatMap {
      case GFilter(e) =>
        val (scans, rest) = conjuncts(e).partition(scanCondIn(g.elems))
        scanBuf ++= scans
        rest.reduceOption(FAnd).map(GFilter(_)).toSeq
      case other => Seq(other)
    }
    val scanList = scanBuf.result()
    val langConds: Map[String, Column] =
      if (scanList.isEmpty) Map.empty
      else {
        scanList.map(scanCondColumn).distinct.foreach { c =>
          if (!triples.columns.contains(c))
            unsupported(s"${scanCondWhat(c)} a triple frame with a `$c` " +
              "column; this frame has " +
              triples.columns.mkString("(", ", ", ")"))
        }
        scanList.groupBy(e => fvars(e).head).map { case (v, es) =>
          val objBinds = elems0.count {
            case GTriple(TP(_, _, V(n))) => n == v
            case _ => false
          }
          val totalBinds = bindingOccurrences(elems0).count(_ == v)
          if (objBinds != 1 || totalBinds != 1)
            unsupported(s"lang/datatype(?$v): ?$v must be bound by exactly ONE " +
              s"object position of a plain triple pattern in the same group " +
              s"(found $objBinds object bindings out of $totalBinds binding " +
              "occurrences) — the tag/datatype columns exist only at that scan")
          v -> es.map(langCondCol(_, triples.columns.contains("tk")))
            .reduce(_ && _)
        }
      }
    // numeric-type proofs established by the pushed conjuncts: a positive
    // datatype() equality pins the var's value space exactly (integer
    // family -> bigint-exact, decimal/double/float -> double); a numeric
    // comparison proves dt ∈ numeric without pinning the family (double).
    // The proof unlocks SUM/AVG/ORDER BY over the variable downstream.
    val provenCast: Map[String, String] =
      scanList.groupBy(e => fvars(e).head).flatMap { case (v, es) =>
        val posDts = es.collect { case FDtCmp(_, true, iri) => iri }
        if (posDts.exists(integerDts)) Some(v -> "bigint")
        else if (posDts.exists(floatDts)) Some(v -> "double")
        // a numeric comparison or a positive isNumeric() proves dt ∈
        // numeric without pinning the family
        else if (es.exists {
          case _: FNumCmp | FIsNumeric(_, true) => true
          case _ => false
        }) Some(v -> "double")
        else None
      }

    // source order matters for OPTIONAL scoping; runs of adjacent triple
    // patterns form one BGP and are join-ordered greedily within the run
    val elems = elems0
    var idx = 0
    var deferredFilters = List.empty[FExpr]
    var deferredExists = List.empty[(Group, Boolean)]
    while (idx < elems.length) {
      elems(idx) match {
        case GTriple(_) =>
          // a run = consecutive triples, INCLUDING ones separated only by
          // FILTERs: the spec hoists filters out of group translation
          // (18.2.2.2), so interleaved filters do not split the BGP — a
          // pattern connected only through a LATER triple in the run must
          // not be refused as disconnected. The skipped filters are
          // group-scoped and already routed through the GFilter case;
          // stopping the slice at any OTHER element keeps OPTIONAL/MINUS/
          // BIND order semantics intact (those do cap the BGP).
          val slice = elems.drop(idx)
            .takeWhile(e => e.isInstanceOf[GTriple] || e.isInstanceOf[GFilter])
          val run = slice.collect { case GTriple(tp) => tp }
          slice.collect { case GFilter(e) => e }
            .foreach(e => deferredFilters ::= e)
          idx += slice.length
          val frags = run.map(compilePattern(_, triples, langConds, graphVar))
          val (constOnly, withVars) = frags.partition(_.vars.isEmpty)
          gates :::= constOnly.map(_.df).toList
          // greedy join order against the FULL bound set — including vars
          // the group already bound before this run (an earlier OPTIONAL/
          // UNION/path): a run whose patterns connect only THROUGH those
          // is one connected BGP, not a cross product. Patterns join the
          // accumulator one at a time; most-shared-vars first, constants
          // breaking ties (most selective earliest).
          val pool = scala.collection.mutable.ArrayBuffer(withVars: _*)
          while (pool.nonEmpty) {
            val bound = acc.map(_.vars.toSet).getOrElse(Set.empty)
            def constness(i: Int): Int = 3 - pool(i).vars.length
            if (bound.isEmpty) {
              val i = pool.indices.maxBy(i => (constness(i), -i))
              joinInto(pool.remove(i), "inner")
            } else {
              val cands = pool.indices.filter(i => pool(i).vars.exists(bound))
              if (cands.isEmpty)
                unsupported("basic graph pattern is disconnected: refusing " +
                  s"the cross product (bound {${bound.toSeq.sorted.mkString(",")}} " +
                  s"vs remaining {${pool.map(_.vars.mkString("/")).mkString(", ")}})")
              val pick = cands.maxBy(i => (pool(i).vars.count(bound), constness(i), -i))
              joinInto(pool.remove(pick), "inner")
            }
          }
        case GOptional(og) =>
          compileOptional(og); idx += 1
        case GPath(s, path, o) =>
          // inside GRAPH ?g the whole path (closures included) evaluates
          // PER GRAPH: every step's join carries the g column as an extra
          // equality key, so a closure never crosses graphs
          val f = compilePathElem(s, path, o, triples, graphVar)
          if (f.vars.isEmpty) gates ::= f.df else joinInto(f, "inner")
          idx += 1
        case GGraph(gt, gg) =>
          if (graphVar.isDefined)
            unsupported("nested GRAPH inside GRAPH ?var is not compiled")
          if (!triples.columns.contains("g"))
            unsupported("GRAPH needs a quad frame with a `g` (named graph) " +
              "column; this frame has columns " +
              triples.columns.mkString("(", ", ", ")"))
          gt match {
            case I(u) =>
              // constant graph: the whole body compiles (full recursion)
              // against the g-filtered quad slice — the constant lands in
              // PushedFilters like any pattern constant
              val f = compileGroup(gg, triples.filter(col("g") === u),
                services = services)
              if (f.vars.isEmpty) gates ::= f.df else joinInto(f, "inner")
            case V(gv) =>
              // GRAPH ?g { P }: the FULL group grammar compiles with every
              // pattern additionally binding ?g from the quad frame's `g`
              // column — one graph per solution, OPTIONAL/UNION/EXISTS/
              // MINUS inside stay graph-scoped through the same threading
              val f = compileGroup(gg, triples, Set.empty, Some(gv), services)
              if (!f.vars.contains(gv))
                unsupported(s"GRAPH ?$gv bound no triple pattern: the graph " +
                  "variable would stay unbound")
              joinInto(f, "inner")
            case L(_) => unsupported("GRAPH takes an IRI or variable, not a literal")
          }
          idx += 1
        case GBind(expr, name) =>
          val refs = bvars(expr)
          refs.intersect(leftVars).diff(acc.map(_.vars.toSet).getOrElse(Set.empty))
            .toSeq.sorted.foreach { v =>
              unsupported(s"BIND references ?$v bound only in the enclosing " +
                "group: substitute semantics are not compiled at this nesting")
            }
          acc match {
            case Some(a) =>
              if (a.vars.contains(name))
                unsupported(s"BIND(... AS ?$name): ?$name is already bound " +
                  "(the spec forbids re-binding with BIND)")
              a.numeric.intersect(refs).foreach { v =>
                unsupported(s"BIND over the aggregate-valued ?$v would coerce " +
                  "a number into the string-term model")
              }
              // the group's own scan proofs (provenCast) are attached to the
              // result AFTER the element loop, but an IF condition inside
              // this BIND needs them NOW — merge exactly what the deferred
              // filters will see, so FILTER(?x > ?y) and IF(?x > ?y, ..)
              // can never disagree on value- vs lexical-space
              val bindCast = a.castable ++
                provenCast.filter { case (v, _) => a.vars.contains(v) }
              val c = compileBind(expr,
                v => if (a.vars.contains(v)) Some(col(v)) else None,
                a.numeric, bindCast)
              // a reference to an unbound / optionally-bound var follows
              // SPARQL error semantics: the bound var is simply unbound —
              // EXCEPT where the expression is structurally never-null
              // (e.g. COALESCE with a constant fallback), which yields a
              // definitely-bound var usable as a later join key
              val mayNull = !neverNullBind(expr,
                v => a.vars.contains(v) && !a.maybeNull(v))
              acc = Some(Frag(a.df.withColumn(name, c), a.vars :+ name,
                if (mayNull) a.maybeNull + name else a.maybeNull, a.numeric,
                a.numSql, a.castable))
            case None =>
              if (refs.nonEmpty)
                unsupported("BIND referencing variables cannot start a group " +
                  "(nothing is bound yet)")
              val df = triples.sparkSession.range(1)
                .select(compileBind(expr, _ => None).as(name))
              acc = Some(Frag(df, Seq(name), Set.empty))
          }
          idx += 1
        case GService(iri, sg, silent) =>
          services.get(iri) match {
            case Some(frame) =>
              // the SERVICE pattern evaluates against the registered graph
              // as its OWN dataset: no outer GRAPH scoping, no enclosing
              // bindings (substitute semantics hit the usual guards), then
              // joins like a nested group — constant-only bodies (the
              // wikibase:label idiom) become existence gates
              val f = compileGroup(sg, frame, Set.empty, None, services)
              if (f.vars.isEmpty) gates ::= f.df else joinInto(f, "inner")
            case None if silent =>
              // spec: SERVICE SILENT failure yields the unit solution —
              // a join no-op, so the clause simply drops
              ()
            case None =>
              unsupported(s"SPARQL federation: SERVICE <$iri> has no " +
                "registered local graph — there is no remote endpoint in a " +
                "Spark-local engine. Materialize the remote graph (the " +
                "engine ingests N-Triples/RDF-XML dumps) and register it " +
                "for this IRI via the `services` argument, write SERVICE " +
                "SILENT to make the clause optional, or drop it")
          }
          idx += 1
        case GSub(sub) =>
          // under GRAPH ?var the sub-select evaluates PER GRAPH (the spec's
          // active-graph iteration): its patterns thread the graph var and
          // the projection/grouping carry it implicitly — see compileSelect
          joinInto(compileSelect(sub, triples, services, graphVar), "inner"); idx += 1
        case GUnion(branches) =>
          val frags = branches.map(compileGroup(_, triples, Set.empty, graphVar, services))
          // Join(A, Union(B1..Bn)) with branch-ASYMMETRIC variable sets:
          // a combined union column would carry NULLs into the join keys
          // (SQL null never matches; SPARQL unbound matches anything), so
          // distribute the join over the branches instead — SPARQL join
          // distributes over union EXACTLY, and each per-branch join stays
          // an equality hash join on the vars that branch really binds
          val distribute = acc match {
            case Some(a) if frags.length > 1 =>
              val sh = a.vars.filter(v => frags.exists(_.vars.contains(v)))
              sh.nonEmpty && !sh.forall(v => frags.forall(_.vars.contains(v)))
            case _ => false
          }
          if (distribute) acc = Some(joinUnionDistributed(acc.get, frags))
          else joinInto(unionFrags(frags), "inner")
          idx += 1
        case GValues(vvars, rows) =>
          joinInto(compileValues(vvars, rows, triples), "inner"); idx += 1
        case GExists(eg, pos) =>
          // group-scoped like plain filters: applied over the group's
          // solutions, as one LEFT SEMI / LEFT ANTI hash join
          deferredExists ::= (eg, pos); idx += 1
        case GMinus(mg) =>
          // MINUS removes solutions COMPATIBLE with the pattern on >=1
          // shared variable — one LEFT ANTI hash join. Unlike NOT EXISTS
          // there are NO substitute semantics (the pattern never sees this
          // group's bindings, so no leftVars and no phantom-variable
          // refusal is needed), and a pattern sharing NOTHING removes
          // NOTHING per the spec — compiled as the no-op it is, not as a
          // gate (the classic MINUS-vs-NOT-EXISTS divergence)
          val a = acc.getOrElse(
            unsupported("MINUS cannot be the first pattern of a group"))
          val c = compileGroup(mg, triples, Set.empty, graphVar, services)
          val shared = a.vars.filter(c.vars.contains)
          if (shared.nonEmpty) {
            (shared.filter(a.maybeNull) ++ shared.filter(c.maybeNull)).foreach { v =>
              unsupported(s"?$v is only optionally bound and used as a MINUS " +
                "key: SPARQL unbound-compatibility differs from SQL " +
                "null-join semantics")
            }
            checkNumericAligned(a, c, shared)
            acc = Some(a.copy(df = a.df.join(
              c.df.select(shared.map(col): _*), shared, "left_anti")))
          }
          idx += 1
        case GFilter(e) =>
          // group-scoped: applies to the whole group's solutions
          deferredFilters ::= e; idx += 1
      }
    }

    var result = acc.getOrElse {
      if (gates.isEmpty) unsupported("empty group pattern")
      // gates only (e.g. ASK { <s> <p> <o> }): the first gate seeds a
      // 0-or-1-row frame; the rest conjoin through the normal gate joins
      val seed = gates.head
      gates = gates.tail
      Frag(seed.limit(1).select(lit(1).as("__gate0")), Seq.empty, Set.empty)
    }
    // attach this group's numeric-type proofs before the deferred filters
    // run (a residual numeric comparison may lean on them)
    result = result.copy(castable =
      result.castable ++ provenCast.filter { case (v, _) => result.vars.contains(v) })
    // apply existence gates: 0-or-1-row EQUALITY join on a key each side
    // derives from its own data. The key is '' for every row, but via an
    // expression no optimizer rule can prove constant (a lit key would be
    // constant-folded to `true` and the join demoted to a
    // BroadcastNestedLoopJoin; arithmetic like nonNullable*0 gets
    // simplified the same way). This stays a broadcast HASH join, keeping
    // the engine-wide no-nested-loop invariant intact. When the gate's
    // source folds to a literal LocalRelation anyway (an all-constant
    // ontology slice), Catalyst may still demote — that case is a
    // compile-time-known 1-row build side, i.e. free at any scale.
    def zeroKey(df: DataFrame): Column =
      coalesce(substring(col(df.columns.head).cast("string"), 1, 0), lit(""))
    // shared by the constant-pattern gates ("inner") and the var-free
    // EXISTS / NOT EXISTS forms ("left_semi" / "left_anti")
    def gateJoin(gdf: DataFrame, joinType: String): Unit = {
      gateId += 1
      val k = s"__gate$gateId"
      val gate = broadcast(gdf.limit(1).select(zeroKey(gdf).as(k)))
      val left = result.df.withColumn(k, zeroKey(result.df))
      result = result.copy(df = left.join(gate, Seq(k), joinType).drop(k))
    }
    gates.foreach(gateJoin(_, "inner"))
    deferredFilters.reverse.foreach { e =>
      val outerRefs = (fvars(e) -- result.vars.toSet).intersect(leftVars)
      if (outerRefs.nonEmpty)
        unsupported(s"FILTER references " +
          outerRefs.toSeq.sorted.map("?" + _).mkString(", ") +
          " bound only in the enclosing group: substitute semantics are " +
          "not compiled at this nesting — move the filter up a level " +
          "(scaladoc: compileGroup/compileOptional)")
      result = result.copy(df = result.df.filter(compileFilter(e, result)))
    }
    // FILTER [NOT] EXISTS { P }: per-solution existence over the shared
    // variables = ONE left semi / left anti hash join against P — the plan
    // the reference's OPTIONAL+!BOUND idiom only reaches via the optimizer.
    // P sharing NO variable is a global gate (query-constant truth value):
    // the zero-key equality against P's limit(1) keeps it a hash join.
    // SPARQL's substitute semantics (P evaluated with the CURRENT solution's
    // bindings) reach only this group's own vars here; a P that touches an
    // ENCLOSING group's binding — through a filter (the compileGroup
    // leftVars guard) or through a pattern variable (the phantom check
    // below: such a var would silently rebind as free) — is REFUSED.
    deferredExists.reverse.foreach { case (eg, pos) =>
      val c = compileGroup(eg, triples, result.vars.toSet ++ leftVars, graphVar, services)
      val phantom = (c.vars.toSet -- result.vars.toSet).intersect(leftVars)
      if (phantom.nonEmpty)
        unsupported(s"[NOT] EXISTS pattern references " +
          phantom.toSeq.sorted.map("?" + _).mkString(", ") +
          " bound only in the enclosing group: substitute semantics are " +
          "not compiled at this nesting — move the EXISTS up a level")
      val shared = result.vars.filter(c.vars.contains)
      (shared.filter(result.maybeNull) ++ shared.filter(c.maybeNull)).foreach { v =>
        unsupported(s"?$v is only optionally bound and used as an EXISTS " +
          "join key: SPARQL unbound-compatibility differs from SQL " +
          "null-join semantics")
      }
      if (shared.nonEmpty) {
        checkNumericAligned(result, c, shared)
        val probe = c.df.select(shared.map(col): _*)
        result = result.copy(df = result.df.join(probe, shared,
          if (pos) "left_semi" else "left_anti"))
      } else {
        gateJoin(c.df, if (pos) "left_semi" else "left_anti")
      }
    }
    result
  }

  private def fvars(e: FExpr): Set[String] = e match {
    case FIn(t, vals) => tvars(t) ++ vals.flatMap(tvars)
    case FCmp(_, l, r) => tvars(l) ++ tvars(r)
    case FBound(v) => Set(v.name)
    case FRegex(t, _) => tvars(t)
    case FStrFn(_, t, _) => tvars(t)
    case FStrLenCmp(v, _, _) => Set(v)
    case FDtCmp(v, _, _) => Set(v)
    case FNumCmp(v, _, _) => Set(v)
    case FLangCmp(v, _, _) => Set(v)
    case FLangMatches(v, _) => Set(v)
    case FTermKind(v, _, _) => Set(v)
    case FIsNumeric(v, _) => Set(v)
    case FAnd(a, b) => fvars(a) ++ fvars(b)
    case FOr(a, b) => fvars(a) ++ fvars(b)
    case FNot(a) => fvars(a)
  }

  /** flatten a FILTER expression's top-level conjunction */
  private def conjuncts(e: FExpr): Seq[FExpr] = e match {
    case FAnd(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** scan-column conditions: lang()/langMatches() read the frame's `ol`
    * column, datatype() its `dt` column — both push into the one pattern
    * binding their variable in object position. A numeric comparison is a
    * scan condition only when its variable is solely-object-bound in the
    * given elements (otherwise it compiles as a plain filter, valid over
    * numeric aggregate columns / proven-castable vars, refused elsewhere). */
  private def scanCondIn(elems: Seq[GElem])(e: FExpr): Boolean = e match {
    case _: FLangCmp | _: FLangMatches | _: FDtCmp | _: FTermKind |
         _: FIsNumeric => true
    case FNumCmp(v, _, _) =>
      elems.count {
        case GTriple(TP(_, _, V(n))) => n == v
        case _ => false
      } == 1 && bindingOccurrences(elems).count(_ == v) == 1
    case _ => false
  }

  /** the frame column a scan condition needs */
  private def scanCondColumn(e: FExpr): String = e match {
    case _: FDtCmp | _: FNumCmp | _: FIsNumeric => "dt"
    case _: FTermKind => "tk"
    case _ => "ol"
  }

  /** what the missing-column refusal names per scan column */
  private val scanCondWhat: Map[String, String] = Map(
    "dt" -> "datatype()/numeric comparisons need",
    "ol" -> "lang()/langMatches() needs",
    "tk" -> "isIRI()/isLiteral()/isBlank() needs")

  /** The `ol`-column condition for one lang conjunct. A null `ol` means
    * untagged (lang ""), same as ''. The null handling is spelled as
    * isNull/isNotNull DISJUNCTS of bare-column predicates instead of a
    * coalesce() wrapper, because only attribute-vs-literal shapes convert
    * to data-source filters — lang(?x) = "fr" must land in the parquet
    * scan's PushedFilters (plan-locked), not evaluate as a post-scan
    * residual. langMatches' case-insensitive compare is inherently
    * non-convertible and stays a residual.
    *
    * DOCUMENTED DIVERGENCE (negative comparisons over non-literals, on
    * frames WITHOUT a `tk` term-kind column — with one, the literalOnly
    * conjunct below restores exact spec semantics): absent tk, an
    * IRI-valued object has ol/dt null — indistinguishable from an untagged
    * plain literal. Per
    * SPARQL, `datatype()`/`lang()` over an IRI is a type error that
    * REMOVES the row; here `FDtCmp(false, iri)` (dt null or ≠ iri) and
    * `lang(?o) = ""`/`lang(?o) != tag` RETAIN such rows, treating every
    * non-typed binding as an untagged plain literal. On frames produced by
    * this engine's own extraction (object literals stamped, resources not)
    * the retained rows are exactly the resource-valued bindings — callers
    * mixing literal and resource objects under a NEGATIVE lang()/datatype()
    * comparison get the union, not the literal-only slice. Positive
    * comparisons (dt === iri, ol === tag) are unaffected (null never
    * matches). */
  private def langCondCol(e: FExpr, hasTk: Boolean): Column = {
    val ol = col("ol")
    // The divergence above CLOSES when the frame carries a `tk` term-kind
    // column: lang()/datatype() over a non-literal is the spec's type error
    // (row removed), expressed by conjoining tk = 'l' on exactly the shapes
    // whose ol/dt condition would otherwise accept a null-stamp row — the
    // negative compares and lang(?v) = "". Positive compares need nothing
    // (a nonempty stamp implies a literal). An AND of attribute-literal
    // predicates stays data-source-convertible, so the pushdown plan lock
    // holds.
    def literalOnly(c: Column): Column =
      if (hasTk) col("tk") === "l" && c else c
    e match {
      case FLangCmp(_, true, "") => literalOnly(ol.isNull || ol === "")
      case FLangCmp(_, true, value) => ol === value
      case FLangCmp(_, false, "") => ol.isNotNull && ol =!= ""
      case FLangCmp(_, false, value) => literalOnly(ol.isNull || ol =!= value)
      case FLangMatches(_, "*") => ol.isNotNull && ol =!= ""
      // RFC 4647 basic filtering: case-insensitive exact, or "range-" prefix
      case FLangMatches(_, range) =>
        val lt = lower(coalesce(ol, lit("")))
        val lr = range.toLowerCase
        lt === lr || lt.startsWith(lr + "-")
      // datatype(): same pushable null-handling shapes over `dt`
      case FDtCmp(_, true, iri) => col("dt") === iri
      case FDtCmp(_, false, iri) =>
        literalOnly(col("dt").isNull || col("dt") =!= iri)
      // term-kind checks are total (no type error, no null slot by the tk
      // contract): the negation is a plain inequality retaining the other
      // two kinds — both polarities convert to data-source filters
      case FTermKind(_, k, true) => col("tk") === k.toString
      case FTermKind(_, k, false) => col("tk") =!= k.toString
      // isNumeric is total and tk-free: a numeric XSD dt is true, anything
      // else (null dt = plain literal / IRI / blank) is false — so the
      // negation needs the explicit null disjunct, spec-exact either way
      case FIsNumeric(_, true) => col("dt").isin(numericDts.toSeq: _*)
      case FIsNumeric(_, false) =>
        col("dt").isNull || !col("dt").isin(numericDts.toSeq: _*)
      // numeric ordering: value-space comparison over the numeric-typed
      // slice. dt ∈ numericDts is the spec's type-error-removes-row for
      // non-numeric bindings (plain literals, IRIs, strings); the dt
      // membership converts to a data-source IN filter at the scan. The
      // cast comparison rides as a residual; an invalid lexical form under
      // a numeric dt casts to null => row removed, again per spec.
      case FNumCmp(_, op, lex) =>
        val isNum = col("dt").isin(numericDts.toSeq: _*)
        // try_cast: an invalid lexical form under a numeric dt is null
        // (row removed per spec) instead of an ANSI cast error
        val v = col("o").try_cast("double")
        val r = lit(lex.toDouble)
        isNum && (op match {
          case "<" => v < r
          case "<=" => v <= r
          case ">" => v > r
          case ">=" => v >= r
          case other => unsupported(s"unexpected numeric comparison op $other")
        })
      case other => unsupported(s"not a scan-column condition: $other")
    }
  }

  private def tvars(t: Term): Set[String] = t match {
    case V(n) => Set(n)
    case _ => Set.empty
  }

  private def bvars(e: BExpr): Set[String] = e match {
    case BVar(n) => Set(n)
    case BConst(_) => Set.empty
    case BConcat(parts) => parts.flatMap(bvars).toSet
    case BCase(_, inner) => bvars(inner)
    case BSubstr(inner, _, _) => bvars(inner)
    case BReplace(inner, _, _) => bvars(inner)
    case BStrSide(_, inner, _) => bvars(inner)
    case BIf(cond, t, f) => fvars(cond) ++ bvars(t) ++ bvars(f)
    case BCoalesce(parts) => parts.flatMap(bvars).toSet
    case BHash(_, inner) => bvars(inner)
  }

  /** Structurally never-null BIND expressions: a COALESCE with such a part
    * (or a constant chain) yields a definitely-bound variable, usable as a
    * later join key where a maybeNull var is refused. `boundNonNull` answers
    * for variables in the enclosing fragment. BIf is never in this set: a
    * NULL condition (SPARQL error) leaves the target unbound. */
  private def neverNullBind(e: BExpr, boundNonNull: String => Boolean): Boolean =
    e match {
      case BConst(_) => true
      case BVar(n) => boundNonNull(n)
      case BConcat(parts) => parts.forall(neverNullBind(_, boundNonNull))
      case BCase(_, inner) => neverNullBind(inner, boundNonNull)
      case BSubstr(inner, _, _) => neverNullBind(inner, boundNonNull)
      case BReplace(inner, _, _) => neverNullBind(inner, boundNonNull)
      case BStrSide(_, inner, _) => neverNullBind(inner, boundNonNull)
      case BCoalesce(parts) => parts.exists(neverNullBind(_, boundNonNull))
      case BHash(_, inner) => neverNullBind(inner, boundNonNull)
      case _: BIf => false
    }

  /** String-vs-aggregate join keys would silently coerce (Spark widens a
    * BIGINT=STRING equality to DOUBLE); both-numeric keys are fine. */
  private def checkNumericAligned(a: Frag, b: Frag, shared: Seq[String]): Unit =
    shared.foreach { v =>
      if (a.numeric(v) != b.numeric(v))
        unsupported(s"?$v is aggregate-valued on one side of a join and a " +
          "string term on the other: the comparison would silently coerce")
    }

  /** BIND expression -> Column; an unresolved variable is SPARQL's
    * evaluation error, which leaves the bound variable unbound (NULL —
    * concat propagates it, matching error propagation). */
  private def compileBind(e: BExpr, resolve: String => Option[Column],
      numeric: Set[String] = Set.empty,
      castable: Map[String, String] = Map.empty): Column = e match {
    case BVar(n) => resolve(n).getOrElse(lit(null).cast("string"))
    case BConst(v) => lit(v)
    case BConcat(parts) => concat(parts.map(compileBind(_, resolve, numeric, castable)): _*)
    case BCase(up, inner) =>
      val c = compileBind(inner, resolve, numeric, castable)
      if (up) upper(c) else lower(c)
    case BSubstr(inner, start, len) =>
      // 1-based code-point slice; start past the end yields "" on both
      // engines, and a NULL input (an errored sub-expression) propagates
      val c = compileBind(inner, resolve, numeric, castable)
      c.substr(lit(start.toInt), len.map(l => lit(l.toInt)).getOrElse(length(c)))
    case BReplace(inner, pat, rep) =>
      // global replace (XPath fn:replace), Java regex on both engines
      regexp_replace(compileBind(inner, resolve, numeric, castable), pat, rep)
    case BStrSide(before, inner, sep) =>
      val c = compileBind(inner, resolve, numeric, castable)
      val pos = locate(sep, c) // 1-based code points; 0 = absent; ""@1
      val hit =
        if (before) c.substr(lit(1), pos - 1)
        else c.substr(pos + sep.codePointCount(0, sep.length), length(c))
      // no-occurrence => "" (SPARQL 17.4.3.4/5), but a NULL input stays
      // NULL — when()'s null-condition fallthrough would otherwise turn an
      // ERROR into ""
      when(c.isNull, lit(null).cast("string"))
        .when(pos > 0, hit).otherwise(lit(""))
    case BIf(cond, t, f) =>
      val c = compileFilter(cond, resolve, numeric, castable)
      // no .otherwise: a NULL condition is SPARQL's error -> the IF errors
      // -> the BIND target stays unbound (when() yields NULL)
      when(c, compileBind(t, resolve, numeric, castable))
        .when(!c, compileBind(f, resolve, numeric, castable))
    case BCoalesce(parts) =>
      coalesce(parts.map(compileBind(_, resolve, numeric, castable)): _*)
    case BHash(bits, inner) =>
      // lowercase-hex UTF-8 digest on both engines; NULL input (errored
      // sub-expression) propagates
      val c = compileBind(inner, resolve, numeric, castable)
      if (bits == 128) md5(c) else sha2(c, bits)
  }

  /** VALUES compiles to a broadcast inline relation joined on its shared
    * variables — the scalable form of the reference's FILTER(?s IN ...)
    * changed-set idiom: a 10k-row VALUES block stays a broadcast hash join
    * where the OR-chain would bloat the predicate tree. A variable that is
    * UNDEF in any row is maybeNull: SQL null join keys never match while
    * SPARQL UNDEF is compatible-with-anything, so using one as a later join
    * key is refused by the shared guard rather than silently diverging. */
  private def compileValues(vars: Seq[String], rows: Seq[Seq[Option[Term]]],
                            triples: DataFrame): Frag = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(vars.map(v =>
      org.apache.spark.sql.types.StructField(v,
        org.apache.spark.sql.types.StringType, nullable = true)))
    val data: Seq[org.apache.spark.sql.Row] = rows.map { r =>
      org.apache.spark.sql.Row(r.map(_.map {
        case I(u) => u
        case L(v) => v
        case V(n) => unsupported(s"?$n inside a VALUES row") // parser refuses first
      }.orNull): _*)
    }
    val df = broadcast(triples.sparkSession.createDataFrame(data.asJava, schema))
    val undefVars = vars.zipWithIndex.collect {
      case (v, i) if rows.exists(_(i).isEmpty) => v
    }.toSet
    Frag(df, vars, undefVars)
  }

  /** Join(A, Union(B1..Bn)) = Union(Join(A,B1), ..., Join(A,Bn)) — SPARQL
    * join distributes over union, and the distributed form is the only
    * SQL-exact compilation when the branches bind DIFFERENT variable sets
    * (the reference's own SparqlSelectTest.java:19 query is this shape:
    * an outer triple joined to a UNION whose branches bind ?symptom vs
    * ?disease). Each per-branch join is an equality hash join on the vars
    * that branch REALLY binds; missing output vars null-fill per branch
    * AFTER its join, so no null ever serves as a key. n bounded branches =
    * n hash joins — same shuffle keys a hand-written UNION ALL of joins
    * would use. */
  private def joinUnionDistributed(a: Frag, frags: Seq[Frag]): Frag = {
    val branchVars = frags.flatMap(_.vars).distinct
    val outVars = a.vars ++ branchVars.filterNot(a.vars.contains)
    val numeric = outVars.filter { v =>
      val st = (frags.filter(_.vars.contains(v)).map(_.numeric(v)) ++
        (if (a.vars.contains(v)) Seq(a.numeric(v)) else Nil)).distinct
      if (st.length > 1)
        unsupported(s"?$v is aggregate-valued on one side of the union join " +
          "and a string term on another: the union would silently coerce")
      st.headOption.contains(true)
    }.toSet
    def unified(ts: Seq[String]): String =
      if (ts.distinct == Seq("bigint")) "bigint" else "double"
    val numSql: Map[String, String] = numeric.map { v =>
      v -> unified(frags.filter(_.vars.contains(v)).map(_.numSql.getOrElse(v, "bigint")) ++
        (if (a.vars.contains(v)) Seq(a.numSql.getOrElse(v, "bigint")) else Nil))
    }.toMap
    val castable: Map[String, String] = outVars.flatMap { v =>
      val sides = frags.filter(_.vars.contains(v)) ++
        (if (a.vars.contains(v)) Seq(a) else Nil)
      val proofs = sides.map(_.castable.get(v))
      if (sides.nonEmpty && proofs.forall(_.isDefined))
        Some(v -> unified(proofs.flatten))
      else None
    }.toMap
    val joined = frags.map { f =>
      val shared = a.vars.filter(f.vars.contains)
      if (shared.isEmpty)
        unsupported(s"UNION branch {${f.vars.mkString(",")}} shares no " +
          s"variable with the bound set {${a.vars.mkString(",")}}: refusing " +
          "the cross product")
      (shared.filter(a.maybeNull) ++ shared.filter(f.maybeNull)).foreach { v =>
        unsupported(s"?$v is only optionally bound and used as a join key: " +
          "SPARQL unbound-compatibility differs from SQL null-join semantics")
      }
      checkNumericAligned(a, f, shared)
      val present = (a.vars ++ f.vars).toSet
      a.df.join(f.df, shared, "inner").select(outVars.map(v =>
        if (present(v)) col(v)
        else lit(null).cast(numSql.getOrElse(v, "string")).as(v)): _*)
    }
    val maybeNull: Set[String] =
      a.maybeNull ++ frags.flatMap(_.maybeNull) ++
        outVars.filter(v => !a.vars.contains(v) && !frags.forall(_.vars.contains(v)))
    Frag(joined.reduce(_ unionAll _), outVars, maybeNull, numeric, numSql, castable)
  }

  /** Syntactic BINDING occurrences of variables in a group's elements —
    * every position that can bind (pattern positions, path endpoints, BIND
    * targets, VALUES vars, sub-select projections), recursively; filter
    * references and EXISTS/MINUS probes do not bind. Used by the lang()
    * pushdown to prove its variable has exactly one binding site. */
  private def bindingOccurrences(elems: Seq[GElem]): Seq[String] = elems.flatMap {
    case GTriple(TP(s, p, o)) => Seq(s, p, o).collect { case V(n) => n }
    case GPath(s, _, o) => Seq(s, o).collect { case V(n) => n }
    case GBind(_, name) => Seq(name)
    case GValues(vars, _) => vars
    case GSub(sub) =>
      if (sub.projs.nonEmpty) sub.projs.map(_.name)
      else bindingOccurrences(sub.where.elems)
    case GUnion(branches) => branches.flatMap(b => bindingOccurrences(b.elems))
    case GOptional(og) => bindingOccurrences(og.elems)
    case GGraph(gt, gg) =>
      (gt match { case V(n) => Seq(n); case _ => Seq.empty }) ++
        bindingOccurrences(gg.elems)
    case GService(_, sg, _) => bindingOccurrences(sg.elems)
    case _: GFilter | _: GExists | _: GMinus => Seq.empty
  }

  private def unionFrags(frags: Seq[Frag]): Frag = {
    if (frags.length == 1) return frags.head // plain nested group
    val allVars = frags.flatMap(_.vars).distinct
    // a var aggregate-valued in one branch and a string term in another
    // would silently widen under union type coercion — refuse the mix
    val numeric = allVars.filter { v =>
      val statuses = frags.filter(_.vars.contains(v)).map(_.numeric(v)).distinct
      if (statuses.length > 1)
        unsupported(s"?$v is aggregate-valued in one UNION branch and a " +
          "string term in another: the union would silently coerce")
      statuses.headOption.contains(true)
    }.toSet
    // bigint-in-one-branch, double-in-another widens to double (Spark's
    // set-operation widening); track the widened type for null-fill casts
    def unified(ts: Seq[String]): String =
      if (ts.distinct == Seq("bigint")) "bigint" else "double"
    val numSql: Map[String, String] = numeric.map { v =>
      v -> unified(frags.filter(_.vars.contains(v))
        .map(_.numSql.getOrElse(v, "bigint")))
    }.toMap
    // a var keeps its numeric-type proof only if EVERY branch binding it
    // proves one (else some rows are unproven lexical forms)
    val castable: Map[String, String] = allVars.flatMap { v =>
      val binds = frags.filter(_.vars.contains(v))
      val proofs = binds.map(_.castable.get(v))
      if (binds.nonEmpty && proofs.forall(_.isDefined))
        Some(v -> unified(proofs.flatten))
      else None
    }.toMap
    val aligned = frags.map { f =>
      val cols = allVars.map(v =>
        if (f.vars.contains(v)) col(v)
        else lit(null).cast(numSql.getOrElse(v, "string")).as(v))
      f.df.select(cols: _*)
    }
    val everywhere = allVars.filter(v => frags.forall(_.vars.contains(v))).toSet
    val maybeNull = allVars.filterNot(everywhere).toSet ++ frags.flatMap(_.maybeNull)
    Frag(aligned.reduce(_ unionAll _), allVars, maybeNull, numeric, numSql, castable)
  }

  // ---- triple patterns ---------------------------------------------------------

  private def compilePattern(tp: TP, triples: DataFrame,
      langConds: Map[String, Column] = Map.empty,
      graphVar: Option[String] = None): Frag = {
    var df = triples
    // a lang condition on the object var filters on the frame's `ol`
    // column HERE — before projection drops it (so it prunes at the scan,
    // right next to the constant-position PushedFilters)
    tp.o match {
      case V(n) => langConds.get(n).foreach(c => df = df.filter(c))
      case _ => ()
    }
    // inside GRAPH ?g, every pattern additionally binds ?g from the quad
    // frame's `g` column — the dup-var machinery of [[bindTerms]] also covers
    // GRAPH ?g { ?g <p> ?o } (graph node described inside its own graph).
    // SPARQL restricts GRAPH ?g to NAMED graphs: the quad-frame convention
    // is g='' (or null) for the default graph, so those rows are excluded
    // here — otherwise ?g would surface bound to the non-IRI ''. (Patterns
    // OUTSIDE any GRAPH block keep the engine's documented union-default-
    // graph dataset: they match rows of every graph — see GGraph's
    // scaladoc in SparqlAst.)
    if (graphVar.isDefined) df = named(df)
    bindTerms(df, Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o), graphVar)
  }

  /** GRAPH ?var ranges over NAMED graphs only: the quad-frame convention
    * is g='' (or null) for the default graph. */
  private def named(quads: DataFrame): DataFrame =
    quads.filter(col("g").isNotNull && col("g") =!= "")

  /** applies the terms at `pos` (column -> term) to `df`: constants
    * filter, variables project, inside GRAPH ?gv the graph variable binds
    * from `g`. The same variable twice (?s ?p ?s) adds the in-pattern
    * equality. With no variable at all (the reference's "redundant
    * clause") the filtered frame is kept as is — the gate key derives
    * from its columns. */
  private def bindTerms(df0: DataFrame, pos: Seq[(String, Term)],
      graphVar: Option[String]): Frag = {
    var df = df0
    pos.foreach {
      case (c, I(u)) => df = df.filter(col(c) === u)
      case (c, L(v)) => df = df.filter(col(c) === v)
      case _ => ()
    }
    val varPos = pos.collect { case (c, V(n)) => (c, n) } ++ graphVar.map(gv => ("g", gv))
    varPos.groupBy(_._2).valuesIterator.filter(_.size > 1).foreach { dup =>
      dup.map(_._1).sliding(2).foreach {
        case Seq(a, b) => df = df.filter(col(a) === col(b))
        case _ => ()
      }
    }
    val keep = varPos.distinctBy(_._2)
    if (keep.isEmpty) Frag(df, Seq.empty, Set.empty)
    else Frag(df.select(keep.map { case (c, n) => col(c).as(n) }: _*), keep.map(_._2), Set.empty)
  }

  // ---- property paths --------------------------------------------------------

  /** Pairs (pa, pb, keys...) related by the path over `frame`. `keys` are
    * the scope's key columns: none for the default graph, `g` inside
    * GRAPH ?g (where `frame` holds only named-graph rows). Every step stays
    * an EQUALITY hash join over a predicate-FILTERED slice of the frame
    * (the constant predicate lands in PushedFilters at the scan), and every
    * join also matches the keys, so a path never crosses graphs — the
    * spec's active-graph evaluation:
    *  - sequence = one hash join per step, alternation = union (both keep
    *    the spec's BAG semantics — each derivation is one solution);
    *  - inverse swaps the endpoints (free);
    *  - '+' is the transitive closure of the step's OWN edge slice, run to
    *    the fixpoint the spec requires ([[graft.operators.TransitiveClosure]]:
    *    iterative doubling, O(log depth) self-join rounds, one bounded
    *    observed count per round as the fixpoint test);
    *  - '*' and '?' add the spec's zero-length solutions, restricted to
    *    terms OCCURRING in the scope (subjects ∪ objects): identical to
    *    the spec whenever a constant endpoint occurs there, and a set—the
    *    closure forms are solution SETS per ArbitraryLengthPath /
    *    ZeroOrOnePath. A TOP-LEVEL '*'/'?' with a constant endpoint
    *    ABSENT from the scope gets its zero-length solution completed in
    *    [[compilePathElem]]; only nested closures keep the restriction.
    * Compiling '+' / '*' runs the fixpoint loop at COMPILE time (bounded
    * driver-side counts, never row collection). */
  private def pathPairs(path: Path, frame: DataFrame, keys: Seq[String]): DataFrame = {
    def ends(a: String, b: String): Seq[Column] =
      Seq(col(a).as("pa"), col(b).as("pb")) ++ keys.map(col)
    path match {
      case PLink(iri) => frame.filter(col("p") === iri).select(ends("s", "o"): _*)
      case PNeg(iris) => frame.filter(!col("p").isin(iris: _*)).select(ends("s", "o"): _*)
      case PInv(p0) => pathPairs(p0, frame, keys).select(ends("pb", "pa"): _*)
      case PSeq(a, b) =>
        val l = pathPairs(a, frame, keys).withColumnRenamed("pb", "__pm")
        val r = pathPairs(b, frame, keys)
          .withColumnRenamed("pa", "__pm").withColumnRenamed("pb", "__pn")
        l.join(r, "__pm" +: keys).select(ends("pa", "__pn"): _*)
      case PAlt(a, b) =>
        pathPairs(a, frame, keys).unionAll(pathPairs(b, frame, keys))
      case PPlus(p0) => TransitiveClosure(pathPairs(p0, frame, keys))
      case PStar(p0) =>
        TransitiveClosure(pathPairs(p0, frame, keys))
          .unionAll(zeroPairs(frame, keys)).distinct()
      case POpt(p0) =>
        pathPairs(p0, frame, keys).unionAll(zeroPairs(frame, keys)).distinct()
    }
  }

  /** zero-length path solutions: every term occurring in the scope,
    * related to itself. NOT deduplicated here — both call sites ('*' and
    * '?') union this with the closure and take ONE distinct over the
    * result, so an inner distinct would just add a shuffle. */
  private def zeroPairs(frame: DataFrame, keys: Seq[String]): DataFrame =
    frame.select(col("s").as("pa") +: keys.map(col): _*)
      .unionAll(frame.select(col("o").as("pa") +: keys.map(col): _*))
      .select(col("pa") +: col("pa").as("pb") +: keys.map(col): _*)

  /** endpoint application for a path pattern — same contract as
    * [[compilePattern]]: constants filter, variables project (a repeated
    * variable adds the in-pattern equality), constant-only paths gate.
    * Inside GRAPH ?gv the graph variable always binds from g (so even a
    * constant-constant path binds ?gv to the graphs where it holds).
    *
    * Zero-length completeness: [[zeroPairs]] restricts the '*'/'?'
    * zero-length solutions to terms OCCURRING in the scope, which loses
    * the spec's solution for a constant endpoint absent from it
    * (`<urn:unknown> <p>* ?x` must yield ?x=<urn:unknown>). When the
    * path's TOP level is '*' or '?', each constant endpoint therefore
    * unions its own (term, term) pair in before the endpoint filters
    * apply — once for the default graph (a compile-time-known literal
    * frame, free at any scale), once per named graph inside GRAPH ?gv.
    * (Nested closures, e.g. `(p*)/q`, keep the documented occurring-terms
    * restriction.) */
  private def compilePathElem(s: Term, path: Path, o: Term, triples: DataFrame,
      graphVar: Option[String]): Frag = {
    val keys = graphVar.map(_ => "g").toSeq
    val frame = if (graphVar.isDefined) named(triples) else triples
    var df = pathPairs(path, frame, keys)
    val topZeroish = path match { case _: PStar | _: POpt => true; case _ => false }
    val consts = Seq(s, o).collect { case I(u) => u case L(v) => v }.distinct
    if (topZeroish && consts.nonEmpty) {
      val scopes =
        if (keys.isEmpty) triples.sparkSession.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row.empty),
          org.apache.spark.sql.types.StructType(Nil))
        else frame.select(keys.map(col): _*).distinct()
      val extra = consts.map(t =>
        scopes.select(lit(t).as("pa") +: lit(t).as("pb") +: keys.map(col): _*))
      df = df.unionAll(extra.reduce(_ unionAll _)).distinct() // solution SETS
    }
    bindTerms(df, Seq("pa" -> s, "pb" -> o), graphVar)
  }

  // ---- filters -------------------------------------------------------------------

  private def compileFilter(e: FExpr, frag: Frag): Column =
    compileFilter(e,
      (n: String) => if (frag.vars.contains(n)) Some(col(n)) else None,
      frag.numeric, frag.castable)

  /** `resolve`: variable -> in-scope column; None means the variable is
    * bound nowhere — SPARQL evaluates it to an error, and a filter whose
    * expression errors removes the row, so it compiles to a null literal
    * (three-valued logic then filters the row, or voids the join
    * condition, exactly as required). `numeric`/`castable` carry the
    * fragment's numeric knowledge for residual FNumCmp compilation. */
  private def compileFilter(e: FExpr, resolve: String => Option[Column],
      numeric: Set[String] = Set.empty,
      castable: Map[String, String] = Map.empty): Column = {
    def term(t: Term): Column = t match {
      case V(n) => resolve(n).getOrElse(lit(null).cast("string"))
      case I(u) => lit(u)
      case L(v) => lit(v)
    }
    e match {
      case FIn(t, vals) =>
        val c = term(t)
        vals.map(v => c === term(v)).reduce(_ || _)
      case FCmp(op, l, r) =>
        val (a, b) = (term(l), term(r))
        // Ordering semantics: equality stays the documented lexical
        // term-model compare, but `<`/`>` over terms with a NUMERIC proof
        // (an aggregate output, or a var proven numeric-typed at its
        // binding scan via datatype()/a numeric-literal comparison)
        // upgrades to a value-space comparison — "10" > "9" numerically,
        // not lexicographically — mirroring applyOrderLimit's castable
        // sort-key upgrade. A PROVABLY MIXED ordering (one side proven
        // numeric, the other a string term) is refused: SPARQL makes it a
        // type error, and the lexical compare would silently diverge.
        // Neither-side-proven keeps the documented lexicographic term
        // model (codepoint-correct for plain literals; exact for the
        // reference's fixed-layout dateTime watermarks).
        def numProof(t: Term): Option[Column] = t match {
          case V(n) if numeric(n) => resolve(n)
          case V(n) if castable.contains(n) =>
            resolve(n).map(_.try_cast(castable(n)))
          case _ => None
        }
        val ordering = op != "=" && op != "!="
        val (av, bv) =
          if (!ordering) (a, b)
          else (numProof(l), numProof(r)) match {
            case (Some(x), Some(y)) => (x, y)
            case (None, None) => (a, b)
            case (one, _) =>
              def showT(t: Term): String = t match {
                case V(n) => s"?$n"
                case I(u) => s"<$u>"
                case L(v) => "\"" + v + "\""
              }
              val (provenT, otherT) = if (one.isDefined) (l, r) else (r, l)
              unsupported(s"FILTER(${showT(l)} $op ${showT(r)}): " +
                s"${showT(provenT)} is proven numeric but ${showT(otherT)} " +
                "is a string term — SPARQL makes a number-vs-string ordering " +
                "a type error, and the lexical compare would silently " +
                "diverge; prove both sides numeric (datatype(?v) = <numeric " +
                "xsd type> at the binding pattern) or neither")
          }
        op match {
          case "=" => av === bv
          case "!=" => av =!= bv
          case "<" => av < bv
          case "<=" => av <= bv
          case ">" => av > bv
          case ">=" => av >= bv
        }
      case FBound(V(n)) => resolve(n).map(_.isNotNull).getOrElse(lit(false))
      case FRegex(t, pat) => term(t).rlike(pat)
      case FStrFn("STRSTARTS", t, arg) => term(t).startsWith(arg)
      case FStrFn("STRENDS", t, arg) => term(t).endsWith(arg)
      case FStrFn("CONTAINS", t, arg) => term(t).contains(arg)
      case FStrFn(fn, _, _) => unsupported(s"unknown string builtin $fn")
      case FStrLenCmp(v, op, n) =>
        val l = length(resolve(v).getOrElse(lit(null).cast("string")))
        val r = lit(n)
        op match {
          case "=" => l === r
          case "!=" => l =!= r
          case "<" => l < r
          case "<=" => l <= r
          case ">" => l > r
          case ">=" => l >= r
        }
      case FLangCmp(v, _, _) =>
        unsupported(s"lang(?$v) is only supported as a top-level FILTER " +
          "conjunct over a variable bound in exactly one object position of " +
          "the same group (the tag lives in the frame's `ol` column, not in " +
          "the string term, so it cannot ride into ||/! expressions or " +
          "lifted join conditions)")
      case FLangMatches(v, _) =>
        unsupported(s"langMatches(lang(?$v), ...) is only supported as a " +
          "top-level FILTER conjunct over a variable bound in exactly one " +
          "object position of the same group")
      case FDtCmp(v, _, _) =>
        unsupported(s"datatype(?$v) is only supported as a top-level FILTER " +
          "conjunct over a variable bound in exactly one object position of " +
          "the same group (the datatype lives in the frame's `dt` column)")
      case FIsNumeric(v, _) =>
        unsupported(s"isNumeric(?$v) is only supported as a top-level FILTER " +
          "conjunct over a variable bound in exactly one object position of " +
          "the same group (the datatype lives in the frame's `dt` column)")
      case FTermKind(v, _, _) =>
        unsupported(s"isIRI/isLiteral/isBlank(?$v) is only supported as a " +
          "top-level FILTER conjunct (possibly !-negated) over a variable " +
          "bound in exactly one object position of the same group (the " +
          "term kind lives in the frame's `tk` column, not in the string " +
          "term, so it cannot ride into ||/&& sub-expressions or lifted " +
          "join conditions)")
      case FNumCmp(v, op, lex) =>
        // residual numeric ordering: valid over a genuine numeric column
        // (an aggregate output) or a var PROVEN numeric-typed at its
        // binding scan; anything else would compare lexical forms
        val c0 = resolve(v).getOrElse(lit(null).cast("string"))
        val c =
          if (numeric(v)) c0
          else if (castable.contains(v)) c0.try_cast(castable(v))
          else unsupported(s"FILTER(?$v $op $lex): ?$v is not provably numeric " +
            "here — a numeric ordering compiles at the ONE object-position " +
            s"pattern binding ?$v in the same group (frame needs a `dt` " +
            s"column), over a variable proven numeric by a datatype(?$v) = " +
            "<numeric xsd type> filter at its binding pattern, or over an " +
            "aggregate output; anything else would compare lexical forms")
        val r = lit(lex.toDouble)
        op match {
          case "<" => c < r
          case "<=" => c <= r
          case ">" => c > r
          case ">=" => c >= r
          case other => unsupported(s"unexpected numeric comparison op $other")
        }
      case FAnd(a, b) =>
        compileFilter(a, resolve, numeric, castable) &&
          compileFilter(b, resolve, numeric, castable)
      case FOr(a, b) =>
        compileFilter(a, resolve, numeric, castable) ||
          compileFilter(b, resolve, numeric, castable)
      case FNot(a) =>
        // SQL three-valued NOT(null)=null filters the row, which matches
        // SPARQL's error-removes-row for everything EXCEPT !BOUND — BOUND
        // compiles to a non-null boolean, so NOT stays two-valued there
        !compileFilter(a, resolve, numeric, castable)
    }
  }
}
