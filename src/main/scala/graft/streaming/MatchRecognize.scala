package graft.streaming

import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow, InterpretedPredicate, JoinedRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First, Last}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL MATCH_RECOGNIZE front-end over the [[Cep]] NFA — the textual
  * entry point the reference exposes through its planner (reference:
  * flink-table-planner-blink/.../exec/stream/StreamExecMatch.java:90,
  * MATCH_RECOGNIZE operators FlinkSqlOperatorTable.java:1147-1151).
  * The Scala Pattern API ([[Cep.SequencePattern]]) covers the
  * semantics; this parses the SQL surface into it so a MATCH_RECOGNIZE
  * query migrates as text.
  *
  * Supported subset (each maps 1:1 onto a SequencePattern feature):
  *
  * {{{
  * MATCH_RECOGNIZE (
  *   PARTITION BY user_id
  *   ORDER BY ts
  *   [AFTER MATCH SKIP TO NEXT ROW | AFTER MATCH SKIP PAST LAST ROW]
  *   PATTERN ( A B+ C? D{2} E{1,3} [B+? reluctant] )
  *   [WITHIN INTERVAL 'n' SECOND|MINUTE|HOUR|DAY]
  *   DEFINE A AS <sql predicate>, B AS <sql predicate> ...
  * )
  * }}}
  *
  *  - Row-pattern variables quantified `+` (one-or-more, greedy as in
  *    SQL regex; `+?` reluctant), `?` (optional), `{n}` / `{n,m}`
  *    (times). Variables without a DEFINE default to TRUE (any row) —
  *    the SQL-standard rule.
  *  - Contiguity is strict (MATCH_RECOGNIZE is a regex over adjacent
  *    rows once partitioned and ordered).
  *  - AFTER MATCH SKIP PAST LAST ROW is the SQL default; SKIP TO NEXT
  *    ROW maps to [[Cep.SkipToNext]].
  *  - DEFINE predicates are conditions over the event columns,
  *    compiled by Spark's own SQL parser + analyzer (so type coercion,
  *    function library and null semantics are exactly Spark SQL's) and
  *    evaluated as an interpreted Catalyst predicate per event. They
  *    support pattern navigation (reference: MatchCodeGenerator.scala
  *    visitCall PREV|NEXT|FIRST|LAST; MatchRecognizeITCase.scala):
  *    `PREV(col)` — the previous PHYSICAL row in the partition;
  *    `FIRST/LAST(V.col [, n])` — LOGICAL navigation over the rows
  *    variable V matched so far (current row included in its own
  *    variable's list, the reference's addCurrent rule); unqualified
  *    `FIRST/LAST(col [, n])` — over ALL matched rows (the universal
  *    variable); bare `V.col` = LAST(V.col, 0). NEXT and PREV offsets
  *    beyond 1 are rejected, as in the reference ("Flink does not
  *    support physical offsets within partition").
  *  - MEASURES: FIRST/LAST/COUNT/SUM/AVG/MIN/MAX over `VAR.column`
  *    (see [[parseMeasures]]/[[measureColumns]]): the NFA emits the
  *    per-step label of every matched row (`Match.step_names`), and
  *    each measure compiles to a collection expression over the
  *    label-filtered, row-ordered match — no second pattern pass.
  *    SUBSET union variables (`SUBSET S = (A, B)`) widen the label
  *    filter to the member set; RUNNING/FINAL prefixes select the
  *    ALL ROWS PER MATCH frame (prefix-of-match vs whole match).
  *
  * Output is the NFA's match relation (key, start_ts, end_ts,
  * event_ids) — ONE ROW PER MATCH semantics with the matched row ids,
  * from which MEASURES-style projections are ordinary selects.
  */
object MatchRecognize {

  /** The Event row-type the NFA runs over, as Catalyst attributes. */
  private val eventAttrs: Seq[AttributeReference] = Seq(
    AttributeReference("event_id", LongType)(),
    AttributeReference("ts", TimestampType)(),
    AttributeReference("user_id", LongType)(),
    AttributeReference("event_type", StringType)(),
    AttributeReference("value", DoubleType)()
  )

  private val PrevPrefix = "__prev_"
  private val NavPrefix = "__nav_"

  /** One FIRST/LAST navigation site inside a DEFINE predicate:
    * `LAST(V.col, offset)` / `FIRST(V.col, offset)` — logical
    * navigation over the rows the pattern variable V has matched so
    * far (variable `*` = all matched rows, the SQL universal row
    * pattern variable; reference: MatchCodeGenerator.scala FIRST|LAST
    * + generateDefinePatternVariableExp, which appends the CURRENT row
    * to the list when V is the variable being defined).
    */
  private final case class NavSpec(first: Boolean, variable: String,
      ordinal: Int, dataType: DataType, offset: Int)

  /** A compiled DEFINE predicate over Catalyst rows, with optional
    * PREV physical navigation and FIRST/LAST logical navigation:
    * bound against curAttrs ++ prevAttrs ++ navAttrs, evaluated on
    * JoinedRow(JoinedRow(cur, prev-or-nulls), navRow). PREV of the
    * partition's first row is NULL, as is LAST/FIRST past the matched
    * history, so a `value > PREV(value)` predicate is false there —
    * SQL null semantics for free. The bound Catalyst expression
    * serializes into task closures; the predicate instance is rebuilt
    * lazily per executor.
    */
  private final class BoundPredicate(bound: Expression, width: Int,
      val usesPrev: Boolean,
      val navSpecs: IndexedSeq[NavSpec],
      val selfVar: String)
      extends ((Option[InternalRow], InternalRow) => Boolean) with Serializable {
    def usesNav: Boolean = navSpecs.nonEmpty
    @transient private lazy val pred = InterpretedPredicate(bound)
    @transient private lazy val nulls: InternalRow = new GenericInternalRow(width)
    @transient private lazy val navRow =
      new GenericInternalRow(math.max(navSpecs.length, 1))
    @transient private lazy val joinedPrev = new JoinedRow()
    @transient private lazy val joinedNav = new JoinedRow()
    override def apply(prev: Option[InternalRow], cur: InternalRow): Boolean =
      evalNav(prev, cur, IndexedSeq.empty, IndexedSeq.empty)

    /** The row a navigation spec selects from the match history, or
      * null when the offset runs past it. The current row counts as
      * the LAST row of its own variable's list (and of `*`) — the
      * reference's addCurrent rule, which is what makes
      * `U AS value > LAST(U.value, 1)` compare against the PREVIOUS
      * U row while `LAST(U.value, 0)` is the current row itself.
      */
    private def navTarget(s: NavSpec, cur: InternalRow,
        rows: scala.collection.IndexedSeq[InternalRow],
        labels: scala.collection.IndexedSeq[String]): InternalRow = {
      val includeCur = s.variable == "*" || s.variable == selfVar
      if (s.first) {
        var seen = 0
        var i = 0
        while (i < rows.length) {
          if (s.variable == "*" || labels(i) == s.variable) {
            if (seen == s.offset) return rows(i)
            seen += 1
          }
          i += 1
        }
        if (includeCur && seen == s.offset) cur else null
      } else {
        var need = s.offset
        if (includeCur) {
          if (need == 0) return cur
          need -= 1
        }
        var i = rows.length - 1
        while (i >= 0) {
          if (s.variable == "*" || labels(i) == s.variable) {
            if (need == 0) return rows(i)
            need -= 1
          }
          i -= 1
        }
        null
      }
    }

    /** Evaluate with full match context: `rows`/`labels` are the
      * partial match so far (parallel, match-ordered).
      */
    def evalNav(prev: Option[InternalRow], cur: InternalRow,
        rows: scala.collection.IndexedSeq[InternalRow],
        labels: scala.collection.IndexedSeq[String]): Boolean = {
      if (!usesPrev && !usesNav) return pred.eval(cur)
      var k = 0
      while (k < navSpecs.length) {
        val s = navSpecs(k)
        val r = navTarget(s, cur, rows, labels)
        navRow.update(k,
          if (r == null || r.isNullAt(s.ordinal)) null
          else r.get(s.ordinal, s.dataType))
        k += 1
      }
      val base = joinedPrev(cur, prev.getOrElse(nulls))
      pred.eval(if (usesNav) joinedNav(base, navRow) else base)
    }
  }

  /** Compile one DEFINE condition against arbitrary attributes:
    * parse → rewrite navigation calls to shadow attributes → resolve +
    * coerce through the real analyzer (a LocalRelation carrier plan) →
    * bind ordinals. Navigation subset (each form mirrors the
    * reference's DEFINE support — MatchCodeGenerator.scala visitCall
    * PREV|NEXT|FIRST|LAST and MatchRecognizeITCase.scala):
    *
    *  - `PREV(col)` / `PREV(col, 1)` / `PREV(SELF.col)`: the previous
    *    PHYSICAL row in the ordered partition (shadow `__prev_col`).
    *    Offsets beyond 1 are rejected — the reference rejects physical
    *    offsets entirely ("Flink does not support physical offsets
    *    within partition"); this engine supports exactly offset 1.
    *  - `LAST(V.col [, n])` / `FIRST(V.col [, n])`: LOGICAL navigation
    *    over the rows variable V matched so far, offset n from the end
    *    (LAST) or start (FIRST); the current row is appended to its
    *    own variable's list. Unqualified `LAST(col, n)` navigates all
    *    matched rows (the universal variable).
    *  - A bare qualified reference `V.col` = `LAST(V.col, 0)`; when V
    *    is the variable being defined that is the current row.
    *  - `NEXT` is rejected (needs lookahead; the reference rejects it
    *    for the same reason).
    */
  private def compileAgainst(spark: SparkSession, sql: String,
      attrs: Seq[AttributeReference], patternVars: Set[String] = Set.empty,
      selfVar: String = ""): BoundPredicate = {
    // the rewrites synthesize shadow attributes named '__prev_<col>' /
    // '__nav_<k>'; an input column already carrying those prefixes
    // would collide with them and bind the wrong ordinal — reject
    // loudly rather than resolve ambiguously
    attrs.find(a => a.name.startsWith(PrevPrefix) || a.name.startsWith(NavPrefix))
      .foreach { a =>
        throw new IllegalArgumentException(
          s"input schema contains reserved column '${a.name}': the " +
            s"'$PrevPrefix'/'$NavPrefix' prefixes are reserved for " +
            "navigation shadows")
      }
    // a pattern variable that shares its name with a STRUCT input
    // column makes every `name.field` reference ambiguous: the
    // navigation rewrite would silently shadow the struct access.
    // Reject at compile, mirroring the reserved-prefix check above.
    attrs.find(a => a.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]
        && patternVars(a.name.toUpperCase)).foreach { a =>
      throw new IllegalArgumentException(
        s"pattern variable '${a.name.toUpperCase}' collides with struct " +
          s"column '${a.name}': a qualified reference '${a.name}.<field>' " +
          "would be ambiguous between struct access and pattern-variable " +
          "navigation — rename one of them")
    }
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    var usesPrev = false
    val navSpecs = scala.collection.mutable.ArrayBuffer.empty[NavSpec]

    def ordOf(c: String, in: String): (Int, DataType) = {
      val i = attrs.indexWhere(_.name.equalsIgnoreCase(c))
      require(i >= 0, s"$in references unknown column '$c' " +
        s"(columns: ${attrs.map(_.name).mkString(", ")})")
      (i, attrs(i).dataType)
    }
    def navAttr(first: Boolean, variable: String, c: String,
        offset: Int): UnresolvedAttribute = {
      val what = (if (first) "FIRST" else "LAST") + " navigation"
      val (ord, dt) = ordOf(c, what)
      val spec = NavSpec(first, variable, ord, dt, offset)
      val idx = navSpecs.indexOf(spec) match {
        case -1 => navSpecs += spec; navSpecs.size - 1
        case i => i
      }
      UnresolvedAttribute(NavPrefix + idx)
    }
    // (variable-or-None, column) of a navigation argument
    def varCol(a: UnresolvedAttribute, what: String): (Option[String], String) =
      a.nameParts match {
        case Seq(c) => (None, c)
        case Seq(v, c) if patternVars(v.toUpperCase) => (Some(v.toUpperCase), c)
        case Seq(v, c) => throw new IllegalArgumentException(
          s"$what references '$v.$c' but '$v' is not a pattern variable " +
            s"(pattern variables: ${patternVars.toSeq.sorted.mkString(", ")})")
        case parts => throw new IllegalArgumentException(
          s"$what supports VAR.column or a bare column; got " +
            parts.mkString("."))
      }
    def offsetOf(args: Seq[Expression], what: String): Int = args match {
      case Seq(_) => if (what == "PREV") 1 else 0
      case Seq(_, Literal(n: Int, _)) => n
      case Seq(_, Literal(n: Long, _)) => n.toInt
      case _ => throw new IllegalArgumentException(
        s"$what takes ($what(VAR.col [, <int literal offset>])): $sql")
    }

    val rewritten = parsed.transformDown {
      case f: UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("prev") =>
        f.arguments match {
          case Seq(a: UnresolvedAttribute, _*) =>
            val off = offsetOf(f.arguments, "PREV")
            require(off == 1,
              s"PREV supports only the directly previous row (offset 1); " +
                s"the reference rejects physical offsets entirely " +
                s"(MatchCodeGenerator.scala): $sql")
            val (v, c) = varCol(a, "PREV")
            v.foreach(vn => require(vn == selfVar,
              s"PREV navigates relative to the CURRENT row — qualify with " +
                s"the variable being defined ('$selfVar') or leave the " +
                s"column bare; got PREV($vn.$c)"))
            ordOf(c, "PREV") // validates the column exists
            usesPrev = true
            UnresolvedAttribute(PrevPrefix + c)
          case _ => throw new IllegalArgumentException(
            s"PREV supports a single column reference — PREV(col) or " +
              s"PREV(SELF.col): $sql")
        }
      case f: UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("next") =>
        throw new IllegalArgumentException(
          "NEXT navigation requires row lookahead and is not supported " +
            "(the reference rejects physical offsets too — " +
            "MatchCodeGenerator.scala); anchor the predicate on the later " +
            "step with PREV or FIRST/LAST instead")
      case f: UnresolvedFunction
          if patternVars.nonEmpty &&
            (f.nameParts.map(_.toLowerCase) == Seq("last") ||
              f.nameParts.map(_.toLowerCase) == Seq("first")) =>
        val isFirst = f.nameParts.head.equalsIgnoreCase("first")
        val what = if (isFirst) "FIRST" else "LAST"
        f.arguments match {
          case Seq(a: UnresolvedAttribute, _*) =>
            val off = offsetOf(f.arguments, what)
            require(off >= 0, s"$what offset must be >= 0: $sql")
            val (v, c) = varCol(a, what)
            navAttr(isFirst, v.getOrElse("*"), c, off)
          case _ => throw new IllegalArgumentException(
            s"$what navigation supports a plain column reference — " +
              s"$what(VAR.col [, offset]) or $what(col [, offset]); " +
              s"wrap arithmetic AROUND the call, not inside it: $sql")
        }
      // single-argument FIRST(x)/LAST(x): the SQL grammar keywords
      // parse straight to First/Last AGGREGATES (not
      // UnresolvedFunction) — in DEFINE they mean navigation with
      // offset 0
      case ae: AggregateExpression if patternVars.nonEmpty =>
        def reNav(isFirst: Boolean, child: Expression): Expression =
          child match {
            case a: UnresolvedAttribute =>
              val (v, c) = varCol(a, if (isFirst) "FIRST" else "LAST")
              navAttr(isFirst, v.getOrElse("*"), c, 0)
            case _ => throw new IllegalArgumentException(
              s"${if (isFirst) "FIRST" else "LAST"} navigation supports " +
                "a plain column reference — wrap arithmetic AROUND the " +
                s"call, not inside it: $sql")
          }
        ae.aggregateFunction match {
          case fa: First => reNav(isFirst = true, fa.child)
          case la: Last => reNav(isFirst = false, la.child)
          case other => throw new IllegalArgumentException(
            s"aggregate ${other.prettyName} is not allowed in DEFINE " +
              s"(predicates are per-row; aggregate in MEASURES instead): $sql")
        }
      // bare qualified reference V.col = LAST(V.col, 0); for the
      // variable being defined that is the current row itself
      case a: UnresolvedAttribute
          if a.nameParts.size == 2 && patternVars(a.nameParts.head.toUpperCase) =>
        val v = a.nameParts.head.toUpperCase
        val c = a.nameParts(1)
        if (v == selfVar) UnresolvedAttribute(Seq(c))
        else navAttr(first = false, v, c, 0)
    }
    val prevAttrs = attrs.map(a =>
      AttributeReference(PrevPrefix + a.name, a.dataType, nullable = true)())
    val navAttrs = navSpecs.toSeq.zipWithIndex.map { case (s, i) =>
      AttributeReference(NavPrefix + i, s.dataType, nullable = true)()
    }
    val all = attrs ++ prevAttrs ++ navAttrs
    rewritten.foreach {
      case u: UnresolvedAttribute
        if !all.exists(_.name.equalsIgnoreCase(u.name)) =>
        throw new IllegalArgumentException(
          s"DEFINE references unknown column '${u.name}' " +
            s"(columns: ${attrs.map(_.name).mkString(", ")})")
      case _ => ()
    }
    val carrier = Filter(rewritten, LocalRelation(all))
    val analyzed = spark.sessionState.analyzer.execute(carrier)
    spark.sessionState.analyzer.checkAnalysis(analyzed)
    val cond = analyzed.collectFirst { case Filter(c, _) => c }.getOrElse(
      throw new IllegalStateException(s"predicate did not analyze to a filter: $sql"))
    val bound =
      BindReferences.bindReference(cond, all.asInstanceOf[Seq[Attribute]])
    new BoundPredicate(bound, attrs.size, usesPrev,
      navSpecs.toIndexedSeq, selfVar)
  }

  /** A compiled DEFINE predicate adapted to the NFA's row type `E`.
    * `toIr` gives a row's Catalyst form: Event rows fill the scratch
    * row it is handed (`scratchWidth` wide); relation rows return the
    * form they already carry and need no scratch (width 0).
    */
  private final class DefinePredicate[E](inner: BoundPredicate,
      scratchWidth: Int, toIr: (E, GenericInternalRow) => InternalRow)
      extends ((Option[E], E) => Boolean) with Serializable {
    val usesPrev: Boolean = inner.usesPrev
    val usesNav: Boolean = inner.usesNav
    @transient private lazy val cur = new GenericInternalRow(scratchWidth)
    @transient private lazy val prv = new GenericInternalRow(scratchWidth)
    private def prevIr(prev: Option[E]): Option[InternalRow] = prev match {
      case Some(p) if usesPrev => Some(toIr(p, prv))
      case _ => None
    }
    override def apply(prev: Option[E], e: E): Boolean =
      inner(prevIr(prev), toIr(e, cur))
    /** Match-aware evaluation for FIRST/LAST navigation. Conversion to
      * Catalyst form is LAZY: navTarget scans only the (string) labels
      * and indexes at most one row per NavSpec, so eager conversion of
      * the whole history would be O(match length) allocations per
      * evaluation — compounding under SKIP TO NEXT ROW with long
      * oneOrMore loops. The view below converts exactly the rows the
      * compiled NavSpecs actually reach.
      */
    def applyNav(ctx: CepCore.NavCtx[E], e: E): Boolean = {
      val evRows = ctx.rows match {
        case ix: scala.collection.IndexedSeq[E] => ix
        case other => other.toIndexedSeq
      }
      val rows: scala.collection.IndexedSeq[InternalRow] =
        new scala.collection.IndexedSeq[InternalRow] {
          def length: Int = evRows.length
          def apply(i: Int): InternalRow =
            toIr(evRows(i), new GenericInternalRow(scratchWidth))
        }
      val labels = ctx.labels match {
        case ix: scala.collection.IndexedSeq[String] => ix
        case other => other.toIndexedSeq
      }
      inner.evalNav(prevIr(ctx.prev), toIr(e, cur), rows, labels)
    }
  }

  /** Event rows in [[eventAttrs]] order, filled into a scratch row. */
  private def eventPredicate(p: BoundPredicate): DefinePredicate[Event] =
    new DefinePredicate[Event](p, eventAttrs.size, (e, r) => {
      r.update(0, e.event_id)
      r.update(1, if (e.ts == null) null else DateTimeUtils.fromJavaTimestamp(e.ts))
      r.update(2, e.user_id)
      r.update(3, UTF8String.fromString(e.event_type))
      r.update(4, e.value)
      r
    })

  // ---- text parsing ---------------------------------------------------

  /** Index of the first occurrence of `keyword` as a whole word outside
    * single-quoted literals, or -1. Word-boundary matching keeps an
    * identifier like `pattern_count` from being mistaken for the
    * PATTERN clause; the quote-parity check keeps a string literal
    * containing the keyword from misdirecting the clause scan.
    */
  private def keywordAt(sql: String, keyword: String): Int = {
    val re = raw"(?is)\b${java.util.regex.Pattern.quote(keyword)}\b".r
    re.findAllMatchIn(sql)
      .map(_.start)
      .find(at => sql.substring(0, at).count(_ == '\'') % 2 == 0)
      .getOrElse(-1)
  }

  /** Extract the balanced-paren body following the keyword. Paren
    * counting is quote-aware, so a DEFINE string literal containing
    * `(` or `)` cannot truncate or unbalance the extracted body.
    */
  private def balancedBody(sql: String, keyword: String): String = {
    val at = keywordAt(sql, keyword)
    require(at >= 0, s"$keyword not found")
    var open = at + keyword.length
    while (open < sql.length && sql(open).isWhitespace) open += 1
    require(open < sql.length && sql(open) == '(',
      s"$keyword must be followed by (...)")
    var depth = 0
    var i = open
    var inQuote = false
    while (i < sql.length) {
      sql(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote =>
          depth -= 1
          if (depth == 0) return sql.substring(open + 1, i)
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parentheses after $keyword")
  }

  /** Split on top-level commas (ignores commas inside parens/quotes). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inQuote = false
    var start = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case ',' if !inQuote && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ---- PATTERN tokenizer ---------------------------------------------

  /** One parsed PATTERN element of one alternative. */
  private sealed trait PatTok
  private final case class VarTok(name: String, quant: Option[String])
      extends PatTok
  private final case class GroupTok(vars: Seq[(String, Option[String])],
      oneOrMore: Boolean, times: Int) extends PatTok
  /** Grouped alternation `(A|B)` with an optional quantifier on the
    * group — compiles to a single ordered-choice NFA step
    * ([[CepCore.Step.choices]]), so `(A|B)+` may take a different
    * variable each iteration.
    */
  private final case class ChoiceTok(names: Seq[String],
      quant: Option[String]) extends PatTok

  /** Split the PATTERN body on TOP-LEVEL `|` — SQL row-pattern
    * alternation (reference: the Calcite row-pattern grammar
    * StreamExecMatch compiles accepts alternation). Each alternative
    * becomes an NFA branch ([[CepCore.SequencePattern.branches]]).
    */
  private def splitAlternatives(patBody: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < patBody.length) {
      patBody(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '|' if depth == 0 =>
          out += patBody.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += patBody.substring(start)
    val alts = out.result().map(_.trim)
    require(alts.forall(_.nonEmpty),
      s"empty alternative in PATTERN body: $patBody")
    alts
  }

  private val permuteRe = raw"(?i)\bPERMUTE\s*\(".r

  /** Expand `PERMUTE(a, b, ...)` factors into explicit alternation —
    * the reference semantics (Calcite's row-pattern grammar defines
    * PERMUTE(p1..pn) as the alternation of every permutation of the
    * terms, in lexicographic order of the definition order; Flink's
    * StreamExecMatch compiles exactly that expansion). Each argument
    * may itself be any supported pattern term (quantified variable or
    * group); nested PERMUTEs expand recursively. Expansion is bounded:
    * more than [[MaxPermuteAlts]] resulting alternatives throws rather
    * than silently truncating.
    */
  private[graft] def expandPermute(alt: String): Seq[String] =
    permuteRe.findFirstMatchIn(alt) match {
      case None => Seq(alt)
      case Some(m) =>
        val open = m.end - 1
        var depth = 0
        var close = -1
        var i = open
        while (i < alt.length && close < 0) {
          alt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = i
            case _ => ()
          }
          i += 1
        }
        require(close > open, s"unbalanced PERMUTE(...) in: $alt")
        val inner = alt.substring(open + 1, close)
        // split args on top-level commas only
        val args = {
          val b = Seq.newBuilder[String]
          var d = 0; var s = 0
          inner.zipWithIndex.foreach {
            case ('(', _) => d += 1
            case (')', _) => d -= 1
            case (',', j) if d == 0 => b += inner.substring(s, j); s = j + 1
            case _ => ()
          }
          b += inner.substring(s)
          b.result().map(_.trim)
        }
        require(args.nonEmpty && args.forall(_.nonEmpty),
          s"empty PERMUTE argument in: $alt")
        val prefix = alt.substring(0, m.start)
        val suffix = alt.substring(close + 1)
        val expanded = args.permutations
          .map(p => s"$prefix ${p.mkString(" ")} $suffix"
            .replaceAll("\\s+", " ").trim)
          .toSeq
        require(expanded.size <= MaxPermuteAlts,
          s"PERMUTE over ${args.size} terms expands to ${expanded.size} " +
            s"alternatives (> $MaxPermuteAlts) in: $alt — split the pattern")
        expanded.flatMap(expandPermute).distinct
    }

  /** Ceiling on PERMUTE expansion (5! = 120 alternatives). */
  private val MaxPermuteAlts = 120

  /** Strip SQL row-pattern exclusion markers `{- ... -}` from one
    * alternative (SQL:2016; the reference grammar accepts them for
    * ALL ROWS PER MATCH output exclusion). Returns the cleaned text —
    * the excluded content STAYS in the pattern, it still matches and
    * feeds MEASURES — plus the variable names inside the markers,
    * which the output stages omit. Nesting, unbalanced markers, and a
    * variable appearing both inside and outside an exclusion throw.
    */
  private def extractExclusions(alt: String): (String, Set[String]) = {
    if (!alt.contains("{-")) return (alt, Set.empty)
    val clean = new StringBuilder
    val inside = new StringBuilder
    val outside = new StringBuilder
    var excluded = Set.empty[String]
    var i = 0
    var open = false
    while (i < alt.length) {
      if (alt.startsWith("{-", i)) {
        require(!open, s"nested {- -} exclusion in: $alt")
        open = true; i += 2
      } else if (alt.startsWith("-}", i)) {
        require(open, s"unbalanced -} in: $alt")
        open = false; i += 2
      } else {
        clean.append(alt(i))
        (if (open) inside else outside).append(alt(i))
        i += 1
      }
    }
    require(!open, s"unbalanced {- in: $alt")
    val nameRe = raw"[A-Za-z_][A-Za-z_0-9]*".r
    excluded = nameRe.findAllIn(inside.toString).map(_.toUpperCase).toSet
    val kept = nameRe.findAllIn(outside.toString).map(_.toUpperCase).toSet
    val both = excluded & kept
    require(both.isEmpty,
      s"variable(s) ${both.toSeq.sorted.mkString(", ")} appear both " +
        s"inside and outside a {- -} exclusion in: $alt")
    (clean.toString, excluded)
  }

  /** Tokenize ONE alternative of the PATTERN body: a sequence of
    * `VAR[quant]` and one-level groups `(VAR ...)[+ | +? | {n}]`. The
    * scanner consumes the ENTIRE text — anything outside the supported
    * subset (reluctant `*?`, open-ended `{n,}`, nested or
    * `*`/`?`-quantified groups; PERMUTE is expanded into alternation
    * before tokenizing, so a bare unparenthesized `PERMUTE` reaching
    * here is malformed) throws rather than being silently
    * reinterpreted. Group loops `(A B)+` are reluctant — the
    * reference's oneOrMore default (GroupPattern.java); sub-steps may
    * carry only fixed `{n}` quantifiers ([[CepCore.Group]]'s contract:
    * the loop back-edge anchors on the group's last step consuming).
    */
  private def tokenize(alt: String): Seq[PatTok] = {
    val out = Seq.newBuilder[PatTok]
    var i = 0
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"unsupported PATTERN syntax '$what' in: $alt — supported subset is " +
        "alternatives of VAR[+ | +? | * | ? | {n} | {n,m}], one-level " +
        "groups (VAR ...)[+ | +? | {n}], grouped alternation " +
        "(A|B)[+ | +? | * | ? | {n} | {n,m}], plus PERMUTE(term, ...) " +
        "(no reluctant '*?', open-ended '{n,}', or nested groups)")
    def skipWs(): Unit = while (i < alt.length && alt(i).isWhitespace) i += 1
    // the quantifier starting exactly at position i, if any
    def quant(): Option[String] =
      if (i >= alt.length) None
      else alt(i) match {
        case '+' =>
          i += 1
          if (i < alt.length && alt(i) == '?') { i += 1; Some("+?") }
          else Some("+")
        case '*' =>
          i += 1
          if (i < alt.length && alt(i) == '?') fail("*?") else Some("*")
        case '?' => i += 1; Some("?")
        case '{' =>
          val close = alt.indexOf('}', i)
          if (close < 0) fail(alt.substring(i))
          val body = alt.substring(i, close + 1)
          if (raw"(?s)\{\s*\d+\s*(?:,\s*\d+\s*)?\}".r.matches(body)) {
            i = close + 1
            Some(body.replaceAll("\\s", ""))
          } else fail(body)
        case _ => None
      }
    val varRe = raw"[A-Za-z_][A-Za-z_0-9]*".r
    skipWs()
    require(i < alt.length, "PATTERN body is empty")
    while (i < alt.length) {
      if (alt(i) == '(') {
        val close = alt.indexOf(')', i)
        if (close < 0) fail(alt.substring(i))
        val inner = alt.substring(i + 1, close)
        if (inner.contains("(")) fail(s"(${inner.trim}")
        if (inner.contains("|")) {
          // grouped alternation (A|B): single bare variables per
          // alternative; any step quantifier may follow the group.
          // Multi-variable alternatives ((A B|C)) stay out of scope —
          // distribute them into top-level alternation instead.
          val parts = inner.split("\\|", -1).map(_.trim).toSeq
          val bare = raw"[A-Za-z_][A-Za-z_0-9]*".r
          parts.foreach { p =>
            if (!bare.matches(p))
              throw new IllegalArgumentException(
                s"unsupported grouped alternation '($inner)' in: $alt — " +
                  "alternatives inside (...) must be single bare " +
                  "variables; rewrite multi-variable alternatives as " +
                  "top-level alternation")
          }
          i = close + 1
          out += ChoiceTok(parts, quant())
        } else {
        i = close + 1
        val q = quant()
        val vars = tokenize(inner).map {
          case VarTok(n, vq) =>
            vq.foreach { s =>
              if (!raw"\{\d+\}".r.matches(s))
                throw new IllegalArgumentException(
                  s"group sub-step '$n$s' in: $alt — sub-steps inside " +
                    "(...) support only fixed '{n}' quantifiers")
            }
            (n, vq)
          // both unreachable: nested '(' and '|' rejected above
          case _: GroupTok => fail(inner)
          case _: ChoiceTok => fail(inner)
        }
        q match {
          case Some("+") | Some("+?") =>
            out += GroupTok(vars, oneOrMore = true, times = 1)
          case None => out += GroupTok(vars, oneOrMore = false, times = 1)
          case Some(b) if b.startsWith("{") =>
            raw"\d+".r.findAllIn(b).map(_.toInt).toSeq match {
              case Seq(n) => out += GroupTok(vars, oneOrMore = false, times = n)
              case _ => fail(s"(...)$b")
            }
          case Some(other) => fail(s"(...)$other")
        }
        }
      } else {
        varRe.findPrefixMatchOf(alt.substring(i)) match {
          case Some(m) =>
            val name = m.group(0)
            if (name.equalsIgnoreCase("PERMUTE")) fail("PERMUTE")
            i += m.end
            out += VarTok(name, quant())
          case None => fail(alt.substring(i).takeWhile(!_.isWhitespace))
        }
      }
      skipWs()
    }
    out.result()
  }

  /** Build one alternative's element list from its tokens; `mk` closes
    * over the DEFINE map for the concrete row type.
    */
  private def mkElems[E](toks: Seq[PatTok],
      mk: (String, Option[String]) => CepCore.Step[E]): Seq[CepCore.Elem[E]] =
    toks.map {
      case VarTok(n, q) => mk(n, q)
      case GroupTok(vars, oneOrMore, times) =>
        CepCore.Group(vars.map { case (n, q) => mk(n, q) }, oneOrMore, times)
      case ChoiceTok(names, q) =>
        // one ordered-choice step: the merged predicate is the
        // disjunction, per-row labels resolve to the first accepting
        // choice; the group's quantifier applies to the step itself
        // (so `(A|B)+` loops with SQL-default greedy semantics, same
        // as `A+`)
        val subs = names.map(n => mk(n, None))
        require(subs.forall(_.navPredicate.isEmpty),
          s"FIRST/LAST navigation in a grouped-alternation variable " +
            s"(${names.mkString("|")}) is out of scope — rewrite the " +
            "alternation as top-level PATTERN branches")
        val pairs = subs.map(s => (s.name, s.predicate))
        mk(names.head, q).copy(
          name = pairs.map(_._1).mkString("|"),
          predicate = (p: Option[E], e: E) => pairs.exists(_._2(p, e)),
          needsPrev = subs.exists(_.needsPrev),
          choices = pairs)
    }

  /** The pattern-variable namespace of a PATTERN body: every
    * identifier in it (case-normalized), PERMUTE excluded — used to
    * resolve FIRST/LAST(V.col) navigation in DEFINE, which compiles
    * before the pattern's steps are built.
    */
  private def patternVarsFromText(patBody: String): Set[String] =
    raw"[A-Za-z_][A-Za-z_0-9]*".r.findAllIn(patBody)
      .map(_.toUpperCase).toSet - "PERMUTE"

  /** Parse the full PATTERN body (alternation of group/var sequences)
    * into per-alternative element lists.
    */
  private def parsePattern[E](patBody: String,
      mk: (String, Option[String]) => CepCore.Step[E])
      : (Seq[Seq[CepCore.Elem[E]]], Set[String]) = {
    val cleaned = splitAlternatives(patBody).flatMap(expandPermute)
      .map(extractExclusions)
    (cleaned.map { case (a, _) => mkElems(tokenize(a), mk) },
      cleaned.flatMap(_._2).toSet)
  }

  private val withinRe =
    raw"(?is)WITHIN\s+INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)".r

  private val skipRe =
    raw"(?is)AFTER\s+MATCH\s+SKIP\s+(TO\s+NEXT\s+ROW|PAST\s+LAST\s+ROW|TO\s+FIRST\s+[A-Za-z_][A-Za-z_0-9]*|TO\s+LAST\s+[A-Za-z_][A-Za-z_0-9]*|TO\s+[A-Za-z_][A-Za-z_0-9]*)".r

  /** AFTER MATCH SKIP clause → strategy; absent clause is the SQL
    * default SKIP PAST LAST ROW. TO FIRST/LAST <var> map to the
    * skip-to-variable strategies; the bare `SKIP TO <var>` form is the
    * SQL-standard shorthand for SKIP TO LAST <var> (the reference
    * Calcite grammar accepts it; StreamExecMatch.java:90 compiles it
    * to skipToLast). Variables — including SUBSET union names — are
    * validated and resolved against the pattern by the caller.
    */
  private def parseSkip(body: String): CepCore.SkipStrategy =
    skipRe.findFirstMatchIn(body) match {
      case Some(m) =>
        val g = m.group(1).toUpperCase.replaceAll("\\s+", " ")
        if (g == "TO NEXT ROW") CepCore.SkipToNext
        else if (g == "PAST LAST ROW") CepCore.SkipPastLastEvent
        else if (g.startsWith("TO FIRST "))
          CepCore.SkipToFirst(g.substring("TO FIRST ".length))
        else if (g.startsWith("TO LAST "))
          CepCore.SkipToLast(g.substring("TO LAST ".length))
        else CepCore.SkipToLast(g.substring("TO ".length))
      case None => CepCore.SkipPastLastEvent
    }

  /** A skip-to-variable target must name a pattern variable or a
    * SUBSET union variable; a SUBSET target resolves to its member
    * label set (boundary = first/last row matched to ANY member).
    * Returns the pattern with the resolved strategy.
    */
  private def resolveSkipVar[E](p: CepCore.SequencePattern[E],
      subsets: Map[String, Seq[String]]): CepCore.SequencePattern[E] = {
    val vars = patternVarNames(p)
    def members(v: String): Set[String] =
      if (vars(v)) Set(v)
      else subsets.get(v) match {
        case Some(ms) =>
          ms.foreach(m => require(vars(m),
            s"SUBSET $v references undefined pattern variable $m"))
          ms.toSet
        case None => throw new IllegalArgumentException(
          s"AFTER MATCH SKIP TO [FIRST|LAST] references undefined " +
            s"pattern variable $v (pattern variables: " +
            s"${vars.toSeq.sorted.mkString(", ")}" +
            (if (subsets.isEmpty) ""
             else s"; subsets: ${subsets.keys.toSeq.sorted.mkString(", ")}") +
            ")")
      }
    p.skip match {
      case CepCore.SkipToFirst(v, _) =>
        p.copy(skip = CepCore.SkipToFirst(v, members(v)))
      case CepCore.SkipToLast(v, _) =>
        p.copy(skip = CepCore.SkipToLast(v, members(v)))
      case _ => p
    }
  }

  /** Full-coverage validation of the MATCH_RECOGNIZE body: every
    * non-whitespace character must fall inside a recognized clause
    * span, computed with the SAME boundary rules the per-clause
    * extractors use. A typo'd clause name or a clause outside the
    * subset is stray text the regex extractors would silently skip —
    * here it throws with the offending snippet.
    */
  private def requireFullCoverage(body: String): Unit = {
    val spans = Seq.newBuilder[(Int, Int)]
    def quoteOk(at: Int): Boolean =
      body.substring(0, at).count(_ == '\'') % 2 == 0
    def firstMatch(re: scala.util.matching.Regex) =
      re.findAllMatchIn(body).find(m => quoteOk(m.start))
    // PARTITION BY / ORDER BY: to the next clause keyword
    Seq("PARTITION", "ORDER").foreach { head =>
      firstMatch(raw"(?is)\b$head\s+BY\b".r).foreach { m =>
        val end = clauseKwRe.findFirstMatchIn(body.substring(m.end))
          .map(_.start + m.end).getOrElse(body.length)
        spans += ((m.start, end))
      }
    }
    // MEASURES: same end rule as parseMeasures
    firstMatch(raw"(?is)\bMEASURES\b".r).foreach { m =>
      val end =
        raw"(?is)\b(AFTER\s+MATCH|PATTERN|ONE\s+ROW|ALL\s+ROWS|WITHIN)\b".r
          .findFirstMatchIn(body.substring(m.end))
          .map(_.start + m.end).getOrElse(body.length)
      spans += ((m.start, end))
    }
    // self-delimiting clauses: their own full regex match
    Seq(perMatchRe, skipRe, withinRe).foreach(re =>
      firstMatch(re).foreach(m => spans += ((m.start, m.end))))
    // PATTERN ( ... ): keyword through the balanced close paren
    firstMatch(raw"(?is)\bPATTERN\b".r).foreach { m =>
      var i = m.end
      while (i < body.length && body(i).isWhitespace) i += 1
      var depth = 0
      var inQuote = false
      var close = -1
      var j = i
      while (j < body.length && close < 0) {
        body(j) match {
          case '\'' => inQuote = !inQuote
          case '(' if !inQuote => depth += 1
          case ')' if !inQuote => depth -= 1; if (depth == 0) close = j
          case _ => ()
        }
        j += 1
      }
      if (close > 0) spans += ((m.start, close + 1))
    }
    // SUBSET: to DEFINE (same rule as parseSubsets)
    firstMatch(raw"(?is)\bSUBSET\b".r).foreach { m =>
      val end = raw"(?is)\bDEFINE\b".r.findFirstMatchIn(body.substring(m.end))
        .map(_.start + m.end).getOrElse(body.length)
      spans += ((m.start, end))
    }
    // DEFINE: last clause, runs to end of body
    val defAt = keywordAt(body, "DEFINE")
    if (defAt >= 0) spans += ((defAt, body.length))

    val covered = new Array[Boolean](body.length)
    spans.result().foreach { case (s, e) =>
      var i = math.max(0, s)
      while (i < math.min(e, body.length)) { covered(i) = true; i += 1 }
    }
    val stray = body.indices.find(i => !covered(i) && !body(i).isWhitespace)
    stray.foreach { from =>
      val snippet = body.substring(from, math.min(from + 40, body.length))
        .linesIterator.next().trim
      throw new IllegalArgumentException(
        "unrecognized text in MATCH_RECOGNIZE (not part of any supported " +
          s"clause): '$snippet'")
    }
  }

  /** Clause-presence strictness: WITHIN or AFTER MATCH text that the
    * supported subset cannot parse must THROW — a `WITHIN INTERVAL '2'
    * WEEK` falling back to unbounded, or an `AFTER MATCH SKIP TO FIRST
    * A` falling back to the default skip, would silently change query
    * semantics (the reinterpretation this front-end promises not to
    * do). Presence checks are quote-aware like the clause extractors.
    */
  private def requireKnownClauses(body: String): Unit = {
    def presentOutsideQuotes(re: scala.util.matching.Regex): Option[Int] =
      re.findAllMatchIn(body)
        .find(m => body.substring(0, m.start).count(_ == '\'') % 2 == 0)
        .map(_.start)
    presentOutsideQuotes(raw"(?is)\bWITHIN\b".r).foreach { at =>
      if (withinRe.findFirstMatchIn(body).isEmpty)
        throw new IllegalArgumentException(
          "unsupported WITHIN clause (subset is WITHIN INTERVAL '<n>' " +
            "SECOND|MINUTE|HOUR|DAY): " +
            body.substring(at).linesIterator.next().trim)
    }
    presentOutsideQuotes(raw"(?is)\bAFTER\s+MATCH\b".r).foreach { at =>
      if (skipRe.findFirstMatchIn(body).isEmpty)
        throw new IllegalArgumentException(
          "unsupported AFTER MATCH clause (accepted forms: AFTER MATCH " +
            "SKIP TO NEXT ROW | SKIP PAST LAST ROW | SKIP TO FIRST <var> " +
            "| SKIP TO LAST <var> | SKIP TO <var>, where <var> is a " +
            "pattern variable or SUBSET union variable): " +
            body.substring(at).linesIterator.next().trim)
    }
  }

  /** Parse MATCH_RECOGNIZE text into a [[Cep.SequencePattern]]. */
  def parse(spark: SparkSession, sql: String): Cep.SequencePattern = {
    val body = balancedBody(sql, "MATCH_RECOGNIZE")

    identListClause(body, "PARTITION").foreach { cols =>
      require(cols.map(_.toLowerCase) == Seq("user_id"),
        s"this engine keys Event-typed MATCH_RECOGNIZE by user_id; got " +
          s"PARTITION BY ${cols.mkString(", ")} (detectRelation accepts " +
          "arbitrary keys)")
    }
    identListClause(body, "ORDER").foreach { cols =>
      require(cols.map(_.toLowerCase) == Seq("ts"),
        s"this engine orders Event-typed MATCH_RECOGNIZE by ts; got " +
          s"ORDER BY ${cols.mkString(", ")} (detectRelation accepts " +
          "arbitrary ordering columns)")
    }
    buildPattern(spark, sql, body, eventAttrs, eventPredicate)
  }

  /** The pattern both front-ends run, built from the MATCH_RECOGNIZE
    * `body` once its PARTITION BY / ORDER BY have been checked: clause
    * checks, AFTER MATCH SKIP, WITHIN, then each DEFINE compiled against
    * `attrs` and adapted to the row type by `adapt`, then the PATTERN's
    * steps with skip-to-variable targets resolved.
    */
  private def buildPattern[E](spark: SparkSession, sql: String, body: String,
      attrs: Seq[AttributeReference],
      adapt: BoundPredicate => DefinePredicate[E]): CepCore.SequencePattern[E] = {
    requireKnownClauses(body)
    requireFullCoverage(body)
    val skip = parseSkip(body)

    val withinMs = withinRe.findFirstMatchIn(body) match {
      case Some(m) =>
        val n = m.group(1).toLong
        m.group(2).toUpperCase match {
          case "SECOND" => n * 1000L
          case "MINUTE" => n * 60000L
          case "HOUR" => n * 3600000L
          case "DAY" => n * 86400000L
        }
      case None => Long.MaxValue // unbounded — matches the Scala API's inert bound
    }

    val patBody = balancedBody(body, "PATTERN")
    // the pattern's variable namespace, needed BEFORE compiling DEFINE
    // so FIRST/LAST(V.col) navigation can resolve V
    val pvars = patternVarsFromText(patBody)
    val defines: Map[String, DefinePredicate[E]] =
      defineTexts(body).map { case (name, txt) =>
        name -> adapt(compileAgainst(spark, txt, attrs, pvars, name))
      }

    val mk = (name: String, quant: Option[String]) => {
      // SQL identifiers are case-insensitive: labels normalize to upper
      // case so DEFINE lookup, MEASURES filtering and CLASSIFIER output
      // agree regardless of how the query writes the variable
      val uname = name.toUpperCase
      // SQL-standard rule: an undefined variable matches any row
      val defined = defines.get(uname)
      val pred: (Option[E], E) => Boolean = defined match {
        case Some(p) if p.usesNav => (_, _) => throw new IllegalStateException(
          s"DEFINE $uname uses FIRST/LAST navigation and must be " +
            "evaluated with match context")
        case Some(p) => p
        case None => (_, _) => true
      }
      val nav: Option[(CepCore.NavCtx[E], E) => Boolean] =
        defined.filter(_.usesNav)
          .map(p => (ctx: CepCore.NavCtx[E], e: E) => p.applyNav(ctx, e))
      def step(times: Int = 1, optional: Boolean = false,
          oneOrMore: Boolean = false, greedy: Boolean = false,
          timesMax: Int = 0): CepCore.Step[E] =
        CepCore.Step(uname, pred, times, optional, oneOrMore, greedy, timesMax,
          needsPrev = defined.exists(_.usesPrev), navPredicate = nav)
      quant match {
        case None => step()
        case Some("?") => step(optional = true)
        case Some("+") => step(oneOrMore = true, greedy = true)
        case Some("+?") => step(oneOrMore = true, greedy = false)
        case Some("*") => step(oneOrMore = true, greedy = true, optional = true)
        case Some(braces) =>
          raw"\d+".r.findAllIn(braces).map(_.toInt).toSeq match {
            case Seq(n) => step(times = n)
            case Seq(n, mx) => step(times = n, timesMax = mx)
            case _ => throw new IllegalArgumentException(s"bad quantifier $braces")
          }
      }
    }
    val (alts, excluded) = parsePattern(patBody, mk)
    resolveSkipVar(
      CepCore.SequencePattern[E](alts.head, withinMs, strict = true,
        skip = skip, orElse = alts.tail, excluded = excluded),
      parseSubsets(sql))
  }

  /** Extract `DEFINE var AS predicate, ...` as (VAR → predicate text).
    * DEFINE terminates at end of body — it is last in our subset.
    */
  private def defineTexts(body: String): Map[String, String] =
    keywordAt(body, "DEFINE") match {
      case -1 => Map.empty
      case at =>
        splitTopLevel(body.substring(at + "DEFINE".length)).map { item =>
          val asSplit = raw"(?is)\s+AS\s+".r.findFirstMatchIn(item).getOrElse(
            throw new IllegalArgumentException(s"DEFINE item missing AS: $item"))
          val name = item.substring(0, asSplit.start).trim
          name.toUpperCase -> item.substring(asSplit.end).trim
        }.toMap
    }

  /** Run a MATCH_RECOGNIZE text over a batch of events. */
  def detectBatch(events: Dataset[Event], sql: String): Dataset[Cep.Match] = {
    requireMode(sql, allRows = false, "detectBatch")
    Cep.detectBatch(events, parse(events.sparkSession, sql))
  }

  /** Streaming form — same parse, the NFA's keyed-state path. */
  def detectStream(events: Dataset[Event], sql: String): Dataset[Cep.Match] = {
    requireMode(sql, allRows = false, "detectStream")
    Cep.detectStream(events, parse(events.sparkSession, sql))
  }

  private val perMatchRe =
    raw"(?is)\b(ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\b".r

  /** Validate the query's ONE ROW / ALL ROWS PER MATCH clause (when
    * present) against the output shape of the API actually called — an
    * output-mode clause contradicting the entry point would otherwise
    * be silently ignored, the exact reinterpretation this front-end
    * promises not to do.
    */
  private def requireMode(sql: String, allRows: Boolean, api: String): Unit =
    perMatchRe.findFirstMatchIn(balancedBody(sql, "MATCH_RECOGNIZE"))
      .map(_.group(1).toUpperCase.startsWith("ALL"))
      .foreach { asked =>
        require(asked == allRows,
          s"$api emits ${if (allRows) "ALL ROWS" else "ONE ROW"} PER MATCH " +
            s"but the query requests ${if (asked) "ALL ROWS" else "ONE ROW"} " +
            "PER MATCH — call the detect* variant matching the clause")
      }

  // ---- MEASURES -------------------------------------------------------

  /** One MEASURES item: [RUNNING | FINAL] FUNC(VAR.col[, n]) AS alias.
    * `isFinal` only matters in ALL ROWS PER MATCH, where the default is
    * RUNNING (prefix of the match up to the row) and FINAL sees the
    * whole match on every row; ONE ROW PER MATCH emits at the final row
    * so the two collapse (SQL:2016 / Calcite row-pattern semantics).
    * `offset` is the FIRST/LAST logical-navigation offset (reference
    * MatchCodeGenerator.scala:141 "offsets = LAST/FIRST"): LAST(V.c, n)
    * is the n-th row back from the variable's last matched row,
    * FIRST(V.c, n) the n-th forward from its first; out of range is
    * NULL, exactly as in DEFINE navigation.
    */
  final case class Measure(func: String, variable: String, column: String,
      alias: String, isFinal: Boolean = false, offset: Int = 0)

  private val measureItemRe =
    raw"(?is)^(?:(RUNNING|FINAL)\s+)?(FIRST|LAST|COUNT|SUM|AVG|MIN|MAX)\s*\(\s*([A-Za-z_][A-Za-z_0-9]*)\.(\*|[A-Za-z_][A-Za-z_0-9]*)\s*(?:,\s*(\d+)\s*)?\)\s+AS\s+([A-Za-z_][A-Za-z_0-9]*)$$".r

  /** Parse the MEASURES clause (empty if absent). Subset: FIRST / LAST
    * / COUNT / SUM / AVG / MIN / MAX over `VAR.column` (COUNT also
    * takes `VAR.*`; FIRST/LAST also take a logical-navigation offset,
    * `LAST(V.col, n)`), each optionally prefixed RUNNING or FINAL.
    * VAR may be a SUBSET union variable. In ONE ROW PER MATCH the
    * running/final distinction collapses (every measure is final); in
    * ALL ROWS PER MATCH the default is RUNNING and FINAL pins the
    * whole-match frame (reference semantics: StreamExecMatch.java
    * MEASURES on the match relation).
    */
  def parseMeasures(sql: String): Seq[Measure] = {
    val body = balancedBody(sql, "MATCH_RECOGNIZE")
    val at = raw"(?is)\bMEASURES\b".r.findFirstMatchIn(body) match {
      case Some(m) => m.end
      case None => return Seq.empty
    }
    val end = raw"(?is)\b(AFTER\s+MATCH|PATTERN|ONE\s+ROW|ALL\s+ROWS|WITHIN)\b".r
      .findFirstMatchIn(body.substring(at))
      .map(_.start + at)
      .getOrElse(body.length)
    splitTopLevel(body.substring(at, end)).map { item =>
      measureItemRe.findFirstMatchIn(item) match {
        case Some(m) =>
          val func = m.group(2).toUpperCase
          val off = Option(m.group(5)).map(_.toInt).getOrElse(0)
          require(off == 0 || func == "FIRST" || func == "LAST",
            s"offset argument is only valid on FIRST/LAST navigation: $item")
          Measure(func, m.group(3).toUpperCase,
            m.group(4).toLowerCase, m.group(6),
            isFinal = Option(m.group(1)).exists(_.equalsIgnoreCase("FINAL")),
            offset = off)
        case None => throw new IllegalArgumentException(
          "unsupported MEASURES item (subset is [RUNNING|FINAL] " +
            s"FUNC(VAR.col[, n]) AS alias): $item")
      }
    }
  }

  /** Parse the SUBSET clause (empty if absent): union variables,
    * `SUBSET S = (A, B), T = (C)` — a measure over S aggregates the
    * rows matched to ANY member variable (SQL:2016 row-pattern SUBSET;
    * reference: the Calcite grammar StreamExecMatch.java:90 compiles).
    * Names are case-normalized like pattern labels. Malformed items,
    * empty member lists, and duplicate subset names throw.
    */
  def parseSubsets(sql: String): Map[String, Seq[String]] = {
    val body = balancedBody(sql, "MATCH_RECOGNIZE")
    val at = raw"(?is)\bSUBSET\b".r.findAllMatchIn(body)
      .find(m => body.substring(0, m.start).count(_ == '\'') % 2 == 0) match {
      case Some(m) => m.end
      case None => return Map.empty
    }
    // SUBSET sits between PATTERN/WITHIN and DEFINE in clause order
    val end = raw"(?is)\bDEFINE\b".r.findFirstMatchIn(body.substring(at))
      .map(_.start + at).getOrElse(body.length)
    val itemRe = raw"(?is)^([A-Za-z_][A-Za-z_0-9]*)\s*=\s*\(([^()]*)\)$$".r
    val items = splitTopLevel(body.substring(at, end)).map { item =>
      itemRe.findFirstMatchIn(item) match {
        case Some(m) =>
          val members = m.group(2).split(",", -1).map(_.trim).toSeq
          members.foreach(v =>
            require(raw"[A-Za-z_][A-Za-z_0-9]*".r.matches(v),
              s"unsupported SUBSET member '$v' — members are bare " +
                "pattern variable names"))
          m.group(1).toUpperCase -> members.map(_.toUpperCase)
        case None => throw new IllegalArgumentException(
          s"unsupported SUBSET item (subset is NAME = (V1, V2, ...)): $item")
      }
    }
    val dup = items.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate SUBSET name(s): ${dup.mkString(", ")}")
    items.toMap
  }

  /** Every variable name of the pattern (all alternatives, groups
    * included) — the namespace MEASURES variables resolve against.
    */
  private def patternVarNames[E](p: CepCore.SequencePattern[E]): Set[String] = {
    def names(s: CepCore.Step[E]): Seq[String] =
      if (s.choices.isEmpty) Seq(s.name) else s.choices.map(_._1)
    def of(e: CepCore.Elem[E]): Seq[String] = e match {
      case s: CepCore.Step[E] => names(s)
      case g: CepCore.Group[E] => g.steps.flatMap(names)
    }
    (p.elems +: p.orElse).flatten.flatMap(of).toSet
  }

  /** The step labels a measure variable covers: the variable itself or
    * its SUBSET members. Unknown variables throw — a typo'd variable
    * must not silently aggregate over zero rows — as do subsets that
    * shadow a pattern variable or reference an undefined one.
    */
  private def resolveMeasureVar(v: String, subsets: Map[String, Seq[String]],
      patternVars: Set[String]): Seq[String] = {
    subsets.foreach { case (n, ms) =>
      require(!patternVars(n),
        s"SUBSET name $n shadows a pattern variable")
      require(ms.nonEmpty, s"SUBSET $n has no members")
      ms.foreach(m => require(patternVars(m),
        s"SUBSET $n references undefined pattern variable $m"))
    }
    if (subsets.contains(v)) subsets(v)
    else {
      require(patternVars(v),
        s"MEASURES references unknown variable $v (pattern variables: " +
          s"${patternVars.toSeq.sorted.mkString(", ")}" +
          (if (subsets.isEmpty) ""
           else s"; subsets: ${subsets.keys.toSeq.sorted.mkString(", ")}") +
          ")")
      Seq(v)
    }
  }

  /** The one-row MEASURES columns, over `__arr`: a match's rows as
    * (`__pos`, `__lab`, columns…) structs sorted by position. FIRST/LAST
    * navigate by position; COUNT/SUM/AVG/MIN/MAX aggregate the
    * variable's rows. `field` names the struct field of a measure's
    * column and rejects unknown columns.
    */
  private def measureColumns(measures: Seq[Measure],
      subsets: Map[String, Seq[String]], patternVars: Set[String],
      field: String => String): Seq[Column] = {
    require(measures.nonEmpty, "MEASURES clause is empty")
    measures.map { ms =>
      val labs = resolveMeasureVar(ms.variable, subsets, patternVars)
      val rows = filter(col("__arr"), x =>
        if (labs.size == 1) x.getField("__lab") === labs.head
        else x.getField("__lab").isin(labs: _*))
      def vals = transform(rows, x => x.getField(field(ms.column)))
      // SQL aggregates skip NULLs: COUNT(col)/SUM/AVG see only the
      // variable's non-null values (COUNT(V.*) counts rows)
      def nnums = filter(
        transform(rows, x => x.getField(field(ms.column)).cast("double")),
        v => v.isNotNull)
      val c = ms.func match {
        // navigation is positional over the variable's matched rows;
        // the size guard makes out-of-range NULL (ANSI element_at
        // would throw) — same out-of-range rule as DEFINE navigation
        case "FIRST" =>
          when(size(vals) > ms.offset, element_at(vals, ms.offset + 1))
        case "LAST" =>
          when(size(vals) > ms.offset, element_at(vals, -(ms.offset + 1)))
        case "COUNT" =>
          (if (ms.column == "*") size(rows)
           else size(filter(vals, v => v.isNotNull))).cast("long")
        // SQL aggregate semantics: SUM/AVG over zero (non-null) rows
        // (a variable that matched nothing, e.g. optional) is NULL,
        // not 0 — the non-null fold seed must not leak out
        case "SUM" =>
          when(size(nnums) > 0, aggregate(nnums, lit(0.0), (acc, x) => acc + x))
        case "AVG" =>
          when(size(nnums) > 0,
            aggregate(nnums, lit(0.0), (acc, x) => acc + x) / size(nnums))
        case "MIN" => array_min(vals)
        case "MAX" => array_max(vals)
      }
      c.as(ms.alias)
    }
  }

  /** Compute MEASURES over the Event match relation: one equi join of
    * the exploded (event_id, step_name) pairs back to the events, one
    * groupBy per match collecting the row-ordered structs, then
    * [[measureColumns]]. No driver state; the shuffle keys are event_id
    * (join) and the match id (re-group), both well-spread.
    */
  private def withMeasures(
      matches: DataFrame,
      events: DataFrame,
      measures: Seq[Measure],
      subsets: Map[String, Seq[String]],
      patternVars: Set[String]
  ): DataFrame = {
    val cols = measureColumns(measures, subsets, patternVars, {
      case c @ ("event_id" | "ts" | "event_type" | "value") => c
      case other => throw new IllegalArgumentException(
        s"unknown event column in MEASURES: $other")
    })
    val m = matches.withColumn("__mid", monotonically_increasing_id())
    val ex = m
      .select(
        col("__mid"), col("key"), col("start_ts"), col("end_ts"),
        posexplode(arrays_zip(col("event_ids"), col("step_names")))
          .as(Seq("__pos", "__z"))
      )
      .select(
        col("__mid"), col("key"), col("start_ts"), col("end_ts"),
        col("__pos"),
        col("__z.event_ids").as("__eid"),
        col("__z.step_names").as("__lab")
      )
    val ev = events.select(
      col("event_id").as("__eid"),
      col("ts").as("__ts"),
      col("event_type").as("__etype"),
      col("value").as("__value")
    )
    val grouped = ex
      .join(ev, Seq("__eid"))
      .groupBy(col("__mid"), col("key"), col("start_ts"), col("end_ts"))
      .agg(
        sort_array(collect_list(struct(
          col("__pos"), col("__lab"), col("__eid").as("event_id"),
          col("__ts").as("ts"), col("__etype").as("event_type"),
          col("__value").as("value")
        ))).as("__arr")
      )
    grouped.select(
      col("key") +: col("start_ts") +: col("end_ts") +: cols: _*)
  }

  /** Run a MATCH_RECOGNIZE text with a MEASURES clause over a batch of
    * events: one row per match with (key, start_ts, end_ts) plus the
    * measure columns.
    */
  def detectBatchWithMeasures(events: Dataset[Event], sql: String): DataFrame = {
    requireMode(sql, allRows = false, "detectBatchWithMeasures")
    // parse once: the same bound pattern feeds the NFA run and the
    // measure-variable namespace
    val pat = parse(events.sparkSession, sql)
    // r22: pin the NFA exchange's partition count only when the NFA is
    // the CPU-dominant phase (alternation/loops); for bounded patterns
    // the MEASURES pipeline below dominates and the pin costs
    // scheduling overhead (nav_measures paired A/B: 1.22-1.35x pinned,
    // 0.87x unpinned).
    withMeasures(
      Cep.detectBatch(events, pat,
        pinParallelism = pat.cpuBoundNfa).toDF(),
      events.toDF(),
      parseMeasures(sql),
      parseSubsets(sql),
      patternVarNames(pat))
  }

  /** ALL ROWS PER MATCH output mode (SQL-standard counterpart of the
    * default ONE ROW PER MATCH): one output row per MATCHED INPUT ROW,
    * carrying CLASSIFIER() (the row's pattern variable — the NFA's
    * step label) and MATCH_NUMBER() (1-based per partition, in match
    * order). match_number is a per-key window (keys are the partition
    * column — well spread; no global ordering exists, matching the
    * standard's per-partition numbering).
    */
  def detectBatchAllRows(events: Dataset[Event], sql: String): DataFrame = {
    requireMode(sql, allRows = true, "detectBatchAllRows")
    val pat = parse(events.sparkSession, sql)
    val full = allRowsFull(events, pat)
    val ex = pat.excluded
    // {- -} exclusion: matched rows omitted from ALL ROWS output (they
    // still matched — row_in_match keeps its position in the full match)
    if (ex.isEmpty) full
    else full.filter(!col("classifier").isin(ex.toSeq: _*))
  }

  private def allRowsFull(events: Dataset[Event],
      pat: Cep.SequencePattern): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Cep.detectBatch(events, pat).toDF()
    val w = Window
      .partitionBy(col("key"))
      .orderBy(
        col("start_ts"), element_at(col("event_ids"), 1),
        col("end_ts"), element_at(col("event_ids"), -1))
    m.withColumn("match_no", row_number().over(w).cast("long"))
      .select(
        col("key"),
        col("match_no"),
        posexplode(arrays_zip(col("event_ids"), col("step_names")))
          .as(Seq("__pos", "__z"))
      )
      .select(
        col("key"),
        col("match_no"),
        (col("__pos") + 1).cast("long").as("row_in_match"),
        col("__z.event_ids").as("event_id"),
        col("__z.step_names").as("classifier")
      )
  }

  /** [[detectBatchAllRows]] plus MEASURES with the SQL-standard
    * RUNNING semantics of ALL ROWS PER MATCH: each output row carries
    * the measure computed over the match's rows UP TO AND INCLUDING
    * itself (a row before the variable's first occurrence sees NULL
    * for FIRST/LAST/MIN/MAX/SUM and 0 for COUNT). Implemented as
    * window aggregates per (key, match_no) ordered by row_in_match —
    * partition keys are (user, match), well-spread; no driver state.
    */
  def detectBatchAllRowsWithMeasures(events: Dataset[Event], sql: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // measures run over the FULL match relation — SQL:2016 exclusion
    // only omits rows from OUTPUT; excluded rows still feed aggregates
    requireMode(sql, allRows = true, "detectBatchAllRowsWithMeasures")
    val parsed = parse(events.sparkSession, sql)
    val base = allRowsFull(events, parsed)
    val measures = parseMeasures(sql)
    if (measures.isEmpty) return detectBatchAllRows(events, sql)
    val subsets = parseSubsets(sql)
    val pvars = patternVarNames(parsed)
    val ev = events.toDF().select(
      col("event_id").as("__eid"),
      col("ts").as("__ts"),
      col("event_type").as("__etype"),
      col("value").as("__value")
    )
    val joined = base.join(ev, base("event_id") === ev("__eid"))
    // RUNNING (the mode's default): the match prefix up to the row;
    // FINAL: the whole match on every row
    val w = Window.partitionBy(col("key"), col("match_no"))
      .orderBy(col("row_in_match"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFinal = Window.partitionBy(col("key"), col("match_no"))
      .orderBy(col("row_in_match"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def fieldOf(c: String): Column = c match {
      case "event_id" => col("__eid")
      case "ts" => col("__ts")
      case "event_type" => col("__etype")
      case "value" => col("__value")
      case other => throw new IllegalArgumentException(
        s"unknown event column in MEASURES: $other")
    }
    val cols = measures.map { ms =>
      val labs = resolveMeasureVar(ms.variable, subsets, pvars)
      val ofVar =
        if (labs.size == 1) col("classifier") === labs.head
        else col("classifier").isin(labs: _*)
      val wm = if (ms.isFinal) wFinal else w
      def v = when(ofVar, fieldOf(ms.column))
      def num = when(ofVar, fieldOf(ms.column).cast("double"))
      val c = ms.func match {
        // SQL COUNT(col) skips NULLs — count the VALUE, not the row;
        // only COUNT(V.*) counts matched rows unconditionally
        case "COUNT" =>
          if (ms.column == "*") count(when(ofVar, lit(1))).over(wm)
          else count(v).over(wm)
        case "SUM" => sum(num).over(wm)
        // avg skips NULLs natively; sum/count would double-count rows
        // whose value is NULL
        case "AVG" => avg(num).over(wm)
        case "MIN" => min(v).over(wm)
        case "MAX" => max(v).over(wm)
        case "FIRST" if ms.offset == 0 => first(v, ignoreNulls = true).over(wm)
        case "LAST" if ms.offset == 0 => last(v, ignoreNulls = true).over(wm)
        // offset navigation is positional over the variable's rows in
        // the frame: collect the variable's values in frame order
        // (null structs — non-variable rows — are skipped by
        // collect_list; a null VALUE rides inside a non-null struct so
        // positions stay faithful), then index with an out-of-range
        // NULL guard, exactly as in DEFINE navigation
        case "FIRST" | "LAST" =>
          val arr = collect_list(when(ofVar, struct(fieldOf(ms.column)
            .as("__v")))).over(wm)
          val idx = if (ms.func == "FIRST") ms.offset + 1 else -(ms.offset + 1)
          when(size(arr) > ms.offset, element_at(arr, idx).getField("__v"))
      }
      c.as(ms.alias)
    }
    val out = joined.select(col("key") +: col("match_no") +:
      col("row_in_match") +: col("event_id") +: col("classifier") +: cols: _*)
    // drop excluded rows AFTER the measure windows saw them
    if (parsed.excluded.isEmpty) out
    else out.filter(!col("classifier").isin(parsed.excluded.toSeq: _*))
  }

  // ---- arbitrary relations --------------------------------------------

  /** Row wrapper the generic NFA runs over: the original external row
    * (emitted back out), the within-clock milliseconds, and its
    * Catalyst form (predicates evaluate on it), converted on first use
    * so rows no predicate reads are never converted.
    */
  private final class REv(val row: Row, val tsMs: Long, toCatalyst: Any => Any) {
    lazy val ir: InternalRow = toCatalyst(row).asInstanceOf[InternalRow]
  }

  /** The ALL ROWS PER MATCH output of one match: each matched row's
    * columns plus `match_no`, `row_in_match` and `classifier`.
    */
  private def matchRows(m: CepCore.Match[REv], matchNo: Long): Seq[Row] =
    m.rows.zip(m.labels).zipWithIndex.map { case ((ev, lab), i) =>
      Row.fromSeq(ev.row.toSeq ++ Seq(matchNo, (i + 1).toLong, lab))
    }

  private val clauseKwRe =
    raw"(?is)\b(PARTITION\s+BY|ORDER\s+BY|MEASURES|AFTER\s+MATCH|PATTERN|WITHIN|SUBSET|DEFINE|ONE\s+ROW|ALL\s+ROWS)\b".r

  /** The column list of a `<head> BY c1, c2, ...` clause, parsed
    * STRICTLY: the clause runs to the next clause keyword, and every
    * comma-separated item must be a bare column name. `ORDER BY ts
    * DESC` or `PARTITION BY a.b` throw (the subset has no DESC/ASC,
    * expressions, or qualified names) instead of silently matching a
    * prefix and reinterpreting the query.
    */
  private def identListClause(body: String, head: String): Option[Seq[String]] = {
    val re = raw"(?is)\b$head\s+BY\b".r
    re.findAllMatchIn(body)
      .find(m => body.substring(0, m.start).count(_ == '\'') % 2 == 0)
      .map { m =>
        val rest = body.substring(m.end)
        val end = clauseKwRe.findFirstMatchIn(rest).map(_.start).getOrElse(rest.length)
        val items = rest.substring(0, end).split(",", -1).map(_.trim).toSeq
        items.foreach { c =>
          require(raw"[A-Za-z_][A-Za-z_0-9]*".r.matches(c),
            s"unsupported $head BY item '$c' — this subset accepts a comma " +
              "list of bare column names (no DESC/ASC, expressions, or " +
              "qualified names)")
        }
        items
      }
  }

  /** Milliseconds extractor for the WITHIN clock from the first ORDER
    * BY column; None when the type has no temporal meaning (WITHIN is
    * then rejected, plain ordering still works).
    */
  private def tsExtractor(dt: DataType, i: Int): Option[Row => Long] = dt match {
    case TimestampType =>
      Some(r => if (r.isNullAt(i)) 0L else r.getAs[java.sql.Timestamp](i).getTime)
    case DateType =>
      Some(r => if (r.isNullAt(i)) 0L else r.getAs[java.sql.Date](i).getTime)
    case LongType => Some(r => if (r.isNullAt(i)) 0L else r.getLong(i))
    case IntegerType => Some(r => if (r.isNullAt(i)) 0L else r.getInt(i).toLong)
    case _ => None
  }

  /** Run a MATCH_RECOGNIZE text over ANY relation — the reference's
    * StreamExecMatch runs over any input RowType (StreamExecMatch
    * .java:90); this is graft's equivalent surface. The attribute list
    * is the DataFrame's own schema; PARTITION BY / ORDER BY accept any
    * of its columns (comma lists); DEFINE predicates are Spark-parsed
    * against that schema and may use PREV(col) physical navigation.
    *
    * Output is ALL ROWS PER MATCH: every matched input row with its
    * original columns plus `match_no` (1-based per partition key, in
    * match order), `row_in_match` (1-based position), and `classifier`
    * (the row's pattern variable).
    *
    * Scale shape: one shuffle on the partition keys, disk-backed
    * secondary sort, then a single per-partition scan whose working
    * state is the NFA's live partials — never a key's full history
    * (same hot-key-safe design as [[Cep.detectBatch]]).
    */
  def detectRelation(df: DataFrame, sql: String): DataFrame = {
    requireMode(sql, allRows = true, "detectRelation")
    val spec = parseRelation(df, sql)
    excludeRows(runRelationBatch(df, spec), spec)
  }

  /** Apply `{- -}` output exclusion to an all-rows relation (the
    * one-row MEASURES path deliberately does NOT call this — excluded
    * rows still feed aggregates).
    */
  private def excludeRows(allRows: DataFrame, spec: RelSpec): DataFrame =
    if (spec.pattern.excluded.isEmpty) allRows
    else allRows.filter(
      !col("classifier").isin(spec.pattern.excluded.toSeq: _*))

  /** Everything the detectRelation* family needs, parsed once from the
    * MATCH_RECOGNIZE text against the input schema. Serializable: the
    * pattern's predicates are bound Catalyst expressions, the clock is
    * a plain closure.
    */
  private final case class RelSpec(
      partCols: Seq[String],
      orderCols: Seq[String],
      partIdx: Seq[Int],
      orderIdx: Seq[Int],
      clock: Row => Long,
      pattern: CepCore.SequencePattern[REv],
      outSchema: StructType
  )

  private def parseRelation(df: DataFrame, sql: String): RelSpec = {
    val spark = df.sparkSession
    val body = balancedBody(sql, "MATCH_RECOGNIZE")
    val schema = df.schema
    val attrs: Seq[AttributeReference] = schema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())

    def resolve(name: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0, s"MATCH_RECOGNIZE references unknown column '$name' " +
        s"(input columns: ${schema.fieldNames.mkString(", ")})")
      i
    }
    val partCols = identListClause(body, "PARTITION")
      .getOrElse(throw new IllegalArgumentException(
        "MATCH_RECOGNIZE over a relation requires PARTITION BY"))
    val orderCols = identListClause(body, "ORDER")
      .getOrElse(throw new IllegalArgumentException(
        "MATCH_RECOGNIZE over a relation requires ORDER BY"))
    val partIdx = partCols.map(resolve)
    val orderIdx = orderCols.map(resolve)

    val pattern = buildPattern[REv](spark, sql, body, attrs,
      p => new DefinePredicate[REv](p, 0, (e, _) => e.ir))
    val tsF = tsExtractor(schema(orderIdx.head).dataType, orderIdx.head)
    require(pattern.withinMs == Long.MaxValue || tsF.isDefined,
      s"WITHIN requires the first ORDER BY column to be a timestamp/date/" +
        s"integer; ${orderCols.head} is ${schema(orderIdx.head).dataType.sql}")
    val clock: Row => Long = tsF.getOrElse(_ => 0L)

    val outSchema = StructType(schema.fields.toSeq ++ Seq(
      org.apache.spark.sql.types.StructField("match_no", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("row_in_match", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("classifier", StringType, nullable = false)))
    RelSpec(partCols, orderCols, partIdx, orderIdx, clock, pattern, outSchema)
  }

  private def runRelationBatch(df: DataFrame, spec: RelSpec,
      pinParallelism: Boolean = true): DataFrame = {
    val schema = df.schema
    val partIdx = spec.partIdx
    val clock = spec.clock
    val pattern = spec.pattern

    val partExprs = spec.partCols.map(col)
    val sortExprs = (spec.partCols ++ spec.orderCols).map(col)
    // r21 (guide §2.5): EXPLICIT partition count. The NFA pass below is
    // pure per-row CPU, but AQE sizes post-shuffle partitions by BYTES
    // — a few MB of events coalesce to 1-2 tasks and the match loop
    // runs serially on a 32-core host. Pinning numShufflePartitions
    // (session conf — deployment-sized, not a local constant) opts this
    // one exchange out of byte-based coalescing; per-key grouping and
    // match output are partition-count-invariant. r22: a MEASURES
    // caller whose cost sits downstream of the NFA opts out via
    // `pinParallelism = pattern.cpuBoundNfa` (see
    // detectRelationWithMeasures); all direct-output paths keep the pin
    // — the generic-Row NFA pays a per-row Catalyst conversion, so it
    // is CPU-bound even for bounded patterns (the typed path's
    // double_error measured 1.27x when its pin was removed).
    val keyed =
      if (pinParallelism)
        df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
          partExprs: _*)
      else df.repartition(partExprs: _*)
    keyed
      .sortWithinPartitions(sortExprs: _*)
      .mapPartitions { rows =>
        val conv = CatalystTypeConverters.createToCatalystConverter(schema)
        // key-group boundaries compare by VALUE: BinaryType partition
        // columns surface as Array[Byte], whose == is reference
        // equality — wrap arrays so equal keys compare equal instead
        // of splitting every row into its own group
        def keyOf(ev: REv): Seq[Any] = partIdx.map(ev.row.apply).map {
          case a: Array[_] => a.toSeq
          case x => x
        }
        CepCore.scanSortedPartition(pattern,
          rows.map(r => new REv(r, clock(r), conv)), keyOf, (e: REv) => e.tsMs) {
          (_, m, matchNo) => matchRows(m, matchNo)
        }
      }(Encoders.row(spec.outSchema))
  }

  /** ONE ROW PER MATCH with MEASURES over ANY relation: one output row
    * per match carrying the PARTITION BY columns, `match_no`, and the
    * measure columns — the generic-schema counterpart of
    * [[detectBatchWithMeasures]] (reference: StreamExecMatch MEASURES
    * over any input RowType). The ALL ROWS relation already carries
    * every original column, so measures are one groupBy per match over
    * collected (position, label, referenced-columns) structs — no join
    * back to the input; shuffle keys are (partition cols, match_no),
    * well-spread.
    */
  def detectRelationWithMeasures(df: DataFrame, sql: String): DataFrame = {
    requireMode(sql, allRows = false, "detectRelationWithMeasures")
    val spec = parseRelation(df, sql)
    val measures = parseMeasures(sql)
    // r22: same consumer-conditional pin as detectBatchWithMeasures —
    // the per-match re-group below dominates for bounded patterns
    relationMeasures(
      runRelationBatch(df, spec,
        pinParallelism = spec.pattern.cpuBoundNfa),
      df.schema, spec.partCols,
      measures, parseSubsets(sql), patternVarNames(spec.pattern))
  }

  private def relationMeasures(allRows: DataFrame, schema: StructType,
      partCols: Seq[String], measures: Seq[Measure],
      subsets: Map[String, Seq[String]],
      patternVars: Set[String]): DataFrame = {
    // resolve measure columns case-insensitively against the schema
    def actual(c: String): String = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(i >= 0, s"unknown column in MEASURES: $c " +
        s"(input columns: ${schema.fieldNames.mkString(", ")})")
      schema.fieldNames(i)
    }
    val refCols = measures.map(_.column).filter(_ != "*").map(actual).distinct
    val keyCols = partCols.map(col)
    // sort_array orders by the struct's first field — the row's
    // position in the match — so FIRST/LAST are element_at
    val arr = sort_array(collect_list(struct(
      col("row_in_match").as("__pos") +: col("classifier").as("__lab") +:
        refCols.map(c => col(c).as(c)): _*)))
    val grouped = allRows
      .groupBy(keyCols :+ col("match_no"): _*)
      .agg(arr.as("__arr"))
    grouped.select((keyCols :+ col("match_no")) ++
      measureColumns(measures, subsets, patternVars, actual): _*)
  }

  /** Keyed streaming state for [[detectRelationStream]]: the
    * not-yet-ripe row buffer, the NFA partials (rows dehydrated to
    * their external form — rehydrated per batch), and the per-key
    * match counter so `match_no` numbering survives micro-batch
    * boundaries.
    */
  // public (not private) — Spark's kryo encoder requires a public class
  final case class RelNfaState(
      buffer: Seq[Row],
      partials: Seq[CepCore.PartialMatch[Row]],
      nextSeq: Long,
      prev: Option[Row],
      matchNo: Long
  )

  /** Streaming MATCH_RECOGNIZE over ANY relation — the reference's
    * primary mode (StreamExecMatch.java:90 runs on unbounded input).
    * Same parse and output relation as [[detectRelation]]; execution
    * mirrors [[Cep.detectStreamOrdered]] / the reference CepOperator:
    * each key buffers out-of-order rows in state until the watermark
    * passes them, releases the ripe prefix into the NFA in strict
    * event-time order, expires partials per WITHIN on the watermark,
    * and drops idle prev-only cells after a full within horizon of
    * silence. Buffered state is bounded by the watermark delay, NFA
    * state by WITHIN — nothing grows with stream length.
    *
    * The first ORDER BY column must be a TIMESTAMP — it carries the
    * watermark.
    */
  def detectRelationStream(df: DataFrame, sql: String,
      watermarkDelay: String): DataFrame = {
    requireMode(sql, allRows = true, "detectRelationStream")
    val spec = parseRelation(df, sql)
    excludeRows(
      relationStreamRun(df, spec, watermarkDelay, spec.outSchema)(matchRows),
      spec)
  }

  /** Streaming ONE ROW PER MATCH with MEASURES over ANY relation: the
    * state machinery of [[detectRelationStream]], but each completed
    * match emits a single row (PARTITION BY columns, match_no, the
    * measures) computed in-operator from the match's own rows — the
    * stream stays a plain append sink, no post-hoc aggregation query.
    * Measure semantics mirror the batch [[detectRelationWithMeasures]]
    * path: SUBSET label filters, COUNT skips NULLs (COUNT(V.*) counts
    * rows), SUM/AVG over zero non-null values are NULL, FIRST/LAST by
    * match position, and RUNNING/FINAL collapse in one-row mode.
    */
  def detectRelationStreamWithMeasures(df: DataFrame, sql: String,
      watermarkDelay: String): DataFrame = {
    requireMode(sql, allRows = false, "detectRelationStreamWithMeasures")
    val spec = parseRelation(df, sql)
    val schema = df.schema
    val measures = parseMeasures(sql)
    require(measures.nonEmpty, "MEASURES clause is empty")
    val subsets = parseSubsets(sql)
    val pvars = patternVarNames(spec.pattern)
    def actualIdx(c: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(i >= 0, s"unknown column in MEASURES: $c " +
        s"(input columns: ${schema.fieldNames.mkString(", ")})")
      i
    }
    val plans: Seq[(Measure, Set[String], Int)] = measures.map { ms =>
      val labs = resolveMeasureVar(ms.variable, subsets, pvars).toSet
      val idx =
        if (ms.column == "*") {
          require(ms.func == "COUNT",
            s"${ms.func}(${ms.variable}.*) — '*' only combines with COUNT")
          -1
        } else actualIdx(ms.column)
      (ms, labs, idx)
    }
    val outSchema = StructType(
      spec.partIdx.map(schema(_)) ++
        Seq(org.apache.spark.sql.types.StructField("match_no", LongType,
          nullable = false)) ++
        plans.map { case (ms, _, idx) =>
          val dt = ms.func match {
            case "COUNT" => LongType
            case "SUM" | "AVG" => org.apache.spark.sql.types.DoubleType
            case _ => schema(idx).dataType
          }
          org.apache.spark.sql.types.StructField(ms.alias, dt, nullable = true)
        })
    val partIdx = spec.partIdx
    // batch-parity numeric coercion: Spark's string→double cast is
    // Java parseDouble (which accepts '1d', '0x1p3', 'Infinity') PLUS
    // case-insensitive special literals ('inf', 'infinity', 'nan' —
    // Cast.processFloatingPointSpecialLiterals) that parseDouble alone
    // rejects; everything else becomes NULL (and is skipped by
    // SUM/AVG). Verified against spark.sql cast behavior so the
    // streaming measures agree with the batch detectRelationWithMeasures
    // path on every string input.
    def numOf(x: Any): java.lang.Double = x match {
      case null => null
      case n: java.lang.Number => n.doubleValue()
      case s: String =>
        val t = s.trim
        try java.lang.Double.valueOf(t)
        catch {
          case _: NumberFormatException =>
            t.toLowerCase match {
              case "inf" | "+inf" | "infinity" | "+infinity" =>
                java.lang.Double.valueOf(Double.PositiveInfinity)
              case "-inf" | "-infinity" =>
                java.lang.Double.valueOf(Double.NegativeInfinity)
              case "nan" => java.lang.Double.valueOf(Double.NaN)
              case _ => null
            }
        }
      case _ => null
    }
    val anyOrd: Ordering[Any] =
      (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    relationStreamRun(df, spec, watermarkDelay, outSchema) { (m, matchNo) =>
      val keyVals = partIdx.map(m.rows.head.row.get)
      val measureVals: Seq[Any] = plans.map { case (ms, labs, idx) =>
        val rows = m.rows.zip(m.labels).collect {
          case (ev, lab) if labs(lab) => ev.row
        }
        val vals = if (idx < 0) Nil else rows.map(_.get(idx))
        val nn = vals.filter(_ != null)
        lazy val nums = nn.map(numOf).filter(_ != null).map(_.doubleValue())
        ms.func match {
          case "COUNT" => if (idx < 0) rows.size.toLong else nn.size.toLong
          case "SUM" => if (nums.isEmpty) null else nums.sum
          case "AVG" => if (nums.isEmpty) null else nums.sum / nums.size
          case "FIRST" => vals.headOption.orNull
          case "LAST" => vals.lastOption.orNull
          case "MIN" => if (nn.isEmpty) null else nn.min(anyOrd)
          case "MAX" => if (nn.isEmpty) null else nn.max(anyOrd)
        }
      }
      Seq(Row.fromSeq(keyVals ++ Seq(matchNo) ++ measureVals))
    }
  }

  /** Diagnostic probe for the streaming NFA's per-key state sizes —
    * the quantities the 100-TB deployment must keep bounded: live
    * partial matches (bounded by the WITHIN horizon via per-event and
    * per-watermark retirement) and the out-of-order row buffer
    * (bounded by the watermark delay). Off by default (one volatile
    * read per key per micro-batch when disabled); local-mode only —
    * on a multi-executor cluster each executor observes its own keys,
    * so the gate that uses this runs on local[n] where all state
    * shares the JVM.
    */
  object CepStateProbe {
    @volatile var enabled = false
    val maxPartials = new java.util.concurrent.atomic.AtomicLong(0)
    val maxBuffer = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit = { maxPartials.set(0); maxBuffer.set(0) }
    private[streaming] def observe(partials: Int, buffer: Int): Unit =
      if (enabled) {
        maxPartials.getAndAccumulate(partials.toLong, math.max(_, _))
        maxBuffer.getAndAccumulate(buffer.toLong, math.max(_, _))
      }
  }

  private def relationStreamRun(df: DataFrame, spec: RelSpec,
      watermarkDelay: String, outSchema: StructType)(
      emitMatch: (CepCore.Match[REv], Long) => Seq[Row]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val schema = df.schema
    require(schema(spec.orderIdx.head).dataType == TimestampType,
      "detectRelationStream needs the first ORDER BY column to be " +
        s"TIMESTAMP (the watermark column); ${spec.orderCols.head} is " +
        schema(spec.orderIdx.head).dataType.sql)
    val pattern = spec.pattern
    val clock = spec.clock
    val partIdx = spec.partIdx
    val orderIdx = spec.orderIdx
    // event-time order within a key; null order keys sort first
    val ord: Ordering[REv] = new Ordering[REv] {
      override def compare(a: REv, b: REv): Int = {
        var k = 0
        while (k < orderIdx.length) {
          val i = orderIdx(k)
          val av = a.row.get(i)
          val bv = b.row.get(i)
          val c =
            if (av == null && bv == null) 0
            else if (av == null) -1
            else if (bv == null) 1
            else av.asInstanceOf[Comparable[Any]].compareTo(bv)
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
    val keySchema = StructType(partIdx.map(schema(_)))
    val keyEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(keySchema)
    val stateEnc: org.apache.spark.sql.Encoder[RelNfaState] =
      Encoders.kryo[RelNfaState]
    val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    df.withWatermark(spec.orderCols.head, watermarkDelay)
      .groupByKey((r: Row) => Row.fromSeq(partIdx.map(r.get)))(keyEnc)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: Row, rows: Iterator[Row],
         state: org.apache.spark.sql.streaming.GroupState[RelNfaState]) =>
          val conv = CatalystTypeConverters.createToCatalystConverter(schema)
          def toREv(r: Row): REv = new REv(r, clock(r), conv)
          def hydrate(p: CepCore.PartialMatch[Row]): CepCore.PartialMatch[REv] =
            CepCore.PartialMatch(p.stepIdx, p.inLoop, p.startTs, p.lastTs,
              p.startSeq, p.lastSeq, p.rows.map(toREv).toVector,
              p.labels.toVector, p.branch, p.rowSeqs)
          def dehydrate(p: CepCore.PartialMatch[REv]): CepCore.PartialMatch[Row] =
            CepCore.PartialMatch(p.stepIdx, p.inLoop, p.startTs, p.lastTs,
              p.startSeq, p.lastSeq, p.rows.map(_.row), p.labels, p.branch,
              p.rowSeqs)
          val st0 = state.getOption
            .getOrElse(RelNfaState(Seq.empty, Seq.empty, 0L, None, 0L))
          val step = CepCore.watermarkStep(pattern, st0.buffer.map(toREv),
            rows.map(toREv).toSeq,
            CepCore.NfaState[REv](st0.partials.map(hydrate), st0.nextSeq,
              st0.prev.map(toREv)),
            state.getCurrentWatermarkMs(), releaseAll = false, ord, (e: REv) => e.tsMs)
          var matchNo = st0.matchNo
          val outRows = step.out.flatMap { m =>
            matchNo += 1
            emitMatch(m, matchNo)
          }
          step.state.foreach { case (nfa, buf) => CepStateProbe.observe(nfa.partials.size, buf.size) }
          StreamingOps.Keyed(step.state.map { case (nfa, buf) =>
            RelNfaState(buf.map(_.row), nfa.partials.map(dehydrate), nfa.nextSeq,
              nfa.prev.map(_.row), matchNo)
          }, outRows, step.wakeAt).store(state)
      }(stateEnc, outEnc)
  }
}
