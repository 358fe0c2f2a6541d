package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types._

/** Expression algebra of the graft engine.
  *
  * Mirrors the reference's `Col` operator surface
  * (reference: src/mini_spark/sql.py:16-112 — operator overloads;
  * sql.py:241-355 — binary-op typing rules) but compiles to Catalyst
  * [[org.apache.spark.sql.Column]]s instead of interpreting rows, so every
  * expression lands inside whole-stage codegen.
  *
  * Reference typing quirks preserved (reference: src/mini_spark/sql.py):
  *   - `+` on two strings is concatenation (sql.py:331-334)
  *   - `/` always yields a floating-point result (sql.py:280-285)
  *   - `//` is floor division returning an integral type
  *   - a string literal compared against a timestamp column is parsed as an
  *     ISO timestamp (sql.py:291-298)
  *   - BETWEEN is inclusive on both ends (sql.py:71-72)
  *
  * Compilation is schema-directed: [[Col.compile]] resolves each node's
  * Spark type bottom-up from the input schema, so the quirks above can be
  * decided statically (the reference does the same in `infer_type`,
  * sql.py:65-69).
  */
sealed trait Col {
  import Col._

  // ---- operator surface (reference: sql.py:20-63) ----
  def +(other: Col): Col = BinOp("+", this, other)
  def -(other: Col): Col = BinOp("-", this, other)
  def *(other: Col): Col = BinOp("*", this, other)
  def /(other: Col): Col = BinOp("/", this, other)
  def floorDiv(other: Col): Col = BinOp("//", this, other)
  def %(other: Col): Col = BinOp("%", this, other)
  def ===(other: Col): Col = BinOp("==", this, other)
  def =!=(other: Col): Col = BinOp("!=", this, other)
  def <(other: Col): Col = BinOp("<", this, other)
  def <=(other: Col): Col = BinOp("<=", this, other)
  def >(other: Col): Col = BinOp(">", this, other)
  def >=(other: Col): Col = BinOp(">=", this, other)
  def &&(other: Col): Col = BinOp("&", this, other)
  def ||(other: Col): Col = BinOp("|", this, other)
  /** Logical NOT — declared-but-unimplemented in the reference
    * (sql.py:44-45); implemented here with standard semantics. */
  def unary_! : Col = Not(this)
  def like(pattern: String): Col = Like(this, pattern)
  /** Inclusive on both ends (reference: sql.py:71-72). */
  def between(lo: Col, hi: Col): Col = (lo <= this) && (this <= hi)
  def alias(name: String): Col = Alias(this, name)
  def as(name: String): Col = alias(name)
  def cast(dt: DataType): Col = Cast(this, dt)

  /** Compile against an input schema to a Catalyst Column. */
  def compile(schema: StructType): Column = Col.compileNode(this, schema)._1

  /** The Spark type this expression produces under `schema`. */
  def dataType(schema: StructType): DataType = Col.compileNode(this, schema)._2

  def name: String = this match {
    case ColRef(n)      => n.split('.').last
    case Alias(_, n)    => n
    case AggCol(f, c, None) => s"${f}_${c.name}"
    case AggCol(_, _, Some(n)) => n
    case _              => toString
  }

  /** The direct sub-expressions. A subquery's body is its own query
    * block, not a child; the outer-side operand of IN and ANY/ALL is. */
  def children: Seq[Col] = this match {
    case Alias(c, _)      => Seq(c)
    case BinOp(_, l, r)   => Seq(l, r)
    case Like(c, _)       => Seq(c)
    case Not(c)           => Seq(c)
    case Cast(c, _)       => Seq(c)
    case IsNull(c)        => Seq(c)
    case AggCol(_, c, _)  => Seq(c)
    case FuncCall(_, as)  => as
    case CaseWhen(bs, e)  => bs.flatMap { case (w, v) => Seq(w, v) } ++ e
    case WindowFn(_, as, pb, ob, _, _) => as ++ pb ++ ob.map(_._1)
    case InSubquery(e, _) => Seq(e)
    case QuantifiedCmp(e, _, _, _) => Seq(e)
    case _                => Nil
  }

  /** This node with `f` applied to each of its [[children]]. */
  def mapChildren(f: Col => Col): Col = this match {
    case Alias(c, n)      => Alias(f(c), n)
    case BinOp(o, l, r)   => BinOp(o, f(l), f(r))
    case Like(c, p)       => Like(f(c), p)
    case Not(c)           => Not(f(c))
    case Cast(c, d)       => Cast(f(c), d)
    case IsNull(c)        => IsNull(f(c))
    case AggCol(fn, c, n) => AggCol(fn, f(c), n)
    case FuncCall(fn, as) => FuncCall(fn, as.map(f))
    case CaseWhen(bs, e)  =>
      CaseWhen(bs.map { case (w, v) => (f(w), f(v)) }, e.map(f))
    case w: WindowFn      => w.copy(args = w.args.map(f),
      partitionBy = w.partitionBy.map(f),
      orderBy = w.orderBy.map { case (c, asc) => (f(c), asc) })
    case InSubquery(e, q) => InSubquery(f(e), q)
    case q: QuantifiedCmp => q.copy(expr = f(q.expr))
    case leaf             => leaf
  }

  /** True when `p` holds at this node or anywhere below it. */
  def exists(p: Col => Boolean): Boolean = p(this) || children.exists(_.exists(p))

  /** Top-down rewrite: where `f` is defined it replaces the node whole;
    * elsewhere the rewrite descends into the children. */
  def transform(f: PartialFunction[Col, Col]): Col =
    f.applyOrElse(this, (c: Col) => c.mapChildren(_.transform(f)))
}

object Col {
  final case class ColRef(ref: String) extends Col
  final case class Lit(value: Any) extends Col
  final case class Alias(child: Col, aliasName: String) extends Col
  final case class BinOp(op: String, left: Col, right: Col) extends Col
  final case class Like(child: Col, pattern: String) extends Col
  final case class Not(child: Col) extends Col
  final case class Cast(child: Col, dt: DataType) extends Col
  /** Star projection — expands to the full input schema
    * (reference: tasks.py:88-93). */
  case object Star extends Col
  /** SQL CASE expression, searched form (the parser desugars the simple
    * form `CASE x WHEN v THEN ...` into `WHEN x = v THEN ...`).
    * Extension — the reference dialect has no conditional expression
    * (SURVEY §7.1); semantics are standard: first true branch wins,
    * missing ELSE yields null. */
  final case class CaseWhen(branches: Seq[(Col, Col)], elseValue: Option[Col]) extends Col
  /** SQL `IS NULL` test (`IS NOT NULL` wraps it in [[Not]]). Extension —
    * the reference dialect has no null test (its engine never produces
    * nulls: joins are inner-only there, SURVEY §7.1.1). */
  final case class IsNull(child: Col) extends Col
  /** Whitelisted scalar function call (extension — the reference dialect
    * has no scalar functions). Arity and typing are checked at compile
    * time against the table in [[compileNode]]; unknown names raise. */
  final case class FuncCall(fn: String, args: Seq[Col]) extends Col
  /** Aggregate wrapper (reference: sql.py:397-446).
    * fn ∈ {sum, min, max, avg, count, count_distinct}. */
  final case class AggCol(fn: String, child: Col, aliasOpt: Option[String]) extends Col {
    def aliased(n: String): AggCol = copy(aliasOpt = Some(n))
  }
  /** Window function over a PARTITION BY / ORDER BY spec (extension —
    * the reference has no window functions, SURVEY §2.5). Ranking
    * functions (`row_number`/`rank`/`dense_rank`, arg-less, ORDER BY
    * required), windowed aggregates (`sum`/`min`/`max`/`avg`/`count`),
    * offset functions (`lag`/`lead` with optional literal offset and
    * default — standard 3-arg form; no frame, like standard SQL), and
    * positional functions (`first_value`/`last_value`, frame-aware).
    * Frame semantics are Spark's standard-SQL defaults: with ORDER BY an
    * aggregate is a running aggregate (RANGE UNBOUNDED PRECEDING..CURRENT
    * ROW), without it the whole partition. An explicit `frame` is a ROWS
    * frame as (start, end) row offsets in Spark's encoding —
    * `Long.MinValue` = UNBOUNDED PRECEDING, `0` = CURRENT ROW,
    * `Long.MaxValue` = UNBOUNDED FOLLOWING, negative = n PRECEDING,
    * positive = n FOLLOWING. Only aggregates and positional functions
    * accept one (standard SQL: ranking/offset functions take no frame). */
  final case class WindowFn(fn: String, args: Seq[Col],
                            partitionBy: Seq[Col],
                            orderBy: Seq[(Col, Boolean)],
                            frame: Option[(Long, Long)] = None,
                            // true = RANGE (value-distance) frame over a
                            // single numeric ORDER BY key; false = ROWS
                            rangeFrame: Boolean = false) extends Col
  /** `expr IN (SELECT ...)` membership predicate (extension). The
    * engine lowers it, when it plans the query block, to Catalyst's
    * `EXISTS (SELECT ... WHERE col = expr)`, so it may sit anywhere a
    * boolean expression may (under OR, in CASE, in a SELECT item).
    * That is the two-valued reading: no equal row is FALSE, also for a
    * NULL `expr` or a NULL in the subquery column. `NOT IN` is NOT over
    * it wherever the NOT sits (the anti-join reading: a NULL in the
    * subquery column never poisons the result and a NULL `expr` row is
    * kept); standard SQL's null-aware IN is deliberately not
    * reproduced. */
  final case class InSubquery(expr: Col, subquery: graft.sql.CompoundQuery) extends Col
  /** `(SELECT <one value>)` scalar subquery (extension), lowered by the
    * engine to Catalyst's scalar subquery; Catalyst decorrelates a
    * correlated one. One column is required at planning. An
    * uncorrelated one must yield exactly one non-NULL value: more rows
    * fail at the action with Spark's SCALAR_SUBQUERY_TOO_MANY_ROWS, no
    * row or a NULL through `raise_error`. A correlated one over an
    * empty group is SQL NULL. */
  final case class ScalarSubquery(subquery: graft.sql.CompoundQuery) extends Col
  /** `[NOT] EXISTS (SELECT ...)` predicate (extension), lowered by the
    * engine to Catalyst's EXISTS subquery; correlated conjuncts of its
    * WHERE become the semi/anti join condition when Catalyst
    * decorrelates it. */
  final case class ExistsSubquery(subquery: graft.sql.CompoundQuery) extends Col
  /** `expr <op> ANY|SOME|ALL (SELECT ...)` quantified comparison
    * (extension). `= ANY` is exactly IN and `<> ALL` exactly NOT IN;
    * the range operators compare against the min or max of one scalar
    * subquery `(count, non-null count, min, max)`:
    * an empty set makes ALL true and ANY false, a NULL among the values
    * fails at the action. `= ALL` and `<> ANY` are rejected. `op` is
    * the comparison as the parser spells it (`=`, `!=`, `<`, `<=`,
    * `>`, `>=`). */
  final case class QuantifiedCmp(expr: Col, op: String, forAll: Boolean,
                                 subquery: graft.sql.CompoundQuery) extends Col
  /** An expression the engine has already lowered to Catalyst while
    * planning a query block: a subquery expression, or a reference to a
    * column of the enclosing query. Compiles to itself. */
  final case class Lowered(column: Column, dataType: DataType) extends Col
  /** `INTERVAL n DAY|MONTH|YEAR` literal (extension — TPC-H's date
    * arithmetic, `date '1998-12-01' - interval '90' day`). Only
    * meaningful as an operand of `+`/`-` against a timestamp (or a
    * date-string literal, which coerces); compiles through
    * `timestampadd`, whose calendar semantics in the engine's pinned
    * UTC session match DuckDB's `timestamp ± INTERVAL`. */
  final case class IntervalLit(n: Int, unit: String) extends Col

  def col(name: String): Col = ColRef(name)
  def lit(v: Any): Col = Lit(v)

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** Numeric promotion: INTEGER ⋄ FLOAT → FLOAT
    * (reference: sql.py:235-238 COMPATIBLE_TYPE_CONVERSION), generalized
    * over Spark's numeric lattice. */
  private def promote(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (DoubleType, _) | (_, DoubleType) => DoubleType
    case (FloatType, _) | (_, FloatType)   => FloatType
    case (LongType, _) | (_, LongType)     => LongType
    case (IntegerType, _) | (_, IntegerType) => IntegerType
    case (ShortType, _) | (_, ShortType)   => ShortType
    case _                                 => DoubleType
  }

  private def resolveRef(ref: String, schema: StructType): (Column, DataType) = {
    // Dotted names refer to aliased tables (`u.user_id`,
    // reference: tasks.py:127-132). Spark resolves the VALUE natively via
    // the DataFrame alias; only the inferred TYPE (used for coercion
    // decisions) comes from this lookup. Prefer an exact-name match, then
    // last-segment matches; if several joined tables share the segment
    // with DIFFERING types the coercion choice would be a guess, so fail
    // loudly instead of silently picking the first table's type.
    val fieldName = ref.split('.').last
    val exact = schema.fields.filter(_.name == ref)
    val candidates =
      if (exact.nonEmpty) exact
      else {
        val cs = schema.fields.filter(_.name == fieldName)
        if (cs.nonEmpty) cs else schema.fields.filter(_.name.equalsIgnoreCase(fieldName))
      }
    val types = candidates.map(_.dataType).distinct
    if (candidates.isEmpty)
      throw new IllegalArgumentException(
        s"Column '$ref' not found in schema ${schema.fieldNames.mkString("[", ", ", "]")}")
    if (types.length > 1)
      throw new IllegalArgumentException(
        s"Column '$ref' is ambiguous: matches fields of types ${types.mkString(", ")}; qualify it")
    (F.col(ref), types.head)
  }

  private def litNode(v: Any): (Column, DataType) = v match {
    case i: Int        => (F.lit(i), IntegerType)
    case l: Long       => (F.lit(l), LongType)
    case f: Float      => (F.lit(f), FloatType)
    case d: Double     => (F.lit(d), DoubleType)
    case s: String     => (F.lit(s), StringType)
    case b: Boolean    => (F.lit(b), BooleanType)
    case t: Timestamp  => (F.lit(t), TimestampType)
    case d: java.sql.Date => (F.lit(d), DateType)
    // max(precision, scale) mirrors Spark's DecimalType.fromBigDecimal
    // (BigDecimal("0.01") has precision 1 < scale 2)
    case bd: scala.math.BigDecimal =>
      (F.lit(bd), DecimalType(math.max(bd.precision, bd.scale), bd.scale))
    case bd: java.math.BigDecimal =>
      (F.lit(bd), DecimalType(math.max(bd.precision, bd.scale), bd.scale))
    // SQL NULL literal (parser `NULL` keyword, VALUES rows, CASE ELSE
    // NULL): an untyped null — Spark coerces NullType to the context's
    // type wherever one exists
    case null => (F.lit(null), NullType)
    case other => throw new IllegalArgumentException(s"Unsupported literal: $other")
  }

  /** A string literal compared against a TIMESTAMP column parses as an ISO
    * timestamp (reference: sql.py:291-298). */
  private def coerceTs(c: (Column, DataType), other: DataType): (Column, DataType) =
    if (other == TimestampType && c._2 == StringType)
      (c._1.cast(TimestampType), TimestampType)
    else c

  private[api] def compileNode(node: Col, schema: StructType): (Column, DataType) = node match {
    case ColRef(r)  => resolveRef(r, schema)
    case Lit(v)     => litNode(v)
    case Star       => (F.col("*"), schema) // callers expand Star before compiling
    case Alias(c, n) =>
      val (cc, dt) = compileNode(c, schema)
      (cc.as(n), dt)
    case Cast(c, dt) =>
      val (cc, _) = compileNode(c, schema)
      (cc.cast(dt), dt)
    case Not(c) =>
      val (cc, _) = compileNode(c, schema)
      (!cc, BooleanType)
    case IsNull(c) =>
      val (cc, _) = compileNode(c, schema)
      (cc.isNull, BooleanType)
    case FuncCall(fn, args) =>
      val compiled = args.map(compileNode(_, schema))
      val cs = compiled.map(_._1)
      def arity(n: Int): Unit =
        if (args.length != n) throw new IllegalArgumentException(
          s"$fn() takes $n argument(s), got ${args.length}")
      fn match {
        case "lower"  => arity(1); (F.lower(cs(0)), StringType)
        case "upper"  => arity(1); (F.upper(cs(0)), StringType)
        case "length" => arity(1); (F.length(cs(0)), IntegerType)
        case "abs"    => arity(1); (F.abs(cs(0)), compiled(0)._2)
        case "substr" | "substring" =>
          // 1-based start like standard SQL; 2-arg form runs to the end
          if (args.length == 2) (cs(0).substr(cs(1), F.lit(Int.MaxValue)), StringType)
          else { arity(3); (cs(0).substr(cs(1), cs(2)), StringType) }
        case "round" =>
          arity(2)
          val scale = args(1) match {
            case Lit(i: Int) => i
            case other => throw new IllegalArgumentException(
              s"round() scale must be an integer literal, got $other")
          }
          (F.round(cs(0), scale), DoubleType)
        case "coalesce" =>
          if (args.isEmpty) throw new IllegalArgumentException(
            "coalesce() needs at least one argument")
          val dt = compiled.map(_._2).reduce { (a, b) =>
            if (a == b) a
            else if (isNumeric(a) && isNumeric(b)) promote(a, b)
            else throw new IllegalArgumentException(
              s"coalesce() arguments have incompatible types: $a vs $b")
          }
          (F.coalesce(cs: _*), dt)
        // random() — DuckDB's nondeterministic uniform [0,1). Mostly
        // useful for ad-hoc sampling; the DML paths REJECT predicates
        // containing it (detection/rewrite double-evaluation would
        // silently under-delete/update), which this function makes
        // reachable from SQL and therefore testable.
        case "random" => arity(0); (F.rand(), DoubleType)
        case "trim"  => arity(1); (F.trim(cs(0)), StringType)
        case "ltrim" => arity(1); (F.ltrim(cs(0)), StringType)
        case "rtrim" => arity(1); (F.rtrim(cs(0)), StringType)
        case "replace" =>
          arity(3); (F.call_function("replace", cs: _*), StringType)
        case "concat" =>
          if (args.length < 2) throw new IllegalArgumentException(
            "concat() needs at least two arguments")
          (F.concat(cs: _*), StringType)
        // 1-based position of the first occurrence, 0 when absent —
        // DuckDB's strpos/instr semantics, Spark's instr
        case "strpos" | "instr" =>
          arity(2); (F.call_function("instr", cs(0), cs(1)), IntegerType)
        case "greatest" | "least" =>
          if (args.length < 2) throw new IllegalArgumentException(
            s"$fn() needs at least two arguments")
          val dt = compiled.map(_._2).reduce { (a, b) =>
            if (a == b) a
            else if (isNumeric(a) && isNumeric(b)) promote(a, b)
            else throw new IllegalArgumentException(
              s"$fn() arguments have incompatible types: $a vs $b")
          }
          (if (fn == "greatest") F.greatest(cs: _*) else F.least(cs: _*), dt)
        // calendar field extraction (extension; DuckDB's year()/month()/
        // day() — Spark's identically-named functions have the same
        // UTC-session semantics on the engine's µs timestamps)
        case "year"  => arity(1); (F.year(cs(0)), IntegerType)
        case "month" => arity(1); (F.month(cs(0)), IntegerType)
        case "day"   => arity(1); (F.dayofmonth(cs(0)), IntegerType)
        // date_trunc('day', ts) — DuckDB's spelling and argument order;
        // unit must be a string literal (it selects the Spark function's
        // format constant). Weeks start Monday in both engines.
        case "date_trunc" =>
          arity(2)
          val unit = args(0) match {
            case Lit(s: String) => s.toLowerCase
            case other => throw new IllegalArgumentException(
              s"date_trunc() unit must be a string literal, got $other")
          }
          if (!Set("minute", "hour", "day", "week", "month", "year")(unit))
            throw new IllegalArgumentException(
              s"date_trunc() unit must be minute/hour/day/week/month/year, got '$unit'")
          (F.date_trunc(unit, cs(1)), TimestampType)
        // text-pipeline scalars (extension): the engine's document
        // operators surfaced in the dialect, so a corpus filter like
        // `WHERE token_count(text) > 100 AND lang_guess(text) = 'en'`
        // runs without dropping to the Scala API. All are narrow
        // per-row expressions — whole-stage-codegen friendly.
        // vector similarity (extension): the engine's codegen'd native
        // cosine surfaced in the dialect — with a scalar subquery as
        // the query vector, brute-force ANN is a plain SQL statement. f64 so a differential oracle's double replay
        // (list_dot_product) lands the same value.
        case "vec_cosine" =>
          arity(2)
          compiled.foreach { case (_, dt) => dt match {
            case ArrayType(FloatType | DoubleType, _) => ()
            case other => throw new IllegalArgumentException(
              s"vec_cosine expects float/double arrays, got $other")
          } }
          (F.call_function("vec_cosine_f64", cs(0), cs(1)), DoubleType)
        // unnest: one output row per array element (DuckDB's spelling;
        // Spark's explode). A generator must sit at the TOP LEVEL of a
        // select item — Spark's analyzer rejects nesting, so compose
        // `round(unnest(x))` as a derived table instead
        case "unnest" =>
          arity(1)
          compiled(0)._2 match {
            case ArrayType(et, _) => (F.explode(cs(0)), et)
            case other => throw new IllegalArgumentException(
              s"unnest() expects an array, got $other")
          }
        // len: element count for arrays, character count for strings
        // (DuckDB's len covers both)
        case "len" =>
          arity(1)
          compiled(0)._2 match {
            case ArrayType(_, _) => (F.size(cs(0)), IntegerType)
            case StringType      => (F.length(cs(0)), IntegerType)
            case other => throw new IllegalArgumentException(
              s"len() expects an array or string, got $other")
          }
        // INTERNAL parameterized constant (the CDC apply's codegen-
        // reuse hook, extension-registered): evaluates exactly like
        // its literal argument, but the value rides the generated
        // code's references array instead of being inlined into the
        // source text — statement templates that differ only in these
        // values reuse the codegen cache (and its JIT output) instead
        // of compiling fresh classes per statement. See
        // graft.functions.StableConst for the pushdown trade.
        case "stable_const" =>
          arity(1)
          args(0) match {
            case Lit(_) =>
              (F.call_function("stable_const", cs(0)), compiled(0)._2)
            // the tokenizer carries no sign: a negative literal parses
            // as `0 - n` (SqlParser parsePrimary) — still a constant,
            // and the one shape a numeric key's bound actually takes
            // when its min/max is negative; fold it here rather than
            // abort the caller's MERGE
            case BinOp("-", Lit(z), Lit(_))
                if z == 0 || z == 0L =>
              (F.call_function("stable_const", cs(0)), compiled(0)._2)
            case other => throw new IllegalArgumentException(
              s"stable_const() takes a literal, got $other")
          }
        case "token_count" =>
          arity(1)
          (graft.operators.TextAnalysis.tokenCount(cs(0)), IntegerType)
        case "subword_count" =>
          arity(1)
          (graft.operators.TextAnalysis.subwordCount(cs(0)), IntegerType)
        case "quality_score" =>
          arity(1)
          (graft.operators.TextAnalysis.qualityScore(cs(0)), DoubleType)
        case "lang_guess" =>
          arity(1)
          (graft.operators.TextAnalysis.langId(cs(0)), StringType)
        case "fingerprint" =>
          arity(1)
          (graft.operators.TextAnalysis.fingerprint(cs(0)), StringType)
        case "text_normalize" =>
          arity(1)
          (graft.operators.TextAnalysis.normalizeText(cs(0)), StringType)
        case "strip_markup" =>
          arity(1)
          (graft.operators.TextAnalysis.stripMarkup(cs(0)), StringType)
        case other =>
          throw new IllegalArgumentException(s"Unknown function: $other")
      }
    case Like(c, pattern) =>
      // SQL LIKE with %/_ wildcards (reference: sql.py:166-212). Spark's
      // native LIKE has identical anchored semantics — no regex translation
      // needed, and it stays inside codegen.
      val (cc, _) = compileNode(c, schema)
      (cc.like(pattern), BooleanType)
    case CaseWhen(branches, elseValue) =>
      val conds = branches.map { case (c, _) => compileNode(c, schema)._1 }
      val vals = branches.map { case (_, v) => compileNode(v, schema) }
      val elseC = elseValue.map(compileNode(_, schema))
      // result type: equal types pass through, numerics promote along the
      // lattice, anything else is a loud error (the schema-directed analog
      // of the reference's COMPATIBLE_TYPE_CONVERSION strictness)
      val dt = (vals.map(_._2) ++ elseC.map(_._2)).reduce { (a, b) =>
        if (a == b) a
        else if (isNumeric(a) && isNumeric(b)) promote(a, b)
        else throw new IllegalArgumentException(
          s"CASE branches have incompatible types: $a vs $b")
      }
      val chain = conds.zip(vals.map(_._1)).tail.foldLeft(
        F.when(conds.head, vals.head._1)) { case (acc, (c, v)) => acc.when(c, v) }
      (elseC.fold(chain)(e => chain.otherwise(e._1)), dt)
    case AggCol(fn, child, aliasOpt) =>
      val (c, dt) = fn match {
        case "count" =>
          // COUNT() is zero-arg, desugared to SUM(1) yielding an integer
          // (reference: sql.py:462-464).
          (F.count(F.lit(1)), LongType)
        case "count_col" =>
          val (cc, _) = compileNode(child, schema)
          (F.count(cc), LongType)
        case "count_distinct" =>
          val (cc, _) = compileNode(child, schema)
          (F.countDistinct(cc), LongType)
        case "sum" =>
          val (cc, cdt) = compileNode(child, schema)
          val out = cdt match {
            case IntegerType | ShortType | ByteType => LongType
            case FloatType                          => DoubleType
            case other                              => other
          }
          (F.sum(cc), out)
        case "min" =>
          val (cc, cdt) = compileNode(child, schema); (F.min(cc), cdt)
        case "max" =>
          val (cc, cdt) = compileNode(child, schema); (F.max(cc), cdt)
        case "avg" =>
          // AVG always yields floating point (reference: sql.py:412-415).
          val (cc, _) = compileNode(child, schema); (F.avg(cc), DoubleType)
        // GROUPING(key): subtotal-row indicator under ROLLUP/CUBE/
        // GROUPING SETS (Spark analysis rejects it elsewhere)
        case "grouping" =>
          val (cc, _) = compileNode(child, schema)
          (F.grouping(cc), ByteType)
        // statistical aggregates (dialect extension; all float-valued
        // like AVG — callers round for oracle-stable comparisons)
        case "stddev" =>
          val (cc, _) = compileNode(child, schema)
          (F.stddev_samp(cc), DoubleType)
        case "stddev_pop" =>
          val (cc, _) = compileNode(child, schema)
          (F.stddev_pop(cc), DoubleType)
        case "var_samp" =>
          val (cc, _) = compileNode(child, schema)
          (F.var_samp(cc), DoubleType)
        case "var_pop" =>
          val (cc, _) = compileNode(child, schema)
          (F.var_pop(cc), DoubleType)
        case "median" =>
          val (cc, _) = compileNode(child, schema)
          (F.median(cc), DoubleType)
        // POPULATION skewness / excess kurtosis (Spark's definitions:
        // (m3/n)/(m2/n)^1.5 and (m4/n)/(m2/n)^2 − 3) — a differential
        // oracle replays them from raw central moments; DuckDB's own
        // skewness/kurtosis are the BIAS-CORRECTED sample forms and
        // would NOT match
        case "skewness" =>
          val (cc, _) = compileNode(child, schema)
          (F.skewness(cc), DoubleType)
        case "kurtosis" =>
          val (cc, _) = compileNode(child, schema)
          (F.kurtosis(cc), DoubleType)
        case "corr" | "covar_pop" | "covar_samp" => child match {
          case FuncCall("stat2_args", Seq(a, b)) =>
            val (ca, _) = compileNode(a, schema)
            val (cb, _) = compileNode(b, schema)
            (fn match {
              case "corr"       => F.corr(ca, cb)
              case "covar_pop"  => F.covar_pop(ca, cb)
              case "covar_samp" => F.covar_samp(ca, cb)
            }, DoubleType)
          case other => throw new IllegalArgumentException(
            s"$fn requires exactly two arguments, got $other")
        }
        case "string_agg" => child match {
          // composite child carries (expr, separator) — see SqlParser.
          // Elements are sorted by VALUE (array_sort over collect_list)
          // so the result is deterministic under any input partitioning;
          // the oracle form is string_agg(expr, sep ORDER BY expr).
          case FuncCall("string_agg_args", Seq(e, Lit(sep: String))) =>
            val (cc, cdt) = compileNode(e, schema)
            if (cdt != StringType) throw new IllegalArgumentException(
              s"string_agg expects a string expression, got $cdt")
            (F.array_join(F.array_sort(F.collect_list(cc)), sep), StringType)
          case other => throw new IllegalArgumentException(
            "string_agg requires (expr, 'separator') with a literal " +
            s"separator, got $other")
        }
        case other => throw new IllegalArgumentException(s"Unsupported aggregate: $other")
      }
      (aliasOpt.fold(c)(c.as(_)), dt)
    case Lowered(c, dt) => (c, dt)
    case _: InSubquery | _: ScalarSubquery | _: ExistsSubquery | _: QuantifiedCmp =>
      throw new IllegalArgumentException(
        "subqueries compile through graft.Engine, which plans their bodies")
    case WindowFn(fn, args, pb, ob, frame, range) =>
      import org.apache.spark.sql.expressions.Window
      val base =
        if (pb.nonEmpty) Window.partitionBy(pb.map(compileNode(_, schema)._1): _*)
        else Window.partitionBy()
      val ordered =
        if (ob.nonEmpty) base.orderBy(ob.map { case (c, asc) =>
          val cc = compileNode(c, schema)._1
          if (asc) cc.asc else cc.desc
        }: _*)
        else base
      // explicit ROWS/RANGE frame: aggregates/positional only, ORDER BY
      // required (an unordered ROWS frame is nondeterministic row
      // arithmetic; an unordered RANGE frame has no distance axis).
      // RANGE additionally requires EXACTLY ONE INTEGRAL order key —
      // the frame is value distance along it (Spark's rangeBetween
      // boundary type must match the key; float keys + long offsets
      // would need per-type boundary literals: rejected, not coerced)
      val spec = frame match {
        case None => ordered
        case Some(_) if ob.isEmpty =>
          throw new IllegalArgumentException(
            s"a ${if (range) "RANGE" else "ROWS"} frame requires " +
            "ORDER BY in its OVER clause")
        case Some((s, e)) =>
          if (s > e) throw new IllegalArgumentException(
            s"${if (range) "RANGE" else "ROWS"} frame start is after its end")
          if (range) {
            if (ob.length != 1) throw new IllegalArgumentException(
              "a RANGE frame requires exactly one ORDER BY key")
            val kt = compileNode(ob.head._1, schema)._2
            kt match {
              case ByteType | ShortType | IntegerType | LongType => ()
              case other => throw new IllegalArgumentException(
                s"a RANGE frame requires an integral ORDER BY key, got $other")
            }
            ordered.rangeBetween(s, e)
          } else ordered.rowsBetween(s, e)
      }
      def argC = compileNode(args.headOption.getOrElse(
        throw new IllegalArgumentException(
          s"$fn() over a window needs an argument")), schema)
      def noFrame(): Unit =
        if (frame.nonEmpty) throw new IllegalArgumentException(
          s"$fn() takes no frame clause (standard SQL)")
      def needsOrder(): Unit =
        if (ob.isEmpty) throw new IllegalArgumentException(
          s"$fn() requires ORDER BY in its OVER clause")
      val (c, dt) = fn match {
        case "row_number" | "rank" | "dense_rank" =>
          needsOrder(); noFrame()
          if (args.nonEmpty) throw new IllegalArgumentException(
            s"$fn() takes no arguments")
          (fn match {
            case "row_number" => F.row_number()
            case "rank"       => F.rank()
            case "dense_rank" => F.dense_rank()
          }, IntegerType)
        case "sum" =>
          val (cc, cdt) = argC
          val out = cdt match {
            case IntegerType | ShortType | ByteType => LongType
            case FloatType                          => DoubleType
            // Spark widens sum(decimal(p,s)) to decimal(p+10, s), capped
            case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
            case other                              => other
          }
          (F.sum(cc), out)
        case "min"   => val (cc, cdt) = argC; (F.min(cc), cdt)
        case "max"   => val (cc, cdt) = argC; (F.max(cc), cdt)
        case "avg"   =>
          val (cc, cdt) = argC
          // avg(decimal(p,s)) stays decimal in Spark: (p+4, s+4) capped
          val out = cdt match {
            case d: DecimalType =>
              DecimalType(math.min(38, d.precision + 4), math.min(38, d.scale + 4))
            case _ => DoubleType
          }
          (F.avg(cc), out)
        case "count" =>
          (F.count(args.headOption.map(compileNode(_, schema)._1)
            .getOrElse(F.lit(1))), LongType)
        // windowed statistical aggregates (float-valued like AVG)
        case "stddev" | "stddev_pop" | "var_samp" | "var_pop" =>
          val (cc, _) = argC
          (fn match {
            case "stddev"     => F.stddev_samp(cc)
            case "stddev_pop" => F.stddev_pop(cc)
            case "var_samp"   => F.var_samp(cc)
            case "var_pop"    => F.var_pop(cc)
          }, DoubleType)
        // offset functions: lag/lead(expr [, offset [, default]]) —
        // literal offset, literal default; no frame (standard SQL). A
        // missing default yields NULL at the partition edge exactly
        // like standard SQL (callers in a null-free corpus pass one).
        case "lag" | "lead" =>
          needsOrder(); noFrame()
          if (args.isEmpty || args.length > 3)
            throw new IllegalArgumentException(
              s"$fn() takes (expr [, offset [, default]]), got ${args.length} args")
          val (cc, cdt) = argC
          val off = args.lift(1) match {
            case None => 1
            case Some(Lit(i: Int)) =>
              if (i < 0) throw new IllegalArgumentException(
                s"$fn() offset must be non-negative, got $i")
              i
            case Some(other) => throw new IllegalArgumentException(
              s"$fn() offset must be an integer literal, got $other")
          }
          val defaultC = args.lift(2).map { d =>
            val (dc, ddt) = compileNode(d, schema)
            if (ddt != cdt && !(isNumeric(ddt) && isNumeric(cdt)))
              throw new IllegalArgumentException(
                s"$fn() default type $ddt is incompatible with $cdt")
            dc
          }
          val col = (fn, defaultC) match {
            case ("lag", Some(d))  => F.lag(cc, off, d)
            case ("lag", None)     => F.lag(cc, off)
            case ("lead", Some(d)) => F.lead(cc, off, d)
            case ("lead", None)    => F.lead(cc, off)
          }
          (col, cdt)
        // positional functions: frame-aware (with the default running
        // frame, last_value is the current row — pass an explicit
        // frame for the usual "latest in partition" reading)
        case "first_value" | "last_value" =>
          needsOrder()
          if (args.length != 1) throw new IllegalArgumentException(
            s"$fn() takes exactly one argument")
          val (cc, cdt) = argC
          (if (fn == "first_value") F.first(cc) else F.last(cc), cdt)
        // distribution functions (standard SQL): ordered, frameless
        case "ntile" =>
          needsOrder(); noFrame()
          args match {
            case Seq(Lit(n: Int)) if n > 0 => (F.ntile(n), IntegerType)
            case _ => throw new IllegalArgumentException(
              "ntile() takes one positive integer literal")
          }
        case "percent_rank" | "cume_dist" =>
          needsOrder(); noFrame()
          if (args.nonEmpty) throw new IllegalArgumentException(
            s"$fn() takes no arguments")
          (if (fn == "percent_rank") F.percent_rank() else F.cume_dist(),
            DoubleType)
        case other =>
          throw new IllegalArgumentException(s"Unsupported window function: $other")
      }
      (c.over(spec), dt)
    case IntervalLit(_, _) =>
      throw new IllegalArgumentException(
        "INTERVAL literals are only valid as an operand of +/- against " +
        "a timestamp")
    // interval arithmetic: ts ± INTERVAL (and the commuted INTERVAL + ts)
    case BinOp("+", iv: IntervalLit, r) => compileNode(BinOp("+", r, iv), schema)
    case BinOp(op @ ("+" | "-"), l, IntervalLit(n, unit)) =>
      val l0 = compileNode(l, schema)
      val ts = l0._2 match {
        case TimestampType => l0._1
        case StringType    => F.to_timestamp(l0._1) // date-string literal
        case other => throw new IllegalArgumentException(
          s"INTERVAL arithmetic needs a timestamp operand, got $other")
      }
      val q = if (op == "-") -n else n
      (F.timestamp_add(unit, F.lit(q), ts), TimestampType)
    case BinOp(op, l, r) =>
      val l0 = compileNode(l, schema)
      val r0 = compileNode(r, schema)
      // timestamp-vs-string-literal coercion, both directions
      val (lc, rc) = (coerceTs(l0, r0._2), coerceTs(r0, l0._2))
      op match {
        case "+" if lc._2 == StringType && rc._2 == StringType =>
          // string + string is concatenation (reference: sql.py:331-334)
          (F.concat(lc._1, rc._1), StringType)
        case "+" => (lc._1 + rc._1, promote(lc._2, rc._2))
        case "-" => (lc._1 - rc._1, promote(lc._2, rc._2))
        case "*" => (lc._1 * rc._1, promote(lc._2, rc._2))
        case "/" =>
          // true division always floating (reference: sql.py:280-285)
          (lc._1 / rc._1, DoubleType)
        case "//" =>
          val out = promote(lc._2, rc._2)
          val fractional = out == DoubleType || out == FloatType || out.isInstanceOf[DecimalType]
          if (isNumeric(out) && !fractional)
            (F.floor(lc._1.cast(DoubleType) / rc._1.cast(DoubleType)).cast(out), out)
          else (F.floor(lc._1 / rc._1), LongType)
        case "%"  => (lc._1 % rc._1, promote(lc._2, rc._2))
        case "==" => (lc._1 === rc._1, BooleanType)
        case "!=" => (lc._1 =!= rc._1, BooleanType)
        case "<"  => (lc._1 < rc._1, BooleanType)
        case "<=" => (lc._1 <= rc._1, BooleanType)
        case ">"  => (lc._1 > rc._1, BooleanType)
        case ">=" => (lc._1 >= rc._1, BooleanType)
        case "&"  => (lc._1 && rc._1, BooleanType)
        case "|"  => (lc._1 || rc._1, BooleanType)
        case other => throw new IllegalArgumentException(s"Unsupported operator: $other")
      }
  }
}

/** Aggregate constructors (reference: src/mini_spark/sql.py:449-468). */
object functions {
  import Col._
  def col(name: String): Col = Col.col(name)
  def lit(v: Any): Col = Col.lit(v)
  def sumCol(c: Col): Col = AggCol("sum", c, None)
  def minCol(c: Col): Col = AggCol("min", c, None)
  def maxCol(c: Col): Col = AggCol("max", c, None)
  def avgCol(c: Col): Col = AggCol("avg", c, None)
  /** Zero-arg COUNT aliased `count` (reference: sql.py:462-464). */
  def countAll(): Col = AggCol("count", Lit(1), Some("count"))
  def countCol(c: Col): Col = AggCol("count_col", c, None)
  def countDistinct(c: Col): Col = AggCol("count_distinct", c, None)
}
