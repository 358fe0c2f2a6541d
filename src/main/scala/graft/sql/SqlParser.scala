package graft.sql

import scala.collection.mutable.ListBuffer

import graft.api.Col
import graft.api.Col._

/** Errors mirroring the reference's parser error taxonomy
  * (reference: src/mini_spark/parser.py:102-109). */
final class ParseError(msg: String) extends RuntimeException(msg)
final class SemanticError(msg: String) extends RuntimeException(msg)
final class GroupByError(msg: String) extends RuntimeException(msg)

/** Parsed query AST. The reference folds its parse tree directly into a
  * DataFrame (reference: src/mini_spark/parser.py:124-162 visit_query); we
  * keep a small AST so planning (HAVING rewrite, GROUP BY validation) is
  * separate from parsing. */
final case class SqlQuery(
    select: Seq[SelectItem],
    from: TableRef,
    joins: Seq[JoinClause],
    where: Option[Col],
    groupBy: Seq[Col],
    having: Option[Col],
    orderBy: Seq[(Col, Boolean)], // (expr, ascending) — extension, absent in reference
    limit: Option[Int],           // extension
    distinct: Boolean,            // extension
    // QUALIFY windowed filter (extension, DuckDB/Snowflake-style): a
    // predicate over window functions evaluated post-WHERE, pre-SELECT;
    // references INPUT columns (not select aliases). Illegal in grouped
    // blocks, like window functions generally (compose via a derived
    // table).
    qualify: Option[Col] = None,
    // OFFSET m (extension): rows skipped BEFORE the limit counts, the
    // standard pagination pair. Not supported on set-op chains.
    offset: Option[Int] = None,
    // GROUP BY ROLLUP(...) / CUBE(...) / GROUPING SETS(...) (extension):
    // `groupKind` is None for a plain GROUP BY, Some("rollup"|"cube"|
    // "sets") otherwise. For every kind `groupBy` holds the grouping
    // columns (for "sets": the DISTINCT union of all sets, in first-
    // appearance order — the output key columns); `groupingSets` holds
    // the explicit sets only for "sets".
    groupKind: Option[String] = None,
    groupingSets: Seq[Seq[Col]] = Nil,
    // SELECT DISTINCT ON (keys) (extension, Postgres/DuckDB-style):
    // keep the FIRST row per key group under the block's ORDER BY
    // (whose leading expressions must be the keys — enforced at plan
    // time, like Postgres). Empty = plain SELECT [DISTINCT].
    distinctOn: Seq[Col] = Nil
)
final case class SelectItem(expr: Col, star: Boolean)
/** A FROM/JOIN target: a table path/name, or a parenthesized derived
  * table (`FROM (SELECT ...) alias` — extension; `subquery` set, `path`
  * holds the alias for error messages). Derived tables require an alias,
  * like standard SQL. */
final case class TableRef(path: String, alias: Option[String],
                          subquery: Option[CompoundQuery] = None,
                          // inline literal table: (column names, rows)
                          // from `(VALUES (...), ...) t(a, b)` (extension)
                          values: Option[(Seq[String], Seq[Seq[Col]])] = None,
                          // time travel: `FOR VERSION AS OF n` over a
                          // Versioned dataset (Delta-style; extension)
                          version: Option[Long] = None,
                          // `FOR TIMESTAMP AS OF '<ts>'`: the snapshot
                          // that was HEAD at that wall-clock instant
                          asOfTs: Option[String] = None,
                          // segment-level CDC over a Versioned dataset
                          // (extension): `FOR CHANGES FROM v [TO v]` /
                          // `FOR REMOVALS FROM v [TO v]` —
                          // ("changes"|"removals", fromVersion, to)
                          cdc: Option[(String, Long, Option[Long])] = None)
final case class JoinClause(table: TableRef, on: Col, how: String)

/** A chain of query blocks combined with set operations (extension —
  * absent in the reference, SURVEY §2.5). Standard-SQL semantics:
  * INTERSECT binds tighter than UNION/EXCEPT (applied by the engine's
  * evaluator), UNION/EXCEPT associate left, a trailing ORDER BY/LIMIT
  * applies to the WHOLE compound result (`orderBy`/`limit` here), and an
  * ORDER BY/LIMIT on a non-final block is a parse error. `all` = the ALL
  * keyword (bag instead of set semantics). */
final case class CompoundQuery(head: SqlQuery,
                               tail: Seq[(String, Boolean, SqlQuery)],
                               orderBy: Seq[(Col, Boolean)],
                               limit: Option[Int],
                               // WITH name AS (...) bindings, in declaration
                               // order; later CTEs may reference earlier ones
                               // (extension — absent in reference)
                               ctes: Seq[(String, CompoundQuery)] = Nil,
                               // WITH RECURSIVE was written: bindings whose
                               // body references their own name plan as
                               // fixpoint recursion. Without the keyword a
                               // self-name reference is SHADOWING (standard
                               // SQL): `WITH fruits AS (SELECT FROM fruits)`
                               // reads the table
                               recursive: Boolean = false)

/** Hand-rolled recursive-descent parser for the reference's SQL dialect.
  *
  * Grammar from reference: src/mini_spark/parser.py:14-69 (PEG), with the
  * precedence ladder OR < AND < NOT < comparison < add < mul
  * (parser.py:33-56). Dialect quirks preserved: `=` equality, zero-arg
  * `COUNT()`, quoted-path FROM targets, BETWEEN (inclusive), LIKE.
  * Extensions per SURVEY §7.1: float literals (the reference grammar
  * intends them, parser.py:63), multi-column GROUP BY, honored join types,
  * NOT, ORDER BY / LIMIT / DISTINCT / COUNT(expr) / COUNT(DISTINCT).
  */
object SqlParser {

  // ---------- lexer ----------
  /** The lowering Spark's `lower` applies (UTF8String, locale-independent)
    * — used on ILIKE patterns so both sides of the desugared comparison
    * lower identically regardless of the JVM default locale. */
  private def utf8Lower(s: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s).toLowerCase.toString

  sealed trait Tok { def text: String }
  final case class TIdent(text: String) extends Tok
  final case class TNum(text: String) extends Tok
  final case class TStr(text: String) extends Tok // content, quotes stripped
  final case class TOp(text: String) extends Tok
  final case class TKw(text: String) extends Tok // uppercased keyword
  case object TEOF extends Tok { val text = "<eof>" }

  private val keywords = Set(
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "JOIN", "ON", "AS",
    "AND", "OR", "NOT", "LIKE", "ILIKE", "BETWEEN", "INNER", "LEFT", "RIGHT", "FULL",
    "OUTER", "SEMI", "ANTI", "CROSS", "ORDER", "LIMIT", "ASC", "DESC",
    "DISTINCT", "COUNT", "SUM", "MIN", "MAX", "AVG",
    "UNION", "INTERSECT", "EXCEPT", "ALL",
    "CASE", "WHEN", "THEN", "ELSE", "END", "IN", "IS", "NULL", "WITH",
    "EXISTS", "QUALIFY", "OFFSET", "VALUES", "FOR", "VERSION", "OF",
    // quantified comparisons (`> ALL (SELECT ...)`); ANY/SOME reserved
    // like OVER/PARTITION below — the double-quote escape reaches
    // columns of those names
    "ANY", "SOME",
    // date arithmetic (`'1998-12-01' - INTERVAL 90 DAY`); the unit
    // stays an identifier so year()/month()/day() calls keep parsing
    "INTERVAL",
    // grouping-set extensions; reserved like OVER/PARTITION below — a
    // column literally named "rollup" needs the double-quote escape
    "ROLLUP", "CUBE", "GROUPING", "SETS",
    // reserving OVER/PARTITION (window support) breaks columns of those
    // names as bare identifiers — the standard tradeoff; the
    // double-quoted-identifier escape ("partition") still reaches them
    "OVER", "PARTITION",
    // ROWS frame clause inside OVER (`ROWS BETWEEN 2 PRECEDING AND
    // CURRENT ROW`); reserved like OVER/PARTITION — the double-quote
    // escape reaches columns of those names
    "ROWS", "RANGE", "PRECEDING", "FOLLOWING", "UNBOUNDED", "CURRENT", "ROW",
    // CAST(expr AS TYPE); reserved so the form never parses as a
    // scalar function call whose body would choke on the inner AS
    "CAST")

  /** A lexing error, raised as a [[ParseError]] when the parser reaches
    * it — so a statement may carry raw text the dialect's lexer does not
    * accept (a CHECK constraint's Spark-SQL body). */
  final case class TBad(text: String) extends Tok

  /** The tokens of `input` and the offset each starts at. */
  private def lex(input: String): (Vector[Tok], Vector[Int]) = {
    val toks = Vector.newBuilder[Tok]
    val offs = Vector.newBuilder[Int]
    def emit(t: Tok, at: Int): Unit = { toks += t; offs += at }
    var i = 0
    val n = input.length
    while (i < n) {
      val c = input(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        val end = input.indexOf('\'', i + 1)
        if (end < 0) { emit(TBad(s"Unterminated string at offset $i"), i); i = n }
        else { emit(TStr(input.substring(i + 1, end)), i); i = end + 1 }
      } else if (c == '"') {
        // double-quoted identifier (standard SQL): the escape hatch for
        // columns whose names collide with reserved words (end, in, is,
        // null, case, ...) — never keyword-classified
        val end = input.indexOf('"', i + 1)
        if (end < 0) {
          emit(TBad(s"Unterminated quoted identifier at offset $i"), i); i = n
        } else { emit(TIdent(input.substring(i + 1, end)), i); i = end + 1 }
      } else if (c.isDigit) {
        val start = i
        while (i < n && (input(i).isDigit || input(i) == '.')) i += 1
        val text = input.substring(start, i)
        emit(if (text.count(_ == '.') > 1)
            TBad(s"Malformed number '$text' at offset $start")
          else TNum(text), start)
      } else if (c.isLetter || c == '_') {
        val start = i
        // dotted identifiers for table aliases (u.user_id, parser.py:60)
        while (i < n && (input(i).isLetterOrDigit || input(i) == '_' || input(i) == '.')) i += 1
        val text = input.substring(start, i)
        emit(if (keywords.contains(text.toUpperCase)) TKw(text.toUpperCase)
          else TIdent(text), start)
      } else {
        val two = if (i + 1 < n) input.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=", "<>", "//").contains(two)) { emit(TOp(two), i); i += 2 }
        else if ("=<>+-*/%(),;&|".indexOf(c) >= 0) { emit(TOp(c.toString), i); i += 1 }
        else { emit(TBad(s"Unexpected character '$c' at offset $i"), i); i += 1 }
      }
    }
    emit(TEOF, n)
    (toks.result(), offs.result())
  }

  // ---------- parser ----------
  final private class P(toks: Vector[Tok], offs: Vector[Int], input: String) {
    private var pos = 0
    def peek: Tok = toks(pos) match {
      case TBad(msg) => throw new ParseError(msg)
      case t         => t
    }
    def next(): Tok = { val t = peek; pos += 1; t }
    def accept(kw: String): Boolean = peek match {
      case TKw(`kw`) => pos += 1; true
      case TOp(`kw`) => pos += 1; true
      case _         => false
    }
    def expectKw(kw: String): Unit =
      if (!accept(kw)) throw new ParseError(s"Expected $kw, got ${peek.text}")
    def expectOp(op: String): Unit = peek match {
      case TOp(`op`) => pos += 1
      case t         => throw new ParseError(s"Expected '$op', got ${t.text}")
    }

    def parseCompound(): CompoundQuery = {
      val cq = parseCompoundBody()
      end()
      cq
    }

    def parseStatement(): Statement = {
      val st = statement()
      end()
      st
    }

    /** An optional `;`, then the end of input. */
    private def end(): Unit = {
      accept(";")
      peek match {
        case TEOF => ()
        case t    => throw new ParseError(s"Trailing input at '${t.text}'")
      }
    }

    // ---------- statements ----------
    // Statement words (CREATE, MERGE, USING, MATCHED, ...) match
    // case-insensitively and are never reserved, so columns and tables
    // may keep those names.

    private def word(w: String): Boolean = peek match {
      case TIdent(t) if t.equalsIgnoreCase(w) => pos += 1; true
      case TKw(`w`) => pos += 1; true
      case _ => false
    }
    private def expectWord(w: String): Unit =
      if (!word(w)) throw new ParseError(s"Expected $w, got ${peek.text}")
    private def ident(what: String): String = next() match {
      case TIdent(n) => n
      case t => throw new ParseError(s"Expected $what, got ${t.text}")
    }
    private def identList(what: String): Seq[String] = {
      expectOp("(")
      val out = ListBuffer(ident(what))
      while (accept(",")) out += ident(what)
      expectOp(")")
      out.toSeq
    }
    private def atEnd(i: Int): Boolean = toks(i) == TEOF || toks(i) == TOp(";")
    /** A table reference: a quoted path (`quoted` = true) or a bare name. */
    private def table(): (String, Boolean) = next() match {
      case TStr(p)   => (p, true)
      case TIdent(n) => (n, false)
      case t => throw new ParseError(s"Expected a table, got ${t.text}")
    }
    private def target(): String = table()._1
    private def str(what: String): String = next() match {
      case TStr(v) => v
      case t => throw new ParseError(s"Expected a quoted $what, got ${t.text}")
    }
    /** `[AS] alias`, where a bare alias may not be the word `stop`. */
    private def aliasBefore(stop: String): Option[String] = peek match {
      case TKw("AS") => next(); Some(ident("an alias"))
      case TIdent(a) if !a.equalsIgnoreCase(stop) => next(); Some(a)
      case _ => None
    }

    private def statement(): Statement = {
      import Statement._
      peek match {
        case TKw("DESC") => next(); describe()
        case TIdent(w) => next(); w.toUpperCase(java.util.Locale.ROOT) match {
          case "CREATE" =>
            if (word("TABLE")) {
              val (t, quoted) = table()
              val using = if (word("USING")) Some(ident("a format after USING")) else None
              expectKw("AS")
              CreateTableAs(t, quoted, using, parseCompoundBody())
            } else {
              val orReplace = accept("OR") && { expectWord("REPLACE"); true }
              expectWord("VIEW")
              val name = ident("a view name")
              expectKw("AS")
              CreateView(name, orReplace, parseCompoundBody())
            }
          case "DROP" =>
            expectWord("VIEW")
            val ifExists = word("IF") && { expectKw("EXISTS"); true }
            DropView(ident("a view name"), ifExists)
          case "ALTER" =>
            val t = target()
            if (word("ADD")) {
              expectWord("CONSTRAINT")
              val name = ident("a constraint name")
              expectWord("CHECK")
              AddConstraint(t, name, rawParenthesized())
            } else {
              expectWord("DROP"); expectWord("CONSTRAINT")
              DropConstraint(t, ident("a constraint name"))
            }
          case "SHOW" =>
            if (word("TABLES")) ShowTables
            else { expectWord("CONSTRAINTS"); ShowConstraints(target()) }
          case "RESTORE" =>
            val t = target()
            expectWord("TO")
            if (accept("VERSION")) Restore(t, Left(intLit("version")))
            else { expectWord("TIMESTAMP"); Restore(t, Right(str("timestamp"))) }
          case "VACUUM" =>
            val t = target()
            val keep = if (word("KEEP")) intLit("version count after KEEP").toInt else 1
            Vacuum(t, keep, word("DRY") && { expectWord("RUN"); true })
          case "OPTIMIZE" =>
            val t = target()
            val zorder =
              if (word("ZORDER")) { expectKw("BY"); identList("a ZORDER column") }
              else Nil
            val segments =
              if (word("SEGMENTS")) Some(intLit("segment count").toInt) else None
            val purge =
              if (!word("PURGE")) None
              else if (!word("THRESHOLD")) Some(0.0)
              else next() match {
                case TNum(f) => Some(f.toDouble)
                case t => throw new ParseError(s"Expected a THRESHOLD fraction, got ${t.text}")
              }
            Optimize(t, zorder, segments, purge)
          case "DELETE" =>
            val vectored = word("VECTORED")
            expectKw("FROM")
            val t = target()
            expectKw("WHERE")
            Delete(t, parseOr(), vectored)
          case "UPDATE" =>
            val vectored = word("VECTORED")
            val t = target()
            expectWord("SET")
            val set = parseSetList()
            expectKw("WHERE")
            Update(t, set, parseOr(), vectored)
          case "MERGE" => merge()
          case "INSERT" =>
            expectWord("INTO")
            val (t, quoted) = table()
            val cols = if (peek == TOp("(")) Some(identList("a column name")) else None
            Insert(t, quoted, cols,
              if (accept("VALUES")) Left(valueRows()) else Right(parseCompoundBody()))
          case "COPY" =>
            expectOp("(")
            val q = parseCompoundBody()
            expectOp(")")
            expectWord("TO")
            val path = str("COPY target path")
            val format =
              if (accept("(")) {
                expectWord("FORMAT")
                val f = ident("a format name"); expectOp(")"); Some(f)
              } else if (word("FORMAT")) Some(ident("a format name"))
              else None
            Copy(q, path, format)
          case "DESCRIBE" => describe()
          case "SUMMARIZE" => peek match {
            case TIdent(f) if f.equalsIgnoreCase("footers") && !atEnd(pos + 1) =>
              next(); SummarizeFooters(target())
            case _ => Summarize(target())
          }
          case "ANALYZE" => Analyze(target())
          case "EXPLAIN" =>
            val formatted = word("FORMATTED")
            Explain(statement(), formatted)
          case _ => pos -= 1; Query(parseCompoundBody())
        }
        case _ => Query(parseCompoundBody())
      }
    }

    private def describe(): Statement = peek match {
      case TIdent(h) if h.equalsIgnoreCase("history") && !atEnd(pos + 1) =>
        next(); Statement.DescribeHistory(target())
      case _ => Statement.Describe(target())
    }

    /** `( <raw text> )` through the statement's last `)`: the text is
      * kept as written, never tokenized as dialect SQL. */
    private def rawParenthesized(): String = {
      expectOp("(")
      var close = toks.length - 2 // the token before TEOF
      if (toks(close) == TOp(";")) close -= 1
      if (close < pos || toks(close) != TOp(")"))
        throw new ParseError("Expected a parenthesized expression ending the statement")
      val text = input.substring(offs(pos - 1) + 1, offs(close)).trim
      pos = close + 1
      text
    }

    private def merge(): Statement = {
      import Statement._
      expectWord("INTO")
      val t = target()
      val targetAlias = aliasBefore("USING")
      expectWord("USING")
      val (source, defaultAlias) = next() match {
        case TOp("(") =>
          val q = parseCompoundBody(); expectOp(")"); (SourceQuery(q), None)
        case TStr(p)   => (SourceTable(p), None)
        case TIdent(n) => (SourceTable(n), Some(n))
        case tok => throw new ParseError(
          s"Expected a MERGE source (a table or a parenthesized query), got ${tok.text}")
      }
      val sourceAlias = aliasBefore("ON").orElse(defaultAlias)
      expectKw("ON")
      val on = parseOr()
      val matched = ListBuffer.empty[MergeMatched]
      var insert: Option[MergeInsert] = None
      while (accept("WHEN")) {
        val notMatched = accept("NOT")
        expectWord("MATCHED")
        val cond = if (accept("AND")) Some(parseOr()) else None
        expectKw("THEN")
        if (notMatched) {
          if (insert.nonEmpty) throw new SemanticError(
            "MERGE supports at most one WHEN NOT MATCHED clause")
          expectWord("INSERT")
          insert = Some(MergeInsert(cond,
            if (accept("*")) None
            else {
              val cols = identList("an INSERT column")
              expectKw("VALUES")
              expectOp("(")
              val vals = ListBuffer(parseOr())
              while (accept(",")) vals += parseOr()
              expectOp(")")
              Some((cols, vals.toSeq))
            }))
        } else if (word("UPDATE")) {
          expectWord("SET")
          matched += MergeUpdate(cond, parseSetList())
        } else if (word("DELETE")) matched += MergeDelete(cond)
        else throw new ParseError(
          s"Expected UPDATE SET or DELETE after WHEN MATCHED ... THEN, got ${peek.text}")
      }
      if (matched.isEmpty && insert.isEmpty) throw new SemanticError(
        "MERGE needs at least one WHEN [NOT] MATCHED clause")
      Merge(t, targetAlias, source, sourceAlias, on, matched.toSeq, insert)
    }

    /** UPDATE's and MERGE's `SET col = expr [, col = expr]...` list —
      * right-hand sides get the full dialect expression grammar (CASE,
      * functions, concatenation, the works). */
    private def parseSetList(): Seq[(String, Col)] = {
      val out = ListBuffer.empty[(String, Col)]
      def one(): Unit = {
        val name = next() match {
          case TIdent(n) => n
          case t => throw new ParseError(
            s"Expected a column name in SET, got ${t.text}")
        }
        peek match {
          case TOp("=") => pos += 1
          case t => throw new ParseError(
            s"Expected '=' after SET $name, got ${t.text}")
        }
        out += ((name, parseOr()))
      }
      one()
      while (accept(",")) one()
      out.toSeq
    }

    /** A [WITH ...] compound without the trailing `;`/EOF check, so it
      * can also parse a parenthesized CTE body. */
    private def parseCompoundBody(): CompoundQuery = {
      val ctes = ListBuffer.empty[(String, CompoundQuery)]
      var recursive = false
      if (accept("WITH")) {
        // RECURSIVE marker (standard SQL): ONLY with it does a CTE's
        // self-name reference mean fixpoint recursion — without it the
        // reference SHADOWS the binding and reads the outer table
        // (`WITH fruits AS (SELECT ... FROM fruits)` is legal layering).
        // Not a reserved word: a column named `recursive` stays
        // reachable everywhere else.
        // one-token lookahead: `WITH recursive AS (...)` is a CTE NAMED
        // recursive (the next token is AS), not the marker — the word
        // stays fully non-reserved
        peek match {
          case TIdent(r) if r.equalsIgnoreCase("recursive") &&
              pos + 1 < toks.length && toks(pos + 1) != TKw("AS") =>
            next(); recursive = true
          case _ => ()
        }
        var more = true
        while (more) {
          val name = next() match {
            case TIdent(n) => n
            case t => throw new ParseError(s"Expected CTE name, got ${t.text}")
          }
          // standard SQL rejects duplicate names in one WITH list;
          // silently letting the last binding win would turn a typo
          // into wrong results
          if (ctes.exists(_._1 == name))
            throw new ParseError(s"CTE name '$name' specified more than once")
          expectKw("AS")
          expectOp("(")
          ctes += ((name, parseCompoundBody())) // nested WITH allowed
          expectOp(")")
          more = peek match {
            case TOp(",") => next(); true
            case _        => false
          }
        }
      }
      val head = parseBlock()
      val tail = ListBuffer.empty[(String, Boolean, SqlQuery)]
      var op = peekSetOp()
      while (op.isDefined) {
        next()
        val all = accept("ALL")
        tail += ((op.get, all, parseBlock()))
        op = peekSetOp()
      }
      if (tail.isEmpty)
        CompoundQuery(head, Nil, Nil, None, ctes.toSeq, recursive)
      else {
        // standard SQL: ORDER BY/LIMIT may only close the WHOLE compound
        // (the grammar attaches them to the final block; lift them), and
        // are illegal on earlier blocks
        (head +: tail.init.map(_._3)).foreach { b =>
          if (b.orderBy.nonEmpty || b.limit.isDefined || b.offset.isDefined)
            throw new ParseError(
              "ORDER BY/LIMIT must follow the last block of a set-op chain " +
              "(it applies to the whole compound result)")
        }
        val (lastOp, lastAll, last) = tail.last
        if (last.offset.isDefined)
          throw new ParseError("OFFSET is not supported on set-operation chains")
        val stripped = tail.init :+
          ((lastOp, lastAll, last.copy(orderBy = Nil, limit = None)))
        CompoundQuery(head, stripped.toSeq, last.orderBy, last.limit,
          ctes.toSeq, recursive)
      }
    }

    private def peekSetOp(): Option[String] = peek match {
      case TKw(k @ ("UNION" | "INTERSECT" | "EXCEPT")) => Some(k.toLowerCase)
      case _ => None
    }

    private def parseBlock(): SqlQuery = {
      expectKw("SELECT")
      val distinct = accept("DISTINCT")
      // DISTINCT ON (k1, ...) — the keep-one-row-per-key idiom
      val distinctOn: Seq[Col] =
        if (distinct && accept("ON")) {
          expectOp("(")
          val ks = ListBuffer(parseAdd())
          while (accept(",")) ks += parseAdd()
          expectOp(")")
          ks.toSeq
        } else Nil
      val items = ListBuffer(parseSelectItem())
      while (accept(",")) items += parseSelectItem()
      // FROM-less SELECT (extension, the DuckDB/Postgres convenience):
      // `SELECT 1 + 2` evaluates constants against a synthetic one-row
      // VALUES relation — the shell's calculator / probe surface. Kept
      // STRICT: `SELECT *` (the dual's internal column would leak) and
      // JOIN without FROM (no engine accepts it) stay errors.
      val hasFrom = accept("FROM")
      val from =
        if (hasFrom) parseTableRef()
        else {
          if (items.exists(_.star))
            throw new ParseError("SELECT * needs a FROM clause")
          if (peek == TKw("JOIN") || peekJoinHow().isDefined)
            throw new ParseError("JOIN needs a FROM clause")
          TableRef("_dual", Some("_dual"),
            values = Some((Seq("_one"), Seq(Seq(Lit(1))))))
        }
      val joins = ListBuffer.empty[JoinClause]
      var joinHow = peekJoinHow()
      while (joinHow.isDefined) {
        expectKw("JOIN")
        val t = parseTableRef()
        expectKw("ON")
        val on = parseOr()
        joins += JoinClause(t, on, joinHow.get)
        joinHow = peekJoinHow()
      }
      val where = if (accept("WHERE")) Some(parseOr()) else None
      def parseExprList(): Seq[Col] = {
        val gs = ListBuffer(parseAdd())
        while (accept(",")) gs += parseAdd()
        gs.toSeq
      }
      def parseParenExprList(): Seq[Col] = {
        expectOp("(")
        val out = if (peek == TOp(")")) Seq.empty[Col] else parseExprList()
        expectOp(")")
        out
      }
      // tree scans for GROUP BY ALL expansion (local: the parser AST has
      // no generic children traversal, and only these two facts matter)
      def hasAgg(c: Col): Boolean = c match {
        case _: AggCol            => true
        case Alias(ch, _)         => hasAgg(ch)
        case BinOp(_, l, r)       => hasAgg(l) || hasAgg(r)
        case Like(ch, _)          => hasAgg(ch)
        case Not(ch)              => hasAgg(ch)
        case Cast(ch, _)          => hasAgg(ch)
        case IsNull(ch)           => hasAgg(ch)
        case FuncCall(_, as)      => as.exists(hasAgg)
        case CaseWhen(bs, e) =>
          bs.exists { case (w, t) => hasAgg(w) || hasAgg(t) } ||
            e.exists(hasAgg)
        case _                    => false // refs, literals, windows, subqueries
      }
      def hasWin(c: Col): Boolean = c match {
        case _: WindowFn          => true
        case Alias(ch, _)         => hasWin(ch)
        case BinOp(_, l, r)       => hasWin(l) || hasWin(r)
        case Like(ch, _)          => hasWin(ch)
        case Not(ch)              => hasWin(ch)
        case Cast(ch, _)          => hasWin(ch)
        case IsNull(ch)           => hasWin(ch)
        case FuncCall(_, as)      => as.exists(hasWin)
        case CaseWhen(bs, e) =>
          bs.exists { case (w, t) => hasWin(w) || hasWin(t) } ||
            e.exists(hasWin)
        case _                    => false
      }
      val (groupBy, groupKind, groupingSets) =
        if (accept("GROUP")) {
          expectKw("BY")
          if (accept("ROLLUP")) (parseParenExprList(), Some("rollup"), Nil)
          else if (accept("CUBE")) (parseParenExprList(), Some("cube"), Nil)
          else if (accept("ALL")) {
            // GROUP BY ALL (extension, DuckDB-style): every select item
            // containing no aggregate becomes a grouping key (alias
            // stripped — grouping is on the EXPRESSION, exactly the
            // Engine's validity rule). All-aggregate select → grand
            // total (empty key list). Star or window items have no
            // well-defined expansion: reject, don't guess.
            if (items.exists(_.star)) throw new ParseError(
              "GROUP BY ALL requires an explicit select list, not *")
            val keys = items.toSeq.map(_.expr).filterNot(hasAgg).map { e =>
              if (hasWin(e)) throw new ParseError(
                "GROUP BY ALL cannot expand a window-function select " +
                "item; window over a derived table instead")
              e match { case Alias(c, _) => c; case c => c }
            }
            (keys, None, Nil)
          }
          else if (accept("GROUPING")) {
            expectKw("SETS")
            expectOp("(")
            val sets = ListBuffer(parseParenExprList())
            while (accept(",")) sets += parseParenExprList()
            expectOp(")")
            // output keys: distinct union of all sets, first appearance
            val union = ListBuffer.empty[Col]
            sets.flatten.foreach(c =>
              if (!union.exists(_.name == c.name)) union += c)
            (union.toSeq, Some("sets"), sets.toSeq)
          } else (parseExprList(), None, Nil)
        } else (Seq.empty[Col], None, Seq.empty[Seq[Col]])
      // HAVING is part of the group_by clause in the reference grammar
      // (parser.py visit_query): without GROUP BY it cannot parse, so a
      // dangling HAVING is a parse error here too (not silently dropped)
      val having = if (accept("HAVING")) {
        if (groupBy.isEmpty && groupKind.isEmpty)
          throw new ParseError("HAVING requires GROUP BY")
        Some(parseOr())
      } else None
      val qualify = if (accept("QUALIFY")) Some(parseOr()) else None
      val orderBy =
        if (accept("ORDER")) {
          expectKw("BY")
          if (accept("ALL")) {
            // ORDER BY ALL (extension, DuckDB-style): sort by every
            // select OUTPUT column left-to-right; one optional
            // ASC/DESC applies to all of them
            val asc =
              if (accept("DESC")) false
              else { accept("ASC"); true }
            if (items.exists(_.star)) throw new ParseError(
              "ORDER BY ALL requires an explicit select list, not *")
            items.toSeq.map(i => (ColRef(i.expr.name): Col, asc))
          } else {
            val os = ListBuffer(parseOrderItem())
            while (accept(",")) os += parseOrderItem()
            os.toSeq
          }
        } else Seq.empty
      val limit =
        if (accept("LIMIT")) Some(next() match {
          case TNum(t) => t.toInt
          case t       => throw new ParseError(s"Expected number after LIMIT, got ${t.text}")
        })
        else None
      val offset =
        if (accept("OFFSET")) Some(next() match {
          case TNum(t) => t.toInt
          case t       => throw new ParseError(s"Expected number after OFFSET, got ${t.text}")
        })
        else None
      SqlQuery(items.toSeq, from, joins.toSeq, where, groupBy, having,
        orderBy, limit, distinct && distinctOn.isEmpty, qualify, offset,
        groupKind, groupingSets, distinctOn)
    }

    private def peekJoinHow(): Option[String] = peek match {
      case TKw("JOIN") => Some("inner")
      case TKw("INNER") => next(); Some("inner")
      case TKw("CROSS") => next(); Some("cross")
      case TKw(k @ ("LEFT" | "RIGHT" | "FULL")) =>
        next(); accept("OUTER")
        Some(k.toLowerCase match { case "full" => "full_outer"; case o => s"${o}_outer" })
      case TKw("SEMI") => next(); Some("left_semi")
      case TKw("ANTI") => next(); Some("left_anti")
      case _ => None
    }

    private def parseOrderItem(): (Col, Boolean) = {
      val e = parseAdd()
      val asc = if (accept("DESC")) false else { accept("ASC"); true }
      (e, asc)
    }

    private def parseSelectItem(): SelectItem = peek match {
      case TOp("*") => next(); SelectItem(Star, star = true)
      case _ =>
        val e = parseAdd()
        val aliased = if (accept("AS")) {
          next() match {
            case TIdent(n) => e.alias(n)
            // keyword-named aliases are legal (`COUNT() AS count`) and
            // normalize to lowercase
            case TKw(k)    => e.alias(k.toLowerCase)
            case t         => throw new ParseError(s"Expected alias name, got ${t.text}")
          }
        } else e
        SelectItem(aliased, star = false)
    }

    private def parseTableRef(): TableRef = {
      // derived table: FROM (SELECT ...) alias — the subquery may itself
      // carry WITH / set ops / nested derived tables (extension).
      // Inline literal table: FROM (VALUES (...), ...) t(a, b) — the
      // standard way to hand a query a tiny lookup table without a file
      if (peek == TOp("(")) {
        next()
        if (peek == TKw("VALUES")) {
          next()
          val rows = valueRows()
          expectOp(")")
          val alias = parseTableAlias().getOrElse(throw new ParseError(
            "VALUES requires an alias with column names: " +
            "(VALUES ...) t(a, b)"))
          expectOp("(")
          def colName(): String = next() match {
            case TIdent(n) => n
            case t => throw new ParseError(
              s"Expected a VALUES column name, got ${t.text}")
          }
          val cols = ListBuffer(colName())
          while (accept(",")) cols += colName()
          expectOp(")")
          rows.find(_.length != cols.length).foreach(r =>
            throw new ParseError(s"VALUES row has ${r.length} entries " +
              s"but the column list names ${cols.length}"))
          return TableRef(alias, Some(alias), None,
            Some((cols.toSeq, rows.toSeq)))
        }
        val sub = parseCompoundBody()
        expectOp(")")
        val alias = parseTableAlias().getOrElse(throw new ParseError(
          "Derived table requires an alias: FROM (SELECT ...) name"))
        return TableRef(alias, Some(alias), Some(sub))
      }
      val path = next() match {
        case TStr(p)   => p // quoted path: FROM 'tmp/lineitem.bin' (parser.py:60)
        case TIdent(p) => p // extension: bare name resolved against base dir
        case t         => throw new ParseError(s"Expected table, got ${t.text}")
      }
      // time travel (extension, Delta-style): FROM 'ds' FOR VERSION AS
      // OF n reads that committed snapshot of a Versioned dataset;
      // FOR TIMESTAMP AS OF '<ts>' reads the snapshot that was HEAD at
      // that instant (manifest commit times). Without the clause a
      // versioned path reads its LATEST version. TIMESTAMP is matched
      // as a bare ident, not reserved — a column may keep the name.
      val (version, asOfTs, cdc): (Option[Long], Option[String],
          Option[(String, Long, Option[Long])]) =
        if (!accept("FOR")) (None, None, None)
        else if (accept("VERSION")) {
          expectKw("AS"); expectKw("OF")
          (Some(intLit("version after AS OF")), None, None)
        } else peek match {
          case TIdent(k) if k.equalsIgnoreCase("timestamp") =>
            next(); expectKw("AS"); expectKw("OF")
            next() match {
              case TStr(ts) => (None, Some(ts), None)
              case t => throw new ParseError(
                s"Expected a quoted timestamp after AS OF, got ${t.text}")
            }
          // segment-level CDC (extension, the table_changes/
          // table-as-delta idea in the dialect's FOR style):
          // FOR CHANGES FROM v [TO v] = rows of segments ADDED in
          // (v, to]; FOR REMOVALS FROM v [TO v] = rows of segments no
          // longer referenced — together the retract-then-upsert pair
          // FOR CHANGE_FEED FROM v [TO v] = the ROW-level change data
          // feed (insert / update_preimage / update_postimage / delete
          // + _commit_version) the DML statements record at commit
          case TIdent(k) if k.equalsIgnoreCase("changes") ||
              k.equalsIgnoreCase("removals") ||
              k.equalsIgnoreCase("change_feed") =>
            next(); expectKw("FROM")
            val from = intLit("version after FROM")
            val to = peek match {
              case TIdent(t2) if t2.equalsIgnoreCase("to") =>
                next(); Some(intLit("version after TO"))
              case _ => None
            }
            (None, None, Some((k.toLowerCase(java.util.Locale.ROOT),
              from, to)))
          case t => throw new ParseError(
            s"Expected VERSION, TIMESTAMP, CHANGES, REMOVALS or " +
              s"CHANGE_FEED after " +
              s"FOR, got ${t.text}")
        }
      TableRef(path, parseTableAlias(), version = version, asOfTs = asOfTs,
        cdc = cdc)
    }

    /** `(e, ...), (e, ...)` — the rows of a VALUES list. */
    private def valueRows(): Seq[Seq[Col]] = {
      def row(): Seq[Col] = {
        expectOp("(")
        val es = ListBuffer(parseAdd())
        while (accept(",")) es += parseAdd()
        expectOp(")")
        es.toSeq
      }
      val rows = ListBuffer(row())
      while (accept(",")) rows += row()
      rows.toSeq
    }

    private def intLit(what: String): Long = next() match {
      case TNum(t) if !t.contains('.') => t.toLong
      case t => throw new ParseError(
        s"Expected an integer $what, got ${t.text}")
    }

    private def parseTableAlias(): Option[String] = peek match {
      case TKw("AS")   => next(); next() match {
        case TIdent(a) => Some(a)
        case t         => throw new ParseError(s"Expected alias, got ${t.text}")
      }
      case TIdent(a) => next(); Some(a)
      case _         => None
    }

    // precedence: OR < AND < NOT < cmp < add < mul < unary < primary
    private def parseOr(): Col = {
      var l = parseAnd()
      while (accept("OR")) l = l || parseAnd()
      l
    }
    private def parseAnd(): Col = {
      var l = parseNot()
      while (accept("AND")) l = l && parseNot()
      l
    }
    private def parseNot(): Col =
      if (accept("NOT")) !parseNot()
      else if (accept("EXISTS")) {
        // `[NOT] EXISTS (SELECT ...)` — the subquery may be correlated;
        // the engine decorrelates it into a semi/anti join (extension)
        expectOp("(")
        val sub = parseCompoundBody()
        expectOp(")")
        ExistsSubquery(sub)
      } else parseCmp()

    /** RHS of a comparison: `ANY|SOME|ALL (SELECT ...)` builds the
      * quantified node (engine-planned), anything else is the plain
      * expression comparison via `mk`. */
    private def cmpRhs(l: Col, op: String, mk: Col => Col): Col = peek match {
      case TKw(q @ ("ANY" | "SOME" | "ALL")) =>
        next(); expectOp("(")
        val sub = parseCompoundBody()
        expectOp(")")
        QuantifiedCmp(l, op, q == "ALL", sub)
      case _ => mk(parseAdd())
    }

    private def parseCmp(): Col = {
      val l = parseAdd()
      peek match {
        case TOp("=")          => next(); cmpRhs(l, "=", l === _)
        case TOp("==")         => next(); cmpRhs(l, "=", l === _)
        case TOp("!=") | TOp("<>") => next(); cmpRhs(l, "!=", l =!= _)
        case TOp("<=")         => next(); cmpRhs(l, "<=", l <= _)
        case TOp(">=")         => next(); cmpRhs(l, ">=", l >= _)
        case TOp("<")          => next(); cmpRhs(l, "<", l < _)
        case TOp(">")          => next(); cmpRhs(l, ">", l > _)
        case TKw("LIKE") =>
          next()
          next() match {
            case TStr(p) => l.like(p)
            case t       => throw new ParseError(s"LIKE expects a string pattern, got ${t.text}")
          }
        // ILIKE (extension): case-insensitive LIKE, DESUGARED at parse
        // to lower(expr) LIKE lower(pattern) — the standard-engine
        // definition, so no new AST node and DuckDB's native ILIKE
        // agrees on any cased pattern. The PATTERN must be lowered with
        // the same lowering the column side gets (Spark's `lower` =
        // UTF8String.toLowerCase, locale-independent): JVM
        // String.toLowerCase is locale-sensitive (Turkish dotless-I) and
        // would disagree with both Spark and DuckDB on such locales.
        case TKw("ILIKE") =>
          next()
          next() match {
            case TStr(p) => FuncCall("lower", Seq(l)).like(utf8Lower(p))
            case t       => throw new ParseError(s"ILIKE expects a string pattern, got ${t.text}")
          }
        case TKw("NOT") =>
          next()
          if (accept("LIKE")) next() match {
            case TStr(p) => !l.like(p)
            case t       => throw new ParseError(s"LIKE expects a string pattern, got ${t.text}")
          } else if (accept("ILIKE")) next() match {
            case TStr(p) => !FuncCall("lower", Seq(l)).like(utf8Lower(p))
            case t       => throw new ParseError(s"ILIKE expects a string pattern, got ${t.text}")
          } else if (accept("BETWEEN")) {
            val lo = parseAdd(); expectKw("AND"); val hi = parseAdd()
            !l.between(lo, hi)
          } else if (accept("IN")) !parseInList(l)
          else throw new ParseError("Expected LIKE, ILIKE, BETWEEN or IN after NOT")
        case TKw("BETWEEN") =>
          next()
          val lo = parseAdd(); expectKw("AND"); val hi = parseAdd()
          l.between(lo, hi) // inclusive both ends (reference: sql.py:71-72)
        case TKw("IN") => next(); parseInList(l)
        case TKw("IS") =>
          next()
          val negated = accept("NOT")
          expectKw("NULL")
          if (negated) !IsNull(l) else IsNull(l)
        case _ => l
      }
    }

    /** `IN (v1, v2, ...)` desugared to an OR chain of equalities — the
      * schema-directed `==` coercions (timestamp-vs-string etc.) then
      * apply per element for free. `IN (SELECT ...)` / `IN (WITH ...)`
      * parses to [[InSubquery]], which the engine plans as a semi join.
      * Extension; absent in the reference. */
    private def parseInList(l: Col): Col = {
      expectOp("(")
      peek match {
        case TKw("SELECT") | TKw("WITH") =>
          val sub = parseCompoundBody()
          expectOp(")")
          InSubquery(l, sub)
        case _ =>
          val vs = ListBuffer(parseAdd())
          while (accept(",")) vs += parseAdd()
          expectOp(")")
          vs.map(v => l === v).reduce(_ || _)
      }
    }

    private def parseAdd(): Col = {
      var l = parseMul()
      var done = false
      while (!done) peek match {
        case TOp("+") => next(); l = l + parseMul()
        case TOp("-") => next(); l = l - parseMul()
        case _        => done = true
      }
      l
    }
    private def parseMul(): Col = {
      var l = parseUnary()
      var done = false
      while (!done) peek match {
        case TOp("*")  => next(); l = l * parseUnary()
        case TOp("/")  => next(); l = l / parseUnary()
        case TOp("//") => next(); l = l.floorDiv(parseUnary())
        case TOp("%")  => next(); l = l % parseUnary()
        case _         => done = true
      }
      l
    }
    private def parseUnary(): Col = peek match {
      case TOp("-") => next(); Lit(0) - parsePrimary()
      case _        => parsePrimary()
    }

    private def parsePrimary(): Col = next() match {
      // `CAST(expr AS TYPE)` — standard SQL type names mapped onto the
      // engine's Spark types. Numeric down-casts keep each engine's own
      // narrowing rule (Spark truncates float→int where DuckDB rounds
      // half-even — the one documented divergence; integral values and
      // all widening/string/temporal casts agree), so differential
      // queries stick to the agreeing cases.
      case TKw("CAST") =>
        expectOp("(")
        val e = parseOr()
        expectKw("AS")
        val tn = next() match {
          case TIdent(t) => t.toUpperCase
          case t => throw new ParseError(s"Expected a type name, got ${t.text}")
        }
        expectOp(")")
        import org.apache.spark.sql.types._
        val dt = tn match {
          case "INT" | "INTEGER"          => IntegerType
          case "BIGINT"                   => LongType
          case "SMALLINT"                 => ShortType
          case "DOUBLE"                   => DoubleType
          case "FLOAT" | "REAL"           => FloatType
          case "VARCHAR" | "TEXT" | "STRING" => StringType
          case "BOOLEAN" | "BOOL"         => BooleanType
          case "TIMESTAMP"                => TimestampType
          case "DATE"                     => DateType
          case other => throw new ParseError(
            s"Unsupported CAST target type '$other'")
        }
        Cast(e, dt)
      // `INTERVAL 90 DAY` / `INTERVAL '90' DAY` (TPC-H spelling) — the
      // unit is a bare identifier (not a keyword: `year(...)` the scalar
      // must keep parsing), singular or plural, case-insensitive
      case TKw("INTERVAL") =>
        val n = next() match {
          case TNum(t) if !t.contains('.') => t.toInt
          case TStr(s) =>
            try s.trim.toInt
            catch { case _: NumberFormatException =>
              throw new ParseError(s"Malformed INTERVAL quantity '$s'") }
          case t => throw new ParseError(
            s"INTERVAL expects an integer quantity, got ${t.text}")
        }
        next() match {
          case TIdent(u) =>
            val unit = u.toLowerCase.stripSuffix("s")
            if (unit != "day" && unit != "month" && unit != "year")
              throw new ParseError(s"Unsupported INTERVAL unit '$u'")
            IntervalLit(n, unit.toUpperCase)
          case t => throw new ParseError(
            s"INTERVAL expects a unit (DAY/MONTH/YEAR), got ${t.text}")
        }
      case TNum(t) =>
        // int-only in the reference visitor (parser.py:352-353); floats
        // extended per the grammar's intent (parser.py:63, SURVEY §7.1.4).
        // Integer literals in i32 range stay 32-bit so arithmetic matches
        // the reference's wrapping i32 semantics (§7.1.3; see
        // tests/test_native_execution.py:13-26); wider literals extend to
        // 64-bit.
        try {
          if (t.contains('.')) Lit(t.toDouble)
          else t.toLong match {
            case l if l >= Int.MinValue && l <= Int.MaxValue => Lit(l.toInt)
            case l => Lit(l)
          }
        } catch { // e.g. a 20+-digit integer overflowing Long
          case _: NumberFormatException =>
            throw new ParseError(s"Malformed number '$t'")
        }
      case TStr(s)   => Lit(s)
      case TIdent(n) =>
        // bare identifier = column ref; identifier + '(' = scalar
        // function call (whitelist enforced at compile time; extension)
        peek match {
          case TOp("(") =>
            next()
            val fnArgs = ListBuffer.empty[Col]
            if (!accept(")")) {
              fnArgs += parseAdd()
              while (accept(",")) fnArgs += parseAdd()
              expectOp(")")
            }
            maybeOver(n.toLowerCase match {
              // statistical aggregates (extension): parsed like any
              // function, routed through the aggregate machinery so
              // GROUP BY validity / HAVING hiding apply unchanged
              case f @ ("stddev" | "stddev_samp" | "stddev_pop" |
                        "var_samp" | "var_pop" | "median" |
                        "skewness" | "kurtosis")
                  if fnArgs.size == 1 =>
                AggCol(if (f == "stddev_samp") "stddev" else f,
                  fnArgs.head, None)
              // GROUPING(key): 1 on subtotal rows where ROLLUP/CUBE
              // suppressed the key, 0 on regular rows — rides the
              // aggregate machinery (it is computed BY the grouping
              // operator; Spark rejects it outside rollup/cube loudly)
              case "grouping" if fnArgs.size == 1 =>
                AggCol("grouping", fnArgs.head, None)
              // two-argument statistical aggregates: the pair rides in
              // a composite child (the string_agg convention) so AggCol
              // stays single-child for the Engine's generic traversals.
              // corr is Pearson — the sample/population distinction
              // cancels in the ratio, so both engines agree
              case f @ ("corr" | "covar_pop" | "covar_samp")
                  if fnArgs.size == 2 =>
                AggCol(f, FuncCall("stat2_args", fnArgs.toSeq), None)
              case "string_agg" if fnArgs.size == 2 =>
                // string_agg(expr, 'sep') with elements sorted by VALUE
                // (deterministic; oracle writes ORDER BY expr) — the
                // two args ride in a composite child so AggCol stays
                // single-child for the Engine's generic traversals
                AggCol("string_agg",
                  FuncCall("string_agg_args", fnArgs.toSeq), None)
              case f => FuncCall(f, fnArgs.toSeq)
            })
          case _ => ColRef(n)
        }
      case TOp("(") =>
        peek match {
          // scalar subquery: (SELECT <one value>) usable anywhere an
          // expression is (extension; evaluated at plan time)
          case TKw("SELECT") | TKw("WITH") =>
            val sub = parseCompoundBody(); expectOp(")"); ScalarSubquery(sub)
          case _ =>
            val e = parseOr(); expectOp(")"); e
        }
      case TKw("COUNT") =>
        expectOp("(")
        maybeOver(peek match {
          case TOp(")") => next(); AggCol("count", Lit(1), Some("count")) // COUNT() → sum of ones (sql.py:462-464)
          case TKw("DISTINCT") => next(); val e = parseAdd(); expectOp(")"); AggCol("count_distinct", e, None)
          case TOp("*") => next(); expectOp(")"); AggCol("count", Lit(1), Some("count"))
          case _        => val e = parseAdd(); expectOp(")"); AggCol("count_col", e, None)
        })
      case TKw(fn @ ("SUM" | "MIN" | "MAX" | "AVG")) =>
        expectOp("(")
        val e = parseAdd()
        expectOp(")")
        maybeOver(AggCol(fn.toLowerCase, e, None))
      // GROUPING is a keyword (GROUP BY GROUPING SETS), so the generic
      // identifier-function branch never sees GROUPING(key) — handled
      // here; see the grouping case in the generic branch for semantics
      case TKw("GROUPING") =>
        expectOp("(")
        val e = parseAdd()
        expectOp(")")
        AggCol("grouping", e, None)
      // NULL literal (standard SQL): an untyped null usable anywhere an
      // expression is — VALUES rows infer the column type from non-null
      // peers, CASE ELSE NULL coerces to the branches' type
      case TKw("NULL") => Lit(null)
      case TKw("CASE") =>
        // searched form `CASE WHEN cond THEN v ...` and simple form
        // `CASE x WHEN v THEN ...` (desugared to `WHEN x = v`); extension
        // — the reference dialect has no conditional expression
        val operand = peek match {
          case TKw("WHEN") => None
          case _           => Some(parseOr())
        }
        val branches = ListBuffer.empty[(Col, Col)]
        while (accept("WHEN")) {
          val w0 = parseOr()
          val cond = operand.fold(w0)(op => op === w0)
          expectKw("THEN")
          branches += ((cond, parseOr()))
        }
        if (branches.isEmpty)
          throw new ParseError("CASE requires at least one WHEN branch")
        val elseValue = if (accept("ELSE")) Some(parseOr()) else None
        expectKw("END")
        CaseWhen(branches.toSeq, elseValue)
      case t => throw new ParseError(s"Unexpected token '${t.text}'")
    }

    /** Postfix `OVER (PARTITION BY ... ORDER BY ...)` after a function
      * call or aggregate — turns it into a window function (extension;
      * SURVEY §2.5 lists window functions as absent in the reference).
      * `COUNT(DISTINCT) OVER` is rejected like standard SQL. */
    private def maybeOver(e: Col): Col = {
      if (!accept("OVER")) return e
      expectOp("(")
      val pb = ListBuffer.empty[Col]
      if (accept("PARTITION")) {
        expectKw("BY")
        pb += parseAdd()
        while (accept(",")) pb += parseAdd()
      }
      val ob = ListBuffer.empty[(Col, Boolean)]
      if (accept("ORDER")) {
        expectKw("BY")
        ob += parseOrderItem()
        while (accept(",")) ob += parseOrderItem()
      }
      // `ROWS|RANGE BETWEEN <bound> AND <bound>` (or the standard
      // shorthand `ROWS <start-bound>`, end defaulting to CURRENT ROW)
      // — bounds in Spark's rowsBetween/rangeBetween encoding; RANGE is
      // value distance along a single integral ORDER BY key (enforced
      // at compile, see WindowFn's scaladoc)
      val isRange = peek == TKw("RANGE") && { next(); true }
      val frame: Option[(Long, Long)] =
        if (!isRange && !accept("ROWS")) None
        else {
          def bound(): Long = peek match {
            case TKw("UNBOUNDED") =>
              next()
              if (accept("PRECEDING")) Long.MinValue
              else { expectKw("FOLLOWING"); Long.MaxValue }
            case TKw("CURRENT") =>
              next(); expectKw("ROW"); 0L
            case TNum(t) if !t.contains('.') =>
              next()
              val n = t.toLong
              if (accept("PRECEDING")) -n
              else { expectKw("FOLLOWING"); n }
            case t => throw new ParseError(
              s"Expected a ROWS frame bound, got ${t.text}")
          }
          if (accept("BETWEEN")) {
            val s = bound(); expectKw("AND"); Some((s, bound()))
          } else Some((bound(), 0L))
        }
      expectOp(")")
      val (fn, args) = e match {
        // offset/positional functions keep their full argument list
        // (lag/lead carry a literal offset and default)
        case FuncCall(f @ ("lag" | "lead" | "first_value" | "last_value"), as) =>
          (f, as)
        case FuncCall(f, Seq())            => (f, Seq.empty[Col])
        case FuncCall(f, Seq(a))           => (f, Seq(a))
        case AggCol("count", Lit(1), _)    => ("count", Seq.empty[Col])
        case AggCol("count_col", a, _)     => ("count", Seq(a))
        case AggCol(f @ ("sum" | "min" | "max" | "avg" | "stddev" |
                         "stddev_pop" | "var_samp" | "var_pop"), a, _) =>
          (f, Seq(a))
        case _ => throw new ParseError(
          s"OVER cannot follow ${e.name}: window functions are " +
          "row_number/rank/dense_rank, ntile/percent_rank/cume_dist, " +
          "sum/min/max/avg/count, lag/lead and first_value/last_value")
      }
      WindowFn(fn, args, pb.toSeq, ob.toSeq, frame, isRange)
    }
  }

  private def parser(sql: String): P = {
    val (toks, offs) = lex(sql)
    new P(toks, offs, sql)
  }

  /** Parse a (possibly set-op-combined) query. */
  def parseCompound(sql: String): CompoundQuery = parser(sql).parseCompound()

  /** Parse any statement of the dialect: a query, DDL, DML or utility
    * statement (see [[Statement]]). */
  def parseStatement(sql: String): Statement = parser(sql).parseStatement()

  /** Parse a single query block; a compound query is a parse error here
    * (legacy single-block entry point — the engine uses [[parseCompound]]). */
  def parse(sql: String): SqlQuery = parseCompound(sql) match {
    case CompoundQuery(head, Seq(), _, _, Seq(), _) => head
    case CompoundQuery(_, _, _, _, ctes, _) if ctes.nonEmpty =>
      throw new ParseError("WITH requires parseCompound")
    case _ => throw new ParseError("Set operations require parseCompound")
  }
}
