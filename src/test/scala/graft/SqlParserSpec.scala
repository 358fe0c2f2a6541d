package graft

import graft.api.Col._
import graft.sql._

/** Parser unit tests by AST equality — the analog of the reference's
  * plan-equality tests, construct-for-construct (reference:
  * tests/test_parser.py, 414 LoC: select/alias/expression/where/compare/
  * groupby/join/between coverage). */
class SqlParserSpec extends SparkSpec {

  // ---- select list (reference test_parser.py:18-117) ----

  test("select list with alias and star (test_parser.py:18-30, 46-68)") {
    val q = SqlParser.parse("SELECT *, a AS b, x + 1 FROM 't'")
    assert(q.select(0) == SelectItem(Star, star = true))
    assert(q.select(1) == SelectItem(Alias(ColRef("a"), "b"), star = false))
    assert(q.select(2) == SelectItem(BinOp("+", ColRef("x"), Lit(1)), star = false))
    assert(q.from == TableRef("t", None))
  }

  test("FROM alias with and without AS (test_parser.py:32-44)") {
    assert(SqlParser.parse("SELECT a FROM 'users' AS u").from == TableRef("users", Some("u")))
    assert(SqlParser.parse("SELECT a FROM 'users' u").from == TableRef("users", Some("u")))
  }

  test("dotted refs from aliased table in select list (test_parser.py:70-89)") {
    val q = SqlParser.parse("SELECT u.name, u.age FROM 'users' u")
    assert(q.select.map(_.expr) == Seq(ColRef("u.name"), ColRef("u.age")))
  }

  test("complex select expression nests at the right precedence (test_parser.py:105-117)") {
    val q = SqlParser.parse("SELECT a * (b + 2) - c / 4 FROM 't'")
    assert(q.select.head.expr ==
      BinOp("-",
        BinOp("*", ColRef("a"), BinOp("+", ColRef("b"), Lit(2))),
        BinOp("/", ColRef("c"), Lit(4))))
  }

  test("keyword alias normalizes (`AS count`)") {
    val q = SqlParser.parse("SELECT COUNT() AS count FROM 't' GROUP BY g")
    assert(q.select.head.expr == Alias(AggCol("count", Lit(1), Some("count")), "count"))
  }

  // ---- where comparisons (reference test_parser.py:119-227) ----

  test("col-value, col-col and value-col compares (test_parser.py:119-160)") {
    assert(SqlParser.parse("SELECT a FROM 't' WHERE a > 5").where
      .contains(BinOp(">", ColRef("a"), Lit(5))))
    assert(SqlParser.parse("SELECT a FROM 't' WHERE a = b").where
      .contains(BinOp("==", ColRef("a"), ColRef("b"))))
    assert(SqlParser.parse("SELECT a FROM 't' WHERE 5 < a").where
      .contains(BinOp("<", Lit(5), ColRef("a"))))
  }

  test("`=` and `==` both mean equality (test_parser.py:196-213)") {
    val a = SqlParser.parse("SELECT a FROM 't' WHERE a = 1").where
    val b = SqlParser.parse("SELECT a FROM 't' WHERE a == 1").where
    assert(a == b && a.contains(BinOp("==", ColRef("a"), Lit(1))))
  }

  test("all six comparison operators (test_parser.py:215-227)") {
    val cases = Seq(
      "=" -> "==", "!=" -> "!=", "<" -> "<", "<=" -> "<=", ">" -> ">", ">=" -> ">=")
    cases.foreach { case (src, op) =>
      val q = SqlParser.parse(s"SELECT a FROM 't' WHERE a $src 1")
      assert(q.where.contains(BinOp(op, ColRef("a"), Lit(1))), s"op $src")
    }
    // <> is an alias for !=
    assert(SqlParser.parse("SELECT a FROM 't' WHERE a <> 1").where
      .contains(BinOp("!=", ColRef("a"), Lit(1))))
  }

  test("operator precedence: OR < AND < NOT < cmp < add < mul (reference parser.py:33-56)") {
    val q = SqlParser.parse("SELECT a FROM 't' WHERE a = 1 OR b = 2 AND c < 3 + 4 * 5")
    val expected =
      BinOp("|",
        BinOp("==", ColRef("a"), Lit(1)),
        BinOp("&",
          BinOp("==", ColRef("b"), Lit(2)),
          BinOp("<", ColRef("c"),
            BinOp("+", Lit(3), BinOp("*", Lit(4), Lit(5))))))
    assert(q.where.contains(expected))
  }

  test("arithmetic inside WHERE (test_parser.py:180-194)") {
    val q = SqlParser.parse("SELECT a FROM 't' WHERE a + 1 > b * 2")
    assert(q.where.contains(
      BinOp(">", BinOp("+", ColRef("a"), Lit(1)), BinOp("*", ColRef("b"), Lit(2)))))
  }

  test("BETWEEN desugars to two inclusive comparisons (reference test_parser.py:396-414)") {
    val q = SqlParser.parse("SELECT a FROM 't' WHERE a BETWEEN 1 AND 5")
    val expected = BinOp("&",
      BinOp("<=", Lit(1), ColRef("a")),
      BinOp("<=", ColRef("a"), Lit(5)))
    assert(q.where.contains(expected))
  }

  // ---- grouping (reference test_parser.py:229-350) ----

  test("COUNT() desugars to count aliased 'count' (reference sql.py:462-464)") {
    val q = SqlParser.parse("SELECT COUNT() FROM 't' GROUP BY g")
    assert(q.select.head.expr == AggCol("count", Lit(1), Some("count")))
  }

  test("aggregate of an expression (test_parser.py:282-302)") {
    val q = SqlParser.parse("SELECT SUM(price * quantity) FROM 't' GROUP BY g")
    assert(q.select.head.expr ==
      AggCol("sum", BinOp("*", ColRef("price"), ColRef("quantity")), None))
  }

  test("aggregate alias (test_parser.py:304-327)") {
    val q = SqlParser.parse("SELECT SUM(x) AS total FROM 't' GROUP BY g")
    assert(q.select.head.expr == Alias(AggCol("sum", ColRef("x"), None), "total"))
  }

  test("GROUP BY combines with WHERE (test_parser.py:329-350)") {
    val q = SqlParser.parse("SELECT g, SUM(x) FROM 't' WHERE x > 0 GROUP BY g")
    assert(q.where.contains(BinOp(">", ColRef("x"), Lit(0))))
    assert(q.groupBy == Seq(ColRef("g")))
  }

  test("HAVING and GROUP BY parse") {
    val q = SqlParser.parse(
      "SELECT g, SUM(x) AS s FROM 't' GROUP BY g HAVING SUM(x) > 10")
    assert(q.groupBy == Seq(ColRef("g")))
    assert(q.having.contains(
      BinOp(">", AggCol("sum", ColRef("x"), None), Lit(10))))
  }

  test("HAVING without GROUP BY is a parse error (reference grammar ties HAVING to group_by)") {
    assertThrows[ParseError](
      SqlParser.parse("SELECT x FROM 't' HAVING SUM(y) > 10"))
    assertThrows[ParseError](
      SqlParser.parse("SELECT SUM(y) FROM 't' HAVING SUM(y) > 10"))
  }

  // ---- joins (reference test_parser.py:352-393) ----

  test("join with aliases and dotted columns (reference test_parser.py:352-393)") {
    val q = SqlParser.parse(
      "SELECT u.name FROM 'users' u JOIN 'orders' o ON u.id = o.user_id")
    assert(q.from == TableRef("users", Some("u")))
    assert(q.joins.head.table == TableRef("orders", Some("o")))
    assert(q.joins.head.how == "inner")
    assert(q.joins.head.on == BinOp("==", ColRef("u.id"), ColRef("o.user_id")))
  }

  test("LEFT/RIGHT/FULL/SEMI/ANTI join types honored (SURVEY §7.1.1 divergence)") {
    assert(SqlParser.parse("SELECT a FROM 't' LEFT JOIN 's' ON a = b")
      .joins.head.how == "left_outer")
    assert(SqlParser.parse("SELECT a FROM 't' RIGHT JOIN 's' ON a = b")
      .joins.head.how == "right_outer")
    assert(SqlParser.parse("SELECT a FROM 't' FULL OUTER JOIN 's' ON a = b")
      .joins.head.how == "full_outer")
    assert(SqlParser.parse("SELECT a FROM 't' SEMI JOIN 's' ON a = b")
      .joins.head.how == "left_semi")
    assert(SqlParser.parse("SELECT a FROM 't' ANTI JOIN 's' ON a = b")
      .joins.head.how == "left_anti")
  }

  // ---- literals & errors ----

  test("int literals are 32-bit in i32 range, 64-bit beyond (reference i32 semantics)") {
    assert(SqlParser.parse("SELECT 2147483647 FROM 't'").select.head.expr == Lit(2147483647))
    assert(SqlParser.parse("SELECT 2147483648 FROM 't'").select.head.expr == Lit(2147483648L))
  }

  test("float literals extend the reference grammar (SURVEY §7.1.4)") {
    val q = SqlParser.parse("SELECT a FROM 't' WHERE a > 1.5")
    assert(q.where.contains(BinOp(">", ColRef("a"), Lit(1.5))))
  }

  test("floor division, modulo and unary minus parse at mul precedence") {
    val q = SqlParser.parse("SELECT a // 2 + b % 3, -c FROM 't'")
    assert(q.select(0).expr == BinOp("+",
      BinOp("//", ColRef("a"), Lit(2)),
      BinOp("%", ColRef("b"), Lit(3))))
    assert(q.select(1).expr == BinOp("-", Lit(0), ColRef("c")))
  }

  test("parentheses override precedence") {
    val q = SqlParser.parse("SELECT (a + b) * c FROM 't'")
    assert(q.select.head.expr ==
      BinOp("*", BinOp("+", ColRef("a"), ColRef("b")), ColRef("c")))
  }

  test("COUNT(col) and COUNT(DISTINCT col) extensions") {
    val q = SqlParser.parse("SELECT COUNT(a), COUNT(DISTINCT b) FROM 't' GROUP BY g")
    assert(q.select(0).expr == AggCol("count_col", ColRef("a"), None))
    assert(q.select(1).expr == AggCol("count_distinct", ColRef("b"), None))
  }

  test("parse errors raise ParseError (reference parser.py:102-109)") {
    assertThrows[ParseError](SqlParser.parse("SELECT FROM 't'"))
    assertThrows[ParseError](SqlParser.parse("SELECT a 't'"))
    assertThrows[ParseError](SqlParser.parse("SELECT a FROM 't' WHERE a LIKE 5"))
    // malformed number is a ParseError, not a NumberFormatException
    assertThrows[ParseError](SqlParser.parse("SELECT a FROM 't' WHERE a = 1.2.3"))
  }

  test("NOT is implemented (reference declares-but-raises, sql.py:44-45)") {
    val q = SqlParser.parse("SELECT a FROM 't' WHERE NOT a = 1")
    assert(q.where.contains(Not(BinOp("==", ColRef("a"), Lit(1)))))
  }

  test("CASE WHEN: searched form, simple form desugars, ELSE optional (extension)") {
    val q = SqlParser.parse(
      "SELECT CASE WHEN a < 1 THEN 'lo' WHEN a < 2 THEN 'mid' ELSE 'hi' END AS b FROM 't'")
    assert(q.select.head.expr == Alias(CaseWhen(Seq(
      (BinOp("<", ColRef("a"), Lit(1)), Lit("lo")),
      (BinOp("<", ColRef("a"), Lit(2)), Lit("mid"))), Some(Lit("hi"))), "b"))

    val simple = SqlParser.parse("SELECT CASE a WHEN 1 THEN x ELSE y END FROM 't'")
    assert(simple.select.head.expr == CaseWhen(
      Seq((BinOp("==", ColRef("a"), Lit(1)), ColRef("x"))), Some(ColRef("y"))))

    val noElse = SqlParser.parse("SELECT CASE WHEN a = 1 THEN 2 END FROM 't'")
    assert(noElse.select.head.expr ==
      CaseWhen(Seq((BinOp("==", ColRef("a"), Lit(1)), Lit(2))), None))

    // inside an aggregate (the conditional-count idiom)
    val agg = SqlParser.parse(
      "SELECT SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) FROM 't' GROUP BY g")
    assert(agg.select.head.expr == AggCol("sum",
      CaseWhen(Seq((BinOp("==", ColRef("a"), Lit(1)), Lit(1))), Some(Lit(0))), None))

    assertThrows[ParseError](SqlParser.parse("SELECT CASE END FROM 't'"))
    assertThrows[ParseError](SqlParser.parse("SELECT CASE WHEN a THEN 1 FROM 't'"))
  }

  test("IN lists desugar to OR-of-equals; IS [NOT] NULL parses (extension)") {
    val q = SqlParser.parse("SELECT a FROM 't' WHERE a IN (1, 2)")
    assert(q.where.contains(
      BinOp("|", BinOp("==", ColRef("a"), Lit(1)), BinOp("==", ColRef("a"), Lit(2)))))

    val notIn = SqlParser.parse("SELECT a FROM 't' WHERE a NOT IN (1, 2)")
    assert(notIn.where.contains(Not(
      BinOp("|", BinOp("==", ColRef("a"), Lit(1)), BinOp("==", ColRef("a"), Lit(2))))))

    val isNull = SqlParser.parse("SELECT a FROM 't' WHERE b IS NULL")
    assert(isNull.where.contains(IsNull(ColRef("b"))))
    val isNotNull = SqlParser.parse("SELECT a FROM 't' WHERE b IS NOT NULL")
    assert(isNotNull.where.contains(Not(IsNull(ColRef("b")))))

    assertThrows[ParseError](SqlParser.parse("SELECT a FROM 't' WHERE a IN ()"))
    assertThrows[ParseError](SqlParser.parse("SELECT a FROM 't' WHERE a IS 1"))
  }

  test("scalar functions: parse to FuncCall, evaluate, unknown names raise (extension)") {
    val q = SqlParser.parse("SELECT lower(a), substr(b, 1, 3), coalesce(a, b, 'x') FROM 't'")
    assert(q.select(0).expr == FuncCall("lower", Seq(ColRef("a"))))
    assert(q.select(1).expr == FuncCall("substr", Seq(ColRef("b"), Lit(1), Lit(3))))
    assert(q.select(2).expr == FuncCall("coalesce", Seq(ColRef("a"), ColRef("b"), Lit("x"))))

    val d = java.nio.file.Files.createTempDirectory("graft-fn").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    val e = Engine(spark, d)
    val out = e.sql(
      """SELECT upper(fruit) AS f, length(fruit) AS n, substr(fruit, 1, 3) AS pre,
        |  round(quantity / 2, 1) AS h FROM fruits WHERE fruit = 'orange'""".stripMargin)
      .df.collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "ORANGE" && r.getInt(1) == 6 &&
      r.getString(2) == "ora" && r.getDouble(3) == 1.0)

    // unknown function / bad arity fail loudly at compile time
    assertThrows[IllegalArgumentException](
      e.sql("SELECT nope(fruit) FROM fruits").df)
    assertThrows[IllegalArgumentException](
      e.sql("SELECT lower(fruit, fruit) FROM fruits").df)

    // second wave: trim family, replace, concat, strpos, greatest/least
    val r2 = e.sql(
      """SELECT trim(concat(' ', fruit, ' ')) AS t, ltrim(' x') AS lt,
        |  rtrim('x ') AS rt, replace(fruit, 'an', 'AN') AS rep,
        |  strpos(fruit, 'ang') AS p, strpos(fruit, 'zz') AS p0,
        |  greatest(quantity, 3) AS g, least(quantity, 3) AS l
        |FROM fruits WHERE fruit = 'orange'""".stripMargin).df.collect().head
    assert(r2.getString(0) == "orange" && r2.getString(1) == "x" &&
      r2.getString(2) == "x" && r2.getString(3) == "orANge" &&
      r2.getInt(4) == 3 && r2.getInt(5) == 0 &&
      r2.getInt(6) == 3 && r2.getInt(7) == 2)
    assertThrows[IllegalArgumentException](
      e.sql("SELECT concat(fruit) FROM fruits").df)
    assertThrows[IllegalArgumentException](
      e.sql("SELECT greatest(fruit, quantity) FROM fruits").df)
  }

  test("quoted identifiers reach reserved-word column names") {
    val q = SqlParser.parse("""SELECT "end", "in" AS x FROM 't' WHERE "null" = 1""")
    assert(q.select(0).expr == ColRef("end"))
    assert(q.select(1).expr == Alias(ColRef("in"), "x"))
    assert(q.where.contains(BinOp("==", ColRef("null"), Lit(1))))
    // unquoted reserved words still refuse to be columns
    assertThrows[ParseError](SqlParser.parse("SELECT end FROM 't'"))
  }

  test("unaliased aggregates over complex children get safe synthetic names") {
    val d = java.nio.file.Files.createTempDirectory("graft-agg").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // qualified ref INSIDE an unaliased CASE aggregate: the derived name
    // must not leak a dotted toString that the de-qualifier would mangle
    val out = Engine(spark, d).sql(
      """SELECT f.fruit, SUM(CASE WHEN f.quantity > 4 THEN 1 ELSE 0 END)
        |FROM fruits f GROUP BY f.fruit""".stripMargin).df.collect()
    val m = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("apple" -> 0L, "banana" -> 2L, "orange" -> 0L))
  }

  test("CASE WHEN evaluates through the engine (branch select + null on no match)") {
    val d = java.nio.file.Files.createTempDirectory("graft-case").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    val out = Engine(spark, d).sql(
      """SELECT fruit, CASE WHEN quantity < 3 THEN 'small'
        |  WHEN quantity < 5 THEN 'medium' END AS bucket
        |FROM fruits""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("apple", "medium"), ("banana", null), ("orange", "small")))
  }

  test("WITH CTEs: bindings, chained references, aggregation over a CTE (extension)") {
    val d = java.nio.file.Files.createTempDirectory("graft-cte").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // second CTE references the first; main query aggregates over it
    val out = Engine(spark, d).sql(
      """WITH big AS (SELECT fruit, quantity FROM fruits WHERE quantity > 3),
        |tot AS (SELECT fruit, SUM(quantity) AS q FROM big GROUP BY fruit)
        |SELECT fruit, q FROM tot WHERE q > 5""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("banana", 12L)))
    // a CTE name shadows a disk table of the same name
    val shadowed = Engine(spark, d).sql(
      """WITH fruits AS (SELECT fruit FROM fruits WHERE quantity = 7)
        |SELECT fruit FROM fruits""".stripMargin).df.collect()
    assert(shadowed.map(_.getString(0)).toSeq == Seq("banana"))
  }

  test("WITH parse errors: missing AS, missing parens, dangling comma") {
    import graft.sql.{ParseError, SqlParser}
    assertThrows[ParseError](
      SqlParser.parseCompound("WITH c (SELECT 1 AS x) SELECT x FROM c"))
    assertThrows[ParseError](
      SqlParser.parseCompound("WITH c AS SELECT 1 AS x SELECT x FROM c"))
    assertThrows[ParseError](
      SqlParser.parseCompound(
        "WITH c AS (SELECT fruit FROM fruits), SELECT fruit FROM c"))
    // the single-block legacy entry point refuses WITH
    assertThrows[ParseError](
      SqlParser.parse("WITH c AS (SELECT fruit FROM fruits) SELECT fruit FROM c"))
    // duplicate names in one WITH list: standard SQL rejects (last-wins
    // would turn a typo into wrong results)
    assertThrows[ParseError](
      SqlParser.parseCompound(
        "WITH c AS (SELECT 1 AS x FROM fruits), c AS (SELECT 2 AS x FROM fruits) SELECT x FROM c"))
  }

  test("derived tables: FROM/JOIN subqueries, alias required, CTE visible inside (extension)") {
    import graft.sql.{ParseError, SqlParser}
    val d = java.nio.file.Files.createTempDirectory("graft-derived").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // FROM (SELECT ...): aggregate over a derived projection
    val out = Engine(spark, d).sql(
      """SELECT fruit, SUM(q2) AS s FROM
        |  (SELECT fruit, quantity * 2 AS q2 FROM fruits WHERE quantity > 2) big
        |GROUP BY fruit""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("apple" -> 14L, "banana" -> 24L))
    // derived table on the JOIN side, dotted refs through its alias
    val joined = Engine(spark, d).sql(
      """SELECT f.fruit, t.q FROM fruits f
        |JOIN (SELECT fruit, SUM(quantity) AS q FROM fruits GROUP BY fruit) t
        |  ON f.fruit = t.fruit
        |WHERE f.quantity = 3""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(joined == Seq(("apple", 7L)))
    // an enclosing CTE is visible inside a derived table
    val viaCte = Engine(spark, d).sql(
      """WITH big AS (SELECT fruit, quantity FROM fruits WHERE quantity > 3)
        |SELECT fruit, q FROM (SELECT fruit, SUM(quantity) AS q FROM big GROUP BY fruit) t
        |WHERE q > 5""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaCte == Set(("banana", 12L)))
    // standard SQL: a derived table must carry an alias
    assertThrows[ParseError](
      SqlParser.parseCompound("SELECT fruit FROM (SELECT fruit FROM fruits)"))
  }

  test("window functions: OVER parses, ranks/partition sums evaluate, invalid forms raise (extension)") {
    import graft.api.Col._
    import graft.sql.{ParseError, SqlParser}
    // AST shape
    val q = SqlParser.parse(
      "SELECT fruit, row_number() OVER (PARTITION BY color ORDER BY quantity DESC) AS rn FROM fruits")
    assert(q.select(1).expr == Alias(
      WindowFn("row_number", Seq.empty, Seq(ColRef("color")),
        Seq((ColRef("quantity"), false))), "rn"))
    // execution: rank within color + whole-partition sum
    val d = java.nio.file.Files.createTempDirectory("graft-window").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    val out = Engine(spark, d).sql(
      """SELECT fruit, quantity,
        |  row_number() OVER (PARTITION BY color ORDER BY quantity DESC, fruit) AS rn,
        |  SUM(quantity) OVER (PARTITION BY color) AS color_qty
        |FROM fruits""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(out == Set(
      ("banana", 7, 1, 12L), ("banana", 5, 2, 12L),   // yellow
      ("apple", 4, 1, 4L),                            // green
      ("apple", 3, 1, 3L),                            // red
      ("orange", 2, 1, 2L)))                          // orange
    // top-k per group via a derived table (the composable form)
    val top1 = Engine(spark, d).sql(
      """SELECT fruit, quantity FROM
        |  (SELECT fruit, quantity,
        |     row_number() OVER (PARTITION BY color ORDER BY quantity DESC, fruit) AS rn
        |   FROM fruits) t
        |WHERE rn = 1""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(top1 == Set(("banana", 7), ("apple", 4), ("apple", 3), ("orange", 2)))
    // ranking without ORDER BY raises; OVER after a scalar fn raises;
    // window inside a grouped block raises (compose via derived table)
    assertThrows[IllegalArgumentException](
      Engine(spark, d).sql("SELECT row_number() OVER (PARTITION BY color) AS rn FROM fruits").df)
    assertThrows[ParseError](
      SqlParser.parse("SELECT round(quantity, 2) OVER (ORDER BY fruit) FROM fruits"))
    assertThrows[graft.sql.GroupByError](
      Engine(spark, d).sql(
        "SELECT color, SUM(quantity) AS q, row_number() OVER (ORDER BY color) AS rn FROM fruits GROUP BY color").df)
    // the guard covers EVERY expression position of the grouped block,
    // not just the select list
    assertThrows[graft.sql.GroupByError](
      Engine(spark, d).sql(
        "SELECT color, SUM(quantity) AS q FROM fruits GROUP BY color ORDER BY row_number() OVER (ORDER BY color)").df)
  }

  test("window ROWS frames: moving/running aggregates evaluate; invalid frames raise (extension)") {
    import graft.api.Col._
    import graft.sql.{ParseError, SqlParser}
    // AST: BETWEEN form and the standard start-only shorthand
    val q = SqlParser.parse(
      "SELECT SUM(quantity) OVER (ORDER BY fruit ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s FROM fruits")
    assert(q.select.head.expr == Alias(
      WindowFn("sum", Seq(ColRef("quantity")), Seq.empty,
        Seq((ColRef("fruit"), true)), Some((-2L, 0L))), "s"))
    assert(SqlParser.parse(
      "SELECT SUM(quantity) OVER (ORDER BY fruit ROWS UNBOUNDED PRECEDING) AS s FROM fruits")
      .select.head.expr == Alias(
        WindowFn("sum", Seq(ColRef("quantity")), Seq.empty,
          Seq((ColRef("fruit"), true)), Some((Long.MinValue, 0L))), "s"))
    // execution: a 2-row moving sum over a deterministic total order
    val d = java.nio.file.Files.createTempDirectory("graft-frame").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    val out = Engine(spark, d).sql(
      """SELECT fruit, quantity,
        |  SUM(quantity) OVER (ORDER BY quantity, fruit
        |    ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS mov
        |FROM fruits""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // order: orange 2, apple 3, apple 4, banana 5, banana 7
    assert(out == Set(
      ("orange", 2, 2L), ("apple", 3, 5L), ("apple", 4, 7L),
      ("banana", 5, 9L), ("banana", 7, 12L)))
    // a frame without ORDER BY raises (nondeterministic row arithmetic);
    // ranking functions take no frame; inverted bounds raise; a
    // non-integer bound is a parse error
    assertThrows[IllegalArgumentException](
      Engine(spark, d).sql(
        "SELECT SUM(quantity) OVER (PARTITION BY color ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM fruits").df)
    assertThrows[IllegalArgumentException](
      Engine(spark, d).sql(
        "SELECT row_number() OVER (ORDER BY fruit ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS rn FROM fruits").df)
    assertThrows[IllegalArgumentException](
      Engine(spark, d).sql(
        "SELECT SUM(quantity) OVER (ORDER BY fruit ROWS BETWEEN CURRENT ROW AND 1 PRECEDING) AS s FROM fruits").df)
    assertThrows[ParseError](SqlParser.parse(
      "SELECT SUM(quantity) OVER (ORDER BY fruit ROWS BETWEEN 1.5 PRECEDING AND CURRENT ROW) AS s FROM fruits"))
  }

  test("lag/lead/first_value/last_value: defaults, frames, rejections (extension)") {
    import graft.sql.{ParseError, SqlParser}
    val d = java.nio.file.Files.createTempDirectory("graft-offset").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // lag with default fills the partition edge; lead without default
    // yields null there (standard SQL); first/last span the partition
    val out = Engine(spark, d).sql(
      """SELECT fruit,
        |  lag(quantity, 1, -1) OVER (ORDER BY quantity, fruit) AS prev_q,
        |  lead(quantity) OVER (ORDER BY quantity, fruit) AS next_q,
        |  first_value(quantity) OVER (ORDER BY quantity, fruit) AS fst,
        |  last_value(quantity) OVER (ORDER BY quantity, fruit
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS lst
        |FROM fruits""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getInt(1),
        if (r.isNullAt(2)) -99 else r.getInt(2), r.getInt(3), r.getInt(4)))
      .toSet
    // quantity order: orange 2, apple 3, apple 4, banana 5, banana 7
    assert(out == Set(
      ("orange", -1, 3, 2, 7), ("apple", 2, 4, 2, 7), ("apple", 3, 5, 2, 7),
      ("banana", 4, 7, 2, 7), ("banana", 5, -99, 2, 7)))
    // rejections: frame on lag; non-literal offset; missing ORDER BY;
    // lag outside OVER is an unknown scalar function
    assertThrows[IllegalArgumentException](Engine(spark, d).sql(
      "SELECT lag(quantity) OVER (ORDER BY fruit ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS p FROM fruits").df)
    assertThrows[IllegalArgumentException](Engine(spark, d).sql(
      "SELECT lag(quantity, quantity) OVER (ORDER BY fruit) AS p FROM fruits").df)
    assertThrows[IllegalArgumentException](Engine(spark, d).sql(
      "SELECT lag(quantity) OVER (PARTITION BY color) AS p FROM fruits").df)
    assertThrows[IllegalArgumentException](Engine(spark, d).sql(
      "SELECT lag(quantity) AS p FROM fruits").df)
    // incompatible default type is loud
    assertThrows[IllegalArgumentException](Engine(spark, d).sql(
      "SELECT lag(quantity, 1, 'x') OVER (ORDER BY fruit) AS p FROM fruits").df)
  }

  test("IN (SELECT ...): semi/anti joins, CTE scope inside, invalid placements raise (extension)") {
    import graft.sql.{SemanticError, SqlParser}
    import graft.api.Col.{InSubquery, ColRef}
    val d = java.nio.file.Files.createTempDirectory("graft-insq").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // AST: IN before a subquery parses to InSubquery, not an OR chain
    val q = SqlParser.parse(
      "SELECT fruit FROM fruits WHERE color IN (SELECT color FROM fruits WHERE quantity > 4)")
    assert(q.where.exists(_.isInstanceOf[InSubquery]))
    assert(q.where.get.asInstanceOf[InSubquery].expr == ColRef("color"))
    // semi: colors of high-quantity fruits → yellow only
    val semi = Engine(spark, d).sql(
      """SELECT fruit, quantity FROM fruits
        |WHERE color IN (SELECT color FROM fruits WHERE quantity > 4)
        |  AND quantity < 6""".stripMargin).df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(semi == Set(("banana", 5)))
    // anti: NOT IN drops yellow rows
    val anti = Engine(spark, d).sql(
      """SELECT fruit FROM fruits
        |WHERE color NOT IN (SELECT color FROM fruits WHERE quantity > 4)""".stripMargin)
      .df.collect().map(_.getString(0)).toSet
    assert(anti == Set("apple", "orange"))
    // an enclosing CTE is visible inside the IN subquery
    val viaCte = Engine(spark, d).sql(
      """WITH hot AS (SELECT color FROM fruits WHERE quantity > 4)
        |SELECT fruit FROM fruits WHERE color IN (SELECT color FROM hot)""".stripMargin)
      .df.collect().map(_.getString(0)).toSet
    assert(viaCte == Set("banana"))
    // under OR the IN is Catalyst's IN subquery: every color is in the
    // subquery, so every row; with the high-quantity colors only, the
    // orange (quantity 2) joins the yellow rows
    assert(Engine(spark, d).sql(
      "SELECT fruit FROM fruits WHERE quantity = 2 OR color IN (SELECT color FROM fruits)")
      .df.count() == 5)
    assert(Engine(spark, d).sql(
      """SELECT fruit, quantity FROM fruits
        |WHERE quantity = 2 OR color IN (SELECT color FROM fruits WHERE quantity > 4)""".stripMargin)
      .df.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("orange", 2), ("banana", 5), ("banana", 7)))
    // a multi-column subquery is not a membership set
    assertThrows[SemanticError](Engine(spark, d).sql(
      "SELECT fruit FROM fruits WHERE color IN (SELECT color, quantity FROM fruits)").df)
  }

  test("LIMIT/OFFSET pagination; OFFSET alone; set-op chains reject (extension)") {
    import graft.sql.ParseError
    val d = java.nio.file.Files.createTempDirectory("graft-offset").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    val e = Engine(spark, d)
    def page(sql: String) = e.sql(sql).df.collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val all = page("SELECT fruit, quantity FROM fruits ORDER BY quantity DESC, fruit")
    // page 2 of size 2 == the middle slice of the full ordering
    assert(page(
      "SELECT fruit, quantity FROM fruits ORDER BY quantity DESC, fruit LIMIT 2 OFFSET 2")
      == all.slice(2, 4))
    // OFFSET without LIMIT runs to the end
    assert(page(
      "SELECT fruit, quantity FROM fruits ORDER BY quantity DESC, fruit OFFSET 3")
      == all.drop(3))
    // past-the-end offset is empty, not an error
    assert(page(
      "SELECT fruit, quantity FROM fruits ORDER BY quantity DESC, fruit OFFSET 99").isEmpty)
    // no rendering on set-op chains — loud error
    assertThrows[ParseError](e.sql(
      "SELECT fruit FROM fruits UNION SELECT fruit FROM fruits LIMIT 2 OFFSET 1").df)
  }

  test("QUALIFY: windowed filter in one block; grouped blocks reject (extension)") {
    import graft.sql.GroupByError
    val d = java.nio.file.Files.createTempDirectory("graft-qualify").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // top-1 per color by quantity, ties by fruit name — one block, no
    // derived table
    val top = Engine(spark, d).sql(
      """SELECT fruit, color, quantity FROM fruits
        |QUALIFY row_number()
        |  OVER (PARTITION BY color ORDER BY quantity DESC, fruit) = 1""".stripMargin)
      .df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(top == Set(("banana", "yellow", 7), ("apple", "red", 3),
      ("orange", "orange", 2), ("apple", "green", 4)))
    // composes with WHERE (filter first, then window over survivors)
    val filtered = Engine(spark, d).sql(
      """SELECT fruit, quantity FROM fruits WHERE quantity > 2
        |QUALIFY row_number() OVER (ORDER BY quantity DESC, fruit) <= 2""".stripMargin)
      .df.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(filtered == Set(("banana", 7), ("banana", 5)))
    // windowed aggregates work too: rows above their color's average
    val above = Engine(spark, d).sql(
      """SELECT fruit, color, quantity FROM fruits
        |QUALIFY quantity > AVG(quantity) OVER (PARTITION BY color)""".stripMargin)
      .df.collect().map(_.getString(0)).toSeq
    assert(above == Seq("banana")) // only banana-7 beats yellow's avg 6
    // grouped block → loud error, like any window position
    assertThrows[GroupByError](Engine(spark, d).sql(
      """SELECT color, SUM(quantity) AS q FROM fruits GROUP BY color
        |QUALIFY row_number() OVER (ORDER BY color) = 1""".stripMargin).df)
  }

  test("EXISTS / NOT EXISTS: decorrelated semi/anti joins, local conjunct pushdown, probes, errors (extension)") {
    import graft.sql.{SemanticError, SqlParser}
    import graft.api.Col.{ExistsSubquery, Not}
    val d = java.nio.file.Files.createTempDirectory("graft-exists").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // AST: EXISTS parses to the predicate node; NOT EXISTS wraps it
    val q = SqlParser.parse(
      "SELECT fruit FROM fruits f WHERE EXISTS (SELECT * FROM fruits g WHERE g.color = f.color)")
    assert(q.where.exists(_.isInstanceOf[ExistsSubquery]))
    val qn = SqlParser.parse(
      "SELECT fruit FROM fruits f WHERE NOT EXISTS (SELECT * FROM fruits g WHERE g.color = f.color)")
    assert(qn.where.exists {
      case Not(_: ExistsSubquery) => true; case _ => false
    })
    def run(sql: String): Set[(String, Int)] =
      Engine(spark, d).sql(sql).df.collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
    // correlated semi: rows with a same-color row of HIGHER quantity —
    // only banana5 (outshone by banana7); both conjuncts correlated
    val semi = run(
      """SELECT f.fruit, f.quantity FROM fruits f
        |WHERE EXISTS (SELECT * FROM fruits g
        |              WHERE g.color = f.color AND g.quantity > f.quantity)""".stripMargin)
    assert(semi == Set(("banana", 5)))
    // correlated anti: the complement
    val anti = run(
      """SELECT f.fruit, f.quantity FROM fruits f
        |WHERE NOT EXISTS (SELECT * FROM fruits g
        |                  WHERE g.color = f.color AND g.quantity > f.quantity)""".stripMargin)
    assert(anti == Set(("apple", 3), ("apple", 4), ("orange", 2), ("banana", 7)))
    // a LOCAL conjunct (quantity > 4 resolves inside) filters the
    // subquery side; the correlated one joins → yellow rows only
    val mixed = run(
      """SELECT f.fruit, f.quantity FROM fruits f
        |WHERE EXISTS (SELECT * FROM fruits g
        |              WHERE g.color = f.color AND g.quantity > 4)""".stripMargin)
    assert(mixed == Set(("banana", 5), ("banana", 7)))
    // uncorrelated: bounded emptiness probe, all-or-nothing
    assert(run(
      """SELECT fruit, quantity FROM fruits
        |WHERE EXISTS (SELECT * FROM fruits WHERE quantity > 100)""".stripMargin).isEmpty)
    // an aggregate select is ALWAYS one row in standard SQL — even when
    // the aggregated input is empty, so this keeps every row
    assert(run(
      """SELECT fruit, quantity FROM fruits
        |WHERE EXISTS (SELECT COUNT() FROM fruits WHERE quantity > 100)""".stripMargin)
      .size == 5)
    assert(run(
      """SELECT fruit, quantity FROM fruits
        |WHERE NOT EXISTS (SELECT * FROM fruits WHERE quantity > 100)""".stripMargin)
      .size == 5)
    // an enclosing CTE is visible inside the EXISTS subquery
    val viaCte = run(
      """WITH hot AS (SELECT color FROM fruits WHERE quantity > 4)
        |SELECT f.fruit, f.quantity FROM fruits f
        |WHERE EXISTS (SELECT * FROM hot h WHERE h.color = f.color)""".stripMargin)
    assert(viaCte == Set(("banana", 5), ("banana", 7)))
    // under OR: an uncorrelated EXISTS over a non-empty table keeps
    // every row; a correlated one adds the outshone banana5 to orange2
    assert(run(
      "SELECT fruit, quantity FROM fruits WHERE quantity = 2 OR EXISTS (SELECT * FROM fruits)")
      .size == 5)
    assert(run(
      """SELECT f.fruit, f.quantity FROM fruits f
        |WHERE f.quantity = 2 OR EXISTS (SELECT * FROM fruits g
        |  WHERE g.color = f.color AND g.quantity > f.quantity)""".stripMargin) ==
      Set(("orange", 2), ("banana", 5)))
  }

  test("scalar subqueries: plan-time literal, anywhere an expression sits, cardinality errors (extension)") {
    import graft.sql.SemanticError
    val d = java.nio.file.Files.createTempDirectory("graft-scalar").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    // WHERE: quantity above the global average (7+5+4+3+2)/5 = 4.2
    val above = Engine(spark, d).sql(
      "SELECT fruit, quantity FROM fruits WHERE quantity > (SELECT AVG(quantity) FROM fruits)")
      .df.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(above == Set(("banana", 7), ("banana", 5)))
    // SELECT position + arithmetic over the inlined value
    val rel = Engine(spark, d).sql(
      "SELECT fruit, quantity / (SELECT MAX(quantity) FROM fruits) AS frac FROM fruits WHERE quantity = 7")
      .df.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rel.toSeq == Seq(("banana", 1.0)))
    // enclosing CTEs visible inside
    val viaCte = Engine(spark, d).sql(
      """WITH caps AS (SELECT MAX(quantity) AS m FROM fruits)
        |SELECT fruit FROM fruits WHERE quantity = (SELECT m FROM caps)""".stripMargin)
      .df.collect().map(_.getString(0)).toSeq
    assert(viaCte == Seq("banana"))
    // cardinality violations are loud: >1 row and 0 rows at the action
    // (planning runs nothing), 2 columns at planning
    def failure(sql: String): String = {
      val frame = Engine(spark, d).sql(sql).df
      val e = intercept[Exception](frame.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    assert(failure(
      "SELECT fruit FROM fruits WHERE quantity = (SELECT quantity FROM fruits)")
      .contains("SCALAR_SUBQUERY_TOO_MANY_ROWS"))
    assert(failure(
      "SELECT fruit FROM fruits WHERE quantity = (SELECT quantity FROM fruits WHERE quantity > 99)")
      .contains("Scalar subquery returned no rows or a NULL value"))
    assert(failure(
      "SELECT fruit FROM fruits WHERE quantity = (SELECT MAX(CASE WHEN quantity > 99 THEN quantity END) FROM fruits)")
      .contains("Scalar subquery returned no rows or a NULL value"))
    assertThrows[SemanticError](Engine(spark, d).sql(
      "SELECT fruit FROM fruits WHERE quantity = (SELECT fruit, quantity FROM fruits)").df)
  }

  test("INTERVAL date arithmetic: day/month/year units, coercion, errors (extension)") {
    import graft.sql.ParseError
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-interval").toString
    val ts = java.sql.Timestamp.valueOf("1997-06-15 12:00:00")
    Seq((1, ts)).toDF("id", "t").write.mode("overwrite").parquet(s"$d/tt.parquet")
    def one(sql: String): String =
      Engine(spark, d).sql(sql).df.head.get(0).toString
    // column ± interval, all three units (TPC-H's `'...' day` quoting too)
    assert(one("SELECT t + INTERVAL 10 DAY AS x FROM tt")
      .startsWith("1997-06-25"))
    assert(one("SELECT t - INTERVAL '3' month AS x FROM tt")
      .startsWith("1997-03-15"))
    assert(one("SELECT t + INTERVAL 2 years AS x FROM tt")
      .startsWith("1999-06-15"))
    // string-literal date coerces; commuted interval + ts works
    assert(one("SELECT '1998-12-01' - INTERVAL 90 DAY AS x FROM tt")
      .startsWith("1998-09-02"))
    assert(one("SELECT INTERVAL 1 DAY + t AS x FROM tt")
      .startsWith("1997-06-16"))
    // errors: bad unit, non-integer quantity, interval against a number
    assertThrows[ParseError](
      Engine(spark, d).sql("SELECT t + INTERVAL 1 fortnight FROM tt"))
    assertThrows[ParseError](
      Engine(spark, d).sql("SELECT t + INTERVAL 1.5 DAY FROM tt"))
    assertThrows[IllegalArgumentException](
      Engine(spark, d).sql("SELECT id + INTERVAL 1 DAY AS x FROM tt").df.collect())
  }

  test("quantified comparisons: ANY/ALL bounds, membership joins, errors (extension)") {
    import graft.sql.SemanticError
    val d = java.nio.file.Files.createTempDirectory("graft-anyall").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    def q(sql: String) = Engine(spark, d).sql(sql).df
    // >= ALL ⇔ >= max(apples) = 4: bananas and the 4-apple qualify
    assert(q("""SELECT fruit, quantity FROM fruits
               |WHERE quantity >= ALL (SELECT quantity FROM fruits
               |                       WHERE fruit = 'apple')""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("banana", 5), ("banana", 7), ("apple", 4)))
    // < ANY ⇔ < max(all) = 7: everything but the 7-banana
    assert(q("""SELECT quantity FROM fruits
               |WHERE quantity < ANY (SELECT quantity FROM fruits)""".stripMargin)
      .collect().map(_.getInt(0)).toSet == Set(2, 3, 4, 5))
    // = ANY is the IN semi join; SOME is a synonym
    assert(q("""SELECT DISTINCT fruit FROM fruits
               |WHERE quantity = SOME (SELECT quantity FROM fruits
               |                       WHERE color = 'yellow')""".stripMargin)
      .collect().map(_.getString(0)).toSet == Set("banana"))
    // empty subquery: ALL is vacuously TRUE, ANY is FALSE
    assert(q("""SELECT fruit FROM fruits
               |WHERE quantity > ALL (SELECT quantity FROM fruits
               |                      WHERE quantity > 99)""".stripMargin)
      .count() == 5)
    assert(q("""SELECT fruit FROM fruits
               |WHERE quantity > ANY (SELECT quantity FROM fruits
               |                      WHERE quantity > 99)""".stripMargin)
      .count() == 0)
    // NULLs among the values: three-valued comparison — loud at the action
    val nulls = intercept[Exception](q(
      """SELECT fruit FROM fruits
        |WHERE quantity > ALL (SELECT CASE WHEN quantity > 99 THEN quantity END
        |                      FROM fruits)""".stripMargin).collect())
    assert(Iterator.iterate[Throwable](nulls)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("ANY/ALL subquery returned NULL values")))
    // = ALL / <> ANY have no useful rendering here — loud errors
    assertThrows[SemanticError](q(
      "SELECT fruit FROM fruits WHERE quantity = ALL (SELECT quantity FROM fruits)"))
    assertThrows[SemanticError](q(
      "SELECT fruit FROM fruits WHERE quantity != ANY (SELECT quantity FROM fruits)"))
    // like IN/EXISTS, a quantified comparison may sit under OR: nothing
    // beats the max 7, so only the orange; over the apples (max 4) the
    // bananas join it
    assert(q("""SELECT fruit FROM fruits WHERE quantity = 2
               |OR quantity > ALL (SELECT quantity FROM fruits)""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("orange"))
    assert(q("""SELECT fruit, quantity FROM fruits WHERE quantity = 2
               |OR quantity > ALL (SELECT quantity FROM fruits
               |                   WHERE fruit = 'apple')""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("orange", 2), ("banana", 5), ("banana", 7)))
  }

  test("a CTE referenced twice is staged: one source scan, correct self-join") {
    val d = java.nio.file.Files.createTempDirectory("graft-cte2").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    val frame = Engine(spark, d).sql(
      """WITH tot AS (SELECT fruit, SUM(quantity) AS q FROM fruits GROUP BY fruit)
        |SELECT a.fruit AS fruit, a.q AS q
        |FROM tot a JOIN tot b ON a.q = b.q
        |WHERE a.fruit != b.fruit""".stripMargin).df
    // apple=7 orange=2 banana=12: no two fruits share a total → empty,
    // but the self-join must resolve, and both references must read the
    // STAGED frame (LogicalRDD leaves), not re-derive the parquet scan
    assert(frame.collect().isEmpty)
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), s"CTE fan-out should not rescan:\n$plan")
    assert(plan.contains("ExistingRDD"))
  }

  test("ROLLUP / CUBE / GROUPING SETS: grammar, NULL subtotal rows, HAVING, validity (extension)") {
    import graft.sql.GroupByError
    // grammar → AST
    val r = SqlParser.parse(
      "SELECT a, SUM(b) FROM 't' GROUP BY ROLLUP(a, c)")
    assert(r.groupKind.contains("rollup") &&
      r.groupBy == Seq(ColRef("a"), ColRef("c")))
    val gs = SqlParser.parse(
      "SELECT a, SUM(b) FROM 't' GROUP BY GROUPING SETS ((a, c), (a), ())")
    assert(gs.groupKind.contains("sets") &&
      gs.groupBy == Seq(ColRef("a"), ColRef("c")) &&
      gs.groupingSets == Seq(Seq(ColRef("a"), ColRef("c")),
        Seq(ColRef("a")), Seq()))
    // execution: rollup = per-(fruit,color) + per-fruit + grand total
    val d = java.nio.file.Files.createTempDirectory("graft-rollup").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    def rows(sql: String): Set[(Option[String], Option[String], Long)] =
      Engine(spark, d).sql(sql).df.collect().map(row =>
        (Option(row.getString(0)), Option(row.getString(1)),
          row.getLong(2))).toSet
    val rollup = rows(
      """SELECT fruit, color, SUM(quantity) AS q FROM fruits
        |GROUP BY ROLLUP(fruit, color)""".stripMargin)
    assert(rollup.contains((Some("apple"), Some("red"), 3L)))
    assert(rollup.contains((Some("apple"), None, 7L)))   // fruit subtotal
    assert(rollup.contains((None, None, 21L)))           // grand total
    assert(!rollup.exists { case (f, c, _) => f.isEmpty && c.isDefined })
    // cube adds the per-color marginal rollup lacks
    val cube = rows(
      """SELECT fruit, color, SUM(quantity) AS q FROM fruits
        |GROUP BY CUBE(fruit, color)""".stripMargin)
    assert(cube.contains((None, Some("yellow"), 12L)))
    assert(rollup.subsetOf(cube))
    // explicit sets: exactly the requested aggregations, nothing else
    val sets = rows(
      """SELECT fruit, color, SUM(quantity) AS q FROM fruits
        |GROUP BY GROUPING SETS ((fruit), (color))""".stripMargin)
    assert(sets.forall { case (f, c, _) => f.isDefined != c.isDefined })
    assert(sets.contains((Some("banana"), None, 12L)) &&
      sets.contains((None, Some("green"), 4L)))
    // HAVING filters the expanded rows
    val having = rows(
      """SELECT fruit, color, SUM(quantity) AS q FROM fruits
        |GROUP BY ROLLUP(fruit, color) HAVING SUM(quantity) > 10""".stripMargin)
    assert(having == Set((None, None, 21L), (Some("banana"), None, 12L),
      (Some("banana"), Some("yellow"), 12L)))
    // GROUP BY validity still enforced: a non-grouped select column
    assertThrows[GroupByError](Engine(spark, d).sql(
      "SELECT color, SUM(quantity) AS q FROM fruits GROUP BY ROLLUP(fruit)").df)
  }
}
