package graft

import java.nio.file.Files

import graft.sql.GroupByError

/** End-to-end SQL corpus over the reference's fixtures — the analog of
  * tests/test_e2e.py's golden-output queries (reference: FIXTURES.md §1-3).
  * Comparison is order-insensitive, like the reference's
  * (tests/conftest.py:44-48). */
class EngineSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-e2e").toString
    fruits.write.mode("overwrite").parquet(s"$d/fruits.parquet")
    import spark.implicits._
    Seq(
      (1, "Alice", 25, "USA"), (2, "Bob", 30, "Canada"), (3, "Cara", 35, "UK"),
      (4, "Dan", 28, "USA"), (5, "Eve", 22, "Canada")
    ).toDF("user_id", "name", "age", "country")
      .write.mode("overwrite").parquet(s"$d/users.parquet")
    Seq(
      (1, 1, "Laptop", 1, 1200.0), (2, 2, "Mouse", 2, 25.0),
      (3, 1, "Keyboard", 1, 80.0), (4, 3, "Monitor", 2, 300.0),
      (5, 9, "Cable", 3, 10.0)
    ).toDF("order_id", "user_id", "product", "quantity", "price")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f, 0.0f)), (4L, Array(0.6f, 0.8f, 0.0f))
    ).toDF("id", "v").write.mode("overwrite").parquet(s"$d/vecs.parquet")
    d
  }
  private lazy val engine = Engine(spark, dir)

  test("flagship: GROUP BY + SUM of expression (reference README.md:117-129)") {
    val out = engine.sql(
      "SELECT fruit, SUM(quantity * 2) AS total FROM fruits GROUP BY fruit")
    assert(rows(out.df) == Set(
      Seq("apple", 14L), Seq("banana", 24L), Seq("orange", 4L)))
  }

  test("SELECT * round-trips the table") {
    assert(engine.sql("SELECT * FROM fruits").count() == 5)
  }

  test("WHERE with LIKE and arithmetic") {
    val out = engine.sql(
      "SELECT fruit, quantity + 1 AS q FROM fruits WHERE color LIKE '%llow'")
    assert(rows(out.df) == Set(Seq("banana", 6), Seq("banana", 8)))
  }

  test("JOIN with aliases and dotted refs (reference test_e2e.py join cases)") {
    val out = engine.sql(
      """SELECT u.name, o.product FROM users u
        |JOIN orders o ON u.user_id = o.user_id WHERE o.price > 100""".stripMargin)
    assert(rows(out.df) == Set(Seq("Alice", "Laptop"), Seq("Cara", "Monitor")))
  }

  test("JOIN + GROUP BY + HAVING with hidden agg column (reference parser.py:153-161)") {
    val out = engine.sql(
      """SELECT u.country AS country, COUNT() AS n FROM users u
        |JOIN orders o ON u.user_id = o.user_id
        |GROUP BY u.country HAVING COUNT() > 1""".stripMargin)
    assert(rows(out.df) == Set(Seq("USA", 2L)))
  }

  test("HAVING on aggregate not in select") {
    val out = engine.sql(
      """SELECT fruit FROM fruits GROUP BY fruit HAVING SUM(quantity) > 6""".stripMargin)
    assert(rows(out.df) == Set(Seq("apple"), Seq("banana")))
  }

  test("grouped blocks plan in Catalyst: output names, HAVING, errors " +
    "at planning, no job before the action") {
    def planned(q: String): org.apache.spark.sql.DataFrame = {
      var out: graft.api.GraftFrame = null
      val jobs = jobsOf { out = engine.sql(q) }
      assert(jobs.isEmpty, s"$q ran ${jobs.size} jobs before its action")
      out.df
    }
    Seq(
      // a bare aggregate keeps its readable name; over a computed
      // argument it is _agg_<aggregates before it>
      ("SELECT fruit, SUM(quantity), COUNT(*), MAX(quantity * 2) " +
        "FROM fruits GROUP BY fruit",
        Seq("fruit", "sum_quantity", "count", "_agg_2"),
        Set(Seq("apple", 7L, 2L, 8), Seq("banana", 12L, 2L, 14),
          Seq("orange", 2L, 1L, 4))),
      ("SELECT u.country, COUNT(*) AS n FROM users u " +
        "JOIN orders o ON u.user_id = o.user_id GROUP BY u.country",
        Seq("country", "n"),
        Set(Seq("USA", 2L), Seq("Canada", 1L), Seq("UK", 1L))),
      ("SELECT upper(fruit) AS f, SUM(quantity) AS q FROM fruits " +
        "GROUP BY upper(fruit)",
        Seq("f", "q"),
        Set(Seq("APPLE", 7L), Seq("BANANA", 12L), Seq("ORANGE", 2L))),
      ("SELECT upper(fruit) AS f, SUM(quantity) AS q FROM fruits " +
        "GROUP BY ROLLUP(upper(fruit))",
        Seq("f", "q"),
        Set(Seq("APPLE", 7L), Seq("BANANA", 12L), Seq("ORANGE", 2L),
          Seq(null, 21L))),
      ("SELECT fruit, SUM(quantity) AS q FROM fruits GROUP BY fruit " +
        "HAVING q > 6",
        Seq("fruit", "q"), Set(Seq("apple", 7L), Seq("banana", 12L))),
      ("SELECT fruit FROM fruits GROUP BY fruit HAVING MIN(quantity) > 2",
        Seq("fruit"), Set(Seq("apple"), Seq("banana"))),
      // an unaliased expression over aggregates takes Catalyst's name
      ("SELECT fruit, SUM(quantity) / COUNT(*) FROM fruits GROUP BY fruit",
        Seq("fruit", "(sum(quantity) / count(1))"),
        Set(Seq("apple", 3.5), Seq("banana", 6.0), Seq("orange", 2.0)))
    ).foreach { case (q, names, want) =>
      val df = planned(q)
      assert(df.columns.toSeq == names, q)
      assert(rows(df) == want, q)
    }
    // a column neither grouped nor aggregated fails the statement itself
    Seq(
      "SELECT color, SUM(quantity) AS s FROM fruits GROUP BY fruit",
      "SELECT color, SUM(quantity) AS s FROM fruits",
      "SELECT fruit, SUM(quantity) AS s FROM fruits GROUP BY ROLLUP(upper(fruit))"
    ).foreach { q =>
      val e = intercept[GroupByError](engine.sql(q))
      assert(e.getMessage.contains("MISSING_"), q)
    }
  }

  test("a plain parquet FROM reads its schema from a footer: no job " +
    "before the action, the schema spark.read.parquet infers") {
    // q119's shape: three plain-parquet FROMs, two in subqueries
    var out: graft.api.GraftFrame = null
    val jobs = jobsOf { out = engine.sql(
      """SELECT round(SUM(price) / 7.0, 4) AS s FROM orders
        |WHERE user_id IN (SELECT user_id FROM users WHERE country = 'USA')
        |  AND quantity < (SELECT 2 * AVG(quantity) FROM orders)""".stripMargin) }
    assert(jobs.isEmpty, s"planning ran ${jobs.size} jobs")
    assert(rows(out.df) == Set(Seq(182.8571)))
    val d = Files.createTempDirectory("graft-footer-schema").toString
    // Spark-written, with its row metadata; hive-partitioned
    fruits.write.parquet(s"$d/spark.parquet")
    fruits.write.partitionBy("color").parquet(s"$d/parted.parquet")
    // written by parquet-mr alone: no Spark metadata in the footer
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val pq = MessageTypeParser.parseMessageType(
      """message m { required int64 id; optional binary name (STRING);
        |optional binary raw; optional double x;
        |optional int64 t (TIMESTAMP(MICROS,true)); }""".stripMargin)
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$d/plain.parquet/part-0.parquet"))
      .withType(pq).build()
    try w.write(new SimpleGroupFactory(pq).newGroup().append("id", 1L)
      .append("name", "a").append("x", 0.5))
    finally w.close()
    Seq("spark", "parted", "plain").foreach { t =>
      val path = s"$d/$t.parquet"
      assert(graft.sources.Tables.load(spark, path).schema ==
        spark.read.parquet(path).schema, t)
    }
    assert(rows(engine.sql(s"SELECT color, SUM(quantity) AS q FROM " +
      s"'$d/parted.parquet' GROUP BY color").df) == Set(Seq("red", 3L),
      Seq("yellow", 12L), Seq("orange", 2L), Seq("green", 4L)))
  }

  test("non-grouped select column raises GroupByError (reference parser.py:143-151)") {
    assertThrows[GroupByError] {
      engine.sql("SELECT color, SUM(quantity) AS s FROM fruits GROUP BY fruit")
    }
  }

  test("AVG decomposes to float result (reference sql.py:412-415)") {
    val out = engine.sql(
      "SELECT fruit, AVG(quantity) AS a FROM fruits GROUP BY fruit")
    assert(rows(out.df) == Set(
      Seq("apple", 3.5), Seq("banana", 6.0), Seq("orange", 2.0)))
  }

  test("ORDER BY / LIMIT / DISTINCT extensions") {
    val out = engine.sql(
      "SELECT DISTINCT color FROM fruits ORDER BY color LIMIT 2")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("green", "orange"))
  }

  test("LEFT JOIN keeps unmatched left rows (standard semantics, SURVEY §7.1.1)") {
    val out = engine.sql(
      """SELECT o.order_id, u.name FROM orders o
        |LEFT JOIN users u ON o.user_id = u.user_id""".stripMargin)
    assert(out.count() == 5)
    assert(out.df.filter("name IS NULL").count() == 1)
  }

  test("driver entry() flagship runs on sf0.001 with rows") {
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.columns.contains("sum_qty") && out.columns.contains("count_order"))
  }

  test("fluent API mirrors the SQL path (reference dataframe.py:38-86)") {
    import graft.api.functions._
    val out = engine.table("fruits")
      .filter(col("quantity") > lit(2))
      .groupBy(col("fruit"))
      .agg(sumCol(col("quantity")).as("s"))
    assert(rows(out.df) == Set(Seq("apple", 7L), Seq("banana", 12L)))
  }

  test("i32 overflow wraps like the reference (tests/test_native_execution.py:13-26)") {
    // (2^31-1) + (2^31-1) == -2 in wrapping 32-bit arithmetic; Spark's
    // ANSI mode would throw, so GraftSession pins ansi.enabled=false and
    // the dialect keeps i32-range literals 32-bit (SURVEY §7.1.3)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    val out = engine.sql(
      "SELECT quantity, 2147483647 + 2147483647 AS x FROM fruits LIMIT 1")
    assert(out.collect().head.getInt(1) == -2)
  }

  test("division by zero yields null, not an error (non-ANSI dialect semantics)") {
    val out = engine.sql("SELECT quantity / 0 AS x FROM fruits LIMIT 1")
    assert(out.collect().head.isNullAt(0))
  }

  test("show(n) returns the printed row count (reference dataframe.py:75-79)") {
    assert(engine.sql("SELECT * FROM fruits").show(3) == 3)
    assert(engine.sql("SELECT * FROM fruits").show(100) == 5)
  }

  test("set operations through the dialect: UNION / UNION ALL / INTERSECT / EXCEPT") {
    val union = engine.sql(
      "SELECT country FROM users UNION SELECT country FROM users")
    assert(rows(union.df) == Set(Seq("USA"), Seq("Canada"), Seq("UK")))
    val unionAll = engine.sql(
      "SELECT country FROM users UNION ALL SELECT country FROM users")
    assert(unionAll.count() == 10) // bag semantics
    val intersect = engine.sql(
      """SELECT user_id FROM users
        |INTERSECT
        |SELECT user_id FROM orders""".stripMargin)
    assert(rows(intersect.df) == Set(Seq(1), Seq(2), Seq(3)))
    val except = engine.sql(
      """SELECT user_id FROM users
        |EXCEPT
        |SELECT user_id FROM orders""".stripMargin)
    assert(rows(except.df) == Set(Seq(4), Seq(5)))
    // three-block UNION/EXCEPT chain folds left-associatively
    val chained = engine.sql(
      """SELECT user_id FROM users
        |EXCEPT SELECT user_id FROM orders
        |UNION SELECT user_id FROM orders WHERE user_id = 9""".stripMargin)
    assert(rows(chained.df) == Set(Seq(4), Seq(5), Seq(9)))
    // standard precedence: INTERSECT binds tighter than UNION —
    // users ∪ (orders ∩ {1}) = {1..5}, NOT (users ∪ orders) ∩ {1}
    val prec = engine.sql(
      """SELECT user_id FROM users
        |UNION
        |SELECT user_id FROM orders
        |INTERSECT SELECT user_id FROM orders WHERE user_id = 1""".stripMargin)
    assert(rows(prec.df) == Set(Seq(1), Seq(2), Seq(3), Seq(4), Seq(5)))
    // a trailing ORDER BY/LIMIT closes the WHOLE compound result
    val topped = engine.sql(
      """SELECT user_id FROM users UNION ALL SELECT user_id FROM orders
        |ORDER BY user_id DESC LIMIT 3""".stripMargin)
    assert(topped.collect().map(_.getInt(0)).toSeq == Seq(9, 5, 4))
    // ...and is illegal on a non-final block
    intercept[graft.sql.ParseError] {
      engine.sql(
        "SELECT user_id FROM users LIMIT 1 UNION SELECT user_id FROM orders")
    }
  }

  test("RIGHT and FULL OUTER joins execute through the dialect") {
    val right = engine.sql(
      """SELECT o.order_id, u.name FROM orders o
        |RIGHT JOIN users u ON o.user_id = u.user_id""".stripMargin).collect()
    // users 4 (Dan) and 5 (Eve) have no orders -> null order_id rows
    assert(right.length == 6)
    assert(right.count(_.isNullAt(0)) == 2)

    val full = engine.sql(
      """SELECT u.name, o.order_id FROM users u
        |FULL OUTER JOIN orders o ON u.user_id = o.user_id""".stripMargin).collect()
    // order 5 references user 9 (absent) -> null name; Dan/Eve -> null order
    assert(full.length == 7)
    assert(full.count(_.isNullAt(0)) == 1)
    assert(full.count(_.isNullAt(1)) == 2)
  }

  // ---- correlated scalar subqueries (aggregate decorrelation) ----

  test("correlated scalar subquery decorrelates to a per-key aggregate join") {
    // user 1: avg(1200, 80) = 640 -> only order 1 beats its user's average
    val out = engine.sql(
      """SELECT o.order_id FROM orders o
        |WHERE o.price > (SELECT AVG(o2.price) FROM orders o2
        |                 WHERE o2.user_id = o.user_id)""".stripMargin)
    assert(rows(out.df) == Set(Seq(1)))
  }

  test("correlated scalar: outer rows with an empty subquery group are dropped") {
    // Dan (4) and Eve (5) have no orders: SQL's NULL-comparison outcome
    // and the inner-join rendering agree — both drop the rows
    val out = engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE u.age > (SELECT AVG(o.price) FROM orders o
        |               WHERE o.user_id = u.user_id)""".stripMargin)
    assert(rows(out.df) == Set(Seq(2))) // Bob: 30 > avg(25)
  }

  test("correlated scalar: local conjuncts stay subquery-side, value side-agnostic") {
    // min over quantity>=2 orders per user; the scalar sits on the RIGHT
    val out = engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE 50.0 > (SELECT MIN(o2.price) FROM orders o2
        |              WHERE o2.user_id = u.user_id AND o2.quantity >= 2)""".stripMargin)
    assert(rows(out.df) == Set(Seq(2))) // Bob: min(25) < 50; Cara: 300 fails
  }

  test("correlated bare COUNT counts empty groups as 0 (left join + coalesce)") {
    // users 4 (Dan) and 5 (Eve) have NO orders: SQL defines their
    // correlated COUNT as 0, so `2 > COUNT` must KEEP them — the one
    // aggregate where the drop-on-empty inner-join rendering would be
    // wrong (Engine.attachCorrelatedScalar's left-join branch)
    val out = engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE 2 > (SELECT COUNT() FROM orders o
        |           WHERE o.user_id = u.user_id)""".stripMargin)
    // Alice has 2 orders (dropped); Bob 1, Cara 1, Dan 0, Eve 0 kept
    assert(rows(out.df) == Set(Seq(2), Seq(3), Seq(4), Seq(5)))
  }

  test("correlated COUNT nested in a larger expression counts an empty group as 0") {
    // COUNT()+1 per user: Alice 3, Bob 2, Cara 2, and 1 for Dan and Eve,
    // who have no orders — Catalyst's decorrelation keeps COUNT's 0
    val out = engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE 2 > (SELECT COUNT() + 1 FROM orders o
        |           WHERE o.user_id = u.user_id)""".stripMargin)
    assert(rows(out.df) == Set(Seq(4), Seq(5)))
  }

  test("correlated scalar under OR") {
    // Eve (22) by the first disjunct, Bob (30 > avg 25) by the second;
    // Dan has no orders, so his second disjunct is NULL and drops him
    val out = engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE u.age < 23 OR u.age > (SELECT AVG(o.price) FROM orders o
        |                             WHERE o.user_id = u.user_id)""".stripMargin)
    assert(rows(out.df) == Set(Seq(2), Seq(5)))
  }

  test("correlated scalar with a non-equality correlation predicate") {
    // orders of LOWER user ids: no age beats their average price
    // (640, 435, 401.25, 401.25; Alice's set is empty, so NULL)...
    assert(rows(engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE u.age > (SELECT AVG(o.price) FROM orders o
        |               WHERE o.user_id < u.user_id)""".stripMargin).df).isEmpty)
    // ...but Cara (35) and Dan (28) beat their minimum price 25
    assert(rows(engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE u.age > (SELECT MIN(o.price) FROM orders o
        |               WHERE o.user_id < u.user_id)""".stripMargin).df) ==
      Set(Seq(3), Seq(4)))
  }

  test("NOT IN keeps the anti-join reading with NULLs on both sides") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-notin-null").toString
    Seq(Some(1), Some(2), Some(3), None).toDF("k")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    Seq(Some(2), None).toDF("k").write.mode("overwrite").parquet(s"$d/s.parquet")
    // a NULL in the subquery column does not empty the result (standard
    // SQL's null-aware NOT IN would), and the NULL outer key is kept:
    // no subquery row equals it
    val out = Engine(spark, d).sql(
      "SELECT k FROM t WHERE k NOT IN (SELECT k FROM s)").df
    assert(rows(out) == Set(Seq(1), Seq(3), Seq(null)))
    assert(rows(Engine(spark, d).sql(
      "SELECT k FROM t WHERE k <> ALL (SELECT k FROM s)").df) == rows(out))
    // the same reading wherever the NOT sits: IN is EXISTS over the equal
    // rows, so NOT over a larger predicate keeps the same rows
    assert(rows(Engine(spark, d).sql(
      "SELECT k FROM t WHERE NOT (k IN (SELECT k FROM s) AND 1 = 1)").df) ==
      rows(out))
    // and IN itself is two-valued: no equal row is FALSE, even for NULL
    assert(rows(Engine(spark, d).sql(
      """SELECT k, CASE WHEN NOT (k IN (SELECT k FROM s)) THEN 1 ELSE 0 END
        |AS m FROM t""".stripMargin).df) ==
      Set(Seq(1, 1), Seq(2, 0), Seq(3, 1), Seq(null, 1)))
  }

  test("a subquery body resolves its own columns first, case-insensitively") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-subq-scope").toString
    Seq((1, 10, 5), (2, 20, 4), (3, 30, 3), (4, 40, 2), (5, 50, 1))
      .toDF("id", "g", "p").write.mode("overwrite").parquet(s"$d/t.parquet")
    Seq(5, 4, 3, 2, 1).toDF("k").write.mode("overwrite").parquet(s"$d/s.parquet")
    val eng = Engine(spark, d)
    // `ID` is the body's own `id`: AVG over ids 1-3 is 20, uncorrelated
    assert(rows(eng.sql(
      "SELECT id FROM t WHERE g > (SELECT AVG(g) FROM t WHERE ID < 4)").df) ==
      Set(Seq(3), Seq(4), Seq(5)))
    // a select-list alias in the body's ORDER BY is the body's own
    // output, also when the enclosing query has a column of that name
    assert(rows(eng.sql(
      "SELECT k FROM s WHERE k IN (SELECT k AS p FROM s ORDER BY p LIMIT 3)").df) ==
      Set(Seq(1), Seq(2), Seq(3)))
    assert(rows(eng.sql(
      "SELECT id FROM t WHERE id IN (SELECT k AS p FROM s ORDER BY p LIMIT 3)").df) ==
      Set(Seq(1), Seq(2), Seq(3)))
    // a reference resolving nowhere is a SemanticError
    intercept[graft.sql.SemanticError] {
      eng.sql("SELECT id FROM t WHERE EXISTS (SELECT k FROM s WHERE k = nope)")
    }
  }

  test("a correlated EXISTS ignores its body's DISTINCT") {
    // users with orders: Alice, Bob and Cara; order 5's user 9 is absent
    assert(rows(engine.sql(
      """SELECT u.user_id FROM users u
        |WHERE EXISTS (SELECT DISTINCT o.user_id FROM orders o
        |              WHERE o.user_id = u.user_id)""".stripMargin).df) ==
      Set(Seq(1), Seq(2), Seq(3)))
  }

  test("uncorrelated scalar subqueries still inline as literals") {
    val out = engine.sql(
      """SELECT name FROM users
        |WHERE age > (SELECT AVG(age) FROM users)""".stripMargin)
    assert(rows(out.df) == Set(Seq("Bob"), Seq("Cara"))) // avg = 28
  }

  test("GROUP BY ALL expands to the non-aggregate select items") {
    val out = engine.sql(
      """SELECT fruit, SUM(quantity) AS total, COUNT() AS n
        |FROM fruits GROUP BY ALL""".stripMargin)
    assert(rows(out.df) == Set(
      Seq("apple", 7L, 2L), Seq("banana", 12L, 2L), Seq("orange", 2L, 1L)))
    // aliased expression keys group on the EXPRESSION (alias stripped)
    val expr = engine.sql(
      """SELECT upper(fruit) AS f, COUNT() AS n
        |FROM fruits GROUP BY ALL""".stripMargin)
    assert(rows(expr.df) == Set(
      Seq("APPLE", 2L), Seq("BANANA", 2L), Seq("ORANGE", 1L)))
    // all-aggregate select → grand total
    assert(rows(engine.sql(
      "SELECT SUM(quantity) AS s FROM fruits GROUP BY ALL").df) ==
      Set(Seq(21L)))
    // star has no well-defined expansion
    assertThrows[graft.sql.ParseError] {
      engine.sql("SELECT * FROM fruits GROUP BY ALL")
    }
  }

  test("ORDER BY ALL sorts by every output column, with optional DESC") {
    val out = engine.sql(
      """SELECT fruit, quantity FROM fruits ORDER BY ALL LIMIT 2""")
      .df.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(out == Seq(("apple", 3), ("apple", 4)))
    val desc = engine.sql(
      """SELECT fruit, quantity FROM fruits ORDER BY ALL DESC LIMIT 2""")
      .df.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(desc == Seq(("orange", 2), ("banana", 7)))
  }

  test("FOR VERSION AS OF reads snapshots; bare FROM reads the latest") {
    val out = java.nio.file.Files.createTempDirectory("graft-ttravel")
    try {
      import graft.sources.Versioned
      import org.apache.spark.sql.{functions => F}
      val ds = s"$out/ds"
      Versioned.commit(fruits.filter(F.col("quantity") > 3), ds)
      Versioned.commit(fruits.filter(F.col("quantity") <= 3), ds)
      val v1 = engine.sql(
        s"SELECT COUNT() AS n FROM '$ds' FOR VERSION AS OF 1")
      assert(rows(v1.df) == Set(Seq(3L))) // quantities 4, 5, 7
      val latest = engine.sql(s"SELECT COUNT() AS n FROM '$ds'")
      assert(rows(latest.df) == Set(Seq(5L))) // append stacked all rows
      // a missing version fails loudly, not with an empty frame
      assertThrows[Exception] {
        engine.sql(s"SELECT COUNT() AS n FROM '$ds' FOR VERSION AS OF 9")
          .df.collect()
      }
      // literal select items are group-invariant in aggregate blocks
      assert(rows(engine.sql(
        "SELECT 7 AS tag, COUNT() AS n FROM fruits").df) == Set(Seq(7, 5L)))
      // DELETE commits a new version of the survivors; version 1 still
      // time-travels to the pre-delete snapshot
      val del = engine.sql(s"DELETE FROM '$ds' WHERE quantity >= 4")
        .df.collect().head
      assert(del.getLong(0) == 3L && del.getLong(1) == 2L) // v3, 2 rows
      assert(rows(engine.sql(s"SELECT COUNT() AS n FROM '$ds'").df) ==
        Set(Seq(2L)))
      assert(rows(engine.sql(
        s"SELECT COUNT() AS n FROM '$ds' FOR VERSION AS OF 1").df) ==
        Set(Seq(3L)))
      // DELETE on a plain (non-versioned) path rejects loudly
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"DELETE FROM '$out/nowhere' WHERE 1 = 1")
      }
      // standard DELETE semantics on a NULLABLE predicate column: only
      // rows where the predicate is TRUE are deleted — a NULL predicate
      // (here: NULL lang in lang != 'en') KEEPS the row, as SQL and the
      // DuckDB oracle do; a naive filter(!pred) would silently drop it
      val nds = s"$out/nullable-ds"
      import spark.implicits._
      Versioned.commit(Seq(
        (1L, "en"), (2L, "de"), (3L, null.asInstanceOf[String])
      ).toDF("id", "lang"), nds)
      engine.sql(s"DELETE FROM '$nds' WHERE lang != 'en'")
      assert(rows(engine.sql(s"SELECT id FROM '$nds'").df) ==
        Set(Seq(1L), Seq(3L))) // NULL-lang row survives
      // OPTIMIZE compacts the head's segments into one as a new version;
      // content identical, non-versioned targets reject
      val opt = engine.sql(s"OPTIMIZE '$nds'").df.collect().head
      assert(opt.getLong(1) >= 1L) // segments_compacted
      assert(graft.sources.Versioned.segmentCount(spark, nds) == 1)
      assert(rows(engine.sql(s"SELECT id FROM '$nds'").df) ==
        Set(Seq(1L), Seq(3L)))
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"OPTIMIZE '$out/nowhere'")
      }
      // VACUUM KEEP 1 drops history: the head still serves, the old
      // snapshot is gone
      val vac = engine.sql(s"VACUUM '$ds' KEEP 1").df.collect().head
      assert(vac.getLong(0) == 1L && vac.getLong(1) == 3L)
      assert(rows(engine.sql(s"SELECT COUNT() AS n FROM '$ds'").df) ==
        Set(Seq(2L)))
      assertThrows[Exception] {
        engine.sql(s"SELECT COUNT() AS n FROM '$ds' FOR VERSION AS OF 1")
          .df.collect()
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("INSERT INTO commits versions / appends BlockFiles; error paths reject") {
    val out = java.nio.file.Files.createTempDirectory("graft-insert")
    try {
      val ds = s"$out/ds"
      // bootstrap version 1 from a SELECT, stack version 2 — both
      // readable, head = union (the incremental-publish arc in SQL only)
      // returns (version, rows_appended) — the appended count comes from
      // the new segment only, never a whole-dataset rescan
      val v1 = engine.sql(s"INSERT INTO '$ds' SELECT fruit, quantity " +
        "FROM fruits WHERE quantity > 3").df.collect().head
      assert(v1.getLong(0) == 1L && v1.getLong(1) == 3L)
      val v2 = engine.sql(s"INSERT INTO '$ds' SELECT fruit, quantity " +
        "FROM fruits WHERE quantity <= 3").df.collect().head
      assert(v2.getLong(0) == 2L && v2.getLong(1) == 2L)
      assert(rows(engine.sql(s"SELECT COUNT() AS n FROM '$ds'").df) ==
        Set(Seq(5L)))
      assert(rows(engine.sql(
        s"SELECT COUNT() AS n FROM '$ds' FOR VERSION AS OF 1").df) ==
        Set(Seq(3L)))
      // VALUES rows take names AND types from the target schema
      // (positional casts: the int literal lands in the int column)
      val v3 = engine.sql(
        s"INSERT INTO '$ds' VALUES ('kiwi', 9), ('mango', 1)").df
        .collect().head
      assert(v3.getLong(0) == 3L && v3.getLong(1) == 2L)
      assert(rows(engine.sql(
        s"SELECT quantity FROM '$ds' WHERE fruit = 'kiwi'").df) ==
        Set(Seq(9)))
      // arity mismatches reject before any write (the Versioned schema
      // gate backstops it; positional casts make same-arity inserts fit)
      val ar = intercept[graft.sql.SemanticError] {
        engine.sql(s"INSERT INTO '$ds' SELECT fruit FROM fruits")
      }
      assert(ar.getMessage.contains("arity"))
      // BlockFile append: CTAS then INSERT merges into the tail block
      engine.sql(s"CREATE TABLE '$out/f.bin' AS SELECT fruit, " +
        "CAST(quantity AS INTEGER) AS quantity FROM fruits")
      val b = engine.sql(
        s"INSERT INTO '$out/f.bin' VALUES ('kiwi', 9)").df.collect().head
      assert(b.getLong(0) == 1L && b.getLong(1) == 6L)
      assert(rows(engine.sql(
        s"SELECT SUM(quantity) AS s FROM '$out/f.bin'").df) == Set(Seq(30L)))
      // raw parquet targets reject: no atomic append story
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"INSERT INTO '$out/x.parquet' SELECT fruit FROM fruits")
      }
      // VALUES into a FRESH path with no column list has no names
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"INSERT INTO '$out/fresh' VALUES (1, 2)")
      }
      // ... but an explicit column list names a fresh dataset's columns
      engine.sql(s"INSERT INTO '$out/named' (id, tag) VALUES (1, 'a')")
      assert(rows(engine.sql(s"SELECT id, tag FROM '$out/named'").df) ==
        Set(Seq(1, "a")))
      // column-list insert into an EXISTING table: listed names map by
      // name (any order), unlisted columns fill with NULL — explicit,
      // so not silent null-padding
      engine.sql(s"INSERT INTO '$ds' (quantity, fruit) VALUES (3, 'pear')")
      assert(rows(engine.sql(
        s"SELECT fruit, quantity FROM '$ds' WHERE fruit = 'pear'").df) ==
        Set(Seq("pear", 3)))
      engine.sql(s"INSERT INTO '$ds' (fruit) VALUES ('plum')")
      assert(rows(engine.sql(
        s"SELECT quantity FROM '$ds' WHERE fruit = 'plum'").df) ==
        Set(Seq(null)))
      // a column the target lacks rejects (widen positionally instead)
      val cl = intercept[graft.sql.SemanticError] {
        engine.sql(s"INSERT INTO '$ds' (fruit, nope) VALUES ('x', 1)")
      }
      assert(cl.getMessage.contains("nope"))
      // CTAS USING versioned bootstraps a dataset the DML triad then owns
      engine.sql(s"CREATE TABLE '$out/vds' USING versioned AS " +
        "SELECT fruit, quantity FROM fruits")
      engine.sql(s"INSERT INTO '$out/vds' SELECT fruit, quantity " +
        "FROM fruits WHERE quantity > 4")
      assert(rows(engine.sql(s"SELECT COUNT() AS n FROM '$out/vds'").df) ==
        Set(Seq(7L))) // 5 + the 2 appended
      assert(rows(engine.sql(
        s"SELECT COUNT() AS n FROM '$out/vds' FOR VERSION AS OF 1").df) ==
        Set(Seq(5L)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("FROM-less SELECT evaluates constants; star and JOIN stay errors") {
    assert(rows(engine.sql("SELECT 1 + 2 * 3 AS x, lower('AB') AS s").df) ==
      Set(Seq(7, "ab")))
    // the synthetic relation must never leak: SELECT * needs a FROM
    assertThrows[graft.sql.ParseError] { engine.sql("SELECT *") }
    // no engine accepts JOIN without FROM
    assertThrows[graft.sql.ParseError] {
      engine.sql("SELECT 1 JOIN fruits ON 1 = 1")
    }
    assertThrows[graft.sql.ParseError] {
      engine.sql("SELECT 1 LEFT JOIN fruits ON 1 = 1")
    }
  }

  test("WITH RECURSIVE: fixpoint closure, UNION dedup, divergence guard") {
    // arithmetic chain over a real table: quantities 2,3,4,5,7 — start
    // at 2, repeatedly step to quantity+1 while it exists: {2,3,4,5}
    val out = engine.sql(
      """WITH RECURSIVE r AS (
        |  SELECT quantity AS q FROM fruits WHERE quantity = 2
        |  UNION
        |  SELECT f.quantity AS q FROM fruits f JOIN r ON f.quantity = r.q + 1
        |) SELECT q FROM r""".stripMargin)
    assert(rows(out.df) == Set(Seq(2), Seq(3), Seq(4), Seq(5)))
    // UNION semantics deduplicate across iterations (revisits must not
    // loop forever)
    val cyc = engine.sql(
      """WITH RECURSIVE r AS (
        |  SELECT fruit FROM fruits WHERE quantity = 2
        |  UNION
        |  SELECT f2.fruit FROM fruits f2 JOIN r ON 1 = 1
        |  WHERE f2.quantity <= 4
        |) SELECT COUNT() AS n FROM r""".stripMargin)
    // base {orange}; quantities <=4 are apple(3), apple(4), orange(2) →
    // the revisiting term converges after adding only {apple}
    assert(rows(cyc.df) == Set(Seq(2L)))
    // WITHOUT the keyword, a self-name reference is SHADOWING: the CTE
    // body reads the TABLE fruits (standard SQL layering), no recursion
    assert(rows(engine.sql(
      """WITH fruits AS (SELECT fruit FROM fruits WHERE quantity = 2)
        |SELECT COUNT() AS n FROM fruits""".stripMargin).df) ==
      Set(Seq(1L)))
    // error path: ORDER BY/LIMIT inside a recursive body rejects before
    // any iteration runs
    assertThrows[graft.sql.SemanticError] {
      engine.sql(
        """WITH RECURSIVE r AS (
          |  SELECT quantity AS q FROM fruits WHERE quantity = 2
          |  UNION
          |  SELECT f.quantity AS q FROM fruits f JOIN r ON f.quantity = r.q + 1
          |  LIMIT 3
          |) SELECT COUNT() AS n FROM r""".stripMargin)
    }
    // NON-LINEAR recursion rejects loudly: semi-naive evaluation binds
    // the name to the per-iteration delta, which silently drops
    // new×old combinations for a self-join — Postgres/DuckDB refuse
    // these forms too
    assertThrows[graft.sql.SemanticError] {
      engine.sql(
        """WITH RECURSIVE r AS (
          |  SELECT quantity AS q FROM fruits WHERE quantity = 2
          |  UNION
          |  SELECT a.q + b.q AS q FROM r a JOIN r b ON a.q = b.q
          |  WHERE a.q < 10
          |) SELECT COUNT() AS n FROM r""".stripMargin)
    }
    // ... and so does a self-reference in SUBQUERY position (no direct
    // FROM/JOIN binding for the delta to substitute)
    assertThrows[graft.sql.SemanticError] {
      engine.sql(
        """WITH RECURSIVE r AS (
          |  SELECT quantity AS q FROM fruits WHERE quantity = 2
          |  UNION
          |  SELECT f.quantity AS q FROM fruits f
          |  WHERE f.quantity IN (SELECT r.q + 1 AS q1 FROM r)
          |) SELECT COUNT() AS n FROM r""".stripMargin)
    }
    // `recursive` stays a usable CTE NAME (one-token lookahead: marker
    // only when not followed by AS)
    assert(rows(engine.sql(
      """WITH recursive AS (SELECT fruit FROM fruits WHERE quantity = 2)
        |SELECT COUNT() AS n FROM recursive""".stripMargin).df) ==
      Set(Seq(1L)))
    // an UNALIASED CTE carries its name as default alias even inside
    // scalar subqueries (dotted refs must not read as correlation)
    assert(rows(engine.sql(
      """WITH c AS (SELECT fruit, quantity FROM fruits)
        |SELECT fruit FROM fruits
        |WHERE quantity > (SELECT AVG(c.quantity) AS a FROM c
        |                  WHERE c.fruit != 'kiwi')""".stripMargin).df) ==
      Set(Seq("banana"))) // avg 4.2 → quantities 5 and 7, both banana
  }

  test("COPY TO exports jsonl/csv round-trippably; bad formats reject") {
    val out = java.nio.file.Files.createTempDirectory("graft-copy")
    try {
      val r = engine.sql(s"COPY (SELECT fruit, quantity FROM fruits) " +
        s"TO '$out/f.csv' FORMAT csv").df.collect().head
      assert(r.getLong(0) == 5L)
      import org.apache.spark.sql.types._
      val back = graft.sources.Tables.readCsv(spark, s"$out/f.csv",
        StructType(Seq(StructField("fruit", StringType),
          StructField("quantity", IntegerType))))
      assert(back.count() == 5 &&
        back.agg(org.apache.spark.sql.functions.sum("quantity"))
          .head().getLong(0) == 21L)
      // extension-driven default: .jsonl target writes json lines
      engine.sql(s"COPY (SELECT fruit FROM fruits) TO '$out/g.jsonl'")
      assert(spark.read.json(s"$out/g.jsonl").count() == 5)
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"COPY (SELECT fruit FROM fruits) TO '$out/h' FORMAT xml")
      }
      // FULL-DUPLEX interchange: COPY writes avro/tfrecord shards the
      // dialect's FROM-by-extension reads straight back
      val av = engine.sql(s"COPY (SELECT fruit, quantity FROM fruits) " +
        s"TO '$out/x.avro'").df.collect().head
      assert(av.getLong(0) == 5L)
      assert(rows(engine.sql(
        s"SELECT fruit FROM '$out/x.avro' WHERE quantity = 7").df) ==
        Set(Seq("banana")))
      val tf = engine.sql(s"COPY (SELECT fruit, quantity FROM fruits) " +
        s"TO '$out/y.tfrecord'").df.collect().head
      assert(tf.getLong(0) == 5L)
      // the tf.Example reader surfaces one row per (record, feature)
      assert(rows(engine.sql(
        s"""SELECT feature, COUNT() AS n FROM '$out/y.tfrecord'
           |GROUP BY feature""".stripMargin).df) ==
        Set(Seq("fruit", 5L), Seq("quantity", 5L)))
      // unmappable column types reject loudly at statement time
      import spark.implicits._
      Seq(Tuple1(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
        .toDF("ts").write.parquet(s"$out/ts.parquet")
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"COPY (SELECT ts FROM '$out/ts.parquet') " +
          s"TO '$out/z.tfrecord'")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("UPDATE and DELETE compose with an evolved (widened) dataset") {
    val out = java.nio.file.Files.createTempDirectory("graft-evolve-dml")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      val ds = s"$out/ds"
      Versioned.commit(Seq((1L, "a")).toDF("id", "v"), ds)
      // widen via SQL INSERT, then UPDATE over the merged head: the
      // pre-widening row's NULL score must survive the rewrite of the
      // matched row, and the republished head keeps the wide schema
      engine.sql(s"INSERT INTO '$ds' SELECT CAST(2 AS BIGINT) AS id, " +
        "'b' AS v, CAST(0.5 AS DOUBLE) AS score FROM fruits LIMIT 1")
      engine.sql(s"UPDATE '$ds' SET v = 'B' WHERE id = 2")
      val head = engine.sql(s"SELECT id, v, score FROM '$ds'").df
        .collect().map(r => (r.getLong(0), r.getString(1), r.get(2))).toSet
      assert(head == Set((1L, "a", null), (2L, "B", 0.5)))
      engine.sql(s"DELETE FROM '$ds' WHERE id = 1")
      assert(rows(engine.sql(s"SELECT id FROM '$ds'").df) == Set(Seq(2L)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("DESCRIBE HISTORY: per-version manifest rows; non-versioned rejects") {
    val out = java.nio.file.Files.createTempDirectory("graft-history-spec")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      val ds = s"$out/ds"
      Versioned.commit(Seq((1L, "a")).toDF("id", "v"), ds)
      Versioned.commit(Seq((2L, "b")).toDF("id", "v"), ds, append = true)
      val h = engine.sql(s"DESCRIBE HISTORY '$ds'").df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      assert(h.toSeq == Seq((1L, 1, false), (2L, 2, true)))
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"DESCRIBE HISTORY '$out/nope'")
      }
      // plain DESCRIBE still resolves tables (the HISTORY keyword must
      // not shadow it)
      assert(engine.sql("DESCRIBE fruits").df.count() > 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("CREATE VIEW: re-planned per use, shadowing, recursion guard, DROP") {
    val eng = Engine(spark, dir) // fresh engine: views are session state
    val r = eng.sql("CREATE VIEW big AS SELECT fruit, quantity " +
      "FROM fruits WHERE quantity >= 4").df.collect()
    assert(r.head.getString(0) == "big" && r.head.getLong(1) == 2L)
    assert(rows(eng.sql("SELECT fruit FROM big WHERE quantity > 5").df) ==
      Set(Seq("banana"))) // quantity 7
    // views compose: a view over a view, joined back to a table
    eng.sql("CREATE VIEW big_n AS SELECT COUNT() AS n FROM big")
    assert(rows(eng.sql("SELECT n FROM big_n").df) == Set(Seq(3L)))
    // CTE scope SHADOWS a view of the same name (nearest wins)
    assert(rows(eng.sql(
      "WITH big AS (SELECT 1 AS n) SELECT n FROM big").df) == Set(Seq(1)))
    // re-planned per use: CREATE OR REPLACE redefines, dependents track
    eng.sql("CREATE OR REPLACE VIEW big AS SELECT fruit, quantity " +
      "FROM fruits WHERE quantity >= 2")
    assert(rows(eng.sql("SELECT n FROM big_n").df) == Set(Seq(5L)))
    // duplicate without OR REPLACE rejects; definition-time validation
    // rejects broken references and leaves the old definition standing
    assertThrows[graft.sql.SemanticError] {
      eng.sql("CREATE VIEW big AS SELECT 1 AS x")
    }
    intercept[Exception] {
      eng.sql("CREATE OR REPLACE VIEW big AS SELECT nope FROM fruits")
    }
    assert(rows(eng.sql("SELECT n FROM big_n").df) == Set(Seq(5L)))
    // self-reference trips the cycle guard AT DEFINITION
    assertThrows[graft.sql.SemanticError] {
      eng.sql("CREATE VIEW loop_v AS SELECT * FROM loop_v")
    }
    // SHOW TABLES lists views beside files
    assert(eng.sql("SHOW TABLES").df.collect()
      .map(r2 => (r2.getString(0), r2.getString(1)))
      .count(_ == ("big", "view")) == 1)
    // DROP VIEW removes (resolution falls back to disk and fails
    // there); IF EXISTS tolerates absence; bare DROP rejects
    eng.sql("DROP VIEW big_n")
    intercept[Exception] { eng.sql("SELECT n FROM big_n").df.collect() }
    eng.sql("DROP VIEW IF EXISTS big_n")
    assertThrows[graft.sql.SemanticError] { eng.sql("DROP VIEW big_n") }
  }

  test("MERGE INTO: upsert, delete, cardinality violation, error paths") {
    val out = java.nio.file.Files.createTempDirectory("graft-merge")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      val ds = s"$out/ds"
      Versioned.commit(
        Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
          .toDF("id", "v", "n"), ds)
      // upsert: source updates 2, inserts 4; 1 and 3 untouched
      val r1 = engine.sql(
        s"""MERGE INTO '$ds' t
           |USING (SELECT CAST(2 AS BIGINT) AS sid, 'B2' AS sv,
           |         CAST(200 AS BIGINT) AS sn
           |       UNION ALL
           |       SELECT CAST(4 AS BIGINT) AS sid, 'd' AS sv,
           |         CAST(40 AS BIGINT) AS sn) s
           |ON t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET v = s.sv, n = s.sn + t.n
           |WHEN NOT MATCHED THEN INSERT (id, v, n)
           |  VALUES (s.sid, s.sv, s.sn)""".stripMargin).df
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(r1.head == ((1L, 0L, 1L))) // 1 updated, 0 deleted, 1 inserted
      assert(rows(engine.sql(s"SELECT id, v, n FROM '$ds'").df) ==
        Set(Seq(1L, "a", 10L), Seq(2L, "B2", 220L), Seq(3L, "c", 30L),
          Seq(4L, "d", 40L)))
      // prior snapshot still time-travels (copy-on-write)
      assert(rows(engine.sql(
        s"SELECT COUNT() AS c FROM '$ds' FOR VERSION AS OF 1").df) ==
        Set(Seq(3L)))
      // WHEN MATCHED THEN DELETE + INSERT *: source must carry every
      // target column by name for the star form
      val r2 = engine.sql(
        s"""MERGE INTO '$ds' t
           |USING (SELECT CAST(4 AS BIGINT) AS id, 'x' AS v,
           |         CAST(0 AS BIGINT) AS n
           |       UNION ALL
           |       SELECT CAST(9 AS BIGINT) AS id, 'i' AS v,
           |         CAST(90 AS BIGINT) AS n) s
           |ON t.id = s.id
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).df
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(r2.head == ((0L, 1L, 1L)))
      assert(rows(engine.sql(s"SELECT id FROM '$ds'").df) ==
        Set(Seq(1L), Seq(2L), Seq(3L), Seq(9L)))
      // cardinality violation: two source rows match target id 1
      assertThrows[graft.sql.SemanticError] {
        engine.sql(
          s"""MERGE INTO '$ds' t
             |USING (SELECT CAST(1 AS BIGINT) AS sid UNION ALL
             |       SELECT CAST(1 AS BIGINT) AS sid) s
             |ON t.id = s.sid
             |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      // ...but an INSERT-ONLY merge is exempt (standard/Delta rule):
      // multiple matches just exclude the row from the insert set
      val r3 = engine.sql(
        s"""MERGE INTO '$ds' t
           |USING (SELECT CAST(1 AS BIGINT) AS sid, 'x' AS sv UNION ALL
           |       SELECT CAST(1 AS BIGINT) AS sid, 'y' AS sv UNION ALL
           |       SELECT CAST(77 AS BIGINT) AS sid, 'n' AS sv) s
           |ON t.id = s.sid
           |WHEN NOT MATCHED THEN INSERT (id, v)
           |  VALUES (s.sid, s.sv)""".stripMargin).df
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(r3.head == ((0L, 0L, 1L))) // only 77 inserted
      assert(rows(engine.sql(
        s"SELECT COUNT() AS n FROM '$ds' WHERE id = 1").df) == Set(Seq(1L)))
      // statement keywords inside string literals are literals: ` on `
      // in the ON condition, `when matched` in a WHEN condition
      val r4 = engine.sql(
        s"""MERGE INTO '$ds' t
           |USING (SELECT CAST(1 AS BIGINT) AS sid, 'when matched' AS note
           |       UNION ALL
           |       SELECT CAST(3 AS BIGINT) AS sid, 'x on y' AS note
           |       UNION ALL
           |       SELECT CAST(2 AS BIGINT) AS sid, 'plain' AS note) s
           |ON t.id = s.sid AND s.note <> 'x on y'
           |WHEN MATCHED AND s.note = 'when matched' THEN UPDATE SET v = s.note
           |WHEN MATCHED THEN DELETE""".stripMargin).df
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(r4.head == ((1L, 1L, 0L))) // id 1 updated, id 2 deleted; 3 fails ON
      assert(rows(engine.sql(s"SELECT id, v FROM '$ds'").df) == Set(
        Seq(1L, "when matched"), Seq(3L, "c"), Seq(9L, "i"), Seq(77L, "n")))
      // error paths: non-versioned target, unknown SET column, alias
      // collision, INSERT * with a missing source column, no WHEN
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"MERGE INTO '$out/nope' t USING fruits s ON 1 = 1 " +
          "WHEN MATCHED THEN DELETE")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"MERGE INTO '$ds' t USING fruits s ON t.id = 1 " +
          "WHEN MATCHED THEN UPDATE SET nope = 1")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"MERGE INTO '$ds' x USING fruits x ON 1 = 1 " +
          "WHEN MATCHED THEN DELETE")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"MERGE INTO '$ds' t USING fruits s ON t.id = 1 " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"MERGE INTO '$ds' t USING fruits s ON t.id = 1")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("DESCRIBE covers every table format; SHOW TABLES lists the base dir") {
    // parquet table: one (name, type, nullable) row per column
    val d = engine.sql("DESCRIBE fruits").df.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(d("fruit") == "string" && d("quantity") == "int")
    // a BlockFile created by CTAS describes through the same statement
    val out = java.nio.file.Files.createTempDirectory("graft-describe")
    try {
      engine.sql(s"CREATE TABLE '$out/f.bin' AS SELECT fruit, " +
        "CAST(quantity AS INTEGER) AS q FROM fruits")
      val b = engine.sql(s"DESCRIBE '$out/f.bin'").df.collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(b == Map("fruit" -> "string", "q" -> "int"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
    // SHOW TABLES: the fixture dir's four parquet tables, name-sorted
    val t = engine.sql("SHOW TABLES").df.collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(t.map(_._1).toSeq == Seq("fruits", "orders", "users", "vecs"))
    assert(t.forall(_._2 == "parquet"))
    // without a base directory there is nothing to list — loud reject
    assertThrows[graft.sql.SemanticError] {
      new Engine(spark, None).sql("SHOW TABLES")
    }
    // the catalog lists every FROM-by-extension format it can serve
    val mixed = java.nio.file.Files.createTempDirectory("graft-catalog")
    try {
      import spark.implicits._
      import org.apache.spark.sql.types._
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$mixed/t.parquet")
      graft.sources.Avro.writeFile(
        new java.io.File(s"$mixed/r.avro"),
        StructType(Seq(StructField("id", LongType, false))),
        Iterator(org.apache.spark.sql.Row(1L)), "null")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$mixed/c.csv"),
        "k\n1\n".getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$mixed/j.jsonl"),
        "{\"k\": 1}\n".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$mixed/x.ignored-ext"), Array[Byte](1))
      val cat = Engine(spark, mixed.toString).sql("SHOW TABLES").df
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(cat == Set(("t", "parquet"), ("r.avro", "avro"),
        ("c.csv", "csv"), ("j.jsonl", "jsonl")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(mixed.toFile)
    }
  }

  test("UPDATE rewrites matched rows copy-on-write; NULL predicate keeps rows") {
    val out = java.nio.file.Files.createTempDirectory("graft-update")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      val ds = s"$out/ds"
      Versioned.commit(Seq(
        (1L, "en", 10L), (2L, "de", 20L), (3L, null.asInstanceOf[String], 30L)
      ).toDF("id", "lang", "n"), ds)
      // matched row rewritten (both columns), NULL-predicate row (lang
      // IS NULL makes lang != 'en' NULL) untouched — the DELETE mirror
      val r = engine.sql(
        s"UPDATE '$ds' SET lang = 'xx', n = n + 100 WHERE lang != 'en'")
        .df.collect().head
      assert(r.getLong(0) == 2L && r.getLong(1) == 1L) // v2, 1 row updated
      val rows2 = engine.sql(s"SELECT id, lang, n FROM '$ds'").df
        .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSet
      assert(rows2 == Set((1L, "en", 10L), (2L, "xx", 120L), (3L, null, 30L)))
      // v1 still serves the pre-update snapshot
      assert(rows(engine.sql(
        s"SELECT id FROM '$ds' FOR VERSION AS OF 1 WHERE lang = 'de'").df) ==
        Set(Seq(2L)))
      // SET expressions keep the column's committed type (n stays long)
      assert(engine.sql(s"SELECT n FROM '$ds'").df.schema("n").dataType ==
        org.apache.spark.sql.types.LongType)
      // a WHERE inside a SET string literal is part of the literal
      val lit = engine.sql(s"UPDATE '$ds' SET lang = 'a WHERE b' WHERE id = 1")
        .df.collect().head
      assert(lit.getLong(0) == 3L && lit.getLong(1) == 1L)
      assert(rows(engine.sql(s"SELECT id, lang FROM '$ds'").df) ==
        Set(Seq(1L, "a WHERE b"), Seq(2L, "xx"), Seq(3L, null)))
      // error paths: unknown column, subquery in SET, non-versioned path
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"UPDATE '$ds' SET nope = 1 WHERE id = 1")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"UPDATE '$ds' SET n = (SELECT MAX(n) FROM '$ds') " +
          "WHERE id = 1")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"UPDATE '$out/nowhere' SET x = 1 WHERE 1 = 1")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("segment-pruned DML: untouched segments carry by reference, bytes identical") {
    val out = java.nio.file.Files.createTempDirectory("graft-dml-prune")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      import org.apache.spark.sql.{functions => F}
      val ds = s"$out/ds"
      // three appended commits = three segments with disjoint id ranges
      Versioned.commit((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), ds)
      Versioned.commit((101L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), ds)
      Versioned.commit((201L to 300L).map(i => (i, s"v$i")).toDF("id", "v"), ds)
      // (name, mtime, size, md5) of every part file in a segment — the
      // byte-identity witness: a carried segment must not even be
      // rewritten with identical content
      def digest(seg: String): Set[(String, Long, Long, String)] =
        new java.io.File(s"$ds/data/$seg").listFiles().toSeq
          .filter(_.getName.endsWith(".parquet")).map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f.toPath))
            (f.getName, f.lastModified(), f.length(),
              md.map("%02x".format(_)).mkString)
          }.toSet
      def segOf(id: Long): String =
        Versioned.readWithProvenance(spark, ds)
          .filter(F.col("id") === id).select("__seg").head().getString(0)

      // --- selective UPDATE: only the segment holding id=150 rewrites
      val segs1 = Versioned.headSegments(spark, ds)
      assert(segs1.length == 3)
      val hot1 = segOf(150L)
      val cold1 = segs1.filterNot(_ == hot1)
      val snap1 = cold1.map(s => s -> digest(s)).toMap
      engine.sql(s"UPDATE '$ds' SET v = 'upd' WHERE id = 150")
      val segs2 = Versioned.headSegments(spark, ds)
      assert(cold1.forall(segs2.contains), "untouched segments carried")
      assert(!segs2.contains(hot1), "matched segment replaced")
      assert(segs2.length == 3)
      cold1.foreach(s => assert(digest(s) == snap1(s), s"bytes of $s"))
      assert(rows(engine.sql(
        s"SELECT v FROM '$ds' WHERE id = 150").df) == Set(Seq("upd")))
      assert(engine.sql(s"SELECT COUNT() AS n FROM '$ds'").df
        .head().getLong(0) == 300L)

      // --- selective DELETE: same discipline, row count drops by one
      val hot2 = segOf(250L)
      val cold2 = segs2.filterNot(_ == hot2)
      val snap2 = cold2.map(s => s -> digest(s)).toMap
      engine.sql(s"DELETE FROM '$ds' WHERE id = 250")
      val segs3 = Versioned.headSegments(spark, ds)
      assert(cold2.forall(segs3.contains) && !segs3.contains(hot2))
      cold2.foreach(s => assert(digest(s) == snap2(s), s"bytes of $s"))
      assert(engine.sql(s"SELECT COUNT() AS n FROM '$ds'").df
        .head().getLong(0) == 299L)

      // --- selective MERGE: matched segment rewrites, inserts land in
      //     the fresh segment, the other two carry by reference
      Seq((10L, "m"), (1000L, "new")).toDF("id", "v")
        .write.parquet(s"$out/src.parquet")
      val hot3 = segOf(10L)
      val cold3 = segs3.filterNot(_ == hot3)
      val snap3 = cold3.map(s => s -> digest(s)).toMap
      val eng = Engine(spark, out.toString)
      val m = eng.sql(
        s"""MERGE INTO '$ds' t USING src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
          .stripMargin).df.collect().head
      assert(m.getLong(1) == 1L && m.getLong(3) == 1L) // 1 upd, 1 ins
      val segs4 = Versioned.headSegments(spark, ds)
      assert(cold3.forall(segs4.contains) && !segs4.contains(hot3))
      cold3.foreach(s => assert(digest(s) == snap3(s), s"bytes of $s"))
      assert(rows(eng.sql(
        s"SELECT v FROM '$ds' WHERE id = 10 OR id = 1000").df) ==
        Set(Seq("m"), Seq("new")))
      assert(eng.sql(s"SELECT COUNT() AS n FROM '$ds'").df
        .head().getLong(0) == 300L)

      // --- insert-only MERGE rewrites NOTHING: every prior segment
      //     carries; the insert is its own fresh segment
      Seq((2000L, "ins")).toDF("id", "v")
        .write.parquet(s"$out/src2.parquet")
      val snap4 = segs4.map(s => s -> digest(s)).toMap
      eng.sql(
        s"""MERGE INTO '$ds' t USING src2 s ON t.id = s.id
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
          .stripMargin)
      val segs5 = Versioned.headSegments(spark, ds)
      assert(segs4.forall(segs5.contains) && segs5.length == segs4.length + 1)
      segs4.foreach(s => assert(digest(s) == snap4(s), s"bytes of $s"))

      // --- no-match UPDATE/DELETE = manifest-only commits (same list)
      val vBefore = Versioned.versions(spark, ds).last
      engine.sql(s"UPDATE '$ds' SET v = 'x' WHERE id = -5")
      engine.sql(s"DELETE FROM '$ds' WHERE id = -6")
      assert(Versioned.headSegments(spark, ds) == segs5)
      assert(Versioned.versions(spark, ds).last == vBefore + 2)

      // --- DELETE of every row still commits a READABLE empty head
      val ds2 = s"$out/ds2"
      Versioned.commit(Seq((1L, "a")).toDF("id", "v"), ds2)
      engine.sql(s"DELETE FROM '$ds2' WHERE id >= 0")
      val emptied = Versioned.read(spark, ds2)
      assert(emptied.count() == 0L &&
        emptied.columns.toSeq == Seq("id", "v"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("DML hygiene: footer-metadata status rows, pinned head version, " +
       "reserved-column guards, deterministic predicates, CDC removals") {
    val out = java.nio.file.Files.createTempDirectory("graft-dml-hyg")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      import org.apache.spark.sql.{functions => F}
      val ds = s"$out/ds"
      // four appended commits = four segments with disjoint id ranges
      (0 until 4).foreach { k =>
        Versioned.commit(
          (k * 1000L + 1 to k * 1000L + 1000).map(i => (i, s"v$i"))
            .toDF("id", "v").coalesce(1), ds)
      }
      assert(Versioned.rowCount(spark, ds) == 4000L)

      // --- DELETE's status row must come from footer metadata, not a
      //     full-table count: total records READ by the whole statement
      //     stays bounded by the pruned work (detection + one-segment
      //     rewrite + emptiness probe ~= 3 segment passes); a regression
      //     to read(head).count() adds the full 4000-row table on top
      //     and breaks the bound
      val recs = new java.util.concurrent.atomic.LongAdder
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            recs.add(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val st = engine.sql(s"DELETE FROM '$ds' WHERE id = 1500")
          .df.collect().head
        // listener events drain asynchronously — wait for quiescence
        var last = -1L
        var spins = 0
        while (recs.sum() != last && spins < 100) {
          last = recs.sum(); Thread.sleep(30); spins += 1
        }
        assert(st.getLong(1) == 3999L, s"status n_rows: $st")
        val read = recs.sum()
        assert(read <= 3500L,
          s"DELETE statement read $read records — a table-sized scan " +
            "crept back into the status path (4000-row table, 1 of 4 " +
            "segments affected)")
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(Versioned.rowCount(spark, ds) == 3999L)

      // --- CDC removal surface: the add-side delta of a DELETE that
      //     leaves survivors is the fresh segment; one that empties its
      //     whole segment has an EMPTY add-delta and must surface the
      //     dropped segment on the removal side
      val vBefore = Versioned.versions(spark, ds).last
      engine.sql(s"DELETE FROM '$ds' WHERE id > 3000") // empties seg 4
      val vAfter = Versioned.versions(spark, ds).last
      assert(Versioned.changes(spark, ds, vBefore, Some(vAfter)).count() == 0L,
        "segment-emptying DELETE has an empty add-delta")
      val removedSegs = Versioned.removedSegments(spark, ds, vBefore, Some(vAfter))
      assert(removedSegs.length == 1, s"removed: $removedSegs")
      val removedRows = Versioned.removals(spark, ds, vBefore, Some(vAfter))
      assert(removedRows.count() == 1000L &&
        removedRows.agg(F.min("id")).head().getLong(0) == 3001L)
      // partial rewrite: removal side carries the OLD segment, add side
      // the surviving rewrite — retract-then-upsert reconstructs head
      val v2 = Versioned.versions(spark, ds).last
      engine.sql(s"DELETE FROM '$ds' WHERE id = 2500")
      val v3 = Versioned.versions(spark, ds).last
      assert(Versioned.removals(spark, ds, v2, Some(v3)).count() == 1000L)
      assert(Versioned.changes(spark, ds, v2, Some(v3)).count() == 999L)

      // --- reserved provenance names guard loudly at statement entry
      val dsR = s"$out/dsr"
      Versioned.commit(Seq((1L, "a")).toDF("id", "__seg"), dsR)
      val eu = intercept[graft.sql.SemanticError] {
        engine.sql(s"UPDATE '$dsR' SET id = 2 WHERE id = 1")
      }
      assert(eu.getMessage.contains("reserved column"))
      val ed = intercept[graft.sql.SemanticError] {
        engine.sql(s"DELETE FROM '$dsR' WHERE id = 1")
      }
      assert(ed.getMessage.contains("reserved column"))

      // --- non-deterministic DELETE predicates reject: the predicate
      //     is evaluated twice (detection + rewrite), so rand() could
      //     match rows in segments the detection pass never flagged
      val en = intercept[IllegalArgumentException] {
        Versioned.deleteWhere(spark, ds, F.rand() > F.lit(0.5))
      }
      assert(en.getMessage.contains("deterministic"))
      // --- the copy-on-write UPDATE path enforces the SAME guard (its
      //     predicate is evaluated in the detection scan and again in
      //     the F.when rewrite — a rand() would silently under-update)
      val eu2 = intercept[graft.sql.SemanticError] {
        engine.sql(s"UPDATE '$ds' SET v = 'x' WHERE random() > 0.5")
      }
      assert(eu2.getMessage.contains("deterministic"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("multi-clause MERGE: first-match-wins, CASE inside conditions, " +
       "unreachable clauses reject") {
    val out = java.nio.file.Files.createTempDirectory("graft-merge-multi")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      val ds = s"$out/ds"
      Versioned.commit(
        Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
          .toDF("id", "v", "n"), ds)
      Seq((1L, 100L), (2L, 200L), (3L, 300L), (9L, 900L))
        .toDF("id", "n").write.parquet(s"$out/src.parquet")
      val eng = Engine(spark, out.toString)
      // clause 1 (id=1) wins over clause 2 even though both match id=1;
      // the clause-2 condition carries a CASE...THEN to prove the
      // top-level THEN scan; id=3 falls to the catch-all; id=9 inserts
      // through its condition; a second source row (id=2) deletes
      val st = eng.sql(
        s"""MERGE INTO '$ds' t USING src s ON t.id = s.id
           |WHEN MATCHED AND s.id = 2 THEN DELETE
           |WHEN MATCHED AND (CASE WHEN s.n < 150 THEN 1 ELSE 0 END) = 1
           |  THEN UPDATE SET v = 'low'
           |WHEN MATCHED THEN UPDATE SET v = 'high', n = s.n
           |WHEN NOT MATCHED AND s.n > 500 THEN
           |  INSERT (id, v, n) VALUES (s.id, 'ins', s.n)"""
          .stripMargin).df.collect().head
      assert((st.getLong(1), st.getLong(2), st.getLong(3)) == ((2L, 1L, 1L)),
        s"status: $st") // 2 updated (ids 1, 3), 1 deleted (2), 1 inserted (9)
      assert(rows(eng.sql(s"SELECT id, v, n FROM '$ds'").df) == Set(
        Seq(1L, "low", 10L),   // clause 2: v only, n untouched
        Seq(3L, "high", 300L), // catch-all: v + n
        Seq(4L, "d", 40L),     // unmatched target row
        Seq(9L, "ins", 900L))) // conditioned insert
      // an unconditioned matched clause before another one shadows it
      val e = intercept[graft.sql.SemanticError] {
        eng.sql(
          s"""MERGE INTO '$ds' t USING src s ON t.id = s.id
             |WHEN MATCHED THEN DELETE
             |WHEN MATCHED AND s.n > 0 THEN UPDATE SET v = 'x'"""
            .stripMargin)
      }
      assert(e.getMessage.contains("unreachable"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("bin-packed compaction: big segments carry byte-identical, " +
       "small tails fold, singleton bins stay put") {
    val out = java.nio.file.Files.createTempDirectory("graft-binpack")
    try {
      import graft.sources.Versioned
      import spark.implicits._
      val ds = s"$out/ds"
      // one BIG segment then a tail of four small ones (the streaming-
      // ingest shape compaction exists for)
      Versioned.commit(
        (1L to 20000L).map(i => (i, s"v$i" * 8)).toDF("id", "v")
          .coalesce(1), ds)
      (1 to 4).foreach { k =>
        Versioned.commit(
          Seq((100000L + k, "tail")).toDF("id", "v").coalesce(1), ds)
      }
      val segs = Versioned.headSegments(spark, ds)
      assert(segs.length == 5)
      val bigSeg = segs.head
      val bigFiles = new java.io.File(s"$ds/data/$bigSeg").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSet
      val bigBytes = bigFiles.map(_._3).sum
      // target between the tail size and the big segment: big carries,
      // the four smalls fold into ONE fresh segment
      val v = Versioned.compact(spark, ds, targetBytes = bigBytes)
      val after = Versioned.headSegments(spark, ds)
      assert(after.length == 2, s"after: $after")
      assert(after.contains(bigSeg), "big segment carried by reference")
      assert(new java.io.File(s"$ds/data/$bigSeg").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSet ==
        bigFiles, "carried bytes untouched")
      assert(Versioned.read(spark, ds).count() == 20004L)
      assert(Versioned.read(spark, ds)
        .filter(org.apache.spark.sql.functions.col("id") > 100000L)
        .count() == 4L)
      // the lone folded-tail segment has nothing to merge with: an
      // immediate re-compaction carries everything (no rewrite at all)
      val before2 = Versioned.headSegments(spark, ds)
      Versioned.compact(spark, ds, targetBytes = bigBytes)
      assert(Versioned.headSegments(spark, ds).toSet == before2.toSet)
      assert(Versioned.versions(spark, ds).last == v + 1)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("GROUPING() flags subtotal rows; CAST composes over aggregates") {
    val out = engine.sql(
      """SELECT fruit, CAST(grouping(fruit) AS INTEGER) AS g,
        |  CAST(SUM(quantity) AS DOUBLE) AS s
        |FROM fruits GROUP BY ROLLUP (fruit)""".stripMargin)
    assert(rows(out.df) == Set(
      Seq("apple", 0, 7.0), Seq("banana", 0, 12.0), Seq("orange", 0, 2.0),
      Seq(null, 1, 21.0))) // the grand-total row carries grouping = 1
    // grouping() outside ROLLUP/CUBE fails Spark's analysis loudly
    assertThrows[Exception] {
      engine.sql(
        "SELECT fruit, grouping(fruit) AS g FROM fruits GROUP BY fruit")
        .df.collect()
    }
  }

  test("CTAS USING picks the writer and validates the target extension") {
    val out = java.nio.file.Files.createTempDirectory("graft-ctas-using")
    try {
      // blockdir → a directory of part .bin files, readable as one table
      engine.sql(
        s"""CREATE TABLE '$out/f.bin' USING blockdir AS
           |SELECT fruit, CAST(quantity AS INTEGER) AS quantity
           |FROM fruits""".stripMargin)
      assert(new java.io.File(s"$out/f.bin").isDirectory)
      assert(new java.io.File(s"$out/f.bin").listFiles()
        .exists(_.getName.endsWith(".bin")))
      val back = engine.sql(
        s"SELECT SUM(quantity) AS s FROM '$out/f.bin'")
      assert(rows(back.df) == Set(Seq(21L)))
      // format/extension mismatches reject loudly
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"CREATE TABLE '$out/x.parquet' USING blockdir AS " +
          "SELECT fruit FROM fruits")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"CREATE TABLE '$out/y.bin' USING parquet AS " +
          "SELECT fruit FROM fruits")
      }
      assertThrows[graft.sql.SemanticError] {
        engine.sql(s"CREATE TABLE '$out/z.bin' USING orc AS " +
          "SELECT fruit FROM fruits")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("windowed statistical aggregates and unnest") {
    // per-row whole-partition stddev: apple quantities (3,4) → 0.7071
    val sd = engine.sql(
      """SELECT fruit, round(stddev_samp(quantity) OVER
        |  (PARTITION BY fruit), 4) AS sd FROM fruits""".stripMargin)
      .df.collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(sd("apple") == 0.7071 && sd("banana") == 1.4142)
    assert(sd("orange") == null) // single row → sample stddev NULL
    // unnest: one row per element, aggregable in an outer block
    val un = engine.sql(
      """SELECT id, COUNT() AS n, round(SUM(CAST(c AS DOUBLE)), 2) AS s
        |FROM (SELECT id, unnest(v) AS c FROM vecs) t
        |GROUP BY id""".stripMargin)
      .df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(un(3L) == ((3L, 2.0)) && un(4L) == ((3L, 1.4)))
    // unnest of a non-array rejects loudly
    assertThrows[IllegalArgumentException] {
      engine.sql("SELECT unnest(fruit) AS x FROM fruits").df.collect()
    }
  }

  test("EXPLAIN returns the plan without executing; CTAS under it rejects") {
    val plan = engine.sql(
      "EXPLAIN SELECT fruit, SUM(quantity) AS s FROM fruits GROUP BY fruit")
      .df.collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("parquet") || plan.contains("Scan"))
    val formatted = engine.sql(
      "EXPLAIN FORMATTED SELECT fruit FROM fruits WHERE quantity > 3")
      .df.collect().map(_.getString(0)).mkString("\n")
    assert(formatted.contains("PushedFilters") ||
      formatted.contains("Filter"))
    assertThrows[graft.sql.SemanticError] {
      engine.sql("EXPLAIN CREATE TABLE 'x.parquet' AS SELECT * FROM fruits")
    }
    // a scalar subquery is part of the plan: EXPLAIN shows it
    val sub = engine.sql("EXPLAIN SELECT fruit FROM fruits " +
      "WHERE quantity > (SELECT AVG(quantity) AS a FROM fruits)")
      .df.collect().map(_.getString(0)).mkString("\n")
    assert(sub.contains("Subquery"), sub)
  }

  test("vec_cosine + array scalar-subquery literal: vector search in SQL") {
    val out = engine.sql(
      """SELECT id, round(vec_cosine(v,
        |  (SELECT v FROM vecs WHERE id = 1)), 4) AS sim, len(v) AS dim
        |FROM vecs ORDER BY sim DESC, id""".stripMargin)
      .df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(out.head == ((1L, 1.0, 3)))         // self-similarity
    assert(out.last == ((2L, 0.0, 3)))         // orthogonal
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 4L, 2L)) // cos: 1, .7071, .6, 0
    // len() on a string still counts characters
    assert(rows(engine.sql(
      "SELECT len(fruit) AS n FROM fruits WHERE fruit = 'apple' LIMIT 1").df)
      == Set(Seq(5)))
    // a non-array argument to vec_cosine is rejected loudly
    assertThrows[IllegalArgumentException] {
      engine.sql("SELECT vec_cosine(fruit, fruit) AS x FROM fruits")
        .df.collect()
    }
  }

  test("DISTINCT ON keeps the first row per key under the tie-break order") {
    val out = engine.sql(
      """SELECT DISTINCT ON (fruit) fruit, quantity, color
        |FROM fruits
        |ORDER BY fruit, quantity DESC""".stripMargin)
    assert(rows(out.df) == Set(
      Seq("apple", 4, "green"), Seq("banana", 7, "yellow"),
      Seq("orange", 2, "orange")))
    // keys-only ORDER BY would make "first" arbitrary — rejected
    val e = intercept[graft.sql.SemanticError] {
      engine.sql(
        "SELECT DISTINCT ON (fruit) fruit FROM fruits ORDER BY fruit")
    }
    assert(e.getMessage.contains("tie-break"))
    // ORDER BY must lead with the ON keys
    assertThrows[graft.sql.SemanticError] {
      engine.sql(
        """SELECT DISTINCT ON (fruit) fruit, quantity FROM fruits
          |ORDER BY quantity DESC, fruit""".stripMargin)
    }
    // grouped blocks reject (compose via a derived table)
    assertThrows[graft.sql.GroupByError] {
      engine.sql(
        """SELECT DISTINCT ON (fruit) fruit, SUM(quantity) AS s
          |FROM fruits GROUP BY fruit ORDER BY fruit, s DESC""".stripMargin)
    }
  }

  test("inline VALUES tables join, widen numerics, and reject non-literals") {
    val out = engine.sql(
      """SELECT f.fruit, v.color_class, SUM(f.quantity) AS q
        |FROM fruits f
        |JOIN (VALUES ('red', 'warm'), ('yellow', 'warm'),
        |      ('green', 'cool'), ('orange', 'warm')) v(c, color_class)
        |  ON f.color = v.c
        |GROUP BY f.fruit, v.color_class""".stripMargin)
    assert(rows(out.df) == Set(
      Seq("apple", "warm", 3L), Seq("apple", "cool", 4L),
      Seq("banana", "warm", 12L), Seq("orange", "warm", 2L)))
    // int/double widen to double within a column
    assert(rows(engine.sql(
      """SELECT x FROM (VALUES (1), (2.5)) t(x)""").df) ==
      Set(Seq(1.0), Seq(2.5)))
    // a non-literal entry is rejected loudly
    assertThrows[graft.sql.SemanticError] {
      engine.sql("SELECT x FROM (VALUES (quantity)) t(x)").df.collect()
    }
    // arity mismatch with the column list is a parse error
    assertThrows[graft.sql.ParseError] {
      engine.sql("SELECT x FROM (VALUES (1, 2)) t(x)")
    }
  }

  test("VALUES accepts NULL entries; an all-NULL column rejects by name") {
    // NULL infers the column type from the non-null peers and marks the
    // column nullable (standard SQL; DuckDB agrees)
    val df = engine.sql(
      "SELECT x, y FROM (VALUES (1, 'a'), (2, NULL)) t(x, y)").df
    assert(df.schema("y").nullable && !df.schema("x").nullable)
    assert(rows(df) == Set(Seq(1, "a"), Seq(2, null)))
    // NULLs participate in SQL three-valued logic downstream
    assert(rows(engine.sql(
      "SELECT x FROM (VALUES (1, 'a'), (2, NULL)) t(x, y) WHERE y IS NULL").df)
      == Set(Seq(2)))
    val e = intercept[graft.sql.SemanticError] {
      engine.sql("SELECT x FROM (VALUES (NULL), (NULL)) t(x)")
    }
    assert(e.getMessage.contains("x") && e.getMessage.contains("NULL"))
  }

  test("RANGE frames are value-distance along one integral key") {
    // quantities 2,3,4,5,7: within ±1 of each → 2:[2,3] 3:[2,3,4]
    // 4:[3,4,5] 5:[4,5] 7:[7]; ties would share a frame (the ROWS
    // distinction) but this fixture has none
    val out = engine.sql(
      """SELECT fruit, quantity,
        |  COUNT() OVER (ORDER BY quantity
        |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS near
        |FROM fruits""".stripMargin)
      .df.collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(out == Map(2 -> 2L, 3 -> 3L, 4 -> 3L, 5 -> 2L, 7 -> 1L))
    // a float ORDER BY key is rejected, not silently coerced
    val e = intercept[IllegalArgumentException] {
      engine.sql(
        """SELECT SUM(price) OVER (ORDER BY price
          |  RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS s
          |FROM orders""".stripMargin).df.collect()
    }
    assert(e.getMessage.contains("integral"))
    // two ORDER BY keys have no distance axis
    assertThrows[IllegalArgumentException] {
      engine.sql(
        """SELECT COUNT() OVER (ORDER BY quantity, fruit
          |  RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS c
          |FROM fruits""".stripMargin).df.collect()
    }
  }

  test("ILIKE is case-insensitive LIKE (desugared to lower())") {
    assert(rows(engine.sql(
      "SELECT fruit FROM fruits WHERE fruit ILIKE 'APP%'").df) ==
      Set(Seq("apple")))
    assert(rows(engine.sql(
      "SELECT DISTINCT fruit FROM fruits WHERE fruit NOT ILIKE '%ANA'").df) ==
      Set(Seq("apple"), Seq("orange")))
  }

  test("statistical aggregates: stddev/variance in both forms, median") {
    // quantities per fruit: apple (3,4), banana (5,7), orange (2)
    val out = engine.sql(
      """SELECT fruit,
        |  round(stddev_samp(quantity), 4) AS sd,
        |  round(stddev_pop(quantity), 4) AS sdp,
        |  round(var_samp(quantity), 4) AS v,
        |  round(var_pop(quantity), 4) AS vp,
        |  median(quantity) AS med
        |FROM fruits GROUP BY fruit""".stripMargin)
    val byFruit = out.df.collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // apple: mean 3.5, var_samp 0.5, var_pop 0.25; median interpolates
    assert(byFruit("apple") == Seq(0.7071, 0.5, 0.5, 0.25, 3.5))
    assert(byFruit("banana") == Seq(1.4142, 1.0, 2.0, 1.0, 6.0))
    // single-row group: sample forms are NULL, population forms are 0
    assert(byFruit("orange") == Seq(null, 0.0, null, 0.0, 2.0))
    // population shape stats: symmetric 2-point {3,4} → skew 0,
    // excess kurtosis n·m4/m2² − 3 = 2·0.125/0.25 − 3 = −2
    val shape = engine.sql(
      """SELECT fruit, round(skewness(quantity), 4) AS sk,
        |  round(kurtosis(quantity), 4) AS ku
        |FROM fruits GROUP BY fruit""".stripMargin)
      .df.collect().map(r => r.getString(0) -> ((r.get(1), r.get(2)))).toMap
    assert(shape("apple") == ((0.0, -2.0)))
    assert(shape("banana") == ((0.0, -2.0)))
    // bivariate: x vs 2x → corr 1; covar hand-checked on apple (3,4)
    val bi = engine.sql(
      """SELECT fruit, round(corr(quantity, quantity * 2), 4) AS r,
        |  round(covar_pop(quantity, quantity * 2), 4) AS cp,
        |  round(covar_samp(quantity, quantity * 2), 4) AS cs
        |FROM fruits GROUP BY fruit""".stripMargin)
      .df.collect().map(r => r.getString(0) ->
        ((r.get(1), r.get(2), r.get(3)))).toMap
    assert(bi("apple") == ((1.0, 0.5, 1.0)))
    assert(bi("orange") == ((null, 0.0, null))) // single row
  }

  test("string_agg sorts elements by value, independent of input order") {
    val out = engine.sql(
      """SELECT color, string_agg(fruit, '|') AS fs
        |FROM fruits GROUP BY color""".stripMargin)
    val m = out.df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("yellow") == "banana|banana") // duplicates kept
    assert(m("red") == "apple" && m("green") == "apple")
    // a non-literal separator is rejected loudly
    val e = intercept[IllegalArgumentException] {
      engine.sql("SELECT string_agg(fruit, color) AS x FROM fruits").df
        .collect()
    }
    assert(e.getMessage.contains("literal"))
  }

  test("ntile/percent_rank/cume_dist distribution window functions") {
    val out = engine.sql(
      """SELECT fruit, quantity,
        |  ntile(2) OVER (ORDER BY quantity, fruit) AS half,
        |  percent_rank() OVER (ORDER BY quantity, fruit) AS pr,
        |  cume_dist() OVER (ORDER BY quantity, fruit) AS cd
        |FROM fruits""".stripMargin)
    val rs = out.df.collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    // order: orange 2, apple 3, apple 4, banana 5, banana 7; ntile(2)
    // over 5 rows puts 3 in the first tile
    assert(rs(("orange", 2)) == ((1, 0.0, 0.2)))
    assert(rs(("apple", 4)) == ((1, 0.5, 0.6)))
    assert(rs(("banana", 7)) == ((2, 1.0, 1.0)))
    // ntile requires ORDER BY and a positive literal
    assertThrows[IllegalArgumentException] {
      engine.sql("SELECT ntile(0) OVER (ORDER BY quantity) AS t FROM fruits")
        .df.collect()
    }
  }

  test("FOR TIMESTAMP AS OF reads the snapshot that was head at that instant") {
    import graft.sources.Versioned
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-tstravel")
      .toString
    try {
      val ds = s"$out/ds"
      Versioned.commit(Seq((1L, "a")).toDF("id", "v"), ds)
      Thread.sleep(30) // separate the manifest mtimes
      Versioned.commit(Seq((2L, "b")).toDF("id", "v"), ds)
      val fs = new org.apache.hadoop.fs.Path(ds)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def mtime(v: Long) = fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$ds/manifest", f"v-$v%09d.txt")).getModificationTime
      assert(Versioned.versionAt(spark, ds, mtime(1)) == 1L)
      assert(Versioned.versionAt(spark, ds, mtime(2) + 1000) == 2L)
      assertThrows[IllegalArgumentException] {
        Versioned.versionAt(spark, ds, mtime(1) - 1000)
      }
      // the dialect clause, with both accepted literal shapes
      val eng = Engine(spark, out)
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
      val t1 = fmt.format(java.time.Instant.ofEpochMilli(mtime(1)))
      assert(rows(eng.sql(
        s"SELECT id FROM '$ds' FOR TIMESTAMP AS OF '$t1'").df) ==
        Set(Seq(1L)))
      val tIso = java.time.Instant.ofEpochMilli(mtime(2)).toString
      assert(rows(eng.sql(
        s"SELECT COUNT() AS n FROM '$ds' FOR TIMESTAMP AS OF '$tIso'").df) ==
        Set(Seq(2L)))
      // too-early instants and junk literals reject loudly
      assertThrows[graft.sql.SemanticError] {
        eng.sql(s"SELECT id FROM '$ds' FOR TIMESTAMP AS OF '1999-01-01'")
          .df.collect()
      }
      assertThrows[graft.sql.SemanticError] {
        eng.sql(s"SELECT id FROM '$ds' FOR TIMESTAMP AS OF 'yesterday'")
          .df.collect()
      }
      // DESCRIBE HISTORY's commit_ts IS the instant versionAt resolves
      // by: per-version manifest mtimes, nondecreasing
      val hist = eng.sql(s"DESCRIBE HISTORY '$ds'").df.collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(hist(1L) == mtime(1) && hist(2L) == mtime(2))
      assert(hist(1L) <= hist(2L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("OPTIMIZE ZORDER BY: content identity, dual-path z-codes, " +
       "row-group pruning on the second column") {
    import graft.sources.Versioned
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-zorder")
      .toString
    try {
      // two INDEPENDENT near-uniform dimensions — the case a linear
      // sort cannot serve: ordering by x leaves every row group's y
      // stats spanning the whole domain
      val df = spark.range(40000).select(
        F.col("id"),
        F.pmod(F.hash(F.col("id")), F.lit(1000)).as("x"),
        F.pmod(F.hash(F.col("id"), F.lit(7)), F.lit(1000)).as("y"))
      val ds = s"$out/zds"
      Versioned.commit(df, ds)
      Versioned.commit(df.filter($"id" < 0), ds) // second (empty) segment

      // the native z-code is bit-identical to the composed one: bucket =
      // |{cutpoints <= v}| (NULL -> 0) via filter/size over the literal
      // cutpoints, then the MSB-first interleave as shift/mask arithmetic
      val bits = 8
      val nCuts = (1 << bits) - 1
      val probs = (1 to nCuts).map(_.toDouble / (nCuts + 1)).toArray
      val bounds = df.stat.approxQuantile(Array("x", "y"), probs, 0.001)
      val doubles = Seq(F.col("x").cast("double"), F.col("y").cast("double"))
      val composed = {
        val codes = doubles.zipWithIndex.map { case (d, i) =>
          F.coalesce(F.size(F.filter(F.typedlit(bounds(i).toSeq),
            (x: org.apache.spark.sql.Column) => x <= d)), F.lit(0))
        }
        (bits - 1 to 0 by -1).flatMap { b =>
          codes.map(c => F.shiftright(c, b).bitwiseAND(F.lit(1)).cast("long"))
        }.reduce((acc, bit) => F.shiftleft(acc, 1).bitwiseOR(bit))
      }
      val diff = df
        .withColumn("zn", Versioned.zcodeColumn(bounds, doubles))
        .withColumn("zc", composed)
        .filter($"zn" =!= $"zc").count()
      assert(diff == 0L)
      // NULL buckets to 0 on both
      val zNull = Seq((null.asInstanceOf[java.lang.Integer], 1))
        .toDF("x", "y")
        .select(Versioned.zcodeColumn(bounds, doubles).as("zn"),
          composed.as("zc")).collect().head
      assert(zNull.getLong(0) == zNull.getLong(1))

      // the dialect statement: rewrites (no one-segment short-circuit),
      // bumps the version, preserves content exactly
      val headBefore = Versioned.versions(spark, ds).last
      val eng = Engine(spark, out)
      val opt = eng.sql(s"OPTIMIZE '$ds' ZORDER BY (x, y)").df.collect().head
      assert(opt.getLong(0) > headBefore)
      assert(Versioned.segmentCount(spark, ds) >= 1)
      val after = Versioned.read(spark, ds)
      assert(after.count() == 40000L)
      assert(after.agg(F.sum($"x" * $"y" + $"id")).collect().head.getLong(0) ==
        df.agg(F.sum($"x" * $"y" + $"id")).collect().head.getLong(0))
      // rejections: non-numeric column, unknown column, < 2 columns
      assertThrows[graft.sql.SemanticError] {
        eng.sql(s"OPTIMIZE '$ds' ZORDER BY (x)")
      }
      assertThrows[graft.sql.SemanticError] {
        eng.sql(s"OPTIMIZE '$ds' ZORDER BY (x, nope)")
      }

      // pruning evidence: small-row-group parquet from the z-ordered
      // layout vs a linear sort by x — a selective filter on Y
      // intersects far fewer groups under z-order, while linear-by-x
      // leaves y stats full-range in ~every group
      def rgHits(path: String, lo: Long, hi: Long): (Int, Int) = {
        import scala.jdk.CollectionConverters._
        val conf = spark.sparkContext.hadoopConfiguration
        val files = Option(new java.io.File(path).listFiles())
          .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        var total = 0; var hit = 0
        files.foreach { f =>
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getPath), conf))
          try rdr.getRowGroups.asScala.foreach { rg =>
            total += 1
            rg.getColumns.asScala
              .find(_.getPath.toDotString == "y").foreach { c =>
                val st = c.getStatistics
                val mn = st.genericGetMin.asInstanceOf[Number].longValue()
                val mx = st.genericGetMax.asInstanceOf[Number].longValue()
                if (mx >= lo && mn < hi) hit += 1
              }
          } finally rdr.close()
        }
        (total, hit)
      }
      val wopts = Map("maxRecordsPerFile" -> "10000",
                      "parquet.block.size" -> (16 * 1024).toString)
      val zPath = s"$out/z-layout"
      Versioned.zorderLayout(Versioned.read(spark, ds), Seq("x", "y"),
          numPartitions = Some(4))
        .write.options(wopts).parquet(zPath)
      val linPath = s"$out/lin-layout"
      Versioned.read(spark, ds).orderBy("x")
        .write.options(wopts).parquet(linPath)
      val (zTot, zHit) = rgHits(zPath, 100, 200)   // 10% of the y domain
      val (lTot, lHit) = rgHits(linPath, 100, 200)
      assert(zTot >= 8 && lTot >= 8) // enough groups for the claim
      assert(lHit >= (lTot * 3) / 4,
        s"linear-by-x should leave y unprunable: $lHit/$lTot")
      assert(zHit * 2 <= zTot,
        s"z-order should prune >= half the groups on y: $zHit/$zTot")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("every job a statement runs carries the statement's kind") {
    val out = Files.createTempDirectory("graft-stmt-kind")
    try {
      import spark.implicits._
      val ds = s"$out/ds"
      graft.sources.Versioned.commit(
        (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v"), ds)
      graft.sources.Versioned.commit(
        (301L to 600L).map(i => (i, s"v$i")).toDF("id", "v"), ds, append = true)
      Seq(
        "UPDATE" -> s"UPDATE VECTORED '$ds' SET v = 'u' WHERE id >= 10 AND id < 20",
        "DELETE" -> s"DELETE VECTORED FROM '$ds' WHERE id >= 30 AND id < 40",
        "INSERT" -> s"INSERT INTO '$ds' VALUES (1000, 'ins'), (1001, 'ins')",
        "OPTIMIZE" -> s"OPTIMIZE '$ds'").foreach { case (kind, stmt) =>
        val descs = jobsOf(engine.sql(stmt): Unit)
        assert(descs.nonEmpty, s"$kind ran no job")
        assert(descs.forall(_ == kind), s"$kind jobs: ${descs.mkString(", ")}")
      }
      assert(rows(engine.sql(s"SELECT COUNT() AS n FROM '$ds'").df) ==
        Set(Seq(592L)))
      // copy-on-write DML and a multi-segment OPTIMIZE on a numeric
      // fixture: same labels, and no more jobs than each ran while UPDATE
      // staged its matched rows to parquet and re-evaluated its
      // predicate in the rewrite (5, 5 and 7 jobs on this fixture). The
      // SEGMENTS form must run one fewer: its buckets are the range
      // partitions, with no quantile pass over the z-codes first
      val num = s"$out/num"
      (0 until 2).foreach { k =>
        graft.sources.Versioned.commit((k * 300L + 1 to k * 300L + 300)
          .map(i => (i, i * 7 % 101)).toDF("id", "score"), num)
      }
      Seq(
        ("UPDATE", s"UPDATE '$num' SET score = score + 1 WHERE id >= 10 AND id < 20", 5),
        ("DELETE", s"DELETE FROM '$num' WHERE id >= 30 AND id < 40", 5),
        ("OPTIMIZE", s"OPTIMIZE '$num' ZORDER BY (id, score) SEGMENTS 2", 6)
      ).foreach { case (kind, stmt, maxJobs) =>
        val descs = jobsOf(engine.sql(stmt): Unit)
        assert(descs.nonEmpty, s"$kind ran no job")
        assert(descs.forall(_ == kind), s"$kind jobs: ${descs.mkString(", ")}")
        assert(descs.size <= maxJobs,
          s"$kind ran ${descs.size} jobs, more than $maxJobs")
      }
      assert(rows(engine.sql(s"SELECT COUNT() AS n FROM '$num'").df) ==
        Set(Seq(590L)))
      assert(graft.sources.Versioned.segmentCount(spark, num) == 2)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("a query's subqueries are planned, not run: no job before the action") {
    val out = Files.createTempDirectory("graft-subquery-jobs")
    try {
      import spark.implicits._
      val ds = s"$out/ds"
      graft.sources.Versioned.commit(
        (1L to 50L).map(i => (i, i % 7)).toDF("id", "g"), ds)
      val e = Engine(spark)
      // g = id % 7 over ids 1..50: AVG(g) = 2.96, so g in 3..6 (28 rows);
      // a g = 6 row exists (all 50); ids 1..3 carry g 1..3 (g in 4..6, 21)
      Seq(
        s"SELECT id FROM '$ds' WHERE g > (SELECT AVG(g) FROM '$ds')" -> 28L,
        s"SELECT id FROM '$ds' WHERE EXISTS (SELECT * FROM '$ds' WHERE g = 6)" -> 50L,
        s"SELECT id FROM '$ds' WHERE g > ALL (SELECT g FROM '$ds' WHERE id < 4)" -> 21L
      ).foreach { case (q, n) =>
        var frame: graft.api.GraftFrame = null
        assert(jobsOf { frame = e.sql(q) }.size == 0, q)
        assert(frame.count() == n, q)
      }
      var explained: graft.api.GraftFrame = null
      assert(jobsOf { explained = e.sql(
        s"EXPLAIN SELECT id FROM '$ds' WHERE g > (SELECT AVG(g) FROM '$ds')") }.size == 0)
      val text = explained.df.collect().map(_.getString(0)).mkString("\n")
      assert(text.contains("Subquery"), text)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }
}
