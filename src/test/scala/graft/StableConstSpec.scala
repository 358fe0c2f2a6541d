package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{functions => F}

import graft.functions.StableConst

/** The reference-backed constant behind the CDC apply's per-statement
  * codegen reuse (round-17, the round-16 verdict's MERGE-JIT ask):
  * value-independent generated code, literal-exact evaluation, and the
  * dialect surface `stable_const(lit)`. Segment-skipping transparency
  * is pinned in [[VersionedSkipSpec]]. */
class StableConstSpec extends SparkSpec {

  test("generated code text is value-independent — the codegen-cache " +
    "key — where an inlined literal's is not") {
    def gen(e: org.apache.spark.sql.catalyst.expressions.Expression) = {
      val ctx = new org.apache.spark.sql.catalyst.expressions.codegen
        .CodegenContext
      e.genCode(ctx).code.toString
    }
    val col = BoundReference(0, LongType, nullable = false)
    val a = gen(GreaterThanOrEqual(col, StableConst(105L, LongType)))
    val b = gen(GreaterThanOrEqual(col, StableConst(905L, LongType)))
    assert(a == b,
      "two StableConst values must generate IDENTICAL source — that " +
        "equality is what makes Spark's generated-class cache hit " +
        s"across statements:\n$a\nvs\n$b")
    // the literal twin inlines the value — the per-statement recompile
    // this expression exists to avoid
    val la = gen(GreaterThanOrEqual(col, Literal(105L)))
    val lb = gen(GreaterThanOrEqual(col, Literal(905L)))
    assert(la != lb)
  }

  test("evaluates exactly like its literal, interpreted and codegen'd") {
    val df = spark.range(10).toDF("x")
    def sc(v: Any) = F.call_function("stable_const", F.lit(v))
    val got = df.where(F.col("x") >= sc(7L)).collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(7L, 8L, 9L))
    // int const against a long column: analyzer coercion wraps the
    // const in a Cast; results must still be literal-exact
    assert(df.where(F.col("x") >= sc(7)).count() == 3L)
    // string type rides the references array whole (no unboxing path)
    import spark.implicits._
    val s = Seq("apple", "pear", "fig").toDF("w")
    assert(s.where(F.col("w") === sc("pear")).count() == 1L)
  }

  test("dialect surface: stable_const(lit) in a WHERE equals the " +
    "plain literal, and a non-literal argument is rejected") {
    val dir = Files.createTempDirectory("graft-stableconst").toString
    spark.range(20).toDF("x").write.parquet(s"$dir/t.parquet")
    val eng = Engine(spark)
    val a = eng.collect(
      s"SELECT x FROM '$dir/t.parquet' WHERE x >= stable_const(15)")
      .map(_.getLong(0)).toSet
    val b = eng.collect(
      s"SELECT x FROM '$dir/t.parquet' WHERE x >= 15")
      .map(_.getLong(0)).toSet
    assert(a == b && a == Set(15L, 16L, 17L, 18L, 19L))
    val e = intercept[IllegalArgumentException] {
      eng.collect(
        s"SELECT x FROM '$dir/t.parquet' WHERE x >= stable_const(x)")
    }
    assert(e.getMessage.contains("literal"))
    // NEGATIVE literal: the tokenizer carries no sign, so `-5` parses
    // as `0 - 5` — stable_const must fold it rather than abort (a
    // signed key column's min/max bound is exactly this shape in the
    // CDC apply's MERGE; rejecting it crashed the whole statement)
    val neg = eng.collect(
      s"SELECT x FROM '$dir/t.parquet' WHERE x - 8 >= stable_const(-5)")
      .map(_.getLong(0)).toSet
    assert(neg == (3L to 19L).toSet)
  }

  test("THE TRADE, pinned at the plan: a stable_const comparison is " +
    "NOT a pushed parquet filter (row-group pruning forfeited) while " +
    "its literal twin is — so no caller can mistake the wrap as free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("graft-scpush").toString
    spark.range(100).toDF("x").coalesce(1).write.parquet(s"$dir/t")
    def pushed(df: org.apache.spark.sql.DataFrame): String = {
      val scans = df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f }
      assert(scans.length == 1)
      scans.head.metadata.getOrElse("PushedFilters", "")
    }
    val base = spark.read.parquet(s"$dir/t")
    val lit = pushed(base.where(F.col("x") >= F.lit(50L)))
    assert(lit.contains("GreaterThanOrEqual"),
      s"literal bound must reach the source as a pushed filter: $lit")
    val sc = pushed(base.where(
      F.col("x") >= F.call_function("stable_const", F.lit(50L))))
    assert(!sc.contains("GreaterThanOrEqual"),
      s"a stable_const bound must NOT push (translateFilter needs a " +
        s"Literal) — if this starts pushing, the codegen-reuse " +
        s"mechanism has changed and the call-site contract below is " +
        s"stale: $sc")
    // results stay literal-exact either way — the forfeit is purely
    // a row-group-statistics prune, never correctness
    assert(base.where(F.col("x") >=
      F.call_function("stable_const", F.lit(50L))).count() == 50L)
  }

  test("CALL-SITE CONTRACT: stable_const may be produced only at the " +
    "allowlisted sites, where the wrapped bounds are redundant " +
    "(implied by equi-join keys / segment-level skipping)") {
    // The expression forfeits parquet row-group pruning on whatever
    // conjunct it wraps (test above). That is safe ONLY when the
    // bound's pruning value lives elsewhere: the CDC apply's MERGE key
    // bounds are implied by the equi-join keys and still prune at the
    // MANIFEST level (SegmentStats sees through StableConst). A new
    // call site that wraps a SELECTIVE, non-join-implied predicate
    // would silently revert its scans to full-file reads. This test
    // fails on any new producing site so the author must re-derive
    // that redundancy argument — then extend this allowlist.
    val allowed = Set(
      "functions/StableConstExpr.scala",   // the expression itself
      "functions/VectorExpressions.scala", // extension registration
      "api/Col.scala",                     // dialect literal-arg check
      "streaming/Streams.scala")           // applyChanges MERGE bounds
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val hits = scala.collection.mutable.ListBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      val name = p.toString
      if (name.endsWith(".scala")) {
        val txt = java.nio.file.Files.readString(p)
        val refs = txt.linesIterator.zipWithIndex.exists { case (l, _) =>
          (l.contains("stable_const(") || l.contains("StableConst(") ||
            l.contains("\"stable_const\"")) &&
            !l.trim.startsWith("//") && !l.trim.startsWith("*")
        }
        if (refs && !allowed.exists(name.replace('\\', '/').endsWith(_)))
          hits += name
      }
    }
    assert(hits.isEmpty,
      s"new stable_const call site(s): ${hits.mkString(", ")} — " +
        "stable_const forfeits parquet row-group pruning on wrapped " +
        "conjuncts; prove the new site's bounds are redundant " +
        "(join-implied or manifest-pruned) and add it to the allowlist")
    // and within Streams.scala the producing shape stays the bounds
    // builder, exactly once
    val streams = java.nio.file.Files.readString(
      root.resolve("streaming/Streams.scala"))
    val producing = streams.linesIterator.count(l =>
      l.contains("FuncCall(\"stable_const\"") && !l.trim.startsWith("//"))
    assert(producing == 1,
      s"Streams.scala stable_const-producing lines: $producing (expected " +
        "exactly the applyChanges bounds template)")
  }

  test("applyChanges with a NEGATIVE key range: the stable_const-" +
    "wrapped bounds must not abort the MERGE") {
    import graft.sources.Versioned
    import graft.streaming.Streams
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-scneg").toString
    val rep = s"$dir/rep"
    Versioned.commit((-50L to 49L).map(id => (id, s"v$id"))
      .toDF("id", "v"), rep)
    val feed = Seq((-42L, "X", "update_postimage", 9L),
        (-7L, "Y", "update_postimage", 9L))
      .toDF("id", "v", "_change_type", "_commit_version")
    Streams.applyChanges(spark, rep, feed, Seq("id"))
    val out = Versioned.read(spark, rep)
    assert(out.count() == 100L)
    assert(out.where(F.col("v") === "X").collect()
      .map(_.getLong(0)).toSeq == Seq(-42L))
    assert(out.where(F.col("v") === "Y").count() == 1L)
  }
}
