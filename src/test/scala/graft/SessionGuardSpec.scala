package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps graft on one session config and one execution path: every
  * session in the library and its mains comes from
  * [[GraftSession.builder]] (which installs the native functions), so no
  * operator needs to ask whether a native function exists. Keeps it on
  * one SQL front end too: statements parse once into a
  * [[graft.sql.Statement]], and code that runs a statement builds the
  * value instead of SQL text. */
class SessionGuardSpec extends AnyFunSuite {

  private val forbidden = Seq("catalog.functionExists(", "SparkSession.builder()")

  private def mainFiles: Seq[Path] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root: $main not found")
    Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  private def lines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex.map { case (l, i) => (l, i + 1) }

  test("no functionExists fork or hand-built session outside GraftSession.scala") {
    val files = mainFiles.filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, n) <- lines(f)
      pat <- forbidden if line.contains(pat)
    } yield s"$f:$n: $pat"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  // deployment settings only: the data dir, the core count, the artifact
  // dir, and Verify's dump filter; experiment knobs do not ship
  test("src/main reads no SPARK_GRAFT_* variable beyond SF_DIR, CPUS, OUT and ONLY") {
    val allowed = Set("SF_DIR", "CPUS", "OUT", "ONLY").map("SPARK_GRAFT_" + _)
    val knob = "SPARK_GRAFT_[A-Z0-9_]*".r
    val hits = for {
      f <- mainFiles
      (line, n) <- lines(f)
      v <- knob.findAllIn(line) if !allowed(v)
    } yield s"$f:$n: $v"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no regex over SQL text in Engine.scala") {
    val engine = Paths.get("src/main/scala/graft/Engine.scala")
    val hits = lines(engine).collect {
      case (line, n) if line.contains("\".r") || line.trim.endsWith(".r") =>
        s"$engine:$n: $line"
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  // graft/sql holds the grammar; SparkEntry is the oracle's query
  // catalogue, whose MERGE statements are dialect input under test
  test("no MERGE INTO text is built outside graft/sql and the oracle queries") {
    val files = mainFiles.filterNot(p =>
      p.toString.contains("/graft/sql/") ||
        p.getFileName.toString == "SparkEntry.scala")
    val hits = for {
      f <- files
      (line, n) <- lines(f)
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if code.contains("MERGE INTO")
    } yield s"$f:$n: $code"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  // DELETE, UPDATE and MERGE share one row-level core in Versioned: the
  // segment rewrite, its provenance read and its commit stay there
  test("no row-level rewrite outside sources/Versioned.scala") {
    val rewriteParts = Seq("commitPruned(", "readSegmentsAligned(", "stageMatched")
    val files = mainFiles.filterNot(_.toString.endsWith("sources/Versioned.scala"))
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, n) <- lines(f)
      pat <- rewriteParts if line.contains(pat)
    } yield s"$f:$n: $pat"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  // the near-duplicate family keeps one band-key path (the native
  // minhash_bands; its composable reference lives in OperatorsSpec) and
  // one capped pair explode (Dedup.bucketPairs, which builds the pairs
  // inline: no separate pair helper for other operators to call)
  test("one minhash band-key path and one pair explode in src/main") {
    val hits = for {
      f <- mainFiles
      ls = lines(f)
      (line, n) <- ls
      fold = line.contains("F.aggregate(") &&
        ls.slice(n - 1, n + 11).exists(_._1.contains("MinhashP"))
      if line.contains("minhashBandKeys") || line.contains("elementPairs(") || fold
    } yield s"$f:$n: $line"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  // a grouped block is one Catalyst Aggregate (Engine.aggregate): the
  // analyzer resolves keys and HAVING, so no hidden key or HAVING
  // columns, aggregate renaming, qualifier stripping or grouping-set
  // modes of the fluent API come back (a hidden column name starts a
  // word; an oracle query name such as q08_having_sql does not count)
  test("no hand aggregate rewrite in src/main") {
    val rewriteParts = Seq("_having_", "_gkey", "nameAggs", "stripQualifiers",
      "GraftGrouped.Rollup", "GraftGrouped.Cube", "GraftGrouped.Sets")
      .map(p => ("(?<![A-Za-z0-9])" + java.util.regex.Pattern.quote(p)).r)
    val hits = for {
      f <- mainFiles
      (line, n) <- lines(f)
      pat <- rewriteParts if pat.findFirstIn(line).nonEmpty
    } yield s"$f:$n: $line"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
