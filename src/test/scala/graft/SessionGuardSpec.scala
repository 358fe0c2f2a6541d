package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps graft on one session config and one execution path: every
  * session in the library and its mains comes from
  * [[GraftSession.builder]] (which installs the native functions), so no
  * operator needs to ask whether a native function exists. */
class SessionGuardSpec extends AnyFunSuite {

  private val forbidden = Seq("catalog.functionExists(", "SparkSession.builder()")

  test("no functionExists fork or hand-built session outside GraftSession.scala") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root: $main not found")
    val files = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .toSeq
    assert(files.nonEmpty)
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      pat <- forbidden if line.contains(pat)
    } yield s"$f:${i + 1}: $pat"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
