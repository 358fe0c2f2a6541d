package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests only create small in-memory frames). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT96 timestamps carry no parquet statistics (kills both
      // row-group pruning and Versioned data skipping) — write micros,
      // mirroring GraftSession
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** The reference's 5-row fruits fixture
    * (reference: tests/test_execution.py:17-27, FIXTURES.md §3). */
  def fruits: DataFrame = {
    import spark.implicits._
    Seq(
      ("apple", 3, "red"), ("banana", 5, "yellow"), ("orange", 2, "orange"),
      ("apple", 4, "green"), ("banana", 7, "yellow")
    ).toDF("fruit", "quantity", "color")
  }

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The description of every Spark job `body` starts, in start order
    * (see [[org.apache.spark.graft.JobLog]]). */
  def jobsOf(body: => Unit): Seq[String] =
    org.apache.spark.graft.JobLog.of(spark)(body)
}
