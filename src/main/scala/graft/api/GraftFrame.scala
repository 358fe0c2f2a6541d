package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types.StructType

import graft.api.Col._

/** Lazy DataFrame facade of the graft engine.
  *
  * Mirrors the reference's fluent API
  * (reference: src/mini_spark/dataframe.py:38-86 —
  * table/alias/select/filter/group_by/agg/join/collect/show/explain/schema)
  * but the "logical plan" it builds IS Spark's Catalyst plan: each call
  * delegates to [[org.apache.spark.sql.Dataset]] transformations, so
  * predicate pushdown, column pruning, partial aggregation and shuffle
  * planning all come from Catalyst rather than a hand-rolled planner
  * (the reference hand-rolls these in src/mini_spark/plan.py:224-235).
  */
final class GraftFrame(val df: DataFrame) {

  def spark: SparkSession = df.sparkSession
  def schema: StructType = df.schema

  /** Table alias; dotted column refs (`u.user_id`) resolve against it
    * (reference: tasks.py:127-132). */
  def alias(name: String): GraftFrame = new GraftFrame(df.alias(name))

  /** Projection; `Star` expands to the full input schema
    * (reference: tasks.py:88-93). */
  def select(cols: Col*): GraftFrame = {
    val expanded = cols.flatMap {
      case Star => df.columns.toSeq.map(c => F.col(c))
      case c    => Seq(c.compile(df.schema))
    }
    new GraftFrame(df.select(expanded: _*))
  }

  def filter(cond: Col): GraftFrame = new GraftFrame(df.filter(cond.compile(df.schema)))
  def where(cond: Col): GraftFrame = filter(cond)

  /** Grouping. The reference only executes single-column grouping
    * (dataframe.py:64-65); we support multi-column (its grammar already
    * allows it, reference: parser.py:30). */
  def groupBy(cols: Col*): GraftGrouped = new GraftGrouped(df, cols)

  /** Equi-join. The reference shuffles both sides and hash-joins
    * (reference: tasks.py:190-260); here Catalyst + AQE pick
    * broadcast/shuffled-hash/sort-merge from statistics. Unlike the
    * reference (inner-only regardless of `how`, tasks.py:202-240) all
    * standard join types are honored — SURVEY §7.1.1 divergence. */
  def join(other: GraftFrame, on: Col, how: String = "inner"): GraftFrame = {
    val joined = df.join(other.df, on.compile(joinSchema(other)), how)
    new GraftFrame(joined)
  }

  private def joinSchema(other: GraftFrame): StructType =
    StructType(df.schema.fields ++ other.df.schema.fields)

  def orderBy(cols: Col*): GraftFrame =
    new GraftFrame(df.orderBy(cols.map(_.compile(df.schema)): _*))

  /** Sort with per-column direction; `true` = ascending. */
  def sort(cols: Seq[(Col, Boolean)]): GraftFrame =
    new GraftFrame(df.orderBy(cols.map {
      case (c, true)  => c.compile(df.schema).asc
      case (c, false) => c.compile(df.schema).desc
    }: _*))

  def limit(n: Int): GraftFrame = new GraftFrame(df.limit(n))
  def distinct(): GraftFrame = new GraftFrame(df.distinct())
  def union(other: GraftFrame): GraftFrame = new GraftFrame(df.union(other.df))

  def collect(): Seq[Row] = df.collect().toSeq
  /** Driver-side limit while streaming results
    * (reference: execution.py:47-55). */
  def collect(limit: Int): Seq[Row] = df.take(limit).toSeq
  /** Prints up to `n` rows and returns how many were printed
    * (reference: dataframe.py:75-79 returns the row count). One job: the
    * printed rows ARE the counted rows. */
  def show(n: Int = 10): Int = {
    val rows = df.take(n)
    println(df.columns.mkString("[", " | ", "]"))
    rows.foreach(r => println(r.toSeq.map {
      case null => "null"
      case v    => v.toString
    }.mkString("[", " | ", "]")))
    rows.length
  }
  def count(): Long = df.count()

  /** Prints logical + physical plans (reference: dataframe.py:81-86). */
  def explain(full: Boolean = false): Unit = df.explain(full)

  def write(path: String): Unit = df.write.mode("overwrite").parquet(path)
}

/** Post-`groupBy` aggregation surface
  * (reference: src/mini_spark/dataframe.py:28-35 `GroupedData`). */
final class GraftGrouped(df: DataFrame, keys: Seq[Col]) {
  def agg(aggCols: Col*): GraftFrame = {
    val schema = df.schema
    val compiled = aggCols.map {
      case a @ AggCol(_, _, _) => a.compile(schema)
      case Alias(a @ AggCol(_, _, _), n) => a.aliased(n).compile(schema)
      case other => throw new IllegalArgumentException(
        s"agg() requires aggregate columns, got: $other")
    }
    new GraftFrame(df.groupBy(keys.map(_.compile(schema)): _*)
      .agg(compiled.head, compiled.tail: _*))
  }
}

object GraftFrame {
  /** A table IS a file path in the reference
    * (reference: parser.py:60, dataframe.py:47-54). Parquet is the
    * storage analog of its BlockFile columnar format (SURVEY §1.5). */
  def table(spark: SparkSession, path: String): GraftFrame =
    new GraftFrame(spark.read.parquet(path))

  def fromDF(df: DataFrame): GraftFrame = new GraftFrame(df)
}
