package graft.sql

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.api.Col

/** A parsed SQL statement: what [[SqlParser.parseStatement]] returns and
  * [[graft.Engine.execute]] dispatches on. Every form of the dialect is
  * one case class, so no statement is ever matched, split or rebuilt as
  * text. `kind` names the statement (its leading keywords); the engine
  * labels the Spark jobs a statement runs with it.
  *
  * Table targets are the dialect's table references: a quoted path or a
  * bare name, resolved against the engine's base directory by
  * [[graft.sources.Tables.resolve]]. */
sealed trait Statement { def kind: String }

object Statement {

  /** `SELECT ...` / `WITH ...`: a query, planned lazily. */
  final case class Query(query: CompoundQuery) extends Statement {
    def kind = "SELECT"
  }

  /** `CREATE [OR REPLACE] VIEW name AS <query>` */
  final case class CreateView(name: String, orReplace: Boolean,
      body: CompoundQuery) extends Statement { def kind = "CREATE VIEW" }

  /** `DROP VIEW [IF EXISTS] name` */
  final case class DropView(name: String, ifExists: Boolean) extends Statement {
    def kind = "DROP VIEW"
  }

  /** `CREATE TABLE <target> [USING fmt] AS <query>`; `quoted` tells a
    * quoted path from a bare name. */
  final case class CreateTableAs(target: String, quoted: Boolean,
      using: Option[String], query: CompoundQuery) extends Statement {
    def kind = "CREATE TABLE"
  }

  /** `ALTER '<ds>' ADD CONSTRAINT name CHECK (<expr>)`; `check` is the
    * Spark-SQL expression text between the parentheses, as written. */
  final case class AddConstraint(target: String, name: String, check: String)
      extends Statement { def kind = "ALTER CONSTRAINT" }

  /** `ALTER '<ds>' DROP CONSTRAINT name` */
  final case class DropConstraint(target: String, name: String)
      extends Statement { def kind = "ALTER CONSTRAINT" }

  /** `SHOW CONSTRAINTS '<ds>'` */
  final case class ShowConstraints(target: String) extends Statement {
    def kind = "SHOW CONSTRAINTS"
  }

  /** `RESTORE '<ds>' TO VERSION n | TO TIMESTAMP '<ts>'` */
  final case class Restore(target: String, to: Either[Long, String])
      extends Statement { def kind = "RESTORE" }

  /** `VACUUM '<ds>' [KEEP n] [DRY RUN]` */
  final case class Vacuum(target: String, keep: Int, dryRun: Boolean)
      extends Statement { def kind = "VACUUM" }

  /** `OPTIMIZE '<ds>' [ZORDER BY (cols)] [SEGMENTS n] [PURGE [THRESHOLD f]]`;
    * `purge` holds the threshold (0.0 when none is given). */
  final case class Optimize(target: String, zorderBy: Seq[String],
      segments: Option[Int], purge: Option[Double]) extends Statement {
    def kind = "OPTIMIZE"
  }

  /** `DELETE [VECTORED] FROM '<ds>' WHERE <pred>` */
  final case class Delete(target: String, where: Col, vectored: Boolean)
      extends Statement { def kind = "DELETE" }

  /** `UPDATE [VECTORED] '<ds>' SET col = expr [, ...] WHERE <pred>` */
  final case class Update(target: String, set: Seq[(String, Col)], where: Col,
      vectored: Boolean) extends Statement { def kind = "UPDATE" }

  /** `MERGE INTO '<ds>' [[AS] t] USING <source> [[AS] s] ON <cond>
    * WHEN ...`: the WHEN MATCHED clauses in specification order and at
    * most one WHEN NOT MATCHED clause. */
  final case class Merge(target: String, targetAlias: Option[String],
      source: MergeSource, sourceAlias: Option[String], on: Col,
      matched: Seq[MergeMatched], notMatched: Option[MergeInsert])
      extends Statement { def kind = "MERGE" }

  /** A MERGE source: a table reference, a subquery, or rows already on
    * the driver (built by code, never parsed). */
  sealed trait MergeSource
  final case class SourceTable(ref: String) extends MergeSource
  final case class SourceQuery(query: CompoundQuery) extends MergeSource
  final case class SourceRows(rows: Array[Row], schema: StructType)
      extends MergeSource

  /** `WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE` */
  sealed trait MergeMatched { def cond: Option[Col] }
  final case class MergeUpdate(cond: Option[Col], set: Seq[(String, Col)])
      extends MergeMatched
  final case class MergeDelete(cond: Option[Col]) extends MergeMatched

  /** `WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols) VALUES
    * (exprs)`; `values` is None for `INSERT *`. */
  final case class MergeInsert(cond: Option[Col],
      values: Option[(Seq[String], Seq[Col])])

  /** `INSERT INTO <target> [(cols)] VALUES (...), ... | <query>`: the
    * body is the VALUES rows or the query. */
  final case class Insert(target: String, quoted: Boolean,
      columns: Option[Seq[String]], body: Either[Seq[Seq[Col]], CompoundQuery])
      extends Statement { def kind = "INSERT" }

  /** `COPY (<query>) TO '<path>' [FORMAT fmt | (FORMAT fmt)]` */
  final case class Copy(query: CompoundQuery, path: String,
      format: Option[String]) extends Statement { def kind = "COPY" }

  /** `DESCRIBE <table>` / `DESC <table>` */
  final case class Describe(table: String) extends Statement {
    def kind = "DESCRIBE"
  }

  /** `DESCRIBE HISTORY <table>` */
  final case class DescribeHistory(table: String) extends Statement {
    def kind = "DESCRIBE HISTORY"
  }

  /** `SUMMARIZE <table>` */
  final case class Summarize(table: String) extends Statement {
    def kind = "SUMMARIZE"
  }

  /** `SUMMARIZE FOOTERS <table>` */
  final case class SummarizeFooters(table: String) extends Statement {
    def kind = "SUMMARIZE FOOTERS"
  }

  /** `ANALYZE <table>` */
  final case class Analyze(table: String) extends Statement {
    def kind = "ANALYZE"
  }

  /** `SHOW TABLES` */
  case object ShowTables extends Statement { def kind = "SHOW TABLES" }

  /** `EXPLAIN [FORMATTED] <statement>`; only a query can be explained. */
  final case class Explain(statement: Statement, formatted: Boolean)
      extends Statement { def kind = "EXPLAIN" }
}
