package graftbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

import graft.Engine
import graft.sources.Versioned

/** Shared by the workloads that query through the engine's SQL front:
  * the traced parse probe, planning, and the action. */
object Sql {
  /** On traced statements a query is also parsed on its own, which times
    * the `graft.sql` layer; statements (DML, OPTIMIZE, ...) are matched
    * by the engine itself. */
  def plan(h: Harness, engine: Engine, q: String): graft.api.GraftFrame = {
    if (h.probing && q.trim.toUpperCase.matches("(?s)(SELECT|WITH)\\b.*"))
      h.span("sql.parse")(graft.sql.SqlParser.parseCompound(q))
    h.span("engine.plan")(engine.sql(q))
  }
  def run(h: Harness, engine: Engine, q: String): Seq[Row] = {
    val f = plan(h, engine, q)
    h.span("engine.exec")(f.collect())
  }
}

/** The storage side of a write statement, counted on traced statements:
  * commits, and the files and bytes it added under the table
  * directories against the user bytes it changed. */
object Storage {
  private def listing(dirs: Seq[String]): Map[String, Long] =
    dirs.flatMap(d => Box.files(new File(d))).map(f => f.getPath -> f.length).toMap

  /** Runs `body`; returns the bytes it added (0 when not traced). The
    * first directory is the versioned table whose commits count. */
  def account(h: Harness, spark: SparkSession, dirs: Seq[String],
      userBytes: Long)(body: => Unit): Long =
    if (!h.probing) { body; 0L }
    else {
      val v0 = h.span("sources.meta")(Versioned.versions(spark, dirs.head).lastOption)
      val before = listing(dirs)
      body
      val v1 = h.span("sources.meta")(Versioned.versions(spark, dirs.head).lastOption)
      val fresh = listing(dirs).filter { case (p, _) => !before.contains(p) }
      val added = fresh.values.sum
      h.add("sources.commits_per_stmt", (v1.getOrElse(0L) - v0.getOrElse(0L)).toDouble)
      h.add("sources.files_written_per_stmt", fresh.size.toDouble)
      h.add("sources.bytes_written_per_stmt", added.toDouble)
      if (userBytes > 0) h.add("sources.write_amp", added.toDouble / userBytes)
      added
    }
}
