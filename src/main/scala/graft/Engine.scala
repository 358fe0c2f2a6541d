package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.api.{Col, GraftFrame}
import graft.api.Col._
import graft.sql.{CompoundQuery, GroupByError, JoinClause, SelectItem, SemanticError, SqlParser, SqlQuery}
import graft.sources.Tables

/** Engine facade: `sql / collect / show / explain`
  * (reference: src/mini_spark/execution.py:57-62 ExecutionEngine.sql).
  *
  * Planning a parsed query follows the reference's clause-assembly order
  * (reference: src/mini_spark/parser.py:124-162 visit_query):
  * table → joins → where-filter → groupBy().agg(+hidden HAVING aggs) →
  * having-filter → final select. The HAVING rewrite appends each aggregate
  * referenced in HAVING as a hidden `_having_<n>` column, filters on it
  * post-aggregation and drops it in the final projection
  * (reference: parser.py:153-161). With GROUP BY, every selected
  * non-aggregate column must be a grouping key, else [[GroupByError]]
  * (reference: parser.py:143-151).
  */
final class Engine(val spark: SparkSession, val baseDir: Option[String] = None) {

  /** Driver-side (rows, bytes) of a PLAIN `.parquet` file/dir — the
    * MERGE small-source gate's metadata probe: a recursive listing plus
    * footer record counts, KB-sized reads, no Spark job. `None` when
    * the path is not plain parquet, holds any non-parquet data file
    * (the reader would still scan it — price as unknown), or exceeds
    * [[Engine.MergeSmallSourceBytes]] / 64 files (footer walks stay
    * cheap or don't happen). */
  private def plainParquetFootprint(path: String)
      : Option[(Long, Long, Option[org.apache.spark.sql.types.StructType])] =
    try {
      if (!path.endsWith(".parquet")) return None
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val files =
        scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      var bytes = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (!n.endsWith(".parquet")) return None
          files += st.getPath
          bytes += st.getLen
          if (bytes > Engine.MergeSmallSourceBytes || files.length > 64)
            return None
        }
      }
      // while the footers are open for counts, recover the writer's
      // OWN Spark schema from the first file's key-value metadata
      // (Spark stamps it on every write) — a small source then reads
      // with an explicit schema, skipping the per-statement
      // schema-inference job `spark.read.parquet` would run. First
      // file only, matching default (mergeSchema=false) semantics.
      var schema: Option[org.apache.spark.sql.types.StructType] = None
      val rows = files.iterator.map { f =>
        val rdr = graft.sources.Tables.openParquet(conf, f)
        try {
          if (schema.isEmpty)
            schema = Option(rdr.getFooter.getFileMetaData
              .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
              .flatMap(j => scala.util.Try(
                org.apache.spark.sql.types.DataType.fromJson(j)
                  .asInstanceOf[org.apache.spark.sql.types.StructType])
                .toOption)
          rdr.getRecordCount
        } finally rdr.close()
      }.sum
      Some((rows, bytes, schema))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[Engine.withAqeOff]] over this instance's session. */
  private def withAqeOff[T](cond: Boolean)(body: => T): T =
    Engine.withAqeOff(spark, cond)(body)

  /** [[Engine.withSmallStmtConfs]] over this instance's session. */
  private def withSmallStmtConfs[T](cond: Boolean)(body: => T): T =
    Engine.withSmallStmtConfs(spark, cond)(body)

  /** Session-scoped views: name → body TEXT, re-planned at every use
    * (standard non-materialized view semantics — a view over a
    * Versioned dataset tracks its head, and underlying-table changes
    * are visible immediately). FROM resolution consults views first,
    * then disk; CTE/subquery scope still shadows views (the standard
    * layering: the nearest definition wins). */
  private val views =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Statement-scoped INJECTED MERGE sources: name → pre-collected
    * rows + schema. The CDC apply hands its (delta-sized, already
    * driver-resident) net frame to MERGE this way, as a LocalRelation
    * under a fixed name — no parquet staging round-trip, no footer
    * probe, and the small-source fast path reuses the rows without
    * even a collect. Scoped strictly to the wrapped body; the name
    * must not shadow a view. */
  private val injectedSrcs = scala.collection.mutable.Map
    .empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  private[graft] def withLocalMergeSource[T](name: String, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType)(body: => T): T = {
    require(!views.contains(name) && !injectedSrcs.contains(name),
      s"withLocalMergeSource: name '$name' already bound")
    injectedSrcs(name) = (rows, schema)
    try body finally injectedSrcs.remove(name)
  }
  /** names currently being expanded — a view whose body references
    * itself (directly or through another view) must fail loudly, not
    * recurse forever */
  private val viewStack = scala.collection.mutable.LinkedHashSet.empty[String]

  def table(ref: String): GraftFrame = views.get(ref) match {
    case Some(body) =>
      if (!viewStack.add(ref)) throw new SemanticError(
        s"view '$ref' is recursive (expansion chain: " +
        s"${viewStack.mkString(" -> ")} -> $ref)")
      try evalCompound(SqlParser.parseCompound(body), Map.empty)
      finally viewStack.remove(ref)
    case None => GraftFrame.fromDF(Tables.load(spark, ref, baseDir))
  }

  /** `CREATE TABLE <target> AS SELECT ...` (extension): target is a
    * quoted parquet path, a quoted `.bin` path (materializes in the
    * reference's native BlockFile format — column types must be the
    * format's i32/f32/str/ts set, enforced by the writer), or a bare
    * name resolved against the engine's base directory with the SAME
    * rule FROM uses — so the created table is immediately SELECTable
    * in the next statement. Overwrites an existing target. */
  private val Ctas =
    """(?is)^\s*CREATE\s+TABLE\s+(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\s+(?:USING\s+([A-Za-z_]+)\s+)?AS\s+(.+)$""".r

  /** `EXPLAIN [FORMATTED] SELECT ...` (extension): plans the body
    * WITHOUT executing it and returns the physical plan as rows of
    * text — the surface a SQL user pokes before paying for a scan.
    * CTAS under EXPLAIN is rejected (planning it would still write). */
  private val ExplainRe = """(?is)^\s*EXPLAIN(\s+FORMATTED)?\s+(.+)$""".r

  /** `CREATE [OR REPLACE] VIEW <name> AS SELECT ...` /
    * `DROP VIEW [IF EXISTS] <name>` (extension): session-scoped
    * non-materialized views — the body is validated (parsed AND
    * planned) at definition so broken references fail here, stored as
    * TEXT, and re-planned at every FROM use, so views over Versioned
    * datasets always serve the current head. Self- or mutually-
    * recursive views reject at use with the expansion chain named
    * (recursion belongs to WITH RECURSIVE, which has fixpoint
    * semantics; view expansion has none). */
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.+)$""".r
  private val DropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  /** `DESCRIBE HISTORY '<versioned-ds>'` (extension, the Delta-style
    * audit statement): one row per committed version — (version,
    * n_segments, is_head) — from manifests alone, never data. The
    * operational question it answers: has OPTIMIZE/VACUUM run, how
    * many appends has the streaming sink stacked, which version would
    * a time-travel read pin. */
  private val DescribeHistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\s*$""".r

  /** `DELETE [VECTORED] FROM '<versioned-ds>' WHERE <pred>`
    * (extension): copy-on-write delete via
    * [[graft.sources.Versioned.deleteWhere]] — commits a NEW version
    * holding the surviving rows; prior snapshots stay readable (time
    * travel). With VECTORED, merge-on-read instead
    * ([[graft.sources.Versioned.deleteWhereVectored]]): every segment
    * carries byte-identical and the matched positions land in
    * deletion vectors, the right shape when matches are scattered and
    * sparse. Returns one row (version, n_rows) of the new head. Only
    * Versioned datasets: an in-place parquet delete has no atomicity
    * story, so a plain path is rejected. */
  private val DeleteRe =
    """(?is)^\s*DELETE\s+(VECTORED\s+)?FROM\s+'([^']+)'\s+WHERE\s+(.+)$""".r

  /** `RESTORE '<versioned-ds>' TO VERSION n | TO TIMESTAMP '<ts>'`
    * (extension, the Delta RESTORE statement): roll the head back to a
    * prior snapshot AS A NEW COMMIT via
    * [[graft.sources.Versioned.restore]] — zero data movement (the new
    * manifest references the old immutable segments), history intact,
    * the restore itself audited. Returns one row
    * (version, restored_version). */
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+'([^']+)'\s+TO\s+(?:VERSION\s+(\d+)|TIMESTAMP\s+'([^']+)')\s*$""".r

  /** `ALTER '<versioned-ds>' ADD CONSTRAINT <name> CHECK (<expr>)` /
    * `ALTER '<versioned-ds>' DROP CONSTRAINT <name>` (extension, the
    * Delta CHECK-constraint DDL): register a data-quality fence every
    * future write must satisfy — enforced at the storage layer's
    * single write choke point, so appends, INSERT, all DML rewrites
    * and the streaming sink are covered no matter which writer runs.
    * ADD validates the current head first (existing rows must comply).
    * `<expr>` is a Spark-SQL boolean expression; NULL passes (the
    * SQL-standard CHECK rule). Returns (version, constraint_name). */
  private val AlterConstraintRe =
    """(?is)^\s*ALTER\s+'([^']+)'\s+(?:ADD\s+CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s+CHECK\s*\((.+)\)|DROP\s+CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*))\s*$""".r

  /** `SHOW CONSTRAINTS '<versioned-ds>'` — one row per registered
    * CHECK constraint (name, expression). */
  private val ShowConstraintsRe =
    """(?is)^\s*SHOW\s+CONSTRAINTS\s+'([^']+)'\s*$""".r

  /** `VACUUM '<versioned-ds>' [KEEP n]` (extension): garbage-collect
    * history down to the newest `n` versions (default 1) via
    * [[graft.sources.Versioned.vacuum]] — a maintenance-window
    * operation (readers pinned to dropped versions lose their
    * segments). Returns one row (versions_kept, head_version). */
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+'([^']+)'(?:\s+KEEP\s+(\d+))?(?:\s+(DRY)\s+RUN)?\s*$""".r

  /** `OPTIMIZE '<versioned-ds>'` (extension, the lakehouse statement):
    * compact the head's per-batch segments into one
    * ([[graft.sources.Versioned.compact]]) — the maintenance statement
    * a long-running streaming ingest needs so manifests and file
    * listings stay bounded; prior versions keep time-traveling until
    * VACUUM. Returns one row (version, segments_compacted).
    *
    * `OPTIMIZE '<ds>' ZORDER BY (a, b, ...)` re-clusters the head along
    * a Morton curve over the named numeric columns
    * ([[graft.sources.Versioned.optimizeZorder]]) — row-group min/max
    * statistics then prune scans filtered on ANY clustered column, not
    * just a sort's leading one. No one-segment short-circuit: the
    * rewrite is the point. */
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+'([^']+)'(?:\s+ZORDER\s+BY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*\))?(?:\s+SEGMENTS\s+(\d+))?(?:\s+(PURGE)(?:\s+THRESHOLD\s+([0-9]*\.?[0-9]+))?)?\s*$""".r

  /** `DESCRIBE '<table>'` / `DESCRIBE <name>` (extension): one row per
    * column — (column_name, column_type, nullable) — through the same
    * resolution FROM uses, so parquet, `.bin` BlockFiles and Versioned
    * heads all describe identically. Types print in Spark DDL
    * lower-case (`bigint`, `string`, `array<float>`). Planning-only:
    * reads footers/headers, never data. */
  private val DescribeRe =
    """(?is)^\s*DESC(?:RIBE)?\s+(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\s*$""".r

  /** `SHOW TABLES` (extension): the `.parquet`/`.bin` tables of the
    * engine's base directory, one (table_name, format) row each — the
    * minimal catalog surface over a directory-of-files data layout. */
  private val ShowTablesRe = """(?is)^\s*SHOW\s+TABLES\s*$""".r

  /** `COPY (SELECT ...) TO '<path>' [FORMAT jsonl|csv|parquet|avro|tfrecord]`
    * (extension, DuckDB-style): task-parallel export of a query result
    * in the interchange formats trainers and downstream tools ingest —
    * JSONL (one document per line, the pre-training corpus format), CSV
    * (with header), parquet, Avro OCF shards, or framed tf.Example
    * TFRecord shards (the read side of both is the matching FROM-by-
    * extension route — full-duplex interchange). Default follows the
    * target extension (`.jsonl`/`.ndjson` → jsonl, `.csv` → csv,
    * `.avro` → avro, `.tfrecord` → tfrecord, else parquet). The
    * export is a directory of part files (every writer here is
    * task-parallel; a single-file export would gather 100 TB through
    * one writer) — `Tables.readJsonl`/`readCsv` and every engine FROM
    * read such directories natively. Returns one row (n_rows, path). */
  private val CopyRe =
    """(?is)^\s*COPY\s*\((.+)\)\s*TO\s+'([^']+)'\s*(?:\(\s*FORMAT\s+([A-Za-z]+)\s*\)|FORMAT\s+([A-Za-z]+))?\s*$""".r

  /** `SUMMARIZE '<table>'` / `SUMMARIZE <name>` (extension, the DuckDB
    * statement): per-column dataset-card statistics — non-null count,
    * null count, EXACT distinct count, min and max (stringified;
    * non-orderable types get NULL min/max) — in ONE aggregation pass
    * over the table. Exact, not approximate, so a differential oracle
    * replays it; the corpus-stats sketch family ([[graft.operators.Scale]])
    * is the at-scale incremental alternative when one pass over 100 TB
    * per question is too much. */
  private val SummarizeRe =
    """(?is)^\s*SUMMARIZE\s+(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\s*$""".r

  /** `SUMMARIZE FOOTERS '<parquet-table>'` (extension): the at-scale
    * SUMMARIZE — per-column row/null counts and numeric min/max from
    * parquet FOOTERS alone ([[graft.sources.Tables.parquetFooterStats]]),
    * zero data pages decoded. String bounds surface as NULL (parquet's
    * binary min/max may be truncated — serving them as exact values
    * would be silently wrong). */
  private val SummarizeFootersRe =
    """(?is)^\s*SUMMARIZE\s+FOOTERS\s+(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\s*$""".r

  /** `ANALYZE '<versioned-ds>'` (extension, the lakehouse ANALYZE
    * TABLE): backfill data-skipping sidecars for segments missing one
    * ([[graft.sources.Versioned.analyzeStats]] — task-parallel footer
    * walks, metadata only). New writes build sidecars inline; this is
    * the migration path for pre-stats datasets, after which filtered
    * reads and the metadata-aggregate fast path engage. */
  private val AnalyzeRe =
    """(?is)^\s*ANALYZE\s+(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\s*$""".r

  /** `UPDATE [VECTORED] '<versioned-ds>' SET col = expr [, ...] WHERE
    * <pred>` (extension): copy-on-write update completing the DML
    * triad (INSERT / UPDATE / DELETE) — commits a NEW version where
    * rows matching the predicate (TRUE only; NULL keeps the row
    * unchanged, the DELETE rule's mirror) carry the assigned values
    * and everything else is untouched. With VECTORED, merge-on-read
    * instead ([[graft.sources.Versioned.updateWhereVectored]]): the
    * matched positions land in deletion vectors and ONE fresh segment
    * appends their updated copies — write cost ∝ matched rows, the
    * scattered-update shape. Assigned expressions are cast to the
    * column's existing type so the dataset's schema NEVER drifts
    * across versions (time-travel consumers rely on it). Prior
    * snapshots stay readable. Returns one row (version, n_updated).
    *
    * Known statement-split limitation (shared with [[DeleteRe]]): the
    * SET/WHERE boundary is the FIRST ` WHERE ` occurrence, so a SET
    * string literal containing the word ` WHERE ` mis-splits and fails
    * with a parse error (loud, never silent); a tokenizer-level
    * statement grammar is the eventual fix. */
  private val UpdateRe =
    """(?is)^\s*UPDATE\s+(VECTORED\s+)?'([^']+)'\s+SET\s+(.+?)\s+WHERE\s+(.+)$""".r

  /** `INSERT INTO '<target>' SELECT ...` / `... VALUES (...), (...)`
    * (extension) — the incremental-publish write path through the
    * dialect (round-7 verdict: CTAS/DELETE/VACUUM existed but a
    * SQL-driven pipeline could not append):
    *   - extension-less target → [[graft.sources.Versioned.commit]]
    *     with `append = true`: a fresh path bootstraps version 1, an
    *     existing dataset stacks a new version (schema equality
    *     enforced by the commit — names AND types);
    *   - `.bin` target → [[graft.sources.BlockFile.append]] (file or
    *     committed blockdir; merges into the under-full tail block,
    *     the reference's append invariant);
    *   - `.parquet` target → rejected: a raw parquet directory has no
    *     atomic append story (a reader could see half the new files) —
    *     versioned datasets exist exactly for this.
    * `VALUES` rows take column names and types from the EXISTING
    * target's schema (positional, with casts — standard INSERT
    * semantics); a SELECT body is aligned to the target schema the
    * same way when one exists. */
  private val InsertRe =
    """(?is)^\s*INSERT\s+INTO\s+(?:'([^']+)'|([A-Za-z_][A-Za-z0-9_.]*))\s*(?:\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*\))?\s+(.+)$""".r
  private val InsertValuesBody = """(?is)^\s*VALUES\s+(.+)$""".r

  /** `MERGE INTO '<versioned-ds>' [AS] t USING <source> [AS] s ON <cond>
    *    [WHEN MATCHED THEN UPDATE SET col = expr [, ...] | WHEN MATCHED THEN DELETE]
    *    [WHEN NOT MATCHED THEN INSERT * | WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]`
    * (extension, the lakehouse upsert): one atomic copy-on-write commit
    * applying the matched action to target rows the ON condition pairs
    * with a source row, and inserting unmatched SOURCE rows. `<source>`
    * is a quoted path, a bare table name, or a parenthesized SELECT
    * with an alias. Standard cardinality rule enforced: a target row
    * matching MORE than one source row is an error (loud, matching
    * Postgres/Delta), because "apply both updates" has no defined
    * order. SET right-hand sides and INSERT VALUES expressions get the
    * full dialect grammar and may reference BOTH aliases (SET) or the
    * source alias (INSERT). `INSERT *` maps source columns to target
    * columns BY NAME and requires every target column present.
    * Statement-split limitation (the [[UpdateRe]] note's family): the
    * ON condition is cut at the LAST ` ON ` before the first WHEN, so
    * a string literal containing ` when matched ` or a condition
    * containing ` on ` mis-splits and fails loudly. */
  private val MergeRe =
    """(?is)^\s*MERGE\s+INTO\s+'([^']+)'(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s+USING\s+(.+)$""".r
  private val MergeWhenSplit = """(?i)\bWHEN\s+(?:NOT\s+)?MATCHED\b""".r
  private val MergeOnSplit = """(?i)\s+ON\s+""".r
  private val MergeUsingSub =
    """(?is)^\((.+)\)\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
  private val MergeUsingQuoted =
    """(?is)^'([^']+)'(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s*$""".r
  private val MergeUsingBare =
    """(?is)^([A-Za-z_][A-Za-z0-9_.]*)(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s*$""".r
  private val MergeClauseHead =
    """(?is)^WHEN\s+(NOT\s+)?MATCHED\s+(.+?)\s*$""".r
  private val MergeActUpdate = """(?is)^UPDATE\s+SET\s+(.+?)\s*$""".r
  private val MergeActDelete = """(?is)^DELETE\s*$""".r
  private val MergeActInsertStar = """(?is)^INSERT\s+\*\s*$""".r
  private val MergeActInsertCols =
    """(?is)^INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*$""".r

  /** MERGE clause forms — standard first-match-wins semantics: any
    * number of `WHEN MATCHED [AND cond] THEN UPDATE SET ... / DELETE`
    * clauses evaluated in specification order per matched row, plus at
    * most one `WHEN NOT MATCHED [AND cond] THEN INSERT ...`. */
  private sealed trait MergeMatched
  private final case class MergeUpd(cond: Option[String],
      assigns: Seq[(String, String)]) extends MergeMatched
  private final case class MergeDel(cond: Option[String]) extends MergeMatched

  /** SET assignments split textually (`col = expr`, top-level commas
    * and `=` only) so right-hand sides embed verbatim into the internal
    * join query — they may reference both MERGE aliases. */
  private def parseMergeAssigns(setText: String): Seq[(String, String)] =
    splitTopLevel(setText, ',').map { a =>
      val i = {
        var j = -1; var depth = 0; var inStr = false; var k = 0
        while (j < 0 && k < a.length) {
          val c = a.charAt(k)
          if (inStr) { if (c == '\'') inStr = false }
          else c match {
            case '\'' => inStr = true
            case '(' => depth += 1
            case ')' => depth -= 1
            case '=' if depth == 0 => j = k
            case _ => ()
          }
          k += 1
        }
        if (j < 0) throw new SemanticError(
          s"MERGE: SET assignment '$a' is not `col = expr`")
        j
      }
      (a.take(i).trim, a.drop(i + 1).trim)
    }

  /** Index of the first TOP-LEVEL `THEN` keyword: outside parens and
    * single-quoted strings AND outside `CASE ... END` (a WHEN-clause
    * condition may itself contain a CASE expression whose own THENs
    * must not terminate the condition). -1 when absent. */
  private def findTopLevelThen(text: String): Int = {
    var depth = 0; var inStr = false; var caseDepth = 0
    var i = 0
    def wordAt(j: Int, w: String): Boolean =
      j + w.length <= text.length &&
        text.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !Character.isLetterOrDigit(text.charAt(j - 1)) &&
          text.charAt(j - 1) != '_') &&
        (j + w.length == text.length ||
          !Character.isLetterOrDigit(text.charAt(j + w.length)) &&
            text.charAt(j + w.length) != '_')
    while (i < text.length) {
      val c = text.charAt(i)
      if (inStr) { if (c == '\'') inStr = false; i += 1 }
      else c match {
        case '\'' => inStr = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && wordAt(i, "CASE")) { caseDepth += 1; i += 4 }
          else if (depth == 0 && caseDepth > 0 && wordAt(i, "END")) {
            caseDepth -= 1; i += 3
          }
          else if (depth == 0 && caseDepth == 0 && wordAt(i, "THEN"))
            return i
          else i += 1
      }
    }
    -1
  }

  /** Split `text` at top-level occurrences of `sep` (outside parens and
    * single-quoted strings) — the SET-assignment splitter MERGE needs
    * because a right-hand side may itself contain commas
    * (`CASE ... END`, function calls). */
  private def splitTopLevel(text: String, sep: Char): Seq[String] = {
    val out = ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inStr = false; var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inStr) { cur += c; if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  def sql(query: String): GraftFrame = query match {
    case CreateViewRe(orReplace, name, body) =>
      scalarCache.clear()
      if (views.contains(name) && orReplace == null)
        throw new SemanticError(s"view '$name' already exists — " +
          "use CREATE OR REPLACE VIEW to redefine it")
      // parse loudly BEFORE registering (a syntax error must not even
      // transiently install the view); the semantic validation below
      // re-plans through table(name) and rolls back on failure
      SqlParser.parseCompound(body): Unit
      // registered BEFORE validation so a self-referential body trips
      // the cycle guard here, at definition, with the chain named
      val prior = views.get(name)
      views += name -> body
      val cols =
        try table(name).df.columns.length
        catch { case e: Throwable =>
          prior match {
            case Some(p) => views += name -> p
            case None    => views.remove(name)
          }
          throw e
        }
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(name, cols.toLong)),
        StructType(Seq(
          StructField("view_name", StringType, nullable = false),
          StructField("n_columns", LongType, nullable = false)))))
    case DropViewRe(ifExists, name) =>
      scalarCache.clear()
      val existed = views.remove(name).nonEmpty
      if (!existed && ifExists == null)
        throw new SemanticError(s"view '$name' does not exist")
      import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(name, existed)),
        StructType(Seq(
          StructField("view_name", StringType, nullable = false),
          StructField("dropped", BooleanType, nullable = false)))))
    case AlterConstraintRe(target, addName, checkExpr, dropName) =>
      scalarCache.clear()
      val resolved = Tables.resolve(target, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError(
          s"ALTER CONSTRAINT requires a Versioned dataset at '$resolved'")
      val (v, name) =
        try {
          if (addName != null)
            (graft.sources.Versioned.addConstraint(spark, resolved,
              addName, checkExpr.trim), addName)
          else
            (graft.sources.Versioned.dropConstraint(spark, resolved,
              dropName), dropName)
        } catch {
          case e: IllegalArgumentException =>
            throw new SemanticError(e.getMessage)
          case e: org.apache.spark.sql.AnalysisException =>
            throw new SemanticError(
              s"constraint expression does not analyze: ${e.getMessage}")
        }
      import org.apache.spark.sql.types.{LongType, StringType, StructField,
        StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(v, name)),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("constraint_name", StringType, nullable = false)))))
    case ShowConstraintsRe(target) =>
      val resolved = Tables.resolve(target, baseDir)
      import org.apache.spark.sql.types.{StringType, StructField,
        StructType}
      // `status`: `pending-drop` marks a constraint whose drop was
      // durably audited but whose file removal never landed (the
      // dropConstraint commit-first crash window — fail-safe
      // over-enforcement until the drop is re-run), so history and
      // enforcement can never disagree silently
      val pending =
        graft.sources.Versioned.pendingConstraintDrops(spark, resolved)
      val rows = graft.sources.Versioned.constraints(spark, resolved)
        .toSeq.sortBy(_._1).map { case (n, e) =>
          Row(n, e, if (pending(n)) "pending-drop" else "enforced") }
      GraftFrame.fromDF(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(
          StructField("constraint_name", StringType, nullable = false),
          StructField("check_expr", StringType, nullable = false),
          StructField("status", StringType, nullable = false)))))
    case RestoreRe(target, verOpt, tsOpt) =>
      scalarCache.clear()
      val resolved = Tables.resolve(target, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError(
          s"RESTORE requires a Versioned dataset at '$resolved'")
      val toV =
        try {
          if (verOpt != null) verOpt.toLong
          else graft.sources.Versioned.versionAt(spark, resolved,
            parseAsOfTimestamp(tsOpt))
        } catch { case e: IllegalArgumentException =>
          throw new SemanticError(e.getMessage) }
      val v =
        try graft.sources.Versioned.restore(spark, resolved, toV)
        catch { case e: IllegalArgumentException =>
          throw new SemanticError(e.getMessage) }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(v, toV)),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("restored_version", LongType, nullable = false)))))
    case VacuumRe(target, keep, dry) =>
      scalarCache.clear()
      val resolved = Tables.resolve(target, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError(
          s"VACUUM requires a Versioned dataset at '$resolved'")
      val n = Option(keep).map(_.toInt).getOrElse(1)
      if (dry != null) {
        // DRY RUN: the operator's pre-flight — what WOULD retention at
        // KEEP n delete, and how many data bytes does it free — with
        // nothing touched (metadata walk only)
        val st = graft.sources.Versioned.vacuum(spark, resolved, n,
          dryRun = true)
        import org.apache.spark.sql.types.{LongType, StructField,
          StructType}
        return GraftFrame.fromDF(spark.createDataFrame(
          java.util.List.of(Row(st.versionsDropped.toLong,
            st.segmentsDeleted.toLong, st.dvFilesDeleted.toLong,
            st.cdcEntriesDeleted.toLong, st.bytesFreed)),
          StructType(Seq(
            StructField("would_drop_versions", LongType, nullable = false),
            StructField("would_delete_segments", LongType,
              nullable = false),
            StructField("would_delete_dv_files", LongType,
              nullable = false),
            StructField("would_delete_cdc_entries", LongType,
              nullable = false),
            StructField("would_free_bytes", LongType, nullable = false)))))
      }
      graft.sources.Versioned.vacuum(spark, resolved, n): Unit
      val left = graft.sources.Versioned.versions(spark, resolved)
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(left.length.toLong, left.last)),
        StructType(Seq(
          StructField("versions_kept", LongType, nullable = false),
          StructField("head_version", LongType, nullable = false)))))
    case OptimizeRe(target, zorderCols, segmentsOpt, purgeKw, purgeThr) =>
      scalarCache.clear()
      val resolved = Tables.resolve(target, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError(
          s"OPTIMIZE requires a Versioned dataset at '$resolved'")
      if (segmentsOpt != null && zorderCols == null)
        throw new SemanticError("SEGMENTS n only applies to OPTIMIZE " +
          "... ZORDER BY (plain OPTIMIZE sizes segments by bytes)")
      if (purgeKw != null) {
        // `OPTIMIZE '<ds>' PURGE [THRESHOLD f]`: materialize deletion
        // vectors — segments ≥ f deleted (default: every vectored
        // segment) rewrite in place, the rest carry byte-identical
        if (zorderCols != null) throw new SemanticError(
          "OPTIMIZE PURGE does not combine with ZORDER BY (a ZORDER " +
            "republish already materializes every deletion vector)")
        val thr = if (purgeThr == null) 0.0 else purgeThr.toDouble
        val (v, n) =
          try graft.sources.Versioned.purgeVectors(spark, resolved, thr)
          catch { case e: IllegalArgumentException =>
            throw new SemanticError(e.getMessage) }
        import org.apache.spark.sql.types.{LongType, StructField,
          StructType}
        return GraftFrame.fromDF(spark.createDataFrame(
          java.util.List.of(Row(v, n.toLong)),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("segments_purged", LongType, nullable = false)))))
      }
      val before = graft.sources.Versioned.segmentCount(spark, resolved)
      // already-compact short-circuit: a one-segment head would still
      // be rewritten IN FULL by compact() — a whole-dataset write for
      // zero benefit (and a useless new version). ZORDER never
      // short-circuits: re-clustering a one-segment head is the point.
      val v =
        if (zorderCols != null) {
          val cols = zorderCols.split(",").map(_.trim).toSeq
          try {
            if (segmentsOpt != null)
              // z-range segments: the manifest-skipping AND
              // DML-granularity shape of the clustered table
              graft.sources.Versioned.optimizeZorderSegments(
                spark, resolved, cols, segmentsOpt.toInt)
            else graft.sources.Versioned.optimizeZorder(
              spark, resolved, cols)
          } catch { case e: IllegalArgumentException =>
            throw new SemanticError(e.getMessage) }
        }
        else if (before <= 1)
          graft.sources.Versioned.versions(spark, resolved).last
        else graft.sources.Versioned.compact(spark, resolved)
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(v, before.toLong)),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("segments_compacted", LongType, nullable = false)))))
    case DeleteRe(vectored, target, cond) =>
      scalarCache.clear()
      val resolved = Tables.resolve(target, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError(
          s"DELETE requires a Versioned dataset at '$resolved' — " +
          "copy-on-write needs manifests; commit through Versioned first")
      // parse the predicate with the full dialect expression grammar by
      // wrapping it in a SELECT; subquery predicates have no rendering
      // against the snapshot read and reject loudly
      val where = SqlParser
        .parseCompound(s"SELECT * FROM t WHERE $cond").head.where
        .getOrElse(throw new SemanticError("DELETE needs a predicate"))
      if (collectScalarSubs(where).nonEmpty || containsInSubquery(where))
        throw new SemanticError(
          "DELETE predicates cannot contain subqueries")
      val df = graft.sources.Versioned.read(spark, resolved, None)
      val v =
        try {
          if (vectored != null) graft.sources.Versioned
            .deleteWhereVectored(spark, resolved, where.compile(df.schema))
          else graft.sources.Versioned.deleteWhere(
            spark, resolved, where.compile(df.schema))
        } catch { case e: IllegalArgumentException =>
          throw new SemanticError(e.getMessage) }
      // status row from FOOTER metadata over the new manifest — the
      // round-10 verdict's last table-sized DML cost: a full
      // read(head).count() here scanned the entire table per DELETE
      // statement for pure reporting
      val n = graft.sources.Versioned.rowCount(spark, resolved, Some(v))
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(v, n)),
        StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("n_rows", LongType, nullable = false)))))
    case DescribeHistoryRe(quoted, bare) =>
      val ref = if (quoted != null) quoted else bare
      val resolved = Tables.resolve(ref, baseDir)
      import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}
      // commit_ts = the manifest's write time (rename-committed, written
      // once) in epoch ms. Versions AND mtimes come from ONE directory
      // listing — versionsWithMtime — with `vs` derived from it, never
      // a separate versions() listing: a vacuum racing between two
      // listings would surface as a bare NoSuchElementException on the
      // mtime lookup. The manifests themselves come from ONE bulk read
      // (distributed past the cutoff). The statement previously paid 3
      // serial driver round trips per version (manifestMeta +
      // segmentCount's re-read + getFileStatus) — at a 10k-commit audit
      // that was 30k round trips.
      val withMtime = graft.sources.Versioned
        .versionsWithMtime(spark, resolved).sortBy(_._1)
      if (withMtime.isEmpty) throw new SemanticError(
        s"DESCRIBE HISTORY requires a Versioned dataset at '$resolved'")
      val vs = withMtime.map(_._1)
      val mtimes = withMtime.toMap
      val bulk = graft.sources.Versioned
        .readManifestsBulk(spark, resolved, vs)
      // operation = the commit's #op header line; versions committed
      // before operations were recorded surface "" (never a guess).
      // change_rows = the DML's recorded change-row count (the `#cdc
      // <dir> <n>` header): NULL when the version recorded nothing (an
      // append's inserts are lazy, a reorganization is neutral) — the
      // per-version impact column of the audit.
      val rows = vs.map { v =>
        val (segs, meta) = bulk(v)
        val changeRows: java.lang.Long = meta.collectFirst {
          case l if l.startsWith("#cdc ") && l != "#cdc neutral" &&
              l.stripPrefix("#cdc ").split(" ").length > 1 =>
            java.lang.Long.valueOf(
              l.stripPrefix("#cdc ").split(" ")(1))
        }.orNull
        Row(v,
          segs.length,
          v == vs.last,
          mtimes(v),
          meta.collectFirst { case l if l.startsWith("#op ") =>
            l.stripPrefix("#op ") }.getOrElse(""),
          changeRows)
      }
      GraftFrame.fromDF(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("n_segments", IntegerType, nullable = false),
          StructField("is_head", BooleanType, nullable = false),
          StructField("commit_ts", LongType, nullable = false),
          StructField("operation", org.apache.spark.sql.types.StringType,
            nullable = false),
          StructField("change_rows", LongType, nullable = true)))))
    case DescribeRe(quoted, bare) =>
      // table() may plan a VIEW body holding a scalar subquery — the
      // per-statement memo contract (see the default case) applies to
      // metadata statements too, or a value collected by an earlier
      // statement describes a stale snapshot
      scalarCache.clear()
      val ref = if (quoted != null) quoted else bare
      val df = table(ref).df
      import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
      val rows = df.schema.fields.toSeq.map(f =>
        // Locale.ROOT: 'BIGINT'.toLowerCase under tr-TR yields 'bıgınt'
        // (dotless i) — the ILIKE lowering trap, statement-side
        Row(f.name, f.dataType.sql.toLowerCase(java.util.Locale.ROOT),
          f.nullable))
      GraftFrame.fromDF(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(
          StructField("column_name", StringType, nullable = false),
          StructField("column_type", StringType, nullable = false),
          StructField("nullable", BooleanType, nullable = false)))))
    case CopyRe(body, target, fmtParen, fmtBare) =>
      scalarCache.clear()
      val df = evalCompound(SqlParser.parseCompound(body), Map.empty).df
      val fmt = Option(fmtParen).orElse(Option(fmtBare))
        .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse {
          if (target.endsWith(".jsonl") || target.endsWith(".ndjson")) "jsonl"
          else if (target.endsWith(".csv")) "csv"
          else if (target.endsWith(".avro")) "avro"
          else if (target.endsWith(".tfrecord")) "tfrecord"
          else "parquet"
        }
      // ONE execution of the body: write, then count the EXPORT (line
      // counts for the text formats, a columnless scan for parquet) —
      // a count() before the write would run the whole query twice and,
      // for a nondeterministic body, report rows from a different
      // execution than the one exported
      val n = fmt match {
        case "jsonl" | "json" | "ndjson" =>
          df.write.mode("overwrite").json(target)
          spark.read.text(target).count()
        case "csv" =>
          df.write.mode("overwrite").option("header", "true").csv(target)
          // a real CSV read-back (multiLine: embedded-newline fields are
          // quoted by the writer and span lines — a raw line count would
          // overcount them)
          spark.read.option("header", "true").option("multiLine", "true")
            .csv(target).count()
        case "parquet" =>
          df.write.mode("overwrite").parquet(target)
          spark.read.parquet(target).count()
        case "avro" =>
          // task-parallel OCF shards through the Avro core library
          // (graft.sources.Avro — local-FS shard files, one per task,
          // like the executor-side writers the ingest gates use);
          // count is the READ-BACK of the export, like the others
          val dir = new java.io.File(target)
          if (dir.exists())
            org.apache.commons.io.FileUtils.deleteDirectory(dir)
          dir.mkdirs()
          val schema = df.schema
          df.foreachPartition { it: Iterator[Row] =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            graft.sources.Avro.writeFile(
              new java.io.File(target, f"part-$pid%05d.avro"),
              schema, it, "deflate")
            ()
          }
          graft.sources.Avro.read(spark, s"$target/*.avro").count()
        case "tfrecord" =>
          // framed tf.Example shards (graft.sources.TfRecord): strings
          // -> bytes features, integral -> int64, floating -> float
          // (f32 — the format's only float width), arrays likewise;
          // NULL columns are ABSENT features (tf.Example convention).
          // Count via accumulator: an all-null row exports an EMPTY
          // Example, which a per-feature reader cannot see.
          val schema = df.schema
          try graft.sources.TfRecord.validateSchema(schema)
          catch { case e: IllegalArgumentException =>
            throw new SemanticError(s"COPY FORMAT tfrecord: ${e.getMessage}") }
          val dir = new java.io.File(target)
          if (dir.exists())
            org.apache.commons.io.FileUtils.deleteDirectory(dir)
          dir.mkdirs()
          val acc = spark.sparkContext.longAccumulator("copy_tfrecord_rows")
          df.foreachPartition { it: Iterator[Row] =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val exs = it.map { r =>
              acc.add(1L)
              graft.sources.TfRecord.rowExampleBytes(schema, r)
            }.toSeq
            val f = new java.io.File(target, f"part-$pid%05d.tfrecord")
            val out = new java.io.FileOutputStream(f)
            try out.write(graft.sources.TfRecord.tfRecordBytes(exs))
            finally out.close()
          }
          acc.value.longValue()
        case other => throw new SemanticError(
          s"Unknown COPY format '$other' — FORMAT jsonl, csv, parquet, " +
            "avro or tfrecord")
      }
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(n, target)),
        StructType(Seq(
          StructField("n_rows", LongType, nullable = false),
          StructField("path", StringType, nullable = false)))))
    case AnalyzeRe(quoted, bare) =>
      val ref = if (quoted != null) quoted else bare
      val resolved = Tables.resolve(ref, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError("ANALYZE builds data-skipping " +
          s"statistics for a Versioned dataset; '$ref' is not one")
      val (nSegs, nBuilt) =
        graft.sources.Versioned.analyzeStats(spark, resolved)
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(nSegs.toLong, nBuilt.toLong)),
        StructType(Seq(
          StructField("n_segments", LongType, nullable = false),
          StructField("n_built", LongType, nullable = false)))))

    case SummarizeFootersRe(quoted, bare) =>
      val ref = if (quoted != null) quoted else bare
      val resolved = Tables.resolve(ref, baseDir)
      if (!resolved.endsWith(".parquet") &&
          graft.sources.Versioned.versions(spark, resolved).nonEmpty)
        throw new SemanticError("SUMMARIZE FOOTERS reads a raw parquet " +
          "directory's footers; resolve a Versioned dataset's segments " +
          "explicitly (footers cannot see manifest membership)")
      import org.apache.spark.sql.{functions => F}
      // null-PROPAGATING aggregation: a file whose footer omitted a
      // statistic makes that statistic unknown for the whole table —
      // sum/min/max skip nulls, which would present a PARTIAL count or
      // bound as exact; guard each on "every file reported it"
      def allOrNull(c: String, agg: org.apache.spark.sql.Column) =
        F.when(F.count(F.col(c)) === F.count(F.lit(1)), agg).as(c)
      GraftFrame.fromDF(
        Tables.parquetFooterStats(spark, resolved)
          .groupBy(F.col("column").as("column_name"))
          .agg(F.sum("n_values").as("n_values"),
            allOrNull("n_nulls", F.sum("n_nulls")),
            allOrNull("min_val", F.min("min_val")),
            allOrNull("max_val", F.max("max_val"))))
    case SummarizeRe(quoted, bare) =>
      scalarCache.clear() // view bodies re-plan here too (see DESCRIBE)
      val df = table(if (quoted != null) quoted else bare).df
      import org.apache.spark.sql.{functions => F}
      import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType, StructField, StructType}
      // one aggregation pass: 4 statistics per column + the row count;
      // the single collected row is 4·ncols + 1 scalars — bounded by the
      // schema, never the data (the ivfCentroids bounded-collect rule)
      val fields = df.schema.fields.toSeq
      val aggs = fields.flatMap { f =>
        val c = df.col(f.name)
        // min/max only for scalar types: nested types either don't
        // order (maps) or stringify differently across engines; Spark
        // also rejects DISTINCT aggregation on map type outright, so
        // maps get NULL n_distinct rather than failing the statement
        val orderable = f.dataType match {
          case _: ArrayType | _: MapType | _: StructType => false
          case _ => true
        }
        val distinctable = !f.dataType.isInstanceOf[MapType]
        Seq(
          F.count(c),
          if (distinctable) F.count_distinct(c) else F.lit(null).cast("long"),
          if (orderable) F.min(c).cast("string")
          else F.lit(null).cast("string"),
          if (orderable) F.max(c).cast("string")
          else F.lit(null).cast("string"))
      } :+ F.count(F.lit(1))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val total = r.getLong(aggs.length - 1)
      val out = fields.zipWithIndex.map { case (f, i) =>
        Row(f.name, f.dataType.sql.toLowerCase(java.util.Locale.ROOT),
          r.getLong(4 * i), total - r.getLong(4 * i),
          if (r.isNullAt(4 * i + 1)) null else r.getLong(4 * i + 1),
          if (r.isNullAt(4 * i + 2)) null else r.getString(4 * i + 2),
          if (r.isNullAt(4 * i + 3)) null else r.getString(4 * i + 3))
      }
      GraftFrame.fromDF(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
        StructType(Seq(
          StructField("column_name", StringType, nullable = false),
          StructField("column_type", StringType, nullable = false),
          StructField("n_nonnull", LongType, nullable = false),
          StructField("n_null", LongType, nullable = false),
          StructField("n_distinct", LongType, nullable = true), // NULL for maps
          StructField("min_value", StringType, nullable = true),
          StructField("max_value", StringType, nullable = true)))))
    case ShowTablesRe() =>
      val dir = baseDir.getOrElse(throw new SemanticError(
        "SHOW TABLES needs an engine base directory (tables are files; " +
        "without a directory there is nothing to list)"))
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      // the Hadoop FS API, not java.io.File: FROM/Versioned resolve
      // tables through the Hadoop filesystem of the path's scheme, so a
      // non-local base directory must list the same catalog those paths
      // read — java.io.File would silently return an empty catalog there
      val basePath = new org.apache.hadoop.fs.Path(dir)
      val hfs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files =
        (if (hfs.exists(basePath)) hfs.listStatus(basePath).toSeq
         else Seq.empty)
        .map(_.getPath.getName)
        .flatMap { n =>
          // every FROM-by-extension format the resolver serves — the
          // catalog must list exactly what a bare-name FROM can read
          val fmt =
            if (n.endsWith(".parquet")) Some(n.stripSuffix(".parquet") -> "parquet")
            else if (n.endsWith(".bin")) Some(n -> "blockfile")
            else if (n.endsWith(".warc") || n.endsWith(".warc.gz")) Some(n -> "warc")
            else if (n.endsWith(".tar") || n.endsWith(".tar.gz") ||
                     n.endsWith(".tgz")) Some(n -> "tar")
            else if (n.endsWith(".zip")) Some(n -> "zip")
            else if (n.endsWith(".avro")) Some(n -> "avro")
            else if (n.endsWith(".tfrecord")) Some(n -> "tfrecord")
            else if (n.endsWith(".csv") || n.endsWith(".csv.gz")) Some(n -> "csv")
            else if (n.endsWith(".jsonl") || n.endsWith(".ndjson")) Some(n -> "jsonl")
            else None
          fmt
        }
        .sortBy(_._1)
        .map { case (name, fmt) => Row(name, fmt) } ++
        views.keys.toSeq.sorted.map(n => Row(n, "view"))
      GraftFrame.fromDF(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(files).asJava),
        StructType(Seq(
          StructField("table_name", StringType, nullable = false),
          StructField("format", StringType, nullable = false)))))
    case UpdateRe(vectored, target, setText, cond) =>
      scalarCache.clear()
      val resolved = Tables.resolve(target, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError(
          s"UPDATE requires a Versioned dataset at '$resolved' — " +
          "copy-on-write needs manifests; commit through Versioned first")
      val assigns = SqlParser.parseSetAssignments(setText)
      val where = SqlParser
        .parseCompound(s"SELECT * FROM t WHERE $cond").head.where
        .getOrElse(throw new SemanticError("UPDATE needs a predicate"))
      (where +: assigns.map(_._2)).foreach { c =>
        if (collectScalarSubs(c).nonEmpty || containsInSubquery(c))
          throw new SemanticError(
            "UPDATE expressions cannot contain subqueries")
      }
      // resolve the head version ONCE (detection read, segment list and
      // rewrite all describe the same snapshot; a concurrent commit
      // fails the final rename loudly instead of desynchronizing them)
      val hv = graft.sources.Versioned.headVersion(spark, resolved)
      val head = graft.sources.Versioned.read(spark, resolved, Some(hv))
      // same reserved-name guard as MERGE: the rewrite appends
      // provenance columns to the scan, so a colliding user column
      // would fail deep inside with an ambiguous-reference error
      (graft.sources.Versioned.ReservedProvenanceCols ++
          graft.sources.Versioned.CdcReservedCols).foreach { c =>
        if (head.columns.contains(c))
          throw new SemanticError(s"UPDATE: reserved column name '$c'")
      }
      assigns.foreach { case (n, _) =>
        if (!head.columns.contains(n)) throw new SemanticError(
          s"UPDATE SET references unknown column '$n'")
      }
      import org.apache.spark.sql.{functions => F}
      // standard UPDATE row-match semantics: only predicate-TRUE rows
      // change; a NULL predicate leaves the row as-is — which the RAW
      // predicate already gives both consumers (Filter keeps TRUE only;
      // when() sends NULL to otherwise), and the bare comparison shape
      // is what parquet pushdown + row-group pruning consume: wrapping
      // it in coalesce(.., false) forced the detection pass into a
      // full-table scan
      val pred = where.compile(head.schema)
      if (vectored != null) {
        // MERGE-ON-READ update: vector the matched positions, append
        // one fresh segment of updated copies — write cost ∝ matched
        // rows, every existing segment carries byte-identical
        val sets = assigns.map { case (n, rhs) =>
          n -> rhs.compile(head.schema)
        }
        val (v, nUpd) =
          try graft.sources.Versioned.updateWhereVectored(
            spark, resolved, pred, sets)
          catch { case e: IllegalArgumentException =>
            throw new SemanticError(e.getMessage) }
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        return GraftFrame.fromDF(spark.createDataFrame(
          java.util.List.of(Row(v, nUpd)),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("n_updated", LongType, nullable = false)))))
      }
      // SEGMENT-PRUNED copy-on-write: one detection pass (predicate
      // pushed into the scan) finds which segments hold matched rows
      // and how many — the per-segment collect is bounded by the
      // manifest length. Only those segments rewrite; untouched ones
      // carry into the new manifest by reference. A selective UPDATE
      // on a 100 TB corpus costs the matched segments, not the table.
      val segsAll =
        graft.sources.Versioned.headSegments(spark, resolved, Some(hv))
      // ONE detection scan, staged: per-segment counts, the status
      // row, and the change-feed pre/postimages all read the
      // matched-row-sized staging file, never the table again
      val detection = graft.sources.Versioned
        .readWithProvenance(spark, resolved, Some(hv)).filter(pred)
      // the predicate is evaluated TWICE on this path (detection scan,
      // then F.when(pred, ...) in the rewrite) — the same double-eval
      // hazard deleteWhere guards against: a nondeterministic predicate
      // (rand()) would silently under-update rows the detection pass
      // didn't flag. Reject loudly, same analyzed-Filter check.
      detection.queryExecution.analyzed.foreach {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          if (!f.condition.deterministic) throw new SemanticError(
            "UPDATE predicates must be deterministic (the predicate is " +
              "evaluated once to find affected segments and again to " +
              s"rewrite them): ${f.condition.sql}")
        case _ => ()
      }
      val (stagingDir, staged, _) =
        graft.sources.Versioned.stageMatched(detection, resolved)
      val (v, nUpdated) = try {
        val perSeg = staged
          .groupBy("__seg").agg(F.count(F.lit(1)).as("c"))
          .collect()
        val nUpd = perSeg.map(_.getLong(1)).sum
        val affected = perSeg.map(_.getString(0)).toSet
        val dvMap = graft.sources.Versioned.readDvMap(spark, resolved, hv)
        val v0 =
          if (affected.isEmpty)
            graft.sources.Versioned.commitSegments(spark, resolved, segsAll,
              dvMap, expectedBase = Some(hv), op = "update")
          else {
            val updated = graft.sources.Versioned
              .readSegmentsAligned(spark, resolved,
                segsAll.filter(affected), head.schema, dvMap)
              .select(head.schema.fields.map { f =>
                assigns.find(_._1 == f.name) match {
                  case Some((_, rhs)) =>
                    // cast to the column's committed type: schema
                    // stability across versions is the dataset's contract
                    F.when(pred, rhs.compile(head.schema).cast(f.dataType))
                      .otherwise(F.col(f.name)).as(f.name)
                  case None => F.col(f.name)
                }
              }.toSeq: _*)
            // writeSegment directly, not writeSegmentIfNonEmpty: an
            // UPDATE never removes rows, and every affected segment
            // holds at least one LIVE matched row (detection read
            // dv-applied provenance), so `updated` cannot be empty —
            // the emptiness probe would be a wasted second scan of the
            // affected segments
            val fresh = Some(graft.sources.Versioned
              .writeSegment(updated, resolved))
            val post = staged.select(head.schema.fields.map { f =>
              assigns.find(_._1 == f.name) match {
                case Some((_, rhs)) =>
                  rhs.compile(head.schema).cast(f.dataType).as(f.name)
                case None => F.col(f.name)
              }
            }.toSeq: _*)
            val cdc = graft.sources.Versioned
              .cdcTag(staged, "update_preimage")
              .unionByName(graft.sources.Versioned
                .cdcTag(post, "update_postimage"))
            graft.sources.Versioned.commitPruned(spark, resolved,
              segsAll.filterNot(affected), fresh, head.schema, dvMap,
              cdc = graft.sources.Versioned.CdcRows(cdc),
              expectedBase = Some(hv), op = "update")
          }
        (v0, nUpd)
      } finally {
        new org.apache.hadoop.fs.Path(stagingDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(stagingDir), true): Unit
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(v, nUpdated)),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("n_updated", LongType, nullable = false)))))
    case MergeRe(target, taliasOpt, rest) =>
      scalarCache.clear()
      import org.apache.spark.sql.{functions => F}
      val resolved = Tables.resolve(target, baseDir)
      if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
        throw new SemanticError(
          s"MERGE requires a Versioned dataset at '$resolved' — " +
          "copy-on-write needs manifests; commit through Versioned first")
      // statement split: WHEN clauses off the tail, then the LAST
      // ` ON ` inside the head separates USING source from condition
      val whenStart = MergeWhenSplit.findFirstMatchIn(rest).map(_.start)
        .getOrElse(throw new SemanticError(
          "MERGE needs at least one WHEN [NOT] MATCHED clause"))
      val headText = rest.take(whenStart)
      val whenText = rest.drop(whenStart).trim
      val onMatches = MergeOnSplit.findAllMatchIn(headText).toSeq
      if (onMatches.isEmpty) throw new SemanticError(
        "MERGE needs `USING <source> ON <condition>`")
      val usingText = headText.take(onMatches.last.start).trim
      val condText = headText.drop(onMatches.last.end).trim
      // WHEN clauses: split at each WHEN boundary, classify each
      val whenStarts = MergeWhenSplit.findAllMatchIn(whenText)
        .map(_.start).toSeq
      val clauses = whenStarts.zipAll(whenStarts.drop(1), 0, whenText.length)
        .map { case (a, b) => whenText.substring(a, b).trim }
      // clause list: any number of WHEN MATCHED [AND cond] clauses
      // (first-match-wins per matched row, specification order — the
      // standard semantics), at most one WHEN NOT MATCHED [AND cond]
      val matchedClauses =
        scala.collection.mutable.ArrayBuffer.empty[MergeMatched]
      var insertStar = false
      var insertCols: Option[(Seq[String], Seq[String])] = None
      var insertCond: Option[String] = None
      clauses.foreach { clause =>
        val (isNot, rest) = clause match {
          case MergeClauseHead(notKw, r) => (notKw != null, r)
          case other => throw new SemanticError(
            s"MERGE: cannot parse WHEN clause '$other'")
        }
        // optional `AND <cond>` before THEN — the condition may itself
        // hold parens, strings and CASE...END, so the THEN that ends it
        // is found by a top-level scan, not a regex
        val (cond, action) =
          if (rest.take(4).equalsIgnoreCase("THEN"))
            (None, rest.drop(4).trim)
          else if (rest.take(3).equalsIgnoreCase("AND")) {
            val afterAnd = rest.drop(3)
            val at = findTopLevelThen(afterAnd)
            if (at < 0) throw new SemanticError(
              s"MERGE: WHEN clause condition has no THEN: '$clause'")
            (Some(afterAnd.take(at).trim), afterAnd.drop(at + 4).trim)
          } else throw new SemanticError(
            s"MERGE: expected AND <condition> or THEN after " +
              s"${if (isNot) "NOT MATCHED" else "MATCHED"}: '$clause'")
        (isNot, action) match {
          case (false, MergeActUpdate(setText)) =>
            matchedClauses += MergeUpd(cond, parseMergeAssigns(setText))
          case (false, MergeActDelete()) =>
            matchedClauses += MergeDel(cond)
          case (true, MergeActInsertStar()) =>
            if (insertStar || insertCols.nonEmpty) throw new SemanticError(
              "MERGE supports at most one WHEN NOT MATCHED clause")
            insertStar = true; insertCond = cond
          case (true, MergeActInsertCols(cols, vals)) =>
            if (insertStar || insertCols.nonEmpty) throw new SemanticError(
              "MERGE supports at most one WHEN NOT MATCHED clause")
            insertCols = Some((
              cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
              splitTopLevel(vals, ',')))
            insertCond = cond
          case _ => throw new SemanticError(
            s"MERGE: unsupported WHEN clause '$clause' — expected WHEN " +
            "MATCHED [AND cond] THEN UPDATE SET ... / DELETE, or WHEN " +
            "NOT MATCHED [AND cond] THEN INSERT * / INSERT (cols) " +
            "VALUES (exprs)")
        }
      }
      // reachability: only the LAST matched clause may be unconditioned
      // (an earlier catch-all would shadow everything after it)
      matchedClauses.dropRight(1).zipWithIndex.foreach { case (cl, i) =>
        val c = cl match {
          case MergeUpd(c0, _) => c0
          case MergeDel(c0) => c0
        }
        if (c.isEmpty) throw new SemanticError(
          s"MERGE: WHEN MATCHED clause ${i + 1} has no AND condition " +
            "but is not last — later matched clauses are unreachable")
      }
      // source frame + aliases (+ the raw table ref when the source is
      // a table path — the small-source fast path prices it from
      // footers below; views and subqueries price as unknown)
      // footprint probed BEFORE the source frame is built (round 18,
      // apply-floor work): a provably-small plain-parquet source reads
      // with the footer's own recorded Spark schema — KB metadata
      // already in hand — so the fast path's collect below is the
      // FIRST job that touches it (spark.read.parquet without a schema
      // pays a per-statement schema-inference job first)
      // injected sources (the CDC apply's pre-collected net frame)
      // resolve FIRST: rows + schema are already driver-resident, so
      // the probe is free and the fast path's "collect" is a no-op
      val srcInjected: Option[(Array[Row],
          org.apache.spark.sql.types.StructType)] =
        usingText match {
          case MergeUsingBare(n, _) => injectedSrcs.get(n)
          case _ => None
        }
      val srcProbe: Option[(Long, Long,
          Option[org.apache.spark.sql.types.StructType])] =
        srcInjected match {
          case Some((rows, sch)) => Some((rows.length.toLong, 0L, Some(sch)))
          case None => usingText match {
            case MergeUsingQuoted(p, _) =>
              plainParquetFootprint(graft.sources.Tables.resolve(p, baseDir))
            case MergeUsingBare(n, _) if !views.contains(n) =>
              plainParquetFootprint(graft.sources.Tables.resolve(n, baseDir))
            case _ => None
          }
        }
      val srcSmall = srcProbe.exists(_._1 <= Engine.MergeSmallSourceRows)
      def srcTable(ref: String): GraftFrame = srcInjected match {
        case Some((rows, sch)) => GraftFrame.fromDF(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), sch))
        case None => srcProbe match {
          case Some((_, _, Some(sch))) if srcSmall =>
            GraftFrame.fromDF(spark.read.schema(sch)
              .parquet(graft.sources.Tables.resolve(ref, baseDir)))
          case _ => table(ref)
        }
      }
      val (srcFrame, saliasRaw, srcRefOpt) = usingText match {
        case MergeUsingSub(sub, a) =>
          (evalCompound(SqlParser.parseCompound(sub), Map.empty),
            Option(a), None)
        case MergeUsingQuoted(p, a) => (srcTable(p), Option(a), Some(p))
        case MergeUsingBare(n, a) =>
          (srcTable(n), Option(a).orElse(Some(n)), Some(n))
        case other => throw new SemanticError(
          s"MERGE: cannot parse USING source '$other'")
      }
      val tName = "__merge_target"; val sName = "__merge_source"
      val talias = Option(taliasOpt).getOrElse(tName)
      val salias = saliasRaw.getOrElse(sName)
      if (talias == salias) throw new SemanticError(
        s"MERGE: target and source aliases collide ('$talias')")
      // SMALL-SOURCE statements run with AQE pinned off (round 18,
      // apply-floor work): the match join and insert anti-join already
      // broadcast the LocalRelation source, the target scan is already
      // bounds-pruned at the manifest, and the rewrite is one segment
      // — there is nothing for runtime re-planning to improve, while
      // AQE materializes every exchange as its own stage-job (~5 extra
      // scheduler floors per statement at the CDC apply's volume). A
      // big MERGE keeps AQE (skew joins, coalescing matter there).
      // leafNodeDefaultParallelism=1 rides along so the statement's
      // driver-built LocalRelations broadcast without a scheduler job
      // (see [[Engine.withSmallStmtConfs]]).
      withSmallStmtConfs(srcSmall) {
      // resolve the head version ONCE for the whole statement (the
      // UPDATE/DELETE rule): match join, segment list and rewrite all
      // describe the same snapshot
      val hv = graft.sources.Versioned.headVersion(spark, resolved)
      val head = graft.sources.Versioned.read(spark, resolved, Some(hv))
      (graft.sources.Versioned.ReservedProvenanceCols ++
          graft.sources.Versioned.CdcReservedCols ++
          Seq("__srid", "__trow")).foreach { c =>
        if (head.columns.contains(c) || srcFrame.df.columns.contains(c))
          throw new SemanticError(s"MERGE: reserved column name '$c'")
      }
      // TARGET row identity is storage-level: parquet `_metadata`
      // file-path/row-index provenance — deterministic across jobs with
      // ZERO materialization (no full-table checkpoint) — plus the
      // owning segment name, which is what makes the rewrite
      // SEGMENT-PRUNED below. The SOURCE can be an arbitrary subquery,
      // so it pins synthetic ids with a checkpoint — bounded by the
      // source's size, never the target's. SMALL-SOURCE FAST PATH (the
      // CDC replication apply's shape): when a plain-parquet USING
      // source is provably tiny from its footers alone (KB metadata
      // reads, no job), collect it ONCE into a LocalRelation with
      // driver-assigned ids instead — determinism for free, and (the
      // real win) accurate size stats, so the match join and the
      // insert anti-join BROADCAST the source instead of shuffling
      // both sides; a checkpointed RDD reports unknown stats and
      // forces shuffle joins however small it is.
      val tDf =
        graft.sources.Versioned.readWithProvenance(spark, resolved, Some(hv))
      val srcRows: Option[Array[Row]] =
        if (!srcSmall) None
        else {
          // injected sources skip even the collect — their rows are
          // already on the driver (LocalTableScan collect would be
          // driver-side anyway, but this keeps it allocation-free)
          val rows = srcInjected.map(_._1).getOrElse(srcFrame.df.collect())
          Some(rows.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq :+ i.toLong) })
        }
      val sDf = srcRows match {
        // a BARE LocalRelation, not coalesce(1)-wrapped: under
        // withSmallStmtConfs the leaf executes single-task anyway, where
        // the Coalesce wrapper forced a 1-task job per broadcast build
        case Some(data) => spark.createDataFrame(java.util.Arrays.asList(
          data: _*), srcFrame.df.schema.add("__srid",
            org.apache.spark.sql.types.LongType, nullable = false))
        case None => srcFrame.df
          .withColumn("__srid", F.monotonically_increasing_id())
          .localCheckpoint(true)
      }
      // the target row rides the match query as ONE struct column, so
      // the dialect never has to name (or quote) the target's columns;
      // an insert-only MERGE needs only the matched source ids
      val tScoped =
        if (matchedClauses.isEmpty) tDf
        else tDf.withColumn("__trow",
          F.struct(head.schema.fieldNames.toSeq.map(F.col): _*))
      val scope = Map(tName -> GraftFrame.fromDF(tScoped),
        sName -> GraftFrame.fromDF(sDf))
      // validate every clause's SET column names against the target
      matchedClauses.foreach {
        case MergeUpd(_, as) => as.foreach { case (n, _) =>
          if (!head.columns.contains(n)) throw new SemanticError(
            s"MERGE SET references unknown target column '$n'")
        }
        case MergeDel(_) => ()
      }
      // one internal dialect query joins the aliased frames on the
      // user's condition and projects the matched TARGET ROW (its
      // columns and provenance) + the source row id + per-clause
      // condition flags + SET values — everything the rewrite and the
      // change rows need, so neither re-reads and re-joins the target.
      // Its parsed expressions are then checked for subqueries (same
      // rule as UPDATE/DELETE — no defined evaluation scope for them
      // here). A clause with no AND condition projects a literal TRUE
      // flag (0 = 0).
      val clauseCondSql = matchedClauses.zipWithIndex.map { case (cl, i) =>
        val c = cl match {
          case MergeUpd(c0, _) => c0
          case MergeDel(c0) => c0
        }
        s", (${c.getOrElse("0 = 0")}) AS __m_$i"
      }.mkString
      val setSql = matchedClauses.zipWithIndex.collect {
        case (MergeUpd(_, as), i) =>
          as.zipWithIndex.map { case ((_, rhs), j) =>
            s", ($rhs) AS __set_${i}_$j" }.mkString
      }.mkString
      val matchedSql =
        "SELECT " +
          (if (matchedClauses.isEmpty) "" else s"$talias.__trow AS __trow, ") +
          s"$talias.__file AS __file, " +
          s"$talias.__pos AS __pos, " +
          s"$talias.__seg AS __seg, $salias.__srid AS __srid" +
          clauseCondSql + setSql +
          s" FROM $tName $talias JOIN $sName $salias ON $condText"
      val matchedCq = SqlParser.parseCompound(matchedSql)
      (matchedCq.head.joins.map(_.on) ++
        matchedCq.head.select.map(_.expr)).foreach { c =>
        if (collectScalarSubs(c).nonEmpty || containsInSubquery(c))
          throw new SemanticError(
            "MERGE expressions cannot contain subqueries")
      }
      // pairs = matched target rows + flags + SET values — this
      // checkpoint pins a frame bounded by the match count, never the
      // target's size (the round-9 verdict's MERGE-profile fix).
      // __win = index of the FIRST clause whose condition holds for the
      // row (first-match-wins; NULL = matched but no clause fired:
      // the row stays as-is AND stays excluded from the insert side,
      // the standard semantics)
      val winCol = matchedClauses.indices.foldRight(
        F.lit(null).cast("int")) { (i, acc) =>
        F.when(F.col(s"__m_$i"), F.lit(i)).otherwise(acc)
      }
      // manifest metadata for the rewrite — driver-side, KB-sized
      val segsAll =
        graft.sources.Versioned.headSegments(spark, resolved, Some(hv))
      val dvMap = graft.sources.Versioned.readDvMap(spark, resolved, hv)
      // the checkpoint's row count rides the SAME job via observe() —
      // zero extra actions — and a small match set (the common DML /
      // replication-apply case) is then collected into a LocalRelation:
      // the byWin rollup below becomes driver-side Scala, the fired
      // positions become an in-scan filter of the rewrite, and the
      // insert side needs no shuffle
      val pairsObs = new org.apache.spark.sql.Observation()
      val (pairsCkpt, pairsLocal) =
        Engine.withJobDescription(spark, "MERGE: match scan") {
          val m = evalCompound(matchedCq, scope).df
          val p = (if (matchedClauses.isEmpty) m
              else m.select(F.col("__trow.*") +: m.columns.toSeq
                .filter(_ != "__trow").map(F.col): _*))
            .withColumn("__win", winCol)
            .observe(pairsObs, F.count(F.lit(1)).as("n"))
            .localCheckpoint(true)
          val nPairs: Option[Long] =
            try Some(scala.concurrent.Await
              .result(pairsObs.future,
                scala.concurrent.duration.Duration("30s")).getLong(0))
            catch { case _: java.util.concurrent.TimeoutException => None }
          (p, if (nPairs.exists(_ <= Engine.smallMatchRowCap(p.schema)))
            Some(p.collect()) else None)
        }
      val pairs: org.apache.spark.sql.DataFrame = pairsLocal match {
        // a bare LocalRelation, like sDf
        case Some(rows) => spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), pairsCkpt.schema)
        case None => pairsCkpt
      }
      // per-clause-kind action counts; bounded by the match count
      val updIdxs = matchedClauses.zipWithIndex.collect {
        case (MergeUpd(_, _), i) => i }
      val delIdxs = matchedClauses.zipWithIndex.collect {
        case (MergeDel(_), i) => i }
      // ONE rollup over the (match-count-bounded, checkpointed) pairs
      // yields BOTH the standard cardinality check (a target row
      // matching two source rows has no defined UPDATE/DELETE result —
      // fail loudly, never pick one; insert-only merges are exempt,
      // matching Delta/Postgres) AND the per-clause action counts +
      // affected-segment set: first a per-target-row rollup (max
      // multiplicity is the cardinality witness), then the
      // per-winning-clause rollup over it.
      // rollup shape either way: (winning clause index or None,
      // target-row count, max per-target-row multiplicity, segments)
      val winStats: Seq[(Option[Int], Long, Long, Set[String])] =
        if (matchedClauses.isEmpty) Seq.empty
        else pairsLocal match {
          case Some(rows) =>
            // driver-side mirror of the distributed rollup below —
            // bounded by the observed match count, no extra jobs
            val sch = pairsCkpt.schema
            val (fi, pi, gi, wi) = (sch.fieldIndex("__file"),
              sch.fieldIndex("__pos"), sch.fieldIndex("__seg"),
              sch.fieldIndex("__win"))
            rows.toSeq
              .groupBy(r => (r.getString(fi), r.getLong(pi))).values
              .map { g =>
                val h = g.head
                (if (h.isNullAt(wi)) None else Some(h.getInt(wi)),
                  g.length.toLong, h.getString(gi))
              }.toSeq
              .groupBy(_._1).map { case (w, gs) =>
                (w, gs.length.toLong, gs.map(_._2).max,
                  gs.map(_._3).toSet)
              }.toSeq
          case None => pairsCkpt
            .groupBy("__file", "__pos")
            .agg(F.count(F.lit(1)).as("__c"),
              F.first(F.col("__win")).as("__win"),
              F.first(F.col("__seg")).as("__seg"))
            .groupBy("__win").agg(F.count(F.lit(1)).as("c"),
              F.max(F.col("__c")).as("maxc"),
              F.collect_set(F.col("__seg")).as("segs"))
            .collect().toSeq.map(r =>
              (if (r.isNullAt(0)) None else Some(r.getInt(0)),
                r.getAs[Long]("c"), r.getAs[Long]("maxc"),
                r.getSeq[String](3).toSet))
        }
      if (winStats.exists(_._3 > 1L))
        throw new SemanticError("MERGE: a target row matches more than " +
          "one source row — the ON condition must match at most one")
      // NULL __win = matched rows where no clause fired (they stay
      // as-is): counted for cardinality above, excluded from actions
      val firedStats = winStats.filter(_._1.isDefined)
      val byWin = firedStats.map(s => s._1.get -> s._2).toMap
      val (nUpdated, nDeleted) =
        (updIdxs.map(i => byWin.getOrElse(i, 0L)).sum,
          delIdxs.map(i => byWin.getOrElse(i, 0L)).sum)
      // SEGMENT PRUNING: only the segments holding rows a clause FIRED
      // on are rewritten (a matched row whose conditions all failed
      // rewrites nothing); untouched segments carry into the new
      // manifest by reference, files byte-identical. An insert-only
      // MERGE rewrites nothing at all: at 100 TB a one-row upsert costs
      // one segment (plus the match join), not a full-table copy.
      val affected: Set[String] = firedStats.flatMap(_._4).toSet
      // per-clause CASE projection on the winning index — what turns a
      // fired UPDATE pair into its postimage, for the fresh segment
      // and the change rows alike
      val updatedCols: Seq[org.apache.spark.sql.Column] =
        head.schema.fields.toSeq.map { f =>
          val updsOnField = matchedClauses.zipWithIndex.collect {
            case (MergeUpd(_, as), i) if as.exists(_._1 == f.name) =>
              (i, as.indexWhere(_._1 == f.name))
          }
          if (updsOnField.isEmpty) F.col(f.name)
          else updsOnField.foldRight(
            F.col(f.name): org.apache.spark.sql.Column) {
            case ((ci, aj), acc) =>
              // cast to the committed type: schema stability across
              // versions is the dataset's contract (the UPDATE rule)
              F.when(F.col("__win") === ci,
                  F.col(s"__set_${ci}_$aj").cast(f.dataType))
                .otherwise(acc)
          }.as(f.name)
        }
      val headCols = head.schema.fieldNames.toSeq.map(F.col)
      // ONE-PASS REWRITE of the affected segments: their rows read
      // through the deletion-vector filter with the FIRED positions
      // added to it (the rows no clause touched come through as they
      // are), plus the UPDATE postimages straight from the pairs.
      // DELETE-won rows are simply absent. No re-join of the pairs to
      // the target, nothing persisted. A match set over the collect
      // cap excludes its fired positions with the shuffled anti join
      // the over-cap vectors use.
      val fired = pairs.filter(F.col("__win").isNotNull)
      val kept: Option[org.apache.spark.sql.DataFrame] =
        if (affected.isEmpty) None
        else Some((pairsLocal match {
          case Some(rows) =>
            val (fi, pi, wi) = (pairsCkpt.schema.fieldIndex("__file"),
              pairsCkpt.schema.fieldIndex("__pos"),
              pairsCkpt.schema.fieldIndex("__win"))
            graft.sources.Versioned.readSegmentsAligned(spark, resolved,
              segsAll.filter(affected), head.schema, dvMap,
              excluded = graft.functions.DeletedPositions.of(
                rows.iterator.filterNot(_.isNullAt(wi))
                  .map(r => (r.getString(fi), r.getLong(pi)))))
          case None =>
            graft.sources.DeletionVectors.antiJoin(
              graft.sources.Versioned.readSegmentsAligned(spark, resolved,
                segsAll.filter(affected), head.schema, dvMap),
              fired)
        }).select(headCols: _*))
      val postimages: Option[org.apache.spark.sql.DataFrame] =
        if (affected.isEmpty || updIdxs.isEmpty) None
        else Some(fired.filter(F.col("__win").isInCollection(updIdxs))
          .select(updatedCols: _*))
      // the source rows no pair matched: with the source and the pairs
      // both on the driver, a driver-side filter (no anti join, so no
      // broadcast job in the rewrite or the change rows); else the
      // anti join. WHEN NOT MATCHED [AND cond] then filters them — the
      // condition compiles against the SOURCE alias only (there is no
      // target row to reference — standard restriction)
      val unmatched: org.apache.spark.sql.DataFrame =
        (srcRows, pairsLocal) match {
          case (Some(data), Some(rows)) =>
            val si = pairsCkpt.schema.fieldIndex("__srid")
            val hit = rows.iterator.map(_.getLong(si)).toSet
            spark.createDataFrame(java.util.Arrays.asList(
              data.filterNot(r => hit(r.getLong(r.length - 1))): _*),
              sDf.schema)
          case _ => sDf.join(pairs.select("__srid"), Seq("__srid"), "left_anti")
        }
      val insertSrc = insertCond.fold(unmatched) { c =>
        val keepCq = SqlParser.parseCompound(
          s"SELECT * FROM $sName $salias WHERE $c")
        keepCq.head.where.foreach { e =>
          if (collectScalarSubs(e).nonEmpty || containsInSubquery(e))
            throw new SemanticError(
              "MERGE expressions cannot contain subqueries")
        }
        evalCompound(keepCq, Map(sName -> GraftFrame.fromDF(unmatched))).df
      }
      val inserts: Option[org.apache.spark.sql.DataFrame] =
        if (insertStar) {
          head.columns.foreach { c =>
            if (!sDf.columns.contains(c)) throw new SemanticError(
              s"MERGE INSERT *: source lacks target column '$c' — use " +
              "INSERT (cols) VALUES (exprs) to map explicitly")
          }
          Some(insertSrc.select(head.schema.fields.map(f =>
            F.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
        } else insertCols.map { case (cols, vals) =>
          if (cols.length != vals.length) throw new SemanticError(
            s"MERGE INSERT: ${cols.length} columns but ${vals.length} values")
          cols.foreach { c =>
            if (!head.columns.contains(c)) throw new SemanticError(
              s"MERGE INSERT references unknown target column '$c'")
          }
          // VALUES expressions compile against the SOURCE alias; the
          // unlisted target columns fill with explicit NULLs (the
          // column-list INSERT rule)
          val insSql = s"SELECT $salias.__srid AS __srid" +
            vals.zip(cols).map { case (v, c) => s", ($v) AS __ins_$c" }
              .mkString + s" FROM $sName $salias"
          val insCq = SqlParser.parseCompound(insSql)
          insCq.head.select.map(_.expr).foreach { c =>
            if (collectScalarSubs(c).nonEmpty || containsInSubquery(c))
              throw new SemanticError(
                "MERGE expressions cannot contain subqueries")
          }
          evalCompound(insCq, Map(sName -> GraftFrame.fromDF(insertSrc))).df
            .select(head.schema.fields.map { f =>
              if (cols.contains(f.name))
                F.col(s"__ins_${f.name}").cast(f.dataType).as(f.name)
              else F.lit(null).cast(f.dataType).as(f.name)
            }.toSeq: _*)
        }
      // survivor count is KNOWN from metadata alone: live rows of the
      // affected segments (footer totals − dv header counts, KB-sized
      // reads) minus the rows a DELETE clause won — when positive the
      // fresh union below is provably non-empty and the write skips
      // writeSegmentIfNonEmpty's take(1) probe, a second scan just to
      // learn what the footers already say. Also reused for the
      // nInserted status row below.
      val liveAffected: Long =
        if (affected.isEmpty) 0L
        else {
          val totals = graft.sources.Versioned
            .footerRowCountBySeg(spark, resolved, affected.toSeq)
            .valuesIterator.sum
          val dvDel = graft.sources.Versioned.dvCounts(spark, resolved,
            dvMap.collect { case (s, d) if affected(s) => d }.toSeq)
            .valuesIterator.sum
          totals - dvDel
        }
      val survivorsNonEmpty = liveAffected - nDeleted > 0
      // new version = untouched segments carried by reference + one
      // fresh segment holding the affected segments' kept rows, the
      // postimages and the inserted rows, written in ONE job
      val fresh = Engine.withJobDescription(spark, "MERGE: rewrite") {
        (kept.toSeq ++ postimages.toSeq ++ inserts.toSeq)
          .reduceOption(_ unionAll _)
          .flatMap { df =>
            if (survivorsNonEmpty)
              Some(graft.sources.Versioned.writeSegment(df, resolved))
            else graft.sources.Versioned.writeSegmentIfNonEmpty(df, resolved)
          }
      }
      // nInserted DERIVED from metadata, not a second execution of the
      // source anti-join (`inserts.count()` re-ran a source-sized plan
      // just for the status row — at a 100 TB-source backfill upsert
      // that is a full second pass): fresh-segment rows (sidecar/footer)
      // minus the survivor rows of the affected segments, where
      // survivors = live rows (footer totals − dv header counts) − rows
      // won by DELETE clauses. All exact, all KB-sized reads.
      val nInserted: Long =
        if (inserts.isEmpty) 0L
        else {
          val freshRows = fresh.fold(0L)(s =>
            graft.sources.Versioned.segmentRowCount(spark, resolved, s))
          freshRows - (liveAffected - nDeleted)
        }
      // change-feed rows, per fired clause kind, from the same pairs.
      // An insert-only MERGE records nothing: its fresh segment holds
      // ONLY inserts, which the feed synthesizes lazily from the
      // segment delta (CdcNone).
      val cdcSpec: graft.sources.Versioned.CdcSpec =
        if (affected.isEmpty) graft.sources.Versioned.CdcNone
        else {
          // ONE pass over the fired pairs for every row-derived image
          // kind: each fired row emits its change rows as an exploded
          // array of structs — [preimage, postimage] for update wins,
          // [delete] for delete wins. Row order within the files is
          // unspecified, which no feed consumer observes (the
          // net-effect apply orders by _commit_version/_change_type,
          // the oracle compares row sets).
          def tagged(cols: Seq[org.apache.spark.sql.Column], tag: String) =
            F.struct((cols :+
              F.lit(tag).as("_change_type")): _*)
          val origCols = head.schema.fieldNames.toSeq
            .map(n => F.col(n).as(n))
          val pre = tagged(origCols, "update_preimage")
          val post = tagged(updatedCols, "update_postimage")
          val del = tagged(origCols, "delete")
          val arr =
            if (delIdxs.isEmpty) F.array(pre, post)
            else if (updIdxs.isEmpty) F.array(del)
            else F.when(F.col("__win").isInCollection(updIdxs),
                F.array(pre, post))
              .otherwise(F.array(del))
          val rowImages = fired
            .select(F.explode(arr).as("__c"))
            .select("__c.*")
          val parts = Seq(rowImages) ++
            inserts.map(i => graft.sources.Versioned.cdcTag(i, "insert"))
          graft.sources.Versioned.CdcRows(
            parts.reduce(_.unionByName(_)))
        }
      val v = Engine.withJobDescription(spark, "MERGE: change rows") {
        graft.sources.Versioned.commitPruned(spark, resolved,
          segsAll.filterNot(affected), fresh, head.schema, dvMap,
          cdc = cdcSpec, expectedBase = Some(hv), op = "merge")
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        java.util.List.of(Row(v, nUpdated, nDeleted, nInserted)),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("n_updated", LongType, nullable = false),
          StructField("n_deleted", LongType, nullable = false),
          StructField("n_inserted", LongType, nullable = false)))))
      } // withAqeOff(srcSmall)

    case InsertRe(quoted, bare, colList, body) =>
      scalarCache.clear()
      // Tables.resolve is THE shared rule (its scaladoc: writers must
      // land where a subsequent FROM of the same reference reads) — a
      // hand-built '<base>/<bare>.parquet' here would resolve a bare
      // 't.bin' differently from FROM/DESCRIBE
      val target = if (quoted != null) quoted else {
        if (baseDir.isEmpty) throw new SemanticError(
          "INSERT INTO with a bare name needs an engine base " +
          "directory; use a quoted target path instead")
        bare
      }
      val resolved = Tables.resolve(target, baseDir)
      if (resolved.endsWith(".parquet"))
        throw new SemanticError(
          "INSERT INTO a raw parquet path has no atomic append (a " +
          "concurrent reader could observe half the new files); use an " +
          "extension-less target for a Versioned dataset, a '.bin' " +
          "target for BlockFile append, or CREATE TABLE to republish")
      val isBin = resolved.endsWith(".bin")
      // the existing target's schema, when there is one — VALUES rows
      // need it for names; SELECT bodies align to it positionally
      val targetSchema: Option[org.apache.spark.sql.types.StructType] =
        if (isBin) {
          val f = new java.io.File(resolved)
          if (f.exists()) Some(Tables.blockFileRead(spark, resolved).schema)
          else None
        } else if (graft.sources.Versioned.versions(spark, resolved).nonEmpty)
          Some(graft.sources.Versioned.read(spark, resolved, None).schema)
        else None
      // optional explicit column list: `INSERT INTO t (a, b) ...`
      val cols: Option[Seq[String]] =
        Option(colList).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      cols.foreach { cs =>
        if (cs.distinct.length != cs.length) throw new SemanticError(
          s"INSERT column list names a column twice: ${cs.mkString(", ")}")
      }
      val incoming = body match {
        case InsertValuesBody(valueRows) =>
          val names = cols.orElse(targetSchema.map(_.map(_.name).toSeq))
            .getOrElse(throw new SemanticError(
              s"INSERT ... VALUES needs an existing table at '$resolved' " +
              "or an explicit column list `INSERT INTO t (a, b) VALUES " +
              "...` to name the columns"))
          evalCompound(SqlParser.parseCompound(
            s"""SELECT * FROM (VALUES $valueRows) _ins(${
              names.map(n => "\"" + n + "\"").mkString(", ")})"""),
            Map.empty).df
        case _ => evalCompound(SqlParser.parseCompound(body), Map.empty).df
      }
      // Alignment, standard INSERT semantics:
      //   - no column list: the target's columns align POSITIONALLY with
      //     casts (`VALUES (1, 'x')` fits a (BIGINT, VARCHAR) table);
      //     EXTRA trailing columns pass through as schema EVOLUTION on
      //     Versioned targets (the commit's prefix rule validates; older
      //     segments then read NULL for them) and reject loudly in the
      //     BlockFile writer (fixed-width format, no evolution story).
      //     FEWER columns than the target is an error — SILENT
      //     null-padding hides a broken pipeline;
      //   - with a column list: listed names map the incoming columns to
      //     their target columns, and the UNLISTED target columns fill
      //     with NULL — explicit, so not silent. Names outside the
      //     target schema reject (widen positionally instead).
      val df = (targetSchema, cols) match {
        case (Some(ts), None) =>
          if (incoming.columns.length < ts.length) throw new SemanticError(
            s"INSERT arity mismatch: target '$resolved' has ${ts.length} " +
            s"columns, the inserted query produces ${incoming.columns.length}")
          incoming.select(incoming.columns.zipWithIndex.map { case (c, i) =>
            if (i < ts.length)
              incoming.col(c).cast(ts.fields(i).dataType).as(ts.fields(i).name)
            else incoming.col(c)
          }: _*)
        case (Some(ts), Some(cs)) =>
          cs.find(c => !ts.fieldNames.contains(c)).foreach(c =>
            throw new SemanticError(
              s"INSERT column list names '$c', which '$resolved' does " +
              "not have; new columns are added by a WIDENING positional " +
              "insert, not a column list"))
          if (incoming.columns.length != cs.length) throw new SemanticError(
            s"INSERT arity mismatch: column list names ${cs.length} " +
            s"columns, the inserted query produces ${incoming.columns.length}")
          import org.apache.spark.sql.{functions => F}
          val byName = cs.zip(incoming.columns).toMap
          incoming.select(ts.fields.toSeq.map { f =>
            byName.get(f.name) match {
              case Some(c) => incoming.col(c).cast(f.dataType).as(f.name)
              case None    => F.lit(null).cast(f.dataType).as(f.name)
            }
          }: _*)
        case (None, Some(cs)) =>
          // fresh target: the list NAMES the new dataset's columns
          if (incoming.columns.length != cs.length) throw new SemanticError(
            s"INSERT arity mismatch: column list names ${cs.length} " +
            s"columns, the inserted query produces ${incoming.columns.length}")
          incoming.toDF(cs: _*)
        case (None, None) => incoming
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      if (isBin) {
        // counts from BLOCK METADATA before and after (the BlockFile
        // source pushes a bare COUNT(*) down to the footer walk — zero
        // column bytes): the inserted query executes exactly ONCE, in
        // the append itself, and appended = the metadata delta
        val before =
          if (new java.io.File(resolved).exists())
            Tables.blockFileRead(spark, resolved).count()
          else 0L
        Tables.blockFileAppend(df, resolved)
        val total = Tables.blockFileRead(spark, resolved).count()
        GraftFrame.fromDF(spark.createDataFrame(
          java.util.List.of(Row(total - before, total)),
          StructType(Seq(
            StructField("rows_appended", LongType, nullable = false),
            StructField("n_rows", LongType, nullable = false)))))
      } else {
        val v = graft.sources.Versioned.commit(df, resolved, append = true)
        // count the NEW segment only, from FOOTER metadata (the DELETE
        // status-row rule): a head count would re-scan the whole
        // dataset after every incremental publish, and even a scoped
        // changes().count() re-reads the rows this statement just
        // wrote. Cumulative totals are one `SELECT COUNT() FROM ds`
        // away when wanted.
        val appended = graft.sources.Versioned
          .addedRowCount(spark, resolved, v - 1, Some(v))
        GraftFrame.fromDF(spark.createDataFrame(
          java.util.List.of(Row(v, appended)),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("rows_appended", LongType, nullable = false)))))
      }
    case ExplainRe(formatted, body) =>
      if (Ctas.findFirstIn(body).isDefined)
        throw new SemanticError("EXPLAIN does not take CREATE TABLE " +
          "(planning it would still write); EXPLAIN the SELECT body")
      scalarCache.clear()
      val parsed = SqlParser.parseCompound(body)
      // EXPLAIN promises planning WITHOUT execution, but uncorrelated
      // scalar subqueries are resolved by collecting a real value — a
      // scan job — before the outer plan exists. Reject rather than
      // silently run work under a statement documented as free (the
      // CTAS-refusal precedent above). Uncorrelated EXISTS still pays
      // its bounded one-row emptiness probe.
      if (compoundHasScalarSub(parsed))
        throw new SemanticError("EXPLAIN does not take scalar " +
          "subqueries (resolving one executes a real scan to collect " +
          "the value); inline the value or run the query itself")
      val planned = evalCompound(parsed, Map.empty)
      val mode = org.apache.spark.sql.execution.ExplainMode.fromString(
        if (formatted != null) "formatted" else "simple")
      val lines = planned.df.queryExecution.explainString(mode)
        .split("\n").toSeq
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      GraftFrame.fromDF(spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(lines.map(Row(_))).asJava),
        StructType(Seq(StructField("plan", StringType, nullable = false)))))
    case Ctas(quoted, bare, using, body) =>
      scalarCache.clear()
      val frame = evalCompound(SqlParser.parseCompound(body), Map.empty)
      val target =
        if (quoted != null) quoted
        else baseDir match {
          case Some(d) => s"$d/$bare.parquet"
          case None => throw new SemanticError(
            "CREATE TABLE with a bare name needs an engine base " +
            "directory; use a quoted target path instead")
        }
      // resolve ONCE and write + re-read the same resolved path
      // (Tables.resolve scaladoc: a quoted extension-less target would
      // otherwise write `./out` and read back `<baseDir>/out.parquet`)
      val resolved = Tables.resolve(target, baseDir)
      // `USING <fmt>` picks the writer; default follows the extension.
      // `blockdir` is the PARALLEL one-part-per-task BlockFile writer
      // (BlockFile.writeDir) — the target must still end in .bin so a
      // later FROM of the same reference routes through the BlockFile
      // reader (which treats the directory as one table).
      val fmt = Option(using).map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse(
        if (resolved.endsWith(".bin")) "blockfile" else "parquet")
      fmt match {
        case "parquet" =>
          if (resolved.endsWith(".bin")) throw new SemanticError(
            "a '.bin' target reads back through the BlockFile reader; " +
            "USING parquet would create an unreadable table — drop the " +
            "USING clause or rename the target")
          frame.df.write.mode("overwrite").parquet(resolved)
        case "blockfile" | "blockdir" =>
          if (!resolved.endsWith(".bin")) throw new SemanticError(
            s"USING $fmt requires a '.bin' target so the created table " +
            "reads back through the BlockFile reader")
          if (fmt == "blockfile") Tables.blockFileWrite(frame.df, resolved)
          else Tables.blockFileWriteDir(frame.df, resolved)
        case "versioned" =>
          // bootstrap/republish a Versioned dataset from CTAS: version 1
          // (or a fresh full snapshot on an existing dataset — prior
          // versions stay time-travelable); INSERT INTO then appends
          if (resolved.endsWith(".bin") || resolved.endsWith(".parquet"))
            throw new SemanticError(
              "USING versioned needs an extension-less target (the path " +
              "becomes a manifest + segments dataset directory)")
          graft.sources.Versioned.commit(frame.df, resolved,
            append = false): Unit
        case other => throw new SemanticError(
          s"Unknown CTAS format '$other' — USING parquet, blockfile, " +
          "blockdir or versioned")
      }
      table(resolved)
    case _ =>
      // scalar-subquery memo is per-statement: a long-lived Engine (the
      // shell) must not serve a stale collected value after the
      // underlying table changed on disk
      scalarCache.clear()
      evalCompound(SqlParser.parseCompound(query), Map.empty)
  }

  /** Evaluate a compound under a CTE scope (name → planned frame).
    * WITH bindings are planned in declaration order, each seeing the
    * earlier ones — plain lexical scoping. A binding that names ITSELF
    * is shadowing (reads the outer table) unless the compound carries
    * the RECURSIVE flag, in which case it plans as the semi-naive
    * fixpoint in [[evalRecursiveCte]] below.
    *
    * A CTE referenced MORE THAN ONCE downstream is staged with a lazy
    * local checkpoint: Catalyst would otherwise re-derive each reference
    * from the scan (the repo's known fan-out recompute hazard —
    * BroadcastExchange vs shuffle branches defeat ReuseExchange), so an
    * analyst's `FROM t a JOIN t b` would pay the CTE's subtree twice.
    * Single-use CTEs stay un-staged (zero overhead). */
  private def evalCompound(cq: CompoundQuery,
                           outer: Map[String, GraftFrame]): GraftFrame = {
    // a derived table contributes its subquery's paths, not its alias —
    // a CTE referenced only inside (SELECT ...) must still count as used
    def refPaths(t: graft.sql.TableRef): Seq[String] =
      t.subquery.fold(Seq(t.path))(compoundPaths)
    // ... and so do expression-level subqueries (IN-membership sets and
    // scalar subqueries), wherever an expression can sit
    def colPaths(c: Col): Seq[String] = c match {
      case InSubquery(e, sub) => colPaths(e) ++ compoundPaths(sub)
      case ScalarSubquery(sub) => compoundPaths(sub)
      case ExistsSubquery(sub) => compoundPaths(sub)
      case QuantifiedCmp(e, _, _, sub) => colPaths(e) ++ compoundPaths(sub)
      case BinOp(_, l, r)     => colPaths(l) ++ colPaths(r)
      case Not(ch)            => colPaths(ch)
      case Alias(ch, _)       => colPaths(ch)
      case Like(ch, _)        => colPaths(ch)
      case Cast(ch, _)        => colPaths(ch)
      case IsNull(ch)         => colPaths(ch)
      case AggCol(_, ch, _)   => colPaths(ch)
      case FuncCall(_, as)    => as.flatMap(colPaths)
      case CaseWhen(bs, e) =>
        bs.flatMap { case (w, v) => colPaths(w) ++ colPaths(v) } ++
          e.toSeq.flatMap(colPaths)
      case WindowFn(_, as, pb, ob, _, _) =>
        as.flatMap(colPaths) ++ pb.flatMap(colPaths) ++
          ob.flatMap { case (oc, _) => colPaths(oc) }
      case _                  => Seq.empty
    }
    def blockExprs(q: SqlQuery): Seq[Col] =
      q.select.map(_.expr) ++ q.where ++ q.groupBy ++ q.having ++ q.qualify ++
        q.orderBy.map(_._1) ++ q.joins.map(_.on)
    def blockPaths(q: SqlQuery): Seq[String] =
      (q.from +: q.joins.map(_.table)).flatMap(refPaths) ++
        blockExprs(q).flatMap(colPaths)
    def compoundPaths(c: CompoundQuery): Seq[String] =
      (c.head +: c.tail.map(_._3)).flatMap(blockPaths) ++
        c.orderBy.map(_._1).flatMap(colPaths) ++ // compound-level ORDER BY
        c.ctes.flatMap { case (_, b) => compoundPaths(b) }
    val mainPaths = (cq.head +: cq.tail.map(_._3)).flatMap(blockPaths) ++
      cq.orderBy.map(_._1).flatMap(colPaths) // compound-level ORDER BY too
    // WITH RECURSIVE: a CTE whose body references its own name plans as
    // a SEMI-NAIVE fixpoint (the standard SQL recursion semantics): the
    // first block is the non-recursive base; each iteration evaluates
    // the recursive term(s) against the PREVIOUS iteration's new rows
    // only (the working table, never the whole accumulation); under
    // UNION, rows already accumulated are removed and convergence is
    // "no new rows" — under UNION ALL, only an empty iteration stops,
    // with a hard iteration cap as the divergence backstop. Every
    // iteration's delta is locally checkpointed, so the accumulated
    // union's lineage stays one level deep regardless of depth (the
    // same reason Dedup.clusters checkpoints its label frontier).
    def evalRecursiveCte(name: String, body: CompoundQuery,
                         sc: Map[String, GraftFrame]): GraftFrame = {
      if (body.ctes.nonEmpty || body.orderBy.nonEmpty || body.limit.isDefined)
        throw new SemanticError(s"recursive CTE '$name' must be " +
          "`base UNION [ALL] term` without nested WITH/ORDER BY/LIMIT")
      if (body.tail.isEmpty || body.tail.exists(_._1 != "union"))
        throw new SemanticError(s"recursive CTE '$name' needs the form " +
          "`base UNION [ALL] recursive-term`")
      if (blockPaths(body.head).contains(name))
        throw new SemanticError(s"recursive CTE '$name': the first block " +
          s"is the non-recursive base and cannot reference '$name'")
      // one spelling per body: mixed `UNION t1 UNION ALL t2` would need
      // per-term dedup semantics — reject rather than silently pick one
      if (body.tail.map(_._2).distinct.length > 1)
        throw new SemanticError(s"recursive CTE '$name' mixes UNION and " +
          "UNION ALL between terms — use one set-op spelling per body")
      // LINEAR recursion only: semi-naive evaluation binds the CTE name
      // to the per-iteration delta, which is only sound when each
      // recursive term references the name exactly once, directly in
      // FROM/JOIN position. Two references (self-join `FROM r a, r b`)
      // or a reference inside a subquery would need new×old AND old×new
      // combinations the delta binding silently drops — reject loudly,
      // matching Postgres/DuckDB which refuse non-linear recursion.
      body.tail.foreach { case (_, _, q) =>
        val direct = (q.from +: q.joins.map(_.table))
          .count(t => t.subquery.isEmpty && t.path == name)
        val total = blockPaths(q).count(_ == name)
        if (total > 0 && (direct != 1 || total != 1))
          throw new SemanticError(s"recursive CTE '$name': each recursive " +
            s"term must reference '$name' exactly once, directly in " +
            s"FROM/JOIN (found $total reference(s), $direct direct) — " +
            "non-linear recursion is not supported by semi-naive evaluation")
      }
      val bagMode = body.tail.head._2
      val base0 = plan(body.head, sc).df
      val base = (if (bagMode) base0 else base0.distinct())
        .localCheckpoint(true)
      val pieces = ListBuffer[org.apache.spark.sql.DataFrame](base)
      def acc = pieces.reduce(_.union(_))
      var working = base
      var workingNonEmpty = working.head(1).nonEmpty
      var iters = 0
      // set-mode recursion is GUARANTEED finite (each iteration must add
      // a new distinct row), so its cap is only a runaway-cost guard;
      // bag-mode can genuinely diverge, so it gets the tight backstop
      val maxIters = if (bagMode) 200 else 10000
      while (workingNonEmpty) {
        iters += 1
        if (iters > maxIters) throw new SemanticError(
          s"recursive CTE '$name' exceeded $maxIters iterations — " +
          (if (bagMode) "likely divergent (UNION ALL without a " +
            "shrinking predicate?)"
           else "a convergent recursion this deep exceeds the cost guard"))
        val wFrame = GraftFrame.fromDF(working)
        val next = body.tail.map { case (_, _, q) =>
            val t = plan(q, sc + (name -> wFrame)).df
            if (t.columns.length != base.columns.length)
              throw new SemanticError(s"recursive CTE '$name': term " +
                s"arity ${t.columns.length} != base arity ${base.columns.length}")
            t.toDF(base.columns.toIndexedSeq: _*)
          }.reduce(_.union(_))
        val delta =
          (if (bagMode) next else next.distinct().except(acc))
            .localCheckpoint(true)
        // ONE emptiness probe per iteration, reused by the loop guard
        workingNonEmpty = delta.head(1).nonEmpty
        if (workingNonEmpty) pieces += delta
        working = delta
      }
      GraftFrame.fromDF(acc)
    }
    val scope = cq.ctes.zipWithIndex.foldLeft(outer) {
      case (sc, ((name, body), i)) =>
        val laterPaths = cq.ctes.drop(i + 1)
          .flatMap { case (_, b) => compoundPaths(b) }
        val uses = (laterPaths ++ mainPaths).count(_ == name)
        val planned =
          if (cq.recursive && compoundPaths(body).contains(name))
            evalRecursiveCte(name, body, sc)
          else evalCompound(body, sc)
        val frame =
          if (uses >= 2) GraftFrame.fromDF(planned.df.localCheckpoint(false))
          else planned
        sc + (name -> frame)
    }
    // standard precedence: fold INTERSECT runs into their left term
    // first, then fold UNION/EXCEPT left-associatively
    var acc: GraftFrame = null
    var accOp: (String, Boolean) = null
    var term = plan(cq.head, scope)
    cq.tail.foreach { case (op, all, q) =>
      if (op == "intersect") term = setOp(term, op, all, plan(q, scope))
      else {
        acc = if (acc == null) term else setOp(acc, accOp._1, accOp._2, term)
        accOp = (op, all)
        term = plan(q, scope)
      }
    }
    var out = if (acc == null) term else setOp(acc, accOp._1, accOp._2, term)
    if (cq.orderBy.nonEmpty)
      // compound-level ORDER BY is an expression position too — scalar
      // subqueries in it substitute like per-block ones
      out = out.sort(cq.orderBy.map { case (c, a) => (resolveScalars(c, scope), a) })
    cq.limit.foreach(n => out = out.limit(n))
    out
  }

  /** Materialize an inline `(VALUES ...) t(a, b)` table. Entries must be
    * LITERALS (an expression would need a schema to compile against —
    * there is none); per-column types come from the literals with the
    * dialect's numeric widening (int < long < double), mixed
    * number/string is an error, not a coercion. The frame is a tiny
    * local relation — Catalyst constant-folds and broadcast-joins it
    * like any small side. */
  private def valuesFrame(names: Seq[String], rows: Seq[Seq[Col]]): GraftFrame = {
    import org.apache.spark.sql.types._
    // negative numbers parse as BinOp(-, 0, n) (unary minus desugars
    // through the shared expression grammar) — fold the literal-only
    // arithmetic cases so `VALUES (-1, -2.5)` works; anything needing
    // a schema to compile against still rejects
    def fold(c: Col): Col = c match {
      case BinOp(op @ ("-" | "+" | "*"), l, r) => (fold(l), fold(r)) match {
        case (Lit(a: Int), Lit(b: Int)) => op match {
          case "-" => Lit(a - b); case "+" => Lit(a + b); case _ => Lit(a * b)
        }
        // int/long widen to long, anything-with-double to double — the
        // same ladder `widen` applies across rows below
        case (Lit(a), Lit(b)) if Seq(a, b).forall(v =>
            v.isInstanceOf[Int] || v.isInstanceOf[Long] ||
              v.isInstanceOf[Double]) =>
          def dbl(v: Any) = v match {
            case i: Int => i.toDouble; case x: Long => x.toDouble
            case d: Double => d
          }
          def lng(v: Any) = v match {
            case i: Int => i.toLong; case x: Long => x; case _ => 0L
          }
          if (a.isInstanceOf[Double] || b.isInstanceOf[Double]) op match {
            case "-" => Lit(dbl(a) - dbl(b)); case "+" => Lit(dbl(a) + dbl(b))
            case _ => Lit(dbl(a) * dbl(b))
          }
          else op match {
            case "-" => Lit(lng(a) - lng(b)); case "+" => Lit(lng(a) + lng(b))
            case _ => Lit(lng(a) * lng(b))
          }
        case _ => c
      }
      case other => other
    }
    val lits: Seq[Seq[Any]] = rows.map(_.map(e => fold(e) match {
      case Lit(v) => v
      case other => throw new SemanticError(
        s"VALUES entries must be literals, got $other")
    }))
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case (x, y) => throw new SemanticError(
        s"VALUES column mixes incompatible types $x and $y")
    }
    def typeOf(v: Any): DataType = v match {
      case _: Int    => IntegerType
      case _: Long   => LongType
      case _: Double => DoubleType
      case _: String => StringType
      case other => throw new SemanticError(
        s"Unsupported VALUES literal: $other")
    }
    // NULL entries are standard SQL: the column's type comes from its
    // non-null peers (an all-NULL column has no inferable type and
    // rejects by name); the column is marked nullable only when a NULL
    // actually appears
    val colTypes = names.indices.map { i =>
      val nonNull = lits.map(_(i)).filter(_ != null).map(typeOf)
      if (nonNull.isEmpty) throw new SemanticError(
        s"VALUES column ${names(i)} is NULL in every row — no type to " +
        "infer; give it at least one non-NULL literal")
      nonNull.reduce(widen)
    }
    def promote(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _)             => null
      case (x: Int, LongType)    => x.toLong
      case (x: Int, DoubleType)  => x.toDouble
      case (x: Long, DoubleType) => x.toDouble
      case (x, _)                => x
    }
    val schema = StructType(names.zip(colTypes).zipWithIndex.map {
      case ((n, t), i) =>
        StructField(n, t, nullable = lits.exists(_(i) == null)) })
    val data = lits.map(r => Row(
      r.zip(colTypes).map { case (v, t) => promote(v, t) }: _*))
    GraftFrame.fromDF(spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(data).asJava), schema))
  }

  private def setOp(l: GraftFrame, op: String, all: Boolean, r: GraftFrame): GraftFrame =
    GraftFrame.fromDF((op, all) match {
      case ("union", true)      => l.df.union(r.df)
      case ("union", false)     => l.df.union(r.df).distinct()
      case ("intersect", true)  => l.df.intersectAll(r.df)
      case ("intersect", false) => l.df.intersect(r.df)
      case ("except", true)     => l.df.exceptAll(r.df)
      case ("except", false)    => l.df.except(r.df)
      case other => throw new IllegalStateException(s"set op $other")
    })

  def collect(query: String, limit: Int = Int.MaxValue): Seq[Row] =
    if (limit == Int.MaxValue) sql(query).collect() else sql(query).collect(limit)

  /** Parse a FOR TIMESTAMP AS OF literal to epoch millis. Accepted:
    * `yyyy-MM-dd[ HH:mm:ss[.SSS]]` (UTC — the session's pinned zone)
    * or full ISO-8601 with offset/`Z`. Loud otherwise. */
  private def parseAsOfTimestamp(s: String): Long = {
    val t = s.trim
    try {
      if (t.contains("+") || t.endsWith("Z") || (t.contains("T") &&
          t.length > 19))
        java.time.OffsetDateTime.parse(t).toInstant.toEpochMilli
      else {
        val norm =
          if (t.length == 10) t + "T00:00:00"
          else t.replace(' ', 'T')
        java.time.LocalDateTime.parse(norm)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new SemanticError(
          s"Cannot parse FOR TIMESTAMP AS OF '$s' — use " +
            s"yyyy-MM-dd[ HH:mm:ss[.SSS]] (UTC) or ISO-8601: ${e.getMessage}")
    }
  }

  def plan(q: SqlQuery): GraftFrame = { scalarCache.clear(); plan(q, Map.empty) }

  /** METADATA-ONLY aggregates: a SELECT of pure `COUNT()` /
    * `COUNT(col)` / `MIN(col)` / `MAX(col)` items over a bare
    * Versioned FROM — no WHERE/JOIN/GROUP BY/set machinery — answers
    * from the manifest's segment-stats sidecars alone
    * ([[graft.sources.Versioned.metaStats]]): zero scan jobs, zero
    * footer opens, the same shapes Delta serves from its log. At
    * 100 TB this turns "how many rows, what key range" from a corpus
    * pass into a KB-sized metadata read. STRICTLY an optimization:
    * any gap (a stats-less segment, a non-exact bound type, an
    * unsupported item) returns `None` and the normal scan plan runs —
    * and the served values are exactly the scan's (counts are footer
    * row counts; min/max only from statistic kinds that are actual
    * values, never truncated bounds). */
  private def metadataAggFastPath(q: SqlQuery,
      scope: Map[String, GraftFrame]): Option[GraftFrame] = {
    import org.apache.spark.sql.types._
    val t = q.from
    if (t.subquery.nonEmpty || t.values.nonEmpty || t.cdc.nonEmpty ||
        q.joins.nonEmpty || q.where.nonEmpty || q.groupBy.nonEmpty ||
        q.having.nonEmpty || q.qualify.nonEmpty || q.distinct ||
        q.groupKind.nonEmpty || q.distinctOn.nonEmpty ||
        q.orderBy.nonEmpty || q.limit.nonEmpty || q.offset.nonEmpty ||
        q.select.exists(_.star) ||
        scope.contains(t.path) || views.contains(t.path)) return None
    // classify every select item FIRST — the common non-aggregate
    // SELECT must bail before any filesystem probing
    sealed trait Shape
    case object CountAll extends Shape
    final case class CountCol(c: String) extends Shape
    final case class MinMax(fn: String, c: String) extends Shape
    def colName(c: Col): Option[String] = c match {
      case ColRef(r) =>
        val bare = t.alias match {
          case Some(a) if r.startsWith(a + ".") => r.drop(a.length + 1)
          case _ => r
        }
        if (bare.contains(".")) None else Some(bare)
      case _ => None
    }
    def shape(c: Col): Option[Shape] = c match {
      case Alias(ch, _) => shape(ch)
      case AggCol("count", Lit(1), _) => Some(CountAll)
      case AggCol("count_col", ch, _) => colName(ch).map(CountCol)
      case AggCol(fn @ ("min" | "max"), ch, _) =>
        colName(ch).map(MinMax(fn, _))
      case _ => None
    }
    val items: Seq[(String, Shape)] = q.select.map { i =>
      shape(i.expr) match {
        case Some(s) => i.expr.name -> s
        case None => return None
      }
    }
    val resolved =
      try Tables.resolve(t.path, baseDir)
      catch { case _: Exception => return None }
    if (graft.sources.Versioned.versions(spark, resolved).isEmpty)
      return None
    val version: Option[Long] = (t.version, t.asOfTs) match {
      case (Some(v), _) => Some(v)
      case (None, Some(ts)) =>
        try Some(graft.sources.Versioned.versionAt(spark, resolved,
          parseAsOfTimestamp(ts)))
        catch { case _: Exception => return None } // normal path re-errors
      case _ => None
    }
    val meta =
      try graft.sources.Versioned.metaStats(spark, resolved, version)
        .getOrElse(return None)
      catch { case _: IllegalArgumentException => return None }
    def field(c: String): Option[StructField] =
      meta.schema.fields.find(_.name.equalsIgnoreCase(c))
    def stats(c: String) =
      meta.cols.get(c.toLowerCase(java.util.Locale.ROOT))
    val resolvedItems: Seq[(StructField, Any)] = items.map {
      case (name, CountAll) =>
        (StructField(name, LongType, nullable = false), meta.rows)
      case (name, CountCol(c)) =>
        val nn = field(c).flatMap(_ => stats(c)).flatMap(_.nonNull)
          .getOrElse(return None)
        (StructField(name, LongType, nullable = false), nn)
      case (name, MinMax(fn, c)) =>
        val f = field(c).getOrElse(return None) // unknown column: let
        // the normal path raise its standard resolution error
        val st = stats(c).getOrElse(return None)
        val v = (if (fn == "min") st.min else st.max)
          .getOrElse(return None)
        (StructField(name, f.dataType, nullable = true), v)
    }
    val row = org.apache.spark.sql.Row(resolvedItems.map(_._2): _*)
    Some(GraftFrame.fromDF(spark.createDataFrame(
      java.util.List.of(row), StructType(resolvedItems.map(_._1)))))
  }

  private def plan(q0: SqlQuery, scope: Map[String, GraftFrame]): GraftFrame = {
    // scalar subqueries evaluate ONCE at plan time (bounded single-value
    // collect) and substitute as literals before anything compiles
    val q = q0.copy(
      select = q0.select.map(i => i.copy(expr = resolveScalars(i.expr, scope))),
      where = q0.where.map(resolveScalars(_, scope)),
      groupBy = q0.groupBy.map(resolveScalars(_, scope)),
      having = q0.having.map(resolveScalars(_, scope)),
      qualify = q0.qualify.map(resolveScalars(_, scope)),
      orderBy = q0.orderBy.map { case (c, a) => (resolveScalars(c, scope), a) },
      joins = q0.joins.map(j => j.copy(on = resolveScalars(j.on, scope))))
    // pure COUNT/MIN/MAX over a bare Versioned FROM: serve from
    // manifest statistics, no scan (falls through on any gap)
    metadataAggFastPath(q, scope) match {
      case Some(fr) => return fr
      case None => ()
    }
    // a FROM/JOIN target is a derived table (planned under the enclosing
    // CTE scope), an inline VALUES table, or resolves against the scope
    // first, then disk
    def resolve(t: graft.sql.TableRef): GraftFrame = t.subquery match {
      case Some(sub) => evalCompound(sub, scope)
      case None => t.values match {
        case Some((names, rows)) => valuesFrame(names, rows)
        case None if t.cdc.isDefined =>
          // FOR CHANGES/REMOVALS FROM v [TO v]: the segment-level CDC
          // pair over a Versioned dataset — adds are rows of segments
          // committed in the range, removals rows of segments dropped
          // by it (a consumer retracts removals, upserts changes)
          val (kind, from, to) = t.cdc.get
          val resolved = Tables.resolve(t.path, baseDir)
          val df =
            try kind match {
              case "changes" =>
                graft.sources.Versioned.changes(spark, resolved, from, to)
              case "removals" =>
                graft.sources.Versioned.removals(spark, resolved, from, to)
              case _ =>
                graft.sources.Versioned.changeFeed(spark, resolved, from, to)
            } catch { case e: IllegalArgumentException =>
              throw new SemanticError(e.getMessage) }
          GraftFrame.fromDF(df)
        case None => t.version match {
          // FOR VERSION AS OF n: that committed snapshot, exactly
          case Some(v) => GraftFrame.fromDF(graft.sources.Versioned.read(
            spark, Tables.resolve(t.path, baseDir), Some(v)))
          case None if t.asOfTs.isDefined =>
            // FOR TIMESTAMP AS OF '<ts>': the snapshot that was head
            // at that instant (UTC unless an offset is given)
            val resolved = Tables.resolve(t.path, baseDir)
            val ms = parseAsOfTimestamp(t.asOfTs.get)
            val v =
              try graft.sources.Versioned.versionAt(spark, resolved, ms)
              catch { case e: IllegalArgumentException =>
                throw new SemanticError(e.getMessage) }
            GraftFrame.fromDF(
              graft.sources.Versioned.read(spark, resolved, Some(v)))
          case None => scope.get(t.path) match {
            // a CTE's NAME is its default alias (standard SQL): without
            // this, `FROM r JOIN ... ON r.q = ...` fails to resolve the
            // dotted ref unless the user re-aliases r AS r
            case Some(fr) => if (t.alias.isEmpty) fr.alias(t.path) else fr
            case None => table(t.path)
          }
        }
      }
    }
    // FROM + table alias
    var frame = resolve(q.from)
    q.from.alias.foreach(a => frame = frame.alias(a))

    // JOINs in declaration order
    q.joins.foreach { case JoinClause(t, on, how) =>
      var right = resolve(t)
      t.alias.foreach(a => right = right.alias(a))
      frame = frame.join(right, on, how)
    }

    // WHERE: top-level AND conjuncts split so IN (SELECT ...) predicates
    // plan as semi/anti joins; plain predicates stay row filters
    q.where.foreach(c => frame = applyWhere(frame, c, scope))

    val selectAggs = q.select.flatMap(i => collectAggs(i.expr))
    val hasGrouping = q.groupBy.nonEmpty || selectAggs.nonEmpty ||
      q.groupKind.isDefined

    // QUALIFY: windowed filter, post-WHERE pre-SELECT. Spark rejects
    // window expressions directly inside filter(), so it compiles to a
    // hidden column + filter + drop. Grouped blocks reject like any
    // window position (compose via a derived table).
    q.qualify.foreach { qual =>
      if (hasGrouping)
        throw new GroupByError(
          "QUALIFY cannot appear in a grouped query block; " +
          "aggregate in a derived table or CTE, then QUALIFY over it")
      val df = frame.df
      var name = "_qualify"
      while (df.columns.contains(name)) name += "_"
      frame = GraftFrame.fromDF(
        df.withColumn(name, qual.compile(df.schema))
          .filter(org.apache.spark.sql.functions.col(name)).drop(name))
    }
    // DISTINCT ON (keys): keep the FIRST row per key under the block's
    // ORDER BY — the canonical-survivor idiom (one doc per cluster,
    // latest row per entity) at the SQL surface. Planned as a hidden
    // row_number window over the INPUT frame + filter + drop,
    // pre-SELECT (the QUALIFY precedent). Grouped blocks reject;
    // ORDER BY must LEAD with the ON keys (Postgres's rule) and carry
    // at least one tie-break column beyond them — keys-only ORDER BY
    // makes "first" an arbitrary row, which this engine's
    // deterministic-result contract rejects rather than mis-evaluates.
    if (q.distinctOn.nonEmpty) {
      if (hasGrouping)
        throw new GroupByError(
          "DISTINCT ON cannot appear in a grouped query block; " +
          "aggregate in a derived table or CTE, then DISTINCT ON over it")
      if (q.orderBy.length < q.distinctOn.length ||
          q.orderBy.take(q.distinctOn.length).map(_._1) != q.distinctOn)
        throw new SemanticError(
          "DISTINCT ON requires ORDER BY whose leading expressions " +
          "are the ON keys")
      if (q.orderBy.length == q.distinctOn.length)
        throw new SemanticError(
          "DISTINCT ON needs a tie-break: add at least one ORDER BY " +
          "column beyond the ON keys, or 'first row per key' is " +
          "nondeterministic")
      val df = frame.df
      var name = "_distinct_on"
      while (df.columns.contains(name)) name += "_"
      import org.apache.spark.sql.expressions.Window
      val spec = Window
        .partitionBy(q.distinctOn.map(_.compile(df.schema)): _*)
        .orderBy(q.orderBy.drop(q.distinctOn.length).map { case (c, asc) =>
          val cc = c.compile(df.schema)
          if (asc) cc.asc else cc.desc
        }: _*)
      frame = GraftFrame.fromDF(
        df.withColumn(name,
            org.apache.spark.sql.functions.row_number().over(spec))
          .filter(org.apache.spark.sql.functions.col(name) === 1)
          .drop(name))
    }
    // standard SQL evaluates window functions AFTER grouping — a mixed
    // block would need post-aggregation window planning; reject loudly
    // and point at the composable form (window over a derived table).
    // Checked in EVERY expression position of the block (select, having,
    // order/group by), not just the select list.
    val groupedExprs = q.select.map(_.expr) ++ q.having ++ q.groupBy ++
      q.orderBy.map(_._1)
    if (hasGrouping && groupedExprs.exists(containsWindow))
      throw new GroupByError(
        "Window functions cannot appear in a grouped query block; " +
        "aggregate in a derived table or CTE, then window over it")

    var out: GraftFrame =
      if (!hasGrouping) {
        if (q.select.forall(_.star)) frame.select(Star)
        else frame.select(q.select.map(_.expr): _*)
      } else {
        // GROUP BY validity (reference: parser.py:143-151); compare the
        // expression under any alias against the grouping keys
        val keyNames = q.groupBy.map(_.name).toSet
        q.select.filterNot(_.star).foreach { item =>
          val underlying = item.expr match {
            case Alias(c, _) => c
            case c           => c
          }
          // a bare LITERAL is group-invariant (`SELECT 1 AS version,
          // COUNT(*) ...`) — standard SQL admits it without a key
          if (collectAggs(item.expr).isEmpty &&
              !underlying.isInstanceOf[Lit] &&
              !keyNames.contains(underlying.name))
            throw new GroupByError(
              s"Column '${underlying.name}' must appear in GROUP BY or an aggregate")
        }

        // COMPUTED (non-ColRef) grouping keys — `SELECT upper(fruit)
        // AS f ... GROUP BY upper(fruit)` and its GROUP BY ALL
        // expansion: after aggregation the key's INPUTS are gone, so
        // the select item cannot recompile. Group such keys under
        // hidden stable aliases and rewrite every structurally-equal
        // select/HAVING subtree into a reference to the hidden column.
        // A TOP-LEVEL unaliased computed-key item would surface the
        // hidden name; require the alias rather than invent a name.
        // Plain-mode only: ROLLUP/CUBE/SETS keep their existing
        // ColRef-key contract.
        val hiddenKeys: Map[Col, String] =
          if (q.groupKind.isDefined) Map.empty
          else q.groupBy.zipWithIndex.collect {
            case (k, i) if !k.isInstanceOf[ColRef] => (k, s"_gkey$i")
          }.toMap
        def substKeys(c: Col): Col = hiddenKeys.get(c) match {
          case Some(n) => ColRef(n)
          case None => c match {
            case Alias(ch, n)   => Alias(substKeys(ch), n)
            case BinOp(o, l, r) => BinOp(o, substKeys(l), substKeys(r))
            case Not(ch)        => Not(substKeys(ch))
            case Like(ch, p)    => Like(substKeys(ch), p)
            case Cast(ch, d)    => Cast(substKeys(ch), d)
            case IsNull(ch)     => IsNull(substKeys(ch))
            case AggCol(f, ch, n) => AggCol(f, substKeys(ch), n)
            case FuncCall(f, as)  => FuncCall(f, as.map(substKeys))
            case CaseWhen(bs, e)  =>
              CaseWhen(bs.map { case (w, v) => (substKeys(w), substKeys(v)) },
                e.map(substKeys))
            case other          => other
          }
        }
        val selectRewritten = q.select.map { item =>
          val r = substKeys(item.expr)
          r match {
            case ColRef(n) if n.startsWith("_gkey") &&
                hiddenKeys.valuesIterator.contains(n) =>
              throw new GroupByError(
                "A computed GROUP BY key selected bare needs an alias " +
                "(`SELECT upper(x) AS u ... GROUP BY upper(x)`) — its " +
                "output column has no natural name")
            case _ => item.copy(expr = r)
          }
        }
        val groupCols = q.groupBy.map(k =>
          hiddenKeys.get(k).fold(k)(n => Alias(k, n): Col))

        // name every select aggregate so the final projection can refer to it
        val named = ListBuffer.empty[Col] // aggregates to compute
        val finalCols = selectRewritten.map { item =>
          stripQualifiers(nameAggs(item.expr, named))
        }
        // hidden HAVING aggregates (reference: parser.py:153-161)
        val havingRewritten = q.having.map { h =>
          rewriteHaving(substKeys(h), named)
        }

        val groupedFrame = q.groupKind match {
          case None           => frame.groupBy(groupCols: _*)
          case Some("rollup") => frame.rollup(q.groupBy: _*)
          case Some("cube")   => frame.cube(q.groupBy: _*)
          case Some("sets")   => frame.groupingSets(q.groupingSets, q.groupBy: _*)
          case Some(other) =>
            throw new IllegalStateException(s"unknown group kind $other")
        }
        var g = groupedFrame.agg(named.toSeq: _*)
        havingRewritten.foreach(h => g = g.filter(h))
        // final projection: grouping keys + visible select outputs, hidden
        // columns dropped (reference: parser.py:161); the aggregated frame
        // exposes group keys by their bare name, so qualifiers are gone
        // (analog of the reference's alias-prefix cleanup, plan.py:206-222)
        g.select(finalCols: _*)
      }

    if (q.distinct) out = out.distinct()
    if (q.orderBy.nonEmpty) out = out.sort(q.orderBy)
    // OFFSET skips before LIMIT counts (standard pagination order)
    q.offset.foreach(m => out = GraftFrame.fromDF(out.df.offset(m)))
    q.limit.foreach(n => out = out.limit(n))
    out
  }

  /** Apply a WHERE condition: AND conjuncts recurse, `IN (SELECT ...)`
    * becomes a LEFT SEMI join (`NOT IN` → LEFT ANTI — the null-free
    * reading, see [[Col.InSubquery]]), everything else filters. An IN
    * subquery under OR / inside an expression has no join rendering;
    * reject it loudly rather than mis-evaluate. */
  private def applyWhere(frame: GraftFrame, cond: Col,
                         scope: Map[String, GraftFrame]): GraftFrame = cond match {
    case BinOp("&", l, r)        => applyWhere(applyWhere(frame, l, scope), r, scope)
    case InSubquery(e, sub)      => inJoin(frame, e, sub, scope, anti = false)
    case Not(InSubquery(e, sub)) => inJoin(frame, e, sub, scope, anti = true)
    case ExistsSubquery(sub)      => existsJoin(frame, sub, scope, anti = false)
    case Not(ExistsSubquery(sub)) => existsJoin(frame, sub, scope, anti = true)
    case QuantifiedCmp(e, op, forAll, sub) =>
      quantifiedFilter(frame, resolveScalars(e, scope), op, forAll, sub, scope)
    case other if containsInSubquery(other) =>
      throw new SemanticError(
        "IN (SELECT ...) / EXISTS (SELECT ...) must be a top-level AND " +
        "conjunct of WHERE (it plans as a semi/anti join and cannot sit " +
        "under OR or inside an expression)")
    // whatever ScalarSubquery nodes survive resolveScalars are correlated
    case other if collectScalarSubs(other).nonEmpty =>
      correlatedScalarFilter(frame, other, scope)
    case other => frame.filter(other)
  }

  /** Plan `[NOT] EXISTS (SELECT ...)` as a LEFT SEMI (`NOT` → LEFT ANTI)
    * join by DECORRELATION: build the subquery's FROM/JOIN frame, split
    * its WHERE into top-level AND conjuncts, and partition them by
    * whether every column reference resolves INSIDE the subquery
    * (innermost-scope-first, like standard SQL): local conjuncts stay
    * subquery-side filters (pushed to its scan), correlated ones become
    * the join condition. The select list is irrelevant to EXISTS and is
    * ignored. An uncorrelated EXISTS degenerates to a bounded one-row
    * emptiness probe (`take(1)`) choosing all-rows or no-rows.
    *
    * Correlated subqueries must be a single SELECT block without
    * GROUP BY/HAVING/ORDER BY/LIMIT or set ops — those have no join
    * rendering here; reject loudly rather than mis-evaluate. */
  private def existsJoin(frame: GraftFrame, sub: CompoundQuery,
                         scope: Map[String, GraftFrame], anti: Boolean): GraftFrame = {
    def emptinessProbe(planned: GraftFrame): GraftFrame = {
      val nonEmpty = planned.df.take(1).nonEmpty
      if (nonEmpty != anti) frame else GraftFrame.fromDF(frame.df.limit(0))
    }
    val simple = sub.tail.isEmpty && sub.orderBy.isEmpty && sub.limit.isEmpty &&
      sub.ctes.isEmpty && sub.head.groupBy.isEmpty && sub.head.having.isEmpty &&
      sub.head.orderBy.isEmpty && sub.head.limit.isEmpty &&
      // QUALIFY/OFFSET/grouping-sets change which rows the subquery
      // yields; the decorrelation below rebuilds only FROM/JOIN+WHERE
      // and would drop them (e.g. OFFSET past the match count must make
      // EXISTS false)
      sub.head.qualify.isEmpty && sub.head.offset.isEmpty &&
      sub.head.groupKind.isEmpty &&
      // an aggregate select (`EXISTS (SELECT COUNT(*) ...)`) makes the
      // subquery ALWAYS one row in standard SQL — that is grouped
      // semantics, not a row subquery; route it through the full planner
      sub.head.select.forall(i => collectAggs(i.expr).isEmpty)
    if (!simple)
      // set ops / grouping / LIMIT: only the UNCORRELATED reading exists
      // (a correlated reference fails resolution inside evalCompound)
      return emptinessProbe(evalCompound(sub, scope))
    val q = sub.head
    val (inner0, isOuterRef) = blockFrame(q, scope)
    var inner = inner0
    val conjuncts = q.where.toSeq.flatMap(splitAnd)
      .map(resolveScalars(_, scope))
    val (correlated, local) = conjuncts.partition(c =>
      collectRefs(c).exists(isOuterRef))
    local.foreach(c => inner = applyWhere(inner, c, scope))
    if (correlated.isEmpty) emptinessProbe(inner)
    else frame.join(inner, correlated.reduce(_ && _),
      if (anti) "left_anti" else "left_semi")
  }

  /** Build a single block's FROM/JOIN frame (no WHERE applied) plus the
    * outer-ref test used by every decorrelation: a reference is OUTER
    * when, innermost-scope-first like standard SQL, it resolves against
    * neither the block's table aliases (dotted refs) nor its columns
    * (bare refs). Schema-only — nothing executes. */
  private def blockFrame(q: SqlQuery, scope: Map[String, GraftFrame])
      : (GraftFrame, String => Boolean) = {
    def resolve(t: graft.sql.TableRef): GraftFrame = t.subquery match {
      case Some(s2) => evalCompound(s2, scope)
      case None     => scope.get(t.path) match {
        // CTE name = default alias, mirroring the main planner
        case Some(fr) => if (t.alias.isEmpty) fr.alias(t.path) else fr
        case None => table(t.path)
      }
    }
    // a scope-resolved (CTE) table without an explicit alias carries its
    // NAME as default alias (resolve() above) — record it, or dotted
    // refs like `c.grp` on an unaliased CTE would be misclassified as
    // OUTER references and mis-trigger correlation handling
    def defaultAlias(t: graft.sql.TableRef): Option[String] =
      if (t.alias.isEmpty && t.subquery.isEmpty && scope.contains(t.path))
        Some(t.path)
      else t.alias
    val innerAliases = ListBuffer.empty[String]
    var inner = resolve(q.from)
    q.from.alias.foreach(a => inner = inner.alias(a))
    defaultAlias(q.from).foreach(innerAliases += _)
    q.joins.foreach { case JoinClause(t, on, how) =>
      var right = resolve(t)
      t.alias.foreach(a => right = right.alias(a))
      defaultAlias(t).foreach(innerAliases += _)
      inner = inner.join(right, on, how)
    }
    val innerCols = inner.df.columns.toSet
    def isOuterRef(r: String): Boolean =
      if (r.contains('.')) !innerAliases.contains(r.split('.').head)
      else !innerCols.contains(r)
    (inner, isOuterRef)
  }

  private def splitAnd(c: Col): Seq[Col] = c match {
    case BinOp("&", l, r) => splitAnd(l) ++ splitAnd(r)
    case o                => Seq(o)
  }

  /** True when `sub` is a simple single-aggregate block whose WHERE
    * references enclosing-scope columns — the TPC-H Q2/Q17/Q20 shape
    * `(SELECT agg(...) FROM t WHERE t.k = outer.k [AND local...])`.
    * Such subqueries cannot inline as a literal; [[applyWhere]] rewrites
    * them into a group-by-correlation-keys aggregate join instead. */
  private def isCorrelatedScalar(sub: CompoundQuery,
                                 scope: Map[String, GraftFrame]): Boolean = {
    val shapeOk = sub.tail.isEmpty && sub.ctes.isEmpty && sub.orderBy.isEmpty &&
      sub.limit.isEmpty && {
        val q = sub.head
        q.groupBy.isEmpty && q.having.isEmpty && q.orderBy.isEmpty &&
        q.limit.isEmpty && q.qualify.isEmpty && q.offset.isEmpty &&
        q.groupKind.isEmpty && !q.distinct &&
        q.select.size == 1 && !q.select.head.star &&
        collectAggs(q.select.head.expr).nonEmpty
      }
    shapeOk && {
      val q = sub.head
      val (_, isOuterRef) = blockFrame(q, scope)
      q.where.toSeq.flatMap(splitAnd)
        .exists(c => collectRefs(c).exists(isOuterRef))
    }
  }

  /** Every [[ScalarSubquery]] node remaining in an expression (after
    * [[resolveScalars]] these are exactly the correlated ones). Does not
    * descend into IN/EXISTS subquery bodies — their own plan pass owns
    * those. */
  private def collectScalarSubs(c: Col): Seq[ScalarSubquery] = c match {
    case s: ScalarSubquery => Seq(s)
    case Alias(ch, _)      => collectScalarSubs(ch)
    case BinOp(_, l, r)    => collectScalarSubs(l) ++ collectScalarSubs(r)
    case Not(ch)           => collectScalarSubs(ch)
    case Like(ch, _)       => collectScalarSubs(ch)
    case Cast(ch, _)       => collectScalarSubs(ch)
    case IsNull(ch)        => collectScalarSubs(ch)
    case AggCol(_, ch, _)  => collectScalarSubs(ch)
    case FuncCall(_, as)   => as.flatMap(collectScalarSubs)
    case CaseWhen(bs, e) =>
      bs.flatMap { case (w, v) => collectScalarSubs(w) ++ collectScalarSubs(v) } ++
        e.toSeq.flatMap(collectScalarSubs)
    case InSubquery(e, _)  => collectScalarSubs(e)
    case QuantifiedCmp(e, _, _, _) => collectScalarSubs(e)
    case _                 => Seq.empty
  }

  /** EXPLAIN guard: does ANY expression position in the compound —
    * blocks, set-op tails, CTEs, derived tables, IN/EXISTS/quantified
    * bodies — hold a scalar subquery? Unlike [[collectScalarSubs]] this
    * DOES descend into subquery bodies: planning those bodies resolves
    * their own scalar subqueries eagerly too. */
  private def compoundHasScalarSub(cq: CompoundQuery): Boolean = {
    def colHas(c: Col): Boolean = c match {
      case _: ScalarSubquery => true
      case InSubquery(e, sub) => colHas(e) || go(sub)
      case ExistsSubquery(sub) => go(sub)
      case QuantifiedCmp(e, _, _, sub) => colHas(e) || go(sub)
      case BinOp(_, l, r)     => colHas(l) || colHas(r)
      case Not(ch)            => colHas(ch)
      case Alias(ch, _)       => colHas(ch)
      case Like(ch, _)        => colHas(ch)
      case Cast(ch, _)        => colHas(ch)
      case IsNull(ch)         => colHas(ch)
      case AggCol(_, ch, _)   => colHas(ch)
      case FuncCall(_, as)    => as.exists(colHas)
      case CaseWhen(bs, e) =>
        bs.exists { case (w, v) => colHas(w) || colHas(v) } || e.exists(colHas)
      case WindowFn(_, as, pb, ob, _, _) =>
        as.exists(colHas) || pb.exists(colHas) ||
          ob.exists { case (oc, _) => colHas(oc) }
      case _ => false
    }
    def refHas(t: graft.sql.TableRef): Boolean = t.subquery.exists(go)
    def blockHas(q: SqlQuery): Boolean =
      (q.select.map(_.expr) ++ q.where ++ q.groupBy ++ q.having ++
        q.qualify ++ q.orderBy.map(_._1) ++ q.joins.map(_.on)).exists(colHas) ||
      (q.from +: q.joins.map(_.table)).exists(refHas)
    def go(c: CompoundQuery): Boolean =
      (c.head +: c.tail.map(_._3)).exists(blockHas) ||
        c.orderBy.map(_._1).exists(colHas) ||
        c.ctes.exists { case (_, b) => go(b) }
    go(cq)
  }

  private def substituteScalar(c: Col, target: ScalarSubquery, repl: Col): Col =
    c match {
      case s: ScalarSubquery if s == target => repl
      case Alias(ch, n)   => Alias(substituteScalar(ch, target, repl), n)
      case BinOp(o, l, r) => BinOp(o, substituteScalar(l, target, repl),
                                   substituteScalar(r, target, repl))
      case Not(ch)        => Not(substituteScalar(ch, target, repl))
      case Like(ch, p)    => Like(substituteScalar(ch, target, repl), p)
      case Cast(ch, d)    => Cast(substituteScalar(ch, target, repl), d)
      case IsNull(ch)     => IsNull(substituteScalar(ch, target, repl))
      case AggCol(f, ch, n) => AggCol(f, substituteScalar(ch, target, repl), n)
      case FuncCall(f, as) => FuncCall(f, as.map(substituteScalar(_, target, repl)))
      case CaseWhen(bs, e) =>
        CaseWhen(bs.map { case (w, v) =>
          (substituteScalar(w, target, repl), substituteScalar(v, target, repl)) },
          e.map(substituteScalar(_, target, repl)))
      case other          => other
    }

  /** Plan a WHERE conjunct containing CORRELATED scalar subqueries
    * (TPC-H Q2/Q17/Q20's `x < (SELECT agg(...) WHERE inner.k = outer.k)`)
    * by classic aggregate decorrelation: group the subquery's FROM/JOIN
    * frame (local WHERE conjuncts pushed inside) by its correlation key
    * columns, compute the aggregate per key, INNER-join the result to
    * the outer frame on the correlation equalities, substitute the
    * aggregate column into the comparison, filter, and drop the helper
    * columns. One distributed agg + one equi-join — no per-row
    * re-execution, broadcast-able when the keyed aggregate is small.
    *
    * Semantics note (null-free engine reading, like [[resolveScalars]]'
    * empty-result error): an outer row whose correlation key has NO
    * subquery rows fails the predicate (the inner join drops it) —
    * which matches SQL's NULL-comparison outcome for every aggregate
    * except COUNT-of-empty, which SQL defines as 0. A bare correlated
    * COUNT therefore renders as a LEFT join + `coalesce(value, 0)`
    * (exact SQL semantics); a COUNT nested inside a larger select
    * expression (`COUNT(*) + 1`) has no coalesce rendering for the
    * empty group and is rejected loudly rather than mis-evaluated.
    * The conjunct must BE the comparison (under OR the drop-on-empty
    * rendering would be wrong — rejected loudly). */
  private def correlatedScalarFilter(frame: GraftFrame, cond: Col,
      scope: Map[String, GraftFrame]): GraftFrame = {
    cond match {
      case BinOp(op, _, _) if op != "&" && op != "|" => ()
      case _ => throw new SemanticError(
        "A correlated scalar subquery must appear in a comparison that is " +
        "its own top-level AND conjunct of WHERE, e.g. " +
        "`x < (SELECT avg(...) FROM t WHERE t.k = outer.k)`")
    }
    var fr = frame
    var cond2 = cond
    val helperCols = ListBuffer.empty[String]
    var remaining = collectScalarSubs(cond2)
    while (remaining.nonEmpty) {
      val target = remaining.head
      val (joined, ref) = attachCorrelatedScalar(fr, target, scope, helperCols)
      fr = joined
      cond2 = substituteScalar(cond2, target, ref)
      remaining = collectScalarSubs(cond2)
    }
    fr = fr.filter(cond2)
    GraftFrame.fromDF(fr.df.drop(helperCols.toSeq: _*))
  }

  /** Join one correlated scalar subquery's per-key aggregate onto
    * `outer`; returns the joined frame and the ref standing in for the
    * subquery's value. Helper output names are freshened against the
    * outer frame and recorded in `helperCols` for the caller to drop. */
  private def attachCorrelatedScalar(outer: GraftFrame, s: ScalarSubquery,
      scope: Map[String, GraftFrame],
      helperCols: ListBuffer[String]): (GraftFrame, Col) = {
    val q = s.subquery.head
    val (_, isOuterRef) = blockFrame(q, scope)
    val conjs = q.where.toSeq.flatMap(splitAnd)
    val (correlated, local) = conjs.partition(c =>
      collectRefs(c).exists(isOuterRef))
    // each correlated conjunct must be inner-column = outer-column — the
    // only shape with a group-by rendering; anything else has no keyed
    // aggregate reading (reject rather than mis-evaluate)
    val keyPairs: Seq[(String, String)] = correlated.map {
      case BinOp("==", ColRef(a), ColRef(b)) =>
        (isOuterRef(a), isOuterRef(b)) match {
          case (true, false)  => (a, b) // (outer, inner)
          case (false, true)  => (b, a)
          case _ => throw new SemanticError(
            s"Correlated scalar subquery predicate must compare an inner " +
            s"column with an outer column: $a = $b")
        }
      case other => throw new SemanticError(
        "Correlated scalar subquery predicates must be top-level AND " +
        s"equality comparisons between columns; got: $other")
    }
    val innerKeys = keyPairs.map(_._2).distinct
    def fresh(base: String): String = {
      var n = base
      while (outer.df.columns.contains(n) || helperCols.contains(n)) n += "_"
      n
    }
    val keyNames = innerKeys.map(k => fresh("_ck_" + k.replace('.', '_')))
    val keyName = innerKeys.zip(keyNames).toMap
    val valName = fresh("_scalar")
    val selExpr = q.select.head.expr match {
      case Alias(e, _) => e
      case e           => e
    }
    // COUNT over an empty correlation group is 0 in SQL, but the keyed
    // aggregate has no row for it — a bare COUNT gets the left-join +
    // coalesce rendering below; a COUNT buried in arithmetic has no
    // such rendering (COUNT(*)+1 over empty is 1, not coalesce-0) and
    // is rejected rather than mis-evaluated
    val isBareCount = selExpr match {
      case AggCol(f, _, _) => f == "count" || f == "count_distinct"
      case _               => false
    }
    if (!isBareCount && collectNestedCounts(selExpr))
      throw new SemanticError(
        "A correlated scalar subquery may use COUNT only as the bare " +
        "select expression (COUNT over an empty group is 0, which has " +
        s"no keyed-aggregate rendering inside a larger expression): $selExpr")
    // the keyed aggregate, planned through the normal grouped machinery
    // (agg naming, GROUP BY validity, qualifier cleanup all reused)
    val innerQ = SqlQuery(
      select = innerKeys.map(k =>
          SelectItem(Alias(ColRef(k), keyName(k)), star = false)) :+
        SelectItem(Alias(selExpr, valName), star = false),
      from = q.from, joins = q.joins,
      where = local.reduceOption(_ && _),
      groupBy = innerKeys.map(ColRef(_)),
      having = None, orderBy = Nil, limit = None, distinct = false)
    val agged = plan(innerQ, scope)
    val joinCond = keyPairs.map { case (o, i) =>
      (ColRef(o): Col) === ColRef(keyName(i))
    }.reduce(_ && _)
    helperCols ++= keyNames += valName
    if (isBareCount)
      (outer.join(agged, joinCond, "left"),
        FuncCall("coalesce", Seq(ColRef(valName), Lit(0L))))
    else
      (outer.join(agged, joinCond, "inner"), ColRef(valName))
  }

  /** True when any COUNT/COUNT DISTINCT aggregate appears in the tree. */
  private def collectNestedCounts(c: Col): Boolean = c match {
    case AggCol(f, ch, _) => f == "count" || f == "count_distinct" ||
      collectNestedCounts(ch)
    case Alias(ch, _)    => collectNestedCounts(ch)
    case BinOp(_, l, r)  => collectNestedCounts(l) || collectNestedCounts(r)
    case Not(ch)         => collectNestedCounts(ch)
    case Like(ch, _)     => collectNestedCounts(ch)
    case Cast(ch, _)     => collectNestedCounts(ch)
    case IsNull(ch)      => collectNestedCounts(ch)
    case FuncCall(_, as) => as.exists(collectNestedCounts)
    case CaseWhen(bs, e) =>
      bs.exists { case (w, v) =>
        collectNestedCounts(w) || collectNestedCounts(v) } ||
        e.exists(collectNestedCounts)
    case _               => false
  }

  /** Every column reference in an expression tree (subquery bodies
    * excluded — their refs resolve in their own scope). */
  private def collectRefs(c: Col): Seq[String] = c match {
    case ColRef(r)       => Seq(r)
    case Alias(ch, _)    => collectRefs(ch)
    case BinOp(_, l, r)  => collectRefs(l) ++ collectRefs(r)
    case Not(ch)         => collectRefs(ch)
    case Like(ch, _)     => collectRefs(ch)
    case Cast(ch, _)     => collectRefs(ch)
    case IsNull(ch)      => collectRefs(ch)
    case AggCol(_, ch, _) => collectRefs(ch)
    case FuncCall(_, as) => as.flatMap(collectRefs)
    case CaseWhen(bs, e) =>
      bs.flatMap { case (w, v) => collectRefs(w) ++ collectRefs(v) } ++
        e.toSeq.flatMap(collectRefs)
    case WindowFn(_, as, pb, ob, _, _) =>
      as.flatMap(collectRefs) ++ pb.flatMap(collectRefs) ++
        ob.flatMap { case (oc, _) => collectRefs(oc) }
    case InSubquery(e, _) => collectRefs(e)
    case QuantifiedCmp(e, _, _, _) => collectRefs(e)
    case _               => Seq.empty
  }

  private def inJoin(frame: GraftFrame, e: Col, sub: CompoundQuery,
                     scope: Map[String, GraftFrame], anti: Boolean): GraftFrame = {
    val planned = evalCompound(sub, scope)
    val cols = planned.df.columns
    if (cols.length != 1)
      throw new SemanticError(
        s"IN subquery must produce exactly one column, got ${cols.length} " +
        cols.mkString("(", ", ", ")"))
    // rename the subquery output away from any left-side column so the
    // join condition compiles unambiguously
    var name = "_in_sq"
    while (frame.df.columns.contains(name)) name += "_"
    val right = GraftFrame.fromDF(planned.df.select(planned.df.col(cols(0)).as(name)))
    frame.join(right, e === ColRef(name), if (anti) "left_anti" else "left_semi")
  }

  /** Replace every [[ScalarSubquery]] with the literal it evaluates to:
    * plan the subquery under the enclosing CTE scope, demand exactly one
    * column, take 2 rows to prove there is exactly one (never an
    * unbounded collect), and inline the value. Empty → loud error
    * rather than SQL's NULL (null-free world, [[Col.ScalarSubquery]]).
    * Textually repeated subqueries evaluate ONCE per scope
    * ([[scalarCache]] — the AST is a case class, so structural equality
    * keys the memo). Does NOT descend into [[InSubquery]]/derived-table
    * compounds — their own plan() pass substitutes their blocks. */
  private val scalarCache =
    scala.collection.mutable.Map.empty[(CompoundQuery, Map[String, GraftFrame]), Col]

  private def resolveScalars(c: Col, scope: Map[String, GraftFrame]): Col = c match {
    // CORRELATED scalar subqueries cannot inline as a literal — leave
    // the node for applyWhere's aggregate-decorrelation rewrite
    case s @ ScalarSubquery(sub) if isCorrelatedScalar(sub, scope) => s
    case ScalarSubquery(sub) =>
      scalarCache.getOrElseUpdate((sub, scope), {
      val planned = evalCompound(sub, scope)
      if (planned.df.columns.length != 1)
        throw new SemanticError(
          s"Scalar subquery must produce one column, got ${planned.df.columns.length}")
      val rows = planned.df.take(2)
      if (rows.isEmpty)
        throw new SemanticError("Scalar subquery returned no rows")
      if (rows.length > 1)
        throw new SemanticError("Scalar subquery returned more than one row")
      rows(0).get(0) match {
        case null => throw new SemanticError("Scalar subquery returned NULL")
        case t: java.time.Instant => Lit(java.sql.Timestamp.from(t))
        case d: java.time.LocalDate => Lit(java.sql.Date.valueOf(d))
        case d: java.math.BigDecimal => Lit(scala.math.BigDecimal(d))
        case v => Lit(v)
      }
      })
    case Alias(ch, n)    => Alias(resolveScalars(ch, scope), n)
    case BinOp(o, l, r)  => BinOp(o, resolveScalars(l, scope), resolveScalars(r, scope))
    case Not(ch)         => Not(resolveScalars(ch, scope))
    case Like(ch, p)     => Like(resolveScalars(ch, scope), p)
    case Cast(ch, d)     => Cast(resolveScalars(ch, scope), d)
    case IsNull(ch)      => IsNull(resolveScalars(ch, scope))
    case AggCol(f, ch, n) => AggCol(f, resolveScalars(ch, scope), n)
    case FuncCall(f, as) => FuncCall(f, as.map(resolveScalars(_, scope)))
    case CaseWhen(bs, e) =>
      CaseWhen(bs.map { case (w, v) =>
        (resolveScalars(w, scope), resolveScalars(v, scope)) },
        e.map(resolveScalars(_, scope)))
    case WindowFn(f, as, pb, ob, fr, rng) =>
      WindowFn(f, as.map(resolveScalars(_, scope)), pb.map(resolveScalars(_, scope)),
        ob.map { case (oc, asc) => (resolveScalars(oc, scope), asc) }, fr, rng)
    case InSubquery(e, sub) => InSubquery(resolveScalars(e, scope), sub)
    case QuantifiedCmp(e, op, fa, sub) =>
      QuantifiedCmp(resolveScalars(e, scope), op, fa, sub)
    case other           => other
  }

  /** Plan `expr <op> ANY|ALL (SELECT ...)` (uncorrelated): `= ANY` IS
    * the IN semi join and `<> ALL` IS the NOT IN anti join; the four
    * range operators reduce to a comparison against ONE plan-time
    * 4-scalar aggregate of the subquery column —
    *   x > ALL(S) ⇔ x > max(S)    x > ANY(S) ⇔ x > min(S)
    *   x < ALL(S) ⇔ x < min(S)    x < ANY(S) ⇔ x < max(S)
    * (≥/≤ likewise) — never a value collect, so the subquery may be any
    * size. An empty subquery makes ALL vacuously true and ANY false
    * (standard SQL); a NULL among the values would make the comparison
    * three-valued, which has no rendering in the engine's null-free
    * world — rejected loudly, like every other unsupported shape.
    * `= ALL` / `<> ANY` (useful only for single-valued or constant
    * subqueries) are rejected with a pointer at the scalar-subquery
    * spelling that covers the meaningful case. */
  private def quantifiedFilter(frame: GraftFrame, e: Col, op: String,
                               forAll: Boolean, sub: CompoundQuery,
                               scope: Map[String, GraftFrame]): GraftFrame = {
    (op, forAll) match {
      case ("=", false)  => return inJoin(frame, e, sub, scope, anti = false)
      case ("!=", true)  => return inJoin(frame, e, sub, scope, anti = true)
      case ("=", true) => throw new SemanticError(
        "= ALL (SELECT ...) is not supported — compare to a scalar " +
        "subquery, or use = ANY / IN for membership")
      case ("!=", false) => throw new SemanticError(
        "<> ANY (SELECT ...) is not supported — use NOT IN / <> ALL " +
        "for non-membership")
      case _ => ()
    }
    val planned = evalCompound(sub, scope)
    val cols = planned.df.columns
    if (cols.length != 1)
      throw new SemanticError(
        s"ANY/ALL subquery must produce exactly one column, got ${cols.length}")
    import org.apache.spark.sql.{functions => F}
    val c = planned.df.col(cols(0))
    val row = planned.df.agg(F.count(F.lit(1)), F.count(c), F.min(c), F.max(c))
      .head()
    val (cnt, nonNull) = (row.getLong(0), row.getLong(1))
    if (cnt == 0)
      // ALL over an empty set is vacuously TRUE, ANY is FALSE
      return if (forAll) frame else GraftFrame.fromDF(frame.df.limit(0))
    if (nonNull < cnt)
      throw new SemanticError(
        "ANY/ALL subquery returned NULL values — the three-valued " +
        "comparison has no rendering here (filter them in the subquery)")
    val bound = Lit(row.get(if (forAll == (op == "<" || op == "<=")) 2 else 3)
      match {
        case t: java.time.Instant    => java.sql.Timestamp.from(t)
        case d: java.time.LocalDate  => java.sql.Date.valueOf(d)
        case d: java.math.BigDecimal => scala.math.BigDecimal(d)
        case v => v
      })
    val pred = op match {
      case ">"  => e > bound
      case ">=" => e >= bound
      case "<"  => e < bound
      case "<=" => e <= bound
      case other => throw new SemanticError(s"unsupported quantified op $other")
    }
    frame.filter(pred)
  }

  private def containsInSubquery(c: Col): Boolean = c match {
    case _: InSubquery      => true
    case _: ExistsSubquery  => true
    case _: QuantifiedCmp   => true
    case Alias(ch, _)    => containsInSubquery(ch)
    case BinOp(_, l, r)  => containsInSubquery(l) || containsInSubquery(r)
    case Not(ch)         => containsInSubquery(ch)
    case Like(ch, _)     => containsInSubquery(ch)
    case Cast(ch, _)     => containsInSubquery(ch)
    case IsNull(ch)      => containsInSubquery(ch)
    case AggCol(_, ch, _) => containsInSubquery(ch)
    case FuncCall(_, as) => as.exists(containsInSubquery)
    case CaseWhen(bs, e) =>
      bs.exists { case (w, v) => containsInSubquery(w) || containsInSubquery(v) } ||
        e.exists(containsInSubquery)
    case WindowFn(_, as, pb, ob, _, _) =>
      as.exists(containsInSubquery) || pb.exists(containsInSubquery) ||
        ob.exists { case (oc, _) => containsInSubquery(oc) }
    case _               => false
  }

  private def collectAggs(c: Col): Seq[AggCol] = c match {
    case a: AggCol      => Seq(a)
    // a window's inner aggregate is per-row output, not a grouping agg
    case _: WindowFn    => Seq.empty
    case BinOp(_, l, r) => collectAggs(l) ++ collectAggs(r)
    case Alias(ch, _)   => collectAggs(ch)
    case Not(ch)        => collectAggs(ch)
    case Like(ch, _)    => collectAggs(ch)
    case Cast(ch, _)    => collectAggs(ch)
    case IsNull(ch)     => collectAggs(ch)
    case FuncCall(_, as) => as.flatMap(collectAggs)
    case CaseWhen(bs, e) =>
      bs.flatMap { case (w, v) => collectAggs(w) ++ collectAggs(v) } ++
        e.toSeq.flatMap(collectAggs)
    case _              => Seq.empty
  }

  private def containsWindow(c: Col): Boolean = c match {
    case _: WindowFn     => true
    case Alias(ch, _)    => containsWindow(ch)
    case BinOp(_, l, r)  => containsWindow(l) || containsWindow(r)
    case Not(ch)         => containsWindow(ch)
    case Like(ch, _)     => containsWindow(ch)
    case Cast(ch, _)     => containsWindow(ch)
    case IsNull(ch)      => containsWindow(ch)
    case AggCol(_, ch, _) => containsWindow(ch)
    case FuncCall(_, as) => as.exists(containsWindow)
    case CaseWhen(bs, e) =>
      bs.exists { case (w, v) => containsWindow(w) || containsWindow(v) } ||
        e.exists(containsWindow)
    case _               => false
  }

  /** Give every aggregate a stable output name, collect it into `acc`, and
    * return the select item rewritten to refer to computed columns. */
  private def nameAggs(c: Col, acc: ListBuffer[Col]): Col = c match {
    case a @ AggCol(_, _, Some(n)) => acc += a; ColRef(n)
    case a @ AggCol(_, child, None) =>
      // simple children keep the readable derived name (sum_x); complex
      // children (CASE, function calls, arithmetic) get a stable
      // synthetic name — their toString-derived fallback can embed
      // qualified refs whose dots stripQualifiers would then mangle into
      // an unresolvable final projection
      val n = child match {
        case ColRef(_) | Lit(_) => a.name
        case _                  => s"_agg_${acc.length}"
      }
      acc += a.aliased(n); ColRef(n)
    case Alias(a: AggCol, n) => acc += a.aliased(n); ColRef(n)
    case Alias(ch, n)        => Alias(nameAggs(ch, acc), n)
    case BinOp(op, l, r)     => BinOp(op, nameAggs(l, acc), nameAggs(r, acc))
    case IsNull(ch)          => IsNull(nameAggs(ch, acc))
    case Cast(ch, dt)        => Cast(nameAggs(ch, acc), dt)
    case Not(ch)             => Not(nameAggs(ch, acc))
    case FuncCall(f, as)     => FuncCall(f, as.map(nameAggs(_, acc)))
    case CaseWhen(bs, e) =>
      CaseWhen(bs.map { case (w, v) => (nameAggs(w, acc), nameAggs(v, acc)) },
        e.map(nameAggs(_, acc)))
    case other               => other
  }

  /** Post-aggregation, table-alias qualifiers no longer resolve
    * (`u.country` → `country`); rewrite dotted refs to their bare name
    * (reference: plan.py:206-222 final de-aliasing projection). */
  private def stripQualifiers(c: Col): Col = c match {
    case ColRef(r) if r.contains('.') => ColRef(r.split('.').last)
    case Alias(ch, n)    => Alias(stripQualifiers(ch), n)
    case BinOp(op, l, r) => BinOp(op, stripQualifiers(l), stripQualifiers(r))
    case Not(ch)         => Not(stripQualifiers(ch))
    case Like(ch, p)     => Like(stripQualifiers(ch), p)
    case Cast(ch, d)     => Cast(stripQualifiers(ch), d)
    case IsNull(ch)      => IsNull(stripQualifiers(ch))
    case FuncCall(f, as) => FuncCall(f, as.map(stripQualifiers))
    case CaseWhen(bs, e) =>
      CaseWhen(bs.map { case (w, v) => (stripQualifiers(w), stripQualifiers(v)) },
        e.map(stripQualifiers))
    case WindowFn(f, as, pb, ob, fr, rng) =>
      WindowFn(f, as.map(stripQualifiers), pb.map(stripQualifiers),
        ob.map { case (c, asc) => (stripQualifiers(c), asc) }, fr, rng)
    case other           => other
  }

  /** Replace aggregates inside a HAVING predicate with hidden columns
    * named `_having_<agg-name>` (reference: parser.py:153-157), reusing an
    * already-computed aggregate when the same expression appears in the
    * select list (reference: sql.py:433-434 normalize_agg_columns). */
  private def rewriteHaving(c: Col, acc: ListBuffer[Col]): Col = c match {
    case a: AggCol =>
      val existing = acc.collectFirst {
        case e @ AggCol(f, ch, Some(n)) if f == a.fn && ch == a.child => n
      }
      existing match {
        case Some(n) => ColRef(n)
        case None =>
          val n = s"_having_${a.name}"
          acc += a.aliased(n)
          ColRef(n)
      }
    case BinOp(op, l, r) => BinOp(op, rewriteHaving(l, acc), rewriteHaving(r, acc))
    case Not(ch)         => Not(rewriteHaving(ch, acc))
    case Alias(ch, n)    => Alias(rewriteHaving(ch, acc), n)
    case IsNull(ch)      => IsNull(rewriteHaving(ch, acc))
    case FuncCall(f, as) => FuncCall(f, as.map(rewriteHaving(_, acc)))
    case CaseWhen(bs, e) =>
      CaseWhen(bs.map { case (w, v) => (rewriteHaving(w, acc), rewriteHaving(v, acc)) },
        e.map(rewriteHaving(_, acc)))
    case other           => other
  }
}

object Engine {
  def apply(spark: SparkSession, baseDir: String): Engine =
    new Engine(spark, Some(baseDir))
  def apply(spark: SparkSession): Engine = new Engine(spark, None)

  /** Run `body` with the given session confs pinned when `cond` holds,
    * each restored (or unset, if it was unset) in finally. THE one copy
    * of the save/set/restore dance — callers must not inline their
    * own. */
  private[graft] def withConfs[T](spark: SparkSession, cond: Boolean,
      kvs: (String, String)*)(body: => T): T =
    if (!cond) body
    else {
      val prevs = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prevs.foreach { case (k, p) =>
        p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  /** Run `body` with AQE pinned off when `cond` holds — for
    * delta-sized driver-synchronous work (the small-source MERGE, the
    * CDC apply's staging write) where every join already broadcasts /
    * nothing re-plans, and each AQE-materialized exchange costs a
    * stage-job scheduling floor. */
  private[graft] def withAqeOff[T](
      spark: SparkSession, cond: Boolean)(body: => T): T =
    withConfs(spark, cond, "spark.sql.adaptive.enabled" -> "false")(body)

  /** Small-source MERGE statement confs: AQE off (see [[withAqeOff]])
    * AND single-partition leaf execution for the statement's
    * driver-built LocalRelations. The latter replaces the former
    * `coalesce(1)` wrapping: a bare `LocalTableScan` under a
    * `BroadcastExchange` is collected DRIVER-SIDE (zero scheduler
    * jobs), while the Coalesce wrapper forced a real 1-task job per
    * broadcast build — 5 of the CDC apply's 13 per-statement jobs in
    * the round-18 census were exactly these. Direct (non-broadcast)
    * executions of those relations run 1 task instead of cores-many
    * mostly-empty ones, which is what the coalesce was for. */
  private[graft] def withSmallStmtConfs[T](
      spark: SparkSession, cond: Boolean)(body: => T): T =
    withConfs(spark, cond,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.leafNodeDefaultParallelism" -> "1",
      // leafNodeDefaultParallelism is also files.minPartitionNum's
      // default, which would glue a whole delta-sized segment scan
      // into ONE task (measured: the match join tripled).
      // A modest explicit floor keeps small scans parallel while the
      // statement's LocalRelations stay single-task; big scans split
      // by maxPartitionBytes regardless.
      "spark.sql.files.minPartitionNum" -> "8")(body)

  /** MERGE small-source gate: a plain-parquet USING source at or under
    * these footprints (known from footers alone) is collected into a
    * LocalRelation so the match join and insert anti-join broadcast
    * it. 64k rows / 16 MB ON-DISK (compressed — in-memory Rows expand
    * several-fold, so this bounds the driver copy near ~100 MB worst
    * case) keeps it well under broadcast-join norms; past either bound
    * the source checkpoints distributed as before. */
  private[graft] val MergeSmallSourceRows = 65536L
  private[graft] val MergeSmallSourceBytes = 16L * 1024 * 1024

  /** Small-match gate: a MERGE match set at or under this many rows
    * (the observed checkpoint count — exact, no extra job) is
    * collected so the cardinality/action rollup runs driver-side, its
    * fired positions filter the rewrite inside the scan, and
    * downstream joins against it broadcast; a vectored UPDATE/DELETE
    * under it builds its vectors and change rows on the driver. The
    * row cap is scaled down for wide rows (see [[smallMatchRowCap]]). */
  private[graft] val MergeSmallMatchRows = 65536L
  private[graft] val MergeSmallMatchBytes = 32L * 1024 * 1024

  /** The small-match row cap for rows of `schema`:
    * [[MergeSmallMatchRows]], scaled down for wide rows so the driver
    * copy also stays within [[MergeSmallMatchBytes]] of schema-estimated
    * width. Shared by MERGE's pairs and the vectored DML's matched rows. */
  private[graft] def smallMatchRowCap(
      schema: org.apache.spark.sql.types.StructType): Long = {
    val rowW = math.max(8, schema.fields.map(_.dataType.defaultSize).sum)
    math.min(MergeSmallMatchRows, MergeSmallMatchBytes / rowW)
  }

  /** Run `body` with its Spark jobs labelled `desc` (the job
    * description the UI, event log and listeners show), restoring the
    * caller's label after — so stages say which statement step spawned
    * them. */
  private[graft] def withJobDescription[T](spark: SparkSession,
      desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}
