package graft

import scala.collection.mutable.ListBuffer

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedHaving}
import org.apache.spark.sql.catalyst.expressions.{Cube, Exists, Expression, GroupingSets, NamedExpression, OuterReference, Rollup, SubExprUtils, ScalarSubquery => CatalystScalar}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, MapType, StringType, StructField, StructType}

import graft.api.{Col, GraftFrame}
import graft.api.Col._
import graft.sql.{CompoundQuery, GroupByError, JoinClause, SelectItem, SemanticError, SqlParser, SqlQuery, Statement, TableRef}
import graft.sql.Statement._
import graft.sources.{Tables, Versioned}

/** Engine facade: `sql / collect / show / explain`
  * (reference: src/mini_spark/execution.py:57-62 ExecutionEngine.sql).
  *
  * Planning a parsed query follows the reference's clause order
  * (reference: src/mini_spark/parser.py:124-162 visit_query):
  * table → joins → where-filter → grouped select → order/limit. A
  * grouped block (GROUP BY, or an aggregate in the select list) is one
  * Catalyst `Aggregate` with its HAVING left to the analyzer, which also
  * rejects a selected column that is neither a key nor aggregated
  * ([[GroupByError]], reference: parser.py:143-151).
  */
final class Engine(val spark: SparkSession, val baseDir: Option[String] = None) {

  /** Driver-side row count of a PLAIN `.parquet` file/dir — the
    * MERGE small-source gate's metadata probe: a recursive listing plus
    * footer record counts, KB-sized reads, no Spark job. `None` when
    * the path is not plain parquet, holds any non-parquet data file
    * (the reader would still scan it — price as unknown), or exceeds
    * [[Engine.MergeSmallSourceBytes]] / 64 files (footer walks stay
    * cheap or don't happen). */
  private def plainParquetRows(path: String): Option[Long] =
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
      Some(files.iterator.map { f =>
        val rdr = graft.sources.Tables.openParquet(conf, f)
        try rdr.getRecordCount finally rdr.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[Engine.withSmallStmtConfs]] over this instance's session. */
  private def withSmallStmtConfs[T](cond: Boolean)(body: => T): T =
    Engine.withSmallStmtConfs(spark, cond)(body)

  /** Session-scoped views: name → parsed body, re-planned at every use
    * (standard non-materialized view semantics — a view over a
    * Versioned dataset tracks its head, and underlying-table changes
    * are visible immediately). FROM resolution consults views first,
    * then disk; CTE/subquery scope still shadows views (the standard
    * layering: the nearest definition wins). */
  private val views =
    scala.collection.mutable.LinkedHashMap.empty[String, CompoundQuery]

  /** names currently being expanded — a view whose body references
    * itself (directly or through another view) must fail loudly, not
    * recurse forever */
  private val viewStack = scala.collection.mutable.LinkedHashSet.empty[String]

  def table(ref: String): GraftFrame = views.get(ref) match {
    case Some(body) =>
      if (!viewStack.add(ref)) throw new SemanticError(
        s"view '$ref' is recursive (expansion chain: " +
        s"${viewStack.mkString(" -> ")} -> $ref)")
      try evalCompound(body, Map.empty)
      finally viewStack.remove(ref)
    case None => GraftFrame.fromDF(Tables.load(spark, ref, baseDir))
  }

  /** Run one statement of the dialect (see [[graft.sql.Statement]]):
    * DDL, DML and utility statements run eagerly and return their
    * status rows; a query returns its lazily planned frame. */
  def sql(query: String): GraftFrame = execute(SqlParser.parseStatement(query))

  /** Execute a parsed statement. Its Spark jobs carry the statement's
    * kind as their job description (MERGE labels its steps more
    * finely). A query is planned, not run: its subqueries are Catalyst
    * subquery expressions, so no job runs before the caller's action.
    * A shape Catalyst's analyzer rejects is the statement's
    * [[SemanticError]]; a column a grouped block neither groups nor
    * aggregates is its [[GroupByError]]. */
  def execute(stmt: Statement): GraftFrame =
    try Engine.withJobDescription(spark, stmt.kind)(run(stmt))
    catch { case e: AnalysisException =>
      throw (e.getCondition match {
        case "MISSING_AGGREGATION" | "MISSING_GROUP_BY" =>
          new GroupByError(e.getMessage)
        case _ => new SemanticError(e.getMessage)
      }).initCause(e) }

  /** A statement's one status row: `(column, value)` pairs, each
    * column typed from its value (Long, Int, Boolean, else String) and
    * non-nullable. */
  private def statusRow(cols: (String, Any)*): GraftFrame =
    rowsFrame(StructType(cols.map { case (n, v) =>
      StructField(n, v match {
        case _: Long    => LongType
        case _: Int     => IntegerType
        case _: Boolean => BooleanType
        case _          => StringType
      }, nullable = false)
    }), Seq(Row.fromSeq(cols.map(_._2))))

  /** Non-nullable columns of a driver-side result. */
  private def schemaOf(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })

  private def rowsFrame(schema: StructType, rows: Seq[Row]): GraftFrame =
    GraftFrame.fromDF(spark.createDataFrame(rows.asJava, schema))

  private def notVersioned(kind: String, resolved: String) =
    new SemanticError(s"$kind requires a Versioned dataset at '$resolved'")

  /** The resolved path of `target`, which must be a Versioned dataset:
    * DML, history and maintenance statements need its manifests. */
  private def versionedPath(kind: String, target: String): String = {
    val resolved = Tables.resolve(target, baseDir)
    if (Versioned.versions(spark, resolved).isEmpty)
      throw notVersioned(kind, resolved)
    resolved
  }

  /** `body`, with the storage layer's argument errors surfaced as the
    * statement's [[SemanticError]]. */
  private def semantic[T](body: => T): T =
    try body
    catch { case e: IllegalArgumentException => throw new SemanticError(e.getMessage) }

  /** DML expressions have no evaluation scope for subqueries. */
  private def noSubqueries(what: String, cs: Col*): Unit =
    if (cs.exists(_.exists {
        case _: ScalarSubquery | _: ExistsSubquery | _: InSubquery |
             _: QuantifiedCmp => true
        case _ => false
      }))
      throw new SemanticError(s"$what cannot contain subqueries")

  private def run(stmt: Statement): GraftFrame = stmt match {
    case Query(q) => evalCompound(q, Map.empty)

    // views: the body is planned at definition, so broken references
    // fail here; it is registered first, so a self-referential body
    // trips the cycle guard with the chain named, and rolled back when
    // it does not plan
    case CreateView(name, orReplace, body) =>
      if (views.contains(name) && !orReplace)
        throw new SemanticError(s"view '$name' already exists — " +
          "use CREATE OR REPLACE VIEW to redefine it")
      val prior = views.put(name, body)
      val cols =
        try table(name).df.columns.length
        catch { case e: Throwable =>
          prior.fold(views.remove(name))(views.put(name, _)): Unit
          throw e
        }
      statusRow("view_name" -> name, "n_columns" -> cols.toLong)
    case DropView(name, ifExists) =>
      val existed = views.remove(name).nonEmpty
      if (!existed && !ifExists)
        throw new SemanticError(s"view '$name' does not exist")
      statusRow("view_name" -> name, "dropped" -> existed)

    // CHECK constraints are enforced at the storage layer's single
    // write choke point; ADD validates the current head first. The
    // expression is Spark SQL; NULL passes (the SQL-standard rule).
    case AddConstraint(target, name, check) =>
      val resolved = versionedPath("ALTER CONSTRAINT", target)
      statusRow("version" -> constraintDdl(
        Versioned.addConstraint(spark, resolved, name, check)),
        "constraint_name" -> name)
    case DropConstraint(target, name) =>
      val resolved = versionedPath("ALTER CONSTRAINT", target)
      statusRow("version" -> constraintDdl(
        Versioned.dropConstraint(spark, resolved, name)),
        "constraint_name" -> name)
    case ShowConstraints(target) =>
      val resolved = Tables.resolve(target, baseDir)
      // `status`: `pending-drop` marks a constraint whose drop was
      // durably audited but whose file removal never landed (the
      // dropConstraint commit-first crash window — fail-safe
      // over-enforcement until the drop is re-run), so history and
      // enforcement can never disagree silently
      val pending = Versioned.pendingConstraintDrops(spark, resolved)
      rowsFrame(schemaOf("constraint_name" -> StringType,
          "check_expr" -> StringType, "status" -> StringType),
        Versioned.constraints(spark, resolved).toSeq.sortBy(_._1).map {
          case (n, e) => Row(n, e, if (pending(n)) "pending-drop" else "enforced")
        })

    // RESTORE rolls the head back AS A NEW COMMIT: the new manifest
    // references the old immutable segments, history stays intact
    case Restore(target, to) =>
      val resolved = versionedPath("RESTORE", target)
      val toV = semantic(to.fold(identity, ts =>
        Versioned.versionAt(spark, resolved, parseAsOfTimestamp(ts))))
      statusRow("version" -> semantic(Versioned.restore(spark, resolved, toV)),
        "restored_version" -> toV)
    case Vacuum(target, keep, dryRun) =>
      val resolved = versionedPath("VACUUM", target)
      if (dryRun) {
        // the operator's pre-flight — what retention at KEEP n would
        // delete and how many data bytes it frees — with nothing
        // touched (metadata walk only)
        val st = Versioned.vacuum(spark, resolved, keep, dryRun = true)
        statusRow("would_drop_versions" -> st.versionsDropped.toLong,
          "would_delete_segments" -> st.segmentsDeleted.toLong,
          "would_delete_dv_files" -> st.dvFilesDeleted.toLong,
          "would_delete_cdc_entries" -> st.cdcEntriesDeleted.toLong,
          "would_free_bytes" -> st.bytesFreed)
      } else {
        Versioned.vacuum(spark, resolved, keep): Unit
        val left = Versioned.versions(spark, resolved)
        statusRow("versions_kept" -> left.length.toLong,
          "head_version" -> left.last)
      }
    case Optimize(target, zorder, segments, purge) =>
      val resolved = versionedPath("OPTIMIZE", target)
      if (segments.nonEmpty && zorder.isEmpty)
        throw new SemanticError("SEGMENTS n only applies to OPTIMIZE " +
          "... ZORDER BY (plain OPTIMIZE sizes segments by bytes)")
      purge match {
        case Some(thr) =>
          // materialize deletion vectors: segments ≥ thr deleted (0:
          // every vectored segment) rewrite in place, the rest carry
          // byte-identical
          if (zorder.nonEmpty) throw new SemanticError(
            "OPTIMIZE PURGE does not combine with ZORDER BY (a ZORDER " +
              "republish already materializes every deletion vector)")
          val (v, n) = semantic(Versioned.purgeVectors(spark, resolved, thr))
          statusRow("version" -> v, "segments_purged" -> n.toLong)
        case None =>
          val before = Versioned.segmentCount(spark, resolved)
          // already-compact short-circuit: compact() would rewrite a
          // one-segment head IN FULL for zero benefit. ZORDER never
          // short-circuits: re-clustering a one-segment head is the
          // point; SEGMENTS k writes z-range segments, the
          // manifest-skipping and DML-granularity shape
          val v =
            if (zorder.nonEmpty) semantic(segments match {
              case Some(k) =>
                Versioned.optimizeZorderSegments(spark, resolved, zorder, k)
              case None => Versioned.optimizeZorder(spark, resolved, zorder)
            })
            else if (before <= 1) Versioned.versions(spark, resolved).last
            else Versioned.compact(spark, resolved)
          statusRow("version" -> v, "segments_compacted" -> before.toLong)
      }

    // DELETE: copy-on-write commits the surviving rows as a new
    // version; VECTORED lands the matched positions in deletion vectors
    // instead (every segment carries byte-identical)
    case Delete(target, where, vectored) =>
      val resolved = versionedPath("DELETE", target)
      noSubqueries("DELETE predicates", where)
      val snap = semantic(Versioned.pin(spark, resolved, "DELETE"))
      val v = semantic(Versioned.rowLevel(snap, where.compile(snap.schema),
        None, vectored))._1
      // status row from FOOTER metadata over the new manifest, never a
      // count of the new head
      statusRow("version" -> v,
        "n_rows" -> Versioned.rowCount(spark, resolved, Some(v)))
    case u: Update => update(u)
    case m: Merge => merge(m)
    case i: Insert => insert(i)

    case DescribeHistory(ref) =>
      val resolved = Tables.resolve(ref, baseDir)
      // commit_ts = the manifest's write time (rename-committed, written
      // once) in epoch ms. Versions AND mtimes come from ONE directory
      // listing — a vacuum racing between two listings would surface as
      // a bare NoSuchElementException on the mtime lookup — and the
      // manifests from ONE bulk read (distributed past the cutoff)
      val withMtime = Versioned.versionsWithMtime(spark, resolved).sortBy(_._1)
      if (withMtime.isEmpty) throw notVersioned("DESCRIBE HISTORY", resolved)
      val vs = withMtime.map(_._1)
      val mtimes = withMtime.toMap
      val bulk = Versioned.readManifestsBulk(spark, resolved, vs)
      // operation = the commit's #op header line ("" for versions
      // committed before operations were recorded). change_rows = the
      // DML's recorded change-row count (the `#cdc <dir> <n>` header):
      // NULL when the version recorded nothing (an append's inserts are
      // lazy, a reorganization is neutral)
      val rows = vs.map { v =>
        val (segs, meta) = bulk(v)
        val changeRows: java.lang.Long = meta.collectFirst {
          case l if l.startsWith("#cdc ") && l != "#cdc neutral" &&
              l.stripPrefix("#cdc ").split(" ").length > 1 =>
            java.lang.Long.valueOf(l.stripPrefix("#cdc ").split(" ")(1))
        }.orNull
        Row(v, segs.length, v == vs.last, mtimes(v),
          meta.collectFirst { case l if l.startsWith("#op ") =>
            l.stripPrefix("#op ") }.getOrElse(""),
          changeRows)
      }
      rowsFrame(schemaOf("version" -> LongType, "n_segments" -> IntegerType,
          "is_head" -> BooleanType, "commit_ts" -> LongType,
          "operation" -> StringType).add("change_rows", LongType, nullable = true),
        rows)
    // DESCRIBE: one (column_name, column_type, nullable) row per column
    // through the resolution FROM uses; types in lower-case Spark DDL
    case Describe(ref) =>
      rowsFrame(schemaOf("column_name" -> StringType,
          "column_type" -> StringType, "nullable" -> BooleanType),
        table(ref).df.schema.fields.toSeq.map(f =>
          // Locale.ROOT: 'BIGINT'.toLowerCase under tr-TR yields 'bıgınt'
          Row(f.name, f.dataType.sql.toLowerCase(java.util.Locale.ROOT),
            f.nullable)))

    // COPY: a task-parallel export of a query result as a directory of
    // part files — JSONL, CSV (with header), parquet, Avro OCF or framed
    // tf.Example TFRecord; the format defaults from the target extension
    case Copy(q, target, format) =>
      val df = evalCompound(q, Map.empty).df
      val fmt = format.map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse {
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
          // task-parallel OCF shards through the Avro core library, one
          // per task; count is the READ-BACK of the export
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
      statusRow("n_rows" -> n, "path" -> target)

    // ANALYZE: backfill data-skipping sidecars for segments missing one
    // (task-parallel footer walks, metadata only)
    case Analyze(ref) =>
      val (nSegs, nBuilt) =
        Versioned.analyzeStats(spark, versionedPath("ANALYZE", ref))
      statusRow("n_segments" -> nSegs.toLong, "n_built" -> nBuilt.toLong)
    // SUMMARIZE FOOTERS: per-column row/null counts and numeric min/max
    // from parquet FOOTERS alone, zero data pages decoded. String bounds
    // surface as NULL (parquet's binary min/max may be truncated)
    case SummarizeFooters(ref) =>
      val resolved = Tables.resolve(ref, baseDir)
      if (!resolved.endsWith(".parquet") &&
          Versioned.versions(spark, resolved).nonEmpty)
        throw new SemanticError("SUMMARIZE FOOTERS reads a raw parquet " +
          "directory's footers; resolve a Versioned dataset's segments " +
          "explicitly (footers cannot see manifest membership)")
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
    // SUMMARIZE: per-column non-null, null and EXACT distinct counts
    // plus min and max (stringified; NULL for non-orderable types) in
    // ONE aggregation pass — exact, so a differential oracle replays it
    case Summarize(ref) =>
      val df = table(ref).df
      // the single collected row is 4·ncols + 1 scalars — bounded by the
      // schema, never the data
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
      rowsFrame(schemaOf("column_name" -> StringType,
          "column_type" -> StringType, "n_nonnull" -> LongType,
          "n_null" -> LongType)
          .add("n_distinct", LongType, nullable = true) // NULL for maps
          .add("min_value", StringType, nullable = true)
          .add("max_value", StringType, nullable = true),
        fields.zipWithIndex.map { case (f, i) =>
          Row(f.name, f.dataType.sql.toLowerCase(java.util.Locale.ROOT),
            r.getLong(4 * i), total - r.getLong(4 * i),
            if (r.isNullAt(4 * i + 1)) null else r.getLong(4 * i + 1),
            if (r.isNullAt(4 * i + 2)) null else r.getString(4 * i + 2),
            if (r.isNullAt(4 * i + 3)) null else r.getString(4 * i + 3))
        })
    // SHOW TABLES: every FROM-by-extension table of the base directory,
    // one (table_name, format) row each, then the session's views
    case ShowTables =>
      val dir = baseDir.getOrElse(throw new SemanticError(
        "SHOW TABLES needs an engine base directory (tables are files; " +
        "without a directory there is nothing to list)"))
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
          // the catalog must list exactly what a bare-name FROM can read
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
        }
        .sortBy(_._1)
        .map { case (name, fmt) => Row(name, fmt) } ++
        views.keys.toSeq.sorted.map(n => Row(n, "view"))
      rowsFrame(schemaOf("table_name" -> StringType, "format" -> StringType),
        files)

    // EXPLAIN plans its query WITHOUT executing it and returns the
    // physical plan as rows of text
    case Explain(inner, formatted) =>
      val parsed = inner match {
        case Query(q) => q
        case _: CreateTableAs => throw new SemanticError("EXPLAIN does not " +
          "take CREATE TABLE (planning it would still write); EXPLAIN the " +
          "SELECT body")
        case other => throw new SemanticError(
          s"EXPLAIN takes a query, not ${other.kind}")
      }
      val mode = org.apache.spark.sql.execution.ExplainMode.fromString(
        if (formatted) "formatted" else "simple")
      rowsFrame(schemaOf("plan" -> StringType),
        evalCompound(parsed, Map.empty).df.queryExecution.explainString(mode)
          .split("\n").toSeq.map(Row(_)))

    // CTAS: a quoted target path, or a bare name resolved against the
    // base directory with the rule FROM uses, so the created table is
    // SELECTable in the next statement. Overwrites an existing target.
    case CreateTableAs(t, quoted, using, q) =>
      val frame = evalCompound(q, Map.empty)
      val target =
        if (quoted) t
        else baseDir match {
          case Some(d) => s"$d/$t.parquet"
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
      val fmt = using.map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse(
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
          Versioned.commit(frame.df, resolved, append = false): Unit
        case other => throw new SemanticError(
          s"Unknown CTAS format '$other' — USING parquet, blockfile, " +
          "blockdir or versioned")
      }
      table(resolved)
  }

  private def constraintDdl(body: => Long): Long =
    try semantic(body)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new SemanticError(
        s"constraint expression does not analyze: ${e.getMessage}") }

  /** UPDATE: rows where the predicate is TRUE carry the assigned values
    * (NULL keeps the row, the DELETE rule's mirror), each cast to its
    * column's committed type so the schema never drifts across
    * versions. Copy-on-write rewrites the affected segments; VECTORED
    * vectors the matched positions and appends one segment of their
    * updated copies — write cost ∝ matched rows. Both run through the
    * row-level core ([[Versioned.rowLevel]]). */
  private def update(u: Update): GraftFrame = {
    val resolved = versionedPath("UPDATE", u.target)
    noSubqueries("UPDATE expressions", u.where +: u.set.map(_._2): _*)
    val snap = semantic(Versioned.pin(spark, resolved, "UPDATE"))
    val sets = u.set.map { case (n, rhs) => n -> rhs.compile(snap.schema) }
    val (v, nUpdated) = semantic(Versioned.rowLevel(snap,
      u.where.compile(snap.schema), Some(sets), u.vectored))
    statusRow("version" -> v, "n_updated" -> nUpdated)
  }

  /** MERGE: one atomic copy-on-write commit applying the winning
    * WHEN MATCHED clause to each target row the ON condition pairs
    * with a source row (first match wins, in specification order), and
    * inserting the unmatched SOURCE rows. A target row matching MORE
    * than one source row is an error (Postgres/Delta), because "apply
    * both updates" has no defined order; an insert-only MERGE is
    * exempt. SET right-hand sides may reference both aliases, INSERT
    * values and conditions the source alias only. `INSERT *` maps
    * source columns to target columns BY NAME. */
  private def merge(m: Merge): GraftFrame = {
    val resolved = versionedPath("MERGE", m.target)
    val matchedClauses = m.matched
    // reachability: only the LAST matched clause may be unconditioned
    // (an earlier catch-all would shadow everything after it)
    matchedClauses.dropRight(1).zipWithIndex.foreach { case (cl, i) =>
      if (cl.cond.isEmpty) throw new SemanticError(
        s"MERGE: WHEN MATCHED clause ${i + 1} has no AND condition " +
          "but is not last — later matched clauses are unreachable")
    }
    // SMALL-SOURCE gate, probed BEFORE the source frame is built:
    // rows already on the driver are small by count, and so is a
    // provably-small plain-parquet table (KB footer reads, no job).
    // Views and subqueries price as unknown.
    val srcRows: Option[Long] = m.source match {
      case SourceRows(rows, _) => Some(rows.length.toLong)
      case SourceTable(ref) if !views.contains(ref) =>
        plainParquetRows(Tables.resolve(ref, baseDir))
      case _ => None
    }
    val srcSmall = srcRows.exists(_ <= Engine.MergeSmallSourceRows)
    val srcFrame: DataFrame = m.source match {
      case SourceRows(rows, sch) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
      case SourceTable(ref) => table(ref).df
      case SourceQuery(q) => evalCompound(q, Map.empty).df
    }
    val tName = "__merge_target"; val sName = "__merge_source"
    val talias = m.targetAlias.getOrElse(tName)
    val salias = m.sourceAlias.getOrElse(sName)
    if (talias == salias) throw new SemanticError(
      s"MERGE: target and source aliases collide ('$talias')")
    def ref(alias: String, c: String): Col = ColRef(s"$alias.$c")
    def query(from: String, alias: String, items: Seq[Col],
        join: Option[JoinClause] = None, where: Option[Col] = None) =
      CompoundQuery(SqlQuery(items.map(e => SelectItem(e, star = e == Star)),
        TableRef(from, Some(alias)), join.toSeq, where, Nil, None, Nil, None,
        distinct = false), Nil, Nil, None)
    // SMALL-SOURCE statements run with AQE pinned off: the match join
    // and insert anti-join already broadcast the LocalRelation source,
    // the target scan is already bounds-pruned at the manifest, and
    // the rewrite is one segment — there is nothing for runtime
    // re-planning to improve, while AQE materializes every exchange as
    // its own stage-job. A big MERGE keeps AQE (skew joins, coalescing
    // matter there). leafNodeDefaultParallelism=1 rides along so the
    // statement's driver-built LocalRelations scan as one task (see
    // [[Engine.withSmallStmtConfs]]).
    withSmallStmtConfs(srcSmall) {
    // one pinned snapshot for the whole statement (the row-level
    // core's rule): match join, segment list and rewrite all describe
    // it. MERGE also reserves its source-id and target-row columns, in
    // the target and the source alike
    val snap = semantic(Versioned.pin(spark, resolved, "MERGE",
      extraReserved = Seq("__srid", "__trow"),
      otherColumns = srcFrame.columns.toSeq))
    val schema = snap.schema
    // TARGET row identity is storage-level: parquet `_metadata`
    // file-path/row-index provenance — deterministic across jobs with
    // ZERO materialization (no full-table checkpoint) — plus the
    // owning segment name, which is what makes the rewrite
    // SEGMENT-PRUNED below. The SOURCE can be an arbitrary subquery,
    // so it pins synthetic ids with a checkpoint — bounded by the
    // source's size, never the target's. SMALL-SOURCE FAST PATH: the
    // source is collected ONCE into a LocalRelation with
    // driver-assigned ids instead — determinism for free, and (the
    // real win) accurate size stats, so the match join and the
    // insert anti-join BROADCAST the source instead of shuffling
    // both sides; a checkpointed RDD reports unknown stats and
    // forces shuffle joins however small it is.
    val tDf = Versioned.readWithProvenance(spark, resolved, Some(snap.version))
    val srcRows: Option[Array[Row]] =
      if (!srcSmall) None
      else {
        val rows = m.source match {
          case SourceRows(rows, _) => rows
          case _ => srcFrame.collect()
        }
        Some(rows.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ i.toLong) })
      }
    val sDf = srcRows match {
      // a BARE LocalRelation, not coalesce(1)-wrapped: under
      // withSmallStmtConfs the leaf executes single-task anyway, where
      // the Coalesce wrapper forced a 1-task job per broadcast build
      case Some(data) => spark.createDataFrame(java.util.Arrays.asList(
        data: _*), srcFrame.schema.add("__srid", LongType, nullable = false))
      case None => srcFrame
        .withColumn("__srid", F.monotonically_increasing_id())
        .localCheckpoint(true)
    }
    // the target row rides the match query as ONE struct column, so
    // the query never has to name the target's columns; an insert-only
    // MERGE needs only the matched source ids
    val tScoped =
      if (matchedClauses.isEmpty) tDf
      else tDf.withColumn("__trow",
        F.struct(schema.fieldNames.toSeq.map(F.col): _*))
    val scope = Map(tName -> GraftFrame.fromDF(tScoped),
      sName -> GraftFrame.fromDF(sDf))
    // validate every clause's SET column names against the target
    matchedClauses.foreach {
      case MergeUpdate(_, as) => as.foreach { case (n, _) =>
        if (!schema.fieldNames.contains(n)) throw new SemanticError(
          s"MERGE SET references unknown target column '$n'")
      }
      case _ => ()
    }
    // one match query joins the aliased frames on the ON condition and
    // projects the matched TARGET ROW (its columns and provenance) +
    // the source row id + per-clause condition flags + SET values —
    // everything the rewrite and the change rows need, so neither
    // re-reads and re-joins the target. A clause with no AND condition
    // projects a literal TRUE flag (0 = 0).
    val matchedCq = query(tName, talias,
      (if (matchedClauses.isEmpty) Nil
       else Seq(ref(talias, "__trow").alias("__trow"))) ++
        Seq(ref(talias, "__file").alias("__file"),
          ref(talias, "__pos").alias("__pos"),
          ref(talias, "__seg").alias("__seg"),
          ref(salias, "__srid").alias("__srid")) ++
        matchedClauses.zipWithIndex.map { case (cl, i) =>
          cl.cond.getOrElse(Lit(0) === Lit(0)).alias(s"__m_$i") } ++
        matchedClauses.zipWithIndex.flatMap {
          case (MergeUpdate(_, as), i) =>
            as.zipWithIndex.map { case ((_, rhs), j) =>
              rhs.alias(s"__set_${i}_$j") }
          case _ => Nil
        },
      join = Some(JoinClause(TableRef(sName, Some(salias)), m.on, "inner")))
    noSubqueries("MERGE expressions",
      m.on +: matchedCq.head.select.map(_.expr): _*)
    // pairs = matched target rows + flags + SET values — this
    // checkpoint pins a frame bounded by the match count, never the
    // target's size.
    // __win = index of the FIRST clause whose condition holds for the
    // row (first-match-wins; NULL = matched but no clause fired:
    // the row stays as-is AND stays excluded from the insert side,
    // the standard semantics)
    val winCol = matchedClauses.indices.foldRight(
      F.lit(null).cast("int")) { (i, acc) =>
      F.when(F.col(s"__m_$i"), F.lit(i)).otherwise(acc)
    }
    // the match set is pinned by the row-level core's one helper: the
    // checkpoint's row count rides the same job, and a small match set
    // (the common DML / replication-apply case) comes to the driver —
    // the byWin rollup below becomes driver-side Scala, the fired
    // positions an in-scan filter of the rewrite, and the insert side
    // needs no shuffle
    val pinned = Engine.withJobDescription(spark, "MERGE: match scan") {
      val mq = evalCompound(matchedCq, scope).df
      Versioned.pinMatched((if (matchedClauses.isEmpty) mq
          else mq.select(F.col("__trow.*") +: mq.columns.toSeq
            .filter(_ != "__trow").map(F.col): _*))
        .withColumn("__win", winCol))
    }
    val (pairsCkpt, pairsLocal) = (pinned.ckpt, pinned.rows)
    val pairs: DataFrame = pairsLocal match {
      // a bare LocalRelation, like sDf
      case Some(rows) => spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), pairsCkpt.schema)
      case None => pairsCkpt
    }
    // per-clause-kind action counts; bounded by the match count
    val updIdxs = matchedClauses.zipWithIndex.collect {
      case (_: MergeUpdate, i) => i }
    val delIdxs = matchedClauses.zipWithIndex.collect {
      case (_: MergeDelete, i) => i }
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
      schema.fields.toSeq.map { f =>
        val updsOnField = matchedClauses.zipWithIndex.collect {
          case (MergeUpdate(_, as), i) if as.exists(_._1 == f.name) =>
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
    // the rewrite drops every FIRED position from the affected
    // segments (the rows no clause touched come through as they are)
    // and adds the UPDATE postimages straight from the pairs;
    // DELETE-won rows are simply absent. No re-join of the pairs to the
    // target, nothing persisted.
    val fired = pairs.filter(F.col("__win").isNotNull)
    val firedPinned = Versioned.Matched(
      pairsCkpt.filter(F.col("__win").isNotNull),
      pairsLocal.map { rows =>
        val wi = pairsCkpt.schema.fieldIndex("__win")
        rows.filterNot(_.isNullAt(wi))
      }, nUpdated + nDeleted)
    val postimages: Option[DataFrame] =
      if (affected.isEmpty || updIdxs.isEmpty) None
      else Some(fired.filter(F.col("__win").isInCollection(updIdxs))
        .select(updatedCols: _*))
    // the source rows no pair matched: with the source and the pairs
    // both on the driver, a driver-side filter (no anti join, so no
    // broadcast job in the rewrite or the change rows); else the
    // anti join. WHEN NOT MATCHED [AND cond] then filters them — the
    // condition compiles against the SOURCE alias only (there is no
    // target row to reference — standard restriction)
    val unmatched: DataFrame =
      (srcRows, pairsLocal) match {
        case (Some(data), Some(rows)) =>
          val si = pairsCkpt.schema.fieldIndex("__srid")
          val hit = rows.iterator.map(_.getLong(si)).toSet
          spark.createDataFrame(java.util.Arrays.asList(
            data.filterNot(r => hit(r.getLong(r.length - 1))): _*),
            sDf.schema)
        case _ => sDf.join(pairs.select("__srid"), Seq("__srid"), "left_anti")
      }
    val insertSrc = m.notMatched.flatMap(_.cond).fold(unmatched) { c =>
      noSubqueries("MERGE expressions", c)
      evalCompound(query(sName, salias, Seq(Star), where = Some(c)),
        Map(sName -> GraftFrame.fromDF(unmatched))).df
    }
    val inserts: Option[DataFrame] = m.notMatched.map {
      case MergeInsert(_, None) =>
        schema.fieldNames.foreach { c =>
          if (!sDf.columns.contains(c)) throw new SemanticError(
            s"MERGE INSERT *: source lacks target column '$c' — use " +
            "INSERT (cols) VALUES (exprs) to map explicitly")
        }
        insertSrc.select(schema.fields.map(f =>
          F.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      case MergeInsert(_, Some((cols, vals))) =>
        if (cols.length != vals.length) throw new SemanticError(
          s"MERGE INSERT: ${cols.length} columns but ${vals.length} values")
        cols.foreach { c =>
          if (!schema.fieldNames.contains(c)) throw new SemanticError(
            s"MERGE INSERT references unknown target column '$c'")
        }
        // VALUES expressions compile against the SOURCE alias; the
        // unlisted target columns fill with explicit NULLs (the
        // column-list INSERT rule)
        val insCq = query(sName, salias,
          ref(salias, "__srid").alias("__srid") +:
            vals.zip(cols).map { case (v, c) => v.alias(s"__ins_$c") })
        noSubqueries("MERGE expressions", vals: _*)
        evalCompound(insCq, Map(sName -> GraftFrame.fromDF(insertSrc))).df
          .select(schema.fields.map { f =>
            if (cols.contains(f.name))
              F.col(s"__ins_${f.name}").cast(f.dataType).as(f.name)
            else F.lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
    }
    // change-feed rows, per fired clause kind, from the same pairs.
    // An insert-only MERGE records nothing: its fresh segment holds
    // ONLY inserts, which the feed synthesizes lazily from the
    // segment delta (CdcNone).
    val cdcSpec: Versioned.CdcSpec =
      if (affected.isEmpty) Versioned.CdcNone
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
        val origCols = schema.fieldNames.toSeq
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
          inserts.map(i => Versioned.cdcTag(i, "insert"))
        Versioned.CdcRows(parts.reduce(_.unionByName(_)))
      }
    // new version = untouched segments carried by reference + one
    // fresh segment holding the affected segments' kept rows, the
    // postimages and the inserted rows, written in ONE job
    val (v, fresh, liveAffected) =
      Engine.withJobDescription(spark, "MERGE: rewrite") {
        Versioned.rewrite(snap, firedPinned, affected, nDeleted,
          postimages.toSeq ++ inserts.toSeq, cdcSpec, "merge")
      }
    // nInserted DERIVED from metadata, not a second execution of the
    // source anti-join: fresh-segment rows (sidecar/footer) minus the
    // affected segments' survivors, i.e. their live rows less the rows
    // DELETE clauses won
    val nInserted: Long =
      if (inserts.isEmpty) 0L
      else fresh.fold(0L)(Versioned.segmentRowCount(spark, resolved, _)) -
        (liveAffected - nDeleted)
    statusRow("version" -> v, "n_updated" -> nUpdated,
      "n_deleted" -> nDeleted, "n_inserted" -> nInserted)
    } // withSmallStmtConfs(srcSmall)
  }

  /** INSERT INTO: an extension-less target commits through
    * [[Versioned.commit]] with `append = true` (a fresh path bootstraps
    * version 1; the commit enforces schema equality, names AND types);
    * a `.bin` target appends to the BlockFile (merging into the
    * under-full tail block, the reference's append invariant); a
    * `.parquet` target rejects — a raw parquet directory has no atomic
    * append. VALUES rows take column names and types from the EXISTING
    * target's schema (positional, with casts — standard INSERT
    * semantics); a query body aligns to it the same way. */
  private def insert(ins: Insert): GraftFrame = {
    // Tables.resolve is THE shared rule (its scaladoc: writers must
    // land where a subsequent FROM of the same reference reads)
    if (!ins.quoted && baseDir.isEmpty) throw new SemanticError(
      "INSERT INTO with a bare name needs an engine base " +
      "directory; use a quoted target path instead")
    val resolved = Tables.resolve(ins.target, baseDir)
    if (resolved.endsWith(".parquet"))
      throw new SemanticError(
        "INSERT INTO a raw parquet path has no atomic append (a " +
        "concurrent reader could observe half the new files); use an " +
        "extension-less target for a Versioned dataset, a '.bin' " +
        "target for BlockFile append, or CREATE TABLE to republish")
    val isBin = resolved.endsWith(".bin")
    // the existing target's schema, when there is one — VALUES rows
    // need it for names; query bodies align to it positionally
    val targetSchema: Option[StructType] =
      if (isBin) {
        val f = new java.io.File(resolved)
        if (f.exists()) Some(Tables.blockFileRead(spark, resolved).schema)
        else None
      } else if (Versioned.versions(spark, resolved).nonEmpty)
        Some(Versioned.read(spark, resolved, None).schema)
      else None
    // optional explicit column list: `INSERT INTO t (a, b) ...`
    val cols = ins.columns
    cols.foreach { cs =>
      if (cs.distinct.length != cs.length) throw new SemanticError(
        s"INSERT column list names a column twice: ${cs.mkString(", ")}")
    }
    val incoming = ins.body match {
      case Left(rows) =>
        val names = cols.orElse(targetSchema.map(_.map(_.name).toSeq))
          .getOrElse(throw new SemanticError(
            s"INSERT ... VALUES needs an existing table at '$resolved' " +
            "or an explicit column list `INSERT INTO t (a, b) VALUES " +
            "...` to name the columns"))
        rows.find(_.length != names.length).foreach(r =>
          throw new SemanticError(s"INSERT arity mismatch: a VALUES row " +
            s"has ${r.length} entries for ${names.length} columns"))
        valuesFrame(names, rows).df
      case Right(q) => evalCompound(q, Map.empty).df
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
      statusRow("rows_appended" -> (total - before), "n_rows" -> total)
    } else {
      val v = Versioned.commit(df, resolved, append = true)
      // count the NEW segment only, from FOOTER metadata (the DELETE
      // status-row rule): a head count would re-scan the whole
      // dataset after every incremental publish
      statusRow("version" -> v, "rows_appended" ->
        Versioned.addedRowCount(spark, resolved, v - 1, Some(v)))
    }
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
    * Single-use CTEs stay un-staged (zero overhead).
    *
    * `enclosing` is set when the compound is a subquery's body: the
    * frame of the query it sits in, whose columns its blocks may
    * reference (see [[plan]]). */
  private def evalCompound(cq: CompoundQuery,
                           outer: Map[String, GraftFrame],
                           enclosing: Option[GraftFrame] = None): GraftFrame = {
    // a derived table contributes its subquery's paths, not its alias —
    // a CTE referenced only inside (SELECT ...) must still count as used
    def refPaths(t: graft.sql.TableRef): Seq[String] =
      t.subquery.fold(Seq(t.path))(compoundPaths)
    // ... and so do expression-level subqueries (IN-membership sets and
    // scalar subqueries), wherever an expression can sit
    def colPaths(c: Col): Seq[String] = (c match {
      case InSubquery(_, sub)          => compoundPaths(sub)
      case ScalarSubquery(sub)         => compoundPaths(sub)
      case ExistsSubquery(sub)         => compoundPaths(sub)
      case QuantifiedCmp(_, _, _, sub) => compoundPaths(sub)
      case _                           => Nil
    }) ++ c.children.flatMap(colPaths)
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
    var term = plan(cq.head, scope, enclosing)
    cq.tail.foreach { case (op, all, q) =>
      if (op == "intersect")
        term = setOp(term, op, all, plan(q, scope, enclosing))
      else {
        acc = if (acc == null) term else setOp(acc, accOp._1, accOp._2, term)
        accOp = (op, all)
        term = plan(q, scope, enclosing)
      }
    }
    var out = if (acc == null) term else setOp(acc, accOp._1, accOp._2, term)
    if (cq.orderBy.nonEmpty)
      // compound-level ORDER BY is an expression position too
      out = out.sort(cq.orderBy.map { case (c, a) =>
        (lowerSubqueries(c, out, scope), a) })
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

  def plan(q: SqlQuery): GraftFrame = plan(q, Map.empty)

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

  /** Plan one query block under a CTE scope. `enclosing` is set when
    * the block is (part of) a subquery's body: every reference the block
    * does not resolve itself ([[blockFrame]]'s rule; in ORDER BY, HAVING
    * and QUALIFY a select-list output name resolves too) is a Catalyst
    * outer reference to that frame's column ([[outerRef]]), bound once
    * before any clause compiles. Subqueries in the block's own clauses lower
    * per clause ([[lowerSubqueries]]), against the frame the clause
    * compiles on. */
  private def plan(q0: SqlQuery, scope: Map[String, GraftFrame],
                   enclosing: Option[GraftFrame] = None): GraftFrame = {
    // pure COUNT/MIN/MAX over a bare Versioned FROM: serve from
    // manifest statistics, no scan (falls through on any gap)
    metadataAggFastPath(q0, scope) match {
      case Some(fr) => return fr
      case None => ()
    }
    val (from, isOuterRef) = blockFrame(q0, scope)
    val q = enclosing.fold(q0) { outer =>
      val outputs = q0.select.filterNot(_.star).map(_.expr.name)
      def bind(c: Col, outputsResolve: Boolean = false): Col = c.transform {
        case ColRef(r) if isOuterRef(r) &&
            !(outputsResolve && outputs.exists(_.equalsIgnoreCase(r))) =>
          outerRef(outer, r)
      }
      def late(c: Col): Col = bind(c, outputsResolve = true)
      q0.copy(
        select = q0.select.map(i => i.copy(expr = bind(i.expr))),
        where = q0.where.map(bind(_)), groupBy = q0.groupBy.map(bind(_)),
        having = q0.having.map(late), qualify = q0.qualify.map(late),
        orderBy = q0.orderBy.map { case (c, a) => (late(c), a) })
    }
    def lower(c: Col, at: GraftFrame): Col = lowerSubqueries(c, at, scope)
    var frame = from
    q.where.foreach(c => frame = frame.filter(lower(c, frame)))

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
        df.withColumn(name, lower(qual, frame).compile(df.schema))
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
    if (hasGrouping && groupedExprs.exists(_.exists(_.isInstanceOf[WindowFn])))
      throw new GroupByError(
        "Window functions cannot appear in a grouped query block; " +
        "aggregate in a derived table or CTE, then window over it")

    var out: GraftFrame =
      if (!hasGrouping) {
        if (q.select.forall(_.star)) frame.select(Star)
        else frame.select(q.select.map(i => lower(i.expr, frame)): _*)
      } else aggregate(q, frame, lower(_, frame))

    if (q.distinct) out = out.distinct()
    if (q.orderBy.nonEmpty)
      out = out.sort(q.orderBy.map { case (c, a) => (lower(c, out), a) })
    // OFFSET skips before LIMIT counts (standard pagination order)
    q.offset.foreach(m => out = GraftFrame.fromDF(out.df.offset(m)))
    q.limit.foreach(n => out = out.limit(n))
    out
  }

  /** A grouped block as ONE Catalyst `Aggregate` over the WHERE-filtered
    * `frame`: the keys (under `Rollup`, `Cube` or `GroupingSets` for
    * those kinds) group the select items, and HAVING is an
    * `UnresolvedHaving` over it. Catalyst's analyzer does the rest:
    * qualified and computed keys, HAVING on a select alias or on an
    * aggregate the select list does not carry, and the rejection of a
    * select column that is neither grouped nor aggregated (the
    * statement's [[GroupByError]], see [[execute]]). A bare aggregate
    * keeps its readable name (`sum_x`, `count`; `_agg_<i>` over a
    * computed argument, `i` counting the block's aggregates before it);
    * any other unaliased item takes Catalyst's own name. `lower` lowers
    * a clause's subqueries against `frame`. */
  private def aggregate(q: SqlQuery, frame: GraftFrame,
                        lower: Col => Col): GraftFrame = {
    def unnamed(c: Col): Col =
      c.transform { case a: AggCol => a.copy(aliasOpt = None) }
    val aggsBefore = q.select.scanLeft(0)((n, i) => n + collectAggs(i.expr).size)
    val items = q.select.zip(aggsBefore).map {
      case (i, _) if i.star => Star
      case (SelectItem(a: AggCol, _), k) =>
        Alias(unnamed(a), a.aliasOpt.getOrElse(a.child match {
          case ColRef(_) | Lit(_) => a.name
          case _                  => s"_agg_$k"
        }))
      case (i, _) => unnamed(i.expr)
    }.map(lower)
    def expr(c: Col, schema: StructType): Expression =
      ExprColumn.planExpr(spark, c.compile(schema))
    val keys = q.groupBy.map(k => expr(lower(k), frame.schema))
    val grouping = q.groupKind match {
      case None           => keys
      case Some("rollup") => Seq(Rollup(keys.map(Seq(_))))
      case Some("cube")   => Seq(Cube(keys.map(Seq(_))))
      case Some("sets")   => Seq(GroupingSets(
        q.groupingSets.map(_.map(k => expr(lower(k), frame.schema))), keys))
      case Some(other) =>
        throw new IllegalStateException(s"unknown group kind $other")
    }
    val agg = Aggregate(grouping, items.map(c => expr(c, frame.schema) match {
      case n: NamedExpression => n
      case e                  => UnresolvedAlias(e)
    }), frame.df.queryExecution.analyzed)
    // HAVING compiles against the select outputs, each typed as Col
    // types it, over the input columns they shadow
    val outputs = items.filterNot(_ == Star)
      .map(c => StructField(c.name, c.dataType(frame.schema)))
    val havingSchema = StructType(outputs ++ frame.schema.filterNot(f =>
      outputs.exists(_.name.equalsIgnoreCase(f.name))))
    GraftFrame.fromDF(ExprColumn.ofRows(spark, q.having.fold[LogicalPlan](agg)(h =>
      UnresolvedHaving(expr(lower(unnamed(h)), havingSchema), agg))))
  }

  /** A FROM/JOIN target: a derived table (planned under the enclosing
    * CTE scope), an inline VALUES table, a change feed or snapshot of a
    * Versioned dataset, or a name resolved against the scope first,
    * then disk. */
  private def resolveTable(t: TableRef, scope: Map[String, GraftFrame]): GraftFrame =
    t.subquery match {
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

  /** Build a block's FROM/JOIN frame (no WHERE applied) plus its
    * outer-ref test: a reference is OUTER when, innermost scope first
    * like standard SQL, it does not resolve against that frame under
    * the session's resolver (case-insensitive, as compiling it would;
    * an ambiguous reference is the block's own, and fails there).
    * Schema-only — nothing executes. */
  private def blockFrame(q: SqlQuery, scope: Map[String, GraftFrame])
      : (GraftFrame, String => Boolean) = {
    // a scope-resolved (CTE) table without an explicit alias carries its
    // NAME as default alias (resolveTable), so `c.grp` on an unaliased
    // CTE resolves inside the block
    def side(t: TableRef): GraftFrame = {
      val fr = resolveTable(t, scope)
      t.alias.fold(fr)(fr.alias)
    }
    var frame = side(q.from)
    q.joins.foreach { case JoinClause(t, on, how) =>
      val right = side(t)
      frame = frame.join(right, lowerSubqueries(on, frame, scope), how)
    }
    val inner = frame.df.queryExecution.analyzed
    def isOuterRef(r: String): Boolean =
      try inner.resolve(r.split('.').toSeq, SQLConf.get.resolver).isEmpty
      catch { case _: AnalysisException => false }
    (frame, isOuterRef)
  }

  /** A subquery's reference `r` to a column of its enclosing query: a
    * Catalyst outer reference to that frame's attribute, typed from it. */
  private def outerRef(outer: GraftFrame, r: String): Col = {
    val attr = outer.df.queryExecution.analyzed
      .resolve(r.split('.').toSeq, SQLConf.get.resolver)
      .getOrElse(throw new SemanticError(
        s"Column '$r' resolves neither in its subquery nor in the enclosing query"))
    Lowered(ExprColumn(OuterReference(attr)), attr.dataType)
  }

  /** Lower every subquery in `c` to Catalyst's own subquery expression.
    * Each body plans under the CTE scope with `at` — the frame `c`
    * compiles against — as its enclosing query; its outer references
    * become the expression's outer attributes, and Catalyst decorrelates
    * it (the unnesting of Neumann & Kemper, BTW 2015). Nothing executes
    * here: cardinality and NULL checks are part of the expression and
    * fail at the action.
    *   - scalar: exactly one column; an uncorrelated one must yield one
    *     non-NULL value (more rows: SCALAR_SUBQUERY_TOO_MANY_ROWS);
    *   - `IN` / `= ANY`: EXISTS over the subquery's rows equal to the
    *     operand, the two-valued reading; `NOT IN` / `<> ALL` is NOT over
    *     it wherever the NOT sits (the anti-join reading,
    *     [[Col.InSubquery]]);
    *   - EXISTS ignores a single-block body's DISTINCT, which cannot
    *     change whether rows exist (without an OFFSET);
    *   - range ANY/ALL: one scalar `(count, non-null count, min, max)`
    *     — ALL over an empty set is TRUE, ANY FALSE; NULLs fail. */
  private def lowerSubqueries(c: Col, at: GraftFrame,
                              scope: Map[String, GraftFrame]): Col = {
    def body(kind: String, sub: CompoundQuery): GraftFrame = {
      val planned = evalCompound(sub, scope, Some(at))
      val n = planned.df.columns.length
      if (n != 1) throw new SemanticError(
        s"$kind subquery must produce exactly one column, got $n")
      planned
    }
    def analyzed(f: GraftFrame): LogicalPlan = f.df.queryExecution.analyzed
    def outers(p: LogicalPlan) = SubExprUtils.getOuterReferences(p)
    def scalar(p: LogicalPlan): Column = ExprColumn(CatalystScalar(p, outers(p)))
    def exists(p: LogicalPlan): Column = ExprColumn(Exists(p, outers(p)))
    def compiled(e: Col): Column = lowerSubqueries(e, at, scope).compile(at.schema)
    def in(e: Col, sub: CompoundQuery): Col = {
      val key = lowerSubqueries(e, at, scope)
        .transform { case ColRef(r) => outerRef(at, r) }
      val equal = GraftFrame.fromDF(body("IN", sub).df.toDF("_in"))
        .filter(ColRef("_in") === key)
      Lowered(exists(analyzed(equal)), BooleanType)
    }
    c.transform {
      case ScalarSubquery(sub) =>
        val p = analyzed(body("Scalar", sub))
        val s = scalar(p)
        Lowered(if (outers(p).nonEmpty) s
          else F.coalesce(s, F.raise_error(F.lit(
            "Scalar subquery returned no rows or a NULL value"))),
          p.output.head.dataType)
      case ExistsSubquery(sub) =>
        val rows = if (sub.tail.nonEmpty || sub.head.offset.nonEmpty) sub
          else sub.copy(head = sub.head.copy(distinct = false))
        Lowered(exists(analyzed(evalCompound(rows, scope, Some(at)))), BooleanType)
      case QuantifiedCmp(e, "!=", true, sub) => Not(in(e, sub))
      case InSubquery(e, sub)                => in(e, sub)
      case QuantifiedCmp(e, "=", false, sub) => in(e, sub)
      case QuantifiedCmp(_, "=", true, _) => throw new SemanticError(
        "= ALL (SELECT ...) is not supported — compare to a scalar " +
        "subquery, or use = ANY / IN for membership")
      case QuantifiedCmp(_, "!=", false, _) => throw new SemanticError(
        "<> ANY (SELECT ...) is not supported — use NOT IN / <> ALL " +
        "for non-membership")
      case QuantifiedCmp(e, op, forAll, sub) =>
        val v = body("ANY/ALL", sub).df.toDF("_v")
        val s = scalar(analyzed(GraftFrame.fromDF(v.select(F.struct(
          F.count(F.lit(1)).as("n"), F.count(F.col("_v")).as("nn"),
          F.min("_v").as("lo"), F.max("_v").as("hi"))))))
        // x > ALL(S) ⇔ x > max(S), x > ANY(S) ⇔ x > min(S); < mirrors it
        val bound = Lowered(s.getField(if (forAll == op.startsWith("<")) "lo" else "hi"),
          v.schema.head.dataType)
        Lowered(F.when(s.getField("n") === 0, F.lit(forAll))
          .when(s.getField("nn") < s.getField("n"), F.raise_error(F.lit(
            "ANY/ALL subquery returned NULL values — the three-valued " +
            "comparison has no rendering here (filter them in the subquery)")))
          .otherwise(compiled(BinOp(op, e, bound))), BooleanType)
    }
  }

  private def collectAggs(c: Col): Seq[AggCol] = c match {
    case a: AggCol => Seq(a)
    // a window's inner aggregate is per-row output, not a grouping agg
    case _: WindowFn => Seq.empty
    case other => other.children.flatMap(collectAggs)
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
    * driver-built LocalRelations, which replaces the former
    * `coalesce(1)` wrapping: their scans run 1 task instead of
    * cores-many mostly-empty ones. A broadcast of such a relation
    * still runs one 1-task job per build: `BroadcastExchangeExec`
    * collects its child through `executeCollectIterator`, which
    * `LocalTableScanExec` does not override on Spark 4.1 (it overrides
    * `executeCollect`, `executeTake` and `executeTail` only). */
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

  /** Small-match gate: a row-level statement's match set at or under
    * this many rows (the observed checkpoint count — exact, no extra
    * job) is collected by [[graft.sources.Versioned.pinMatched]], so
    * MERGE's cardinality/action rollup runs driver-side, the matched
    * positions filter the rewrite inside the scan, downstream joins
    * against the set broadcast, and vectors and change rows build on
    * the driver. The row cap is scaled down for wide rows (see
    * [[smallMatchRowCap]]). */
  private[graft] val MergeSmallMatchRows = 65536L
  private[graft] val MergeSmallMatchBytes = 32L * 1024 * 1024

  /** The small-match row cap for rows of `schema`:
    * [[MergeSmallMatchRows]], scaled down for wide rows so the driver
    * copy also stays within [[MergeSmallMatchBytes]] of schema-estimated
    * width. Applied by the one pin helper every row-level statement uses. */
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
