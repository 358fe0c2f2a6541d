package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table/IO layer.
  *
  * The reference's storage is a custom columnar "BlockFile" with a schema
  * header, column-major blocks and a block-offset footer
  * (reference: src/mini_spark/io.py:47-170) — design-point-for-design-point
  * the same layout as Parquet (row groups, column chunks, footer), so
  * Parquet is the storage engine here: columnar pruning and predicate
  * pushdown come from Spark's vectorized reader instead of hand-written
  * block skipping (which the reference format supported but never used,
  * reference: io.py:112-124, SURVEY §1.2).
  */
object Tables {

  /** Resolve a table reference to a DataFrame.
    *
    * The reference addresses tables as quoted file paths
    * (`SELECT * FROM 'tmp/lineitem.bin'`, reference: parser.py:60). We
    * accept: a `.bin` path (the reference's NATIVE BlockFile format,
    * read through the [[BlockFile]] DSv2 source — a minispark user's
    * SQL works verbatim), an absolute/relative parquet path, or a bare
    * table name resolved against `baseDir` as `<baseDir>/<name>.parquet`.
    */
  def load(spark: SparkSession, ref: String, baseDir: Option[String] = None): DataFrame = {
    val path = resolve(ref, baseDir)
    if (path.endsWith(".bin")) BlockFile.read(spark, path)
    // ingestion formats route by extension, so the dialect can FROM a
    // crawl or archive shard directly (`SELECT ... FROM 'x.warc.gz'`)
    else if (path.endsWith(".warc") || path.endsWith(".warc.gz"))
      Warc.read(spark, path)
    else if (path.endsWith(".tar") || path.endsWith(".tar.gz") ||
             path.endsWith(".tgz"))
      Archives.readTar(spark, path)
    else if (path.endsWith(".zip")) Archives.readZip(spark, path)
    else if (path.endsWith(".avro")) Avro.read(spark, path)
    else if (path.endsWith(".tfrecord")) TfRecord.read(spark, path)
    // headered CSV with type inference — the ad-hoc ingestion shape
    // (declared-schema ingestion stays readCsv/csvToParquet; inference
    // costs one extra pass and is fine for the interactive FROM)
    else if (path.endsWith(".csv") || path.endsWith(".csv.gz"))
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(path)
    else if (path.endsWith(".jsonl") || path.endsWith(".ndjson"))
      spark.read.json(path)
    // a Versioned dataset read WITHOUT a version clause means its
    // LATEST snapshot — a raw parquet read of the directory would
    // silently union every version's segments (one manifest-dir
    // existence check; plain parquet paths skip it on the suffix)
    else if (!path.endsWith(".parquet") &&
             Versioned.versions(spark, path).nonEmpty)
      Versioned.read(spark, path, None)
    else {
      val reader = spark.read
      footerSchema(spark, path).fold(reader)(reader.schema).parquet(path)
    }
  }

  /** The schema `spark.read.parquet(path)` infers with `mergeSchema`
    * off, read on the driver from the first data file's footer instead
    * of by the Spark job that inference runs: the writer's recorded
    * Spark schema (`org.apache.spark.sql.parquet.row.metadata`) when
    * present, else the Parquet schema converted under the session conf.
    * Partition columns of a hive-style directory are still the reader's
    * to discover. Files are skipped by Spark's listing rule (a leading
    * `_` outside a `k=v` name, a leading `.`, a `._COPYING_` suffix).
    * `None` when schema merging is on or no data file is found: the
    * read then infers, and reports a bad path itself. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    try {
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) return None
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val rootDepth = fs.makeQualified(root).depth
      def skipped(n: String) = (n.startsWith("_") && !n.contains("=")) ||
        n.startsWith(".") || n.endsWith("._COPYING_")
      val files = fs.listFiles(root, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
        .find(f => !Iterator.iterate(f)(_.getParent).take(f.depth - rootDepth)
          .exists(p => skipped(p.getName)))
        .map { f =>
          val rdr = openParquet(conf, f)
          try ParquetFileFormat.readSchemaFromFooter(new Footer(f, rdr.getFooter),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf))
          finally rdr.close()
        }
    } catch { case NonFatal(_) => None }

  /** Extensions that name a non-parquet ingestion format — these refs
    * resolve base-relative WITHOUT the `.parquet` suffix rule. */
  private val IngestExts =
    Seq(".bin", ".warc", ".warc.gz", ".tar", ".tar.gz", ".tgz", ".zip",
      ".avro", ".tfrecord", ".csv", ".csv.gz", ".jsonl", ".ndjson")

  /** The on-disk path a table reference resolves to — ONE rule shared
    * by FROM (via [[load]]) and CTAS (Engine): CTAS must write to the
    * exact path a subsequent read of the same reference resolves to,
    * or `CREATE TABLE 'out' AS ...` would write `./out` and read back
    * `<baseDir>/out.parquet` — silently a different (possibly
    * pre-existing) table. Idempotent: resolving an already-resolved
    * path returns it unchanged. */
  def resolve(ref: String, baseDir: Option[String]): String =
    if (IngestExts.exists(ref.endsWith)) {
      val p = new java.io.File(ref)
      if (p.isAbsolute || p.exists()) ref
      else baseDir.map(d => s"$d/$ref").getOrElse(ref)
    } else if (ref.endsWith(".parquet") || ref.contains("/")) ref
    else baseDir.map(d => s"$d/$ref.parquet").getOrElse(ref)

  /** CSV ingestion with a declared schema
    * (reference: src/mini_spark/utils.py:179-203 csv→BlockFile). ISO
    * timestamp strings parse natively via Spark's CSV timestamp handling.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("timestampFormat", "yyyy-MM-dd['T'HH:mm:ss]")
      .schema(schema)
      .csv(path)

  /** CSV → parquet conversion (the reference's ingestion path,
    * utils.py:179-203). Writes partitioned parquet sized for large scans.
    */
  def csvToParquet(spark: SparkSession, csvPath: String, schema: StructType,
                   outPath: String): Unit =
    readCsv(spark, csvPath, schema).write.mode("overwrite").parquet(outPath)

  /** JSON-Lines ingestion with an explicit schema — the de-facto
    * interchange format of pre-training corpora (one JSON document per
    * line). The schema is REQUIRED, not inferred: inference reads the
    * data twice and types drift run-to-run on a growing drop folder;
    * an explicit schema keeps ingestion one single pass and stable.
    * JSONL splits by line, so a large file still parallelizes across
    * tasks. FAILFAST by default: Spark's PERMISSIVE mode would turn a
    * truncated line (a partial write in a drop folder) into a silent
    * all-null row that lands in the corpus — an ingestion job should
    * die loudly instead. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                failFast: Boolean = true): DataFrame =
    spark.read
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .schema(schema).json(path)

  /** JSONL → parquet conversion (columnar landing zone: one decode pass,
    * then every downstream scan gets pruning + pushdown JSONL can't do). */
  def jsonlToParquet(spark: SparkSession, jsonlPath: String,
                     schema: StructType, outPath: String): Unit =
    readJsonl(spark, jsonlPath, schema).write.mode("overwrite").parquet(outPath)

  /** ORC read with a declared schema — the other columnar interchange
    * format a lake-resident corpus arrives in. Schema declared rather
    * than inferred, same rationale as [[readJsonl]]; ORC scans get the
    * same vectorized read + pushdown machinery as parquet. */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC → parquet landing (one decode pass into the engine's canonical
    * columnar format, like [[jsonlToParquet]]). */
  def orcToParquet(spark: SparkSession, orcPath: String,
                   schema: StructType, outPath: String): Unit =
    readOrc(spark, orcPath, schema).write.mode("overwrite").parquet(outPath)

  /** Concatenate same-schema tables
    * (reference: io.py:297-305 merge_files) — free with a multi-path
    * read for parquet; `.bin` inputs (the reference's merge operates on
    * BlockFiles) read through the [[BlockFile]] source and union in. */
  def merge(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val (bin, pq) = paths.partition(_.endsWith(".bin"))
    val parts = (if (pq.nonEmpty) Seq(spark.read.parquet(pq: _*)) else Nil) ++
      bin.map(BlockFile.read(spark, _))
    parts.reduce(_.unionByName(_))
  }

  /** Register every parquet table under `dir` as a temp view, enabling
    * full ANSI Spark SQL (CTEs, subqueries, window functions) over the
    * same tables the dialect front-end sees. The reference has no catalog
    * at all (tables are file paths, reference: parser.py:60); this is the
    * engine's upgrade path to one. */
  def registerAll(spark: SparkSession, dir: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.toSeq
      .filter(f => f.getName.endsWith(".parquet"))
      .map { f =>
        val name = f.getName.stripSuffix(".parquet")
        spark.read.parquet(f.getPath).createOrReplaceTempView(name)
        name
      }
  }

  /** Stage a corpus hive-partitioned by low-cardinality columns (lang,
    * source, date): the layout investment that turns every filter on a
    * partition column into directory PRUNING — a `lang = 'en'` pass over
    * a 100 TB multilingual corpus lists and reads only the English
    * partition's files, enforced by storage layout rather than a runtime
    * filter (the text-corpus analog of the IVF-bucketed ANN layout,
    * [[graft.operators.Similarity.writeIvfBucketed]]). Check the scan's
    * `PartitionFilters` to confirm. Keep partition columns at modest
    * cardinality (thousands, not millions) or the file count explodes. */
  def writePartitioned(df: DataFrame, partCols: Seq[String], path: String): Unit =
    df.write.partitionBy(partCols: _*).mode("overwrite").parquet(path)

  /** Inspect a table: row count + first rows
    * (reference: examples/read_block_file.py:8-24). */
  def inspect(spark: SparkSession, path: String, n: Int = 100): Long = {
    val df = spark.read.parquet(path)
    df.show(n, truncate = false)
    df.count()
  }

  /** Write/read the reference's NATIVE BlockFile format (`.bin`) — see
    * [[BlockFile]]: a minispark user's existing tables load directly,
    * with block-granular read parallelism and size-prefix column
    * pruning the reference engine itself never exploited. */
  def blockFileWrite(df: DataFrame, path: String,
                     rowsPerBlock: Int = 2 * 1024 * 1024): Unit =
    BlockFile.write(df, path, rowsPerBlock)

  def blockFileRead(spark: SparkSession, path: String): DataFrame =
    BlockFile.read(spark, path)

  /** Parallel directory-of-blocks write: one `part-NNNNN.bin` per input
    * partition, written task-side (no driver byte path); the reader
    * treats the directory as one table — see [[BlockFile.writeDir]]. */
  def blockFileWriteDir(df: DataFrame, path: String,
                        rowsPerBlock: Int = 2 * 1024 * 1024): Unit =
    BlockFile.writeDir(df, path, rowsPerBlock)

  /** Append to an existing `.bin`, merging into an under-full final
    * block — the reference's append invariant (io.py:231-252). */
  def blockFileAppend(df: DataFrame, path: String,
                      rowsPerBlock: Int = 2 * 1024 * 1024): Unit =
    BlockFile.append(df, path, rowsPerBlock)

  /** Open a parquet file's footer with read options from `conf`.
    * Parquet's option-less `open` builds a fresh Hadoop Configuration
    * per call, which re-reads every default and site XML resource: in
    * a JFR profile of 100-row MERGEs into a 200k-row table on a 4-core
    * box, about half of the statement's driver CPU. */
  private[graft] def openParquet(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** Total rows of the parquet part files directly under `dir`, from
    * their footers (KB-sized reads, no job). */
  private[graft] def parquetRows(conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path): Long =
    dir.getFileSystem(conf).listStatus(dir).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rdr = openParquet(conf, st.getPath)
        try rdr.getRecordCount finally rdr.close()
      }.sum

  /** Per-column statistics from parquet FOOTERS ALONE — row counts,
    * null counts, numeric min/max — without decoding a single data
    * page: the at-scale companion to the dialect's `SUMMARIZE` (which
    * scans). At 100 TB this is the difference between answering "how
    * many rows, what key range" in seconds from KB-sized footers and a
    * full-corpus pass; it is exactly the metadata the engine's own
    * row-group pruning reads (see the bench's prune-probe accounting).
    *
    * One task per FILE (footers are per-file); returns one row per
    * (file, column) with row-group stats pre-merged:
    * (file, column, n_values, n_nulls, min_val, max_val) — min/max as
    * doubles for numeric/boolean columns, NULL otherwise (binary
    * min/max truncation semantics make cross-file string merges lossy,
    * so they are deliberately not surfaced as comparable values).
    * `n_nulls` is NULL when any row group omitted the statistic. */
  def parquetFooterStats(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
      .map(_.toString).toSeq
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("column", StringType, nullable = false),
      StructField("n_values", LongType, nullable = false),
      StructField("n_nulls", LongType, nullable = true),
      StructField("min_val", DoubleType, nullable = true),
      StructField("max_val", DoubleType, nullable = true)))
    if (files.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val rows = spark.sparkContext
      .parallelize(files, math.min(files.length, 64))
      .flatMap { f =>
        import scala.jdk.CollectionConverters._
        // a fresh Configuration resolves local and default-FS paths;
        // a deployment on an authenticated store threads its conf here
        val rdr = openParquet(new org.apache.hadoop.conf.Configuration(),
          new org.apache.hadoop.fs.Path(f))
        try {
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[String, (Long, Option[Long], Option[Double], Option[Double])]
          rdr.getRowGroups.asScala.foreach { rg =>
            rg.getColumns.asScala.foreach { c =>
              val name = c.getPath.toDotString
              val st = c.getStatistics
              val nulls =
                if (st != null && st.isNumNullsSet) Some(st.getNumNulls)
                else None
              val (mn, mx): (Option[Double], Option[Double]) =
                if (st == null || st.isEmpty) (None, None)
                else (st.genericGetMin, st.genericGetMax) match {
                  case (a: Number, b: Number) =>
                    (Some(a.doubleValue()), Some(b.doubleValue()))
                  case (a: java.lang.Boolean, b: java.lang.Boolean) =>
                    (Some(if (a) 1.0 else 0.0), Some(if (b) 1.0 else 0.0))
                  case _ => (None, None)
                }
              val prev = acc.get(name)
              acc(name) = prev match {
                case None => (rg.getRowCount, nulls, mn, mx)
                case Some((n0, nu0, mn0, mx0)) => (
                  n0 + rg.getRowCount,
                  for (a <- nu0; b <- nulls) yield a + b,
                  (mn0.toSeq ++ mn.toSeq).reduceOption(math.min(_: Double, _: Double)),
                  (mx0.toSeq ++ mx.toSeq).reduceOption(math.max(_: Double, _: Double)))
              }
            }
          }
          acc.toSeq.map { case (col, (n, nu, mn, mx)) =>
            org.apache.spark.sql.Row(f, col, n,
              nu.map(Long.box).orNull, mn.map(Double.box).orNull,
              mx.map(Double.box).orNull)
          }
        } finally rdr.close()
      }
    spark.createDataFrame(rows, schema)
  }
}
