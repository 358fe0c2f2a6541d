package graft.sources

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.graft.ExprColumn

import graft.functions.{DeletedPositions, LiveRowExpr}

/** DELETION VECTORS — merge-on-read DELETE for [[Versioned]] datasets
  * (the Delta/Iceberg v2 positional-delete model): instead of
  * rewriting a segment to drop a few rows, a VECTORED delete writes a
  * tiny sidecar of deleted row POSITIONS (the same parquet
  * `_metadata.file_path`/`row_index` identity the copy-on-write DML
  * already keys on) and the version's manifest maps segments to their
  * vectors. Reads drop the vectored positions inside the scan;
  * OPTIMIZE (and any rewrite touching the segment) MATERIALIZES
  * them — fresh
  * segments never carry vectors. At 100 TB this is the difference
  * between a takedown of 100 documents costing 100 segment rewrites
  * (~100 GB of writes) and costing ~100 KB of position lists.
  *
  * File format (`dv/<seg>-<uuid>.dv`, written once, immutable like
  * segments): magic line, total deleted count, then per part file its
  * name and sorted positions. Vectors are per-SEGMENT (positions keyed
  * by part-file name, which is unique within a segment's directory).
  *
  * The read side applies them the way Delta and Iceberg readers apply
  * position deletes: as a per-file row filter inside the reader, not as
  * a join. The snapshot's vectors are read on the driver into per-file
  * position sets that ride a [[LiveRowExpr]] predicate over
  * `_metadata.file_path`/`row_index` — no extra job, no join, no
  * per-row string work. Vectors past [[InScanBytes]] on disk are parsed
  * in tasks and anti-joined instead, shuffled. Row-group/segment
  * SKIPPING stays correct unmodified: deletes only remove rows, so
  * every stats bound remains a valid over-approximation.
  */
object DeletionVectors {

  private val Magic = "graft-dv v1"

  /** Serialize and publish a segment's deletion vector (tmp + rename,
    * task-safe): `positions` maps part-file NAME → sorted deleted
    * `row_index` values. Returns the vector's file name under `dv/`. */
  private[sources] def write(conf: Configuration, path: String, seg: String,
                             positions: Map[String, Array[Long]]): String = {
    val fs = new Path(path).getFileSystem(conf)
    val dir = new Path(s"$path/dv")
    fs.mkdirs(dir)
    val name = s"$seg-${java.util.UUID.randomUUID().toString.take(8)}.dv"
    val tmp = new Path(dir, s".tmp-$name")
    val out = new DataOutputStream(fs.create(tmp, true))
    try {
      out.writeUTF(Magic)
      out.writeLong(positions.valuesIterator.map(_.length.toLong).sum)
      out.writeInt(positions.size)
      positions.toSeq.sortBy(_._1).foreach { case (f, ps) =>
        out.writeUTF(f)
        out.writeInt(ps.length)
        ps.foreach(out.writeLong)
      }
    } finally out.close()
    require(fs.rename(tmp, new Path(dir, name)),
      s"could not publish deletion vector $name at $path")
    name
  }

  private[sources] def read(conf: Configuration, path: String,
                            dvName: String): Map[String, Array[Long]] = {
    val fs = new Path(path).getFileSystem(conf)
    val in = new DataInputStream(fs.open(new Path(s"$path/dv", dvName)))
    try {
      require(in.readUTF() == Magic, s"not a deletion vector: $dvName")
      in.readLong() // total
      val nFiles = in.readInt()
      (0 until nFiles).map { _ =>
        val f = in.readUTF()
        val n = in.readInt()
        f -> Array.fill(n)(in.readLong())
      }.toMap
    } finally in.close()
  }

  /** Total deleted rows in a vector — header-only read, what the
    * metadata row counts subtract. */
  private[sources] def count(conf: Configuration, path: String,
                             dvName: String): Long = {
    val fs = new Path(path).getFileSystem(conf)
    val in = new DataInputStream(fs.open(new Path(s"$path/dv", dvName)))
    try {
      require(in.readUTF() == Magic, s"not a deletion vector: $dvName")
      in.readLong()
    } finally in.close()
  }

  /** On-disk vector bytes up to which a snapshot's vectors are read on
    * the driver and applied inside the scan — 8 bytes a position, so
    * ~4M positions. Past it, reads keep the shuffled anti join. */
  private[graft] val InScanBytes = 32L * 1024 * 1024

  /** The vectors of `dvMap` (segment → vector file), read on the driver
    * into one position set keyed `<segment>/<file name>`. */
  private[graft] def positions(spark: SparkSession, path: String,
      dvMap: Map[String, String]): DeletedPositions = {
    val conf = spark.sparkContext.hadoopConfiguration
    new DeletedPositions(dvMap.iterator.flatMap { case (seg, dv) =>
      read(conf, path, dv).iterator.map { case (f, ps) => s"$seg/$f" -> ps }
    }.toMap)
  }

  /** The live-row predicate over a file-path and a row-index column,
    * by name (dotted names reach into structs, as in `F.col`). */
  private[graft] def live(deleted: DeletedPositions, file: String,
                          pos: String): Column =
    ExprColumn(LiveRowExpr(deleted, UnresolvedAttribute.quotedString(file),
      UnresolvedAttribute.quotedString(pos)))

  /** Keep the rows of `df` that no vector in `dvMap` deletes and that
    * `extra` does not list. `file`/`pos` are the rows' part-file path
    * and row index (`__file`/`__pos` on a provenance-tagged frame, the
    * `_metadata` fields on a bare relation). Up to [[InScanBytes]] of
    * vectors this is one [[LiveRowExpr]] filter: no job, no join, and
    * the scan needs no provenance strings. Larger vectors are parsed in
    * tasks and anti-joined, shuffled, as a broadcast would not fit. */
  private[graft] def applyTo(df: DataFrame, spark: SparkSession,
      path: String, dvMap: Map[String, String],
      extra: DeletedPositions = DeletedPositions.empty,
      file: String = "__file", pos: String = "__pos"): DataFrame = {
    if (dvMap.isEmpty && extra.isEmpty) return df
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dvBytes = dvMap.valuesIterator.map { n =>
      fs.getFileStatus(new Path(s"$path/dv", n)).getLen
    }.sum
    if (dvBytes <= InScanBytes)
      df.filter(live(positions(spark, path, dvMap).union(extra), file, pos))
    else {
      val kept = antiJoin(df, distributedPositions(spark, path, dvMap),
        file, pos)
      if (extra.isEmpty) kept else kept.filter(live(extra, file, pos))
    }
  }

  /** Drop the rows of `df` whose (`file`, `pos`) appear as
    * (`__file`, `__pos`) in `excluded` — a provenance-tagged frame, or
    * vector positions with `__file` = `<seg>/<file name>`. Both sides
    * key on the last two path components. A shuffled anti join, for
    * position sets too large to hold on the driver. */
  private[graft] def antiJoin(df: DataFrame, excluded: DataFrame,
      file: String = "__file", pos: String = "__pos"): DataFrame = {
    def key(f: String) = {
      val parts = F.split(F.col(f), "/")
      F.concat(F.element_at(parts, -2), F.lit("/"), F.element_at(parts, -1))
    }
    df.withColumn("__dvkey", key(file))
      .withColumn("__dvpos", F.col(pos))
      .join(excluded.select(key("__file").as("__dvkey"),
        F.col("__pos").as("__dvpos")), Seq("__dvkey", "__dvpos"), "left_anti")
      .drop("__dvkey", "__dvpos")
  }

  /** A snapshot's vectors as a `(__file, __pos)` frame parsed in
    * TASKS (one per vector), under the session's Hadoop conf. */
  private def distributedPositions(spark: SparkSession, path: String,
      dvMap: Map[String, String]): DataFrame = {
    val entries = dvMap.toSeq
    // ship the SESSION's Hadoop conf: a bare `new Configuration()` in a
    // task loses spark.hadoop.* settings such as s3a credentials
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val rows = spark.sparkContext
      .parallelize(entries, math.min(math.max(entries.size, 1), 64))
      .flatMap { case (seg, dvName) =>
        read(confBc.value.value, path, dvName).iterator.flatMap {
          case (file, ps) => ps.iterator.map(p => (s"$seg/$file", p))
        }
      }
    spark.createDataFrame(rows).toDF("__file", "__pos")
  }
}
