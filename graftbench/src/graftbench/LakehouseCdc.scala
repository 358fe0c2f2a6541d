package graftbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession, functions => F}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.Engine
import graft.sources.Versioned
import graft.streaming.Streams

/** Versioned-table workload: a 200k-row table in 8 segments under a fixed
  * mix of small vectored UPDATE, DELETE, INSERT and MERGE with pruned and
  * full reads between them (three and two per cycle), a change-feed
  * apply into a replica, then OPTIMIZE (z-ordered back into 8 segments)
  * and VACUUM. An in-benchmark model of every applied change checks row
  * counts, per-key sums and a content checksum of the table, and the
  * replica is checked against it after each apply. */
final class LakehouseCdc(spark: SparkSession, scale: Double) extends Workload {
  val InitialRows = (200000 * scale).toInt
  val Segments = 8
  val Capacity = InitialRows + 200000
  // 8-byte id, 4-byte k, 8-byte v, 24-byte s
  val RowBytes = 44L

  private var dir = ""
  private var seed = 0L
  private var engine: Engine = _
  private var rnd: java.util.SplittableRandom = _
  private def table = s"$dir/table"
  private def replica = s"$dir/replica"

  // the model: which ids are live and their v; k and s follow from id
  private var alive = new Array[Boolean](Capacity)
  private var value = new Array[Long](Capacity)
  private var nextId = 0
  private var lastApplied = 0L
  private var batches = 0
  // change-feed rows the model expects since the last apply
  private var pending = 0L

  private def k(id: Long): Int = (id % 97).toInt
  private def s(id: Long): String = f"row-$id%012d-pl"
  private def v0(id: Long): Long = Math.floorMod(id * 2654435761L + seed, 1000L)

  def setup(dir: String, seed: Long): Unit = {
    this.dir = dir
    this.seed = seed
    rnd = new java.util.SplittableRandom(seed)
    java.util.Arrays.fill(alive, false)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi, 1, 2).select(
      F.col("id"),
      (F.col("id") % 97).cast("int").as("k"),
      F.pmod(F.col("id") * 2654435761L + seed, F.lit(1000L)).as("v"),
      F.concat(F.lit("row-"), F.lpad(F.col("id").cast("string"), 12, "0"),
        F.lit("-pl")).as("s"))
    // the table in id-ranged segments, the replica in one
    val per = InitialRows / Segments
    (0 until Segments).foreach(i => Versioned.commit(rows(i.toLong * per, (i + 1L) * per), table))
    Versioned.commit(rows(0, InitialRows), replica)
    (0 until InitialRows).foreach { id => alive(id) = true; value(id) = v0(id) }
    nextId = InitialRows
    lastApplied = Versioned.versions(spark, table).last
    batches = 0
    pending = 0
  }

  def cycleS: Double = 13.5
  def storedDirs: Seq[String] = Seq(table)
  def userBytes: Long = liveRows * RowBytes

  override def prepare(h: Harness): Unit = engine = Engine(spark, dir)

  def release(): Unit = {
    alive = Array.empty
    value = Array.empty
    nextId = 0
  }

  private def liveRows: Long = (0 until nextId).count(alive(_)).toLong

  /** The same checksum as Spark's `hash(id, k, v)` summed as bigint. */
  private def rowHash(id: Long): Long =
    Murmur3_x86_32.hashLong(value(id.toInt),
      Murmur3_x86_32.hashInt(k(id), Murmur3_x86_32.hashLong(id, 42))).toLong

  private def modelDigest: (Long, Long) = {
    var n = 0L
    var sum = 0L
    var id = 0
    while (id < nextId) {
      if (alive(id)) { n += 1; sum += rowHash(id) }
      id += 1
    }
    (n, sum)
  }

  private def digest(path: String): (Long, Long) = {
    val r = Versioned.read(spark, path)
      .agg(F.count(F.lit(1)), F.sum(F.hash(F.col("id"), F.col("k"), F.col("v"))
        .cast("long"))).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def liveIn(lo: Long, hi: Long): Seq[Int] =
    (lo.toInt until math.min(hi, nextId.toLong).toInt).filter(alive(_))

  /** A write statement changing `rows` user rows; on traced statements
    * its storage side is counted. None when the statement failed. */
  private def write(h: Harness, kind: String, rows: Long, dirs: String*)(
      body: => Unit): Option[Long] =
    h.stmt(kind, "write") {
      val added = Storage.account(h, spark, dirs, rows * RowBytes)(body)
      if (kind == "optimize") h.add("sources.bytes_rewritten_mb", added / 1048576.0)
      rows
    }

  private def range(width: Int): (Long, Long) = {
    val lo = rnd.nextInt(nextId - width).toLong
    (lo, lo + width)
  }

  private def update(h: Harness): Unit = {
    val (lo, hi) = range(200)
    val ids = liveIn(lo, hi)
    write(h, "update", ids.length, table)(Sql.run(h, engine,
      s"UPDATE VECTORED '$table' SET v = v + 1 WHERE id >= $lo AND id < $hi"))
      .foreach { _ => ids.foreach(id => value(id) += 1); pending += 2L * ids.length }
  }

  private def delete(h: Harness): Unit = {
    val (lo, hi) = range(100)
    val ids = liveIn(lo, hi)
    write(h, "delete", ids.length, table)(Sql.run(h, engine,
      s"DELETE VECTORED FROM '$table' WHERE id >= $lo AND id < $hi"))
      .foreach { _ => ids.foreach(alive(_) = false); pending += ids.length }
  }

  private def insert(h: Harness): Unit = {
    val ids = nextId until nextId + 100
    val vs = ids.map(_ => rnd.nextInt(1000).toLong)
    val values = ids.zip(vs).map { case (id, v) => s"($id, ${k(id)}, $v, '${s(id)}')" }
    write(h, "insert", ids.length, table)(Sql.run(h, engine,
      s"INSERT INTO '$table' VALUES ${values.mkString(", ")}"))
      .foreach { _ =>
        ids.zip(vs).foreach { case (id, v) => alive(id) = true; value(id) = v }
        nextId += ids.length
        pending += ids.length
      }
  }

  private def merge(h: Harness): Unit = {
    // the incoming batch: 50 ids already used (live or deleted), 50 new
    val old = Iterator.continually(rnd.nextInt(nextId)).distinct.take(50).toSeq
    val ids = old ++ (nextId until nextId + 50)
    val rows = ids.map(id => Row(id.toLong, k(id), rnd.nextInt(1000).toLong, s(id)))
    val src = s"$dir/batches/merge-$batches.parquet"
    batches += 1
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      Versioned.read(spark, table).schema).write.parquet(src)
    write(h, "merge", rows.length, table)(Sql.run(h, engine,
      s"""MERGE INTO '$table' t USING '$src' s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      .foreach { _ =>
        rows.foreach { r =>
          val id = r.getLong(0).toInt
          pending += (if (alive(id)) 2 else 1)
          alive(id) = true
          value(id) = r.getLong(2)
        }
        nextId += 50
      }
  }

  private def readPruned(h: Harness): Unit = {
    val (lo, hi) = range(5000)
    var got: Seq[Row] = Nil
    h.stmt("read_pruned", "read") {
      if (h.probing) {
        val (total, kept) = h.span("sources.meta")(Versioned.pruneCount(spark, table,
          F.col("id") >= lo && F.col("id") < hi))
        h.add("sources.segments_scanned_frac", kept.toDouble / total)
      }
      got = Sql.run(h, engine, s"SELECT COUNT(*) AS n, SUM(v) AS sv FROM '$table' " +
        s"WHERE id >= $lo AND id < $hi")
      got.head.getLong(0)
    }.foreach { _ =>
      val ids = liveIn(lo, hi)
      h.check("pruned read matches the model")(got.head.getLong(0) == ids.length &&
        got.head.getLong(1) == ids.map(value(_)).sum)
    }
  }

  private def readFull(h: Harness): Unit = {
    var got: Seq[Row] = Nil
    h.stmt("read_full", "read") {
      if (h.probing) h.add("sources.segments_scanned_frac", 1.0)
      got = Sql.run(h, engine,
        s"SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM '$table' GROUP BY k ORDER BY k")
      got.map(_.getLong(1)).sum
    }.foreach { _ =>
      val n = new Array[Long](97)
      val sv = new Array[Long](97)
      (0 until nextId).foreach(id => if (alive(id)) { n(k(id)) += 1; sv(k(id)) += value(id) })
      h.check("full read matches the model per key")(got.length == 97 &&
        got.forall(r => r.getLong(1) == n(r.getInt(0)) && r.getLong(2) == sv(r.getInt(0))))
    }
  }

  private def apply(h: Harness): Unit = {
    var head = 0L
    write(h, "cdc_apply", pending, replica, table) {
      head = h.span("sources.meta")(Versioned.versions(spark, table).last)
      val feed = h.span("streaming.feed")(Versioned.changeFeed(spark, table, lastApplied))
      if (h.probing) h.add("streaming.feed_rows", feed.count().toDouble)
      h.span("streaming.apply")(Streams.applyChanges(spark, replica, feed, Seq("id")))
    }.foreach { _ =>
      lastApplied = head
      pending = 0
      val model = modelDigest
      h.check("table matches the model")(digest(table) == model)
      h.check("replica equals the source")(digest(replica) == model)
    }
  }

  private def optimize(h: Harness): Unit =
    write(h, "optimize", liveRows, table)(h.span("sources.compact")(Sql.run(h, engine,
      s"OPTIMIZE '$table' ZORDER BY (id, k) SEGMENTS $Segments"))): Unit

  private def vacuum(h: Harness): Unit = {
    write(h, "vacuum", 0, table)(Sql.run(h, engine, s"VACUUM '$table' KEEP 2")): Unit
    // client housekeeping, untimed: bound the replica's history and
    // drop the applied merge batches
    Versioned.vacuum(spark, replica, 1): Unit
    Box.deleteTree(new File(s"$dir/batches"))
  }

  // reads sit between the writes, so each read statement of the mix sees
  // another state of the table
  def cycle: IndexedSeq[Harness => Unit] = IndexedSeq(update, readPruned,
    delete, readPruned, insert, readFull, merge, readPruned, readFull,
    apply, optimize, vacuum)
}
