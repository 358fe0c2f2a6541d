package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.sources.Versioned

/** Row positions instead of joins: deletion vectors filter inside the
  * scan, MERGE, UPDATE and DELETE rewrite their affected segments in one
  * pass (matched positions excluded, postimages added), and vectored
  * UPDATE/DELETE build small vectors on the driver. Every expectation here is computed
  * by the spec itself — from raw parquet reads of the segment files or
  * from plain Scala over the ids — never by the code under test. */
class RowPositionSpec extends SparkSpec {

  private def freshPath(tag: String): String =
    Files.createTempDirectory(s"graft-rowpos-$tag").toString + "/ds"

  /** `nSeg` segments of `perSeg` rows, each segment written as
    * `files` part files: segment i holds ids [perSeg·i, perSeg·(i+1)),
    * payload `p<id>`, score = 2·id. */
  private def ds(tag: String, nSeg: Int, perSeg: Int, files: Int): String = {
    val path = freshPath(tag)
    (0 until nSeg).foreach { i =>
      Versioned.commit(spark.range(perSeg.toLong * i, perSeg.toLong * (i + 1))
        .select(F.col("id"), F.concat(F.lit("p"), F.col("id")).as("payload"),
          (F.col("id") * 2).as("score"))
        .repartition(files), path)
    }
    path
  }

  /** The raw rows of a version's segment files, with the parquet
    * provenance the vectors key on — no vector applied. */
  private def rawWithPositions(path: String, v: Long): DataFrame =
    spark.read.parquet(Versioned.headSegments(spark, path, Some(v))
        .map(s => s"$path/data/$s"): _*)
      .select(F.col("id"), F.col("payload"), F.col("score"),
        F.col("_metadata.file_path").as("__file"),
        F.col("_metadata.row_index").as("__pos"))

  /** Reference read: raw rows anti-joined against the deleted ids. */
  private def reference(path: String, v: Long, deleted: Seq[Long]): DataFrame = {
    import spark.implicits._
    rawWithPositions(path, v)
      .join(deleted.toDF("id"), Seq("id"), "left_anti")
  }

  test("in-scan vector filter: read, provenance read and time travel " +
    "equal an anti-join reference on multi-file vectored segments") {
    val path = ds("scan", nSeg = 3, perSeg = 3000, files = 3)
    val v0 = Versioned.versions(spark, path).last
    // every segment's files are hit: ids spread over the whole range
    val del1 = (0L until 9000L by 37L)
    val v1 = Versioned.deleteWhereVectored(spark, path,
      F.col("id").isin(del1: _*))
    val del2 = (5L until 9000L by 101L).filterNot(del1.contains)
    val v2 = Versioned.deleteWhereVectored(spark, path,
      F.col("id").isin(del2: _*))
    assert(Versioned.readDvMap(spark, path, v2).size == 3)
    Seq((v0, Seq.empty[Long]), (v1, del1), (v2, del1 ++ del2)).foreach {
      case (v, deleted) =>
        val ref = reference(path, v, deleted)
        assert(rows(Versioned.read(spark, path, Some(v))) ===
          rows(ref.drop("__file", "__pos")), s"read at version $v")
        assert(rows(Versioned.readWithProvenance(spark, path, Some(v))
            .drop("__seg")) === rows(ref), s"provenance read at version $v")
        assert(Versioned.read(spark, path, Some(v)).count() ==
          9000L - deleted.size)
    }
    // filters compose with the vector filter
    assert(Versioned.read(spark, path, Some(v2))
      .where(F.col("id") < 1000).count() ==
      1000L - (del1 ++ del2).count(_ < 1000))
  }

  test("the over-cap anti join drops the same rows from a bare relation " +
    "(metadata fields) and a provenance-tagged frame") {
    val path = ds("anti", nSeg = 2, perSeg = 2000, files = 2)
    val v = Versioned.versions(spark, path).last
    val deleted = (0L until 4000L by 13L)
    val positions = Versioned.readWithProvenance(spark, path, Some(v))
      .where(F.col("id").isin(deleted: _*))
    val ref = reference(path, v, deleted)
    val bare = graft.sources.DeletionVectors.antiJoin(
      Versioned.read(spark, path, Some(v)), positions,
      file = "_metadata.file_path", pos = "_metadata.row_index")
    assert(bare.columns.toSeq == Seq("id", "payload", "score"))
    assert(rows(bare) === rows(ref.drop("__file", "__pos")))
    val tagged = graft.sources.DeletionVectors.antiJoin(
      Versioned.readWithProvenance(spark, path, Some(v)), positions)
    assert(rows(tagged.drop("__seg")) === rows(ref))
  }

  test("reading a vectored snapshot runs no more jobs than reading it " +
    "without vectors") {
    val path = ds("jobs", nSeg = 3, perSeg = 1000, files = 2)
    val plain = Versioned.versions(spark, path).last
    val vectored = Versioned.deleteWhereVectored(spark, path,
      F.col("id").isin(3L, 1500L, 2999L))
    // warm both snapshots' file indexes so only the reads are counted
    Versioned.read(spark, path, Some(plain)).collect(): Unit
    Versioned.read(spark, path, Some(vectored)).collect(): Unit
    val jPlain =
      jobsOf(Versioned.read(spark, path, Some(plain)).collect(): Unit).size
    val jVectored =
      jobsOf(Versioned.read(spark, path, Some(vectored)).collect(): Unit).size
    assert(jVectored <= jPlain, s"vectored $jVectored vs plain $jPlain jobs")
  }

  /** 80k rows in 4 segments (or `nSeg` of 20k): the size at which a
    * match set passes the 65,536-row small-match cap. */
  private def big(tag: String, nSeg: Int = 4): String =
    ds(tag, nSeg = nSeg, perSeg = 20000, files = 2)

  private def changesAt(path: String): DataFrame = {
    val hv = Versioned.versions(spark, path).last
    Versioned.changeFeed(spark, path, hv - 1, Some(hv))
      .drop("_commit_version")
  }

  test("MERGE over the small-match cap commits the rows, status and " +
    "change rows computed independently") {
    import spark.implicits._
    val path = big("mbig")
    assert(Engine.MergeSmallMatchRows < 70000L)
    // source: ids 10000..80999 — 70,000 match, 1,000 are new; every
    // tenth matched id carries the delete marker
    val src = Files.createTempDirectory("graft-rowpos-msrc").toString +
      "/src.parquet"
    (10000L until 81000L).map(id => (id, s"u$id", id % 10 == 0))
      .toDF("id", "val", "del").write.parquet(src)
    val r = Engine(spark).sql(
      s"MERGE INTO '$path' t USING '$src' s ON t.id = s.id" +
        " WHEN MATCHED AND s.del THEN DELETE" +
        " WHEN MATCHED THEN UPDATE SET payload = s.val" +
        " WHEN NOT MATCHED THEN INSERT (id, payload, score) " +
        "VALUES (s.id, s.val, 0 - 1)").df.collect().head
    val matched = 10000L until 80000L
    val (deleted, updated) = matched.partition(_ % 10 == 0)
    val inserted = 80000L until 81000L
    assert(r.toSeq.drop(1) === Seq(updated.size.toLong,
      deleted.size.toLong, inserted.size.toLong))
    val expected: Set[Seq[Any]] =
      (0L until 10000L).map(id => Seq[Any](id, s"p$id", 2 * id)).toSet ++
        updated.map(id => Seq[Any](id, s"u$id", 2 * id)) ++
        inserted.map(id => Seq[Any](id, s"u$id", -1L))
    assert(rows(Versioned.read(spark, path)) === expected)
    val expectedChanges: Set[Seq[Any]] =
      updated.map(id => Seq[Any](id, s"p$id", 2 * id, "update_preimage")).toSet ++
        updated.map(id => Seq[Any](id, s"u$id", 2 * id, "update_postimage")) ++
        deleted.map(id => Seq[Any](id, s"p$id", 2 * id, "delete")) ++
        inserted.map(id => Seq[Any](id, s"u$id", -1L, "insert"))
    val feed = changesAt(path)
    assert(feed.count() == expectedChanges.size.toLong) // no duplicates
    assert(rows(feed.select("id", "payload", "score", "_change_type")) ===
      expectedChanges)
  }

  /** Run an UPDATE and a DELETE — vectored, or copy-on-write when
    * `vectored` is false — whose matched sets are the id ranges
    * [updLo, updHi) and [delLo, delHi) of a `nSeg`-segment table,
    * checking reads, status rows and change rows against the spec's own
    * arithmetic, and how each statement left the segments. */
  private def vectoredDml(tag: String, updLo: Long, updHi: Long,
                          delLo: Long, delHi: Long,
                          vectored: Boolean = true, nSeg: Int = 4): Unit = {
    val path = big(tag, nSeg)
    val total = 20000L * nSeg
    val eng = Engine(spark)
    val mode = if (vectored) "VECTORED " else ""
    /** Run `stmt`; for copy-on-write, check the rewritten segments carry
      * no vectors and some untouched segment carries by reference. */
    def run(stmt: String) = {
      val before = Versioned.headSegments(spark, path).toSet
      val r = eng.sql(stmt).df.collect().head
      val hv = Versioned.versions(spark, path).last
      val after = Versioned.headSegments(spark, path).toSet
      if (!vectored) {
        val dvs = Versioned.readDvMap(spark, path, hv)
        assert((after -- before).nonEmpty &&
          (after -- before).forall(s => !dvs.contains(s)),
          s"rewritten segments ${after -- before} vs vectors $dvs")
        assert(before.intersect(after).nonEmpty,
          s"$stmt carried no segment by reference")
      }
      r
    }
    val upd = run(s"UPDATE $mode'$path' SET score = score + 1 " +
      s"WHERE id >= $updLo AND id < $updHi")
    val updated = updLo until updHi
    assert(upd.getLong(1) == updated.size.toLong)
    assert(rows(changesAt(path).select("id", "score", "_change_type")) ===
      (updated.map(id => Seq[Any](id, 2 * id, "update_preimage")).toSet ++
        updated.map(id => Seq[Any](id, 2 * id + 1, "update_postimage"))))
    val del = run(s"DELETE ${mode}FROM '$path' " +
      s"WHERE id >= $delLo AND id < $delHi")
    val deleted = (delLo until delHi).toSet
    assert(del.getLong(1) == total - deleted.size)
    def score(id: Long) = if (updated.contains(id)) 2 * id + 1 else 2 * id
    assert(rows(changesAt(path).select("id", "score", "_change_type")) ===
      deleted.map(id => Seq[Any](id, score(id), "delete")))
    assert(rows(Versioned.read(spark, path)) ===
      (0L until total).filterNot(deleted).map(id =>
        Seq[Any](id, s"p$id", score(id))).toSet)
    // vectors, not rewrites, carry a vectored change
    if (vectored) assert(Versioned.readDvMap(spark, path,
      Versioned.versions(spark, path).last).nonEmpty)
  }

  test("vectored UPDATE and DELETE under the small-match cap (driver " +
    "path) commit the expected reads, status rows and change rows") {
    vectoredDml("dml-small", updLo = 19900L, updHi = 20100L,
      delLo = 20050L, delHi = 20150L)
  }

  test("vectored UPDATE and DELETE over the small-match cap (staged " +
    "path) commit the expected reads, status rows and change rows") {
    assert(Engine.MergeSmallMatchRows < 70000L)
    vectoredDml("dml-big", updLo = 5000L, updHi = 75000L,
      delLo = 4000L, delHi = 74000L)
  }

  test("copy-on-write UPDATE and DELETE under the small-match cap " +
    "rewrite only the touched segments, without vectors") {
    vectoredDml("cow-small", updLo = 19900L, updHi = 20100L,
      delLo = 20050L, delHi = 20150L, vectored = false)
  }

  test("copy-on-write UPDATE and DELETE over the small-match cap " +
    "rewrite only the touched segments, without vectors") {
    assert(Engine.MergeSmallMatchRows < 70000L)
    vectoredDml("cow-big", updLo = 5000L, updHi = 75000L,
      delLo = 4000L, delHi = 74000L, vectored = false, nSeg = 5)
  }
}
