package graft

import java.nio.file.Files

import org.apache.spark.sql.{functions => F}

import graft.sources.Versioned

/** MERGE on the small-source path + CDC apply fast path: the one-pass
  * rewrite must commit exactly the rows, counts and change rows the spec
  * computes itself, a clause condition over source columns alone must
  * never fire on unmatched rows, and the applyChanges collected-source
  * path must match the staged path (the `graft.apply.collectMaxBytes`
  * conf gate forces each side of that A/B). */
class MergeFusedSpec extends SparkSpec {

  private def freshPath(tag: String): String =
    Files.createTempDirectory(s"graft-fused-$tag").toString + "/ds"

  /** Two segments of 100 rows each (ids [0,100) and [100,200)). */
  private def ds(tag: String): String = {
    import spark.implicits._
    val path = freshPath(tag)
    (0 until 2).foreach { i =>
      Versioned.commit(
        (100 * i until 100 * (i + 1))
          .map(id => (id.toLong, s"p$id", id.toLong * 2))
          .toDF("id", "payload", "score"), path)
    }
    path
  }

  /** A parquet MERGE source: upserts for ids 90..109 (spanning both
    * segments) + 3 new ids, plus a delete marker column. */
  private def srcPath(tag: String): String = {
    import spark.implicits._
    val p = Files.createTempDirectory(s"graft-fused-src-$tag").toString +
      "/src.parquet"
    ((90 until 110).map(id => (id.toLong, s"u$id", false)) ++
      Seq((500L, "new500", false), (501L, "new501", false),
        (60L, "d60", true))) // 60 exercises the DELETE clause
      .toDF("id", "val", "del")
      .write.parquet(p)
    p
  }

  private val mergeSql = (target: String, src: String) =>
    s"MERGE INTO '$target' t USING '$src' s ON t.id = s.id" +
      " WHEN MATCHED AND s.del THEN DELETE" +
      " WHEN MATCHED THEN UPDATE SET payload = s.val" +
      " WHEN NOT MATCHED THEN INSERT (id, payload, score) " +
      "VALUES (s.id, s.val, 0 - 1)"

  private def withConf[T](k: String, v: String)(body: => T): T =
    Engine.withConfs(spark, cond = true, k -> v)(body)

  test("MERGE commits the rows, counts and change feed computed " +
    "independently") {
    val src = srcPath("ab")
    val path = ds("merge")
    val r = Engine(spark).sql(mergeSql(path, src)).df.collect().head
    val updated = 90L until 110L
    val inserted = Seq((500L, "new500"), (501L, "new501"))
    // (n_updated, n_deleted, n_inserted)
    assert(r.toSeq.drop(1) === Seq(20L, 1L, 2L))
    val expected: Set[Seq[Any]] =
      (0L until 200L).filter(_ != 60L).map { id =>
        Seq[Any](id, if (updated.contains(id)) s"u$id" else s"p$id", id * 2)
      }.toSet ++ inserted.map { case (id, p) => Seq[Any](id, p, -1L) }
    assert(rows(Versioned.read(spark, path)) === expected)
    // change rows (minus the commit version), one per image
    val hv = Versioned.versions(spark, path).last
    val feed = Versioned.changeFeed(spark, path, hv - 1, Some(hv))
      .drop("_commit_version")
    val expectedFeed: Set[Seq[Any]] =
      updated.map(id => Seq[Any](id, s"p$id", id * 2, "update_preimage"))
        .toSet ++
        updated.map(id => Seq[Any](id, s"u$id", id * 2, "update_postimage")) ++
        Seq(Seq[Any](60L, "p60", 120L, "delete")) ++
        inserted.map { case (id, p) => Seq[Any](id, p, -1L, "insert") }
    assert(feed.count() == expectedFeed.size.toLong)
    assert(rows(feed) === expectedFeed)
  }

  test("a source-only clause condition does not fire on unmatched rows " +
    "under fusion (LEFT-join null mask)") {
    import spark.implicits._
    val path = ds("mask")
    val p = Files.createTempDirectory("graft-fused-src-mask").toString +
      "/src.parquet"
    // source hits ONLY id 10; its marker column is null
    Seq((10L, null.asInstanceOf[String]))
      .toDF("id", "marker").write.parquet(p)
    val before = Versioned.read(spark, path).count()
    // `s.marker IS NULL` is TRUE on the null source side of every
    // unmatched row — without the __win mask the fused plan would
    // delete the whole candidate segment
    Engine(spark).sql(
      s"MERGE INTO '$path' t USING '$p' s ON t.id = s.id" +
        " WHEN MATCHED AND s.marker IS NULL THEN DELETE"): Unit
    assert(Versioned.read(spark, path).count() === before - 1)
  }

  test("cardinality violation still throws under fusion") {
    import spark.implicits._
    val path = ds("card")
    val p = Files.createTempDirectory("graft-fused-src-card").toString +
      "/src.parquet"
    Seq((10L, "a"), (10L, "b")).toDF("id", "val").write.parquet(p)
    val e = intercept[Exception] {
      Engine(spark).sql(
        s"MERGE INTO '$path' t USING '$p' s ON t.id = s.id" +
          " WHEN MATCHED THEN UPDATE SET payload = s.val")
    }
    assert(e.getMessage.contains("matches more than"))
  }

  test("applyChanges collected and staged paths converge identically") {
    import spark.implicits._
    val (srcP, repFast, repStaged) =
      (ds("cdc-src"), ds("cdc-fast"), ds("cdc-staged"))
    val hv0 = Versioned.versions(spark, srcP).last
    val eng = Engine(spark)
    eng.sql(s"UPDATE '$srcP' SET score = score + 1 WHERE id < 5"): Unit
    eng.sql(s"DELETE FROM '$srcP' WHERE id = 150"): Unit
    val hv1 = Versioned.versions(spark, srcP).last
    def applyTo(rep: String): Unit =
      graft.streaming.Streams.applyChanges(spark, rep,
        Versioned.changeFeed(spark, srcP, hv0, Some(hv1)), Seq("id"))
    applyTo(repFast) // default: estimate-gated collect + injected source
    withConf("graft.apply.collectMaxBytes", "0") {
      applyTo(repStaged) // forced parquet staging path
    }
    assert(rows(Versioned.read(spark, repFast)) ===
      rows(Versioned.read(spark, repStaged)))
    assert(rows(Versioned.read(spark, repFast)) ===
      rows(Versioned.read(spark, srcP)))
  }
}
