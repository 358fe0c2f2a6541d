package graft.trace

import org.apache.spark.sql.{functions => F}

/** Isolated re-measurement of the DML delete-shape pair
  * (`q06_delete_cow_16segs` / `q06_delete_dv_16segs`): a scattered
  * 16-row takedown — one row per segment of a 16-segment 6M-row
  * table — through copy-on-write vs deletion vectors, staged exactly
  * like the sweep's probe (range-bucketed x10 lineitem, fresh id set
  * per rep so every rep does real work, version history accumulating —
  * the lakehouse behavior being measured). The quiet-box ledger runner
  * for a churny pair BenchOne's by-name path cannot reach: every rep
  * WRITES (16 position lists for dv, the whole table for cow), so reps
  * are disk-state sensitive by design.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_REPS (default 5). */
object DeleteTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft_del_trace")

    // stage the x10 table, then range-bucket it into 16 segments per
    // dataset — verbatim the sweep's stageX10 + stageRangeSegments
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rows = li0.count()
    val x10 = s"$base/lineitem_x10.parquet"
    (0 until 10).map(_ => li0).reduce(_.union(_))
      .write.option("maxRecordsPerFile", (rows / 3 + 1).toString)
      .mode("overwrite").parquet(x10)
    val li = spark.read.parquet(x10)
    val b = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).collect().head
    val (mnK, mxK) = (b.getLong(0), b.getLong(1))
    val nSeg = 16
    val width = (mxK - mnK) / nSeg + 1
    val bucketed = s"$base/buckets"
    li.withColumn("__b", ((F.col("l_orderkey") - mnK) / width).cast("int"))
      .write.partitionBy("__b").mode("overwrite").parquet(bucketed)
    val Seq(cowPath, dvPath) = Seq("cow", "dv").map { tag =>
      val p = s"$base/$tag/ds"
      (0 until nSeg).foreach { i =>
        graft.sources.Versioned.commit(
          spark.read.parquet(s"$bucketed/__b=$i"), p): Unit
      }
      p
    }
    var rep = 0
    def ids(): Seq[Long] = {
      rep += 1
      (0 until nSeg).map(i => mnK + i * width + rep)
    }
    def time(body: => Unit): Double = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // one warmup pair, then interleaved timed reps
    time { graft.sources.Versioned.deleteWhere(spark, cowPath,
      F.col("l_orderkey").isInCollection(ids())): Unit }
    time { graft.sources.Versioned.deleteWhereVectored(spark, dvPath,
      F.col("l_orderkey").isInCollection(ids())): Unit }
    (1 to reps).foreach { i =>
      val c = time { graft.sources.Versioned.deleteWhere(spark, cowPath,
        F.col("l_orderkey").isInCollection(ids())): Unit }
      val d = time { graft.sources.Versioned.deleteWhereVectored(spark,
        dvPath, F.col("l_orderkey").isInCollection(ids())): Unit }
      println(f"DELETE_TRACE rep$i%d cow=$c%.3f s dv=$d%.3f s")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    spark.stop()
  }
}
