package graft.trace

import org.apache.spark.sql.{functions => F}

/** Isolated re-measurement of the q275 footer-vs-scan pair (round-16
  * verdict ask #2: the dirty sweep published the footer-only COUNT at
  * 0.52 s — 2.7× SLOWER than the full 6M-row scan it shortcuts, while
  * its own prune accounting says 0/30 row groups read; either the
  * footer path regressed or the number is steal weather). Stages the
  * x10 table exactly like [[graft.Bench.stageX10]] (10 × lineitem,
  * 3-ish files) and times both bodies back-to-back per rep.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_REPS (default 5). */
object FooterTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft_footer_trace")
    val x10 = s"$base/lineitem_x10.parquet"
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rows = li.count()
    (0 until 10).map(_ => li).reduce(_.union(_))
      .write.option("maxRecordsPerFile", (rows / 3 + 1).toString)
      .mode("overwrite").parquet(x10)

    def footerQ = graft.sources.Tables.parquetFooterStats(spark, x10)
      .filter(F.col("column") === "l_orderkey")
      .groupBy("column")
      .agg(F.sum("n_values").as("n_rows"),
        F.min("min_val").as("min_val"), F.max("max_val").as("max_val"))
    def scanQ = spark.read.parquet(x10)
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.min("l_orderkey").as("min_val"),
        F.max("l_orderkey").as("max_val"))
    def time(q: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    time(footerQ); time(scanQ) // warmups
    (1 to reps).foreach { i =>
      System.gc()
      val f = time(footerQ)
      val s = time(scanQ)
      println(f"FOOTER_TRACE rep$i%d footer=$f%.3f s scan=$s%.3f s")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    spark.stop()
  }
}
