package graft.trace

import org.apache.spark.sql.{functions => F}

/** Isolated re-measurement of the Bench layout probes
  * (`q06_zorder_2ndcol` / `q06_linear_2ndcol` and the prune pair) on a
  * quiet box — stages the SAME layouts as `graft.Bench` (6M-row x10
  * lineitem, 150k-row files, 64 KB row groups, zorder on
  * (l_orderkey, l_quantity) vs linear sort) and times the same queries
  * interleaved per-rep, without the rest of the sweep around them.
  * Exists for regression adjudication: a sweep entry labeled
  * "unattributed" is either reproduced here (code/plan — go fix it) or
  * cleared (sweep context — record the isolated number in probe_notes).
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_REPS (default 7).
  */
object LayoutTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "7").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = java.nio.file.Files
      .createTempDirectory("graft_layout_trace").toString
    // x10 staging, exactly as Bench.stageX10
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rows = raw.count()
    val x10 = s"$base/x10.parquet"
    (0 until 10).map(_ => raw).reduce(_.union(_))
      .write.option("maxRecordsPerFile", (rows / 3 + 1).toString)
      .mode("overwrite").parquet(x10)
    val li = spark.read.parquet(x10).select(
      F.col("l_orderkey").cast("int").as("l_orderkey"),
      F.col("l_quantity").cast("float").as("l_quantity"),
      F.col("l_returnflag"))
    def write(df: org.apache.spark.sql.DataFrame, p: String): Unit =
      df.write.option("maxRecordsPerFile", "150000")
        .option("parquet.block.size", (64 * 1024).toString)
        .mode("overwrite").parquet(p)
    write(li.orderBy(F.hash(F.col("l_orderkey"), F.col("l_quantity"))),
      s"$base/shuffled")
    write(li.orderBy("l_orderkey"), s"$base/sorted")
    write(graft.sources.Versioned.zorderLayout(
        li, Seq("l_orderkey", "l_quantity"), numPartitions = Some(32)),
      s"$base/zorder")

    def qKey(path: String) = spark.read.parquet(path)
      .filter(F.col("l_orderkey") >= 10000 && F.col("l_orderkey") < 20000)
      .groupBy("l_returnflag")
      .agg(F.sum(F.col("l_quantity").cast("double")).as("sum_qty"))
    def qQty(path: String) = spark.read.parquet(path)
      .filter(F.col("l_quantity") >= 10 && F.col("l_quantity") < 13)
      .groupBy("l_returnflag")
      .agg(F.sum(F.col("l_quantity").cast("double")).as("sum_qty"))
    val bodies = Seq(
      "q06_parquet_unpruned" -> (() => qKey(s"$base/shuffled")),
      "q06_parquet_pruned" -> (() => qKey(s"$base/sorted")),
      "q06_zorder_2ndcol" -> (() => qQty(s"$base/zorder")),
      "q06_linear_2ndcol" -> (() => qQty(s"$base/sorted")))

    // one untimed warm pass (page cache + JIT), then interleaved reps
    bodies.foreach { case (_, b) =>
      b().write.format("noop").mode("overwrite").save()
    }
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to reps).foreach { i =>
      bodies.foreach { case (name, b) =>
        System.gc()
        val t0 = System.nanoTime()
        b().write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        times(name) = times(name) :+ t
        println(f"LAYOUTTRACE $name rep$i%d $t%.4f s")
      }
    }
    times.toSeq.sortBy(_._1).foreach { case (name, ts) =>
      val s = ts.sorted
      val med = s(s.size / 2)
      println(f"LAYOUTTRACE MEDIAN $name $med%.4f s  min=${s.head}%.4f " +
        f"max=${s.last}%.4f reps=${s.size}%d")
    }
    // ~4 staged copies of the 6M-row table per run — the repeated
    // adjudication runs this tool exists for must not fill /tmp
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    spark.stop()
  }
}
