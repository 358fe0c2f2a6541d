package graft.trace

import org.apache.spark.sql.{DataFrame, functions => F}

/** Isolated re-measurement of the bench's Avro sync-split pair
  * (q280_avro_1file_whole / _split) — the quiet-box ledger runner for
  * an unattributed in-sweep regression (round-15 verdict ask #3).
  * Rebuilds the probe's exact input (one local OCF file of the staged
  * lineitem projection), then times the same whole-file vs byte-range
  * split aggregation INTERLEAVED per rep so the published pair
  * ordering is load-invariant, exactly like the sweep's runner.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_REPS (default 7). Session config mirrors Bench.
  */
object AvroSplitTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "7").toInt
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("graft_avrotrace")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      F.col("l_returnflag"), F.col("l_linestatus"),
      F.col("l_quantity").cast("double").as("l_quantity"))
    graft.sources.Avro.writeFile(
      new java.io.File(dir.toFile, "lineitem.avro"), li.schema,
      scala.jdk.CollectionConverters.IteratorHasAsScala(
        li.toLocalIterator()).asScala, "null")
    def agg(df: DataFrame) = df.groupBy("l_returnflag")
      .agg(F.sum("l_quantity").as("sum_qty"))
    def whole() = agg(graft.sources.Avro.read(
      spark, s"$dir/lineitem.avro", maxSplitBytes = Long.MaxValue))
    def split() = agg(graft.sources.Avro.read(spark, s"$dir/lineitem.avro"))
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    time(whole()); time(split()) // warmups
    val (w, s) = (Seq.newBuilder[Double], Seq.newBuilder[Double])
    (1 to reps).foreach { i =>
      System.gc()
      val tw = time(whole()); val ts = time(split())
      w += tw; s += ts
      println(f"AVROTRACE rep$i whole=$tw%.4f split=$ts%.4f")
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    println(f"AVROTRACE median whole=${med(w.result())}%.4f " +
      f"split=${med(s.result())}%.4f")
    spark.stop()
  }
}
