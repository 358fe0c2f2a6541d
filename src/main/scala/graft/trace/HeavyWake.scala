package graft.trace

import org.apache.spark.sql.{DataFrame, functions => F}

/** What does a compute canary cost right after a HEAVY probe body, and
  * what drains it? The LSH x10 probes' entry canary floors sit 2-6x
  * the global floor on an idle box even after unpersist + GC + settle
  * + one throwaway canary — this experiment runs an LSH-shaped body
  * (minhash near-dup pairs over a 10x-replicated corpus), then times a
  * SEQUENCE of canaries under increasing drain, to localize the wake.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (4). */
object HeavyWake {
  private def execTime(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "4").toInt
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def canary = spark.range(0, 3200000L, 1, 32).agg(F.sum("id"))

    // the q29_x10 shape: 10x-replicated documents through banded
    // minhash near-dup pair generation
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val x10 = (0 until 10).map(i => d.select(
      (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
      F.col("text"))).reduce(_.union(_)).coalesce(32)
    def body() = graft.operators.Dedup.minhashLsh(
      x10, "text", "doc_id",
      numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
      maxBucket = 64)

    execTime(body()); execTime(canary) // warmups
    val idle = (1 to 8).map { _ => Thread.sleep(200); execTime(canary) }
    val floor = idle.sorted.apply(2)
    println(f"HEAVYWAKE idle floor=$floor%.4f  " +
      idle.map(c => f"$c%.3f").mkString(" "))

    (1 to reps).foreach { r =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val t = execTime(body())
      // sequence: immediate, after unpersist+GC, after 150ms settle,
      // then 6 consecutive — where does it decay to the floor?
      val c0 = execTime(canary)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val c1 = execTime(canary)
      Thread.sleep(150)
      val c2 = execTime(canary)
      val rest = (1 to 6).map(_ => execTime(canary))
      println(f"HEAVYWAKE rep$r body=$t%.2f canaries/floor: " +
        (Seq(c0, c1, c2) ++ rest).map(c => f"${c / floor}%.2f")
          .mkString(" "))
    }
    spark.stop()
  }
}
