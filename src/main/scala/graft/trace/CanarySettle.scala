package graft.trace

import org.apache.spark.sql.{DataFrame, functions => F}

/** Canary-context experiment: does the back-to-back canary after a
  * timed rep read elevated because of AMBIENT load, or because of the
  * rep's own trailing async work (ContextCleaner, shuffle-file
  * deletion, block-manager eviction)? Runs a flagship-sized rep, then
  * times the canary immediately AND after settle delays — on an idle
  * box, a systematic immediate-vs-settled gap is self-load, which the
  * qualification bar should not count against the rep. */
object CanarySettle {
  private def execTime(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def canary = spark.range(0, 3200000L, 1, 32).agg(F.sum("id"))
    def canary2 = spark.range(0, 32L, 1, 32).agg(F.sum("id"))
    def q = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(F.sum("l_quantity"), F.avg("l_extendedprice"),
        F.count(F.lit(1)))
    execTime(q); execTime(canary) // warmups
    val curve = (1 to 60).map(_ => execTime(canary))
    val curve2 = (1 to 60).map(_ => execTime(canary2))
    println("CANARY_SETTLE curve2: " + curve2.zipWithIndex.collect { case (c, i) if i % 5 == 0 => f"$i%d:$c%.3f" }.mkString(" "))
    println(f"CANARY_SETTLE curve2 min=${curve2.min}%.4f last10med=${curve2.takeRight(10).sorted.apply(5)}%.4f")
    println("CANARY_SETTLE curve: " + curve.zipWithIndex.collect { case (c, i) if i % 5 == 0 => f"$i%d:$c%.3f" }.mkString(" "))
    println(f"CANARY_SETTLE curve min=${curve.min}%.4f last10med=${curve.takeRight(10).sorted.apply(5)}%.4f")
    // idle baseline: canaries with NO preceding rep
    val idle = (1 to 8).map { _ => Thread.sleep(300); execTime(canary) }
    println(f"CANARY_SETTLE idle canaries: " +
      idle.map(c => f"$c%.4f").mkString(" "))
    val floor = idle.sorted.apply(2)
    Seq(0L, 100L, 200L, 400L).foreach { delayMs =>
      val rs = (1 to 8).map { _ =>
        System.gc()
        execTime(q): Unit
        if (delayMs > 0) Thread.sleep(delayMs)
        execTime(canary)
      }
      println(f"CANARY_SETTLE delay=${delayMs}ms ratios: " +
        rs.map(c => f"${c / floor}%.2f").mkString(" "))
    }
    spark.stop()
  }
}
