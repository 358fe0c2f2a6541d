package graft
// Temporary plan-inspection main (dev tool).
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q06_q1_flagship", "q12_join3", "q32_knn_brute", "q17_topk",
      "q41_topk_probe", "q29_minhash_pairs", "q28_jaccard_pairs")
    for (name <- names) {
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
