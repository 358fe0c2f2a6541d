package graft.trace

import org.apache.spark.sql.{DataFrame, functions => F}

/** Isolated timing for the BPE ENCODE pass (the bench's
  * q279_bpe_encode32k body): rebuilds the sweep's widened x10 corpus,
  * trains the 32k table once (untimed), then times encode + token
  * histogram reps — the per-row native-expression path a corpus-scale
  * tokenization job is made of.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (5),
  * SPARK_GRAFT_MERGES (32768). */
object EncodeProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_MERGES", "32768").toInt
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def corpus: DataFrame = {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val x10 = (0 until 10).map(i => d.select(
        (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
        F.col("text"))).reduce(_.union(_)).coalesce(32)
      x10.select(F.col("text")).unionAll(
        x10.select(F.md5(F.col("doc_id").cast("string")).as("text")))
    }
    val freqs = graft.operators.TextAnalysis.bpeWordFreqsTop(corpus, "text")
    val merges =
      graft.operators.TextAnalysis.bpeTrainFromFreqs(freqs, nMerges)
    println(s"ENCODEPROFILE table=${merges.length} merges")
    val staged = corpus.persist()
    staged.count(): Unit
    // SPARK_GRAFT_ENCODE_PURE=1: sum-of-sizes body — no explode, no
    // shuffle, so the expression's own per-row cost is the stage
    val pure = sys.env.get("SPARK_GRAFT_ENCODE_PURE").contains("1")
    def body(): Unit =
      (if (pure)
        staged.select(F.size(graft.operators.TextAnalysis
            .bpeEncode(F.col("text"), merges)).as("n"))
          .agg(F.sum("n"))
      else
        staged.select(F.explode(graft.operators.TextAnalysis
            .bpeEncode(F.col("text"), merges)).as("token"))
          .groupBy("token").agg(F.count(F.lit(1)).as("n"))
          .orderBy(F.col("n").desc, F.col("token").asc).limit(30))
        .write.format("noop").mode("overwrite").save()
    body() // warmup
    (1 to reps).foreach { i =>
      System.gc()
      val t0 = System.nanoTime()
      body()
      println(f"ENCODEPROFILE rep$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
