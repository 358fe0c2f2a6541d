package graft.trace

import org.apache.spark.sql.{DataFrame, functions => F}

/** Isolated re-measurement of the Bench-internal x10-family probes the
  * quiet-box ledger could not previously reach (they stage their own
  * replicated inputs inside the sweep, so BenchOne's by-name path
  * cannot run them): the cross-corpus fuzzy-decontamination scaling
  * probe (`q129_x10_50kdocs`) and the skew-join pair
  * (`q44_x10_skewed_unsalted` / `_salted`, run INTERLEAVED under the
  * probe's exact AQE/broadcast conf). Staging replicates
  * [[graft.Bench]]'s exactly; bodies are the probes' verbatim.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_REPS (default 5). */
object X10Trace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft_x10_trace")

    def docs10: DataFrame = {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      (0 until 10).map(i => d.select(
        (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
        F.col("text"))).reduce(_.union(_)).coalesce(cpus)
    }
    def q129 = graft.operators.Dedup.minhashLshCross(
      docs10.filter(F.col("doc_id") % 1000000000L >= 20), "text", "doc_id",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").filter(F.col("doc_id") < 20),
      "text", "doc_id",
      numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.5,
      maxBucket = 64)

    // skew pair staging, verbatim from the sweep
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "value")
    val rows = ev.count()
    val skewPath = s"$base/events_x10.parquet"
    (0 until 10).map(i => ev.select(
        (F.col("event_id") + F.lit(i.toLong * 1000000000L)).as("event_id"),
        F.when(F.col("event_id") % 2 === 0, F.lit(0L))
          .otherwise(F.col("user_id")).as("user_id"),
        F.col("value")))
      .reduce(_.union(_))
      .write.option("maxRecordsPerFile", (rows * 10 / 32 + 1).toString)
      .mode("overwrite").parquet(skewPath)
    val dimPath = s"$base/dim.parquet"
    ev.select(F.col("user_id").as("d_user_id")).distinct()
      .union(spark.range(1).select(F.lit(0L).as("d_user_id"))).distinct()
      .withColumn("segment", F.pmod(F.col("d_user_id"), F.lit(10L)))
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    def dim = spark.read.parquet(dimPath)
    def agg(j: DataFrame) = j.groupBy("segment")
      .agg(F.round(F.sum("value"), 2).as("v"), F.count(F.lit(1)).as("n"))
    def unsalted = agg(spark.read.parquet(skewPath)
      .join(dim.hint("merge"), F.col("user_id") === F.col("d_user_id")))
    def salted = agg(graft.operators.Scale.saltedJoin(
      spark.read.parquet(skewPath), dim, "user_id", "d_user_id",
      F.hash(F.col("event_id")), salts = 16))

    def time(q: => DataFrame): Double = {
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def sweepGc(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }

    def q219 = graft.operators.Pack.ffdPack(
      docs10, "doc_id",
      graft.operators.TextAnalysis.tokenCount(F.col("text")),
      budget = 256, numShards = 160)

    sweepGc(); time(q129) // warmup
    (1 to reps).foreach { i =>
      sweepGc()
      println(f"X10TRACE rep$i%d q129_x10=${time(q129)}%.3f s")
    }
    sweepGc(); time(q219) // warmup
    (1 to reps).foreach { i =>
      sweepGc()
      println(f"X10TRACE rep$i%d q219_x10=${time(q219)}%.3f s")
    }

    // the skew pair runs under the probe's pinned conf
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sweepGc(); time(unsalted); time(salted) // warmups
    (1 to reps).foreach { i =>
      sweepGc()
      val u = time(unsalted)
      val s = time(salted)
      println(f"X10TRACE rep$i%d q44_unsalted=$u%.3f s q44_salted=$s%.3f s")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    spark.stop()
  }
}
