package graft.trace

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-off measurement harness for the round-8 bench-staging question:
  * how many splits should each benchmark table stage to? Runs the exact
  * bench queries over copies of the sf dir whose ONE varied table is
  * staged at a given split count, everything else held at round-7
  * staging. Medians of 3 after warmup, printed as a table. Not part of
  * the bench contract — evidence for Bench.scala's split formula and the
  * BENCH notes.
  */
object SplitExperiment {
  private def execTime(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median3(q: => DataFrame): (Double, Double, Double) = {
    execTime(q) // warmup
    val runs = (1 to 3).map { _ => System.gc(); execTime(q) }.sorted
    (runs(1), runs.head, runs.last)
  }

  private def stage(spark: SparkSession, rawDir: String, out: String,
                    overrides: Map[String, Int]): Unit = {
    val dir = new java.io.File(rawDir)
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val name = f.getName.stripSuffix(".parquet")
      val df = spark.read.parquet(f.getPath)
      val rows = df.count()
      // round-7 defaults: min(cores, bytes/512KB, rows/50k)
      val default = math.max(1L,
        Seq(32L, f.length() / (512 * 1024), rows / 50000L).min).toInt
      val splits = overrides.getOrElse(name, default)
      val outPath = s"$out/${f.getName}"
      if (splits > 1)
        df.write.option("maxRecordsPerFile", (rows / splits + 1).toString)
          .mode("overwrite").parquet(outPath)
      else df.coalesce(1).write.mode("overwrite").parquet(outPath)
    }
  }

  def main(args: Array[String]): Unit = {
    val rawSfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val qs = graft.SparkEntry.queries
    // (table varied, splits to try, queries to time at each)
    val experiments = Seq(
      ("lineitem", Seq(4, 8, 12, 20, 32),
        Seq("q06_q1_flagship", "q44_salted_agg")),
      ("documents", Seq(1, 4, 10, 32),
        Seq("q87_pii_redact", "q110_cdc_chunks", "q52_gopher_quality")),
      ("events", Seq(1, 2, 4, 8), Seq("q19_events_hourly", "q42_asof_join"))
    )

    experiments.foreach { case (table, splitCounts, queries) =>
      splitCounts.foreach { n =>
        val staged = Files.createTempDirectory(s"graft-splitexp-").toString
        stage(spark, rawSfDir, staged, Map(table -> n))
        queries.foreach { qn =>
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          System.gc()
          val (med, lo, hi) = median3(qs(qn)(spark, staged))
          println(f"SPLITEXP table=$table%-10s splits=$n%2d q=$qn%-20s med=$med%.3f [$lo%.3f,$hi%.3f]")
        }
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(staged))
      }
    }
    spark.stop()
  }
}
