package graft.trace

import org.apache.spark.sql.{DataFrame, functions => F}

/** Isolated profiler for the BPE trainer's driver merge loop — the
  * bench's slowest entry (q279_bpe_train32k_mergeloop). Rebuilds the
  * sweep's exact corpus (x10 docs + one md5 word per row), collects the
  * word-frequency table once, then times `bpeTrainFromFreqs` reps with
  * a sampling profiler on the driver thread so hotspots are visible
  * without external tooling.
  *
  * Env knobs:
  *   SPARK_GRAFT_SF_DIR  data dir   (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_REPS    timed reps (default 3)
  *   SPARK_GRAFT_MERGES  merge count (default 32768)
  *   SPARK_GRAFT_PROFILE "0" disables the sampler (pure timing)
  */
object BpeProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_MERGES", "32768").toInt
    val doProfile = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "1") == "1"
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // STAGED corpus, matching the round-16 probe redefinition: the
    // sweep stages the widened corpus to parquet untimed and times
    // only read + wordcount — this runner must measure the SAME
    // condition or the isolated ledger compares two different probes
    // (the round-16 review finding).
    val corpusPath = java.nio.file.Files
      .createTempDirectory("graft_bpeprofile").toString + "/corpus.parquet"
    locally {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val x10 = (0 until 10).map(i => d.select(
        (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
        F.col("text"))).reduce(_.union(_)).coalesce(32)
      x10.select(F.col("text")).unionAll(
        x10.select(F.md5(F.col("doc_id").cast("string")).as("text")))
        .write.mode("overwrite").parquet(corpusPath)
    }
    def corpus: DataFrame = spark.read.parquet(corpusPath)
    // timed WORDCOUNT reps first (the q279_bpe_train32k_wordcount
    // probe's distributed half, for the isolated ledger): first run is
    // the JIT/cache warmup, later runs are the honest numbers
    val freqs = {
      var f: Array[(String, Long)] = null
      (1 to math.max(2, reps)).foreach { i =>
        System.gc()
        val t0 = System.nanoTime()
        f = graft.operators.TextAnalysis.bpeWordFreqsTop(corpus, "text")
        println(f"BPEPROFILE wordcount rep$i ${(System.nanoTime() - t0) / 1e9}%.4f s")
      }
      f
    }
    println(s"BPEPROFILE freqs=${freqs.length} words, " +
      s"totalSymbols=${freqs.map(_._1.length.toLong).sum}")

    val main = Thread.currentThread()
    @volatile var sampling = false
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = main.getStackTrace
          // attribute to the deepest graft/scala.collection frame
          val hot = st.take(12).map(e => s"${e.getClassName}.${e.getMethodName}")
            .mkString(" <- ")
          samples.merge(hot, 1, (a, b) => a + b)
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    if (doProfile) sampler.start()

    (1 to reps).foreach { i =>
      System.gc()
      sampling = doProfile
      val t0 = System.nanoTime()
      val merges = graft.operators.TextAnalysis.bpeTrainFromFreqs(freqs, nMerges)
      val t = (System.nanoTime() - t0) / 1e9
      sampling = false
      println(f"BPEPROFILE rep$i $t%.3f s  merges=${merges.length}")
    }
    if (doProfile) {
      import scala.jdk.CollectionConverters._
      println("BPEPROFILE top stacks:")
      samples.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (s, n) =>
        println(f"  $n%5d  $s")
      }
    }

    // optional brute-force recount differential on the REAL corpus —
    // covers the popular-merge regime the unit spec's toy corpora can't
    // (SPARK_GRAFT_BRUTE=N enables, N = merge count; ~1min at N=500)
    sys.env.get("SPARK_GRAFT_BRUTE").map(_.toInt).filter(_ > 0).foreach { n =>
      val inc = graft.operators.TextAnalysis.bpeTrainFromFreqs(freqs, n)
      var ws = freqs.map { case (w, c) => (w.toCharArray.map(String.valueOf), c) }
      val brute = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (brute.length < n && !done) {
        val cnt = scala.collection.mutable.HashMap
          .empty[(String, String), Long].withDefaultValue(0L)
        ws.foreach { case (syms, c) =>
          var i = 0
          while (i < syms.length - 1) { cnt((syms(i), syms(i + 1))) += c; i += 1 }
        }
        if (cnt.isEmpty) done = true
        else {
          val (p, _) = cnt.minBy { case ((a, b), c) => (-c, a, b) }
          brute += p
          ws = ws.map { case (s, c) =>
            (graft.operators.TextAnalysis.bpeApplyMerge(s, p._1, p._2), c)
          }
        }
      }
      val firstDiff = inc.zip(brute).indexWhere { case (a, b) => a != b }
      println(s"BPEPROFILE brute differential n=$n: " +
        (if (inc == brute) "IDENTICAL" else s"DIVERGED at rank $firstDiff: " +
          s"inc=${inc(firstDiff)} brute=${brute(firstDiff)}"))
    }
    spark.stop()
  }
}
