package graft.trace

import org.apache.spark.sql.{DataFrame, functions => F}

/** Isolated re-measurement of the FIVE heavy x10-family probes that top
  * the round-18 bench (q29/q51/q112/q152/q143 at 2.9-4.1 s measured) —
  * the round-18 verdict's ask #3. Staging and probe bodies replicate
  * [[graft.Bench]]'s verbatim (same staged splittable layout, same
  * session conf); per-stage breakdowns come from
  * [[StageTraceListener]], and each rep is bracketed with /proc/stat
  * steal so a dirty window is visible in the output instead of
  * poisoning the ledger silently.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_REPS (default 3), SPARK_GRAFT_ONLY (comma list of
  * q29,q51,q112,q152,q143 — default all). */
object X10Heavy {
  def main(args: Array[String]): Unit = {
    val sfDirRaw = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = graft.Bench.stageSplittable(spark, sfDirRaw, cpus)
    val tracer = new StageTraceListener
    spark.sparkContext.addSparkListener(tracer)
    // job-level accounting: how much of a rep's wall sits BETWEEN jobs
    // (Catalyst planning, checkpoint barriers, AQE re-optimization) vs
    // inside them — the x10 tier at sf0.1 showed a ~1.2 s stage-free gap
    val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          jobStarts.put(j.jobId, (j.time, site)): Unit
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStarts.remove(j.jobId)
          if (s != null) jobSpans.add((s._1, j.time, s._2)): Unit
        }
      })
    def drainJobs(): Seq[(Long, Long, String)] = {
      Thread.sleep(120) // let the listener bus drain (private API in 4.x)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      var e = jobSpans.poll()
      while (e != null) { out += e; e = jobSpans.poll() }
      out.toSeq
    }

    def docs10: DataFrame = {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      (0 until 10).map(i => d.select(
        (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
        F.col("text"))).reduce(_.union(_)).coalesce(cpus)
    }

    def q29 = graft.operators.Dedup.minhashLsh(docs10, "text", "doc_id",
      numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
      maxBucket = 64)
    def q112 = {
      val all = docs10
      graft.operators.Dedup.decontaminateBloom(
        all.filter(F.col("doc_id") % 1000000000L >= 20), "text", "doc_id",
        all.filter(F.col("doc_id") < 20), "text",
        k = 2, minShared = 3)
    }
    def q51 = graft.operators.Dedup.clusters(
      graft.operators.Dedup.minhashLsh(docs10, "text", "doc_id",
        numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
        maxBucket = 64))
    def q152 = graft.operators.Dedup.removeDuplicatedNgrams(
      docs10, "text", "doc_id", n = 8, minDocs = 2)
    def q143 = {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang", "source")
      val docs10w = (0 until 10).map(i => d.select(
          (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
          F.col("text"), F.col("lang"), F.col("source")))
        .reduce(_.union(_))
        .coalesce(cpus)
      graft.operators.Dedup.containmentPairs(docs10w, "text", "doc_id",
        F.struct(F.col("lang"), F.col("source"),
          (F.col("doc_id") / 1000000000L).cast("int").as("copy")),
        shingleN = 1, threshold = 0.9, maxBlock = 1024)
    }

    def stealCs(): Long = {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+").drop(1).map(_.toLong).lift(7).getOrElse(0L)
    }
    def sweepGc(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    def run(name: String, q: => DataFrame): Unit = {
      if (only.exists(o => !o.contains(name))) return
      sweepGc()
      val w0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save() // warmup
      val w = (System.nanoTime() - w0) / 1e9
      tracer.drain()
      val ts = (1 to reps).map { i =>
        sweepGc()
        val s0 = stealCs()
        val t0 = System.nanoTime()
        val frame = q // construction: operator wiring incl. any plan probes
        val tc = (System.nanoTime() - t0) / 1e9
        frame.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"  construct=${tc}%.3f s")
        val st = (stealCs() - s0) * 10 // centisec -> ms
        val stages = tracer.drain()
        val jobs = drainJobs()
        val jobWall = jobs.map { case (s, e, _) => e - s }.sum
        println(f"X10HEAVY $name rep$i%d ${t}%.3f s steal=${st}%d ms " +
          f"stages=${stages.size}%d stageWallSum=${stages.map(_.wallMs).sum}%d ms " +
          f"jobs=${jobs.size}%d jobWallSum=${jobWall}%d ms")
        // inter-job gap profile: time before the first job, between
        // consecutive jobs, and after the last (driver-side planning)
        if (jobs.nonEmpty) {
          val sorted = jobs.sortBy(_._1)
          sorted.sliding(2).foreach {
            case Seq((_, e1, _), (s2, e2, site)) =>
              println(f"  gap=${s2 - e1}%5d ms -> job ${e2 - s2}%5d ms  $site")
            case _ => ()
          }
        }
        stages.sortBy(-_.wallMs).take(8).foreach { s =>
          println(f"  stage ${s.stageId}%d tasks=${s.numTasks}%d " +
            f"wall=${s.wallMs}%d ms exec=${s.executorRunMs}%d ms " +
            f"sr=${s.shuffleReadBytes}%d sw=${s.shuffleWriteBytes}%d  ${s.name}")
        }
        t
      }
      println(f"X10HEAVY $name warmup=$w%.3f median=${ts.sorted.apply(reps / 2)}%.3f " +
        f"min=${ts.min}%.3f max=${ts.max}%.3f")
    }

    run("q29", q29)
    run("q112", q112)
    run("q51", q51)
    run("q152", q152)
    run("q143", q143)
    spark.stop()
  }
}
