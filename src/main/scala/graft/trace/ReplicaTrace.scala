package graft.trace

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, functions => F}

/** Replication-apply profiler: stages a small N-segment replica pair,
  * runs one 16-key source UPDATE, then times `changeFeed` +
  * `Streams.applyChanges` end-to-end with a JOB COUNTER — the
  * iteration loop for shaving the MERGE statement's fixed driver
  * constant (round-13 verdict ask #3). The constant is flat in table
  * size, so profiling at sf0.01 sees the same job floor the 72M-row
  * bench probe pays. Each job line carries its job description, so the
  * MERGE steps (`MERGE: match scan`, `MERGE: rewrite`, `MERGE: change
  * rows`) show which jobs belong to which step.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_REPS (3),
  * SPARK_GRAFT_REPL_MULT (union-replicate lineitem N times, default 1),
  * SPARK_GRAFT_REPL_NSEG (segment count, default 16) — MULT=12 NSEG=128
  * over the staged x10 table reproduces the bench probe's exact volume —
  * and SPARK_GRAFT_REPL_SHUF (shuffle partitions, default 7; set 32 to
  * match the Bench session when chasing in-sweep-vs-idle gaps).
  */
object ReplicaTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.GraftSession.builder("local[32]",
        // experiment setting: shuffle width under test (default 7; 32
        // matches the Bench session when chasing in-sweep-vs-idle gaps)
        sys.env.getOrElse("SPARK_GRAFT_REPL_SHUF", "7").toInt)
      // experiment setting: split open cost under test, default Spark's
      // 4 MB rather than GraftSession's 256 KB
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_REPL_OPENCOST",
          (4L * 1024 * 1024).toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    val jobNames = scala.collection.mutable.ArrayBuffer.empty[String]
    // records-read per rep: the one number that says whether the match
    // join / rewrite actually pruned (tasks-per-stage lies — a pruned
    // scan can still split wide on openCostInBytes)
    val recs = new java.util.concurrent.atomic.LongAdder
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val recsByJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val idx = jobs
        jobs += 1
        j.stageInfos.foreach(si => stageToJob.put(si.stageId, idx))
        val cs = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map("exec" + _).getOrElse("") + Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .fold("")(" " + _)
        val stages = j.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n').take(60)}(t=${si.numTasks})")
        jobNames += (s"[$cs] " + stages.mkString(" | ")).take(200)
      }
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          recs.add(te.taskMetrics.inputMetrics.recordsRead)
          val j = stageToJob.getOrDefault(te.stageId, -1)
          recsByJob.merge(j, te.taskMetrics.inputMetrics.recordsRead,
            (a, b) => a + b): Unit
        }
    })

    val mult = sys.env.getOrElse("SPARK_GRAFT_REPL_MULT", "1").toInt
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val li = if (mult == 1) li0
             else (0 until mult).map(_ => li0).reduce(_.union(_))
    val b = li0.agg(F.min("l_orderkey"), F.max("l_orderkey")).collect().head
    val (mnK, mxK) = (b.getLong(0), b.getLong(1))
    val nSeg = sys.env.getOrElse("SPARK_GRAFT_REPL_NSEG", "16").toInt
    val width = (mxK - mnK) / nSeg + 1
    val base = java.nio.file.Files.createTempDirectory("graft_replica_trace")
    val bucketed = s"$base/buckets"
    li.withColumn("__b", ((F.col("l_orderkey") - mnK) / width).cast("int"))
      .write.partitionBy("__b").mode("overwrite").parquet(bucketed)
    val Seq(srcPath, repPath) = Seq("src", "rep").map { tag =>
      val p = s"$base/$tag/ds"
      (0 until nSeg).foreach { i =>
        graft.sources.Versioned.commit(
          spark.read.parquet(s"$bucketed/__b=$i"), p): Unit
      }
      p
    }
    val seg0Keys = li0.filter(F.col("l_orderkey") < mnK + width)
      .select("l_orderkey").distinct().orderBy("l_orderkey")
      .limit(400).collect().map(_.getLong(0))
    val eng = graft.Engine(spark)
    val ranges = (1 to reps + 1).map { r =>
      val ids = (0 until 16)
        .map(j => seg0Keys((r * 16 + j) % seg0Keys.length)).distinct
      val hv0 = graft.sources.Versioned.versions(spark, srcPath).last
      eng.sql(s"UPDATE '$srcPath' SET l_tax = l_tax + 0.001 WHERE " +
        s"l_orderkey IN (${ids.mkString(", ")})"): Unit
      (hv0, graft.sources.Versioned.versions(spark, srcPath).last)
    }

    // SPARK_GRAFT_REPL_DROPCACHE: 2 = evict slab (dentries/inodes), 3 =
    // slab + page cache — reproduces the mid-sweep cache state the
    // bench probe runs under (the sweep created ~100k files and
    // streamed tens of GB before the replica pair), isolating which
    // cache the apply's in-sweep inflation lives in. Root-only knob,
    // best-effort.
    sys.env.get("SPARK_GRAFT_REPL_DROPCACHE").foreach { v =>
      try {
        new ProcessBuilder("sync").start().waitFor()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/proc/sys/vm/drop_caches"), v)
        println(s"REPLICA_TRACE dropped caches: $v")
      } catch { case e: Throwable =>
        println(s"REPLICA_TRACE drop_caches failed: $e") }
    }

    def once(i: Int): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      jobs = 0; jobNames.clear(); recs.reset()
      stageToJob.clear(); recsByJob.clear()
      val (from, to) = ranges(i)
      // per-rep JIT/GC deltas: the round-16 forensics measured a
      // 1-2.7s/statement fresh-codegen JIT tax on the MERGE path (per-
      // statement literals -> fresh generated classes); these meters
      // are the iteration loop for cutting it
      val (g0, j0) = (ProcMeters.gcMs, ProcMeters.jitMs)
      // generated-class compile count: how many codegen units MISSED
      // Spark's generated-code cache during this rep (each miss is a
      // fresh Janino class + its JVM JIT — the per-statement tax)
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val feed = graft.sources.Versioned.changeFeed(
        spark, srcPath, from, Some(to))
      graft.streaming.Streams.applyChanges(spark, repPath, feed,
        Seq("l_orderkey", "l_linenumber"))
      val t = (System.nanoTime() - t0) / 1e9
      val (gd, jd) = (ProcMeters.gcMs - g0, ProcMeters.jitMs - j0)
      val cgd = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount - cg0
      Thread.sleep(200) // let async job-start events drain
      println(f"REPLICA_TRACE rep$i%d apply=$t%.3f s jobs=$jobs%d records_read=${recs.sum()}%d gc_ms=$gd%d jit_ms=$jd%d codegen_units=$cgd%d")
      jobNames.zipWithIndex.foreach { case (n, k) =>
        println(f"  job$k%02d  recs=${recsByJob.getOrDefault(k, 0L)}%-8d $n%s")
      }
    }
    once(0) // warmup (JIT)
    (1 to reps).foreach(once)

    val tCopy0 = System.nanoTime()
    graft.sources.Versioned.commit(
      graft.sources.Versioned.read(spark, srcPath), s"$base/copy/ds"): Unit
    println(f"REPLICA_TRACE recopy=${(System.nanoTime() - tCopy0) / 1e9}%.3f s")
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    spark.stop()
  }
}
