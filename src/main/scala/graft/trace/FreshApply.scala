package graft.trace


/** FRESH-DRIVER side of the aged-vs-fresh A/B (round-15 verdict ask
  * #1): [[graft.Bench]] forks this main in a brand-new JVM right after
  * its own late-sweep replication-apply reps, pointing it at the SAME
  * staged 72M-row source/replica datasets and a disjoint set of
  * pre-staged update-version ranges. Both sides then run the identical
  * apply body (changeFeed + Streams.applyChanges) on the same box
  * within the same minute — so any aged-vs-fresh wall gap is DRIVER
  * STATE by construction, not machine state (the sweep's canaries
  * already bracket the window) and not volume (same datasets, same
  * 16-key deltas).
  *
  * Args: srcPath repPath fromV toV [fromV toV ...] — the FIRST ranges
  * are warmups (JIT parity: the aged driver compiled the MERGE path
  * ~90 probes ago), the LAST TWO are timed. Session config mirrors
  * Bench exactly. Emits ONE line on stdout:
  *   GRAFT_FRESH_APPLY {"warmups":[..],"reps":[..],"gc_ms":[..],"jit_ms":[..]}
  * with per-timed-rep GC/JIT wall deltas so the aged side's metered
  * series compares component-by-component.
  */
object FreshApply {
  def main(args: Array[String]): Unit = {
    require(args.length >= 6 && args.length % 2 == 0,
      "usage: FreshApply srcPath repPath fromV toV [fromV toV ...]")
    val srcPath = args(0)
    val repPath = args(1)
    val ranges = args.drop(2).map(_.toLong).grouped(2)
      .map(a => (a(0), a(1))).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the aged side (Bench) reads the same ProcMeters — the A/B's two
    // sides share one meter implementation and cannot drift
    import ProcMeters.{gcMs, jitMs, statJiffies => statJ}
    def applyOnce(from: Long, to: Long): Double = {
      val t0 = System.nanoTime()
      val feed = graft.sources.Versioned.changeFeed(
        spark, srcPath, from, Some(to))
      graft.streaming.Streams.applyChanges(spark, repPath, feed,
        Seq("l_orderkey", "l_linenumber"))
      (System.nanoTime() - t0) / 1e9
    }

    val (warmRanges, timedRanges) = ranges.splitAt(ranges.length - 2)
    val warmups = warmRanges.map { case (f, t) => applyOnce(f, t) }
    val reps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val gcs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val jits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val iows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val steals = scala.collection.mutable.ArrayBuffer.empty[Long]
    timedRanges.foreach { case (f, t) =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val (g0, j0) = (gcMs, jitMs)
      val (io0, st0) = statJ
      reps += applyOnce(f, t)
      val (io1, st1) = statJ
      gcs += gcMs - g0
      jits += jitMs - j0
      iows += (io1 - io0) * 10
      steals += (st1 - st0) * 10
    }
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.4f").mkString("[", ",", "]")
    println(s"""GRAFT_FRESH_APPLY {"warmups":${arr(warmups.toSeq)},"reps":${arr(reps.toSeq)},"gc_ms":${gcs.mkString("[", ",", "]")},"jit_ms":${jits.mkString("[", ",", "]")},"iowait_ms":${iows.mkString("[", ",", "]")},"steal_ms":${steals.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
