package graftbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{functions => F}

import graft.GraftSession

/** A benchmark workload: inputs generated from a seed, then a fixed
  * statement mix issued by one closed-loop client. */
trait Workload {
  /** Generate the inputs from `seed` and write them under `dir`. */
  def setup(dir: String, seed: Long): Unit
  /** Untimed preparation after the last set-up (check references). */
  def prepare(h: Harness): Unit = ()
  /** One cycle of the statement mix; each step runs one statement and
    * its output checks. */
  def cycle: IndexedSeq[Harness => Unit]
  /** How long one cycle takes on the reference box (4 cores); with
    * `--seconds` it fixes how many whole cycles a run times. */
  def cycleS: Double
  /** Directories whose bytes on disk count as stored. */
  def storedDirs: Seq[String]
  /** Logical bytes of the user rows those directories hold now. */
  def userBytes: Long
  /** Drop the benchmark's own inputs and models, so that
    * `heap_live_mb` counts what the engine keeps. */
  def release(): Unit
}

/** Runs one workload and writes its report as JSON.
  *
  * {{{
  * Main --workload dedup_pipeline --seed 1 --seconds 22 --trace 0
  *      --work <scratch dir> --out <report.json>
  * }}}
  *
  * An untimed warm-up cycle over inputs at `WarmScale` comes first. Set-up
  * then runs `Setups` times into fresh directories and `setup_s` is
  * their median; the last set-up's inputs serve the timed window. The
  * window times a fixed number of whole cycles, `seconds / cycleS`
  * rounded and at least 2, so every run of the same arguments does the
  * same work however fast the engine is. `--trace 1` adds one cycle and
  * traces the odd ones, so a traced cycle sits between two untraced
  * ones, and the tracing overhead is `stmt_p50_s` over the traced cycles
  * against the untraced ones.
  */
object Main {
  val Setups = 3
  val WarmScale = 0.3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val calibStart = Box.calib()
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def make(scale: Double): Workload = name match {
      case "dedup_pipeline" => new DedupPipeline(spark, scale)
      case "lakehouse_cdc"  => new LakehouseCdc(spark, scale)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val h = new Harness(spark, trace)
    phase("start")

    // untimed warm-up: one cycle over a smaller copy of the inputs,
    // which compiles the same code paths as the full-scale run
    val warm = make(WarmScale)
    warm.setup(s"$work/warm", seed)
    warm.prepare(h)
    val warmJit0 = Box.jitMs
    val warmSteps = warm.cycle.indices.map { i =>
      val t0 = System.nanoTime()
      h.step = i
      warm.cycle(i)(h)
      (System.nanoTime() - t0) / 1e9
    }
    val warmJit = Box.jitMs - warmJit0
    warm.release()
    Box.deleteTree(new File(s"$work/warm"))
    phase("warmup")

    val wl = make(1.0)
    var syncMs = 0.0
    val setupS = (1 to Setups).map { i =>
      val dir = s"$work/setup-$i"
      val t0 = System.nanoTime()
      wl.setup(dir, seed)
      val t = (System.nanoTime() - t0) / 1e9
      syncMs += Box.syncTree(dir)
      if (i > 1) Box.deleteTree(new File(s"$work/setup-${i - 1}"))
      t
    }
    phase("setup")
    wl.prepare(h)
    val steps = wl.cycle
    Box.heapLiveMb(): Unit
    phase("prepare")

    val (io0, steal0) = Box.statMs
    val gc0 = Box.gcMs
    val jit0 = Box.jitMs
    h.recording = true
    val t0 = System.nanoTime()
    val timed = math.max(2, math.round(seconds / wl.cycleS).toInt)
    val cycles = if (trace) timed + 1 else timed
    val jitByCycle = Array.fill(cycles)(0L)
    // bytes stored per user byte, read at the end of each cycle so every
    // run reads it at the same points of the mix
    val storedRatio = (0 until cycles).map { c =>
      h.tracing = trace && c % 2 == 1
      val j0 = Box.jitMs
      steps.indices.foreach { i => h.step = i; steps(i)(h) }
      jitByCycle(c) = Box.jitMs - j0
      wl.storedDirs.map(Box.bytesUnder).sum.toDouble / wl.userBytes
    }
    h.recording = false
    h.tracing = false
    val windowS = (System.nanoTime() - t0) / 1e9
    val (io1, steal1) = Box.statMs
    val gcMs = Box.gcMs - gc0
    val jitMs = Box.jitMs - jit0
    phase("window")
    wl.release()
    val heapMb = Box.heapLiveMb()
    phase("heap")
    val probes = if (trace) FunctionProbes.run(spark, seed) else Map.empty
    phase("probes")
    val calibEnd = Box.calib()
    phase("finish")

    // ---- metrics ----
    // each statement of the mix (a step of the cycle) is timed by its
    // median over the cycles; a time metric is the mean of that over the
    // steps it covers, so every statement of the fixed mix weighs the same
    val untraced = h.samples.filterNot(_.traced).toSeq
    def stepMedians(ss: Seq[Sample]) = ss.groupBy(_.step).values.map { xs =>
      (Stats.median(xs.map(_.seconds)), Stats.median(xs.map(_.rows.toDouble)),
        xs.head.cls)
    }.toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    val med = stepMedians(untraced)
    def mixP50(ss: Seq[Sample]): Double = mean(stepMedians(ss).map(_._1))
    def clsP50(cls: String): Double = mean(med.filter(_._3 == cls).map(_._1))
    val byKind = untraced.groupBy(_.kind).map { case (k, xs) =>
      k -> Map("p50_s" -> Stats.median(xs.map(_.seconds)),
        "rows" -> Stats.median(xs.map(_.rows.toDouble)), "class" -> xs.head.cls,
        "n" -> xs.length)
    }
    val endToEnd = Map(
      "setup_s" -> ((Stats.median(setupS), "s")),
      "stmt_p50_s" -> ((mixP50(untraced), "s")),
      "read_p50_s" -> ((clsP50("read"), "s")),
      "write_p50_s" -> ((clsP50("write"), "s")),
      "rows_per_s" -> ((med.map(_._2).sum / med.map(_._1).sum, "1/s")),
      "heap_live_mb" -> ((heapMb, "MB")),
      "bytes_stored_per_user_byte" -> ((Stats.median(storedRatio), "ratio")),
      "failed_frac" -> ((h.failed.toDouble / math.max(1L, h.attempted), "ratio"))
    ) ++ (if (untraced.length >= 100) Map("stmt_p90_s" -> ((
      Stats.quantile(untraced.map(_.seconds), 0.9), "s"))) else Map.empty)

    val layers: Map[String, (Double, String)] =
      if (!trace) Map.empty
      else {
        // ratios average over the statements they apply to; counts and
        // times over every traced statement
        val perStmt = h.stmtLayers.flatMap(_.keys).distinct.map { k =>
          val ratio = k.endsWith("_frac") || k.endsWith("_amp")
          val xs = h.stmtLayers.flatMap(_.get(k))
          val unit =
            if (k.endsWith("_ms")) "ms" else if (k.endsWith("_mb")) "MB"
            else if (ratio) "ratio" else if (k.contains("bytes")) "B" else "count"
          k -> ((xs.sum / (if (ratio) xs.length else h.stmtLayers.length), unit))
        }.toMap
        // counters a workload reports as 0 when no statement touches them
        val zero = Seq("operators.staged_mb" -> "MB", "sources.commits_per_stmt" -> "count",
          "sources.files_written_per_stmt" -> "count", "sources.bytes_written_per_stmt" -> "B",
          "sources.bytes_rewritten_mb" -> "MB", "streaming.feed_rows" -> "count")
          .map { case (k, u) => k -> ((0.0, u)) }.toMap
        zero ++ perStmt ++ probes ++ Map(
          "jvm.gc_ms" -> ((gcMs.toDouble, "ms")),
          "jvm.jit_ms" -> ((jitMs.toDouble, "ms")),
          "box.calib_s" -> (((calibStart + calibEnd) / 2, "s")),
          "box.steal_ms" -> (((steal1 - steal0).toDouble, "ms")),
          "box.iowait_ms" -> (((io1 - io0).toDouble, "ms")),
          "trace.overhead_frac" -> ((
            mixP50(h.samples.filter(_.traced).toSeq) / mixP50(untraced) - 1, "ratio")))
      }
    def metricMap(m: Map[String, (Double, String)]) = m.collect {
      case (k, (v, u)) if !v.isNaN => k -> Map("value" -> v, "unit" -> u)
    }
    val report = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "correct" -> (h.failed == 0), "attempted" -> h.attempted,
      "failed" -> h.failed, "failures" -> h.failures.toSeq,
      "metrics" -> metricMap(endToEnd),
      "per_layer" -> metricMap(layers),
      "self_ms" -> h.selfTimes(),
      "statements" -> Map(
        "timed" -> h.samples.length, "untraced" -> untraced.length,
        "cycles" -> cycles, "window_s" -> windowS,
        "by_kind" -> byKind),
      "setup_runs_s" -> setupS,
      "phases_s" -> phases,
      "warmup_steps_s" -> warmSteps,
      "warmup_jit_ms" -> warmJit,
      "diagnostics" -> Map(
        "box.calib_start_s" -> calibStart, "box.calib_end_s" -> calibEnd,
        "box.steal_ms" -> (steal1 - steal0), "box.iowait_ms" -> (io1 - io0),
        "jvm.gc_ms" -> gcMs, "jvm.jit_ms" -> jitMs, "setup.sync_ms" -> syncMs,
        "jvm.jit_ms_by_cycle" -> jitByCycle.toSeq,
        "stored_per_user_byte_by_cycle" -> storedRatio),
      "samples" -> h.samples.map(x => Seq(x.kind, x.seconds, x.traced, x.step)))
    val out = new PrintWriter(opt("out"))
    try out.println(Json.render(report)) finally out.close()
    if (trace) {
      val sp = new PrintWriter(opt("out") + ".spans.jsonl")
      try h.spans.filter(_ != null).foreach { s =>
        sp.println(Json.render(Map("id" -> s.id, "parent" -> s.parent,
          "stmt" -> s.stmt, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs)))
      } finally sp.close()
    }
    spark.stop()
  }
}

/** Throughput of the engine's native text functions over a generated
  * corpus, measured on the traced run of every workload. */
object FunctionProbes {
  def run(spark: org.apache.spark.sql.SparkSession,
      seed: Long): Map[String, (Double, String)] = {
    val docs = Corpus.generate(seed, groups = 1000, copies = 9)
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(d =>
        org.apache.spark.sql.Row(d.id, d.text)), 8), Corpus.schema)
      .select(F.col("id"), F.col("text"),
        graft.operators.TextAnalysis.tokens(F.col("text")).as("toks"),
        F.array_sort(F.call_function("gram_hashes", F.col("text"), F.lit(3)))
          .as("a"))
      .withColumn("b", F.array_sort(F.call_function("gram_hashes",
        F.concat(F.col("text"), F.lit(" tail")), F.lit(3))))
      .localCheckpoint(eager = true)
    val n = docs.length.toDouble
    def probe(col: org.apache.spark.sql.Column): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        base.agg(F.sum(col)).collect(): Unit
        (System.nanoTime() - t0) / 1e9
      }
      n / Stats.median(ts)
    }
    val out = Map(
      "functions.gram_hashes.rows_per_s" -> probe(
        F.size(F.call_function("gram_hashes", F.col("text"), F.lit(3)))),
      "functions.gram_pos_hashes.rows_per_s" -> probe(
        F.size(F.call_function("gram_pos_hashes", F.col("toks"), F.lit(8)))),
      "functions.md5_hash60.rows_per_s" -> probe(
        F.call_function("md5_hash60", F.col("text")) % 1000),
      "functions.jaccard_sorted.rows_per_s" -> probe(
        F.call_function("jaccard_sorted", F.col("a"), F.col("b"))),
      "functions.minhash_bands.rows_per_s" -> probe(
        F.size(F.call_function("minhash_bands", F.col("text"), F.lit(4),
          F.lit(8)))))
    base.rdd.unpersist(blocking = true)
    out.map { case (k, v) => k -> ((v, "1/s")) }
  }
}
