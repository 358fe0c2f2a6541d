package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.trace.{ProcMeters, StageTraceListener}

/** Headline benchmark main: the north-star numbers, measured the way the
  * reference measures itself — the Q1 query, averaged over runs
  * (reference: examples/benchmark.py:51-68, README.md:163-165).
  *
  * Entries ([[HeadlineEntries]]): the per-rep driver floor, the Q1
  * flagship, Q1 at BASELINE.md's sf1 row count (`q06_x10_6Mrows`, gated
  * at 2x the reference's 0.707 s) and the heavy x10 dedup tier.
  * Command-line arguments narrow a run to the named entries; a name may
  * also be any [[SparkEntry.queries]] entry.
  *
  * Each entry gets one untimed warm-up; then every round runs every entry
  * once, interleaved, so machine drift lands on all entries alike.
  * Before every rep all RDDs are unpersisted and the heap collected
  * (outside the timed window); the frame is CONSTRUCTED inside the timed
  * window, so operators that stage intermediates eagerly are charged,
  * and written to the `noop` sink (a bare `count()` would let Catalyst
  * prune the plan to a scan-count). Each entry publishes this run's
  * median, min, max and quartiles with every rep and its host steal.
  *
  * Output: one JSON line on stdout and in `bench.json` (working directory
  * and `$SPARK_GRAFT_OUT`); per-rep stages go to `bench_stages.json`.
  * Env: `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1),
  * `SPARK_GRAFT_CPUS` (default: the available cores), `SPARK_GRAFT_OUT`.
  */
object Bench {

  /** BASELINE.md: the reference's Q1 at sf1 (6,001,215 rows). */
  val BaselineSf1Q1Sec = 0.707

  /** Timed rounds per run of [[main]]. */
  val Rounds = 7

  val HeadlineEntries: Seq[String] = Seq(
    "q00_floor", "q06_q1_flagship", "q06_x10_6Mrows",
    "q29_x10_50kdocs", "q112_x10_50kdocs", "q51_x10_50kdocs",
    "q152_x10_50kdocs", "q143_x10_50kdocs")

  final case class Summary(median: Double, min: Double, max: Double,
                           q1: Double, q3: Double)

  /** Quartiles by linear interpolation between order statistics (numpy's
    * default), so an even-length median averages the two middles. */
  def summarize(xs: Seq[Double]): Summary = {
    require(xs.nonEmpty, "summarize: empty series")
    val s = xs.sorted.toIndexedSeq
    def at(p: Double): Double = {
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
    Summary(at(0.5), s.head, s.last, at(0.25), at(0.75))
  }

  /** One run's artifacts: the bench JSON line and the per-rep stages. */
  final case class Output(json: String, stagesJson: String)

  /** Recursive on-disk size: a `.parquet` entry may be a directory of part
    * files, and `File.length()` of a directory is its inode size. */
  private def tableBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(tableBytes).sum
    else f.length()

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  /** Ingest-stage the tables once (untimed) into a splittable layout under
    * `out`. The test data ships each table as ONE parquet row group, the
    * minimum read unit, so no engine can parallelize its scan; real
    * deployments ingest before serving, and BASELINE.md's reference
    * numbers likewise exclude the CSV→BlockFile conversion.
    *
    * The split is order-preserving (`maxRecordsPerFile`, no shuffle): a
    * round-robin repartition destroyed sort locality and decoded slower
    * per row. Split count: string-heavy rows (≥64 B compressed and a
    * string column) pay per-row regex/hash CPU, so they fan out by rows
    * (rows/500, capped at `ways`: documents q87 measured 0.42 s at 1
    * split, 0.17 s at 10, 0.11 s at 32, but 32 splits put ~0.1 s of task
    * scheduling under every aggregate over the table). Narrow numeric
    * tables decode in bulk, so a split must carry ≥512 KB and ≥50k rows
    * (the flagship was flat from 8 to 32 lineitem splits). At real scale
    * every table hits the `ways` cap. */
  private def stageSplittable(spark: SparkSession, rawDir: String,
                              ways: Int, out: String): String = {
    val tables = Option(new java.io.File(rawDir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    tables.foreach { f =>
      val df = spark.read.parquet(f.getPath)
      val dest = s"$out/${f.getName}"
      val rows = df.count()
      val bytes = tableBytes(f)
      val textHeavy = bytes / math.max(1L, rows) >= 64 && df.schema.exists(
        _.dataType == org.apache.spark.sql.types.StringType)
      val splits =
        if (textHeavy)
          math.min(ways.toLong, math.max(1L, rows / 500L)).toInt
        else math.max(1L, Seq(
          ways.toLong, bytes / (512 * 1024), rows / 50000L).min).toInt
      if (splits > 1)
        df.write.option("maxRecordsPerFile", (rows / splits + 1).toString)
          .mode("overwrite").parquet(dest)
      else df.coalesce(1).write.mode("overwrite").parquet(dest)
    }
    out
  }

  /** Stage the x10 throughput input once (untimed) as a real 6M-row table
    * — BASELINE.md's sf1 row count — written order-preserving, ~3 files
    * per union branch. Reading 10 paths of the staged copy instead
    * scheduled 320 scan tasks whose overhead swamped the aggregation. */
  private def stageX10(spark: SparkSession, rawDir: String, out: String): String = {
    val li = spark.read.parquet(s"$rawDir/lineitem.parquet")
    val rows = li.count()
    (0 until 10).map(_ => li).reduce(_.union(_))
      .write.option("maxRecordsPerFile", (rows / 3 + 1).toString)
      .mode("overwrite").parquet(out)
    out
  }

  /** The documents corpus replicated 10x: distinct ids per copy, identical
    * text (90% duplicates, the workload a dedup pass exists for).
    * Coalesced to the core count: 10 copies of the staged table would
    * schedule ~10x its splits, and per-task overhead swamps the probes. */
  private def docs10(spark: SparkSession, sfDir: String,
                     cores: Int): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    (0 until 10).map(i => d.select(
      (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
      F.col("text")))
      .reduce(_.union(_))
      .coalesce(cores)
  }

  /** The frame an entry times; `x10Path` is staged on first use. */
  private def body(spark: SparkSession, name: String, sfDir: String,
                   x10Path: => String, cpus: Int): () => DataFrame = name match {
    // the per-rep driver floor (planning + codegen + footer job): a
    // 5-row scan and trivial agg through the identical timing path
    case "q00_floor" => () =>
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").agg(F.count(F.lit(1)).as("n"))
    case "q06_x10_6Mrows" => () => SparkEntry.q1Agg(spark.read.parquet(x10Path))
    // the q29 minhash pipeline over the 10x corpus: bucket caps keep
    // boilerplate mega-buckets from exploding quadratically
    case "q29_x10_50kdocs" => () =>
      graft.operators.Dedup.minhashLsh(docs10(spark, sfDir, cpus),
        "text", "doc_id",
        numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
        maxBucket = 64)
    // bloom decontamination: a fixed sketch build plus a narrow corpus scan
    case "q112_x10_50kdocs" => () => {
      val all = docs10(spark, sfDir, cpus)
      graft.operators.Dedup.decontaminateBloom(
        all.filter(F.col("doc_id") % 1000000000L >= 20), "text", "doc_id",
        all.filter(F.col("doc_id") < 20), "text",
        k = 2, minShared = 3)
    }
    // connected components over the 10x minhash pair set
    case "q51_x10_50kdocs" => () =>
      graft.operators.Dedup.clusters(
        graft.operators.Dedup.minhashLsh(docs10(spark, sfDir, cpus),
          "text", "doc_id",
          numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
          maxBucket = 64))
    // duplicated-n-gram removal: nearly every gram is duplicated here,
    // the worst case for the rewrite
    case "q152_x10_50kdocs" => () =>
      graft.operators.Dedup.removeDuplicatedNgrams(
        docs10(spark, sfDir, cpus), "text", "doc_id", n = 8, minDocs = 2)
    // blocked containment: 10x the corpus as 10x the SOURCES (the copy
    // index joins the block key), so block count grows, not block size
    case "q143_x10_50kdocs" => () => {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang", "source")
      val docs10w = (0 until 10).map(i => d.select(
          (F.col("doc_id") + F.lit(i.toLong * 1000000000L)).as("doc_id"),
          F.col("text"), F.col("lang"), F.col("source")))
        .reduce(_.union(_))
        .coalesce(cpus) // see docs10
      graft.operators.Dedup.containmentPairs(docs10w, "text", "doc_id",
        F.struct(F.col("lang"), F.col("source"),
          (F.col("doc_id") / 1000000000L).cast("int").as("copy")),
        shingleN = 1, threshold = 0.9, maxBlock = 1024)
    }
    case other =>
      val fn = SparkEntry.queries.getOrElse(other, throw new IllegalArgumentException(
        s"unknown bench entry $other: not a headline entry or SparkEntry query"))
      () => fn(spark, sfDir)
  }

  /** Unpersist every RDD and collect the heap (untimed), then time one
    * construction + `noop` write; returns (seconds, host steal ms). Each
    * construction stages fresh blocks, and blocks or garbage inherited
    * from the previous rep once cost a heavy rep 12.9 s against a
    * 2.9-3.5 s family. */
  private def timedRep(spark: SparkSession, q: () => DataFrame): (Double, Long) = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    val steal0 = ProcMeters.statJiffies._2
    val t0 = System.nanoTime()
    q().write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    (t, (ProcMeters.statJiffies._2 - steal0) * 10) // USER_HZ 100: 10 ms a jiffy
  }

  private def num(x: Double): String = f"$x%.4f"
  private def numOrNull(x: Option[Double]): String = x.fold("null")(num)

  /** Stage `rawSfDir`, warm every entry once, time `rounds` interleaved
    * rounds and render this run's artifacts. */
  def run(spark: SparkSession, rawSfDir: String, cpus: Int, rounds: Int,
          names: Seq[String]): Output = {
    val root = Files.createTempDirectory("graft-bench-").toString
    try {
      val sfDir = s"$root/tables"
      lazy val x10Path = stageX10(spark, rawSfDir, s"$root/x10/lineitem_x10.parquet")
      val todo = names.map(n => n -> body(spark, n, sfDir, x10Path, cpus))
      stageSplittable(spark, rawSfDir, cpus, sfDir): Unit
      val tracer = new StageTraceListener
      spark.sparkContext.addSparkListener(tracer)
      val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      val steals = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
      val stages = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
      try {
        todo.foreach { case (_, q) => timedRep(spark, q): Unit } // warm-ups
        for (_ <- 1 to rounds; (name, q) <- todo) {
          tracer.drain(): Unit // late stage events of the previous rep
          val (t, steal) = timedRep(spark, q)
          times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
          steals.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += steal
          stages.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
            tracer.drain().map(_.toJson).mkString("[", ",", "]")
        }
      } finally spark.sparkContext.removeSparkListener(tracer)

      val sums = times.map { case (n, ts) => n -> summarize(ts.toSeq) }
      val entriesJson = times.keys.map { n =>
        val s = sums(n)
        s""""$n":{"median":${num(s.median)},"min":${num(s.min)},"max":${num(s.max)},""" +
          s""""q1":${num(s.q1)},"q3":${num(s.q3)},""" +
          s""""reps":${times(n).map(num).mkString("[", ",", "]")},""" +
          s""""steal_ms":${steals(n).mkString("[", ",", "]")}}"""
      }.mkString("{", ",", "}")
      val queriesJson = sums.map { case (n, s) => s""""$n":${num(s.median)}""" }
        .mkString("{", ",", "}")
      val flagship = sums.get("q06_q1_flagship").map(_.median)
      val x10 = sums.get("q06_x10_6Mrows").map(_.median)
      val ratio = x10.map(_ / BaselineSf1Q1Sec)
      val headline =
        s"""{"bench_cpus":$cpus,"q06_q1_flagship":${numOrNull(flagship)},""" +
          s""""q06_x10_6Mrows":${numOrNull(x10)},""" +
          s""""x10_vs_baseline_sf1":${numOrNull(ratio)},""" +
          s""""baseline_sf1_q1_sec":$BaselineSf1Q1Sec,""" +
          s""""gate_ok":${ratio.fold("null")(r => (r < 2.0).toString)}}"""
      val env = s"""{"cores":${Runtime.getRuntime.availableProcessors()},""" +
        s""""bench_cpus":$cpus,"steal_ms":${steals.values.flatten.sum}}"""
      val generated = java.time.Instant.now()
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS).toString
      val json =
        s"""{"metric":"q1_flagship_avg","value":${numOrNull(flagship)},"unit":"sec",""" +
          s""""sf":"$rawSfDir","bench_cpus":$cpus,"rounds":$rounds,""" +
          s""""generated":"$generated","queries":$queriesJson,""" +
          s""""entries":$entriesJson,"env":$env,"headline":$headline}"""
      val stagesJson = stages.map { case (n, reps) =>
        s""""$n":${reps.mkString("[", ",", "]")}""" }.mkString("{", ",", "}")
      Output(json, stagesJson)
    } finally deleteRec(new java.io.File(root))
  }

  def main(args: Array[String]): Unit = {
    val rawSfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.isEmpty) HeadlineEntries else args.toSeq
    val out = run(spark, rawSfDir, cpus, Rounds, names)
    (Seq(".") ++ sys.env.get("SPARK_GRAFT_OUT")).foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.writeString(Paths.get(d, "bench.json"), out.json + "\n")
      Files.writeString(Paths.get(d, "bench_stages.json"), out.stagesJson + "\n")
    }
    println(out.json)
    spark.stop()
  }
}
