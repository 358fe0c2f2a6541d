package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

import graft.operators.{AsofJoin, Dedup, EventAnalytics, Multimodal, Pack, Scale, Similarity, TextAnalysis, Web}
import graft.sources.{Tables, Versioned}
import graft.streaming.Streams

/** Driver contract — one queries-map entry per implemented operator from
  * SURVEY.md §2 plus the training-data-pipeline operators (dedup,
  * similarity search, text analysis, multimodal). Each entry that is
  * ANSI-SQL-expressible carries a DuckDB oracle in [[oracleSql]] with
  * IDENTICAL output column names.
  *
  * Determinism policy for hash-matching against the oracle:
  *   - per-row arithmetic is left exact (IEEE ops are order-free per row);
  *   - sums/avgs of non-integral doubles are `round(..., 4)` on BOTH
  *     sides (aggregation order differs between engines in the low bits);
  *   - sums of integral-valued doubles (e.g. l_quantity) stay exact;
  *   - every timestamp output is formatted to a string.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, name, Some(dir))

  /** The events table's `ts` has shipped as nanosecond int64 (older
    * generators) and as µs TIMESTAMP_NTZ (current); normalize both to a
    * session-zoned µs TIMESTAMP so downstream `unix_micros`/watermarks
    * type-check. The session runs in UTC, so the NTZ cast is a pure
    * relabel — identical instants, identical epoch_us vs the oracle. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: ts is ~1.7e18 ns, beyond double's 2^53 exact
        // range, so `/ 1000` + cast would be off by ±1 µs
        raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** IVF centroids for q33 — literal constants shared by the Spark query
    * and the DuckDB oracle so both assign identical buckets. */
  private val ivfCentroids: Seq[Seq[Double]] =
    (0 until 8).map(i =>
      (0 until 64).map(j =>
        ((i * 73856093 + j * 19349663) % 1000) / 1000.0 - 0.5).toSeq)

  /** Product-quantization codebooks for q122 — 4 subspaces × 16 codes ×
    * 16 dims of deterministic literals, shared verbatim by the Spark
    * query and the DuckDB oracle (the [[ivfCentroids]] pattern; real
    * deployments train these with [[graft.operators.Similarity.trainCentroids]]
    * per subspace). */
  private val pqCodebooks: Seq[Seq[Seq[Double]]] =
    (0 until 4).map(s => (0 until 16).map(c => (0 until 16).map(j =>
      (((s * 31 + c) * 73856093L + j * 19349663L) % 1000) / 1000.0 - 0.5)
      .toSeq).toSeq)

  /** Integer weight vector for the q156 linear quality classifier —
    * deterministic literals standing in for offline-trained fastText
    * weights, shared verbatim with the DuckDB oracle (the
    * [[ivfCentroids]] pattern). */
  private val clfWeights: Seq[Long] =
    (0 until 32).map(i => ((i * 2654435761L) % 2001L) - 1000L)

  /** Random hyperplanes for q31 — deterministic literals (seeded LCG),
    * replayed verbatim by the DuckDB oracle. */
  private val q31Planes: Seq[Seq[Double]] = Dedup.hyperplanes(numPlanes = 8, dim = 64)

  /** Two independent plane sets for q62's multi-table LSH (recall
    * amplification) — the q31 set plus a second seed. */
  private val q62PlaneSets: Seq[Seq[Seq[Double]]] =
    Seq(q31Planes, Dedup.hyperplanes(numPlanes = 8, dim = 64, seed = 1337L))

  /** A double literal rendered for SQL: java's shortest round-trip
    * representation, which DuckDB parses back to the identical double. */
  private def sqlArray(xs: Seq[Double]): String = xs.mkString("[", ", ", "]")

  /** A per-invocation staging directory (no cross-process races), removed
    * recursively at JVM exit so repeated verify/bench runs don't grow
    * /tmp without bound. */
  private def stagingDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }))
    dir.toString
  }

  /** Open `file` as a parquet FILE STREAM: stage it into a fresh
    * drop-folder directory under `stagingRoot` (file stream sources
    * ingest directories — the production shape is a folder files land
    * in), then normalize a raw-ns `ts` long (legacy nanosAsLong) to a µs
    * timestamp. Shared by every streaming e2e gate (q83/q90/q105) so the
    * ingestion scaffolding cannot drift between them. The symlink target
    * is made ABSOLUTE: a relative sfDir would otherwise resolve against
    * the /tmp staging dir and break the stream source.
    *
    * @param sub per-feed subdirectory — lets one gate stage several
    *            independent feeds under one staging root
    * @param splitFiles when > 1, rewrite the input into that many files
    *            and drain them ONE PER MICRO-BATCH (maxFilesPerTrigger)
    *            — the multi-batch ingest shape that actually exercises
    *            cross-batch stream state (join buffers, dedup maps)
    *            instead of collapsing into one batch */
  private def stagedFileStream(s: SparkSession, file: String,
                               stagingRoot: String,
                               sub: String = "in",
                               splitFiles: Int = 1): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val inDir = java.nio.file.Paths.get(stagingRoot, sub)
    java.nio.file.Files.createDirectories(inDir)
    val target = java.nio.file.Paths.get(file).toAbsolutePath
    if (splitFiles > 1)
      s.read.parquet(target.toString).repartition(splitFiles)
        .write.mode("overwrite").parquet(inDir.toString)
    else
      java.nio.file.Files.createSymbolicLink(inDir.resolve(target.getFileName),
                                             target)
    val raw = Streams.readParquetStream(s, inDir.toString,
      maxFilesPerTrigger = if (splitFiles > 1) 1 else 0)
    raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        // integer division: ~1.7e18 ns exceeds double's 2^53 exact range
        raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // UTC session: pure relabel to the event-time-capable LTZ type
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** The flagship TPC-H Q1-variant aggregation over a lineitem frame
    * (reference: examples/benchmark.py:51-68) — shared by the q06 gate
    * and Bench's `q06_x10_6Mrows` at BASELINE.md's sf1 row count. */
  private[graft] def q1Agg(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        F.sum("l_quantity").as("sum_qty_raw"),
        F.round(F.sum("l_extendedprice"), 4).as("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4).as("sum_disc_price"),
        F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * (F.lit(1) + F.col("l_tax"))), 4).as("sum_charge"),
        F.round(F.avg("l_quantity"), 4).as("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).as("avg_price"),
        F.round(F.avg("l_discount"), 4).as("avg_disc"),
        F.count(F.lit(1)).as("count_order"))
      .withColumnRenamed("sum_qty_raw", "sum_qty")

  /** Flagship query on sf=0.001 — the reference's benchmark Q1 variant
    * (reference: examples/benchmark.py:51-68) routed through the SQL
    * dialect front-end. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val engine = Engine(spark, "/root/testdata/sf0.001")
    engine.sql(
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  AVG(l_quantity) AS avg_qty,
        |  COUNT() AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= '1998-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin).df
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scan / project / filter (SURVEY §2.1 #1,#3,#4; §2.2) ----
    "q01_scan" -> ((s, dir) => t(s, dir, "region").select("r_regionkey", "r_name")),

    "q02_project_arith" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        F.col("l_orderkey"), F.col("l_linenumber"),
        (F.col("l_quantity") * (F.lit(1) - F.col("l_discount"))).as("net_qty"),
        (F.col("l_extendedprice") * (F.lit(1) + F.col("l_tax"))).as("gross_price"),
        (F.col("l_orderkey") % 10).as("ok_mod"),
        F.floor(F.col("l_orderkey") / 7).cast("long").as("ok_div"))),

    "q03_concat_like" -> ((s, dir) =>
      t(s, dir, "customer")
        .filter(F.col("c_name").like("%1%") && !F.col("c_mktsegment").like("A%"))
        .select(F.col("c_custkey"),
          F.concat(F.col("c_name"), F.lit("-"), F.col("c_mktsegment")).as("tag"))),

    "q04_filter_bool" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter((F.col("l_quantity") > 30 && F.col("l_discount") < 0.05) ||
                (F.col("l_returnflag") === "R" && F.col("l_tax") > 0.07))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    "q05_between_ts" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .select(F.col("l_orderkey"), F.col("l_linenumber"),
          F.date_format(F.col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))),

    // ---- aggregation (SURVEY §2.1 #6, §2.3) ----
    "q06_q1_flagship" -> ((s, dir) => q1Agg(t(s, dir, "lineitem"))),

    "q07_group_minmax" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(F.min("o_totalprice").as("min_price"),
             F.max("o_totalprice").as("max_price"),
             F.count(F.lit(1)).as("n"))),

    "q08_having_sql" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_partkey, SUM(l_quantity) AS sum_qty
          |FROM lineitem GROUP BY l_partkey
          |HAVING SUM(l_quantity) > 900""".stripMargin).df),

    "q09_group_avg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          F.round(F.avg(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4).as("avg_net"),
          F.round(F.avg("l_quantity"), 4).as("avg_qty"))),

    "q10_count_distinct" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").as("n_cust"),
             F.count(F.lit(1)).as("n"))),

    // ---- joins (SURVEY §2.1 #5; semi/anti/outer per §7.1.1) ----
    "q11_join_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(F.broadcast(t(s, dir, "customer")),
          F.col("o_custkey") === F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 4).as("revenue"),
             F.count(F.lit(1)).as("n_orders"))),

    "q12_join3" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(F.col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-06-01").cast("timestamp"))
      t(s, dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1996-06-01").cast("timestamp"))
        .join(ord, F.col("l_orderkey") === F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") === F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4).as("revenue"),
             F.count(F.lit(1)).as("n"))
    }),

    "q13_join_left" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(F.col("o_totalprice") > 300000),
          F.col("c_custkey") === F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").as("n_big_orders"))),

    "q14_join_semi" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(F.col("o_totalprice") > 400000),
          F.col("c_custkey") === F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    "q15_join_anti" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(F.col("o_totalprice") > 400000),
          F.col("c_custkey") === F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_nationkey")),

    // ---- set ops / distinct / sort / limit / window ----
    "q16_union_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(F.col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(F.col("s_nationkey").as("nationkey")))
        .distinct()),

    // set ops THROUGH the SQL dialect front-end (parser extension) —
    // q66/q67 gate the DataFrame API route
    "q71_sql_union" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c_nationkey AS nationkey FROM customer
          |UNION
          |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin).df),

    "q66_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(F.col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(F.col("s_nationkey").as("nationkey")))),

    "q67_except" -> ((s, dir) =>
      t(s, dir, "customer").select(F.col("c_nationkey").as("nationkey"))
        .except(t(s, dir, "supplier").select(F.col("s_nationkey").as("nationkey")))),

    "q17_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(F.col("o_totalprice").desc, F.col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice")),

    "q18_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice").desc, F.col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(F.col("o_orderstatus"), F.col("o_orderkey"), F.col("o_totalprice"),
          F.row_number().over(w).as("rk"))
        .filter(F.col("rk") <= 5)
    }),

    // ---- events / streaming batch-twin (graft.streaming) ----
    "q19_events_hourly" -> ((s, dir) =>
      Streams.windowedCounts(events(s, dir), "1 hour")
        .select(
          F.date_format(F.col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          F.col("event_type"), F.col("n_events"), F.col("sum_value"))),

    // ---- SLIDING windows (1h length, 30min slide): each event lands in
    //      len/slide windows; the oracle replays Spark's epoch-aligned
    //      window assignment with an explicit range() unnest ----
    "q76_sliding_windows" -> ((s, dir) =>
      Streams.windowedCounts(events(s, dir), "1 hour", slide = Some("30 minutes"))
        .select(
          F.date_format(F.col("window_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          F.col("event_type"), F.col("n_events"), F.col("sum_value"))),

    // ---- SQL dialect front-end (graft.sql, reference parser.py) ----
    "q20_sql_q1" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, SUM(l_quantity) AS sum_qty, COUNT() AS count
          |FROM lineitem GROUP BY l_returnflag
          |HAVING SUM(l_quantity) > 100""".stripMargin).df),

    "q21_sql_join" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c.c_mktsegment AS seg, COUNT() AS n
          |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          |WHERE o.o_totalprice > 1000
          |GROUP BY c.c_mktsegment""".stripMargin).df),

    "q22_sql_events" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT event_type, COUNT() AS n, MIN(value) AS min_v, MAX(value) AS max_v
          |FROM events GROUP BY event_type""".stripMargin).df),

    // ---- text analysis (graft.operators.TextAnalysis; the stats run
    //      through the single-pass native text_stats expression,
    //      graft.functions.TextStatsExpr — same semantics, same oracle) ----
    "q23_token_stats" -> ((s, dir) => {
      val st = F.call_function("text_stats", F.col("text"))
      t(s, dir, "documents").select(
        F.col("doc_id"),
        st.getField("n_tokens").as("n_tokens"),
        st.getField("n_subwords").as("n_subwords"),
        st.getField("n_punct").as("n_punct"),
        st.getField("n_stopwords").as("n_stopwords"))
    }),

    "q24_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        F.col("doc_id"), TextAnalysis.qualityScore(F.col("text")).as("quality"))),

    // ---- REAL BPE (not the subword proxy): the trainer makes ONE
    //      distributed word-count pass, then runs the standard driver
    //      loop over the bounded word-frequency table (pair argmax →
    //      merge → repeat; ties count DESC then pair ASC). The oracle
    //      replays all 8 training rounds in DuckDB — pair counting via
    //      list_zip, the merge application as a list_reduce fold —
    //      so every learned merge is independently re-derived ----
    "q278_bpe_train" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", numMerges = 8)
        .zipWithIndex
        .map { case ((a, b), i) => ((i + 1).toLong, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
    }),

    // ---- BPE ENCODE with the trained table: the native greedy-by-rank
    //      expression (graft.functions.BpeEncodeExpr) tokenizes the
    //      corpus; the oracle never reimplements the encoder — it takes
    //      the symbols AFTER its replayed training rounds (sequential
    //      merge application), which a correct greedy encoder must
    //      reproduce exactly (the classic BPE order-equivalence) ----
    "q279_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 8)
      docs.select(F.explode(
          TextAnalysis.bpeEncode(F.col("text"), merges)).as("token"))
        .groupBy("token").agg(F.count(F.lit(1)).as("n"))
        .orderBy(F.col("n").desc, F.col("token").asc).limit(30)
    }),

    // ---- the persisted TOKENIZER MODEL: train once, publish as a
    //      Versioned dataset (rank, lhs, rhs), every encode job pins
    //      the model version — the artifact read back through the
    //      DIALECT and verified against the oracle's independent
    //      8-round training replay (q278's derivation, now through the
    //      publish/load lifecycle) ----
    "q292_bpe_model" -> ((s, dir) => {
      val path = stagingDir("graft_bpe_model") + "/model"
      val merges = TextAnalysis.bpeTrain(
        t(s, dir, "documents"), "text", numMerges = 8)
      TextAnalysis.writeBpeModel(s, merges, path)
      require(TextAnalysis.readBpeModel(s, path) == merges,
        "model round-trip drifted")
      Engine(s, dir).sql(
        s"SELECT rank AS merge_rank, lhs, rhs FROM '$path'").df
    }),

    // ---- BPE at PRODUCTION merge counts (round-10 verdict ask #3):
    //      the q278/q279 gates pin 8 training rounds value-by-value
    //      (the DuckDB replay's cost ceiling); this gate proves the
    //      greedy-by-rank native encoder still equals the SEQUENTIAL
    //      training replay at 1024 merges — the classic BPE
    //      order-equivalence, checked per word on the 50 most frequent
    //      trained words. The replay side applies the learned merges
    //      one-by-one in rank order (driver fold over bpeApplyMerge —
    //      the trainer's own step function), so a greedy tie-break or
    //      rank-map bug at depth diverges the strings and fails the
    //      hash; the oracle re-derives the word list and pins ok=true ----
    "q288_bpe_encode1k" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // the fixture text draws on a 31-word pool (total merge capacity
      // ~89) — too small for a 1k-merge table, so the training corpus
      // is widened with one md5-hex word per doc (32 chars over a
      // 16-char alphabet: capacity ~15k, and deep ranks actually fire);
      // md5-of-string is engine-portable, so the oracle re-derives the
      // exact same corpus
      val corpus = docs.select(F.col("text")).unionAll(
        docs.select(F.md5(F.col("doc_id").cast("string")).as("text")))
      val merges = TextAnalysis.bpeTrain(corpus, "text", numMerges = 1024)
      require(merges.length == 1024,
        s"corpus exhausted at ${merges.length} merges — grow the fixture")
      // top-100 = every real word (31) + the first hex words — the
      // latter are where 1k-deep merges actually apply
      val top = TextAnalysis.bpeWordFreqsTop(corpus, "text").take(100)
      val replayed = top.toSeq.map { case (w, _) =>
        val syms = merges.foldLeft(w.toCharArray.map(String.valueOf)) {
          case (acc, (a, b)) => TextAnalysis.bpeApplyMerge(acc, a, b)
        }
        // compare the "|"-joined SEGMENTATION, not a bare concat:
        // "ab|c" vs "a|bc" must differ though the characters agree
        (w, syms.mkString("|"))
      }
      replayed.toDF("word", "replay")
        .select(F.col("word"),
          (F.array_join(TextAnalysis.bpeEncode(F.col("word"), merges),
            "|") === F.col("replay")).as("ok"))
    }),

    "q25_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
        F.col("doc_id"), TextAnalysis.langId(F.col("text")).as("lang_guess"))),

    "q26_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        F.col("doc_id"), TextAnalysis.fingerprint(F.col("text")).as("fp"))),

    // ---- deduplication (graft.operators.Dedup) ----
    "q27_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),

    // blocking includes a token-length bucket: near-dups have similar
    // length, and the extra term keeps blocks bounded where lang|source
    // alone would be a mega-block at corpus scale (open corpora should
    // use minhashLsh instead — see Dedup scaladoc)
    "q28_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        F.concat(F.col("lang"), F.lit("|"), F.col("source"), F.lit("|"),
          F.floor(TextAnalysis.tokenCount(F.col("text")) / F.lit(32)).cast("string")),
        shingleN = 1, threshold = 0.5)),

    // the oracle replays the ENTIRE md5+affine minhash/LSH pipeline in
    // DuckDB (same base hashes, same band keys, same bucket cap), so the
    // gate checks the algorithm end-to-end, not just row counts
    "q29_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id",
        numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
        maxBucket = 64)),

    // maxHamming=3 on 4 chunks: pigeonhole guarantees 100% recall, and the
    // engine-portable md5 token hash lets DuckDB replay the signature
    "q30_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3, maxBucket = 4096, portableHash = true)),

    "q31_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "embedding", "vec_id",
        planes = q31Planes, threshold = 0.3, maxBucket = 4096)
        .select(F.col("id_a"), F.col("id_b"), F.round(F.col("cosine"), 6).as("cosine"))),

    // ---- SEMANTIC dedup (SemDeDup shape): IVF-cell blocking + exact
    //      within-cell cosine + connected components — the embedding
    //      analog of q51's lexical pipeline; output is the dup-group
    //      assignment (keep = id == cluster) ----
    "q155_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDupGroups(t(s, dir, "embeddings"), "embedding",
        "vec_id", ivfCentroids, threshold = 0.3, maxCell = 4096)
        .select(F.col("id").as("vec_id"), F.col("cluster"))),

    // multi-table LSH: union of candidates over TWO independent plane
    // sets — the recall path (q31 is single-table precision); the oracle
    // replays both bucketings and the union
    "q62_embed_multi" -> ((s, dir) =>
      Dedup.embeddingNearDupMulti(t(s, dir, "embeddings"), "embedding", "vec_id",
        planeSets = q62PlaneSets, threshold = 0.3, maxBucket = 4096)
        .select(F.col("id_a"), F.col("id_b"), F.round(F.col("cosine"), 6).as("cosine"))),

    // ---- similarity search (graft.operators.Similarity) ----
    "q32_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.topKByCosine(emb, "embedding", "vec_id", q, 10)
        .select(F.col("vec_id"), F.round(F.col("score"), 6).as("score"))
    }),

    "q33_knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.topKIvf(emb, "embedding", "vec_id", q, ivfCentroids,
          k = 10, nprobe = 2)
        .select(F.col("vec_id"), F.round(F.col("score"), 6).as("score"))
    }),

    // ---- ANN JOIN: top-k corpus neighbors for EVERY probe-table row,
    //      IVF-pruned — probes explode to their nprobe nearest cells
    //      and meet the corpus in a bucket EQUI-join (no cross join;
    //      q41's brute path is the few-probes twin); bounded-heap
    //      per-probe top-k ----
    "q184_ann_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(F.col("vec_id").isin(0L, 1L, 2L))
        .select(F.col("vec_id").as("probe_id"), F.col("embedding").as("probe_vec"))
      Similarity.topKPerProbeIvf(emb, "embedding", "vec_id", probes,
          "probe_vec", "probe_id", ivfCentroids, k = 5, nprobe = 2)
        .select(F.col("probe_id"), F.col("id"),
          F.round(F.col("score"), 6).as("score"))
    }),

    // ---- EMBEDDING-SPACE OUTLIERS: vectors whose best centroid-dot
    //      affinity (their IVF assignment score) falls below the exact
    //      corpus 5th percentile — the off-manifold/noise filter run
    //      before semantic dedup; one narrow map + one single-scalar
    //      percentile agg, corpus never shuffles ----
    "q179_embedding_outliers" -> ((s, dir) =>
      Similarity.embeddingOutliers(t(s, dir, "embeddings"), "embedding",
        "vec_id", ivfCentroids, quantile = 0.05)),

    // ---- scalar quantization (int8 per dimension): the third
    //      compression tier beside PQ/IVF-PQ. min/max train in-engine
    //      (2·dim driver doubles), serving scores are INTEGER dot
    //      products of shared-grid codes — exactly replayable, no float
    //      summation anywhere ----
    "q132_knn_sq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      val (mins, maxs) = Similarity.sqMinMax(emb, "embedding")
      Similarity.sqTopKInt(emb, "embedding", "vec_id", q, mins, maxs, k = 10)
    }),

    // ---- the SQ SERVING LAYOUT: codes stored hive-partitioned by IVF
    //      bucket; the query partition-prunes to its nprobe buckets and
    //      reads ONLY codes (vector-free I/O), ranking by exact int64
    //      dots — the SQ twin of q124's stored-PQ path ----
    "q135_knn_ivfsq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      val (mins, maxs) = Similarity.sqMinMax(emb, "embedding")
      val path = stagingDir("graft_ivfsq") + "/codes"
      Similarity.writeIvfSqCodes(emb, "embedding", "vec_id", ivfCentroids,
        mins, maxs, path)
      Similarity.sqTopKFromCodes(s, path, "vec_id", q, ivfCentroids,
        mins, maxs, k = 10, nprobe = 2)
    }),

    // ---- index-quality evaluation: recall@10 of the IVF path against
    //      the exact brute-force top-10 — the tuning/canary metric of
    //      an ANN deployment; the oracle replays BOTH pipelines and
    //      intersects, so a silent recall regression fails the gate ----
    "q130_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.recallAtK(
        Similarity.topKIvf(emb, "embedding", "vec_id", q, ivfCentroids,
          k = 10, nprobe = 2),
        Similarity.topKByCosine(emb, "embedding", "vec_id", q, 10),
        "vec_id", k = 10)
    }),

    // ---- multimodal plumbing (graft.operators.Multimodal) ----
    "q34_media_meta" -> ((s, dir) =>
      Multimodal.decode(
        Multimodal.synthesize(t(s, dir, "documents"), "doc_id", "text"))),

    "q35_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decode(
          Multimodal.synthesize(t(s, dir, "documents"), "doc_id", "text")),
        stride = 10)),

    // ---- REAL video container metadata: every row is an actual
    //      ISO-BMFF byte stream (ftyp+moov/mvhd/trak/tkhd) synthesized
    //      with id-derived dims/duration; decode() recovers them by
    //      PARSING THE BOXES (16.16 fixed-point dims, duration units /
    //      timescale) and the oracle replays the derivation — a wrong
    //      offset or endianness fails the hash ----
    "q127_video_meta" -> ((s, dir) =>
      Multimodal.decode(
        Multimodal.synthesizeVideo(t(s, dir, "documents"), "doc_id"))
        .select("media_id", "n_bytes", "width", "height", "duration_s")),

    // ---- REAL MJPEG frame decode: full sample-table fixtures (stsd/
    //      stsz/stco + actual JPEG samples in mdat), first frame decoded
    //      with javax.imageio — geometry is exact, so the oracle replays
    //      the fixture arithmetic; only compressed codecs stay stubbed ----
    "q149_mjpeg_frames" -> ((s, dir) =>
      Multimodal.decodeFrames(
        Multimodal.synthesizeMjpegVideo(t(s, dir, "documents"), "doc_id"))),

    // ---- REAL non-MP4 container frame decode (round-7 verdict ask
    //      #6): RIFF/AVI fixtures in BOTH decodable fourcc flavors —
    //      MJPEG-in-AVI (each 00dc chunk a real JPEG; first frame
    //      decoded with javax.imageio, geometry exact) and raw BI_RGB
    //      00db frames (dimensions from BITMAPINFOHEADER + the EXACT
    //      first-frame byte mean). The fakeDecode stub is now hit only
    //      by codecs the JDK genuinely cannot decode; the oracle
    //      replays the id-derived geometry and fill arithmetic ----
    "q241_avi_first_frame" -> ((s, dir) =>
      Multimodal.decodeAviFrameStats(
        Multimodal.synthesizeAviVideos(t(s, dir, "documents"), "doc_id"))),

    // ---- H.264 SPS geometry (round-8 verdict ask #7): compressed-codec
    //      MP4s yield REAL metadata without a pixel decoder — the avcC
    //      record's SPS NAL is parsed bit-for-bit (exp-Golomb, crop
    //      offsets in chroma units). The fixtures deliberately pad the
    //      tkhd/sample-entry dimension fields to whole macroblocks, so
    //      these display sizes can ONLY come from a true SPS crop parse;
    //      the oracle replays the id-derived geometry arithmetic. The
    //      stub now covers pixels only ----
    "q258_avc_sps_geometry" -> ((s, dir) =>
      Multimodal.decodeAvcStats(
        Multimodal.synthesizeAvcVideos(t(s, dir, "documents"), "doc_id"))),

    // ---- the q258 recovery for the OTHER dominant compressed codec:
    //      HEVC hvcC → SPS NAL-array walk → profile_tier_level skip →
    //      conformance-window arithmetic; container dimension fields
    //      padded again so only the bitstream parse can match ----
    "q259_hevc_sps_geometry" -> ((s, dir) =>
      Multimodal.decodeHevcStats(
        Multimodal.synthesizeHevcVideos(t(s, dir, "documents"), "doc_id"))),

    // ---- TFRecord round trip (the trainer-side interchange format):
    //      executors write framed tf.Example shards (u64le length +
    //      masked CRC32C, protobuf Features with bytes/int64/float
    //      lists), the CRC-validating streaming reader walks them
    //      back, and every document + its id and score feature must
    //      reassemble exactly ----
    "q276_tfrecord_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val staging = stagingDir("graft_tfrecord") + "/shards"
      new java.io.File(staging).mkdirs()
      docs.repartition(4, F.col("doc_id"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val exs = it.map { r =>
            val id = r.getLong(0)
            graft.sources.TfRecord.exampleBytes(
              Seq("text" -> r.getString(1)),
              Seq("doc_id" -> Seq(id)),
              Seq("score" -> Seq((id % 100) / 10.0f)))
          }.toSeq
          if (exs.nonEmpty) {
            val f = new java.io.File(staging, s"part-$pid.tfrecord")
            val out = new java.io.FileOutputStream(f)
            try out.write(graft.sources.TfRecord.tfRecordBytes(exs))
            finally out.close()
          }
        }
      val read = graft.sources.TfRecord.read(s, s"$staging/*")
      val byRec = read.groupBy("tf_file", "rec_idx").agg(
        F.max(F.when(F.col("feature") === "doc_id",
          F.col("int_vals").getItem(0))).as("doc_id"),
        F.max(F.when(F.col("feature") === "text",
          F.col("text_val"))).as("tf_text"),
        F.max(F.when(F.col("feature") === "score",
          F.col("float_vals").getItem(0))).as("score"))
      byRec.join(docs, "doc_id")
        .select(F.col("doc_id"),
          (F.col("tf_text") === F.col("text")).as("text_ok"),
          F.round(F.col("score").cast("double"), 1).as("score"))
    }),

    // ---- Avro OCF round trip (the row-oriented interchange format
    //      ETL/Kafka pipelines hand corpora over in): executors write
    //      sharded container files — half deflate, half uncompressed,
    //      exercising both codecs — through the Avro CORE library (no
    //      spark-avro module); the reader resolves the writer schema
    //      from the first header and stream-decodes one record at a
    //      time; ids, nullable strings, longs and an array column must
    //      all round-trip exactly ----
    "q280_avro_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(F.col("doc_id"), F.col("lang"), F.col("text"),
          F.col("n_chars"),
          F.array(F.col("doc_id"), F.col("n_chars")).as("sig"))
      val staging = stagingDir("graft_avro") + "/shards"
      new java.io.File(staging).mkdirs()
      val schema = docs.schema
      docs.repartition(4, F.col("doc_id"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val codec = if (pid % 2 == 0) "deflate" else "null"
          graft.sources.Avro.writeFile(
            new java.io.File(staging, s"part-$pid.avro"), schema, it, codec)
          ()
        }
      val back = graft.sources.Avro.read(s, s"$staging/*.avro")
      back.join(t(s, dir, "documents")
          .select(F.col("doc_id"), F.col("text").as("src_text")), "doc_id")
        .select(F.col("doc_id"),
          (F.col("text") === F.col("src_text")).as("text_ok"),
          (F.col("sig") === F.array(F.col("doc_id"), F.col("n_chars")))
            .as("sig_ok"),
          F.col("lang"), F.col("n_chars"))
    }),

    // ---- TAR/ZIP archive ingestion (the delivery formats corpora
    //      actually arrive in beside WARC): executors write sharded
    //      archives (tar half-gzipped), the streaming entry walks read
    //      them back, and every document's text must round-trip exactly
    //      with its id recovered from the entry name ----
    "q271_tar_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val staging = stagingDir("graft_tar") + "/archives"
      new java.io.File(staging).mkdirs()
      docs.repartition(4, F.col("doc_id"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val entries = it.map(r =>
            (s"corpus/doc-${r.getLong(0)}.txt", r.getString(1))).toSeq
          if (entries.nonEmpty) {
            val gz = pid % 2 == 1
            val f = new java.io.File(staging,
              s"shard-$pid.tar" + (if (gz) ".gz" else ""))
            val bytes = graft.sources.Archives.tarBytes(entries)
            val out = new java.io.FileOutputStream(f)
            try {
              if (gz) {
                val z = new java.util.zip.GZIPOutputStream(out)
                z.write(bytes); z.close()
              } else out.write(bytes)
            } finally out.close()
          }
        }
      val read = graft.sources.Archives.readTar(s, s"$staging/*")
        .withColumnRenamed("text", "archived_text")
        .withColumn("doc_id",
          F.regexp_extract(F.col("entry_name"), "doc-(\\d+)\\.txt$", 1)
            .cast("long"))
      read.join(docs, "doc_id")
        .select(F.col("doc_id"), F.col("n_bytes"),
          (F.col("archived_text") === F.col("text")).as("text_ok"))
    }),

    "q272_zip_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val staging = stagingDir("graft_zip") + "/archives"
      new java.io.File(staging).mkdirs()
      docs.repartition(4, F.col("doc_id"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val entries = it.map(r =>
            (s"corpus/doc-${r.getLong(0)}.txt", r.getString(1))).toSeq
          if (entries.nonEmpty) {
            val f = new java.io.File(staging, s"shard-$pid.zip")
            val out = new java.io.FileOutputStream(f)
            try out.write(graft.sources.Archives.zipBytes(entries))
            finally out.close()
          }
        }
      val read = graft.sources.Archives.readZip(s, s"$staging/*")
        .withColumnRenamed("text", "archived_text")
        .withColumn("doc_id",
          F.regexp_extract(F.col("entry_name"), "doc-(\\d+)\\.txt$", 1)
            .cast("long"))
      read.join(docs, "doc_id")
        .select(F.col("doc_id"), F.col("n_bytes"),
          (F.col("archived_text") === F.col("text")).as("text_ok"))
    }),

    // ---- the FULL crawl arc as one composition — WARC shards on disk
    //      (bodies are HTML pages, URLs carry the source as host) →
    //      Warc.read → htmlToText → URL normalize/host/domain →
    //      per-domain keep-rate rollup: every stage is individually
    //      gated (q264/q268/q201) and this gates their composition ----
    "q269_crawl_arc" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val staging = stagingDir("graft_crawl_arc") + "/warc"
      new java.io.File(staging).mkdirs()
      docs.repartition(4, F.col("doc_id"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val recs = it.map { r =>
            val id = r.getLong(0); val src = r.getString(1)
            (s"http://$src.example/doc/$id", "2026-01-01T00:00:00Z",
              s"<html><head><title>Doc $id</title></head><body><p>" +
                r.getString(2) +
                "</p><script>track();</script></body></html>")
          }.toSeq
          if (recs.nonEmpty) {
            val gz = pid % 2 == 1
            val f = new java.io.File(staging,
              s"part-$pid.warc" + (if (gz) ".gz" else ""))
            val out = new java.io.FileOutputStream(f)
            try out.write(graft.sources.Warc.warcBytes(recs, gzip = gz))
            finally out.close()
          }
        }
      val pages = graft.sources.Warc.read(s, s"$staging/*")
      import graft.operators.Web
      pages.select(
          Web.registrableDomain(Web.host(
            Web.normalizeUrl(F.col("target_uri")))).as("domain"),
          Web.htmlToText(F.col("body")).as("clean"))
        .groupBy("domain").agg(
          F.count(F.lit(1)).as("n_docs"),
          F.sum(F.when(F.length(F.col("clean")) >= 200, 1).otherwise(0))
            .cast("long").as("n_kept"),
          F.sum(F.length(F.col("clean"))).cast("long").as("clean_chars"))
    }),

    // ---- HTML → visible text (the extraction between WARC ingestion
    //      and every quality operator): script/style/comments drop
    //      entirely, tags become spaces, the six named entities decode
    //      in the amp-last order, whitespace collapses — a codegen'd
    //      regexp chain whose oracle builds the SAME page string in SQL
    //      and replays the chain byte-for-byte ----
    "q268_html_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id"),
        F.lit("</title><style>body { color: red }</style></head>" +
          "<body>\n<h1 class=\"t\">Heading &amp; more</h1>\n<p>"),
        F.col("text"),
        F.lit("</p><script>if (1 < 2) { track(\"&amp;\"); }</script>" +
          "<!-- hidden --> tail&nbsp;&lt;end&gt;</body></html>"))
      docs.select(F.col("doc_id"),
        graft.operators.Web.htmlToText(page).as("clean"))
    }),

    // ---- ORIENTATION-NORMALIZED visual dedup: a photo and its
    //      rotated-stored twin (same scene, EXIF orientation 6) must
    //      land the SAME perceptual hash after normalization and
    //      DIFFERENT hashes without it — the q266 metadata applied to
    //      the q187 hash family; one wrong transform direction flips a
    //      deterministic boolean ----
    "q267_ahash_oriented" -> ((s, dir) => {
      val media = Multimodal.synthesizeRotatedPairs(
        t(s, dir, "documents").select("doc_id"), "doc_id")
      def pairEq(df: org.apache.spark.sql.DataFrame, name: String) = {
        val a = df.filter(F.col("media_id") % 2 === 0).select(
          (F.col("media_id") / 2).cast("long").as("doc_id"),
          F.col("ahash_hi").as("h1"), F.col("ahash_lo").as("l1"))
        val b = df.filter(F.col("media_id") % 2 === 1).select(
          ((F.col("media_id") - 1) / 2).cast("long").as("doc_id"),
          F.col("ahash_hi").as("h2"), F.col("ahash_lo").as("l2"))
        a.join(b, "doc_id").select(F.col("doc_id"),
          (F.col("h1") === F.col("h2") && F.col("l1") === F.col("l2"))
            .as(name))
      }
      pairEq(Multimodal.imageAHashes(media), "plain_equal")
        .join(pairEq(Multimodal.imageAHashesOriented(media),
          "oriented_equal"), "doc_id")
    }),

    // ---- parquet FOOTER statistics (the at-scale SUMMARIZE): row
    //      counts and numeric min/max for a 4-file staged table read
    //      from footers alone — zero data pages decoded — must equal
    //      the exact aggregates the oracle computes by scanning ----
    "q275_footer_stats" -> ((s, dir) => {
      val path = stagingDir("graft_footer") + "/li"
      t(s, dir, "lineitem")
        .select(F.col("l_orderkey").cast("long").as("l_orderkey"),
          F.col("l_quantity").cast("double").as("l_quantity"),
          F.col("l_returnflag"))
        .repartition(4)
        .write.mode("overwrite").parquet(path)
      Tables.parquetFooterStats(s, path)
        .filter(F.col("column").isin("l_orderkey", "l_quantity"))
        .groupBy(F.col("column").as("col_name"))
        .agg(F.sum("n_values").as("n_rows"),
          F.min("min_val").as("min_val"),
          F.max("max_val").as("max_val"))
    }),

    // ---- DESCRIBE HISTORY (the Delta-style audit statement): one row
    //      per committed version from manifests alone — three appends
    //      then OPTIMIZE, so the history shows segment growth 1→2→3
    //      and the compacted head back at 1 ----
    "q274_sql_history" -> ((s, dir) => {
      val path = stagingDir("graft_history") + "/ds"
      val eng = Engine(s, dir)
      val docs = t(s, dir, "documents").select("doc_id", "source")
      Versioned.commit(docs.filter(F.col("doc_id") % 3 === 0), path)
      Versioned.commit(docs.filter(F.col("doc_id") % 3 === 1), path,
        append = true)
      Versioned.commit(docs.filter(F.col("doc_id") % 3 === 2), path,
        append = true)
      eng.sql(s"OPTIMIZE '$path'")
      // commit_ts is wall-clock (nondeterministic): gate the stable
      // audit columns, spec-pin the timestamp's monotonicity
      eng.sql(s"DESCRIBE HISTORY '$path'").df
        .select("version", "n_segments", "is_head")
    }),

    // ---- SRT subtitle cues (the TEXT channel of video corpora):
    //      id-derived three-cue SRT documents built in the plan, then
    //      exploded by the codegen'd cue parser — indexes, millisecond
    //      time arithmetic from HH:MM:SS,mmm, and multi-line cue text
    //      joining all replay arithmetically ----
    "q273_srt_cues" -> ((s, dir) => {
      def tc(msCol: org.apache.spark.sql.Column) =
        F.format_string("%02d:%02d:%02d,%03d",
          (msCol / 3600000L).cast("int"),
          ((msCol / 60000L) % 60).cast("int"),
          ((msCol / 1000L) % 60).cast("int"),
          (msCol % 1000L).cast("int"))
      def cueStart(i: Int) =
        (F.col("doc_id") % 50) * 700L + F.lit((i - 1) * 3000L)
      val srt = F.concat((1 to 3).flatMap { i =>
        Seq(F.lit(s"$i\n"), tc(cueStart(i)), F.lit(" --> "),
          tc(cueStart(i) + 2500L),
          F.lit(s"\ncue $i\nof doc "), F.col("doc_id"), F.lit("\n\n"))
      }: _*)
      Multimodal.explodeSrtCues(
          t(s, dir, "documents").select(F.col("doc_id"))
            .withColumn("srt", srt), "srt")
        .select("doc_id", "cue_index", "start_ms", "end_ms", "cue_text")
    }),

    // ---- compressed-audio metadata (the audio twin of the codec
    //      story): FLAC STREAMINFO bit-parse and an MP3 frame WALK —
    //      exact durations without any decoder; the oracle replays the
    //      id-derived parameters and the integer duration math ----
    "q270_audio_meta" -> ((s, dir) =>
      Multimodal.decodeAudioMetaStats(
        Multimodal.synthesizeCompressedAudio(
          t(s, dir, "documents"), "doc_id"))),

    // ---- EXIF orientation (the normalization visual dedup needs:
    //      ImageIO decodes UN-rotated pixels, so rotated phone photos
    //      hash differently unless orientation is read and applied):
    //      real JPEGs with a spliced APP1 TIFF tag; display dims swap
    //      for the rotated orientations 5..8 ----
    "q266_exif_orientation" -> ((s, dir) =>
      Multimodal.decodeExifStats(
        Multimodal.synthesizeExifImages(t(s, dir, "documents"), "doc_id"))),

    // ---- WARC ingestion (the wire format web crawls arrive in — the
    //      REAL first step before q251's curation): executors write
    //      one WARC file per partition (half of them in the standard
    //      member-per-record .warc.gz layout), then Warc.read walks
    //      the records file-parallel and the HTTP payloads must
    //      round-trip the document text exactly ----
    "q264_warc_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val staging = stagingDir("graft_warc") + "/crawl"
      new java.io.File(staging).mkdirs()
      docs.repartition(4, F.col("doc_id"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val recs = it.map(r => (s"http://ex.com/doc/${r.getLong(0)}",
            "2026-01-01T00:00:00Z", r.getString(1))).toSeq
          if (recs.nonEmpty) {
            val gz = pid % 2 == 1 // half the shards use the gzip layout
            val f = new java.io.File(staging,
              s"part-$pid.warc" + (if (gz) ".gz" else ""))
            val out = new java.io.FileOutputStream(f)
            try out.write(graft.sources.Warc.warcBytes(recs, gzip = gz))
            finally out.close()
          }
        }
      val read = graft.sources.Warc.read(s, s"$staging/*")
        .withColumn("doc_id",
          F.regexp_extract(F.col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long"))
      read.join(docs, "doc_id")
        .select(F.col("doc_id"), F.col("http_status"),
          F.col("content_type"),
          (F.col("body") === F.col("text")).as("body_ok"))
    }),

    // ---- mixed-container video capstone: ONE extractor over a corpus
    //      holding all five families (AVC/HEVC/AV1 MP4s, VP9/AV1 WebM,
    //      MJPEG/BI_RGB AVI) — the shape a real crawl has; per-payload
    //      container sniff dispatches to the right tree/bitstream walk,
    //      and the oracle replays every family's arithmetic in one
    //      CASE over doc_id%5 ----
    "q263_video_meta_mixed" -> ((s, dir) =>
      Multimodal.videoMetaStats(
        Multimodal.synthesizeMixedVideos(t(s, dir, "documents"), "doc_id"))),

    // ---- AV1 sequence-header geometry, completing the compressed-
    //      codec family trio (avcC/hvcC/av1C): explicit-bit-width
    //      max_frame dimensions plus operating-point/tier handling;
    //      the fixtures' container dimension fields are deliberately
    //      WRONG (+16 px), so only the OBU bitstream parse matches ----
    "q262_av1_seq_geometry" -> ((s, dir) =>
      Multimodal.decodeAv1Stats(
        Multimodal.synthesizeAv1Videos(t(s, dir, "documents"), "doc_id"))),

    // ---- WebM/Matroska metadata (the THIRD container family, and the
    //      one a web crawl serves VP9/AV1 in): geometry, codec id and
    //      duration from a real EBML tree walk — varint ids/sizes,
    //      unknown-size segments, TimestampScale×Duration arithmetic;
    //      the oracle replays the id-derived fixture values ----
    "q261_webm_meta" -> ((s, dir) =>
      Multimodal.decodeWebmStats(
        Multimodal.synthesizeWebmVideos(t(s, dir, "documents"), "doc_id"))),

    // ---- VP9 bitstream geometry (round-10 verdict ask #6, completing
    //      the codec quartet): frame dimensions + profile parsed from
    //      the keyframe's UNCOMPRESSED HEADER inside the first WebM
    //      cluster — VP9 has no out-of-band parameter set, so the
    //      bitstream IS the truth source; the fixtures' container
    //      PixelWidth/PixelHeight lie by +16 px, so equality with the
    //      arithmetic is only reachable through the bitstream parse ----
    "q287_vp9_geometry" -> ((s, dir) =>
      Multimodal.decodeVp9Stats(
        Multimodal.synthesizeVp9Videos(t(s, dir, "documents"), "doc_id"))),

    // ---- REAL animated-GIF frame walk (JDK ImageIO sequence reader):
    //      frame count from a full-sequence scan + first-frame decode
    //      over real GIF89a fixtures — the multi-frame IMAGE format
    //      web-scraped corpora actually contain; the oracle replays the
    //      id-derived geometry arithmetic (the q149 pattern) ----
    "q173_gif_frames" -> ((s, dir) =>
      Multimodal.decodeGifFrameStats(
        Multimodal.synthesizeGifs(t(s, dir, "documents"), "doc_id"))),

    // ---- REAL image perceptual hashing: every row is an actual 16×16
    //      gray PNG (ImageIO-encoded, id-derived pixel pattern), decoded
    //      with ImageIO and 8×8 block-mean average-hashed in exact
    //      integer arithmetic; the oracle replays pixels → cells → mean
    //      → bits from the fixture formula alone — a wrong raster read,
    //      block bound, or bit order fails the hash ----
    "q187_image_ahash" -> ((s, dir) =>
      Multimodal.imageAHashes(
        Multimodal.synthesizePatternPngs(t(s, dir, "documents"), "doc_id"))),

    // ---- VISUAL near-dup pairs: the aHash signatures through the
    //      16-bit-chunk Hamming LSH (total recall at distance <= 3 by
    //      pigeonhole) — the image analog of q30's SimHash pipeline;
    //      fixture patterns repeat every 40 ids, so true visual
    //      duplicates exist and the oracle replays hash + banding +
    //      exact Hamming verification end to end ----
    "q188_visual_neardup" -> ((s, dir) => {
      val hashes = Multimodal.imageAHashes(
          Multimodal.synthesizePatternPngs(t(s, dir, "documents"), "doc_id"))
        .select(F.col("media_id"),
          F.shiftleft(F.col("ahash_hi"), 32).bitwiseOR(F.col("ahash_lo"))
            .as("sig"))
      Dedup.hammingPairs(hashes, "sig", "media_id",
        maxHamming = 3, maxBucket = 64)
    }),

    // ---- the gradient twin of q187: block-grid difference hash (bit =
    //      next cell in the row strictly brighter, wraparound) over the
    //      same real-PNG fixtures; the oracle replays pixels → cells →
    //      horizontal comparisons → bits ----
    "q203_image_dhash" -> ((s, dir) =>
      Multimodal.imageDHashes(
        Multimodal.synthesizePatternPngs(t(s, dir, "documents"), "doc_id"))),

    // ---- visual-dedup CROSS-CHECK: near-dup pairs that BOTH
    //      perceptual hashes agree on (aHash pairs ∩ dHash pairs via
    //      inner join on the pair key) — the precision filter: a
    //      brightness-shift false positive of one hash family dies
    //      unless the other confirms it; fixture duplicates (identical
    //      pixels) survive both by construction ----
    "q204_visual_crosscheck" -> ((s, dir) => {
      val pngs = Multimodal.synthesizePatternPngs(t(s, dir, "documents"), "doc_id")
        .localCheckpoint() // one fixture render feeds both hash passes
      def sig(hashed: DataFrame, hi: String, lo: String): DataFrame =
        hashed.select(F.col("media_id"),
          F.shiftleft(F.col(hi), 32).bitwiseOR(F.col(lo)).as("sig"))
      val aPairs = Dedup.hammingPairs(
        sig(Multimodal.imageAHashes(pngs), "ahash_hi", "ahash_lo"),
        "sig", "media_id", maxHamming = 3, maxBucket = 64)
        .select(F.col("id_a"), F.col("id_b"),
          F.col("hamming").as("hamming_a"))
      val dPairs = Dedup.hammingPairs(
        sig(Multimodal.imageDHashes(pngs), "dhash_hi", "dhash_lo"),
        "sig", "media_id", maxHamming = 3, maxBucket = 64)
        .select(F.col("id_a"), F.col("id_b"),
          F.col("hamming").as("hamming_d"))
      aPairs.join(dPairs, Seq("id_a", "id_b"))
    }),

    // ---- REAL audio fingerprinting (the q187 gate's aural twin):
    //      every row is an actual 16-bit PCM WAV (AudioSystem-encoded,
    //      id-derived waveform), decoded with javax.sound and energy-
    //      profile-hashed in exact integer arithmetic; the oracle
    //      replays samples → window energies → mean → bits ----
    "q189_audio_fingerprint" -> ((s, dir) =>
      Multimodal.audioFingerprints(
        Multimodal.synthesizePatternWavs(t(s, dir, "documents"), "doc_id"))),

    // ---- AURAL near-dup pairs: the fingerprints through the same
    //      Hamming chunk LSH as q188 — identical waveforms (pattern
    //      keys repeat every 40 ids) pair at distance 0 ----
    "q190_audio_neardup" -> ((s, dir) => {
      val fps = Multimodal.audioFingerprints(
          Multimodal.synthesizePatternWavs(t(s, dir, "documents"), "doc_id"))
        .select(F.col("media_id"),
          F.shiftleft(F.col("afp_hi"), 32).bitwiseOR(F.col("afp_lo"))
            .as("sig"))
      Dedup.hammingPairs(fps, "sig", "media_id",
        maxHamming = 3, maxBucket = 64)
    }),

    // ---- the COMPLETE visual-dedup deliverable: aHash signatures →
    //      Hamming LSH pairs → connected-component clusters (keep
    //      media_id == cluster, drop the rest) — q51's pipeline on
    //      images; the oracle replays hash, banding, verification AND
    //      the recursive closure ----
    "q196_visual_clusters" -> ((s, dir) => {
      val hashes = Multimodal.imageAHashes(
          Multimodal.synthesizePatternPngs(t(s, dir, "documents"), "doc_id"))
        .select(F.col("media_id"),
          F.shiftleft(F.col("ahash_hi"), 32).bitwiseOR(F.col("ahash_lo"))
            .as("sig"))
      Dedup.clusters(
          Dedup.hammingPairs(hashes, "sig", "media_id",
            maxHamming = 3, maxBucket = 64))
        .select(F.col("id").as("media_id"), F.col("cluster"))
    }),

    // ---- the MULTIMODAL keep-list capstone: a document survives only
    //      if it is the canonical member (or untouched) in EVERY
    //      modality — text minhash clusters ∪ visual aHash clusters ∪
    //      aural fingerprint clusters each contribute their
    //      non-canonical drops; the oracle replays all three pipelines
    //      AND their closures in one statement ----
    "q198_multimodal_keeplist" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def drops(cl: DataFrame): DataFrame =
        cl.filter(F.col("id") =!= F.col("cluster"))
          .select(F.col("id").as("doc_id"))
      def sigOf(hashed: DataFrame, hi: String, lo: String): DataFrame =
        hashed.select(F.col("media_id"),
          F.shiftleft(F.col(hi), 32).bitwiseOR(F.col(lo)).as("sig"))
      val textCl = Dedup.clusters(Dedup.minhashLsh(docs, "text", "doc_id",
        numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
        maxBucket = 64))
      val imgCl = Dedup.clusters(Dedup.hammingPairs(
        sigOf(Multimodal.imageAHashes(
            Multimodal.synthesizePatternPngs(docs, "doc_id")),
          "ahash_hi", "ahash_lo"),
        "sig", "media_id", maxHamming = 3, maxBucket = 64))
      val audCl = Dedup.clusters(Dedup.hammingPairs(
        sigOf(Multimodal.audioFingerprints(
            Multimodal.synthesizePatternWavs(docs, "doc_id")),
          "afp_hi", "afp_lo"),
        "sig", "media_id", maxHamming = 3, maxBucket = 64))
      val allDrops = drops(textCl).unionAll(drops(imgCl))
        .unionAll(drops(audCl)).distinct()
      docs.join(allDrops, Seq("doc_id"), "left_anti").select("doc_id")
    }),

    // ---- explicit ROWS frames through the dialect: a 3-row moving
    //      sum, a running average via the standard `ROWS UNBOUNDED
    //      PRECEDING` shorthand, and a centered local max — the frame
    //      grammar DuckDB runs verbatim; ORDER BY (ts, event_id) makes
    //      every frame deterministic (event_id is unique) ----
    "q199_sql_window_frame" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT event_id, user_id,
          |  round(SUM(value) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id
          |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100, 0) AS mov_sum_c,
          |  round(SUM(value) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id
          |    ROWS UNBOUNDED PRECEDING) * 100, 0) AS run_sum_c,
          |  MAX(value) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id
          |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS local_max,
          |  COUNT(value) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id
          |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS n_near
          |FROM events
          |WHERE user_id < 40""".stripMargin).df),

    // ---- offset/positional window functions through the dialect:
    //      lag with a literal default (null-free partition edges), lead
    //      over a string column, first_value, and last_value with the
    //      explicit forward frame (the default running frame would make
    //      last_value the current row) — DuckDB runs the same text ----
    "q205_sql_lag_lead" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT event_id, user_id,
          |  lag(value, 1, 0.0) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS prev_val,
          |  lead(event_type, 1, 'none') OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS next_type,
          |  first_value(value) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS first_val,
          |  last_value(value) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_val
          |FROM events
          |WHERE user_id < 30""".stripMargin).df),

    // ---- date_trunc + CAST composed through the dialect: the daily
    //      rollup a SQL user writes first — truncated day rendered via
    //      CAST (both engines print 'yyyy-MM-dd HH:mm:ss'), grouped in
    //      a derived table ----
    "q213_sql_date_trunc" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT day, event_type, COUNT() AS n,
          |  round(SUM(value), 4) AS total
          |FROM (SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day,
          |        event_type, value
          |      FROM events) t
          |GROUP BY day, event_type""".stripMargin).df
        .select(F.col("day"), F.col("event_type"),
          F.col("n").cast("long").as("n"), F.col("total"))),

    // ---- statistical aggregates through the dialect: stddev/variance
    //      in sample and population forms plus exact interpolated
    //      median — grouped, rounded for a hash-stable float compare;
    //      DuckDB runs the identical text ----
    "q214_sql_stat_aggs" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus,
          |  round(stddev_samp(l_quantity), 4) AS sd_qty,
          |  round(stddev_pop(l_quantity), 4) AS sdp_qty,
          |  round(var_samp(l_discount), 6) AS var_disc,
          |  round(var_pop(l_discount), 6) AS varp_disc,
          |  round(median(l_quantity), 4) AS med_qty,
          |  COUNT() AS n
          |FROM lineitem
          |GROUP BY l_returnflag, l_linestatus""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- distribution window functions through the dialect: ntile
    //      octiles plus percent_rank/cume_dist, tie-broken to a total
    //      order so both engines assign identical tiles; aggregated per
    //      tile (the quantile-report shape a SQL user writes) ----
    "q215_sql_ntile" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT o_orderstatus, tile, COUNT() AS n,
          |  round(MIN(pr), 6) AS min_pr,
          |  round(MAX(cd), 6) AS max_cd,
          |  round(MIN(o_totalprice), 2) AS lo,
          |  round(MAX(o_totalprice), 2) AS hi
          |FROM (SELECT o_orderstatus, o_totalprice,
          |    ntile(8) OVER (PARTITION BY o_orderstatus
          |      ORDER BY o_totalprice, o_orderkey) AS tile,
          |    percent_rank() OVER (PARTITION BY o_orderstatus
          |      ORDER BY o_totalprice, o_orderkey) AS pr,
          |    cume_dist() OVER (PARTITION BY o_orderstatus
          |      ORDER BY o_totalprice, o_orderkey) AS cd
          |  FROM orders) t
          |GROUP BY o_orderstatus, tile""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- string_agg through the dialect: elements sorted by VALUE
    //      (deterministic under any partitioning — the oracle writes
    //      the ORDER BY explicitly), over a join so the grouped lists
    //      cross a shuffle boundary ----
    "q216_sql_string_agg" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT r_name, string_agg(n_name, ',') AS nations,
          |  COUNT() AS n
          |FROM nation JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- next-fit whole-document packing: fixed-token-budget bins
    //      that never split a document (the SFT/eval packing, vs
    //      q86's split-freely concat-chunk); md5-sharded so the
    //      sequential fold parallelizes per shard and the oracle
    //      replays the exact bin walk with a recursive CTE ----
    "q217_nextfit_pack" -> ((s, dir) =>
      Pack.nextFitPack(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(F.col("text")), budget = 256,
        numShards = 16)),

    // ---- STREAMING next-fit packing ingest: the q217 fold run
    //      incrementally — ascending doc_id-range files drained one
    //      per micro-batch (ascending mtimes; the file source goes
    //      oldest-first), per-shard (bin, acc) state carried across
    //      batches, so bins straddle batch boundaries from checkpoint
    //      state. Next-fit is order-defined, which is why the twin
    //      stages ranges instead of round-robin splits. Gate: equals
    //      the BATCH recursive-CTE oracle exactly ----
    "q218_stream_nextfit" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val staging = stagingDir("graft_stream_pack")
      val inDir = s"$staging/in"
      t(s, dir, "documents")
        .select(F.col("doc_id"),
          TextAnalysis.tokenCount(F.col("text")).cast("long").as("ntok"))
        .repartitionByRange(4, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(inDir)
      // strictly increasing mtimes: repartitionByRange puts ascending
      // ranges in ascending part indices, and the file source sorts by
      // modification time — together the drop-folder drains in id order
      new java.io.File(inDir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1600000000000L + i * 60000L); () }
      val raw = Streams.readParquetStream(s, inDir, maxFilesPerTrigger = 1)
      val packDocs = raw.select(
          (Dedup.md5Hash60(F.col("doc_id").cast("string")) % 16)
            .cast("int").as("shard"),
          F.col("doc_id"), F.col("ntok"))
        .as[graft.streaming.PackDoc]
      val q = Streams.toParquetSink(
          Streams.nextFitPackStream(packDocs, budget = 256).toDF(),
          s"$staging/out", s"$staging/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging/out")
        .select("doc_id", "shard", "bin", "ntok")
    }),

    // ---- GROUP BY ALL / ORDER BY ALL through the dialect: the
    //      non-aggregate select items become the keys, the output
    //      columns the sort — with LIMIT so the ordering is
    //      semantically observable, not just cosmetic ----
    "q220_sql_groupby_all" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus,
          |  round(SUM(l_quantity), 4) AS qty,
          |  COUNT() AS n
          |FROM lineitem
          |GROUP BY ALL
          |ORDER BY ALL
          |LIMIT 3""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- RANGE window frames through the dialect: value-distance
    //      frames along an integral sort key (tie-safe where ROWS is
    //      not: equal keys share a frame) — size-neighborhood density
    //      and a running value-bounded sum over the documents table ----
    "q221_sql_range_frame" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT doc_id, lang,
          |  COUNT() OVER (PARTITION BY lang ORDER BY n_chars
          |    RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING) AS near_sized,
          |  SUM(n_chars) OVER (PARTITION BY lang ORDER BY n_chars
          |    RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS chars_win
          |FROM documents""".stripMargin).df
        .withColumn("near_sized", F.col("near_sized").cast("long"))),

    // ---- ILIKE through the dialect: case-insensitive LIKE, desugared
    //      to lower() LIKE lower-pattern (the standard-engine
    //      definition); DuckDB runs its native ILIKE on the same
    //      mixed-case pattern ----
    "q222_sql_ilike" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c_custkey, c_name, c_mktsegment
          |FROM customer
          |WHERE c_mktsegment ILIKE 'bUiLd%'
          |  AND c_name NOT ILIKE '%00001%'""".stripMargin).df),

    // ---- DISTINCT ON through the dialect: the keep-one-row-per-key
    //      idiom (largest document per source) — planned as a hidden
    //      row_number window + filter, with the mandatory tie-break
    //      that keeps "first" deterministic ----
    "q225_sql_distinct_on" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT DISTINCT ON (source) source, doc_id, n_chars
          |FROM documents
          |ORDER BY source, n_chars DESC, doc_id""".stripMargin).df),

    // ---- DELETE through the dialect: copy-on-write against a
    //      Versioned dataset — a new version holds the survivors,
    //      prior snapshots stay time-travelable; then VACUUM KEEP 1
    //      garbage-collects the history and the head must STILL serve
    //      exactly the undeleted rows (vacuum cannot touch referenced
    //      segments) ----
    "q237_sql_delete" -> ((s, dir) => {
      val path = stagingDir("graft_sql_delete") + "/ds"
      Versioned.commit(t(s, dir, "documents").select("doc_id", "lang"), path)
      val eng = Engine(s, dir)
      eng.sql(s"DELETE FROM '$path' WHERE lang != 'en'")
      eng.sql(s"VACUUM '$path' KEEP 1")
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path'
           |GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- FROM-less SELECT (the shell's calculator surface): constant
    //      expressions evaluate against a synthetic one-row relation;
    //      scalar functions, CASE and coercions all compose ----
    "q255_sql_select_noscan" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT 1 + 2 * 3 AS arith, lower('ABC') + 'd' AS text,
          |  CASE WHEN 2 > 1 THEN 'yes' ELSE 'no' END AS branch,
          |  round(abs(-2.5), 1) AS fn""".stripMargin).df),

    // ---- stored COUNT-MIN frequency sketches, sharded by source then
    //      merged (the point-frequency member of the sketch family):
    //      the gate checks the CLASSIC guarantee per probe token — the
    //      merged estimate never undercounts, and overcounts by at most
    //      eps*N — as fixed booleans (the sketch is seeded, so the
    //      flags are deterministic; the q43/q138 bound-flag pattern),
    //      with exact counts recomputed on both sides ----
    "q254_cms_frequency" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = stagingDir("graft_cms") + "/sketches"
      // ONE eps binds the sketch AND the bound check — a default-value
      // drift in Scale could otherwise silently flip the gate's flags
      val eps = 0.0001
      Scale.writeCmsSketches(docs, "text", "source", path, eps = eps)
      val probes = Seq("spark", "window", "join", "data", "quality",
        "zzz_never_present")
      val est = Scale.cmsTokenEstimates(s, path, probes)
      val exact = docs.select(
          F.explode(TextAnalysis.tokens(F.col("text"))).as("token"))
        .groupBy("token").agg(F.count(F.lit(1)).as("n_exact"))
      est.join(exact, Seq("token"), "left").na.fill(0L, Seq("n_exact"))
        .select(F.col("token"), F.col("n_exact"),
          (F.col("est") >= F.col("n_exact")).as("est_ge_exact"),
          (F.col("est") <= F.col("n_exact") +
            F.ceil(F.col("total") * eps)).as("est_in_bound"))
    }),

    // ---- CMS sketch-store COMPACTION (round-8 verdict ask #3): four
    //      per-batch shard segments merge DISTRIBUTED (executors
    //      tree-reduce the fixed-size tables; the driver deserializes
    //      ONE blob, never O(shards)) into a single segment. CMS tables
    //      add cell-wise, so every point estimate must be IDENTICAL
    //      before and after — gated per probe via est_same alongside
    //      the q254 bound flags, for both phases ----
    "q256_cms_compaction" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val store = stagingDir("graft_cms_compact") + "/store"
      val eps = 0.0001
      (0 until 4).foreach { i =>
        Scale.writeCmsSketches(docs.filter(F.col("doc_id") % 4 === i),
          "text", "source", s"$store/shard-$i", eps = eps)
      }
      val probes = Seq("spark", "window", "join", "data", "quality",
        "zzz_never_present")
      // materialize the pre-compaction estimates NOW — the store
      // mutates underneath a lazy plan otherwise
      val bEst = Scale.cmsTokenEstimates(s, s"$store/shard-*", probes)
        .localCheckpoint(true)
      Scale.compactCmsSketches(s, store)
      val segs = Option(new java.io.File(store).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("shard-"))
      require(segs == 1, s"CMS compaction left $segs segments, expected 1")
      val aEst = Scale.cmsTokenEstimates(s, s"$store/shard-*", probes)
      val exact = docs.select(
          F.explode(TextAnalysis.tokens(F.col("text"))).as("token"))
        .groupBy("token").agg(F.count(F.lit(1)).as("n_exact"))
      val same = bEst.select(F.col("token"), F.col("est").as("est_b"))
        .join(aEst.select(F.col("token"), F.col("est").as("est_a")), "token")
        .select(F.col("token"),
          (F.col("est_b") === F.col("est_a")).as("est_same"))
      def phaseFlags(e: org.apache.spark.sql.DataFrame, name: String) =
        e.join(exact, Seq("token"), "left").na.fill(0L, Seq("n_exact"))
          .join(same, "token")
          .select(F.col("token"), F.lit(name).as("phase"), F.col("n_exact"),
            (F.col("est") >= F.col("n_exact")).as("est_ge_exact"),
            (F.col("est") <= F.col("n_exact") +
              F.ceil(F.col("total") * eps)).as("est_in_bound"),
            F.col("est_same"))
      phaseFlags(bEst, "before").unionAll(phaseFlags(aEst, "after"))
    }),

    // ---- WITH RECURSIVE through the dialect: semi-naive fixpoint
    //      iteration (base + UNION term over the previous iteration's
    //      rows, per-iteration checkpointed deltas) — the oracle is the
    //      IDENTICAL statement run by DuckDB's native recursive CTE
    //      machinery, so base/working/dedup semantics must agree step
    //      for step. The closure walks doc_id += 7 from 0 up to 400
    //      (58 reachable nodes) ----
    "q253_sql_recursive_cte" -> ((s, dir) =>
      Engine(s, dir).sql(
        """WITH RECURSIVE r AS (
          |  SELECT doc_id FROM documents WHERE doc_id = 0
          |  UNION
          |  SELECT d.doc_id FROM documents d
          |  JOIN r ON d.doc_id = r.doc_id + 7
          |  WHERE d.doc_id < 400
          |)
          |SELECT COUNT() AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
          |  CAST(MAX(doc_id) AS BIGINT) AS max_id
          |FROM r""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- OPTIMIZE through the dialect (the lakehouse statement):
    //      three per-batch segments compact into ONE fresh segment as a
    //      new version — content must be IDENTICAL before/after (both
    //      gated rows are the same full aggregate: head post-compaction
    //      and the pre-compaction version via time travel), the head's
    //      manifest shrinks to one segment, history stays readable ----
    // ---- FOR TIMESTAMP AS OF (timestamp time travel): two commits
    //      with separated manifest mtimes; querying AT the first
    //      commit's instant must serve exactly the v1 snapshot — the
    //      oracle replays v1's residue filter over the source ----
    "q282_timestamp_travel" -> ((s, dir) => {
      val path = stagingDir("graft_tstravel") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 0), path)
      Thread.sleep(30)
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 1), path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val t1 = fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$path/manifest", "v-000000001.txt")).getModificationTime
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(t1))
      Engine(s, dir).sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path' FOR TIMESTAMP AS OF '$ts'
           |GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- OPTIMIZE ... ZORDER BY (the multi-dimensional clustering
    //      statement): rewrite the head along a Morton curve over two
    //      columns so row-group min/max stats prune filters on EITHER
    //      of them (a linear sort serves only its leading column); the
    //      gate proves the rewrite is content-exact by replaying a
    //      selective filter on the SECOND clustered column through the
    //      re-clustered head — layout/pruning evidence is pinned in
    //      EngineSpec's row-group accounting and the bench pair ----
    "q277_zorder_optimize" -> ((s, dir) => {
      val path = stagingDir("graft_zorder") + "/ds"
      val base = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_linestatus")
      (0 until 2).foreach(i =>
        Versioned.commit(base.filter(F.col("l_orderkey") % 2 === i), path))
      val eng = Engine(s, dir)
      val opt = eng.sql(s"OPTIMIZE '$path' ZORDER BY (l_partkey, l_quantity)")
        .df.collect().head
      require(opt.getLong(0) == 3L && opt.getLong(1) == 2L,
        s"unexpected OPTIMIZE ZORDER result: $opt")
      require(Versioned.segmentCount(s, path) == 1,
        "OPTIMIZE ZORDER left more than one head segment")
      eng.sql(
        s"""SELECT l_linestatus, COUNT() AS n,
           |  CAST(SUM(l_orderkey) AS BIGINT) AS id_sum
           |FROM '$path'
           |WHERE l_quantity >= 10 AND l_quantity < 20
           |GROUP BY l_linestatus""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    "q252_sql_optimize" -> ((s, dir) => {
      val path = stagingDir("graft_optimize") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      (0 until 3).foreach(i =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === i), path))
      val eng = Engine(s, dir)
      val opt = eng.sql(s"OPTIMIZE '$path'").df.collect().head
      require(opt.getLong(0) == 4L && opt.getLong(1) == 3L,
        s"unexpected OPTIMIZE result: $opt")
      require(Versioned.segmentCount(s, path) == 1,
        "OPTIMIZE left more than one head segment")
      eng.sql(
        s"""SELECT COUNT() AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path'
           |UNION ALL
           |SELECT COUNT() AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path' FOR VERSION AS OF 3""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- INCREMENTAL consumption of a versioned dataset (the CDC
    //      primitive): changes(from, to) reads exactly the segments
    //      ADDED in that version range — manifest set-difference, no
    //      data comparison — so a consumer polls versions() and
    //      processes only what is new; the oracle replays both ranges
    //      as filters over the source ----
    "q247_versioned_changes" -> ((s, dir) => {
      val path = stagingDir("graft_vchanges") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 0), path)
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 1), path)
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 2), path)
      def stat(df: DataFrame, tag: String) =
        df.agg(F.count(F.lit(1)).as("n"),
            F.sum("doc_id").cast("long").as("id_sum"))
          .withColumn("delta", F.lit(tag))
      stat(Versioned.changes(s, path, fromVersion = 1), "v1_to_head")
        .unionAll(stat(Versioned.changes(s, path, 0, Some(2L)), "v0_to_v2"))
    }),

    // ---- STREAMING READS of a Versioned dataset (the table-as-a-
    //      stream direction; versionedSink is the write side): offsets
    //      are MANIFEST VERSIONS, each micro-batch is changes() over a
    //      committed version range resolved through manifests only —
    //      two AvailableNow drains against one checkpoint must emit
    //      v1+v2 once, then exactly the post-drain commit's delta; a
    //      broken cursor double-emits and fails the count/sum hash ----
    "q290_versioned_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging0 = stagingDir("graft_vstream_gate")
      val ds = s"$staging0/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      Versioned.commit(base.filter(F.col("doc_id") < 150), ds)
      Versioned.commit(
        base.filter(F.col("doc_id") >= 150 && F.col("doc_id") < 300), ds)
      def drain(): Unit = {
        val q = s.readStream
          .format(classOf[graft.streaming.VersionedStreamProvider].getName)
          .option("path", ds).load()
          .writeStream.format("parquet")
          .option("path", s"$staging0/out")
          .option("checkpointLocation", s"$staging0/chk")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      drain() // v1+v2
      Versioned.commit(
        base.filter(F.col("doc_id") >= 300 && F.col("doc_id") < 450), ds)
      drain() // exactly the v3 delta (cursor from the checkpoint)
      s.read.parquet(s"$staging0/out")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("doc_id").cast("long").as("id_sum"))
    }),

    // ---- the CDC pair through the DIALECT (the FOR-clause extension
    //      beside VERSION/TIMESTAMP AS OF): FOR CHANGES FROM v TO v /
    //      FOR REMOVALS FROM v TO v compose with the full SELECT
    //      grammar; a selective DELETE's delta = survivor segment on
    //      the add side, the whole old segment on the removal side ----
    "q291_sql_cdc" -> ((s, dir) => {
      val path = stagingDir("graft_sqlcdc") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      Versioned.commit(base.filter(F.col("doc_id") < 200), path)
      Versioned.commit(
        base.filter(F.col("doc_id") >= 200 && F.col("doc_id") < 400), path)
      val eng = Engine(s, dir)
      eng.sql(s"DELETE FROM '$path' WHERE doc_id >= 300") // v3: seg-2 rewrite
      eng.sql(
        s"""SELECT 'added' AS delta, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path' FOR CHANGES FROM 2 TO 3
           |UNION ALL
           |SELECT 'removed' AS delta, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path' FOR REMOVALS FROM 2 TO 3""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- CDC REMOVAL SIDE (round-10 ADVICE): a pruned DELETE that
    //      empties its whole segment has an EMPTY changes() add-delta —
    //      previously indistinguishable from a no-op; removals() must
    //      surface exactly the dropped rows, and a PARTIAL rewrite must
    //      show old-segment rows on the removal side with survivors
    //      re-arriving through changes() (retract-then-upsert) ----
    "q289_versioned_removals" -> ((s, dir) => {
      val path = stagingDir("graft_vremovals") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      Versioned.commit(base.filter(F.col("doc_id") < 200), path)
      Versioned.commit(
        base.filter(F.col("doc_id") >= 200 && F.col("doc_id") < 400), path)
      val eng = Engine(s, dir)
      // v3: empties the second segment entirely (no fresh segment)
      eng.sql(s"DELETE FROM '$path' WHERE doc_id >= 200 AND doc_id < 400")
      // v4: partial delete — the first segment rewrites
      eng.sql(s"DELETE FROM '$path' WHERE doc_id = 100")
      def stat(df: DataFrame, tag: String) =
        df.agg(F.count(F.lit(1)).as("n"),
            F.sum("doc_id").cast("long").as("id_sum"))
          .withColumn("delta", F.lit(tag))
      stat(Versioned.removals(s, path, 2, Some(3L)), "empty_seg_removed")
        .unionAll(stat(Versioned.changes(s, path, 2, Some(3L)),
          "empty_seg_added"))
        .unionAll(stat(Versioned.removals(s, path, 3, Some(4L)),
          "partial_seg_removed"))
        .unionAll(stat(Versioned.changes(s, path, 3, Some(4L)),
          "partial_seg_added"))
    }),

    // ---- SCHEMA EVOLUTION through the publishing layer: a widening
    //      INSERT adds a trailing column mid-dataset-life WITHOUT
    //      rewriting prior segments (at 100 TB that rewrite is the
    //      whole corpus); merged reads serve NULL for the new column on
    //      pre-widening rows, which COUNT(col) then skips — the oracle
    //      replays exactly that null pattern from the source ----
    "q246_schema_evolution" -> ((s, dir) => {
      val path = stagingDir("graft_evolution") + "/ds"
      val eng = Engine(s, dir)
      eng.sql(s"INSERT INTO '$path' SELECT doc_id, lang FROM documents " +
        "WHERE doc_id % 2 = 0")
      eng.sql(s"INSERT INTO '$path' SELECT doc_id, lang, n_chars " +
        "FROM documents WHERE doc_id % 2 = 1")
      eng.sql(
        s"""SELECT lang, COUNT() AS n, COUNT(n_chars) AS n_scored,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_scored", F.col("n_scored").cast("long"))
    }),

    // ---- WEB-CRAWL curation capstone, the third of the data-prep trio
    //      (SFT q224, pretraining q228): URL normalization → canonical-
    //      URL dedup (keep the lowest doc_id per canonical URL — the
    //      crawl re-fetch rule) → length-quality gate → per-source
    //      report. Each doc gets a deterministically messy URL (cased
    //      scheme, www, default port, tracking-only query, fragment)
    //      whose CANONICAL form collides across ~10 docs per (source,
    //      path) group — so the normalization chain IS the dedup key,
    //      and a single wrong rule changes the keep-set and fails the
    //      hash. The oracle states the canonical form analytically
    //      (the chain itself is gated in full by q201). ----
    "q251_webcrawl_prep" -> ((s, dir) => {
      val d = F.col("doc_id")
      val url = F.concat(
        F.when(d % 2 === 0, "HTTPS://").otherwise("https://"),
        F.when(d % 4 < 2, "WWW.").otherwise(F.lit("")),
        F.upper(F.col("source")), F.lit(".Example.COM"),
        F.when(d % 3 === 0, ":443").otherwise(F.lit("")),
        F.lit("/page/"), (d % 97).cast("string"),
        F.when(d % 3 === 0, F.lit("?utm_medium=em"))
          .when(d % 3 === 1, F.concat(F.lit("?fbclid="), d.cast("string")))
          .otherwise(F.concat(F.lit("?utm_source=feed&gclid="),
            d.cast("string"))),
        F.when(d % 5 === 0, "#top").otherwise(F.lit("")))
      val withUrl = t(s, dir, "documents").select(
        d.as("doc_id"), F.col("source"), F.col("n_chars"),
        Web.normalizeUrl(url).as("norm_url"))
      val keep = withUrl.groupBy("norm_url").agg(F.min("doc_id").as("doc_id"))
      val kept = withUrl.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
        .filter(F.col("n_chars") >= 120 && F.col("n_chars") <= 1800)
      withUrl.groupBy("source").agg(
          F.count(F.lit(1)).as("n_docs"),
          F.countDistinct("norm_url").as("n_urls"))
        .join(kept.groupBy("source").agg(
            F.count(F.lit(1)).as("n_kept"),
            F.sum("n_chars").cast("long").as("chars_kept")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_kept", "chars_kept"))
    }),

    // ---- COPY TO export: task-parallel JSONL export of a query result
    //      (the trainer-facing corpus interchange format), proven by a
    //      full read-back round trip — the gate aggregates what was
    //      exported, the oracle aggregates the source ----
    // ---- FULL-DUPLEX Avro interchange from the dialect: COPY exports
    //      task-parallel OCF shards (extension-inferred format), and
    //      the SAME statement surface reads them back via FROM-by-
    //      extension — export and re-ingest both oracle-replayed ----
    "q281_sql_copy_avro" -> ((s, dir) => {
      val path = stagingDir("graft_copy_avro") + "/export.avro"
      val eng = Engine(s, dir)
      val copied = eng.sql(s"COPY (SELECT doc_id, lang, n_chars " +
        s"FROM documents WHERE doc_id < 300) TO '$path'").df.collect().head
      require(copied.getLong(0) > 0L, s"empty Avro COPY: $copied")
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- Avro TIMESTAMP round-trip (round-10 verdict ask #2): COPY a
    //      timestamp-bearing projection to OCF through the dialect
    //      (TimestampType -> long + timestamp-micros logical type), read
    //      it back through the Avro source, and compare every instant at
    //      MICROSECOND precision against the origin table — epoch_us on
    //      both sides so the gate is exact, not stringification-fuzzy ----
    "q286_avro_ts_roundtrip" -> ((s, dir) => {
      val path = stagingDir("graft_copy_avro_ts") + "/events_ts.avro"
      val eng = Engine(s, dir)
      val copied = eng.sql(s"COPY (SELECT event_id, ts, value FROM events " +
        s"WHERE event_id % 17 = 0) TO '$path'").df.collect().head
      require(copied.getLong(0) > 0L, s"empty Avro timestamp COPY: $copied")
      graft.sources.Avro.read(s, s"$path/*.avro").select(
        F.col("event_id"),
        // session TZ is UTC, so the NTZ->instant cast is the identity
        // wall-clock mapping epoch_us applies on the oracle side
        F.unix_micros(F.col("ts").cast("timestamp")).as("ts_us"),
        F.round(F.col("value"), 4).as("value"))
    }),

    "q250_sql_copy_jsonl" -> ((s, dir) => {
      val path = stagingDir("graft_copy") + "/export.jsonl"
      Engine(s, dir).sql(s"COPY (SELECT doc_id, lang, n_chars " +
        s"FROM documents WHERE doc_id < 300) TO '$path' FORMAT jsonl")
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      Tables.readJsonl(s, path, StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("n_chars", LongType))))
        .groupBy("lang").agg(F.count(F.lit(1)).as("n"),
          F.sum("n_chars").cast("long").as("chars"))
    }),

    // ---- token-distribution DRIFT between two corpus snapshots: the
    //      ship/no-ship observability report — top movers by per-token
    //      KL contribution under joint-vocab add-one smoothing; the
    //      oracle replays counts, smoothing, the pre-rounded ln and the
    //      tie-broken top-k ----
    "q249_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.tokenDrift(
        docs.filter(F.col("doc_id") % 2 === 0),
        docs.filter(F.col("doc_id") % 2 === 1),
        "text", k = 25)
    }),

    // ---- SUMMARIZE through the dialect (the DuckDB statement): exact
    //      per-column dataset-card stats in ONE aggregation pass —
    //      non-null/null/distinct counts + stringified min/max; the
    //      oracle recomputes every number per column ----
    "q248_sql_summarize" -> ((s, dir) =>
      Engine(s, dir).sql("SUMMARIZE documents").df),

    // ---- DESCRIBE through the dialect: one row per column with Spark
    //      DDL types — the schema-inspection surface; planning-only
    //      (footers, never data); oracle = the known schema as literal
    //      rows, so a type-mapping drift fails the hash ----
    "q244_sql_describe" -> ((s, dir) =>
      Engine(s, dir).sql("DESCRIBE documents").df),

    // ---- SHOW TABLES: the minimal catalog surface over the
    //      directory-of-files layout (name + format per table) ----
    "q245_sql_show_tables" -> ((s, dir) =>
      Engine(s, dir).sql("SHOW TABLES").df),

    // ---- STREAMING versioned ingest: each micro-batch of a 4-file
    //      drain commits as one atomic snapshot version (the publishing
    //      layer's streaming twin — q192's per-batch-shard pattern
    //      applied to Versioned.commit), so the drained head must equal
    //      the batch union and the version count the batch count ----
    "q243_stream_versioned" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging0 = stagingDir("graft_stream_versioned")
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging0,
        splitFiles = 4)
      val q = Streams.versionedSink(stream.select("doc_id", "lang"),
          s"$staging0/ds", s"$staging0/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val nVersions = Versioned.versions(s, s"$staging0/ds").length
      Versioned.read(s, s"$staging0/ds")
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.sum("doc_id").cast("long").as("id_sum"))
        .withColumn("n_versions", F.lit(nVersions.toLong))
    }),

    // ---- UPDATE through the dialect: copy-on-write column rewrite
    //      completing the DML triad — matched rows (predicate TRUE
    //      only) carry the SET expressions, everything else unchanged,
    //      committed as a new version while v1 stays time-travelable;
    //      the oracle replays the rewrite as CASE over the source and
    //      the v1 read as the untouched source ----
    "q242_sql_update" -> ((s, dir) => {
      val path = stagingDir("graft_sql_update") + "/ds"
      Versioned.commit(
        t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
        path)
      val eng = Engine(s, dir)
      eng.sql(s"UPDATE '$path' SET lang = 'und', " +
        "n_chars = n_chars * 2 WHERE source = 'src7' AND n_chars < 400")
      eng.sql(
        s"""SELECT lang, COUNT() AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang
           |UNION ALL
           |SELECT 'v1:' + lang AS lang, n, chars FROM (
           |  SELECT lang, COUNT() AS n,
           |    CAST(SUM(n_chars) AS BIGINT) AS chars
           |  FROM '$path' FOR VERSION AS OF 1 GROUP BY lang) v1""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- session views through the dialect: CREATE VIEW bodies are
    //      re-planned at every use, so redefining a base view changes
    //      what a DEPENDENT view serves — the gate queries through two
    //      view layers after a CREATE OR REPLACE of the bottom one,
    //      and the oracle replays only the FINAL definition ----
    "q265_sql_views" -> ((s, dir) => {
      val eng = Engine(s, dir)
      eng.sql("CREATE VIEW webdocs AS SELECT doc_id, lang, n_chars " +
        "FROM documents WHERE source = 'src7' OR source = 'src3'")
      eng.sql("CREATE VIEW webstats AS SELECT lang, COUNT() AS n, " +
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM webdocs GROUP BY lang")
      // redefine the BASE view: the dependent must track it
      eng.sql("CREATE OR REPLACE VIEW webdocs AS SELECT doc_id, lang, " +
        "n_chars FROM documents WHERE (source = 'src7' OR source = 'src3') " +
        "AND n_chars >= 300")
      eng.sql("SELECT lang, n, chars FROM webstats").df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- MERGE INTO through the dialect (the lakehouse upsert,
    //      completing the DML surface past the INSERT/UPDATE/DELETE
    //      triad): one atomic copy-on-write commit updates every
    //      matched target row AND inserts every unmatched source row —
    //      target = documents without the doc_id%3=0 third, source =
    //      the even-id half, so all three row fates (updated, inserted,
    //      untouched) appear; the oracle replays the merge as
    //      CASE + UNION arithmetic over the base table ----
    "q260_sql_merge" -> ((s, dir) => {
      val path = stagingDir("graft_sql_merge") + "/ds"
      Versioned.commit(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars")
          .filter(F.col("doc_id") % 3 =!= 0), path)
      val eng = Engine(s, dir)
      eng.sql(
        s"""MERGE INTO '$path' t
           |USING (SELECT doc_id, lang, n_chars FROM documents
           |       WHERE doc_id % 2 = 0) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET lang = 'upd',
           |  n_chars = t.n_chars + 1
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (s.doc_id, 'new', s.n_chars)""".stripMargin)
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- SEGMENT-PRUNED DML (round-9 verdict ask #2): the triad
    //      rewrites ONLY segments containing matched rows; untouched
    //      segments carry into the new manifest BY REFERENCE. Each gate
    //      seeds THREE segments split by doc_id % 3, runs a statement
    //      matching exactly one residue class, and emits n_carried =
    //      |old manifest ∩ new manifest| alongside the content
    //      aggregate — the oracle pins BOTH the post-DML content and
    //      the two-of-three carry count, so a regression to full
    //      rewrites (n_carried = 0) fails the gate, not just a spec ----
    "q283_sql_merge_pruned" -> ((s, dir) => {
      val path = stagingDir("graft_merge_prune") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val before = Versioned.headSegments(s, path).toSet
      val eng = Engine(s, dir)
      eng.sql(
        s"""MERGE INTO '$path' t
           |USING (SELECT doc_id, n_chars FROM documents
           |       WHERE doc_id % 3 = 1 AND doc_id % 5 = 0) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET lang = 'upd',
           |  n_chars = s.n_chars + 10""".stripMargin)
      val carried =
        before.intersect(Versioned.headSegments(s, path).toSet).size
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_carried", F.lit(carried.toLong))
    }),

    // ---- MULTI-CLAUSE conditional MERGE (standard first-match-wins):
    //      three WHEN MATCHED clauses — a conditioned DELETE, a
    //      conditioned UPDATE, an unconditioned catch-all UPDATE — plus
    //      a conditioned WHEN NOT MATCHED INSERT; the oracle replays
    //      the clause cascade as a CASE ladder and pins the status
    //      row's per-clause-kind counts AND the carried-segment count
    //      (only the matched third rewrites) in the hash ----
    "q293_sql_merge_multi" -> ((s, dir) => {
      val path = stagingDir("graft_merge_multi") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val before = Versioned.headSegments(s, path).toSet
      val eng = Engine(s, dir)
      val st = eng.sql(
        s"""MERGE INTO '$path' t
           |USING (SELECT doc_id, n_chars FROM documents
           |         WHERE doc_id % 3 = 1
           |       UNION ALL
           |       SELECT doc_id + 1000000 AS doc_id, n_chars
           |         FROM documents WHERE doc_id % 100 = 0) s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.n_chars % 2 = 0 THEN DELETE
           |WHEN MATCHED AND s.doc_id % 5 = 0 THEN UPDATE SET lang = 'five'
           |WHEN MATCHED THEN UPDATE SET lang = 'odd',
           |  n_chars = s.n_chars + 7
           |WHEN NOT MATCHED AND s.n_chars >= 200 THEN
           |  INSERT (doc_id, lang, n_chars)
           |  VALUES (s.doc_id, 'new', s.n_chars)""".stripMargin)
        .df.collect().head
      val carried =
        before.intersect(Versioned.headSegments(s, path).toSet).size
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_updated", F.lit(st.getLong(1)))
        .withColumn("n_deleted", F.lit(st.getLong(2)))
        .withColumn("n_inserted", F.lit(st.getLong(3)))
        .withColumn("n_carried", F.lit(carried.toLong))
    }),

    "q284_sql_update_pruned" -> ((s, dir) => {
      val path = stagingDir("graft_update_prune") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val before = Versioned.headSegments(s, path).toSet
      val eng = Engine(s, dir)
      eng.sql(s"UPDATE '$path' SET lang = 'upd', n_chars = n_chars + 5 " +
        "WHERE doc_id % 3 = 2 AND doc_id % 7 = 0")
      val carried =
        before.intersect(Versioned.headSegments(s, path).toSet).size
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_carried", F.lit(carried.toLong))
    }),

    "q285_sql_delete_pruned" -> ((s, dir) => {
      val path = stagingDir("graft_delete_prune") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val before = Versioned.headSegments(s, path).toSet
      val eng = Engine(s, dir)
      eng.sql(s"DELETE FROM '$path' " +
        "WHERE doc_id % 3 = 0 AND doc_id % 11 = 0")
      val carried =
        before.intersect(Versioned.headSegments(s, path).toSet).size
      eng.sql(
        s"""SELECT COUNT() AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path'""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_carried", F.lit(carried.toLong))
    }),

    // ---- MANIFEST-LEVEL DATA SKIPPING (the Delta/Iceberg file-stats
    //      model on Versioned snapshots): each commit's segment gets a
    //      footer-derived stats sidecar, and a filtered read's custom
    //      FileIndex drops segments whose [min,max] cannot satisfy the
    //      pushed predicate BEFORE any footer I/O. Each gate commits
    //      range/category-bucketed segments, pins the PLANNED segment
    //      count (Versioned.pruneCount) inside the oracle hash — a
    //      regression that stops writing or consulting sidecars
    //      inflates n_read back to n_segments and fails the gate — and
    //      runs the filtered aggregate through the skipping read path
    //      so pruning can never cost a row ----
    "q294_skipping_range" -> ((s, dir) => {
      val path = stagingDir("graft_skip_range") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "n_chars")
      val buckets = base.select(F.floor(F.col("doc_id") / 100).as("b"))
        .distinct().orderBy("b").collect().map(_.getLong(0))
      buckets.foreach(b => Versioned.commit(
        base.filter(F.floor(F.col("doc_id") / 100) === b), path))
      val pred = F.col("doc_id").between(120, 310)
      val (total, kept) = Versioned.pruneCount(s, path, pred)
      Versioned.read(s, path).where(pred)
        .agg(F.count("*").as("n_rows"),
          F.sum("n_chars").as("chars"))
        .withColumn("n_segments", F.lit(total.toLong))
        .withColumn("n_read", F.lit(kept.toLong))
    }),

    // evolution semantics: a column ABSENT from a segment's own schema
    // is a sharp all-NULL statistic — `lang = 'en'` skips the
    // pre-evolution segment outright, `lang IS NULL` keeps ONLY it
    // (the evolved segment is null-free and skips on its null count)
    "q295_skipping_evolution" -> ((s, dir) => {
      val path = stagingDir("graft_skip_evo") + "/ds"
      val base = t(s, dir, "documents")
      Versioned.commit(base.filter(F.col("doc_id") < 250)
        .select("doc_id", "n_chars"), path)
      Versioned.commit(base.filter(F.col("doc_id") >= 250)
        .select("doc_id", "n_chars", "lang"), path)
      val (total, kEq) = Versioned.pruneCount(s, path,
        F.col("lang") === "en")
      val (_, kNull) = Versioned.pruneCount(s, path, F.col("lang").isNull)
      val df = Versioned.read(s, path)
      df.agg(
          F.count(F.when(F.col("lang") === "en", 1)).as("n_en"),
          F.count(F.when(F.col("lang").isNull, 1)).as("n_null"))
        .withColumn("n_segments", F.lit(total.toLong))
        .withColumn("k_eq", F.lit(kEq.toLong))
        .withColumn("k_null", F.lit(kNull.toLong))
    }),

    // string bounds: parquet binary min/max compare in UTF-8 byte
    // order — equality hits exactly the owning segment, a prefix
    // predicate keeps every segment whose truncated bounds admit it
    "q296_skipping_source" -> ((s, dir) => {
      val path = stagingDir("graft_skip_src") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val srcs = base.select("source").distinct().orderBy("source")
        .collect().map(_.getString(0))
      srcs.foreach(v => Versioned.commit(
        base.filter(F.col("source") === v), path))
      val (total, kEq) = Versioned.pruneCount(s, path,
        F.col("source") === "src5")
      val (_, kPre) = Versioned.pruneCount(s, path,
        F.col("source").startsWith("src1"))
      Versioned.read(s, path).where(F.col("source") === "src5")
        .agg(F.count("*").as("n_rows"),
          F.sum("n_chars").as("chars"))
        .withColumn("n_segments", F.lit(total.toLong))
        .withColumn("k_eq", F.lit(kEq.toLong))
        .withColumn("k_pre", F.lit(kPre.toLong))
    }),

    // timestamp bounds: pinned to the session's TIMESTAMP_MICROS
    // writer default — legacy INT96 carries NO statistics, so a
    // regression to it reads every year back (n_read = n_segments)
    // and fails here, not just in a benchmark
    "q297_skipping_time" -> ((s, dir) => {
      val path = stagingDir("graft_skip_time") + "/ds"
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate")
      val years = base.select(F.year(F.col("o_orderdate")).as("y"))
        .distinct().orderBy("y").collect().map(_.getInt(0))
      // the segments MUST carry micros statistics (INT96 has none) —
      // production sessions default to TIMESTAMP_MICROS
      // (GraftSession); Verify's dump session pins INT96 for its
      // comparator, so this gate asserts the production writer conf
      // around its own build
      val prevTs = s.conf.get("spark.sql.parquet.outputTimestampType")
      s.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      try years.foreach(y => Versioned.commit(
        base.filter(F.year(F.col("o_orderdate")) === y), path))
      finally s.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
      val cut = F.to_timestamp(F.lit("1999-07-01 00:00:00"))
      val pred = F.col("o_orderdate") >= cut
      val (total, kept) = Versioned.pruneCount(s, path, pred)
      Versioned.read(s, path).where(pred)
        .agg(F.count("*").as("n_rows"),
          F.sum("o_orderkey").as("key_sum"))
        .withColumn("n_segments", F.lit(total.toLong))
        .withColumn("n_read", F.lit(kept.toLong))
    }),

    // ---- multi-segment ZORDER: OPTIMIZE ... SEGMENTS k splits the
    //      re-clustered table into k z-range segments, so manifest
    //      skipping (and DML pruning) engages on the clustered
    //      dimensions; the oracle pins content plus the structural
    //      claims that hold for any quantile split — all k segments
    //      committed, and a leading-dimension range predicate pruning
    //      at least one of them ----
    "q300_zorder_segments" -> ((s, dir) => {
      val path = stagingDir("graft_zseg") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "n_chars")
      Versioned.commit(base, path)
      Engine(s, dir).sql(
        s"OPTIMIZE '$path' ZORDER BY (doc_id, n_chars) SEGMENTS 4")
      val pred = F.col("doc_id").between(0, 99)
      val (total, kept) = Versioned.pruneCount(s, path, pred)
      Versioned.read(s, path).where(pred)
        .agg(F.count("*").as("n_rows"), F.sum("n_chars").as("chars"))
        .withColumn("n_segments", F.lit(total.toLong))
        .withColumn("skipped_some", F.lit(if (kept < total) 1L else 0L))
    }),

    // ---- DELETION VECTORS (merge-on-read DELETE): matched positions
    //      land in per-segment vectors, every segment carries
    //      byte-identical — n_carried = 3 of 3 rides the oracle hash,
    //      which is exactly what separates a vectored delete from the
    //      copy-on-write one (q285 pins 2 of 3 for the same shape);
    //      the status row's count and the post-delete content replay
    //      as plain filters ----
    "q302_dv_delete" -> ((s, dir) => {
      val path = stagingDir("graft_dv") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val before = Versioned.headSegments(s, path).toSet
      val eng = Engine(s, dir)
      val st = eng.sql(s"DELETE VECTORED FROM '$path' " +
        "WHERE doc_id % 3 = 1 AND doc_id % 7 = 0").df.collect().head
      val carried =
        before.intersect(Versioned.headSegments(s, path).toSet).size
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_carried", F.lit(carried.toLong))
        .withColumn("n_rows_status", F.lit(st.getLong(1)))
    }),

    // vectors union across statements, time travel replays each
    // vectored snapshot, and plain OPTIMIZE materializes them (the
    // folded head carries NO vector — n_dv_head = 0 in the hash)
    "q303_dv_union_travel" -> ((s, dir) => {
      val path = stagingDir("graft_dv_u") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 2 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"DELETE VECTORED FROM '$path' WHERE doc_id % 10 = 3")
      val v3 = Versioned.versions(s, path).last
      eng.sql(s"DELETE VECTORED FROM '$path' WHERE doc_id % 10 = 4")
      val v4 = Versioned.versions(s, path).last
      val n3 = Versioned.read(s, path, Some(v3)).count()
      val n4 = Versioned.read(s, path, Some(v4)).count()
      eng.sql(s"OPTIMIZE '$path'")
      val hv = Versioned.versions(s, path).last
      val nDv = Versioned.readDvMap(s, path, hv).size
      Versioned.read(s, path)
        .agg(F.count("*").as("n_head"),
          F.sum("n_chars").as("chars"))
        .withColumn("n_v3", F.lit(n3))
        .withColumn("n_v4", F.lit(n4))
        .withColumn("n_dv_head", F.lit(nDv.toLong))
    }),

    // vectored UPDATE: q283's exact update through merge-on-read —
    // same content oracle, but n_carried = 3 of 3 (every original
    // segment byte-identical; the updated copies ride one appended
    // segment) where the COW gate pins 2 of 3
    "q305_dv_update" -> ((s, dir) => {
      val path = stagingDir("graft_dv_upd") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val before = Versioned.headSegments(s, path).toSet
      val eng = Engine(s, dir)
      val st = eng.sql(s"UPDATE VECTORED '$path' SET lang = 'upd', " +
        "n_chars = n_chars + 10 WHERE doc_id % 3 = 1 AND doc_id % 5 = 0")
        .df.collect().head
      val carried =
        before.intersect(Versioned.headSegments(s, path).toSet).size
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_carried", F.lit(carried.toLong))
        .withColumn("n_updated", F.lit(st.getLong(1)))
    }),

    // row-level CHANGE DATA FEED, COW lifecycle: appends synthesize
    // insert rows lazily from the segment delta (versions 1-2), a COW
    // UPDATE records preimage/postimage pairs (version 3), a COW
    // DELETE records delete rows (version 4) — the oracle replays the
    // whole feed with literal change types and commit versions
    "q306_change_feed" -> ((s, dir) => {
      val path = stagingDir("graft_cdf") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"UPDATE '$path' SET n_chars = n_chars + 7 " +
        "WHERE doc_id % 10 = 1")
      eng.sql(s"DELETE FROM '$path' WHERE doc_id % 10 = 2")
      eng.sql(
        s"""SELECT _change_type, _commit_version, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS ids,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' FOR CHANGE_FEED FROM 0
           |GROUP BY _change_type, _commit_version""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // the feed through MERGE-ON-READ DML: identical logical change
    // rows, but every base segment carries byte-identical (n_carried
    // pinned in the hash — a regression to rewrites breaks the gate)
    "q307_change_feed_dv" -> ((s, dir) => {
      val path = stagingDir("graft_cdf_dv") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val before = Versioned.headSegments(s, path).toSet
      val eng = Engine(s, dir)
      eng.sql(s"UPDATE VECTORED '$path' SET n_chars = n_chars + 7 " +
        "WHERE doc_id % 10 = 1")
      eng.sql(s"DELETE VECTORED FROM '$path' WHERE doc_id % 10 = 2")
      val after = Versioned.headSegments(s, path)
      val carried = before.intersect(after.toSet).size
      eng.sql(
        s"""SELECT _change_type, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS ids,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' FOR CHANGE_FEED FROM 2
           |GROUP BY _change_type""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_carried", F.lit(carried.toLong))
        .withColumn("n_segs_head", F.lit(after.size.toLong))
    }),

    // streaming CHANGE-FEED source: the same q306 lifecycle tailed
    // through a REAL micro-batched stream (readChangeFeed mode of the
    // graft-versioned source, AvailableNow) — offsets are manifest
    // versions, each batch carries that range's row-level changes;
    // the parquet sink's content hash must equal the q306 replay
    "q312_cdf_stream" -> ((s, dir) => {
      val root = stagingDir("graft_cdf_stream")
      val path = root + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"UPDATE '$path' SET n_chars = n_chars + 7 " +
        "WHERE doc_id % 10 = 1")
      eng.sql(s"DELETE VECTORED FROM '$path' WHERE doc_id % 10 = 2")
      val q = s.readStream.format("graft-versioned")
        .option("path", path).option("readChangeFeed", "true").load()
        .writeStream.format("parquet").option("path", root + "/out")
        .option("checkpointLocation", root + "/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(root + "/out")
        .groupBy("_change_type", "_commit_version")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("doc_id").cast("long").as("ids"),
          F.sum("n_chars").cast("long").as("chars"))
    }),

    // BOUNDED CATCH-UP (maxVersionsPerTrigger, Delta's
    // maxFilesPerTrigger analog): a 6-version backlog drained
    // AvailableNow with a 2-version cap must arrive as THREE
    // micro-batches whose version spans are pinned — foreachBatch
    // stamps each batch id onto its rows, so a source that collapses
    // the backlog into one batch (or mis-resumes the cursor) shifts
    // rows across batch ids and fails the hash. Real admission
    // control (SupportsAdmissionControl + SupportsTriggerAvailableNow,
    // the FileStreamSource hybrid): at 100 TB this is what keeps a
    // restart 10,000 versions behind from reading the backlog as one
    // executor-flattening batch
    // BYTES-bounded streaming admission (round 13): maxBytesPerTrigger
    // is a SOFT cap admitting at least one version per micro-batch, so
    // a 1-byte cap degenerates to exactly one version per batch —
    // deterministic and DuckDB-replayable (batch b = commit b+1 =
    // doc_ids [80b, 80b+80)), unlike a mid-range cap whose spans
    // depend on parquet's physical byte sizes (StreamingSpec pins that
    // case against the real on-disk sizes instead)
    "q319_vstream_bytes_bounded" -> ((s, dir) => {
      val root = stagingDir("graft_vstream_maxb")
      val ds = s"$root/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      (0 until 6).foreach { i =>
        Versioned.commit(base.filter(
          F.col("doc_id") >= i * 80 && F.col("doc_id") < (i + 1) * 80), ds)
      }
      val q = s.readStream.format("graft-versioned")
        .option("path", ds)
        .option("maxBytesPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", s"$root/chk")
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.withColumn("batch_id", F.lit(id))
            .write.mode("append").parquet(s"$root/out")
          (): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(s"$root/out")
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("doc_id").cast("long").as("id_sum"))
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    }),

    // WIDE-MANIFEST read path (round 13): 48 range segments sit past
    // VersionedFileIndex's distributed-open cutoff, so this read
    // resolves its schema from sidecars and lists every segment dir +
    // reads every stats sidecar in ONE distributed job (zero
    // per-segment driver round trips — the countfs spec pins that);
    // the gate pins CONTENT through that path and the data-skipping
    // accounting (the [100, 140) filter must plan exactly 4 of the 48
    // segments) — the 100k-segment manifest shape at probe scale.
    "q318_wide_manifest_read" -> ((s, dir) => {
      val path = stagingDir("graft_widemanifest") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .filter(F.col("doc_id") < 480)
      (0 until 48).foreach { i =>
        Versioned.commit(base.filter(
          F.col("doc_id") >= i * 10 && F.col("doc_id") < (i + 1) * 10), path)
      }
      val pred = F.col("doc_id") >= 100 && F.col("doc_id") < 140
      val (tot, kept) = Versioned.pruneCount(s, path, pred)
      Versioned.read(s, path).filter(pred)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("n_chars").cast("long").as("chars"),
          F.sum("doc_id").cast("long").as("ids"))
        .withColumn("segments_total", F.lit(tot.toLong))
        .withColumn("segments_read", F.lit(kept.toLong))
    }),

    "q317_vstream_bounded_catchup" -> ((s, dir) => {
      val root = stagingDir("graft_vstream_maxv")
      val ds = s"$root/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang")
      (0 until 6).foreach { i =>
        Versioned.commit(base.filter(
          F.col("doc_id") >= i * 80 && F.col("doc_id") < (i + 1) * 80), ds)
      }
      val q = s.readStream.format("graft-versioned")
        .option("path", ds)
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream.option("checkpointLocation", s"$root/chk")
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.withColumn("batch_id", F.lit(id))
            .write.mode("append").parquet(s"$root/out")
          (): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(s"$root/out")
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("doc_id").cast("long").as("id_sum"))
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    }),

    // change feed under SCHEMA EVOLUTION: a widening append adds a
    // column mid-history; synthesized inserts for pre-evolution
    // versions serve NULL for it, recorded delete rows align to the
    // head schema — the whole feed groups by the evolved column with
    // NULLs coalesced, replayed exactly in DuckDB
    "q316_cdf_evolution" -> ((s, dir) => {
      val path = stagingDir("graft_cdf_evo") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "n_chars")
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 0), path)
      Versioned.commit(
        base.filter(F.col("doc_id") % 3 === 1)
          .withColumn("lang", F.when(F.col("doc_id") % 2 === 0, "a")
            .otherwise("b")), path)
      val eng = Engine(s, dir)
      eng.sql(s"DELETE FROM '$path' WHERE doc_id % 10 = 3")
      eng.sql(
        s"""SELECT _change_type, _commit_version, lang2 AS lang,
           |  COUNT() AS n, CAST(SUM(doc_id) AS BIGINT) AS ids
           |FROM (SELECT _change_type, _commit_version, doc_id,
           |    CASE WHEN lang IS NULL THEN '-' ELSE lang END AS lang2
           |  FROM '$path' FOR CHANGE_FEED FROM 0) f
           |GROUP BY _change_type, _commit_version, lang2""".stripMargin)
        .df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // VACUUM DRY RUN: retention pre-flight — forecast what KEEP 1
    // would drop (versions, segments, bytes) with NOTHING touched;
    // the gate pins the forecast counts AND proves no deletion
    // happened (the v1 snapshot still reads, the forecast's positive
    // byte count rides as a flag)
    "q315_vacuum_dry" -> ((s, dir) => {
      val path = stagingDir("graft_vacdry") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"DELETE FROM '$path' WHERE doc_id % 3 = 0") // empties seg 1
      val dry = eng.sql(s"VACUUM '$path' KEEP 1 DRY RUN").df
        .collect().head
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' FOR VERSION AS OF 1 GROUP BY lang""".stripMargin)
        .df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("would_drop_versions", F.lit(dry.getLong(0)))
        .withColumn("would_delete_segments", F.lit(dry.getLong(1)))
        .withColumn("bytes_positive", F.lit(dry.getLong(4) > 0L))
        .withColumn("n_versions_after_dry",
          F.lit(Versioned.versions(s, path).size.toLong))
    }),

    // CHECK constraints: the storage-layer data-quality fence — ADD
    // validates existing rows, then every write path (append, INSERT,
    // DML rewrites) enforces it; violating statements reject loudly
    // and leave the head untouched. The gate pins the registered
    // constraint count, both rejection flags, and the (unchanged)
    // table content in one hash.
    "q314_check_constraints" -> ((s, dir) => {
      val path = stagingDir("graft_check") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"ALTER '$path' ADD CONSTRAINT chars_nonneg " +
        "CHECK (n_chars >= 0)")
      val insRejected = scala.util.Try(eng.sql(
        s"INSERT INTO '$path' VALUES (999999, 'xx', -1)")).isFailure
      val updRejected = scala.util.Try(eng.sql(
        s"UPDATE '$path' SET n_chars = 0 - n_chars " +
          "WHERE doc_id % 7 = 0")).isFailure
      val nCons = eng.sql(s"SHOW CONSTRAINTS '$path'").df.count()
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("ins_rejected", F.lit(insRejected))
        .withColumn("upd_rejected", F.lit(updRejected))
        .withColumn("n_constraints", F.lit(nCons))
    }),

    // CRASHED constraint drop: the audit commit lands, the constraint-
    // file rewrite does not (process death in dropConstraint's
    // documented crash window). The contract this gate makes oracle-
    // visible: (1) SHOW CONSTRAINTS marks the name `pending-drop` —
    // history and enforcement never disagree SILENTLY; (2) the window
    // is fail-SAFE — the constraint still fences writes; (3) a later
    // DDL COMPLETES the pending drop instead of copying the stale name
    // into a fresh file that would hide the marker.
    "q320_pending_constraint_drop" -> ((s, dir) => {
      val path = stagingDir("graft_pend") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 0), path)
      val eng = Engine(s, dir)
      eng.sql(s"ALTER '$path' ADD CONSTRAINT chars_nonneg " +
        "CHECK (n_chars >= 0)")
      // the crash: replicate dropConstraint's first half verbatim
      val hv = Versioned.versions(s, path).last
      Versioned.commitSegments(s, path,
        Versioned.headSegments(s, path, Some(hv)),
        Versioned.readDvMap(s, path, hv), expectedBase = Some(hv),
        op = "drop-constraint(chars_nonneg)"): Unit
      val shown = eng.sql(s"SHOW CONSTRAINTS '$path'").df.collect()
      val pendingShown = shown.length == 1 &&
        shown(0).getString(0) == "chars_nonneg" &&
        shown(0).getString(2) == "pending-drop"
      val stillFences = scala.util.Try(eng.sql(
        s"INSERT INTO '$path' VALUES (999999, 'xx', -1)")).isFailure
      eng.sql(s"ALTER '$path' ADD CONSTRAINT id_pos CHECK (doc_id >= 0)")
      val after = eng.sql(s"SHOW CONSTRAINTS '$path'").df.collect()
      val ddlCompletes = after.length == 1 &&
        after(0).getString(0) == "id_pos" &&
        after(0).getString(2) == "enforced"
      // the completed drop really lifted the fence
      eng.sql(s"INSERT INTO '$path' VALUES (999999, 'xx', -1)")
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("pending_shown", F.lit(pendingShown))
        .withColumn("still_fences", F.lit(stillFences))
        .withColumn("ddl_completes", F.lit(ddlCompletes))
    }),

    // DISTRIBUTED CLASSIFIER TRAINING: the learning half of q156's
    // linear scorer — a nearest-centroid (Rocchio) model over hashed
    // token counts is TRAINED on the corpus (one map-side-combined
    // aggregation: per-class count + per-dimension sums; driver state
    // = two 32-vectors) and then scores every document with the
    // learned integer MILLI-unit weights (1e3 scale — micro would
    // overflow int64 scores under ansi=false, see classifierTrain's
    // scaladoc). The label distills the
    // length-quality heuristic (tokens >= 60) — a target the feature
    // space provably encodes, so the gate checks real learning, and
    // the DuckDB oracle replays TRAINING (class sums -> rounded
    // milli-means -> w and midpoint threshold), not just scoring:
    // every published number is int64, bit-exact across engines.
    "q321_classifier_train" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("y",
        F.when(graft.operators.TextAnalysis
          .tokenCount(F.col("text")) >= 60, 1L).otherwise(-1L))
      val (w, thr) = graft.operators.TextAnalysis.classifierTrain(
        docs, "text", "y", dim = 32)
      graft.operators.TextAnalysis.classifierScore(
        docs, "text", "doc_id", "y", w.toSeq, thr)
    }),

    // CDC REPLICATION capstone: seed a replica from a snapshot, then
    // keep it in sync by TAILING the source's row-level change feed
    // through a real micro-batched stream and applying each batch with
    // the net-effect MERGE — append, COW update and vectored delete on
    // the source all land; the gate hashes the REPLICA's content
    // against the source lifecycle replayed in DuckDB
    "q313_cdc_replica" -> ((s, dir) => {
      val root = stagingDir("graft_replica")
      val src = root + "/src"
      val rep = root + "/rep"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 0), src)
      Versioned.commit(Versioned.read(s, src), rep) // snapshot seed
      val eng = Engine(s, dir)
      Versioned.commit(base.filter(F.col("doc_id") % 3 === 1), src)
      eng.sql(s"UPDATE '$src' SET n_chars = n_chars + 7 " +
        "WHERE doc_id % 10 = 1")
      eng.sql(s"DELETE VECTORED FROM '$src' WHERE doc_id % 10 = 2")
      val q = s.readStream.format("graft-versioned")
        .option("path", src).option("readChangeFeed", "true")
        .option("startingVersion", "1").load()
        .writeStream.option("checkpointLocation", root + "/chk")
        .foreachBatch(
          graft.streaming.Streams.applyChangesSink(rep, Seq("doc_id")))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$rep' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // RESTORE: the bad-pipeline-run escape hatch — a corrupting DELETE
    // is rolled back as a NEW commit referencing the old immutable
    // segments (zero bytes move at any table size); the bad version
    // stays readable for the post-mortem. Head content, both status
    // versions, and the still-readable bad snapshot's count are all
    // pinned in the hash.
    "q311_restore" -> ((s, dir) => {
      val path = stagingDir("graft_restore") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"DELETE FROM '$path' WHERE doc_id % 2 = 0") // the bad run
      val st = eng.sql(s"RESTORE '$path' TO VERSION 2").df.collect().head
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("head_version", F.lit(st.getLong(0)))
        .withColumn("restored_version", F.lit(st.getLong(1)))
        .withColumn("n_bad_snapshot",
          F.lit(Versioned.read(s, path, Some(3L)).count()))
    }),

    // operation audit trail: every commit records its operation name
    // as a manifest header line; DESCRIBE HISTORY surfaces the full
    // lifecycle — append → update → vectored delete → purge → zorder —
    // with per-version segment counts, all from manifests alone
    "q310_history_ops" -> ((s, dir) => {
      val path = stagingDir("graft_hist_ops") + "/ds"
      val eng = Engine(s, dir)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      Versioned.commit(docs.filter(F.col("doc_id") % 3 === 0), path)
      Versioned.commit(docs.filter(F.col("doc_id") % 3 === 1), path)
      eng.sql(s"UPDATE '$path' SET n_chars = n_chars + 1 " +
        "WHERE doc_id % 10 = 1")
      eng.sql(s"DELETE VECTORED FROM '$path' WHERE doc_id % 10 = 2")
      eng.sql(s"OPTIMIZE '$path' PURGE")
      eng.sql(s"OPTIMIZE '$path' ZORDER BY (doc_id, n_chars)")
      eng.sql(s"DESCRIBE HISTORY '$path'").df
        .select("version", "n_segments", "is_head", "operation",
          "change_rows")
    }),

    // OPTIMIZE PURGE: metadata-driven vector materialization — only
    // the segment whose deleted fraction clears the threshold
    // rewrites (in place), the others carry byte-identical; the purged
    // head serves the same rows with ZERO vectors left. Purge count,
    // carry count and remaining-vector count all pinned in the hash.
    "q309_dv_purge" -> ((s, dir) => {
      val path = stagingDir("graft_purge") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"DELETE VECTORED FROM '$path' " +
        "WHERE doc_id % 3 = 1 AND doc_id % 2 = 0")
      val before = Versioned.headSegments(s, path).toSet
      val st = eng.sql(s"OPTIMIZE '$path' PURGE THRESHOLD 0.3").df
        .collect().head
      val after = Versioned.headSegments(s, path)
      val carried = before.intersect(after.toSet).size
      val nDv = Versioned.readDvMap(s, path,
        Versioned.headVersion(s, path)).size
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("segments_purged", F.lit(st.getLong(1)))
        .withColumn("n_carried", F.lit(carried.toLong))
        .withColumn("n_dv_after", F.lit(nDv.toLong))
    }),

    // idempotent commits / exactly-once sink: replayed (app, batchId)
    // commits are no-ops, so the three-batch ingest with RETRIES of
    // every batch lands each document exactly once — the oracle is the
    // plain whole-table aggregate, with the version count and both
    // apps' watermarks pinned in the hash (a regression that re-applies
    // a replay inflates n and n_versions together)
    "q308_txn_exactly_once" -> ((s, dir) => {
      val path = stagingDir("graft_txn") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      def b(r: Int) = base.filter(F.col("doc_id") % 3 === r)
      Versioned.commit(b(0), path, txn = Some(("ingest", 0L)))
      Versioned.commit(b(0), path, txn = Some(("ingest", 0L))) // retry
      Versioned.commit(b(1), path, txn = Some(("ingest", 1L)))
      Versioned.commit(b(1), path, txn = Some(("ingest", 1L))) // retry
      Versioned.commit(b(0), path, txn = Some(("ingest", 0L))) // late replay
      Versioned.commit(b(2), path, txn = Some(("backfill", 0L)))
      val eng = Engine(s, dir)
      eng.sql(
        s"""SELECT lang, COUNT() AS n,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM '$path' GROUP BY lang""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
        .withColumn("n_versions",
          F.lit(Versioned.versions(s, path).size.toLong))
        .withColumn("last_ingest",
          F.lit(Versioned.lastTxn(s, path, "ingest").get))
        .withColumn("last_backfill",
          F.lit(Versioned.lastTxn(s, path, "backfill").get))
    }),

    // row-level CDC for vectored deletes: deletedRows(from) returns
    // the retraction rows the segment-level CDC pair cannot see (a
    // vectored delete adds/removes no segments); both the full range
    // and the tail slice replay as residue filters
    "q304_dv_cdc" -> ((s, dir) => {
      val path = stagingDir("graft_dv_cdc") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "n_chars")
      (0 to 1).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 2 === r), path))
      val eng = Engine(s, dir)
      eng.sql(s"DELETE VECTORED FROM '$path' WHERE doc_id % 10 = 3")
      eng.sql(s"DELETE VECTORED FROM '$path' WHERE doc_id % 10 = 4")
      val tail = Versioned.deletedRows(s, path, 3)
        .agg(F.count("*"), F.sum("doc_id")).collect().head
      Versioned.deletedRows(s, path, 2)
        .agg(F.count("*").as("n_full"),
          F.sum("doc_id").as("id_full"))
        .withColumn("n_tail", F.lit(tail.getLong(0)))
        .withColumn("id_tail", F.lit(tail.getLong(1)))
    }),

    // ---- BLOOM-SIDECAR point skipping: four segments interleaved by
    //      doc_id residue (every [min,max] spans the domain — range
    //      stats prune NOTHING, pinned by k_range = 4), blooms enabled
    //      via writer options; `doc_id = 137` plans only the owning
    //      segment. The bloom is deterministic for fixed data, so the
    //      kept count rides the oracle hash ----
    "q301_bloom_skipping" -> ((s, dir) => {
      val path = stagingDir("graft_bloom") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "n_chars")
      val opts = Versioned.bloomOptions(Map("doc_id" -> 200L))
      (0 to 3).foreach(r => Versioned.commit(
        base.filter(F.col("doc_id") % 4 === r), path,
        writerOptions = opts))
      val (total, kEq) = Versioned.pruneCount(s, path,
        F.col("doc_id") === 137)
      val (_, kRange) = Versioned.pruneCount(s, path,
        F.col("doc_id").between(100, 200))
      Versioned.read(s, path).where(F.col("doc_id") === 137)
        .agg(F.count("*").as("n_rows"),
          F.sum("n_chars").as("chars"))
        .withColumn("n_segments", F.lit(total.toLong))
        .withColumn("k_eq", F.lit(kEq.toLong))
        .withColumn("k_range", F.lit(kRange.toLong))
    }),

    // ---- METADATA-ONLY aggregates: pure COUNT()/COUNT(col)/MIN/MAX
    //      over a bare Versioned FROM serve from the manifest's stats
    //      sidecars — zero scan jobs (the spec pins recordsRead == 0;
    //      this gate pins the VALUES equal the scan semantics DuckDB
    //      computes) ----
    "q298_metadata_agg" -> ((s, dir) => {
      val path = stagingDir("graft_meta_agg") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 to 2).foreach(r =>
        Versioned.commit(base.filter(F.col("doc_id") % 3 === r), path))
      Engine(s, dir).sql(
        s"""SELECT COUNT() AS n, MIN(doc_id) AS mn, MAX(doc_id) AS mx,
           |  COUNT(lang) AS n_lang, MIN(n_chars) AS min_chars
           |FROM '$path'""".stripMargin).df
    }),

    // ---- ANALYZE '<ds>': task-parallel sidecar backfill for a
    //      legacy (stats-less) dataset — before it nothing prunes
    //      (k_before = n_segments), after it the range predicate plans
    //      only the overlapping segments; both counts and the built
    //      count ride the oracle hash ----
    "q299_analyze" -> ((s, dir) => {
      val path = stagingDir("graft_analyze") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "n_chars")
      val buckets = base.select(F.floor(F.col("doc_id") / 100).as("b"))
        .distinct().orderBy("b").collect().map(_.getLong(0))
      buckets.foreach(b => Versioned.commit(
        base.filter(F.floor(F.col("doc_id") / 100) === b), path))
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats"), true)
      val pred = F.col("doc_id").between(120, 310)
      val (total, kBefore) = Versioned.pruneCount(s, path, pred)
      val built = Engine(s, dir).sql(s"ANALYZE '$path'")
        .df.collect().head.getLong(1)
      val (_, kAfter) = Versioned.pruneCount(s, path, pred)
      Versioned.read(s, path).where(pred)
        .agg(F.count("*").as("n_rows"), F.sum("n_chars").as("chars"))
        .withColumn("n_segments", F.lit(total.toLong))
        .withColumn("k_before", F.lit(kBefore.toLong))
        .withColumn("n_built", F.lit(built))
        .withColumn("k_after", F.lit(kAfter.toLong))
    }),

    // ---- time travel through the dialect: FOR VERSION AS OF reads an
    //      exact committed snapshot of a Versioned dataset; a bare FROM
    //      of the same path reads the LATEST version (a raw parquet
    //      read would silently union every version's segments) ----
    "q236_sql_time_travel" -> ((s, dir) => {
      val path = stagingDir("graft_ttravel") + "/ds"
      val base = t(s, dir, "documents").select("doc_id", "source")
      Versioned.commit(base.filter(F.col("doc_id") % 2 === 0), path)
      Versioned.commit(base.filter(F.col("doc_id") % 2 === 1), path)
      Engine(s, dir).sql(
        s"""SELECT 1 AS version, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path' FOR VERSION AS OF 1
           |UNION ALL
           |SELECT 2 AS version, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path'""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- INSERT INTO through the dialect (round-7 verdict ask #4):
    //      the SQL-only incremental-publish arc — bootstrap a Versioned
    //      dataset with INSERT INTO ... SELECT (version 1), stack an
    //      appended version 2, add a VALUES row-batch as version 3
    //      (names + types from the target schema, positional casts),
    //      then time-travel v1 and read the head; the oracle replays
    //      every version as filters/arithmetic over the source table ----
    "q238_sql_insert" -> ((s, dir) => {
      val path = stagingDir("graft_sql_insert") + "/ds"
      val eng = Engine(s, dir)
      eng.sql(s"INSERT INTO '$path' SELECT doc_id, source FROM documents " +
        "WHERE doc_id % 2 = 0")
      eng.sql(s"INSERT INTO '$path' SELECT doc_id, source FROM documents " +
        "WHERE doc_id % 2 = 1")
      eng.sql(s"INSERT INTO '$path' VALUES (9000001, 'manual'), " +
        "(9000002, 'manual')")
      eng.sql(
        s"""SELECT 1 AS version, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path' FOR VERSION AS OF 1
           |UNION ALL
           |SELECT 3 AS version, COUNT() AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
           |FROM '$path'""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- INSERT INTO a BlockFile table: CTAS writes the .bin, INSERT
    //      appends into its under-full tail block (the reference's
    //      append invariant, io.py:231-252, reachable from SQL) ----
    "q239_sql_insert_bin" -> ((s, dir) => {
      val path = stagingDir("graft_sql_insbin") + "/t.bin"
      val eng = Engine(s, dir)
      eng.sql(s"CREATE TABLE '$path' AS " +
        "SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_name " +
        "FROM customer WHERE c_custkey <= 500")
      eng.sql(s"INSERT INTO '$path' SELECT " +
        "CAST(c_custkey AS INTEGER) AS c_custkey, c_name " +
        "FROM customer WHERE c_custkey > 500")
      eng.sql(
        s"""SELECT COUNT() AS n,
           |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
           |FROM '$path'""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- heavy-hitter sketch-store COMPACTION (round-7 verdict ask
    //      #8): four per-batch shard segments (the streaming sink's
    //      growth shape) merge into ONE via the weighted Misra-Gries
    //      merge; the merged query must be IDENTICAL before and after
    //      (the mergeable-summaries guarantee), and the store must
    //      shrink to a single segment — the oracle replays the
    //      brute-force answer for both phases ----
    "q240_hh_compaction" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val store = stagingDir("graft_hh_compact") + "/store"
      (0 until 4).foreach { i =>
        Scale.writeHeavyHitterSketches(
          docs.filter(F.col("doc_id") % 4 === i)
            .withColumn("_shard", F.lit(i.toString)),
          "text", "_shard", k = 32, s"$store/shard-$i")
      }
      // materialize the pre-compaction answer NOW — the store mutates
      // underneath a lazy plan otherwise
      val before = Scale.mergedHeavyHitters(docs, "text", s,
        s"$store/shard-*", k = 32).withColumn("phase", F.lit("before"))
        .localCheckpoint(true)
      Scale.compactHeavyHitterSketches(s, store, k = 32)
      val segs = Option(new java.io.File(store).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("shard-"))
      require(segs == 1, s"compaction left $segs segments, expected 1")
      val after = Scale.mergedHeavyHitters(docs, "text", s,
        s"$store/shard-*", k = 32).withColumn("phase", F.lit("after"))
      before.unionAll(after)
    }),

    // ---- bivariate statistics through the dialect: Pearson
    //      correlation (scale-invariant, so the sample/population
    //      distinction cancels and both engines agree) plus both
    //      covariance forms, per group ----
    "q235_sql_corr" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag,
          |  round(corr(l_quantity, l_extendedprice), 4) AS r_qp,
          |  round(covar_pop(l_quantity, l_discount), 6) AS cvp_qd,
          |  round(covar_samp(l_quantity, l_discount), 6) AS cvs_qd,
          |  COUNT() AS n
          |FROM lineitem
          |GROUP BY l_returnflag""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- shape statistics through the dialect: population skewness /
    //      excess kurtosis per group (Spark's definitions); the oracle
    //      replays them from raw central moments because DuckDB's own
    //      skewness/kurtosis are the bias-corrected SAMPLE forms ----
    "q234_sql_shape_stats" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag,
          |  round(skewness(l_quantity), 4) AS skew_qty,
          |  round(kurtosis(l_quantity), 4) AS kurt_qty,
          |  COUNT() AS n
          |FROM lineitem
          |GROUP BY l_returnflag""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- GROUPING() under ROLLUP: tells a real NULL key apart from a
    //      subtotal row — without it a rollup over a nullable dimension
    //      is ambiguous; both engines compute the same indicator ----
    "q233_sql_grouping_fn" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
          |  CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
          |  round(SUM(l_quantity), 4) AS qty
          |FROM lineitem
          |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin).df),

    // ---- curation-loss accounting: how many documents each q228
    //      pipeline stage removes, PER SOURCE — the attrition report a
    //      pipeline operator reads before trusting a corpus build
    //      (drops that skew toward one source signal a stage bug) ----
    "q232_prep_accounting" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(F.col("keep_id").as("doc_id"))
      val surv = docs.join(keepers, Seq("doc_id"), "left_semi")
      val corpus = surv.filter(F.col("doc_id") >= 20)
      val flagged = Dedup.decontaminate(corpus, "text", "doc_id",
          docs.filter(F.col("doc_id") < 20), "text", k = 3, minShared = 2)
        .select(F.col("id").as("doc_id"))
      val stage = docs.filter(F.col("doc_id") >= 20).select("doc_id", "source")
        .join(surv.select(F.col("doc_id"), F.lit(1).as("_kept")),
          Seq("doc_id"), "left")
        .join(flagged.withColumn("_flag", F.lit(1)), Seq("doc_id"), "left")
      stage.groupBy("source").agg(
        F.count(F.lit(1)).as("n_total"),
        F.sum(F.coalesce(F.col("_kept"), F.lit(0))).as("n_after_dedup"),
        F.sum(F.when(F.col("_kept") === 1 && F.col("_flag") === 1, 1)
          .otherwise(0)).as("n_flagged"),
        F.sum(F.when(F.col("_kept") === 1 && F.col("_flag").isNull, 1)
          .otherwise(0)).as("n_clean"))
    }),

    // ---- CTAS USING blockdir: the PARALLEL one-part-per-task
    //      BlockFile writer reachable from SQL — create, then
    //      aggregate back over the directory-as-one-table through the
    //      same dialect; the oracle replays the f32 round-trip from
    //      parquet (quantities are integral, so the double sum is
    //      exact — the q180 rule) ----
    "q231_sql_ctas_blockdir" -> ((s, dir) => {
      val staging = stagingDir("graft_ctas_bfdir")
      val eng = Engine(s, dir)
      eng.sql(
        s"""CREATE TABLE '$staging/li.bin' USING blockdir AS
           |SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey,
           |  CAST(l_quantity AS REAL) AS l_quantity,
           |  l_returnflag, l_linestatus, l_shipdate
           |FROM lineitem""".stripMargin)
      eng.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  round(SUM(CAST(l_quantity AS DOUBLE)), 2) AS sum_qty,
           |  COUNT() AS n
           |FROM '$staging/li.bin'
           |GROUP BY l_returnflag, l_linestatus""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))
    }),

    // ---- unnest through the dialect: per-element rows from an array
    //      column, re-aggregated per vector — the array-to-rows bridge
    //      every embedding inspection starts with ----
    "q230_sql_unnest" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT vec_id, COUNT() AS n,
          |  round(SUM(CAST(comp AS DOUBLE)), 4) AS s,
          |  round(MAX(CAST(comp AS DOUBLE)), 4) AS mx
          |FROM (SELECT vec_id, unnest(embedding) AS comp
          |      FROM embeddings WHERE vec_id < 50) t
          |GROUP BY vec_id""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- windowed statistical aggregates: per-row group dispersion
    //      without collapsing the rows (the analyst's "how unusual is
    //      this row within its cohort" column) ----
    "q229_sql_window_stats" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_orderkey, l_linenumber,
          |  round(stddev_samp(l_quantity)
          |    OVER (PARTITION BY l_returnflag), 4) AS sd_rf,
          |  round(var_pop(l_discount)
          |    OVER (PARTITION BY l_returnflag, l_linestatus), 6)
          |    AS vp_rfls
          |FROM lineitem
          |WHERE l_orderkey < 200""".stripMargin).df),

    // ---- PRETRAINING data-prep capstone, the q224 arc's other half:
    //      exact-dedup survivors (q27 rule) → n-gram decontamination
    //      against the eval slice (q77 rule) → concat-and-chunk packed
    //      positions (q86 rule), one composed statement; the oracle
    //      replays all three stages in one query ----
    "q228_pretrain_prep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(F.col("keep_id").as("doc_id"))
      val surv = docs.join(keepers, Seq("doc_id"), "left_semi")
      val corpus = surv.filter(F.col("doc_id") >= 20)
      val flagged = Dedup.decontaminate(corpus, "text", "doc_id",
          docs.filter(F.col("doc_id") < 20), "text", k = 3, minShared = 2)
        .select(F.col("id").as("doc_id"))
      val clean = corpus.join(flagged, Seq("doc_id"), "left_anti")
      // stage the narrow survivor list ONCE: concatChunk's two-level
      // prefix sum consumes its input twice (shard totals + rows), and
      // without staging each branch would recompute the dedup +
      // decontamination lineage (the q59 fan-out lesson)
      val packInput = clean.select(F.col("doc_id"),
          TextAnalysis.tokenCount(F.col("text")).cast("long").as("n_tok"))
        .localCheckpoint(false)
      Pack.concatChunk(packInput, "doc_id", "n_tok",
        capacity = 1024, shardSpan = 64)
    }),

    // ---- NEAREST as-of join (pandas merge_asof direction='nearest'):
    //      each click attributed to its temporally closest purchase
    //      within a 30-day tolerance, ties resolving backward — the
    //      third member of the as-of family (q42 backward, q63
    //      forward); two single-shuffle passes, no range explosion ----
    "q227_asof_nearest" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", F.expr("unix_micros(ts)"))
      val clicks = ev.filter(F.col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts_us"),
          F.col("event_id").as("p_event_id"), F.col("value"))
      AsofJoin.nearest(clicks, purchases, "user_id", "ts_us", "ts_us",
          rightPrefix = "p_", tieBreak = "p_event_id",
          tolerance = 2592000000000L)
        .select(F.col("event_id"), F.col("user_id"),
          F.col("p_p_event_id").as("p_event_id"),
          (F.col("p_ts_us") - F.col("ts_us")).as("delta_us"),
          F.col("p_value"))
    }),

    // ---- vector search through the dialect: brute-force cosine top-k
    //      as ONE SQL statement — the query vector is a scalar
    //      subquery over the same table, the cosine the codegen'd
    //      native expression; ordering on the rounded score + id so
    //      both engines cut the same top-10 ----
    "q226_sql_vec_search" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT vec_id,
          |  round(vec_cosine(embedding,
          |    (SELECT embedding FROM embeddings WHERE vec_id = 7)), 6)
          |    AS sim,
          |  len(embedding) AS dim
          |FROM embeddings
          |ORDER BY sim DESC, vec_id
          |LIMIT 10""".stripMargin).df),

    // ---- SFT data-prep capstone: quality filter → leakage-safe hash
    //      split → first-fit-decreasing packing of the TRAIN split, one
    //      composed statement — the whole-document curation arc (q24
    //      scoring, q88 split, q219 packing) as a user would run it;
    //      the oracle replays all three stages in one recursive query ----
    "q224_sft_prep" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        F.col("doc_id"), F.col("text"),
        TextAnalysis.qualityScore(F.col("text")).as("quality"))
      val train = Scale.hashSplit(scored, F.col("doc_id"))
        .filter(F.col("split") === "train" && F.col("quality") >= 0.6)
      Pack.ffdPack(train, "doc_id",
        TextAnalysis.tokenCount(F.col("text")), budget = 256,
        numShards = 16)
    }),

    // ---- inline VALUES table through the dialect: the standard way to
    //      hand a query a tiny lookup (here a priority→tier map) with
    //      no file — a literal local relation Catalyst broadcast-joins
    //      like any small side ----
    "q223_sql_values" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT v.tier, COUNT() AS n,
          |  round(SUM(o_totalprice), 4) AS total
          |FROM orders
          |JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
          |      ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
          |      ('5-LOW', 'cold')) v(prio, tier)
          |  ON o_orderpriority = v.prio
          |GROUP BY v.tier""".stripMargin).df
        .withColumn("n", F.col("n").cast("long"))),

    // ---- first-fit-decreasing packing: the padding-minimizing batch
    //      packer (largest-first, first open bin that fits — 11/9·OPT+1)
    //      beside q217's streamable next-fit; the oracle replays the
    //      exact placement with a recursive CTE threading the open-bin
    //      fill LIST through each step ----
    "q219_ffd_pack" -> ((s, dir) =>
      Pack.ffdPack(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(F.col("text")), budget = 256,
        numShards = 16)),

    // ---- CAST through the dialect: widening, integral-narrowing,
    //      string and temporal targets, a chained ts→date→varchar, and
    //      a CAST'd literal in WHERE — DuckDB runs the same text (the
    //      float→int rounding divergence is documented and avoided) ----
    "q210_sql_cast" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_orderkey, l_linenumber,
          |  CAST(l_orderkey AS VARCHAR) AS ok_str,
          |  CAST(l_quantity AS BIGINT) AS qty_int,
          |  CAST(l_linenumber AS DOUBLE) AS ln_dbl,
          |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day
          |FROM lineitem
          |WHERE l_shipdate >= CAST('1998-09-01' AS TIMESTAMP)""".stripMargin).df),

    // ---- truncated-dimension ANN prefilter (Matryoshka-style
    //      serving): first-16-dims cosine picks a 50-candidate pool
    //      (a quarter of the arithmetic per candidate), exact 64-dim
    //      cosine re-ranks to top-10; needs no trained artifact,
    //      unlike the PQ/SQ tiers ----
    "q209_knn_truncated" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.topKTruncatedRefine(emb, "embedding", "vec_id", q,
        k = 10, dPrefix = 16, pool = 50)
    }),

    // ---- corpus-health head coverage (the integer-exact Zipf
    //      diagnostic): top-k token-type share of all occurrences at
    //      k ∈ {10, 100, 1000} — exact counts, one final division ----
    "q208_head_coverage" -> ((s, dir) =>
      TextAnalysis.headCoverage(t(s, dir, "documents"), "text",
        ks = Seq(10, 100, 1000))),

    // ---- conversion funnel (view → click → purchase, 7-day window
    //      anchored at funnel entry): per-step user counts via
    //      user-keyed min-agg/join chains — no per-user ordered scan;
    //      the oracle replays the chain in epoch-µs arithmetic ----
    "q206_funnel" -> ((s, dir) =>
      EventAnalytics.funnelCounts(events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"),
        windowMicros = 7L * 24 * 3600 * 1000000)),

    // ---- the q206 funnel's STREAMING twin: step events compacted at
    //      ingest (stateless per batch — exactly the batch filter, the
    //      q121 pattern; four micro-batches via maxFilesPerTrigger so
    //      compaction must compose across batch boundaries), then the
    //      batch chain over the compacted log; same oracle as q206 ----
    "q212_stream_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = stagingDir("graft_stream_funnel")
      val stream = stagedFileStream(s, s"$dir/events.parquet", staging,
        splitFiles = 4)
      val q = Streams.funnelLogToParquet(stream, "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"),
        s"$staging/out", s"$staging/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val log = s.read.parquet(s"$staging/out")
        .select(F.col("user_id"), F.col("event_type"),
          F.timestamp_micros(F.col("us")).as("ts"))
      EventAnalytics.funnelCounts(log, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        windowMicros = 7L * 24 * 3600 * 1000000)
    }),

    // ---- PIVOT report: per-user wide-format event-type counts with an
    //      EXPLICIT value list (no collect-distinct planning pass, and
    //      a schema that is stable across corpus versions) ----
    "q211_event_pivot" -> ((s, dir) =>
      EventAnalytics.pivotCounts(events(s, dir), "user_id", "event_type",
        Seq("view", "click", "purchase", "signup", "error"))),

    // ---- cohort retention (cohort = day of first event; day_k rows
    //      count the cohort's users active k days later) — the classic
    //      retention triangle in long form ----
    "q207_cohort_retention" -> ((s, dir) =>
      EventAnalytics.cohortRetention(events(s, dir), "user_id", "ts")),

    // ---- sessionization (graft.streaming, batch twin of the
    //      flatMapGroupsWithState path) ----
    "q36_sessionize" -> ((s, dir) =>
      Streams.sessionizeBatch(events(s, dir))),

    // ---- rollup (multi-level aggregation) ----
    "q37_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").as("sum_qty"), F.count(F.lit(1)).as("n"))),

    // ---- SQL dialect: BETWEEN / NOT / LIKE through the parser ----
    "q38_sql_dialect" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_orderkey, l_linenumber FROM lineitem
          |WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-03-31'
          |  AND NOT l_returnflag = 'A' AND l_linestatus LIKE 'O%'""".stripMargin).df),

    // ---- LIMIT/OFFSET pagination through the dialect: page 2 of the
    //      price-ranked orders (deterministic under the id tie-break) ----
    "q142_sql_offset" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT o_orderkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 10 OFFSET 5""".stripMargin).df),

    // ---- ROLLUP / CUBE / GROUPING SETS through the dialect: the
    //      grammar lowers onto the engine's grouping-set aggregation
    //      (q37/q58's shapes — one Expand + hash agg pass, never one job
    //      per set); subtotal rows carry NULL keys, standard semantics ----
    "q146_sql_rollup" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
          |  COUNT() AS n
          |FROM lineitem
          |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin).df),

    "q147_sql_cube" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
          |  COUNT() AS n
          |FROM lineitem
          |GROUP BY CUBE(l_returnflag, l_linestatus)
          |HAVING COUNT() > 100""".stripMargin).df),

    "q148_sql_grouping_sets" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), ())""".stripMargin).df),

    // ---- text-pipeline scalars through the dialect: the corpus filter
    //      a pipeline author writes without dropping to the Scala API —
    //      token/subword counts, content fingerprint, quality + langid
    //      in WHERE (all narrow codegen'd expressions) ----
    "q153_sql_text_fns" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT doc_id, token_count(text) AS n_tok,
          |  subword_count(text) AS n_sub, fingerprint(text) AS fp
          |FROM documents
          |WHERE quality_score(text) >= 0.5 AND lang_guess(text) = 'en'"""
          .stripMargin).df),

    // ---- second scalar-function wave through the dialect: trim family,
    //      replace, concat, strpos, greatest/least ----
    "q137_sql_scalar_fns2" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_orderkey, l_linenumber,
          |  trim(concat(' ', l_returnflag, ' ', l_linestatus, ' ')) AS fl,
          |  replace(l_linestatus, 'O', 'X') AS st,
          |  strpos(concat(l_returnflag, l_linestatus), 'F') AS pos_f,
          |  greatest(l_quantity, 25) AS g,
          |  least(l_discount, 0.05) AS sm
          |FROM lineitem
          |WHERE l_orderkey < 1000""".stripMargin).df),

    // ---- QUALIFY through the dialect (DuckDB/Snowflake-style windowed
    //      filter): top-2 docs per language by length in ONE block — the
    //      idiom that otherwise needs a derived table ----
    "q136_sql_qualify" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT doc_id, lang, n_chars FROM documents
          |QUALIFY row_number()
          |  OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) <= 2""".stripMargin).df),

    // ---- correlated EXISTS / NOT EXISTS through the graft DIALECT
    //      (TPC-H Q21's wait-chain shape, q81's ANSI twin): each lowers to
    //      a Catalyst EXISTS subquery, which Catalyst decorrelates into a
    //      semi/anti self-join on the correlated conjuncts ----
    "q128_sql_exists" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT s.s_name, COUNT() AS numwait
          |FROM lineitem l1
          |JOIN orders o ON o.o_orderkey = l1.l_orderkey
          |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
          |WHERE o.o_orderstatus = 'F'
          |  AND l1.l_shipdate > o.o_orderdate
          |  AND EXISTS (SELECT * FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey != l1.l_suppkey)
          |  AND NOT EXISTS (SELECT * FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey != l1.l_suppkey
          |                    AND l3.l_shipdate > o.o_orderdate)
          |GROUP BY s.s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 20""".stripMargin).df),

    // ---- ANSI SQL passthrough over the registered catalog ----
    "q39_ansi_exists" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
          |GROUP BY o_orderpriority""".stripMargin)
    }),

    // ---- exact percentiles ----
    "q40_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.5)), 4).as("p50"),
          F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.95)), 4).as("p95"))),

    // ---- batched ANN: top-k per probe vector ----
    "q41_topk_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(F.col("vec_id").isin(0L, 1L, 2L))
        .select(F.col("vec_id").as("probe_id"), F.col("embedding").as("probe_vec"))
      Similarity.topKPerProbe(emb, "embedding", "vec_id", probes,
          "probe_vec", "probe_id", k = 5)
        .select(F.col("probe_id"), F.col("id"), F.round(F.col("score"), 6).as("score"))
    }),

    // ---- as-of join (graft.operators.AsofJoin) ----
    "q42_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", F.expr("unix_micros(ts)"))
      val clicks = ev.filter(F.col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts_us"),
          F.col("event_id").as("p_event_id"), F.col("value"))
      AsofJoin.backward(clicks, purchases, "user_id", "ts_us", "ts_us",
          rightPrefix = "p_", tieBreak = "p_event_id")
        .select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
          (F.col("ts_us") - F.col("p_ts_us")).as("gap_us"),
          F.col("p_value"))
    }),

    // ---- forward as-of join (next-event attribution: click → first
    //      subsequent purchase); gap-only output so equal-timestamp
    //      right-row tie-breaks cannot differ between engines ----
    "q63_asof_forward" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", F.expr("unix_micros(ts)"))
      val clicks = ev.filter(F.col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts_us"),
          F.col("event_id").as("p_event_id"))
      AsofJoin.forward(clicks, purchases, "user_id", "ts_us", "ts_us",
          rightPrefix = "p_", tieBreak = "p_event_id")
        .select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
          (F.col("p_ts_us") - F.col("ts_us")).as("gap_us"))
    }),

    // ---- HLL sketch distinct, gated: the exact distinct rides beside
    //      the sketch and the sketch is validated IN-QUERY against its
    //      3-sigma bound (default rsd 0.05 is one sigma; HLL is
    //      deterministic for fixed data). The oracle replays the exact
    //      column plus constant TRUE — if the estimate ever drifts out of
    //      bound the boolean flips and the hash gate fails, so the one
    //      approximate operator is no longer the one operator nothing
    //      checks. The numeric error is additionally spec-asserted. ----
    "q43_approx_distinct" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(
          F.approx_count_distinct("o_custkey").as("apx"),
          F.countDistinct("o_custkey").as("n_cust_exact"))
        .select(F.col("o_orderstatus"), F.col("n_cust_exact"),
          (F.abs(F.col("apx") - F.col("n_cust_exact")) <=
            F.col("n_cust_exact") * (3 * 0.05)).as("approx_ok"))),

    // ---- skew-safe salted aggregation (graft.operators.Scale);
    //      the oracle is the UNSALTED aggregation — salting must be
    //      semantically transparent ----
    "q44_salted_agg" -> ((s, dir) =>
      Scale.saltedAgg(
        t(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
        Seq("l_returnflag"),
        Seq("l_quantity" -> "sum", "l_quantity" -> "count",
            "l_quantity" -> "avg"), salts = 16)
        .withColumn("avg_l_quantity", F.round(F.col("avg_l_quantity"), 4))),

    // ---- winnowing fingerprints (md5 gram hash → DuckDB replays the
    //      whole winnow: grams, sliding minima, distinct count) ----
    "q45_winnow_fp" -> ((s, dir) =>
      t(s, dir, "documents").select(
        F.col("doc_id"),
        F.size(TextAnalysis.winnowingFingerprint(F.col("text"),
          gramHash = Dedup.md5Hash60)).as("n_fp"))),

    // ---- RIGHT JOIN through the SQL dialect front-end (customers with
    //      no orders produce null o_orderkey rows) ----
    "q46_join_right" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT o.o_orderkey AS o_orderkey, c.c_custkey AS c_custkey
          |FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin).df),

    // ---- FULL OUTER JOIN with null-producing rows on BOTH sides ----
    "q47_join_full" -> ((s, dir) =>
      t(s, dir, "customer").filter(F.col("c_custkey") < 500)
        .join(t(s, dir, "orders").filter(F.col("o_totalprice") > 400000),
          F.col("c_custkey") === F.col("o_custkey"), "full")
        .select("c_custkey", "o_orderkey", "o_totalprice")),

    // ---- TPC-H Q3 shape (shipping priority) through the SQL dialect:
    //      3-way join + multi-key grouping + alias ORDER BY + LIMIT ----
    "q49_sql_tpch_q3" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l.l_orderkey AS l_orderkey,
          |  SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue_raw,
          |  o.o_orderpriority AS o_orderpriority
          |FROM customer c
          |JOIN orders o ON c.c_custkey = o.o_custkey
          |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |WHERE c.c_mktsegment = 'BUILDING'
          |  AND o.o_orderdate < '1996-06-01'
          |  AND l.l_shipdate > '1996-06-01'
          |GROUP BY l.l_orderkey, o.o_orderpriority
          |ORDER BY revenue_raw DESC, l_orderkey LIMIT 10""".stripMargin).df
        .withColumn("revenue", F.round(F.col("revenue_raw"), 4))
        .drop("revenue_raw")),

    // ---- TPC-H Q6 shape (forecast revenue) through the SQL dialect:
    //      global aggregate, BETWEEN on doubles, timestamp compares ----
    "q50_sql_tpch_q6" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT SUM(l_extendedprice * l_discount) AS revenue_raw
          |FROM lineitem
          |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin).df
        .select(F.round(F.col("revenue_raw"), 4).as("revenue"))),

    // ---- Gopher-style repetition/shape quality signals ----
    "q52_gopher_quality" -> ((s, dir) => {
      val g = TextAnalysis.gopherStats(F.col("text"))
      t(s, dir, "documents").select(
        F.col("doc_id"),
        g.getField("frac_dup_lines").as("frac_dup_lines"),
        g.getField("mean_word_len").as("mean_word_len"),
        g.getField("symbol_ratio").as("symbol_ratio"),
        g.getField("bullet_ratio").as("bullet_ratio"))
    }),

    // ---- near-dup CLUSTERS: minhash pairs → connected components, the
    //      keep/drop deliverable of a dedup pipeline; oracle recomputes
    //      the closure with a recursive CTE over the replayed pair set ----
    "q51_dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(
        Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id",
          numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
          maxBucket = 64))
        .select(F.col("id").as("doc_id"), F.col("cluster"))),

    // ---- the dialect's WITH RECURSIVE dogfooded on the workload the
    //      recursion exists for: q51's connected-component closure over
    //      the REAL minhash pair set, expressed as a recursive CTE and
    //      cross-checked ROW-FOR-ROW against Dedup.clusters — the two
    //      fixpoint implementations (semi-naive SQL recursion vs
    //      checkpointed min-label propagation) must land the identical
    //      cluster map; the oracle is the q51 replay ----
    "q257_recursive_closure_dogfood" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id",
          numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
          maxBucket = 64)
        .select("id_a", "id_b").localCheckpoint(true)
      val base = stagingDir("graft_rcte_dogfood")
      pairs.write.mode("overwrite").parquet(s"$base/pairs.parquet")
      val viaCte = Engine(s, base).sql(
        """WITH RECURSIVE
          |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          |          UNION SELECT id_b AS a, id_a AS b FROM pairs),
          |reach AS (
          |  SELECT a, b FROM edges
          |  UNION
          |  SELECT r.a AS a, e.b AS b FROM reach r JOIN edges e ON r.b = e.a
          |),
          |m AS (SELECT a, MIN(b) AS mb FROM reach GROUP BY a)
          |SELECT a AS doc_id, least(a, mb) AS cluster FROM m""".stripMargin).df
        .localCheckpoint(true)
      val viaOp = Dedup.clusters(pairs)
        .select(F.col("id").as("doc_id"), F.col("cluster"))
      val diff = viaCte.exceptAll(viaOp).unionAll(viaOp.exceptAll(viaCte))
        .count()
      require(diff == 0, s"recursive-CTE closure diverges from " +
        s"Dedup.clusters by $diff rows")
      viaCte
    }),

    // ---- LEAKAGE-FREE train/val/test split: the split key is the
    //      near-dup CLUSTER, not the document, so near-duplicates can
    //      never straddle train and eval (the contamination a per-doc
    //      split silently allows). Unclustered docs key on themselves.
    //      Scale shape: q51's bounded cluster machinery + a left join
    //      of the cluster map + a narrow hash — no new shuffle class
    //      over q51. NO broadcast hint on the cluster map: it has one
    //      row per document in any near-dup pair, which is O(corpus) on
    //      a duplicate-heavy corpus (the x10 probes are 90% dups) — a
    //      forced broadcast would OOM the driver at scale, while AQE
    //      broadcasts genuinely small sides on its own ----
    "q163_leakfree_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.clusters(
          Dedup.minhashLsh(docs, "text", "doc_id", numBands = 4,
            rowsPerBand = 8, shingleN = 1, threshold = 0.8, maxBucket = 64))
        .select(F.col("id").as("doc_id"), F.col("cluster"))
      val assigned = docs.select("doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster", F.coalesce(F.col("cluster"), F.col("doc_id")))
      Scale.hashSplit(assigned, F.col("cluster"))
        .select("doc_id", "cluster", "split")
    }),

    // ---- deterministic range buckets (sorted-export primitive): exact
    //      k-quantile boundaries + codegen'd assignment — unlike
    //      repartitionByRange's per-run reservoir sample, the same input
    //      always cuts at the same points, so the oracle replays it ----
    "q164_range_buckets" -> ((s, dir) =>
      Scale.rangeBuckets(t(s, dir, "lineitem"), F.col("l_extendedprice"), 8)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_rows"),
          F.round(F.min("l_extendedprice"), 4).as("lo"),
          F.round(F.max("l_extendedprice"), 4).as("hi"))),

    // ---- TPC-H Q5 shape (local-supplier revenue) through the SQL
    //      dialect: 6-way join incl. a two-condition ON (l_suppkey =
    //      s_suppkey AND c_nationkey = s_nationkey) ----
    "q53_sql_tpch_q5" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT n.n_name AS n_name,
          |  SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue_raw
          |FROM customer c
          |JOIN orders o ON c.c_custkey = o.o_custkey
          |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
          |JOIN nation n ON s.s_nationkey = n.n_nationkey
          |JOIN region r ON n.n_regionkey = r.r_regionkey
          |WHERE r.r_name = 'ASIA'
          |  AND o.o_orderdate >= '1995-01-01' AND o.o_orderdate < '1997-01-01'
          |GROUP BY n.n_name""".stripMargin).df
        .withColumn("revenue", F.round(F.col("revenue_raw"), 4))
        .drop("revenue_raw")),

    // ---- TPC-H Q4 shape (order-priority check) via the ANSI catalog
    //      passthrough: correlated EXISTS referencing an OUTER column
    //      (l_shipdate > o_orderdate) inside a date-windowed aggregate ----
    "q54_sql_tpch_q4" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count FROM orders
          |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          |GROUP BY o_orderpriority""".stripMargin)
    }),

    // ---- window-function breadth: lag + bounded-frame moving average +
    //      running sum over event streams (frames are where Spark's
    //      window exec differs most from plain aggregation) ----
    "q55_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(F.col("ts_us"), F.col("event_id"))
      events(s, dir)
        .select(F.col("user_id"), F.col("event_id"),
          F.unix_micros(F.col("ts")).as("ts_us"), F.col("value"))
        .select(F.col("user_id"), F.col("event_id"), F.col("ts_us"),
          F.lag("value", 1).over(w).as("prev_value"),
          F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).as("mov_avg"),
          F.round(F.sum("value").over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 4).as("run_sum"))
    }),

    // ---- TPC-H Q18 shape (large-volume customer) via the ANSI catalog
    //      passthrough: IN over a grouped-HAVING subquery + 3-way join ----
    "q56_sql_tpch_q18" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_name, o_orderkey, o_totalprice, sum(l_quantity) AS sum_qty
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
          |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
          |GROUP BY c_name, o_orderkey, o_totalprice
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)
    }),

    // ---- TPC-H Q10 shape (returned-item revenue) through the SQL
    //      dialect: 4-way join, date window, alias ORDER BY + LIMIT ----
    "q57_sql_tpch_q10" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
          |  n.n_name AS n_name,
          |  SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue_raw
          |FROM customer c
          |JOIN orders o ON c.c_custkey = o.o_custkey
          |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
          |  AND l.l_returnflag = 'R'
          |GROUP BY c.c_custkey, c.c_name, n.n_name
          |ORDER BY revenue_raw DESC, c_custkey LIMIT 20""".stripMargin).df
        .withColumn("revenue", F.round(F.col("revenue_raw"), 4))
        .drop("revenue_raw")),

    // ---- TPC-H Q14 shape (promo revenue): conditional aggregation over
    //      a broadcast part join, ratio of two global sums ----
    "q73_tpch_q14" -> ((s, dir) => {
      val net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
      t(s, dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp") &&
                F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        .join(F.broadcast(t(s, dir, "part")),
          F.col("l_partkey") === F.col("p_partkey"))
        .agg(F.round(
          F.lit(100.0) * F.sum(F.when(F.col("p_type").like("PROMO%"), net)
            .otherwise(F.lit(0.0))) / F.sum(net), 4).as("promo_revenue"))
    }),

    // ---- TPC-H Q17 shape (small-quantity order revenue): CORRELATED
    //      SCALAR subquery in the filter (per-part average); l_quantity
    //      is integral so the correlated avg is order-exact on both
    //      engines ----
    "q74_sql_tpch_q17" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#4'
          |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
          |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
    }),

    // ---- TPC-H Q7 shape (volume shipping): the nation table joined
    //      TWICE under different aliases (customer's vs supplier's
    //      nation) — the self-join-under-alias construct ----
    "q75_sql_tpch_q7" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
          |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation n1 ON c_nationkey = n1.n_nationkey
          |JOIN nation n2 ON s_nationkey = n2.n_nationkey
          |WHERE n1.n_name <> n2.n_name
          |GROUP BY n1.n_name, n2.n_name""".stripMargin)
    }),

    // ---- CUBE (all grouping-set combinations; q37 covers ROLLUP) ----
    "q58_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").as("sum_qty"), F.count(F.lit(1)).as("n"))),

    // ---- salted equi-join for skewed keys (neither side broadcastable
    //      at scale); the oracle is the UNSALTED join — salting must be
    //      semantically transparent, like q44's salted aggregation ----
    "q60_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      Scale.saltedJoin(li, ord, "l_orderkey", "o_orderkey",
          F.hash(F.col("l_orderkey"), F.col("l_linenumber")), salts = 8)
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4)
               .as("revenue"),
             F.count(F.lit(1)).as("n"))
    }),

    // ---- hive-partitioned corpus layout: lang filter = directory
    //      pruning (PartitionFilters), the text-corpus analog of q48's
    //      bucketed ANN layout — a lang='en' pass over a multilingual
    //      100 TB corpus reads only the en partition's files ----
    "q61_part_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // unique per invocation, exit-cleaned — see q48
      val path = stagingDir("graft_corpus") + "/docs"
      Tables.writePartitioned(docs, Seq("lang"), path)
      val st = F.call_function("text_stats", F.col("text"))
      s.read.parquet(path)
        .filter(F.col("lang") === "en")
        .select(F.col("doc_id"), st.getField("n_tokens").as("n_tokens"))
    }),

    // ---- the whole text-profiling surface in ONE projection (the API a
    //      corpus-profiling job calls); gates TextAnalysis.profile
    //      end-to-end against the union of the q23–q26 oracles ----
    "q72_profile" -> ((s, dir) =>
      TextAnalysis.profile(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_subwords", "n_punct", "n_stopwords",
                "quality", "lang_guess", "fp_md5")),

    // ---- partial-overlap pairs: docs sharing >= 3 winnowing
    //      fingerprints (shared token runs — quotes/plagiarism/
    //      boilerplate blocks whole-doc similarity dilutes away) ----
    "q70_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "text", "doc_id",
        k = 3, w = 4, minShared = 3, maxBucket = 4096)),

    // ---- benchmark decontamination: training docs (id >= 20) sharing
    //      >= 2 token 3-grams with the "eval set" (id < 20) are flagged;
    //      eval grams broadcast, corpus streams ----
    "q77_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(F.col("doc_id") >= 20), "text", "doc_id",
        docs.filter(F.col("doc_id") < 20), "text",
        k = 3, minShared = 2)
        .select(F.col("id").as("doc_id"), F.col("n_shared"))
    }),

    // ---- corpus-wide duplicated-line fraction per doc (boilerplate
    //      detection across documents — what per-doc gopher can't see);
    //      lines shuffle as 16-byte digests ----
    "q68_corpus_dup_lines" -> ((s, dir) =>
      Dedup.corpusDupLines(t(s, dir, "documents"), "text", "doc_id")
        .select(F.col("id").as("doc_id"), F.col("frac_dup_corpus"),
                F.col("n_lines"))),

    // ---- data-card corpus statistics: token-length histogram with
    //      per-bucket quality — the summary a dataset release ships ----
    "q69_corpus_stats" -> ((s, dir) => {
      val st = F.call_function("text_stats", F.col("text"))
      t(s, dir, "documents")
        .select(F.col("doc_id"),
          st.getField("n_tokens").as("n_tokens"),
          TextAnalysis.qualityScore(F.col("text")).as("quality"))
        .groupBy(F.floor(F.col("n_tokens") / 64).cast("long").as("len_bucket"))
        .agg(F.count(F.lit(1)).as("n_docs"),
             F.round(F.avg("n_tokens"), 4).as("avg_tokens"),
             F.round(F.avg("quality"), 4).as("avg_quality"))
    }),

    // ---- corpus mixing: deterministic hash-based stratified sampling
    //      (keep 50% of en, 30% of de, 10% of the rest) — reproducible,
    //      partition-invariant, and exactly replayable by the oracle
    //      because the sampling key is the portable md5 hash ----
    "q64_stratified_sample" -> ((s, dir) =>
      Scale.stratifiedSampleByHash(
        t(s, dir, "documents"),
        F.col("doc_id"),
        F.when(F.col("lang") === "en", 50)
          .when(F.col("lang") === "de", 30)
          .otherwise(10))
        .select("doc_id", "lang")),

    // ---- curriculum selection: top-10 documents by quality per lang via
    //      the bounded-heap topk_pairs aggregate (k rows per stratum per
    //      partition reach the shuffle — no global or per-group sort) ----
    "q65_topk_per_lang" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        F.col("lang"), F.col("doc_id"),
        TextAnalysis.qualityScore(F.col("text")).as("quality"))
      scored.groupBy("lang")
        .agg(F.call_function("topk_pairs",
          F.col("quality"), F.col("doc_id"), F.lit(10)).as("top"))
        .select(F.col("lang"), F.explode(F.col("top")).as("t"))
        .select(F.col("lang"), F.col("t.id").as("doc_id"),
                F.col("t.score").as("quality"))
    }),

    // ---- the END-TO-END training-data deliverable: one query composing
    //      language ID → quality filter → near-dup cluster dedup into the
    //      final keep-list a pre-training pipeline actually ships. Every
    //      stage is a narrow map or the already-bounded LSH pipeline; the
    //      oracle replays the WHOLE composition (langid + quality +
    //      recursive-CTE closure over the replayed pair set) ----
    "q59_pipeline_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sig = TextAnalysis.docSignals(F.col("text"))
      // Two corpus consumers feed the final anti-join: the narrow
      // signals filter and the LSH cluster pipeline. Round 5 ran them as
      // independent plans overlapped on a Future — each side re-derived
      // its OWN scan + full-text spread shuffle (the round-5 trace shows
      // two parallel text shuffles per run). Instead: stage the shared
      // doc-prep ONCE (one scan, one spread, blocks in memory); the LSH
      // side's eager staging and the final join both read those blocks,
      // and the signals filter collapses to a narrow map in the final
      // job — no second text shuffle, no background action to race.
      val prep = Dedup.spreadForCompute(docs.select("doc_id", "text"))
        .localCheckpoint(true)
      val keeps = prep
        .select(F.col("doc_id"), sig.as("sig"))
        .filter(F.col("sig.lang_guess") === "en" && F.col("sig.quality") >= 0.4)
        .select(F.col("doc_id"), F.col("sig.quality").as("quality"))
      val clusterLosers = Dedup.clusters(
          Dedup.minhashLsh(prep, "text", "doc_id", numBands = 4,
            rowsPerBand = 8, shingleN = 1, threshold = 0.8, maxBucket = 64))
        .filter(F.col("id") =!= F.col("cluster"))
        .select(F.col("id").as("doc_id"))
      keeps.join(clusterLosers, Seq("doc_id"), "left_anti")
        .select(F.col("doc_id"), F.col("quality"))
    }),

    // ---- partition-pruned ANN: the 100 TB serving path — corpus staged
    //      hive-partitioned by IVF bucket, probe reads only its buckets'
    //      files (PartitionFilters, not a runtime filter) ----
    "q48_knn_ivf_part" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      // unique per invocation (a fixed hash-keyed path would race between
      // concurrent verify/bench processes), cleaned up at JVM exit
      val path = stagingDir("graft_ivf") + "/corpus"
      Similarity.writeIvfBucketed(emb, "embedding", ivfCentroids, path)
      Similarity.topKIvfBucketed(s, path, "embedding", "vec_id", q,
          ivfCentroids, k = 10, nprobe = 2)
        .select(F.col("vec_id"), F.round(F.col("score"), 6).as("score"))
    }),

    // ---- TPC-H Q13 shape (customer order-count distribution): LEFT
    //      OUTER join preserving order-less customers + GROUP BY on an
    //      aggregate's result (count-of-counts). The o_orderpriority
    //      filter stands in for Q13's o_comment NOT LIKE (no comment
    //      column in the test schema). ----
    "q78_tpch_q13" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(F.col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").as("c_count")) // count(col): nulls excluded
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).as("custdist"))
    }),

    // ---- TPC-H Q16 shape (supplier-part relationship): NOT IN
    //      subquery (→ broadcast anti-join; suppliers in deficit stand
    //      in for Q16's complaint comments) + count(DISTINCT) over a
    //      3-key grouping. lineitem is the part↔supplier bridge (no
    //      partsupp table in the test schema). ----
    "q79_tpch_q16" -> ((s, dir) => {
      val badSupp = t(s, dir, "supplier")
        .filter(F.col("s_acctbal") < 0).select("s_suppkey")
      val l = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(badSupp, F.col("l_suppkey") === F.col("s_suppkey"), "left_anti")
      val p = t(s, dir, "part")
        .filter(F.col("p_brand") =!= "Brand#45" &&
          !F.col("p_type").like("MEDIUM%") &&
          F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      p.join(l, p("p_partkey") === l("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").as("supplier_cnt"))
    }),

    // ---- TPC-H Q19 shape (discounted revenue): one disjunction of
    //      three conjunction blocks spanning BOTH join sides — the
    //      OR-of-AND pushdown stressor. Catalyst's pushdown keeps the
    //      per-side OR residuals on each scan. ----
    "q80_tpch_q19" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .filter(
          (p("p_brand") === "Brand#12" && p("p_size").between(1, 5) &&
            l("l_quantity").between(1, 11)) ||
          (p("p_brand") === "Brand#23" && p("p_size").between(1, 10) &&
            l("l_quantity").between(10, 20)) ||
          (p("p_brand") === "Brand#34" && p("p_size").between(1, 15) &&
            l("l_quantity").between(20, 30)))
        .agg(F.round(F.sum(l("l_extendedprice") * (F.lit(1) - l("l_discount"))), 4)
          .as("revenue"))
    }),

    // ---- TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS
    //      and NOT EXISTS over the SAME table with inequality correlation
    //      (semi + anti join against lineitem): suppliers whose item
    //      shipped >= 90 days after the order date on a multi-supplier
    //      finished order where NO other supplier's item was late. ----
    "q81_tpch_q21" -> ((s, dir) => {
      val lateCutoff = F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
      val o = t(s, dir, "orders").filter(F.col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      val l1 = li.join(o, F.col("l_orderkey") === F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= lateCutoff)
      val l2 = li.select(F.col("l_orderkey").as("l2_ok"), F.col("l_suppkey").as("l2_sk"))
      val l3 = li.select(F.col("l_orderkey").as("l3_ok"),
        F.col("l_suppkey").as("l3_sk"), F.col("l_shipdate").as("l3_sd"))
      l1
        .join(l2, F.col("l_orderkey") === F.col("l2_ok") &&
          F.col("l_suppkey") =!= F.col("l2_sk"), "left_semi")
        .join(l3, F.col("l_orderkey") === F.col("l3_ok") &&
          F.col("l_suppkey") =!= F.col("l3_sk") && F.col("l3_sd") >= lateCutoff,
          "left_anti")
        .join(t(s, dir, "supplier"), F.col("l_suppkey") === F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).as("numwait"))
    }),

    // ---- TPC-H Q8 shape (national market share): the 7-table join —
    //      nation twice under different roles, region-pruned customer
    //      side, conditional volume share per year. Sums round(4) per
    //      the float-agg convention; the share ratio divides the two
    //      ROUNDED sums (deterministic on both engines), round(6) ----
    "q99_tpch_q8" -> ((s, dir) => {
      val vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
      val n1 = t(s, dir, "nation")
        .select(F.col("n_nationkey").as("c_nkey"), F.col("n_regionkey"))
      val n2 = t(s, dir, "nation")
        .select(F.col("n_nationkey").as("s_nkey"), F.col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(F.col("p_type") === "PROMO")
          .select("p_partkey"), F.col("l_partkey") === F.col("p_partkey"))
        .join(t(s, dir, "orders")
          .filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp") &&
                  F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")),
          F.col("l_orderkey") === F.col("o_orderkey"))
        .join(t(s, dir, "customer"), F.col("o_custkey") === F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") === F.col("c_nkey"))
        .join(t(s, dir, "region").filter(F.col("r_name") === "ASIA")
          .select("r_regionkey"), F.col("n_regionkey") === F.col("r_regionkey"))
        .join(t(s, dir, "supplier"), F.col("l_suppkey") === F.col("s_suppkey"))
        .join(n2, F.col("s_nationkey") === F.col("s_nkey"))
        .groupBy(F.year(F.col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          F.round(F.sum(F.when(F.col("supp_nation") === "NATION_3", vol)
            .otherwise(F.lit(0.0))), 4).as("nation_vol"),
          F.round(F.sum(vol), 4).as("total_vol"))
        .select(F.col("o_year"),
          F.round(F.col("nation_vol") / F.col("total_vol"), 6).as("mkt_share"),
          F.col("nation_vol"), F.col("total_vol"))
    }),

    // ---- TPC-H Q12 shape (late shipments by priority class): the
    //      conditional-aggregation query — CASE-sums over a join, with
    //      the late predicate (shipped after order date + 60 days)
    //      pushed into the join's filter ----
    "q100_tpch_q12" -> ((s, dir) => {
      val high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), F.col("l_orderkey") === F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
          F.sum(F.when(high, 1L).otherwise(0L)).as("high_line_count"),
          // when(high, 0).otherwise(1), NOT when(!high, 1).otherwise(0):
          // a NULL priority must land in the low bucket on both engines
          // (the oracle's CASE ... THEN 0 ELSE 1 sends NULL to ELSE;
          // when(!high, ...) would send it to neither)
          F.sum(F.when(high, 0L).otherwise(1L)).as("low_line_count"))
    }),

    // ---- TPC-H Q15 shape (top supplier): aggregate-then-argmax via a
    //      scalar-subquery max over the derived revenue view; equality
    //      compares the ROUNDED revenue on both engines ----
    "q101_tpch_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp") &&
                F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        .groupBy(F.col("l_suppkey"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4)
          .as("total_revenue"))
      val top = rev.agg(F.max("total_revenue").as("max_rev"))
      rev.join(F.broadcast(top), F.col("total_revenue") === F.col("max_rev"))
        .join(t(s, dir, "supplier"), F.col("l_suppkey") === F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    }),

    // ---- TPC-H Q22 shape (sales opportunity): uncorrelated avg scalar
    //      subquery as a filter bound + NOT EXISTS anti-join, grouped
    //      by market segment (stands in for Q22's phone country code) ----
    "q102_tpch_q22" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val avgBal = c.filter(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 4).as("avg_bal")) // rounded bound:
      // identical threshold on both engines regardless of sum order
      c.join(F.broadcast(avgBal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(t(s, dir, "orders").select("o_custkey"),
          F.col("c_custkey") === F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).as("numcust"),
             F.round(F.sum("c_acctbal"), 4).as("totacctbal"))
    }),

    // ---- streaming END-TO-END under the oracle gate: a real file-source
    //      stream (readStream over the events parquet) through
    //      Streams.dedupStream into the checkpointed parquet sink, one
    //      AvailableNow pass, then the sink is read back as the result.
    //      The watermark horizon exceeds the data's time span so each key
    //      emits exactly once and the output equals SELECT DISTINCT —
    //      putting the stream path under the same hash gate as the batch
    //      operators (its batch twins are q19/q36/q76). Key columns only:
    //      which ROW survives first-seen dedup is partition-race-
    //      dependent, the key SET is not. ----
    "q83_stream_e2e" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging0 = stagingDir("graft_stream")
      val stream = stagedFileStream(s, s"$dir/events.parquet", staging0)
      val deduped = Streams
        .dedupStream(stream, "ts", Seq("user_id", "event_type"),
          watermark = "3650 days")
        .select("user_id", "event_type")
      val q = Streams.toParquetSink(deduped, s"$staging0/out", s"$staging0/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging0/out")
    }),

    // ---- deterministic global shuffle order: dense rank in md5-hash
    //      order via the two-level decomposition (per-hash-range ranks in
    //      parallel + one 256-row offset window); oracle = the single
    //      global row_number the decomposition must equal ----
    "q103_shuffle_rank" -> ((s, dir) =>
      Scale.shuffleRank(t(s, dir, "documents"), F.col("doc_id"))
        .select("doc_id", "shuffle_rank")),

    // ---- approximate median gated HONESTLY (the q43 pattern for
    //      percentiles): exact percentile beside the sketch, plus an
    //      in-query rank-error check the oracle replays as TRUE — an
    //      out-of-bound sketch fails the hash gate ----
    "q104_approx_quantile" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val stats = l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").as("_p50_raw"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("_p50_approx"),
        F.count(F.lit(1)).as("n_rows"))
      // stats is consumed ONCE (the broadcast side): its percentile
      // sort-agg is expensive, and joining stats back afterwards would
      // evaluate the subtree twice (BroadcastExchange and shuffle can't
      // ReuseExchange) — so p50/n ride through the frac aggregation
      l.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          F.round(F.first("_p50_raw"), 4).as("p50_exact"),
          F.first("n_rows").as("n_rows"),
          (F.sum(F.when(F.col("l_extendedprice") <= F.col("_p50_approx"), 1L)
            .otherwise(0L)).cast("double") / F.max("n_rows"))
            .between(0.45, 0.55).as("approx_within_bound"))
    }),

    // ---- stream-stream INTERVAL JOIN end-to-end under the gate: two
    //      real file-source streams (separate drop folders — the two-feed
    //      production shape), each drained over FOUR micro-batches
    //      (splitFiles + maxFilesPerTrigger=1, so matches must pair rows
    //      across batch boundaries out of the join's buffered state),
    //      watermarked interval join (purchases within 30 min before
    //      each click), parquet sink, AvailableNow. Inner stream-stream
    //      joins emit matches as both sides ingest (only OUTER joins
    //      wait on the watermark), and the horizon watermark prevents
    //      state eviction on the bounded run, so the sink equals the
    //      batch join — which is exactly what the oracle replays ----
    "q105_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = stagingDir("graft_stream_ij")
      val clicks = stagedFileStream(s, s"$dir/events.parquet", staging, "in_l",
          splitFiles = 4)
        .filter(F.col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = stagedFileStream(s, s"$dir/events.parquet", staging, "in_r",
          splitFiles = 4)
        .filter(F.col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val joined = Streams
        .intervalJoin(clicks, purchases, "user_id", "ts",
          lookback = "30 minutes", watermark = "3650 days")
        .select(F.col("l_user_id").as("user_id"),
          F.col("l_event_id").as("l_event_id"),
          F.col("r_event_id").as("r_event_id"),
          F.unix_micros(F.col("l_ts")).as("l_ts_us"),
          F.unix_micros(F.col("r_ts")).as("r_ts_us"))
      val q = Streams.toParquetSink(joined, s"$staging/out", s"$staging/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging/out")
    }),

    // ---- JSONL ingestion round-trip under the gate: documents →
    //      JSON-Lines (the pretraining interchange format) → explicit-
    //      schema read-back; the oracle reads the ORIGINAL parquet, so
    //      the gate proves the round-trip is lossless ----
    "q109_jsonl_ingest" -> ((s, dir) => {
      val staging = stagingDir("graft_jsonl")
      val docs = t(s, dir, "documents")
      docs.coalesce(2).write.mode("overwrite").json(s"$staging/docs_jsonl")
      Tables.readJsonl(s, s"$staging/docs_jsonl", docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),

    // ---- ORC ingestion round-trip under the gate: documents → ORC →
    //      explicit-schema read-back; the oracle reads the ORIGINAL
    //      parquet, so the gate proves the round-trip is lossless ----
    "q116_orc_ingest" -> ((s, dir) => {
      val staging = stagingDir("graft_orc")
      val docs = t(s, dir, "documents")
      docs.coalesce(2).write.mode("overwrite").orc(s"$staging/docs_orc")
      Tables.readOrc(s, s"$staging/docs_orc", docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),

    // ---- content-defined chunking: boundaries where the trailing
    //      3-gram's md5 ≡ 0 mod 16 — edit-stable chunks for chunk-level
    //      dedup; pure narrow map, oracle replays the boundary set ----
    "q110_cdc_chunks" -> ((s, dir) =>
      Pack.cdcChunks(t(s, dir, "documents"), "text", "doc_id",
                     k = 3, modulus = 16)),

    // ---- chunk-level duplication (what CDC chunking is FOR): share of
    //      each doc's content-defined chunks that occur elsewhere in the
    //      corpus — partial duplication document-level dedup misses ----
    "q111_chunk_dup" -> ((s, dir) =>
      Pack.chunkDupStats(t(s, dir, "documents"), "text", "doc_id",
                         k = 3, modulus = 16)),

    // ---- bloom-filter decontamination: the q77 pipeline's scale path
    //      for when the eval gram set outgrows a broadcast hash join —
    //      distributed sketch build, codegen'd might_contain prune,
    //      exact confirm join (result EXACT; oracle replays the exact
    //      pipeline, so a bloom mistake would fail the gate) ----
    "q112_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
        docs.filter(F.col("doc_id") >= 20), "text", "doc_id",
        docs.filter(F.col("doc_id") < 20), "text",
        k = 2, minShared = 3)
        .select(F.col("id").as("doc_id"), F.col("n_shared"))
    }),

    // ---- decontamination against a STORED index: the eval set's gram
    //      hashes + bloom sketch persisted once per eval release
    //      (writeDeconIndex), every ingest probes the artifact without
    //      touching eval text — must land exactly the q112 result (the
    //      bloom is a prune, the confirm join keeps it exact) ----
    "q170_decon_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = stagingDir("graft_deconidx") + "/idx"
      Dedup.writeDeconIndex(docs.filter(F.col("doc_id") < 20), "text", path,
        k = 2)
      Dedup.decontaminateIndexed(s, path, docs.filter(F.col("doc_id") >= 20),
          "text", "doc_id", minShared = 3)
        .select(F.col("id").as("doc_id"), F.col("n_shared"))
    }),

    // ---- bucketed co-located join: both sides written bucketed on the
    //      join key (pay the shuffle once at layout time), then the
    //      groupBy AND the join run exchange-free — the recurring-join
    //      analog of q48's partition-pruned layout. The spec pins the
    //      no-shuffle plan; this gate pins the results ----
    "q113_bucketed_join" -> ((s, dir) => {
      val staging = stagingDir("graft_bucketed")
      Scale.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_orders_b", s"$staging/orders_b", "o_custkey", 8)
      Scale.writeBucketed(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "graft_customer_b", s"$staging/customer_b", "c_custkey", 8)
      s.table("graft_orders_b")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).as("spend"),
             F.count(F.lit(1)).as("n_orders"))
        .filter(F.col("spend") > 200000)
        .join(s.table("graft_customer_b"),
          F.col("o_custkey") === F.col("c_custkey"))
        .select("o_custkey", "c_mktsegment", "spend", "n_orders")
    }),

    // ---- BM25 top-k retrieval: the lexical-search pass of a RAG/eval
    //      pipeline — one staged tf frame pruned to query tokens, so
    //      cost tracks matching postings, not corpus size; bounded
    //      TakeOrderedAndProject top-k ----
    "q115_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        query = "spark window join", k = 10)),

    // ---- BM25 against the PERSISTED serving index: token-bucket-
    //      partitioned postings, so the query scan partition-prunes to
    //      its terms' buckets and never re-aggregates the corpus — the
    //      100 TB serving shape of q115 (same oracle replays both) ----
    "q126_bm25_indexed" -> ((s, dir) => {
      val path = stagingDir("graft_bm25") + "/idx"
      TextAnalysis.writeBm25Index(t(s, dir, "documents"), "text", "doc_id",
        path, numBuckets = 16)
      TextAnalysis.bm25TopKIndexed(s, path, query = "spark window join", k = 10)
    }),

    // ---- STREAMING BM25 index ingest: the corpus arrives as 4
    //      micro-batches, each committing one immutable segment + an
    //      atomic manifest generation (the index stays queryable at
    //      every instant of the stream); after the drain, the indexed
    //      query must equal the batch build — same oracle as q115/q126 ----
    "q151_stream_bm25_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = stagingDir("graft_stream_bm25")
      val idxPath = s"$staging/idx"
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging,
        splitFiles = 4)
      val q = Streams.bm25IndexSink(stream, "text", "doc_id", idxPath,
        s"$staging/ckpt", numBuckets = 16)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      TextAnalysis.bm25TopKIndexed(s, idxPath, query = "spark window join",
        k = 10)
    }),

    // ---- STREAMING histogram ingest — q167's sketches built
    //      incrementally: each micro-batch persists its own shard, the
    //      merged read serves quantiles over everything ingested; the
    //      oracle is the batch replay, which the streaming result must
    //      equal EXACTLY (counts add — mergeability, exercised
    //      incrementally) ----
    "q169_stream_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = stagingDir("graft_stream_hist")
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging,
        splitFiles = 4)
      val q = Streams.histogramSink(stream, Seq("lang", "source"),
          F.col("n_chars"), s"$staging/sk", s"$staging/ckpt", width = 64)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Scale.mergedQuantiles(s, s"$staging/sk/shard-*", Seq("lang"),
          probs = Seq(0.5, 0.9), width = 64)
        .select("lang", "p", "q_est")
    }),

    // ---- corpus vocabulary + per-doc OOV rate: top-256 tokens by
    //      document frequency (ties by token asc — replayable), then
    //      the fraction of token OCCURRENCES outside the vocab; the
    //      tokenizer-coverage statistic a data card ships ----
    "q150_vocab_oov" -> ((s, dir) =>
      TextAnalysis.vocabOovRate(t(s, dir, "documents"), "text", "doc_id",
        vocabSize = 256)),

    // ---- BATCH BM25: top-5 per query for a query TABLE (the retrieval
    //      eval / hard-negative-mining shape) — one staged tf pass
    //      serves every query; per-query top-k via the bounded heap;
    //      the no-hit query ('zebra') is absent on both sides ----
    "q144_bm25_batch" -> ((s, dir) => {
      val qs = s.createDataFrame(Seq(
        (1L, "spark window join"), (2L, "data quality filter"),
        (3L, "zebra")))
        .toDF("query_id", "qtext")
      TextAnalysis.bm25TopKBatch(t(s, dir, "documents"), "text", "doc_id",
        qs, "query_id", "qtext", k = 5)
    }),

    // ---- INCREMENTAL BM25: index built on docs < 400, the "nightly
    //      batch" (>= 400) APPENDED (additive postings + stats, old
    //      files never rewritten) — queries must equal the full rebuild,
    //      so the same replay gates q115, q126 AND this path ----
    "q139_bm25_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = stagingDir("graft_bm25_inc") + "/idx"
      TextAnalysis.writeBm25Index(docs.filter(F.col("doc_id") < 400),
        "text", "doc_id", path, numBuckets = 16)
      TextAnalysis.appendBm25Index(docs.filter(F.col("doc_id") >= 400),
        "text", "doc_id", path)
      TextAnalysis.bm25TopKIndexed(s, path, query = "spark window join", k = 10)
    }),

    // ---- perplexity-proxy quality filter: mean -ln p(token) under the
    //      corpus unigram model (add-one smoothed); one staged
    //      tokenization pass feeds model and scoring ----
    "q106_unigram_nll" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "text", "doc_id")),

    // ---- bigram perplexity proxy: mean -ln p(w_i | w_{i-1}) — catches
    //      plausible-unigrams-wrong-order text (shuffles, OCR damage);
    //      one staged bigram tf frame feeds model + contexts + vocab ----
    "q131_bigram_nll" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(t(s, dir, "documents"), "text", "doc_id")),

    // ---- hashing-trick document embedding: 32-dim bucket counts under
    //      the portable md5 hash, L2-normalized; pure narrow map. The
    //      gate encodes components as integer micro-units (round(x*1e6)
    //      as long, comma-joined) because the driver comparator cannot
    //      sort array cells — the encoding is exact on both engines ----
    "q107_hash_embedding" -> ((s, dir) =>
      t(s, dir, "documents").select(F.col("doc_id"),
        F.array_join(
          F.transform(TextAnalysis.hashEmbedding(F.col("text"), 32),
            (x: Column) => F.round(x * 1e6).cast("long").cast("string")),
          ",").as("emb"))),

    // ---- classifier-based quality filtering: integer logit over the
    //      hashed embedding (micro-units) with literal trained weights —
    //      int64-exact, so the gate replays every logit bit-for-bit ----
    "q156_classifier_quality" -> ((s, dir) =>
      TextAnalysis.classifierQuality(t(s, dir, "documents"), "text",
        "doc_id", clfWeights)),

    // ---- STREAMING classifier-quality filter at ingest (the fastText-
    //      at-ingest shape): the q156 scorer is a per-doc pure function,
    //      so a drained four-micro-batch stream equals the batch filter
    //      exactly — zero stream state ----
    "q197_stream_classifier" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging0 = stagingDir("graft_stream_clf")
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging0,
        splitFiles = 4)
      val kept = TextAnalysis.classifierQuality(stream, "text", "doc_id",
        clfWeights.map(-_)).filter(F.col("keep"))
      val q = Streams.toParquetSink(kept, s"$staging0/out", s"$staging0/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging0/out")
    }),

    // ---- domain mixing weights: quality-mass² tilted per-source
    //      sampling table — int64-exact masses, one final division ----
    "q157_mixing_weights" -> ((s, dir) =>
      Scale.mixingWeights(t(s, dir, "documents"), "text", "source",
        alpha = 2)),

    // ---- CANONICAL DOC PER NEAR-DUP CLUSTER: keep the HIGHEST-QUALITY
    //      copy, not the lowest id — the "which duplicate survives"
    //      policy real dedup pipelines ship (q59 keeps cluster
    //      representatives by min-id; this ranks by the q24 quality
    //      signal, ties to the lower id). One keyed shuffle + per-
    //      cluster sort on top of the bounded cluster machinery ----
    "q174_canonical_keep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val clusters = Dedup.clusters(
          Dedup.minhashLsh(docs, "text", "doc_id", numBands = 4,
            rowsPerBand = 8, shingleN = 1, threshold = 0.8, maxBucket = 64))
        .select(F.col("id").as("doc_id"), F.col("cluster"))
      val scored = docs.select(F.col("doc_id"),
        TextAnalysis.qualityScore(F.col("text")).as("quality"))
      val assigned = scored.join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster", F.coalesce(F.col("cluster"), F.col("doc_id")))
      val w = Window.partitionBy("cluster")
        .orderBy(F.col("quality").desc, F.col("doc_id").asc)
      assigned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") === 1)
        .select("cluster", "doc_id", "quality")
    }),

    // ---- CORRELATED COUNT through the dialect: customers with fewer
    //      than 5 orders INCLUDING zero-order customers — COUNT over an
    //      empty correlation group is 0 in SQL, the one aggregate an
    //      inner-join decorrelation would silently drop; Catalyst's
    //      decorrelation of the scalar subquery handles that case ----
    "q172_sql_correlated_count" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c.c_custkey AS c_custkey
          |FROM customer c
          |WHERE 5 > (SELECT COUNT() FROM orders o
          |           WHERE o.o_custkey = c.c_custkey)""".stripMargin).df),

    // ---- the q157 weights APPLIED: per-source md5-keyed sampling sized
    //      to land the α-tilted mixture at a 300-doc budget (sources
    //      smaller than their allocation keep everything) — the
    //      build-the-mixture deliverable a pre-training run consumes ----
    "q171_sample_mixture" -> ((s, dir) =>
      Scale.sampleToMixture(t(s, dir, "documents"), "text", "source",
          F.col("doc_id"), budgetDocs = 300, alpha = 2)
        .select("doc_id", "source")),

    // ---- INTERVAL date arithmetic in the DIALECT — TPC-H Q1's proper
    //      spelling (`date - interval '90' day`) instead of a
    //      pre-computed literal; both DAY and MONTH units exercised,
    //      DuckDB evaluates the same calendar arithmetic natively ----
    "q194_sql_interval" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
          |  COUNT() AS n
          |FROM lineitem
          |WHERE l_shipdate <= '1998-12-01' - INTERVAL 90 DAY
          |  AND l_shipdate >= '1992-01-01' + INTERVAL 70 MONTH
          |GROUP BY l_returnflag, l_linestatus""".stripMargin).df),

    // ---- TPC-H Q1 VERBATIM through the dialect: the full statement —
    //      all four sums (incl. the disc_price/charge product
    //      aggregates), the three averages, the interval-derived
    //      shipdate bound, ORDER BY — not the simplified q20 shape;
    //      float aggregates rounded at 4dp per the determinism policy ----
    "q195_sql_tpch_q1_full" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag, l_linestatus,
          |  SUM(l_quantity) AS sum_qty,
          |  round(SUM(l_extendedprice), 4) AS sum_base_price,
          |  round(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
          |  round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
          |    AS sum_charge,
          |  round(AVG(l_quantity), 4) AS avg_qty,
          |  round(AVG(l_extendedprice), 4) AS avg_price,
          |  round(AVG(l_discount), 4) AS avg_disc,
          |  COUNT() AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= '1998-12-01' - INTERVAL 90 DAY
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin).df),

    // ---- quantified comparisons in the DIALECT: `> ALL (...)` compares
    //      against the max from ONE scalar subquery of (count, non-null
    //      count, min, max) — never a value collect — and `= ANY (...)`
    //      IS the IN subquery; DuckDB evaluates the same statement
    //      natively ----
    "q181_sql_any_all" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT s_suppkey, s_acctbal FROM supplier
          |WHERE s_acctbal > ALL (SELECT s2.s_acctbal FROM supplier s2
          |                       JOIN nation ON s2.s_nationkey = n_nationkey
          |                       WHERE n_name = 'GERMANY')
          |  AND s_nationkey = ANY (SELECT n_nationkey FROM nation
          |                         WHERE n_regionkey < 3)""".stripMargin).df),

    // ---- STREAMING mixture application: rates planned ONCE from the
    //      static snapshot (Scale.mixtureRates), applied per document
    //      at ingest over a four-micro-batch drain — per-doc md5
    //      decision against a broadcast rate table, so the drained sink
    //      must equal q171's batch output EXACTLY (same oracle) ----
    "q182_stream_mixture" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging0 = stagingDir("graft_stream_mix")
      val rates = Scale.mixtureRates(t(s, dir, "documents"), "text", "source",
        budgetDocs = 300, alpha = 2)
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging0,
        splitFiles = 4)
      val kept = Streams.sampleMixtureStream(stream, "source",
        F.col("doc_id"), rates).select("doc_id", "source")
      val q = Streams.toParquetSink(kept, s"$staging0/out", s"$staging0/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging0/out")
    }),

    // ---- TPC-H Q17 through the GRAFT DIALECT (q74 runs the same shape
    //      via Spark SQL): a CORRELATED scalar subquery, which Catalyst
    //      decorrelates into one per-partkey aggregate + an equi-join —
    //      never a per-row re-execution ----
    "q158_sql_tpch_q17d" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT round(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#4'
          |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
          |                    FROM lineitem l2
          |                    WHERE l2.l_partkey = p_partkey)""".stripMargin).df),

    // ---- TPC-H Q2 shape (min-cost supplier) on the available tables:
    //      the correlated subquery keys on the OUTER alias's column and
    //      the equality predicate compares against the per-key extreme ----
    "q159_sql_tpch_q2" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT s.s_name AS s_name, s.s_acctbal AS s_acctbal,
          |  n.n_name AS n_name
          |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
          |WHERE s.s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
          |                     WHERE s2.s_nationkey = s.s_nationkey)""".stripMargin).df),

    // ---- TPC-H Q11 shape: scalar subquery inside HAVING (a Catalyst
    //      scalar subquery over integer counts, so no float-boundary
    //      risk) ----
    "q160_sql_tpch_q11" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT o_custkey, COUNT() AS n_orders,
          |  round(SUM(o_totalprice), 4) AS value
          |FROM orders
          |GROUP BY o_custkey
          |HAVING COUNT() > (SELECT 0.0002 * COUNT() FROM orders)""".stripMargin).df),

    // ---- TPC-H Q9 shape (profit by nation and year): year() calendar
    //      extraction + LIKE part filter + 5-way join, aggregated over a
    //      CTE so the grouping keys are plain columns ----
    "q161_sql_tpch_q9" -> ((s, dir) =>
      Engine(s, dir).sql(
        """WITH t AS (
          |  SELECT n_name, year(o_orderdate) AS o_year,
          |    l_extendedprice * (1 - l_discount) AS amount
          |  FROM lineitem
          |  JOIN orders ON o_orderkey = l_orderkey
          |  JOIN supplier ON s_suppkey = l_suppkey
          |  JOIN nation ON n_nationkey = s_nationkey
          |  JOIN part ON p_partkey = l_partkey
          |  WHERE p_name LIKE '%red%')
          |SELECT n_name AS nation, o_year,
          |  round(SUM(amount), 4) AS sum_profit
          |FROM t GROUP BY n_name, o_year""".stripMargin).df),

    // ---- TPC-H Q20 shape: IN-subquery nesting + a correlated SUM over
    //      TWO correlation keys (partkey, suppkey) — the subquery block
    //      must alias its scan (l1) so the correlated refs are
    //      outer-qualified, exactly as standard SQL resolves them ----
    "q162_sql_tpch_q20" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT s_name, s_acctbal
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_3'
          |  AND s_suppkey IN (
          |    SELECT l1.l_suppkey FROM lineitem l1
          |    WHERE l1.l_partkey IN (SELECT p_partkey FROM part
          |                           WHERE p_name LIKE '%red%')
          |      AND l1.l_quantity > (SELECT 0.0005 * SUM(l2.l_quantity)
          |                           FROM lineitem l2
          |                           WHERE l2.l_partkey = l1.l_partkey
          |                             AND l2.l_suppkey = l1.l_suppkey))""".stripMargin).df),

    // ---- Z-order (Morton) keys: the 2-D clustering layout primitive;
    //      pure bit arithmetic, replayed by the oracle with shifts ----
    "q93_zorder_key" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        F.col("l_orderkey"), F.col("l_linenumber"),
        Scale.zOrderKey(F.col("l_partkey"), F.col("l_suppkey"), 16).as("z"))),

    // ---- corpus vocabulary stats (data-card material): top-20 tokens
    //      by frequency; TakeOrderedAndProject, deterministic tie-break ----
    "q91_top_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(F.explode(TextAnalysis.tokens(F.lower(F.col("text")))).as("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).as("n"))
        .orderBy(F.col("n").desc, F.col("token"))
        .limit(20)),

    // ---- per-doc top-3 terms by tf-idf: two keyed aggregations + a
    //      token join + per-doc window; ranking uses the ROUNDED score
    //      so the oracle replays the exact ordering ----
    "q94_tfidf_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "text", "doc_id", k = 3)),

    // ---- Gopher repetition signal: share of token n-grams taken by the
    //      single most frequent n-gram (n=2,3) — a pure narrow map; the
    //      value is a ratio of ints so the oracle replays it exactly ----
    "q95_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(F.col("doc_id"),
        TextAnalysis.topNgramFrac(F.col("text"), 2).as("top2_frac"),
        TextAnalysis.topNgramFrac(F.col("text"), 3).as("top3_frac"))),

    // ---- sliding context-window chunking (32-token windows, stride 24):
    //      per-document narrow explode, chunks never cross documents ----
    "q96_chunks" -> ((s, dir) =>
      Pack.slidingChunks(t(s, dir, "documents"), "text", "doc_id",
                         window = 32, stride = 24)),

    // ---- the reference's NATIVE BlockFile format, round-tripped: write
    //      lineitem (cast to the format's i32/f32/str/ts types) as one
    //      multi-block .bin, read it back through the DSv2 source (one
    //      partition per block, size-prefix column pruning) — the oracle
    //      reads the ORIGINAL parquet, so the gate proves byte-level
    //      losslessness of both sides ----
    "q141_blockfile_roundtrip" -> ((s, dir) => {
      val path = stagingDir("graft_blockfile") + "/lineitem.bin"
      val src = t(s, dir, "lineitem").select(
        F.col("l_orderkey").cast("int").as("l_orderkey"),
        F.col("l_linenumber").cast("int").as("l_linenumber"),
        F.col("l_quantity").cast("float").as("l_quantity"),
        F.col("l_returnflag"), F.col("l_linestatus"),
        F.col("l_shipdate"))
      Tables.blockFileWrite(src, path, rowsPerBlock = 8192)
      Tables.blockFileRead(s, path)
    }),

    // ---- BlockFile APPEND with last-block merge — the format's
    //      write-side invariant (reference io.py:231-252): base write of
    //      the even orderkeys leaves an under-full tail block, the odd
    //      append merges into it and re-splits at the cap; the read-back
    //      must equal the whole table ----
    "q145_blockfile_append" -> ((s, dir) => {
      val path = stagingDir("graft_bfappend") + "/orders.bin"
      val src = t(s, dir, "orders").select(
        F.col("o_orderkey").cast("int").as("o_orderkey"),
        F.col("o_custkey").cast("int").as("o_custkey"),
        F.col("o_totalprice").cast("float").as("o_totalprice"),
        F.col("o_orderstatus"))
      Tables.blockFileWrite(src.filter(F.col("o_orderkey") % 2 === 0),
        path, rowsPerBlock = 512)
      Tables.blockFileAppend(src.filter(F.col("o_orderkey") % 2 =!= 0),
        path, rowsPerBlock = 512)
      Tables.blockFileRead(s, path)
    }),

    // ---- PARALLEL BlockFile export at 10× the q141 volume: the
    //      directory-of-blocks writer (one part per task, NO driver
    //      byte path — q141/q145's single-file form is inherently a
    //      driver gather) round-tripped through the DSv2 reader, which
    //      treats the directory as one table. 10 distinct-keyed copies
    //      = 10 input partitions = 10 task-written parts; the oracle
    //      replays the replication, so the gate proves losslessness of
    //      the parallel path end-to-end ----
    "q165_blockfile_dir" -> ((s, dir) => {
      val path = stagingDir("graft_bfdir") + "/lineitem10"
      val base = t(s, dir, "lineitem").select(
        F.col("l_orderkey").cast("int").as("l_orderkey"),
        F.col("l_linenumber").cast("int").as("l_linenumber"),
        F.col("l_quantity").cast("float").as("l_quantity"),
        F.col("l_returnflag"), F.col("l_linestatus"),
        F.col("l_shipdate"))
      val x10 = (0 until 10).map(i => base.select(
          (F.col("l_orderkey") + F.lit(i * 10000000)).cast("int")
            .as("l_orderkey"),
          F.col("l_linenumber"), F.col("l_quantity"),
          F.col("l_returnflag"), F.col("l_linestatus"),
          F.col("l_shipdate")))
        .reduce(_.union(_))
      Tables.blockFileWriteDir(x10, path, rowsPerBlock = 8192)
      Tables.blockFileRead(s, path)
    }),

    // ---- ZONE MAPS on the native format: sorted write → per-block
    //      [min,max] sidecar → the filtered aggregation schedules ONLY
    //      the surviving blocks (parquet row-group stats, retrofitted
    //      onto the reference's .bin without changing its bytes). Every
    //      filter stays residual, so a wrongly-skipped block would fail
    //      this gate's hash, not just slow it down ----
    "q180_blockfile_zonemap" -> ((s, dir) => {
      val path = stagingDir("graft_bfzones") + "/lineitem.bin"
      val src = t(s, dir, "lineitem").select(
        F.col("l_orderkey").cast("int").as("l_orderkey"),
        F.col("l_quantity").cast("float").as("l_quantity"),
        F.col("l_returnflag"))
        .orderBy("l_orderkey")
      Tables.blockFileWrite(src, path, rowsPerBlock = 4096)
      graft.sources.ZoneMap.write(path)
      Tables.blockFileRead(s, path)
        .filter(F.col("l_orderkey") >= 10000 && F.col("l_orderkey") < 20000)
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("double")).as("sum_qty"),
          F.count(F.lit(1)).as("n"))
    }),

    // ---- language-mixing detection: per-32-token-window language ID
    //      vs the document vote — code-switched/concatenated/mislabeled
    //      docs poison monolingual mixes and a doc-level vote alone
    //      cannot see them ----
    "q140_language_mix" -> ((s, dir) =>
      TextAnalysis.languageMix(t(s, dir, "documents"), "text", "doc_id",
        window = 32)),

    // ---- mergeable distinct sketches: per-(lang, source) HLL sketches
    //      STORED, then unioned to per-lang estimates without touching
    //      raw data — the shardable form of COUNT(DISTINCT); gated like
    //      q43 (exact value + in-query accuracy flag, both replayable) ----
    "q138_sketch_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = stagingDir("graft_hll") + "/sketches"
      Scale.writeDistinctSketches(docs, Seq("lang", "source"),
        F.col("n_chars"), path)
      val est = Scale.mergedDistinctEstimate(s, path, Seq("lang"))
      docs.groupBy("lang")
        .agg(F.count_distinct(F.col("n_chars")).as("n_exact"))
        .join(est, "lang")
        .select(F.col("lang"), F.col("n_exact"),
          (F.abs(F.col("est") - F.col("n_exact")) <=
            F.col("n_exact") * 0.05 + 16).as("within_bound"))
    }),

    // ---- mergeable fixed-width histograms: three deterministic ingest
    //      shards each persist per-(lang, source) length histograms;
    //      the merge sums counts under the coarser per-lang grouping
    //      and reads off p50/p90 upper-bound estimates — the exactly-
    //      replayable quantile companion of the q138 HLL sketches
    //      (shard merge = whole-corpus histogram, which is the
    //      mergeability property the oracle checks) ----
    "q167_histogram_quantiles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = stagingDir("graft_hist")
      (0 until 3).foreach(i =>
        Scale.writeHistogramSketches(docs.filter(F.col("doc_id") % 3 === i),
          Seq("lang", "source"), F.col("n_chars"), s"$base/shard$i",
          width = 64))
      Scale.mergedQuantiles(s, s"$base/shard*", Seq("lang"),
          probs = Seq(0.5, 0.9), width = 64)
        .select("lang", "p", "q_est")
    }),

    // ---- exact-k-per-stratum sample ("exactly 5 docs per language"):
    //      bounded-heap selection by highest id-hash — uniform, stable,
    //      never a full-stratum window sort ----
    "q133_sample_k_per_group" -> ((s, dir) =>
      Scale.sampleKPerGroup(t(s, dir, "documents"), "lang",
          F.col("doc_id"), k = 5)
        .select("doc_id", "lang")),

    // ---- temperature mixing (α=0.5): keep-rate ∝ 1/sqrt(stratum size),
    //      broadcast per-source thresholds, md5 keep decision ----
    "q97_temperature_sample" -> ((s, dir) =>
      Scale.temperatureSample(t(s, dir, "documents"), "source",
                              F.col("doc_id"), k = 4.0)
        .select("doc_id", "source")),

    // ---- inverted index: token → (df, first-50 posting list) via the
    //      bounded-heap topk_pairs aggregate (capped per-group state).
    //      Postings are comma-joined to a scalar for the gate (the
    //      driver comparator cannot sort array cells) ----
    "q98_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "text", "doc_id",
                                 maxPostings = 50)
        .select(F.col("token"), F.col("n_docs"),
          F.array_join(F.col("postings").cast("array<string>"), ",")
            .as("postings"))),

    // ---- keep BEST-QUALITY doc per near-dup cluster (vs q59's keep-min-
    //      id): struct-max argmax with (quality, doc_id) tie-break; the
    //      oracle replays pairs → recursive closure → windowed argmax ----
    "q92_cluster_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cl = Dedup.clusters(
        Dedup.minhashLsh(docs, "text", "doc_id", numBands = 4,
          rowsPerBand = 8, shingleN = 1, threshold = 0.8, maxBucket = 64))
      val scored = docs.select(F.col("doc_id"),
        TextAnalysis.qualityScore(F.col("text")).as("quality"))
      cl.join(scored, cl("id") === scored("doc_id"))
        .groupBy(F.col("cluster"))
        .agg(F.max(F.struct(F.col("quality"), F.col("doc_id"))).as("best"),
          F.count(F.lit(1)).as("n_members"))
        .select(F.col("cluster"), F.col("best.doc_id").as("keep_id"),
          F.col("best.quality").as("best_quality"), F.col("n_members"))
    }),

    // ---- dedup-at-ingest: streaming minhash candidate pairs (bucket
    //      state across micro-batches, flatMapGroupsWithState) over a
    //      real file-source stream; cap set above the largest bucket so
    //      the emitted set equals the batch pipeline's uncapped
    //      candidates and the DuckDB banding replay gates it ----
    "q90_stream_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = stagingDir("graft_stream_nd")
      val raw = stagedFileStream(s, s"$dir/documents.parquet", staging)
      val cands = Streams.minhashCandidatesStream(raw, "text", "doc_id",
        numBands = 4, rowsPerBand = 8, shingleN = 1, maxBucket = 100000)
      val q = Streams.toParquetSink(cands, s"$staging/out", s"$staging/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging/out")
    }),

    // ---- CASE WHEN through the SQL dialect front-end (extension §7.1):
    //      searched form inside aggregates (conditional counting — the
    //      corpus-mixing idiom) and the simple form `CASE x WHEN v` ----
    "q82_sql_casewhen" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT l_returnflag,
          |  SUM(CASE WHEN l_quantity < 10 THEN 1 ELSE 0 END) AS n_small,
          |  SUM(CASE WHEN l_quantity BETWEEN 10 AND 30 THEN 1 ELSE 0 END) AS n_mid,
          |  SUM(CASE l_linestatus WHEN 'O' THEN l_quantity ELSE 0 END) AS qty_open
          |FROM lineitem GROUP BY l_returnflag""".stripMargin).df),

    // ---- product-quantization ANN: encode vectors to 4 subspace codes,
    //      serve top-k by asymmetric distance (LUT lookups, no per-row
    //      float math) — the compressed-index path that holds billions
    //      of vectors; oracle replays codes + LUT + ADC exactly ----
    "q122_knn_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.pqTopKAdc(emb, "embedding", "vec_id", q, pqCodebooks, k = 10)
        .select(F.col("vec_id"), F.round(F.col("dist"), 6).as("dist"))
    }),

    // ---- IVF-PQ: bucket pruning + compressed ADC scan composed — the
    //      production serving config; oracle replays both stages ----
    "q123_knn_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.pqTopKIvf(emb, "embedding", "vec_id", q,
        ivfCentroids, pqCodebooks, k = 10, nprobe = 2)
        .select(F.col("vec_id"), F.round(F.col("dist"), 6).as("dist"))
    }),

    // ---- IVF-PQ over the SERVING LAYOUT: codes stored partitioned by
    //      bucket, query touches nprobe partitions and reads ONLY the
    //      codes column (no vector I/O); same oracle as q123 — the
    //      layout must be result-transparent ----
    "q124_knn_pq_layout" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      val path = stagingDir("graft_pq_codes") + "/codes"
      Similarity.writeIvfPqCodes(emb, "embedding", "vec_id",
        ivfCentroids, pqCodebooks, path)
      Similarity.pqTopKFromCodes(s, path, "vec_id", q,
        ivfCentroids, pqCodebooks, k = 10, nprobe = 2)
        .select(F.col("vec_id"), F.round(F.col("dist"), 6).as("dist"))
    }),

    // ---- IVF-PQ + EXACT RE-RANK: ADC over probed cells pools 50
    //      compressed candidates, full vectors are read for ONLY those
    //      50, exact squared-L2 picks the final top-10 — the serving
    //      config that closes PQ's recall gap while touching O(rerank)
    //      raw vectors per query; oracle replays all three stages ----
    "q168_knn_ivfpq_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.pqTopKIvfRefine(emb, "embedding", "vec_id", q,
        ivfCentroids, pqCodebooks, k = 10, nprobe = 2, rerank = 50)
        .select(F.col("vec_id"), F.round(F.col("dist"), 6).as("dist"))
    }),

    // ---- the COMPLETE production ANN serving config: stored
    //      bucket-partitioned codes serve the ADC candidate pool
    //      (partition-pruned, no vector I/O — q124's layout), exact
    //      squared-L2 re-ranks ONLY the pool's full vectors (q168's
    //      refine) — and the layout must be result-transparent: the
    //      oracle is the same replay as the in-flight q168 ----
    "q175_knn_stored_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(F.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      val path = stagingDir("graft_pq_refine") + "/codes"
      Similarity.writeIvfPqCodes(emb, "embedding", "vec_id",
        ivfCentroids, pqCodebooks, path)
      Similarity.pqTopKFromCodesRefine(s, path, emb, "embedding", "vec_id",
        q, ivfCentroids, pqCodebooks, k = 10, nprobe = 2, rerank = 50)
        .select(F.col("vec_id"), F.round(F.col("dist"), 6).as("dist"))
    }),

    // ---- decontamination AT INGEST: the q77 check as a streaming
    //      foreachBatch pass over a file-source corpus stream against a
    //      static eval set — per-document statistic, so per-batch
    //      evaluation IS the batch semantics; the oracle is the exact
    //      batch replay ----
    "q121_stream_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = stagingDir("graft_stream_decon")
      val docs = t(s, dir, "documents")
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging)
        .filter(F.col("doc_id") >= 20)
      val q = Streams.decontaminateToParquet(
        stream, "text", "doc_id",
        docs.filter(F.col("doc_id") < 20), "text",
        s"$staging/out", s"$staging/ckpt",
        k = 3, minShared = 4)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging/out")
        .select(F.col("id").as("doc_id"), F.col("n_shared"))
    }),

    // ---- STREAMING fuzzy decontamination: the q129 check at ingest —
    //      the corpus file drains over FOUR micro-batches, each banded
    //      against the static eval side (prepared once, persisted);
    //      per-document statistic → batch ≡ stream, gated by the
    //      uncapped cross-pair replay (the q90/q121 precedent) ----
    "q134_stream_fuzzy_decon" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging = stagingDir("graft_stream_fuzzy")
      val docs = t(s, dir, "documents")
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging,
          splitFiles = 4)
        .filter(F.col("doc_id") >= 20)
      val q = Streams.fuzzyDecontaminateToParquet(
        stream, "text", "doc_id",
        docs.filter(F.col("doc_id") < 20), "text", "doc_id",
        s"$staging/out", s"$staging/ckpt",
        numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.5)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$staging/out")
        .select("corpus_id", "eval_id", "jaccard")
    }),

    // ---- INCREMENTAL minhash dedup: docs < 400 are a pre-built index
    //      (band keys + shingle hashes, text never re-read); the q29
    //      pipeline then runs for the "nightly batch" (>= 400) against
    //      index ∪ batch — the oracle is the FULL batch replay filtered
    //      to new-involving pairs, so the incremental path must land
    //      exactly the batch result ----
    "q125_minhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = stagingDir("graft_mh_index") + "/idx"
      Dedup.writeMinhashIndex(docs.filter(F.col("doc_id") < 400),
        "text", "doc_id", path, numBands = 4, rowsPerBand = 8, shingleN = 1)
      Dedup.minhashLshIncremental(docs.filter(F.col("doc_id") >= 400),
        "text", "doc_id", path, numBands = 4, rowsPerBand = 8,
        shingleN = 1, threshold = 0.8, maxBucket = 64)
    }),

    // ---- corpus-duplicated n-gram REMOVAL: the rewrite form of exact
    //      substring dedup — 8-grams shared by >= 2 docs mark their
    //      positions, documents rebuild from unmarked tokens; the
    //      oracle replays the whole rewrite including the cleaned text ----
    "q152_remove_dup_ngrams" -> ((s, dir) =>
      Dedup.removeDuplicatedNgrams(t(s, dir, "documents"), "text", "doc_id",
        n = 8, minDocs = 2)),

    // ---- VERSIONED dataset snapshots: commit v1 (even ids), append v2
    //      (odd ids), then TIME-TRAVEL read v1 while the head is v2 and
    //      read the head — atomic manifest-pinned snapshots, the corpus-
    //      publishing primitive (immutable segments + rename commit,
    //      the BM25 generation protocol generalized to tables) ----
    "q177_versioned_snapshot" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "source")
      val path = stagingDir("graft_versioned") + "/ds"
      Versioned.commit(base.filter(F.col("doc_id") % 2 === 0), path)
      Versioned.commit(base.filter(F.col("doc_id") % 2 === 1), path)
      Versioned.read(s, path, Some(1L)).withColumn("version", F.lit(1))
        .unionAll(Versioned.read(s, path).withColumn("version", F.lit(2)))
    }),

    // ---- EXACT heavy hitters via a mergeable Misra-Gries sketch +
    //      exact confirm over the <= k candidates: k=32 holds the whole
    //      (31-word) vocabulary so 30 value-checked rows survive the
    //      n/33 threshold; k=8 forces sketch decrements AND an empty
    //      true answer — the sketch must fabricate nothing ----
    "q186_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Scale.heavyHitterTokens(docs, "text", k = 32).withColumn("k", F.lit(32))
        .unionAll(
          Scale.heavyHitterTokens(docs, "text", k = 8).withColumn("k", F.lit(8)))
    }),

    // ---- STORED heavy-hitter sketches, sharded by source: per-shard
    //      Misra-Gries summaries persisted, merged by candidate UNION
    //      (a global heavy hitter must be shard-heavy somewhere —
    //      pigeonhole), exact confirm at query time; must equal q186's
    //      single-pass answer, which is what the oracle checks ----
    "q191_heavy_hitters_sharded" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = stagingDir("graft_hh_shards") + "/sketches"
      Scale.writeHeavyHitterSketches(docs, "text", "source", k = 32, path)
      Scale.mergedHeavyHitters(docs, "text", s, path, k = 32)
    }),

    // ---- STREAMING heavy-hitter ingest: each micro-batch persists its
    //      own MG sketch shard (a batch IS a corpus shard, so q191's
    //      pigeonhole superset argument applies verbatim); the merged
    //      query over a four-micro-batch drain must equal the batch
    //      answer exactly — same oracle as q186/q191 ----
    "q192_stream_heavy_hitters" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val staging0 = stagingDir("graft_stream_hh")
      val stream = stagedFileStream(s, s"$dir/documents.parquet", staging0,
        splitFiles = 4)
      val q = Streams.heavyHitterSink(stream, "text", s"$staging0/hh",
          s"$staging0/ckpt", k = 32)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Scale.mergedHeavyHitters(t(s, dir, "documents"), "text", s,
        s"$staging0/hh/shard-*", k = 32)
    }),

    // ---- token-budget truncation: clip every doc to its first 96
    //      whitespace tokens (the context-length cap before packing) —
    //      a pure narrow rewrite; the oracle replays the clip and the
    //      single-space rejoin byte-for-byte ----
    "q185_truncate_tokens" -> ((s, dir) =>
      Pack.truncateTokens(t(s, dir, "documents"), "text", "doc_id",
        maxTokens = 96)),

    // ---- Unicode-canonical text normalization (NFC + whitespace
    //      collapse + trim): the pre-dedup canonicalization pass as a
    //      codegen'd native expression; DuckDB replays NFC as the
    //      Unicode-standard nfc_normalize, byte-for-byte ----
    "q183_normalize_text" -> ((s, dir) =>
      t(s, dir, "documents").select(F.col("doc_id"),
        TextAnalysis.normalizeText(F.col("text")).as("norm_text"))),

    // ---- HTML → text extraction (the web-crawl ingest step): each doc
    //      wrapped in-flight into a deterministic page — style block,
    //      comment, entity-bearing heading, script block — then
    //      stripMarkup must drop blocks WITH content, strip tags,
    //      decode entities (&amp; last) and collapse whitespace; the
    //      oracle builds the identical page and replays the identical
    //      regex/replace chain in RE2 ----
    "q200_strip_markup" -> ((s, dir) =>
      t(s, dir, "documents").select(F.col("doc_id"),
        TextAnalysis.stripMarkup(F.concat(
          F.lit("<html><head><style>p{color:red}</style></head><body><!-- id="),
          F.col("doc_id").cast("string"),
          F.lit(" --><h1>Doc &amp; &lt;tag&gt; "),
          F.col("doc_id").cast("string"),
          F.lit("</h1>\n<p class=\"body\">"),
          F.col("text"),
          F.lit("</p><script>var x = 1 < 2;</script></body></html>")))
          .as("clean"))),

    // ---- URL hygiene (crawl curation): every doc gets a synthesized
    //      URL exercising each normalization rule — mixed-case scheme/
    //      host, www. label, default vs non-default ports, tracking
    //      params (incl. a param list that empties), fragments, and a
    //      second-level public-suffix domain (.co.uk → three labels);
    //      the oracle builds the identical URL and replays the chain ----
    "q201_url_normalize" -> ((s, dir) => {
      val d = F.col("doc_id")
      val url = F.concat(
        F.when(d % 2 === 0, "HTTP://").otherwise("https://"),
        F.when(d % 4 < 2, "WWW.").otherwise(F.lit("")),
        F.upper(F.col("source")),
        F.when(d % 3 === 0, ".Example.COM")
          .when(d % 3 === 1, ".news.CO.UK").otherwise(".blog.ORG"),
        F.when(d % 5 === 0, ":8080")
          .when(d % 2 === 0, ":80").otherwise(":443"),
        F.lit("/Articles/"), d.cast("string"),
        F.when(d % 7 === 0, "?utm_medium=em")
          .when(d % 2 === 0, F.concat(F.lit("?utm_source=feed&id="),
            d.cast("string"), F.lit("&utm_campaign=x")))
          .otherwise(F.concat(F.lit("?id="), d.cast("string"),
            F.lit("&fbclid=abc"))),
        F.when(d % 3 === 0, F.concat(F.lit("#Sec-"), d.cast("string")))
          .otherwise(F.lit("")))
      val norm = Web.normalizeUrl(url)
      t(s, dir, "documents").select(d.as("doc_id"),
        norm.as("norm_url"),
        Web.host(norm).as("host"),
        Web.registrableDomain(Web.host(norm)).as("domain"))
    }),

    // ---- domain blocklist filtering + per-domain stats composed: the
    //      example.com docs drop via the LEFT ANTI join on the derived
    //      registrable domain (never a collected set — real blocklists
    //      are millions of rows), then the survivors aggregate one
    //      (domain, count) row each ----
    "q202_domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      val d = F.col("doc_id")
      val url = F.concat(
        F.when(d % 2 === 0, "HTTP://").otherwise("https://"),
        F.upper(F.col("source")),
        F.when(d % 3 === 0, ".Example.COM")
          .when(d % 3 === 1, ".news.CO.UK").otherwise(".blog.ORG"),
        F.lit("/p/"), d.cast("string"))
      val docs = t(s, dir, "documents").withColumn("url", url)
      val blocklist = Seq("example.com").toDF("domain")
      Web.domainStats(
        Web.filterBlockedDomains(docs, "url", blocklist), "url")
    }),

    // ---- copy-on-write DELETE on the versioned layer (the takedown /
    //      GDPR primitive): the delete commits a NEW version; the head
    //      serves the filtered corpus while v1 stays readable as the
    //      audit trail until vacuum ----
    "q193_versioned_delete" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "source")
      val path = stagingDir("graft_versioned_del") + "/ds"
      Versioned.commit(base, path)
      Versioned.deleteWhere(s, path, F.col("doc_id") % 3 === 0)
      Versioned.read(s, path).withColumn("version", F.lit(2))
        .unionAll(Versioned.read(s, path, Some(1L))
          .withColumn("version", F.lit(1)))
    }),

    // ---- PER-SOURCE boilerplate-line removal: a non-blank line in
    //      >= 3 distinct docs of one source is template text (nav bars,
    //      footers); rebuild every doc from its surviving lines. The
    //      oracle replays the vote AND the byte-identical rewrite ----
    "q176_remove_boilerplate" -> ((s, dir) =>
      Dedup.removeBoilerplateLines(t(s, dir, "documents"), "text", "doc_id",
        "source", minDocs = 3)),

    // ---- WITHIN-doc repeated-line removal: keep the first occurrence
    //      of each non-blank line — a pure narrow rewrite (zero
    //      shuffles); the oracle replays first-position selection and
    //      the rebuilt text byte-for-byte ----
    "q178_remove_repeated_lines" -> ((s, dir) =>
      Dedup.removeRepeatedLines(t(s, dir, "documents"), "text", "doc_id")),

    // ---- INCREMENTAL clustering: stored assignment (a depth-1
    //      spanning forest of the old graph) ∪ the nightly batch's
    //      incremental pairs → same components as a full recompute,
    //      without re-reading the old pair set; the oracle replays BOTH
    //      capping regimes (old-corpus buckets for the old side,
    //      combined buckets for new-involving pairs) then the closure ----
    "q154_clusters_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldDocs = docs.filter(F.col("doc_id") < 400)
      val idxPath = stagingDir("graft_mh_index_cl") + "/idx"
      Dedup.writeMinhashIndex(oldDocs, "text", "doc_id", idxPath,
        numBands = 4, rowsPerBand = 8, shingleN = 1)
      val assignment = Dedup.clusters(
        Dedup.minhashLsh(oldDocs, "text", "doc_id", numBands = 4,
          rowsPerBand = 8, shingleN = 1, threshold = 0.8, maxBucket = 64))
      val newPairs = Dedup.minhashLshIncremental(
        docs.filter(F.col("doc_id") >= 400), "text", "doc_id", idxPath,
        numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.8,
        maxBucket = 64)
      Dedup.clustersIncremental(assignment, newPairs)
        .select(F.col("id").as("doc_id"), F.col("cluster"))
    }),

    // ---- CONTAINMENT pairs: subset duplication (|A∩B| / min) — blocked
    //      by (lang, source) WITHOUT a length bucket, since the point is
    //      catching asymmetric-length pairs Jaccard scores low ----
    "q143_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        F.struct(F.col("lang"), F.col("source")), shingleN = 1,
        threshold = 0.9, maxBlock = 1024)),

    // ---- FUZZY decontamination: minhash near-dup pairs BETWEEN corpus
    //      (doc_id >= 20) and eval set (doc_id < 20) — catches the
    //      paraphrased/edited contamination q77's exact gram overlap
    //      misses. Equals the full q29-style banding over the union
    //      restricted to cross-side pairs, which the oracle replays ----
    "q129_fuzzy_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashLshCross(
        docs.filter(F.col("doc_id") >= 20), "text", "doc_id",
        docs.filter(F.col("doc_id") < 20), "text", "doc_id",
        numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.5,
        maxBucket = 64)
    }),

    // ---- per-source contamination REPORT: the q129 cross-corpus
    //      fuzzy-decontamination pairs rolled up to the number every
    //      data lead actually asks for — "how contaminated is each
    //      source against the eval set?". Adds one distinct + one
    //      left join + one agg on top of the cross pipeline; the
    //      flagged-id set is bounded by the eval side, so the join
    //      side AQE broadcasts is small by construction ----
    "q166_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val flagged = Dedup.minhashLshCross(
          docs.filter(F.col("doc_id") >= 20), "text", "doc_id",
          docs.filter(F.col("doc_id") < 20), "text", "doc_id",
          numBands = 4, rowsPerBand = 8, shingleN = 1, threshold = 0.5,
          maxBucket = 64)
        .select("corpus_id").distinct()
      docs.filter(F.col("doc_id") >= 20)
        .join(flagged, docs("doc_id") === flagged("corpus_id"), "left")
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.count(F.col("corpus_id")).as("n_contaminated"),
          F.round(F.count(F.col("corpus_id")) /
            F.count(F.lit(1)).cast("double"), 6).as("contaminated_frac"))
    }),

    // ---- corpus snapshot diff: classify ids across two corpus
    //      versions (added/removed/changed/unchanged by content
    //      fingerprint) — the incremental-pipeline primitive; both
    //      versions derived deterministically from `documents` so the
    //      oracle replays the exact scenario ----
    "q120_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldV = docs.filter(F.col("doc_id") % 5 =!= 0)
      val newV = docs.filter(F.col("doc_id") % 7 =!= 0)
        .select(F.col("doc_id"),
          F.when(F.col("doc_id") % 3 === 0,
              F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text")).as("text"))
      Dedup.corpusDiff(oldV, newV, "text", "doc_id")
        .select(F.col("id").as("doc_id"), F.col("status"))
    }),

    // ---- scalar subqueries through the SQL dialect front-end
    //      (extension §2.5): the TPC-H Q17 shape — small-order filter
    //      bound derived from a global aggregate, membership from a
    //      part-table subquery; both are Catalyst subquery expressions,
    //      so building the frame runs no job ----
    "q119_sql_scalar_subquery" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT round(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
          |FROM lineitem
          |WHERE l_partkey IN (SELECT p_partkey FROM part
          |                    WHERE p_brand = 'Brand#13')
          |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem)""".stripMargin).df),

    // ---- IN (SELECT ...) through the SQL dialect front-end (extension
    //      §2.5): a membership predicate AND a NOT IN in one query — the
    //      IN a Catalyst EXISTS over the equal rows, the NOT IN its NOT
    //      (the anti-join reading); Catalyst plans them as
    //      left semi / left anti joins ----
    "q118_sql_in_subquery" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c_custkey, c_mktsegment FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders
          |                    WHERE o_totalprice > 400000)
          |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
          |                        WHERE o_orderstatus = 'F')""".stripMargin).df),

    // ---- window functions through the SQL dialect front-end
    //      (extension §2.5): per-customer price ranking plus a
    //      whole-partition windowed SUM, filtered to the top 2 per
    //      customer through a derived table — the top-k-per-group idiom
    //      in pure dialect SQL ----
    "q117_sql_window" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT o_orderkey, o_custkey, rn, cust_total FROM
          |  (SELECT o_orderkey, o_custkey,
          |     ROW_NUMBER() OVER (PARTITION BY o_custkey
          |                        ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          |     round(SUM(o_totalprice) OVER (PARTITION BY o_custkey), 4)
          |       AS cust_total
          |   FROM orders) t
          |WHERE rn <= 2""".stripMargin).df
        .select(F.col("o_orderkey"), F.col("o_custkey"),
                F.col("rn").cast("long").as("rn"), F.col("cust_total"))),

    // ---- derived tables through the SQL dialect front-end (extension
    //      §7.1): a FROM subquery aggregated again (count-of-counts, the
    //      TPC-H Q13 shape) and a JOIN-side derived table — inline
    //      decomposition without naming a CTE ----
    "q114_sql_derived" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT n_orders, COUNT() AS n_custs FROM
          |  (SELECT o_custkey, COUNT() AS n_orders
          |   FROM orders GROUP BY o_custkey) per_cust
          |GROUP BY n_orders""".stripMargin).df
        .select(F.col("n_orders").cast("long").as("n_orders"),
                F.col("n_custs").cast("long").as("n_custs"))),

    // ---- WITH CTEs through the SQL dialect front-end (extension §7.1):
    //      two bindings, the second consumed by name in a JOIN, plain
    //      lexical scoping — the decomposition idiom every analyst
    //      query over the corpus uses ----
    "q108_sql_cte" -> ((s, dir) =>
      Engine(s, dir).sql(
        """WITH big AS (
          |  SELECT o_custkey, SUM(o_totalprice) AS spend
          |  FROM orders GROUP BY o_custkey
          |  HAVING SUM(o_totalprice) > 300000.5
          |), seg AS (
          |  SELECT c_custkey, c_mktsegment FROM customer
          |)
          |SELECT c_mktsegment, COUNT() AS n_big_spenders
          |FROM big JOIN seg ON o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin).df),

    // ---- IN lists and IS [NOT] NULL through the SQL dialect (extension
    //      §7.1): null tests against LEFT-JOIN-produced nulls — the
    //      construct outer-join consumers need ----
    "q84_sql_in_null" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey
          |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          |WHERE o.o_orderkey IS NULL
          |   OR o.o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin).df),

    // ---- sequence packing (concat-and-chunk): absolute packed-stream
    //      positions + chunk ranges per document via the two-level
    //      parallel prefix sum (shardSpan 64 → the sharded path really
    //      runs at sf0.01); oracle is the equivalent single global
    //      running-total window ----
    "q86_pack_chunks" -> ((s, dir) =>
      Pack.concatChunk(
        t(s, dir, "documents").select(F.col("doc_id"),
          TextAnalysis.tokenCount(F.col("text")).as("n_tok")),
        "doc_id", "n_tok", capacity = 1024, shardSpan = 64)),

    // ---- PII redaction: deterministic synthetic PII appended per doc
    //      (the corpus has none), then the redaction pass; the oracle
    //      replays both the construction and the scrub ----
    "q87_pii_redact" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").select(
        F.col("doc_id"),
        F.concat(F.col("text"),
          F.lit(" contact user"), F.col("doc_id").cast("string"),
          F.lit("@example.com or 555-123-4567 at 10.0.0."),
          F.pmod(F.col("doc_id"), F.lit(256)).cast("string")).as("text"))
      TextAnalysis.redactPii(withPii, "text", "doc_id")
    }),

    // ---- deterministic train/validation/test split (hash-based,
    //      rerun/backfill-stable, partition-invariant) ----
    "q88_hash_split" -> ((s, dir) =>
      Scale.hashSplit(t(s, dir, "documents"), F.col("doc_id"))
        .select("doc_id", "split")),

    // ---- scalar functions through the SQL dialect (extension §7.1):
    //      lower/upper/length/substr/round/coalesce, incl. coalesce over
    //      LEFT-JOIN-produced nulls and nested calls ----
    "q89_sql_scalar_fns" -> ((s, dir) =>
      Engine(s, dir).sql(
        """SELECT c.c_custkey AS c_custkey,
          |  coalesce(upper(o.o_orderpriority), 'NONE') AS prio,
          |  lower(c.c_mktsegment) AS seg,
          |  length(c.c_name) AS name_len,
          |  substr(c.c_name, 1, 8) AS name8,
          |  round(c.c_acctbal / 3, 4) AS third_bal
          |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin).df),

    // ---- audio feature extraction plumbing: the synthetic corpus takes
    //      the deterministic stub path (decoded = false → oracle is pure
    //      arithmetic); REAL javax.sound WAV decode + RMS is spec-covered
    //      with generated PCM bytes (OperatorsSpec) ----
    "q85_audio_features" -> ((s, dir) =>
      Multimodal.audioFeatures(
        Multimodal.synthesize(t(s, dir, "documents"), "doc_id", "text"))),
  )

  /** The BM25 differential replay — shared verbatim by q115 (per-query
    * aggregation) and q126 (persisted index): the index layout must not
    * change a single score bit. */
  private val bm25Replay: String =
    """WITH toks AS (SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
      |    x -> len(x) > 0)) AS token FROM documents),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |q AS (SELECT unnest(['spark', 'window', 'join']) AS token),
      |m AS (SELECT tf.* FROM tf JOIN q USING (token)),
      |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM m GROUP BY 1),
      |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(len) AS DOUBLE) AS total_len FROM lens),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |scored AS (SELECT m.doc_id,
      |    round(ln(1 + (nd.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * (m.tf * (1.2 + 1))
      |      / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * lens.len / (tot.total_len / nd.n))),
      |      9) AS ts
      |  FROM m JOIN dfreq USING (token) JOIN lens USING (doc_id), tot, nd)
      |SELECT doc_id, round(sum(ts), 6) AS bm25
      |FROM scored GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** The brute-force cosine top-10 replay — shared by q32 and q130's
    * recall evaluation (the exact side of the intersection). */
  /** The q206/q212 funnel replay: earliest entry anchors the 7-day
    * window, each later step is the earliest in-window event at-or-
    * after the previous step's time — shared by the batch funnel and
    * its compacted-at-ingest streaming twin. */
  /** The q217/q218 next-fit bin walk, replayed sequentially per shard
    * with a recursive CTE (batch and streaming must land the IDENTICAL
    * assignment — one replay gates both). */
  private val nextFitReplay: String =
    """WITH RECURSIVE ordered AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 16 AS shard,
      |    CAST(len(list_filter(
      |      regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
      |      x -> len(x) > 0)) AS BIGINT) AS ntok,
      |    row_number() OVER (PARTITION BY
      |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |        % 16 ORDER BY doc_id) AS rn
      |  FROM documents
      |), pack AS (
      |  SELECT shard, rn, doc_id, ntok, 0 AS bin, ntok AS acc
      |  FROM ordered WHERE rn = 1
      |  UNION ALL
      |  SELECT o.shard, o.rn, o.doc_id, o.ntok,
      |    CASE WHEN p.acc > 0 AND p.acc + o.ntok > 256
      |         THEN p.bin + 1 ELSE p.bin END,
      |    CASE WHEN p.acc > 0 AND p.acc + o.ntok > 256
      |         THEN o.ntok ELSE p.acc + o.ntok END
      |  FROM pack p JOIN ordered o
      |    ON o.shard = p.shard AND o.rn = p.rn + 1
      |)
      |SELECT doc_id, CAST(shard AS INTEGER) AS shard,
      |  bin, ntok FROM pack""".stripMargin

  private val funnelReplay: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |s1 AS (SELECT user_id, min(us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, s1.t1, min(e.us) AS t2
      |  FROM e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.us >= s1.t1
      |    AND e.us <= s1.t1 + 604800000000
      |  GROUP BY e.user_id, s1.t1),
      |s3 AS (SELECT e.user_id, s2.t1, min(e.us) AS t3
      |  FROM e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= s2.t2
      |    AND e.us <= s2.t1 + 604800000000
      |  GROUP BY e.user_id, s2.t1)
      |SELECT 1 AS step, 'view' AS step_type,
      |  CAST(count(*) AS BIGINT) AS n_users FROM s1
      |UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
      |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3""".stripMargin

  private val bruteKnnReplay: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id = 0),
      |scored AS (SELECT vec_id,
      |  list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
      |   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
      |      * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))) AS raw
      | FROM embeddings)
      |SELECT vec_id, round(raw, 6) AS score
      |FROM scored ORDER BY raw DESC, vec_id LIMIT 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_scan" -> "SELECT r_regionkey, r_name FROM region",

    "q02_project_arith" ->
      """SELECT l_orderkey, l_linenumber,
        | l_quantity * (1 - l_discount) AS net_qty,
        | l_extendedprice * (1 + l_tax) AS gross_price,
        | l_orderkey % 10 AS ok_mod,
        | CAST(floor(l_orderkey / 7) AS BIGINT) AS ok_div
        |FROM lineitem""".stripMargin,

    "q03_concat_like" ->
      """SELECT c_custkey, c_name || '-' || c_mktsegment AS tag
        |FROM customer
        |WHERE c_name LIKE '%1%' AND c_mktsegment NOT LIKE 'A%'""".stripMargin,

    "q04_filter_bool" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE (l_quantity > 30 AND l_discount < 0.05)
        |   OR (l_returnflag = 'R' AND l_tax > 0.07)""".stripMargin,

    "q05_between_ts" ->
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'""".stripMargin,

    "q06_q1_flagship" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q07_group_minmax" ->
      """SELECT o_orderstatus, min(o_totalprice) AS min_price,
        | max(o_totalprice) AS max_price, CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q08_having_sql" ->
      """SELECT l_partkey, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_partkey
        |HAVING sum(l_quantity) > 900""".stripMargin,

    "q09_group_avg" ->
      """SELECT l_returnflag,
        | round(avg(l_extendedprice * (1 - l_discount)), 4) AS avg_net,
        | round(avg(l_quantity), 4) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q10_count_distinct" ->
      """SELECT o_orderstatus,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        | CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q11_join_agg" ->
      """SELECT c_mktsegment, round(sum(o_totalprice), 4) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q12_join3" ->
      """SELECT o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-01'
        |  AND l_shipdate > TIMESTAMP '1996-06-01'
        |GROUP BY o_orderpriority""".stripMargin,

    "q13_join_left" ->
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_big_orders
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
        |  ON c_custkey = o.o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q14_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""".stripMargin,

    "q15_join_anti" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""".stripMargin,

    "q16_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q71_sql_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q66_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q67_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q17_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q18_window_rank" ->
      """SELECT * FROM (
        | SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        | FROM orders) WHERE rk <= 5""".stripMargin,

    "q19_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // an event at tu lands in windows starting at n*slide for
    // n in (floor((tu-len)/slide), floor(tu/slide)] — the epoch-aligned
    // [start, start+len) assignment Spark's window() uses
    "q76_sliding_windows" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS tu FROM events),
        |w AS (SELECT event_type, value,
        |  unnest(range(CAST(floor((tu - 3600000000) / 1800000000.0) AS BIGINT) + 1,
        |               CAST(floor(tu / 1800000000.0) AS BIGINT) + 1)) AS n
        | FROM e)
        |SELECT strftime(make_timestamp(n * 1800000000), '%Y-%m-%d %H:%M:%S') AS win_start,
        | event_type, CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    "q20_sql_q1" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS count
        |FROM lineitem GROUP BY l_returnflag
        |HAVING sum(l_quantity) > 100""".stripMargin,

    "q21_sql_join" ->
      """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 1000
        |GROUP BY c_mktsegment""".stripMargin,

    "q22_sql_events" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY event_type""".stripMargin,

    // tokens are NON-EMPTY whitespace runs on both sides: a bare
    // regexp_split yields empty strings for empty/tab-led/trailing-ws
    // text in DuckDB, so token counts filter them exactly like
    // TextAnalysis.tokens does
    "q23_token_stats" ->
      s"""WITH ${docStatsCte()}
         |SELECT doc_id, n_tok AS n_tokens,
         | len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
         |     x -> len(x) > 0)) AS n_subwords,
         | length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         | n_sw AS n_stopwords
         |FROM d""".stripMargin,

    "q24_quality" ->
      s"""WITH ${docStatsCte()}
         |SELECT doc_id, $qualityExprSql AS quality
         |FROM d""".stripMargin,

    // every learned merge re-derived by the 8-round training replay
    "q278_bpe_train" ->
      s"""WITH ${bpeTrainCtes(8)}
         |${(1 to 8).map(k =>
             s"SELECT CAST($k AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM m$k")
           .mkString("\nUNION ALL\n")}""".stripMargin,

    // the persisted model must equal the independent training replay —
    // same derivation as q278, through the publish/load lifecycle
    "q292_bpe_model" ->
      s"""WITH ${bpeTrainCtes(8)}
         |${(1 to 8).map(k =>
             s"SELECT CAST($k AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM m$k")
           .mkString("\nUNION ALL\n")}""".stripMargin,

    // the encode oracle is the trained words' post-round-8 symbols,
    // weighted by word frequency — no second encoder implementation
    "q279_bpe_encode" ->
      s"""WITH ${bpeTrainCtes(8)}
         |SELECT token, CAST(SUM(cnt) AS BIGINT) AS n
         |FROM (SELECT unnest(symbols) AS token, cnt FROM w8)
         |GROUP BY token
         |ORDER BY n DESC, token ASC LIMIT 30""".stripMargin,

    // the 50 most frequent trained words re-derived (same splitter,
    // same count-desc/word-asc tiebreak); ok = true is the pinned
    // invariant — the Spark side computes it as greedy-encode ==
    // 1024-round sequential replay, so any divergence flips a row
    "q288_bpe_encode1k" ->
      """WITH corpus AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT md5(CAST(doc_id AS VARCHAR)) AS text FROM documents),
        |wf AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        |        '[^a-z0-9]+'), x -> len(x) > 0)) AS word FROM corpus)
        |  GROUP BY word)
        |SELECT word, true AS ok
        |FROM (SELECT word FROM wf ORDER BY cnt DESC, word ASC LIMIT 100)"""
        .stripMargin,

    "q25_langid" ->
      s"""WITH $langidCtes
         |SELECT doc_id, lang_guess FROM langid""".stripMargin,

    "q26_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q27_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp,
        | CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    // full rewrite replay: positional 8-gram md5 hashes, >= 2 distinct
    // docs, covered-position anti-join, ordered string_agg rebuild —
    // clean_text must match byte-for-byte (both sides rebuild from
    // tokens, so whitespace normalizes identically)
    "q152_remove_dup_ngrams" ->
      """WITH d AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |g AS (SELECT doc_id, s.i AS i,
        |    ('0x' || substr(md5(array_to_string(toks[s.i:s.i+7], ' ')), 1, 15))::BIGINT AS gram
        |  FROM d, LATERAL (SELECT unnest(range(1, len(toks) - 8 + 2)) AS i) s),
        |dup AS (SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
        |  WHERE nd >= 2),
        |starts AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
        |covered AS (SELECT DISTINCT doc_id, u.p AS p FROM starts,
        |  LATERAL (SELECT unnest(range(i, i + 8)) AS p) u),
        |pos AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM d),
        |kept AS (SELECT p.doc_id, p.i, p.toks[p.i] AS token
        |  FROM pos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.i = c.p
        |  WHERE c.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY i) AS clean_text,
        |    count(*) AS nk FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |  CAST(len(d.toks) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
        |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin,

    // the full Q1 replay with identical rounding
    "q195_sql_tpch_q1_full" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
        |    AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01' - INTERVAL 90 DAY
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // DuckDB's native calendar arithmetic over the same bounds
    "q194_sql_interval" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01' - INTERVAL 90 DAY
        |  AND l_shipdate >= TIMESTAMP '1992-01-01' + INTERVAL 70 MONTH
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // DuckDB's native quantified comparisons over the same statement
    "q181_sql_any_all" ->
      """SELECT s_suppkey, s_acctbal FROM supplier
        |WHERE s_acctbal > ALL (SELECT s2.s_acctbal FROM supplier s2
        |                       JOIN nation ON s2.s_nationkey = n_nationkey
        |                       WHERE n_name = 'GERMANY')
        |  AND s_nationkey = ANY (SELECT n_nationkey FROM nation
        |                         WHERE n_regionkey < 3)""".stripMargin,

    // the deleted rows must be gone from the head AND intact in v1
    "q193_versioned_delete" ->
      """SELECT doc_id, source, 2 AS version FROM documents
        |WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT doc_id, source, 1 AS version FROM documents""".stripMargin,

    // v1 must be EXACTLY the even ids (time travel after the v2 commit)
    // and the head must be everything — the snapshot-isolation contract
    "q177_versioned_snapshot" ->
      """SELECT doc_id, source, 1 AS version FROM documents
        |WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, source, 2 AS version FROM documents""".stripMargin,

    // the q191 replay again: per-BATCH shards must land the identical
    // heavy-hitter set and counts (streaming ≡ batch)
    "q192_stream_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |n AS (SELECT count(*) AS total FROM t),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |      FROM t GROUP BY token)
        |SELECT token, cnt FROM c, n WHERE cnt * 33 > total""".stripMargin,

    // the q186 k=32 brute-force replay for BOTH phases — compaction
    // must not move the merged answer by a single row or count
    "q240_hh_compaction" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |n AS (SELECT count(*) AS total FROM t),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |      FROM t GROUP BY token)
        |SELECT token, cnt, 'before' AS phase FROM c, n WHERE cnt * 33 > total
        |UNION ALL
        |SELECT token, cnt, 'after' AS phase FROM c, n WHERE cnt * 33 > total""".stripMargin,

    // the q186 k=32 brute-force replay — the sharded/merged pipeline
    // must land the identical heavy-hitter set and counts
    "q191_heavy_hitters_sharded" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |n AS (SELECT count(*) AS total FROM t),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |      FROM t GROUP BY token)
        |SELECT token, cnt FROM c, n WHERE cnt * 33 > total""".stripMargin,

    // brute-force exact counts + the n/(k+1) threshold for BOTH k
    // regimes — the Misra-Gries superset guarantee makes the
    // sketch-then-confirm pipeline EQUAL this, which is what's gated
    "q186_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |n AS (SELECT count(*) AS total FROM t),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |      FROM t GROUP BY token)
        |SELECT token, cnt, 32 AS k FROM c, n WHERE cnt * 33 > total
        |UNION ALL
        |SELECT token, cnt, 8 AS k FROM c, n WHERE cnt * 9 > total""".stripMargin,

    // the clip + single-space rejoin replayed on the shared token class
    "q185_truncate_tokens" ->
      """WITH d AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS toks FROM documents)
        |SELECT doc_id,
        |  array_to_string(list_slice(toks, 1, 96), ' ') AS clipped_text,
        |  CAST(greatest(len(toks) - 96, 0) AS BIGINT) AS n_dropped
        |FROM d""".stripMargin,

    // NFC + whitespace-collapse + trim, same operation order
    "q183_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(nfc_normalize(text), '[ \t\n\x0b\f\r]+',
        |    ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    // the identical page construction + extraction chain in RE2:
    // script/style blocks (with content) → comments → tags → entity
    // decode (&amp; last) → whitespace collapse
    "q200_strip_markup" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><style>p{color:red}</style></head><body><!-- id='
        |    || doc_id || ' --><h1>Doc &amp; &lt;tag&gt; ' || doc_id
        |    || '</h1>' || chr(10) || '<p class="body">' || text
        |    || '</p><script>var x = 1 < 2;</script></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?is)<(?:script|style)\b[^>]*>.*?</(?:script|style)>',
        |        ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '(?s)<[^>]+>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM h""".stripMargin,

    // the identical URL construction + normalization chain in RE2
    // (anchored replaces are single-match in DuckDB without 'g', which
    // matches the chain's semantics; tracking-param removal and the
    // delimiter re-collapse passes need 'g')
    "q201_url_normalize" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
        |  || (CASE WHEN doc_id % 4 < 2 THEN 'WWW.' ELSE '' END)
        |  || upper(source)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '.Example.COM'
        |           WHEN doc_id % 3 = 1 THEN '.news.CO.UK'
        |           ELSE '.blog.ORG' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN ':8080'
        |           WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |  || '/Articles/' || doc_id
        |  || (CASE WHEN doc_id % 7 = 0 THEN '?utm_medium=em'
        |           WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id='
        |             || doc_id || '&utm_campaign=x'
        |           ELSE '?id=' || doc_id || '&fbclid=abc' END)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '#Sec-' || doc_id
        |           ELSE '' END) AS url
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(regexp_extract(url,
        |        '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
        |        || regexp_replace(url,
        |             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
        |      '^(http://[^/?#]*):80([/?#].*)?$', '\1\2'),
        |      '^(https://[^/?#]*):443([/?#].*)?$', '\1\2'),
        |      '#.*$', ''),
        |      '^([a-z][a-z0-9+.-]*://)www\.', '\1'),
        |      '([?&])(?:utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*', '\1', 'g'),
        |      '\?&+', '?', 'g'),
        |      '&&+', '&', 'g') AS nu0
        |  FROM u),
        |n2 AS (SELECT doc_id, regexp_replace(nu0, '[?&]+$', '') AS nu FROM n),
        |h AS (SELECT doc_id, nu,
        |  regexp_extract(nu, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
        |  FROM n2)
        |SELECT doc_id, nu AS norm_url, host,
        |  CASE WHEN regexp_matches(host,
        |      '\.(?:co|com|org|net|ac|gov|edu)\.(?:uk|au|jp|nz|in|za|br)$')
        |    THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
        |    WHEN regexp_matches(host, '\.')
        |    THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |    ELSE host END AS domain
        |FROM h""".stripMargin,

    // blocklist anti-join on the derived domain + surviving-domain counts
    "q202_domain_blocklist" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
        |  || upper(source)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '.Example.COM'
        |           WHEN doc_id % 3 = 1 THEN '.news.CO.UK'
        |           ELSE '.blog.ORG' END)
        |  || '/p/' || doc_id AS url
        |  FROM documents),
        |h AS (SELECT doc_id, regexp_extract(
        |    lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)),
        |    '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
        |  FROM u),
        |d AS (SELECT doc_id,
        |  CASE WHEN regexp_matches(host,
        |      '\.(?:co|com|org|net|ac|gov|edu)\.(?:uk|au|jp|nz|in|za|br)$')
        |    THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
        |    WHEN regexp_matches(host, '\.')
        |    THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |    ELSE host END AS domain
        |  FROM h)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
        |FROM d WHERE domain NOT IN ('example.com')
        |GROUP BY domain""".stripMargin,

    // the boilerplate vote (distinct docs per (source, line digest)) +
    // the rewrite, replayed byte-for-byte: blank lines always keep,
    // voted lines drop every occurrence
    "q176_remove_boilerplate" ->
      """WITH l AS (SELECT doc_id, source,
        |    unnest(list_filter(regexp_split_to_array(text, '\n'),
        |      x -> trim(x) <> '')) AS line
        |  FROM documents),
        |lh AS (SELECT DISTINCT doc_id, source, md5(line) AS h FROM l),
        |bp AS (SELECT source, h FROM lh GROUP BY source, h
        |       HAVING count(*) >= 3),
        |docbp AS (SELECT lh.doc_id, list(lh.h) AS bset
        |  FROM lh JOIN bp ON lh.source = bp.source AND lh.h = bp.h
        |  GROUP BY lh.doc_id),
        |r AS (SELECT d.doc_id,
        |    regexp_split_to_array(d.text, '\n') AS ls,
        |    list_filter(regexp_split_to_array(d.text, '\n'),
        |      x -> trim(x) = ''
        |        OR NOT list_contains(coalesce(b.bset, []), md5(x))) AS kept
        |  FROM documents d LEFT JOIN docbp b USING (doc_id))
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed
        |FROM r""".stripMargin,

    // first-occurrence selection per (doc, line digest) + ordered
    // rebuild — blank lines keep every occurrence
    "q178_remove_repeated_lines" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(text, '\n') AS ls
        |  FROM documents),
        |p AS (SELECT doc_id, s.i AS i, ls[s.i] AS line
        |  FROM d, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) s),
        |firsts AS (SELECT doc_id, md5(line) AS h, min(i) AS mi
        |  FROM p WHERE trim(line) <> '' GROUP BY doc_id, md5(line)),
        |kept AS (SELECT p.doc_id, p.i, p.line
        |  FROM p LEFT JOIN firsts f
        |    ON p.doc_id = f.doc_id AND md5(p.line) = f.h
        |  WHERE trim(p.line) = '' OR p.i = f.mi),
        |agg AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY i) AS clean_text,
        |    count(*) AS nk
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |  CAST(len(d.ls) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
        |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin,

    // the ok CTE replays ngramJaccardPairs' block cap: blocks outside
    // [2, 1024] members emit no pairs
    // q28's blocked-pair replay with containment scoring and NO length
    // bucket in the blocking (asymmetric pairs must stay co-blocked);
    // |∩|/min over distinct tokens — exact integer ratio, no rounding
    "q143_containment_pairs" ->
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_filter(list_distinct(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+')),
        |    x -> len(x) > 0) AS toks
        | FROM documents),
        |t2 AS (SELECT * FROM t WHERE len(toks) > 0),
        |ok AS (SELECT lang, source FROM t2
        | GROUP BY lang, source
        | HAVING count(*) BETWEEN 2 AND 1024)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |   / least(len(a.toks), len(b.toks)) AS containment
        |FROM t2 a
        |JOIN ok ON a.lang = ok.lang AND a.source = ok.source
        |JOIN t2 b
        | ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |   / least(len(a.toks), len(b.toks)) >= 0.9""".stripMargin,

    "q28_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_filter(list_distinct(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+')),
        |    x -> len(x) > 0) AS toks,
        |  len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) // 32 AS len_bucket
        | FROM documents),
        |t2 AS (SELECT * FROM t WHERE len(toks) > 0),
        |ok AS (SELECT lang, source, len_bucket FROM t2
        | GROUP BY lang, source, len_bucket
        | HAVING count(*) BETWEEN 2 AND 1024)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t2 a
        |JOIN ok ON a.lang = ok.lang AND a.source = ok.source
        |  AND a.len_bucket = ok.len_bucket
        |JOIN t2 b
        | ON a.lang = b.lang AND a.source = b.source
        |  AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5""".stripMargin,

    "q29_minhash_pairs" -> minhashOracleSql(
      numBands = 4, rowsPerBand = 8, threshold = 0.8, maxBucket = 64),

    // the full q29 replay restricted to pairs with a new (>= 400) side:
    // incremental-vs-index must equal batch-over-everything
    "q125_minhash_incremental" -> minhashOracleSql(
      numBands = 4, rowsPerBand = 8, threshold = 0.8, maxBucket = 64,
      extraWhere = " AND (id_a >= 400 OR id_b >= 400)"),

    // the q29 replay over the whole table restricted to CROSS pairs
    // (one side < 20 = eval, the other = corpus), columns remapped to
    // the cross operator's (corpus_id, eval_id) output
    "q129_fuzzy_decontaminate" ->
      s"""WITH ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)}
         |SELECT CASE WHEN id_a < 20 THEN id_b ELSE id_a END AS corpus_id,
         |       CASE WHEN id_a < 20 THEN id_a ELSE id_b END AS eval_id,
         |       jaccard
         |FROM j
         |WHERE jaccard >= 0.5 AND ((id_a < 20) <> (id_b < 20))""".stripMargin,

    // the q129 cross-pair replay rolled up: distinct flagged corpus ids,
    // left-joined onto the corpus side, counted per source
    "q166_contamination_report" ->
      s"""WITH ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |flagged AS (SELECT DISTINCT
         |    CASE WHEN id_a < 20 THEN id_b ELSE id_a END AS doc_id
         |  FROM j
         |  WHERE jaccard >= 0.5 AND ((id_a < 20) <> (id_b < 20)))
         |SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(f.doc_id) AS BIGINT) AS n_contaminated,
         |  round(count(f.doc_id) / CAST(count(*) AS DOUBLE), 6)
         |    AS contaminated_frac
         |FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
         |WHERE d.doc_id >= 20
         |GROUP BY d.source""".stripMargin,

    // the streaming shards merge to the same whole-corpus histogram —
    // identical replay to q167 (that equality IS the gate)
    "q169_stream_histogram" ->
      """WITH h AS (SELECT lang, CAST(floor(n_chars / 64.0) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, bucket,
        |    sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
        |    sum(n) OVER (PARTITION BY lang) AS total
        |  FROM h)
        |SELECT lang, p, CAST(min((bucket + 1) * 64) AS BIGINT) AS q_est
        |FROM c, (SELECT unnest([0.5, 0.9]) AS p) probs
        |WHERE cum >= p * total
        |GROUP BY lang, p""".stripMargin,

    // shard histograms merge to the whole-corpus histogram (mergeability
    // is exact, so the replay skips the sharding), then the same
    // first-bucket-reaching-p*total upper-edge rule
    "q167_histogram_quantiles" ->
      """WITH h AS (SELECT lang, CAST(floor(n_chars / 64.0) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, bucket,
        |    sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
        |    sum(n) OVER (PARTITION BY lang) AS total
        |  FROM h)
        |SELECT lang, p, CAST(min((bucket + 1) * 64) AS BIGINT) AS q_est
        |FROM c, (SELECT unnest([0.5, 0.9]) AS p) probs
        |WHERE cum >= p * total
        |GROUP BY lang, p""".stripMargin,

    // the streaming ingest path has NO bucket cap (candidates are
    // corpus-batch × eval bands, bounded by the eval side), so its
    // replay uses the effectively-uncapped banding — the q90 precedent
    "q134_stream_fuzzy_decon" ->
      s"""WITH ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 100000)}
         |SELECT CASE WHEN id_a < 20 THEN id_b ELSE id_a END AS corpus_id,
         |       CASE WHEN id_a < 20 THEN id_a ELSE id_b END AS eval_id,
         |       jaccard
         |FROM j
         |WHERE jaccard >= 0.5 AND ((id_a < 20) <> (id_b < 20))""".stripMargin,

    // pixel formula → integer block means → global mean → bit grid →
    // (hi, lo) halves: the whole decode+hash pipeline re-derived from
    // the fixture arithmetic (PNG gray8 is lossless, so decoded raster
    // samples ARE the formula's values)
    "q187_image_ahash" ->
      s"""WITH $aHashOracleCtes
         |SELECT doc_id AS media_id, 16 AS width, 16 AS height,
         |  hi AS ahash_hi, lo AS ahash_lo
         |FROM sig""".stripMargin,

    // the aHash replay + q30's chunk-LSH banding replay (keys from the
    // hi/lo halves) + exact Hamming verification with the [2, 64] cap
    "q188_visual_neardup" ->
      s"""WITH $aHashOracleCtes,
         |$hammingLshOracleTail""".stripMargin,

    // the dHash replay: same pixel/cell CTEs, gradient bit rule
    "q203_image_dhash" ->
      s"""WITH $dHashOracleCtes
         |SELECT doc_id AS media_id, 16 AS width, 16 AS height,
         |  hi AS dhash_hi, lo AS dhash_lo
         |FROM sig""".stripMargin,

    // both hash replays + both banding/verification tails, intersected
    // on the pair key — the cross-check keep set
    "q204_visual_crosscheck" ->
      s"""WITH ${aHashOracleCtes("a")},
         |${hammingLshPairsCtes("a")},
         |${dHashOracleCtes("d")},
         |${hammingLshPairsCtes("d")}
         |SELECT ap.id_a, ap.id_b,
         |  ap.hamming AS hamming_a, dp.hamming AS hamming_d
         |FROM apairs ap JOIN dpairs dp
         |  ON ap.id_a = dp.id_a AND ap.id_b = dp.id_b
         |WHERE ap.hamming <= 3 AND dp.hamming <= 3""".stripMargin,

    // the q188 replay + the q51 recursive closure (min reachable id):
    // the cluster assignment the keep-list consumes
    "q196_visual_clusters" ->
      s"""WITH RECURSIVE $aHashOracleCtes,
         |$hammingLshPairsCtes,
         |p2 AS (SELECT id_a, id_b FROM pairs WHERE hamming <= 3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p2
         |          UNION SELECT id_b, id_a FROM p2),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS media_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a""".stripMargin,

    // all three modality pipelines + their closures in ONE statement:
    // text minhash (q29's CTEs + q51's closure), visual aHash ("i"
    // prefix) and aural fingerprint ("au" prefix) each yield their
    // non-canonical drops; survivors are everything else
    "q198_multimodal_keeplist" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |tp AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         |tedges AS (SELECT id_a AS a, id_b AS b FROM tp
         |           UNION SELECT id_b, id_a FROM tp),
         |treach(a, b) AS (SELECT a, b FROM tedges UNION
         |  SELECT r.a, g.b FROM treach r JOIN tedges g ON r.b = g.a),
         |tdrop AS (SELECT a AS doc_id FROM (
         |    SELECT a, least(a, min(b)) AS c FROM treach GROUP BY a)
         |  WHERE a <> c),
         |${aHashOracleCtes("i")},
         |${hammingLshPairsCtes("i")},
         |ip AS (SELECT id_a, id_b FROM ipairs WHERE hamming <= 3),
         |iedges AS (SELECT id_a AS a, id_b AS b FROM ip
         |           UNION SELECT id_b, id_a FROM ip),
         |ireach(a, b) AS (SELECT a, b FROM iedges UNION
         |  SELECT r.a, g.b FROM ireach r JOIN iedges g ON r.b = g.a),
         |idrop AS (SELECT a AS doc_id FROM (
         |    SELECT a, least(a, min(b)) AS c FROM ireach GROUP BY a)
         |  WHERE a <> c),
         |${audioFpOracleCtes("au")},
         |${hammingLshPairsCtes("au")},
         |ap AS (SELECT id_a, id_b FROM aupairs WHERE hamming <= 3),
         |aedges AS (SELECT id_a AS a, id_b AS b FROM ap
         |           UNION SELECT id_b, id_a FROM ap),
         |areach(a, b) AS (SELECT a, b FROM aedges UNION
         |  SELECT r.a, g.b FROM areach r JOIN aedges g ON r.b = g.a),
         |adrop AS (SELECT a AS doc_id FROM (
         |    SELECT a, least(a, min(b)) AS c FROM areach GROUP BY a)
         |  WHERE a <> c)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM tdrop
         |  UNION SELECT doc_id FROM idrop
         |  UNION SELECT doc_id FROM adrop)""".stripMargin,

    // the same frame grammar verbatim — DuckDB's ROWS frames have
    // identical row-offset semantics
    "q199_sql_window_frame" ->
      """SELECT event_id, user_id,
        |  round(SUM(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100, 0) AS mov_sum_c,
        |  round(SUM(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) * 100, 0) AS run_sum_c,
        |  MAX(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS local_max,
        |  COUNT(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS n_near
        |FROM events
        |WHERE user_id < 40""".stripMargin,

    // same rollup; DuckDB's date_trunc('day') narrows to DATE, so the
    // oracle re-widens to TIMESTAMP before the VARCHAR render to land
    // the engine's 'yyyy-MM-dd HH:mm:ss' form
    "q213_sql_date_trunc" ->
      """SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(SUM(value), 4) AS total
        |FROM (SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP)
        |          AS VARCHAR) AS day,
        |        event_type, value
        |      FROM events) t
        |GROUP BY day, event_type""".stripMargin,

    // identical text (all inputs are DOUBLE, both engines run the same
    // float math; rounded before the hash)
    "q214_sql_stat_aggs" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(stddev_pop(l_quantity), 4) AS sdp_qty,
        |  round(var_samp(l_discount), 6) AS var_disc,
        |  round(var_pop(l_discount), 6) AS varp_disc,
        |  round(median(l_quantity), 4) AS med_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // identical text — the (o_totalprice, o_orderkey) tie-break makes
    // every window a total order, so tile/rank assignment agrees
    "q215_sql_ntile" ->
      """SELECT o_orderstatus, tile, COUNT(*) AS n,
        |  round(MIN(pr), 6) AS min_pr,
        |  round(MAX(cd), 6) AS max_cd,
        |  round(MIN(o_totalprice), 2) AS lo,
        |  round(MAX(o_totalprice), 2) AS hi
        |FROM (SELECT o_orderstatus, o_totalprice,
        |    ntile(8) OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS tile,
        |    percent_rank() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS pr,
        |    cume_dist() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS cd
        |  FROM orders) t
        |GROUP BY o_orderstatus, tile""".stripMargin,

    // the dialect's string_agg sorts elements by value — the oracle
    // writes that ordering explicitly
    "q216_sql_string_agg" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    // the exact next-fit walk replayed sequentially per shard with a
    // recursive CTE: same md5 shard, same doc_id order, same
    // overflow rule (new bin when acc would exceed 256; an oversized
    // doc occupies a bin alone)
    "q217_nextfit_pack" -> nextFitReplay,

    // the STREAMING ingest must land the identical assignment — same
    // replay, not a weaker rows-only check
    "q218_stream_nextfit" -> nextFitReplay,

    // identical frames — DuckDB widens SUM(BIGINT) to HUGEINT, so the
    // windowed sum casts back to BIGINT to match Spark's long
    "q221_sql_range_frame" ->
      """SELECT doc_id, lang,
        |  COUNT(*) OVER (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING) AS near_sized,
        |  CAST(SUM(n_chars) OVER (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS chars_win
        |FROM documents""".stripMargin,

    // DuckDB's native ILIKE on the same mixed-case pattern — must agree
    // with the dialect's lower()-desugared rendering
    "q222_sql_ilike" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_mktsegment ILIKE 'bUiLd%'
        |  AND c_name NOT ILIKE '%00001%'""".stripMargin,

    // the surviving rows replay as a filter over the source table
    "q237_sql_delete" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang""".stripMargin,

    // version 1 committed the even doc_ids, version 2 appended the
    // odd — the snapshots replay as filters over the source table
    "q236_sql_time_travel" ->
      """SELECT 1 AS version, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2 AS version, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents""".stripMargin,

    // DuckDB evaluates the same constants (its || for the concat)
    "q255_sql_select_noscan" ->
      """SELECT 1 + 2 * 3 AS arith, lower('ABC') || 'd' AS text,
        |  CASE WHEN 2 > 1 THEN 'yes' ELSE 'no' END AS branch,
        |  round(abs(-2.5), 1) AS fn""".stripMargin,

    // exact counts per probe; the seeded sketch's bound flags are fixed
    "q254_cms_frequency" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact
        |      FROM t GROUP BY token)
        |SELECT p.token, CAST(coalesce(c.n_exact, 0) AS BIGINT) AS n_exact,
        |  true AS est_ge_exact, true AS est_in_bound
        |FROM (VALUES ('spark'), ('window'), ('join'), ('data'),
        |      ('quality'), ('zzz_never_present')) p(token)
        |LEFT JOIN c ON p.token = c.token""".stripMargin,

    // the q254 probe flags replayed for BOTH phases: cell-wise CMS
    // addition makes compaction estimate-preserving, so every flag —
    // including est_same — is a deterministic true
    "q256_cms_compaction" ->
      """WITH t AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact
        |      FROM t GROUP BY token),
        |f AS (SELECT p.token,
        |        CAST(coalesce(c.n_exact, 0) AS BIGINT) AS n_exact,
        |        true AS est_ge_exact, true AS est_in_bound,
        |        true AS est_same
        |      FROM (VALUES ('spark'), ('window'), ('join'), ('data'),
        |            ('quality'), ('zzz_never_present')) p(token)
        |      LEFT JOIN c ON p.token = c.token)
        |SELECT token, 'before' AS phase, n_exact, est_ge_exact,
        |  est_in_bound, est_same FROM f
        |UNION ALL
        |SELECT token, 'after' AS phase, n_exact, est_ge_exact,
        |  est_in_bound, est_same FROM f""".stripMargin,

    // DuckDB runs the SAME recursive statement natively
    "q253_sql_recursive_cte" ->
      """WITH RECURSIVE r AS (
        |  SELECT doc_id FROM documents WHERE doc_id = 0
        |  UNION
        |  SELECT d.doc_id FROM documents d
        |  JOIN r ON d.doc_id = r.doc_id + 7
        |  WHERE d.doc_id < 400
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM r""".stripMargin,

    // compaction must not move a row: the post-compaction head and the
    // pre-compaction snapshot aggregate identically (both = the source)
    // the v1-instant read serves exactly the first commit's residue
    "q282_timestamp_travel" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id % 3 = 0 GROUP BY lang""".stripMargin,

    // the z-order rewrite is content-exact: the filtered aggregate over
    // the re-clustered head equals the same filter over the source
    "q277_zorder_optimize" ->
      """SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS id_sum
        |FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity < 20
        |GROUP BY l_linestatus""".stripMargin,

    "q252_sql_optimize" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents
        |UNION ALL
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents""".stripMargin,

    // both version ranges replay as residue-class filters
    "q247_versioned_changes" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum, 'v1_to_head' AS delta
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum, 'v0_to_v2' AS delta
        |FROM documents WHERE doc_id % 3 IN (0, 1)""".stripMargin,

    // one emission per committed row across BOTH drains: a cursor bug
    // (re-emitting v1+v2 in the second drain) doubles n/id_sum
    "q290_versioned_stream" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id < 450 GROUP BY lang""".stripMargin,

    // delta replay from the origin rows: the add side is the DELETE's
    // survivor segment (200..299), the removal side its whole old
    // segment (200..399)
    "q291_sql_cdc" ->
      """SELECT 'added' AS delta, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id >= 200 AND doc_id < 300
        |UNION ALL
        |SELECT 'removed' AS delta, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id >= 200 AND doc_id < 400""".stripMargin,

    // retract-then-upsert replay: the emptied segment's rows surface on
    // the removal side with an EMPTY add-delta; the partial rewrite
    // retracts its whole old segment and re-adds the survivors
    "q289_versioned_removals" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  'empty_seg_removed' AS delta
        |FROM documents WHERE doc_id >= 200 AND doc_id < 400
        |UNION ALL
        |SELECT CAST(0 AS BIGINT), CAST(NULL AS BIGINT), 'empty_seg_added'
        |UNION ALL
        |SELECT CAST(count(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
        |  'partial_seg_removed'
        |FROM documents WHERE doc_id < 200
        |UNION ALL
        |SELECT CAST(count(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
        |  'partial_seg_added'
        |FROM documents WHERE doc_id < 200 AND doc_id != 100""".stripMargin,

    // pre-widening rows carry NULL n_chars (COUNT(col)/SUM skip them);
    // the replay reproduces that null pattern with CASE
    "q246_schema_evolution" ->
      """SELECT lang, COUNT(*) AS n,
        |  COUNT(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS n_scored,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
        |    AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    // the canonical URL stated analytically (the normalization chain is
    // q201's gate); then min-per-URL keep, length gate, per-source rollup
    "q251_webcrawl_prep" ->
      """WITH u AS (SELECT doc_id, source, n_chars,
        |  'https://' || lower(source) || '.example.com/page/'
        |    || (doc_id % 97) AS nu
        |  FROM documents),
        |k AS (SELECT nu, min(doc_id) AS keep_id FROM u GROUP BY nu),
        |kept AS (SELECT u.source, u.n_chars
        |  FROM u JOIN k ON u.doc_id = k.keep_id
        |  WHERE u.n_chars BETWEEN 120 AND 1800),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT nu) AS BIGINT) AS n_urls
        |  FROM u GROUP BY source),
        |ks AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars_kept
        |  FROM kept GROUP BY source)
        |SELECT tot.source AS source, n_docs, n_urls,
        |  coalesce(n_kept, 0) AS n_kept,
        |  coalesce(chars_kept, 0) AS chars_kept
        |FROM tot LEFT JOIN ks ON tot.source = ks.source""".stripMargin,

    // the exported rows are exactly the filtered source
    "q250_sql_copy_jsonl" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id < 300 GROUP BY lang""".stripMargin,

    // the Avro round trip preserves exactly the exported rows
    "q281_sql_copy_avro" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id < 300 GROUP BY lang""".stripMargin,

    // every exported instant re-derived at microsecond precision from
    // the origin table — a lossy timestamp-micros mapping in either
    // direction shifts ts_us and fails the hash
    "q286_avro_ts_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  round(value, 4) AS value
        |FROM events WHERE event_id % 17 = 0""".stripMargin,

    // counts per side, joint-vocab smoothing, the same pre-rounded ln,
    // the same (kl desc, token) tie-break and limit
    "q249_token_drift" ->
      """WITH ta AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT token, count(*) AS cnt_a FROM ta GROUP BY token),
        |cb AS (SELECT token, count(*) AS cnt_b FROM tb GROUP BY token),
        |j AS (SELECT coalesce(ca.token, cb.token) AS token,
        |    coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |s AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb,
        |    count(*) AS v FROM j),
        |terms AS (SELECT token,
        |    CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
        |    round(ln(((cnt_b + 1)::DOUBLE / (nb + v)::DOUBLE) /
        |             ((cnt_a + 1)::DOUBLE / (na + v)::DOUBLE)), 9)
        |      AS log_ratio,
        |    round(((cnt_b + 1)::DOUBLE / (nb + v)::DOUBLE) *
        |      round(ln(((cnt_b + 1)::DOUBLE / (nb + v)::DOUBLE) /
        |               ((cnt_a + 1)::DOUBLE / (na + v)::DOUBLE)), 9), 12)
        |      AS kl_term
        |  FROM j, s)
        |SELECT token, cnt_a, cnt_b, log_ratio, kl_term FROM terms
        |ORDER BY kl_term DESC, token LIMIT 25""".stripMargin,

    // every statistic recomputed per column; VARCHAR casts make the
    // min/max comparison type-free on both sides
    "q248_sql_summarize" ->
      """SELECT 'doc_id' AS column_name, 'bigint' AS column_type,
        |  CAST(count(doc_id) AS BIGINT) AS n_nonnull,
        |  CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |  CAST(min(doc_id) AS VARCHAR) AS min_value,
        |  CAST(max(doc_id) AS VARCHAR) AS max_value
        |FROM documents
        |UNION ALL
        |SELECT 'text', 'string', CAST(count(text) AS BIGINT),
        |  CAST(count(*) - count(text) AS BIGINT),
        |  CAST(count(DISTINCT text) AS BIGINT), min(text), max(text)
        |FROM documents
        |UNION ALL
        |SELECT 'lang', 'string', CAST(count(lang) AS BIGINT),
        |  CAST(count(*) - count(lang) AS BIGINT),
        |  CAST(count(DISTINCT lang) AS BIGINT), min(lang), max(lang)
        |FROM documents
        |UNION ALL
        |SELECT 'source', 'string', CAST(count(source) AS BIGINT),
        |  CAST(count(*) - count(source) AS BIGINT),
        |  CAST(count(DISTINCT source) AS BIGINT), min(source), max(source)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', 'bigint', CAST(count(n_chars) AS BIGINT),
        |  CAST(count(*) - count(n_chars) AS BIGINT),
        |  CAST(count(DISTINCT n_chars) AS BIGINT),
        |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents""".stripMargin,

    // the documents schema as literal rows — Spark DDL type names
    // lower-cased; a drifted type mapping or nullability read fails
    "q244_sql_describe" ->
      """SELECT * FROM (VALUES
        |  ('doc_id', 'bigint', true), ('text', 'string', true),
        |  ('lang', 'string', true), ('source', 'string', true),
        |  ('n_chars', 'bigint', true))
        |t(column_name, column_type, nullable)""".stripMargin,

    // the test dirs ship exactly these ten parquet tables
    "q245_sql_show_tables" ->
      """SELECT * FROM (VALUES
        |  ('customer', 'parquet'), ('documents', 'parquet'),
        |  ('embeddings', 'parquet'), ('events', 'parquet'),
        |  ('lineitem', 'parquet'), ('nation', 'parquet'),
        |  ('orders', 'parquet'), ('part', 'parquet'),
        |  ('region', 'parquet'), ('supplier', 'parquet'))
        |t(table_name, format)""".stripMargin,

    // the drained head is the batch union; 4 split files drain one per
    // micro-batch, so exactly 4 versions commit
    "q243_stream_versioned" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(4 AS BIGINT) AS n_versions
        |FROM documents""".stripMargin,

    // the head replays as CASE over the source (matched rows rewritten),
    // v1 as the source untouched — both groupings in one statement
    // only the FINAL (replaced) definition replays — a stale cached
    // view body would keep the unfiltered aggregate
    "q265_sql_views" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE source IN ('src7', 'src3') AND n_chars >= 300
        |GROUP BY lang""".stripMargin,

    // the merge replayed analytically: matched rows (even id, id%3!=0)
    // take the update, unmatched source rows (even id, id%3=0) insert,
    // odd non-third rows pass through — one wrong row fate moves a sum
    "q260_sql_merge" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'upd' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 2 = 0 THEN n_chars + 1
        |         ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, 'new' AS lang, n_chars FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 0)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM m GROUP BY lang""".stripMargin,

    // pruned-DML gates: content replays as CASE/filter arithmetic; the
    // n_carried literal pins that exactly two of the three seeded
    // segments survived the statement by reference (a full-rewrite
    // regression would emit 0 and hash-mismatch)
    "q283_sql_merge_pruned" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 1 AND doc_id % 5 = 0
        |         THEN 'upd' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 3 = 1 AND doc_id % 5 = 0
        |         THEN n_chars + 10 ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(2 AS BIGINT) AS n_carried
        |FROM m GROUP BY lang""".stripMargin,

    // first-match-wins replay: the CASE ladder mirrors clause order
    // (even n_chars deletes BEFORE the %5 update can fire); novel rows
    // insert only past the n_chars gate; counts + carried pinned
    "q293_sql_merge_multi" ->
      """WITH tgt AS (SELECT doc_id, lang, n_chars FROM documents),
        |src AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 1),
        |novel AS (SELECT doc_id + 1000000 AS doc_id, n_chars
        |  FROM documents WHERE doc_id % 100 = 0),
        |merged AS (
        |  SELECT t.doc_id,
        |    CASE
        |      WHEN s.doc_id IS NOT NULL AND s.n_chars % 2 <> 0
        |           AND s.doc_id % 5 = 0 THEN 'five'
        |      WHEN s.doc_id IS NOT NULL AND s.n_chars % 2 <> 0
        |        THEN 'odd'
        |      ELSE t.lang END AS lang,
        |    CASE
        |      WHEN s.doc_id IS NOT NULL AND s.n_chars % 2 <> 0
        |           AND s.doc_id % 5 <> 0 THEN s.n_chars + 7
        |      ELSE t.n_chars END AS n_chars,
        |    CASE WHEN s.doc_id IS NOT NULL AND s.n_chars % 2 = 0
        |      THEN 1 ELSE 0 END AS deleted
        |  FROM tgt t LEFT JOIN src s ON t.doc_id = s.doc_id),
        |final AS (
        |  SELECT doc_id, lang, n_chars FROM merged WHERE deleted = 0
        |  UNION ALL
        |  SELECT doc_id, 'new' AS lang, n_chars FROM novel
        |  WHERE n_chars >= 200),
        |counts AS (
        |  SELECT
        |    (SELECT count(*) FROM src s JOIN tgt t ON t.doc_id = s.doc_id
        |      WHERE s.n_chars % 2 <> 0) AS n_upd,
        |    (SELECT count(*) FROM src s JOIN tgt t ON t.doc_id = s.doc_id
        |      WHERE s.n_chars % 2 = 0) AS n_del,
        |    (SELECT count(*) FROM novel WHERE n_chars >= 200) AS n_ins)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(n_upd AS BIGINT) AS n_updated,
        |  CAST(n_del AS BIGINT) AS n_deleted,
        |  CAST(n_ins AS BIGINT) AS n_inserted,
        |  CAST(2 AS BIGINT) AS n_carried
        |FROM final, counts
        |GROUP BY lang, n_upd, n_del, n_ins""".stripMargin,

    "q284_sql_update_pruned" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 2 AND doc_id % 7 = 0
        |         THEN 'upd' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 3 = 2 AND doc_id % 7 = 0
        |         THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(2 AS BIGINT) AS n_carried
        |FROM u GROUP BY lang""".stripMargin,

    "q285_sql_delete_pruned" ->
      """SELECT COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(2 AS BIGINT) AS n_carried
        |FROM documents
        |WHERE NOT (doc_id % 3 = 0 AND doc_id % 11 = 0)""".stripMargin,

    // data-skipping oracles replay the sidecar evaluation from the
    // data itself: per-bucket MIN/MAX stand in for the segment stats,
    // and the planned-read count is the buckets whose range overlaps
    // the predicate — exactly what the FileIndex computes
    "q294_skipping_range" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    CAST(FLOOR(doc_id / 100) AS BIGINT) AS bk FROM documents),
        |  r AS (SELECT bk, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |        FROM b GROUP BY bk)
        |SELECT
        |  (SELECT COUNT(*) FROM b WHERE doc_id BETWEEN 120 AND 310)
        |    AS n_rows,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM b
        |   WHERE doc_id BETWEEN 120 AND 310) AS chars,
        |  (SELECT COUNT(*) FROM r) AS n_segments,
        |  (SELECT COUNT(*) FROM r WHERE mx >= 120 AND mn <= 310)
        |    AS n_read""".stripMargin,

    "q295_skipping_evolution" ->
      """WITH p1 AS (SELECT doc_id, n_chars FROM documents
        |            WHERE doc_id < 250),
        |  p2 AS (SELECT doc_id, n_chars, lang FROM documents
        |         WHERE doc_id >= 250)
        |SELECT
        |  (SELECT COUNT(*) FROM p2 WHERE lang = 'en') AS n_en,
        |  (SELECT COUNT(*) FROM p1) AS n_null,
        |  CAST(2 AS BIGINT) AS n_segments,
        |  (SELECT CAST(CASE WHEN MIN(lang) <= 'en' AND MAX(lang) >= 'en'
        |                    THEN 1 ELSE 0 END AS BIGINT) FROM p2) AS k_eq,
        |  (SELECT CAST(CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END
        |               AS BIGINT) FROM p1) +
        |  (SELECT CAST(CASE WHEN COUNT(*) - COUNT(lang) > 0 THEN 1
        |               ELSE 0 END AS BIGINT) FROM p2) AS k_null""".stripMargin,

    "q296_skipping_source" ->
      """WITH r AS (SELECT source, MIN(source) AS mn, MAX(source) AS mx
        |           FROM documents GROUP BY source)
        |SELECT
        |  (SELECT COUNT(*) FROM documents WHERE source = 'src5')
        |    AS n_rows,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
        |   WHERE source = 'src5') AS chars,
        |  (SELECT COUNT(*) FROM r) AS n_segments,
        |  (SELECT COUNT(*) FROM r WHERE mn <= 'src5' AND mx >= 'src5')
        |    AS k_eq,
        |  (SELECT COUNT(*) FROM r
        |   WHERE substr(mx, 1, 4) >= 'src1' AND substr(mn, 1, 4) <= 'src1')
        |    AS k_pre""".stripMargin,

    "q297_skipping_time" ->
      """WITH b AS (SELECT o_orderkey, o_orderdate FROM orders),
        |  r AS (SELECT EXTRACT(year FROM o_orderdate) AS y,
        |          MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx
        |        FROM b GROUP BY y)
        |SELECT
        |  (SELECT COUNT(*) FROM b
        |   WHERE o_orderdate >= TIMESTAMP '1999-07-01') AS n_rows,
        |  (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM b
        |   WHERE o_orderdate >= TIMESTAMP '1999-07-01') AS key_sum,
        |  (SELECT COUNT(*) FROM r) AS n_segments,
        |  (SELECT COUNT(*) FROM r WHERE mx >= TIMESTAMP '1999-07-01')
        |    AS n_read""".stripMargin,

    "q302_dv_delete" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(3 AS BIGINT) AS n_carried,
        |  (SELECT COUNT(*) FROM documents
        |   WHERE NOT (doc_id % 3 = 1 AND doc_id % 7 = 0))
        |    AS n_rows_status
        |FROM documents
        |WHERE NOT (doc_id % 3 = 1 AND doc_id % 7 = 0)
        |GROUP BY lang""".stripMargin,

    "q303_dv_union_travel" ->
      """SELECT
        |  (SELECT COUNT(*) FROM documents
        |   WHERE doc_id % 10 NOT IN (3, 4)) AS n_head,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
        |   WHERE doc_id % 10 NOT IN (3, 4)) AS chars,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 != 3)
        |    AS n_v3,
        |  (SELECT COUNT(*) FROM documents
        |   WHERE doc_id % 10 NOT IN (3, 4)) AS n_v4,
        |  CAST(0 AS BIGINT) AS n_dv_head""".stripMargin,

    "q305_dv_update" ->
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 1 AND doc_id % 5 = 0
        |         THEN 'upd' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 3 = 1 AND doc_id % 5 = 0
        |         THEN n_chars + 10 ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(3 AS BIGINT) AS n_carried,
        |  (SELECT COUNT(*) FROM documents
        |   WHERE doc_id % 3 = 1 AND doc_id % 5 = 0) AS n_updated
        |FROM m GROUP BY lang""".stripMargin,

    "q306_change_feed" ->
      """WITH t AS (SELECT doc_id, n_chars FROM documents
        |    WHERE doc_id % 3 IN (0, 1)),
        |  feed AS (
        |    SELECT doc_id, n_chars, 'insert' AS ct, 1 AS v
        |    FROM t WHERE doc_id % 3 = 0
        |    UNION ALL SELECT doc_id, n_chars, 'insert', 2
        |    FROM t WHERE doc_id % 3 = 1
        |    UNION ALL SELECT doc_id, n_chars, 'update_preimage', 3
        |    FROM t WHERE doc_id % 10 = 1
        |    UNION ALL SELECT doc_id, n_chars + 7, 'update_postimage', 3
        |    FROM t WHERE doc_id % 10 = 1
        |    UNION ALL SELECT doc_id, n_chars, 'delete', 4
        |    FROM t WHERE doc_id % 10 = 2)
        |SELECT ct AS _change_type, CAST(v AS BIGINT) AS _commit_version,
        |  COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM feed GROUP BY 1, 2""".stripMargin,

    "q307_change_feed_dv" ->
      """WITH t AS (SELECT doc_id, n_chars FROM documents
        |    WHERE doc_id % 3 IN (0, 1)),
        |  feed AS (
        |    SELECT doc_id, n_chars, 'update_preimage' AS ct
        |    FROM t WHERE doc_id % 10 = 1
        |    UNION ALL SELECT doc_id, n_chars + 7, 'update_postimage'
        |    FROM t WHERE doc_id % 10 = 1
        |    UNION ALL SELECT doc_id, n_chars, 'delete'
        |    FROM t WHERE doc_id % 10 = 2)
        |SELECT ct AS _change_type, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(2 AS BIGINT) AS n_carried,
        |  CAST(3 AS BIGINT) AS n_segs_head
        |FROM feed GROUP BY 1""".stripMargin,

    "q316_cdf_evolution" ->
      """WITH t0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |  t1 AS (SELECT doc_id,
        |      CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS lang
        |    FROM documents WHERE doc_id % 3 = 1),
        |  feed AS (
        |    SELECT doc_id, NULL AS lang, 'insert' AS ct, 1 AS v FROM t0
        |    UNION ALL SELECT doc_id, lang, 'insert', 2 FROM t1
        |    UNION ALL SELECT doc_id, NULL, 'delete', 3
        |    FROM t0 WHERE doc_id % 10 = 3
        |    UNION ALL SELECT doc_id, lang, 'delete', 3
        |    FROM t1 WHERE doc_id % 10 = 3)
        |SELECT ct AS _change_type, CAST(v AS BIGINT) AS _commit_version,
        |  COALESCE(lang, '-') AS lang, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS ids
        |FROM feed GROUP BY 1, 2, 3""".stripMargin,

    "q315_vacuum_dry" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(2 AS BIGINT) AS would_drop_versions,
        |  CAST(1 AS BIGINT) AS would_delete_segments,
        |  true AS bytes_positive,
        |  CAST(3 AS BIGINT) AS n_versions_after_dry
        |FROM documents WHERE doc_id % 3 = 0
        |GROUP BY lang""".stripMargin,

    "q314_check_constraints" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  true AS ins_rejected, true AS upd_rejected,
        |  CAST(1 AS BIGINT) AS n_constraints
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |GROUP BY lang""".stripMargin,

    "q320_pending_constraint_drop" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  true AS pending_shown, true AS still_fences,
        |  true AS ddl_completes
        |FROM (SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 0
        |      UNION ALL SELECT 'xx' AS lang, CAST(-1 AS BIGINT) AS n_chars)
        |GROUP BY lang""".stripMargin,

    "q313_cdc_replica" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars +
        |    CASE WHEN doc_id % 10 = 1 THEN 7 ELSE 0 END) AS BIGINT)
        |    AS chars
        |FROM documents
        |WHERE doc_id % 3 IN (0, 1) AND doc_id % 10 != 2
        |GROUP BY lang""".stripMargin,

    // a 1-byte soft cap admits exactly one version per micro-batch:
    // batch b covers commit b+1 = doc_ids [80b, 80b+80)
    "q319_vstream_bytes_bounded" ->
      """SELECT CAST(b AS BIGINT) AS batch_id, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM (SELECT doc_id, doc_id // 80 AS b
        |  FROM documents WHERE doc_id < 480) t
        |GROUP BY b""".stripMargin,

    // the 48-segment publish partitions doc_id < 480 into width-10
    // ranges; the [100, 140) filter intersects exactly segments 10-13
    "q318_wide_manifest_read" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS ids,
        |  CAST(48 AS BIGINT) AS segments_total,
        |  CAST(4 AS BIGINT) AS segments_read
        |FROM documents WHERE doc_id >= 100 AND doc_id < 140
        |GROUP BY lang""".stripMargin,

    // three 2-version bites over the 6-commit backlog: batch b covers
    // commits 2b+1 and 2b+2, i.e. doc_ids [160b, 160b+160)
    "q317_vstream_bounded_catchup" ->
      """SELECT CAST(b AS BIGINT) AS batch_id, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM (SELECT doc_id, doc_id // 160 AS b
        |  FROM documents WHERE doc_id < 480) t
        |GROUP BY b""".stripMargin,

    "q312_cdf_stream" ->
      """WITH t AS (SELECT doc_id, n_chars FROM documents
        |    WHERE doc_id % 3 IN (0, 1)),
        |  feed AS (
        |    SELECT doc_id, n_chars, 'insert' AS ct, 1 AS v
        |    FROM t WHERE doc_id % 3 = 0
        |    UNION ALL SELECT doc_id, n_chars, 'insert', 2
        |    FROM t WHERE doc_id % 3 = 1
        |    UNION ALL SELECT doc_id, n_chars, 'update_preimage', 3
        |    FROM t WHERE doc_id % 10 = 1
        |    UNION ALL SELECT doc_id, n_chars + 7, 'update_postimage', 3
        |    FROM t WHERE doc_id % 10 = 1
        |    UNION ALL SELECT doc_id, n_chars, 'delete', 4
        |    FROM t WHERE doc_id % 10 = 2)
        |SELECT ct AS _change_type, CAST(v AS BIGINT) AS _commit_version,
        |  COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS ids,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM feed GROUP BY 1, 2""".stripMargin,

    "q311_restore" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(4 AS BIGINT) AS head_version,
        |  CAST(2 AS BIGINT) AS restored_version,
        |  (SELECT COUNT(*) FROM documents
        |   WHERE doc_id % 3 IN (0, 1) AND doc_id % 2 != 0)
        |    AS n_bad_snapshot
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |GROUP BY lang""".stripMargin,

    "q310_history_ops" ->
      """SELECT CAST(v AS BIGINT) AS version, s AS n_segments,
        |  h AS is_head, o AS operation,
        |  CAST(CASE
        |    WHEN v = 3 THEN 2 * (SELECT COUNT(*) FROM documents
        |      WHERE doc_id % 3 IN (0, 1) AND doc_id % 10 = 1)
        |    WHEN v = 4 THEN (SELECT COUNT(*) FROM documents
        |      WHERE doc_id % 3 IN (0, 1) AND doc_id % 10 = 2)
        |  END AS BIGINT) AS change_rows
        |FROM (VALUES
        |  (1, 1, false, 'append'),
        |  (2, 2, false, 'append'),
        |  (3, 1, false, 'update'),
        |  (4, 1, false, 'delete-vectored'),
        |  (5, 1, false, 'purge'),
        |  (6, 1, true, 'zorder')) AS t(v, s, h, o)""".stripMargin,

    "q309_dv_purge" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(1 AS BIGINT) AS segments_purged,
        |  CAST(2 AS BIGINT) AS n_carried,
        |  CAST(0 AS BIGINT) AS n_dv_after
        |FROM documents
        |WHERE NOT (doc_id % 3 = 1 AND doc_id % 2 = 0)
        |GROUP BY lang""".stripMargin,

    "q308_txn_exactly_once" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(3 AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS last_ingest,
        |  CAST(0 AS BIGINT) AS last_backfill
        |FROM documents GROUP BY lang""".stripMargin,

    "q304_dv_cdc" ->
      """SELECT
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 IN (3, 4))
        |    AS n_full,
        |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 10 IN (3, 4)) AS id_full,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 4)
        |    AS n_tail,
        |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 10 = 4) AS id_tail""".stripMargin,

    // k_eq replays bloom membership exactly (the residue classes that
    // CONTAIN the value — no false positive fires on this dataset, and
    // the bitset is deterministic for fixed data); k_range pins that
    // range stats alone prune nothing on the interleaved layout
    "q301_bloom_skipping" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(4 AS BIGINT) AS n_segments,
        |  (SELECT CAST(COUNT(DISTINCT doc_id % 4) AS BIGINT)
        |   FROM documents WHERE doc_id = 137) AS k_eq,
        |  CAST(4 AS BIGINT) AS k_range
        |FROM documents WHERE doc_id = 137""".stripMargin,

    "q300_zorder_segments" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(4 AS BIGINT) AS n_segments,
        |  CAST(1 AS BIGINT) AS skipped_some
        |FROM documents WHERE doc_id BETWEEN 0 AND 99""".stripMargin,

    "q298_metadata_agg" ->
      """SELECT COUNT(*) AS n, MIN(doc_id) AS mn, MAX(doc_id) AS mx,
        |  COUNT(lang) AS n_lang, MIN(n_chars) AS min_chars
        |FROM documents""".stripMargin,

    "q299_analyze" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    CAST(FLOOR(doc_id / 100) AS BIGINT) AS bk FROM documents),
        |  r AS (SELECT bk, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        |        FROM b GROUP BY bk)
        |SELECT
        |  (SELECT COUNT(*) FROM b WHERE doc_id BETWEEN 120 AND 310)
        |    AS n_rows,
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) FROM b
        |   WHERE doc_id BETWEEN 120 AND 310) AS chars,
        |  (SELECT COUNT(*) FROM r) AS n_segments,
        |  (SELECT COUNT(*) FROM r) AS k_before,
        |  (SELECT COUNT(*) FROM r) AS n_built,
        |  (SELECT COUNT(*) FROM r WHERE mx >= 120 AND mn <= 310)
        |    AS k_after""".stripMargin,

    "q242_sql_update" ->
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN source = 'src7' AND n_chars < 400
        |         THEN 'und' ELSE lang END AS lang,
        |    CASE WHEN source = 'src7' AND n_chars < 400
        |         THEN n_chars * 2 ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM u GROUP BY lang
        |UNION ALL
        |SELECT 'v1:' || lang AS lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang""".stripMargin,

    // versions replay as filters over the source; the VALUES batch adds
    // two literal rows to the head (SUM over BIGINT → HUGEINT in DuckDB,
    // cast back)
    "q238_sql_insert" ->
      """SELECT 1 AS version, COUNT(*) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 3 AS version, COUNT(*) + 2 AS n,
        |  CAST(SUM(doc_id) + 9000001 + 9000002 AS BIGINT) AS id_sum
        |FROM documents""".stripMargin,

    // the appended BlockFile table holds exactly the source rows
    "q239_sql_insert_bin" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer""".stripMargin,

    // identical text — Pearson corr and both covariance forms have the
    // same definitions in both engines; rounded for the float compare
    "q235_sql_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS r_qp,
        |  round(covar_pop(l_quantity, l_discount), 6) AS cvp_qd,
        |  round(covar_samp(l_quantity, l_discount), 6) AS cvs_qd,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,

    // raw-central-moment replay of Spark's POPULATION definitions
    // (two-pass: mean, then summed moments)
    "q234_sql_shape_stats" ->
      """WITH s AS (SELECT l_returnflag AS k, l_quantity AS x
        |           FROM lineitem),
        |m AS (SELECT k, avg(x) AS mu, count(*) AS n FROM s GROUP BY k),
        |c AS (SELECT s.k,
        |    sum(pow(x - mu, 2)) AS m2, sum(pow(x - mu, 3)) AS m3,
        |    sum(pow(x - mu, 4)) AS m4, any_value(n) AS n
        |  FROM s JOIN m ON s.k = m.k GROUP BY s.k)
        |SELECT k AS l_returnflag,
        |  round(sqrt(n) * m3 / pow(m2, 1.5), 4) AS skew_qty,
        |  round(n * m4 / (m2 * m2) - 3, 4) AS kurt_qty,
        |  n
        |FROM c""".stripMargin,

    // identical text — GROUPING is standard SQL; both sides cast the
    // indicator to INTEGER
    "q233_sql_grouping_fn" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
        |  round(SUM(l_quantity), 4) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    // per-source attrition: the q27 keeper rule and q77 overlap gate
    // re-joined to the corpus slice, counted per stage
    "q232_prep_accounting" ->
      """WITH fp AS (SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS f
        |  FROM documents),
        |keep AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f),
        |t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents WHERE regexp_matches(text, '[^ \t\n\x0b\f\r]')),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(n - 3, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT))) AS gr
        |  FROM g),
        |ev AS (SELECT DISTINCT gr FROM grams WHERE doc_id < 20),
        |hits AS (SELECT doc_id FROM grams JOIN ev USING (gr)
        |  WHERE doc_id >= 20 GROUP BY doc_id HAVING count(*) >= 2),
        |stage AS (SELECT fp.doc_id, fp.source,
        |    CASE WHEN keep.keep_id = fp.doc_id THEN 1 ELSE 0 END AS kept,
        |    CASE WHEN fp.doc_id IN (SELECT doc_id FROM hits)
        |         THEN 1 ELSE 0 END AS flag
        |  FROM fp JOIN keep ON fp.f = keep.f
        |  WHERE fp.doc_id >= 20)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(kept) AS BIGINT) AS n_after_dedup,
        |  CAST(SUM(CASE WHEN kept = 1 AND flag = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN kept = 1 AND flag = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean
        |FROM stage GROUP BY source""".stripMargin,

    // the f32 round-trip replayed from parquet (cast to REAL first,
    // then DOUBLE for the sum — integral quantities, exact)
    "q231_sql_ctas_blockdir" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(SUM(CAST(CAST(l_quantity AS REAL) AS DOUBLE)), 2)
        |    AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // identical text — DuckDB's unnest is the same array-to-rows
    // bridge; sums cast to DOUBLE and rounded
    "q230_sql_unnest" ->
      """SELECT vec_id, COUNT(*) AS n,
        |  round(SUM(CAST(comp AS DOUBLE)), 4) AS s,
        |  round(MAX(CAST(comp AS DOUBLE)), 4) AS mx
        |FROM (SELECT vec_id, unnest(embedding) AS comp
        |      FROM embeddings WHERE vec_id < 50) t
        |GROUP BY vec_id""".stripMargin,

    // identical text — both engines compute the whole-partition
    // dispersion per row; rounded for the float compare
    "q229_sql_window_stats" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(stddev_samp(l_quantity)
        |    OVER (PARTITION BY l_returnflag), 4) AS sd_rf,
        |  round(var_pop(l_discount)
        |    OVER (PARTITION BY l_returnflag, l_linestatus), 6)
        |    AS vp_rfls
        |FROM lineitem
        |WHERE l_orderkey < 200""".stripMargin,

    // the three stages replayed in one query: q27's fingerprint keeper,
    // q77's distinct-3-gram overlap gate, q86's cumsum chunk positions
    "q228_pretrain_prep" ->
      """WITH fp AS (SELECT doc_id, text,
        |    md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS f
        |  FROM documents),
        |keep AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f),
        |surv AS (SELECT fp.doc_id, fp.text FROM fp
        |         JOIN keep ON fp.f = keep.f AND fp.doc_id = keep.keep_id),
        |t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents WHERE regexp_matches(text, '[^ \t\n\x0b\f\r]')),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(n - 3, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT))) AS gr
        |  FROM g),
        |ev AS (SELECT DISTINCT gr FROM grams WHERE doc_id < 20),
        |hits AS (SELECT doc_id FROM grams JOIN ev USING (gr)
        |  WHERE doc_id >= 20 GROUP BY doc_id HAVING count(*) >= 2),
        |clean AS (SELECT s.doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(s.text, '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM surv s
        |  WHERE s.doc_id >= 20
        |    AND s.doc_id NOT IN (SELECT doc_id FROM hits)),
        |c AS (SELECT doc_id, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_pos
        | FROM clean)
        |SELECT doc_id, start_pos,
        | start_pos // 1024 AS chunk_first,
        | greatest(start_pos + n_tok - 1, start_pos) // 1024 AS chunk_last,
        | start_pos % 1024 AS offset_in_chunk
        |FROM c""".stripMargin,

    // closest purchase per click via a correlated LIMIT-1 pick ordered
    // by (|Δt|, backward-first, side-aware event-id tiebreak — backward
    // keeps the LATEST equal-ts row, forward the EARLIEST, matching the
    // engine's running-last window construction)
    "q227_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |             event_id AS p_event_id, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id,
        |  (SELECT p.p_event_id FROM p
        |   WHERE p.user_id = c.user_id
        |     AND abs(p.ts_us - c.ts_us) <= 2592000000000
        |   ORDER BY abs(p.ts_us - c.ts_us),
        |     CASE WHEN p.ts_us <= c.ts_us THEN 0 ELSE 1 END,
        |     CASE WHEN p.ts_us <= c.ts_us THEN -p.p_event_id
        |          ELSE p.p_event_id END
        |   LIMIT 1) AS p_event_id,
        |  (SELECT p.ts_us - c.ts_us FROM p
        |   WHERE p.user_id = c.user_id
        |     AND abs(p.ts_us - c.ts_us) <= 2592000000000
        |   ORDER BY abs(p.ts_us - c.ts_us),
        |     CASE WHEN p.ts_us <= c.ts_us THEN 0 ELSE 1 END,
        |     CASE WHEN p.ts_us <= c.ts_us THEN -p.p_event_id
        |          ELSE p.p_event_id END
        |   LIMIT 1) AS delta_us,
        |  (SELECT p.value FROM p
        |   WHERE p.user_id = c.user_id
        |     AND abs(p.ts_us - c.ts_us) <= 2592000000000
        |   ORDER BY abs(p.ts_us - c.ts_us),
        |     CASE WHEN p.ts_us <= c.ts_us THEN 0 ELSE 1 END,
        |     CASE WHEN p.ts_us <= c.ts_us THEN -p.p_event_id
        |          ELSE p.p_event_id END
        |   LIMIT 1) AS p_value
        |FROM c""".stripMargin,

    // the q32 double-cosine replay shape with the q226 statement's
    // query vector and the same (rounded score, id) cut
    "q226_sql_vec_search" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 7),
        |scored AS (SELECT vec_id,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q))
        |   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))), 6) AS sim,
        |  CAST(len(embedding) AS INTEGER) AS dim
        | FROM embeddings)
        |SELECT vec_id, sim, dim
        |FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // identical text — DuckDB's native DISTINCT ON under the same
    // total-order tie-break picks the same survivors
    "q225_sql_distinct_on" ->
      """SELECT DISTINCT ON (source) source, doc_id, n_chars
        |FROM documents
        |ORDER BY source, n_chars DESC, doc_id""".stripMargin,

    // the full curation arc in one recursive query: quality (the q24
    // formula) + train bucket (the q88 md5 rule) gate `eligible`, then
    // the q219 FFD walk packs it
    "q224_sft_prep" ->
      s"""WITH RECURSIVE ${docStatsCte()},
         |eligible AS (
         |  SELECT doc_id, text FROM d
         |  WHERE $qualityExprSql >= 0.6
         |    AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 100 < 80
         |),
         |ordered AS (
         |  SELECT doc_id, shard, ntok,
         |    row_number() OVER (PARTITION BY shard
         |      ORDER BY ntok DESC, doc_id) AS rn
         |  FROM (
         |    SELECT doc_id,
         |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        % 16 AS shard,
         |      CAST(len(list_filter(
         |        regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
         |        x -> len(x) > 0)) AS BIGINT) AS ntok
         |    FROM eligible)
         |), pack AS (
         |  SELECT shard, rn, doc_id, ntok, 0 AS bin, [ntok] AS fills
         |  FROM ordered WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.rn, o.doc_id, o.ntok,
         |    CAST(coalesce(list_filter(range(1, len(p.fills) + 1),
         |        i -> p.fills[i] + o.ntok <= 256)[1],
         |      len(p.fills) + 1) - 1 AS INTEGER) AS bin,
         |    CASE WHEN coalesce(list_filter(range(1, len(p.fills) + 1),
         |        i -> p.fills[i] + o.ntok <= 256)[1],
         |      len(p.fills) + 1) <= len(p.fills)
         |    THEN list_transform(range(1, len(p.fills) + 1),
         |      j -> CASE WHEN j = coalesce(
         |          list_filter(range(1, len(p.fills) + 1),
         |            i -> p.fills[i] + o.ntok <= 256)[1],
         |          len(p.fills) + 1)
         |        THEN p.fills[j] + o.ntok ELSE p.fills[j] END)
         |    ELSE list_append(p.fills, o.ntok) END AS fills
         |  FROM pack p JOIN ordered o
         |    ON o.shard = p.shard AND o.rn = p.rn + 1
         |)
         |SELECT doc_id, CAST(shard AS INTEGER) AS shard,
         |  bin, ntok FROM pack""".stripMargin,

    // identical text — inline VALUES is standard SQL
    "q223_sql_values" ->
      """SELECT v.tier, COUNT(*) AS n,
        |  round(SUM(o_totalprice), 4) AS total
        |FROM orders
        |JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
        |      ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
        |      ('5-LOW', 'cold')) v(prio, tier)
        |  ON o_orderpriority = v.prio
        |GROUP BY v.tier""".stripMargin,

    // identical shorthand — DuckDB defined GROUP BY ALL / ORDER BY ALL
    "q220_sql_groupby_all" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(SUM(l_quantity), 4) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ALL
        |ORDER BY ALL
        |LIMIT 3""".stripMargin,

    // first-fit-decreasing replayed per shard: docs ordered largest-
    // first, the recursive CTE threads the open-bin fill LIST through
    // each step; `first fitting index else append` is a list_filter
    // over the fills' subscripts (repeated inline — the recursive term
    // cannot name it once without LATERAL)
    "q219_ffd_pack" ->
      """WITH RECURSIVE ordered AS (
        |  SELECT doc_id, shard, ntok,
        |    row_number() OVER (PARTITION BY shard
        |      ORDER BY ntok DESC, doc_id) AS rn
        |  FROM (
        |    SELECT doc_id,
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 16 AS shard,
        |      CAST(len(list_filter(
        |        regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |        x -> len(x) > 0)) AS BIGINT) AS ntok
        |    FROM documents)
        |), pack AS (
        |  SELECT shard, rn, doc_id, ntok, 0 AS bin, [ntok] AS fills
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.ntok,
        |    CAST(coalesce(list_filter(range(1, len(p.fills) + 1),
        |        i -> p.fills[i] + o.ntok <= 256)[1],
        |      len(p.fills) + 1) - 1 AS INTEGER) AS bin,
        |    CASE WHEN coalesce(list_filter(range(1, len(p.fills) + 1),
        |        i -> p.fills[i] + o.ntok <= 256)[1],
        |      len(p.fills) + 1) <= len(p.fills)
        |    THEN list_transform(range(1, len(p.fills) + 1),
        |      j -> CASE WHEN j = coalesce(
        |          list_filter(range(1, len(p.fills) + 1),
        |            i -> p.fills[i] + o.ntok <= 256)[1],
        |          len(p.fills) + 1)
        |        THEN p.fills[j] + o.ntok ELSE p.fills[j] END)
        |    ELSE list_append(p.fills, o.ntok) END AS fills
        |  FROM pack p JOIN ordered o
        |    ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT doc_id, CAST(shard AS INTEGER) AS shard,
        |  bin, ntok FROM pack""".stripMargin,

    // identical text — every cast in the query is in the
    // cross-engine-agreeing set
    "q210_sql_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey AS VARCHAR) AS ok_str,
        |  CAST(l_quantity AS BIGINT) AS qty_int,
        |  CAST(l_linenumber AS DOUBLE) AS ln_dbl,
        |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day
        |FROM lineitem
        |WHERE l_shipdate >= CAST('1998-09-01' AS TIMESTAMP)""".stripMargin,

    // truncated-prefix cosine pool (list slice), exact full re-rank —
    // the two-stage replay with the same id tie-breaks
    "q209_knn_truncated" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |pre AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  list_dot_product(CAST(embedding AS DOUBLE[])[1:16],
        |                   (SELECT qv[1:16] FROM q))
        |   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[])[1:16],
        |                            CAST(embedding AS DOUBLE[])[1:16]))
        |      * sqrt(list_dot_product((SELECT qv[1:16] FROM q),
        |                              (SELECT qv[1:16] FROM q)))) AS p
        | FROM embeddings),
        |pool AS (SELECT vec_id, v FROM pre
        |  QUALIFY row_number() OVER (ORDER BY p DESC, vec_id) <= 50),
        |scored AS (SELECT vec_id,
        |  list_dot_product(v, (SELECT qv FROM q))
        |   / (sqrt(list_dot_product(v, v))
        |      * sqrt(list_dot_product((SELECT qv FROM q),
        |                              (SELECT qv FROM q)))) AS raw
        | FROM pool)
        |SELECT vec_id, round(raw, 6) AS score
        |FROM scored ORDER BY raw DESC, vec_id LIMIT 10""".stripMargin,

    // the same top-k rank (count desc, token asc tie-break), integer
    // sums (DuckDB's HUGEINT sums cast back to BIGINT), one division
    "q208_head_coverage" ->
      """WITH tok AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        |top AS (SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token) AS r
        |  FROM cnt QUALIFY r <= 1000),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cnt),
        |ks AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT ks.k,
        |  CAST(sum(top.n) AS BIGINT) AS covered_tokens,
        |  (SELECT total FROM tot) AS total_tokens,
        |  round(CAST(sum(top.n) AS DOUBLE)
        |    / (SELECT CAST(total AS DOUBLE) FROM tot), 6) AS coverage
        |FROM ks JOIN top ON top.r <= ks.k
        |GROUP BY ks.k""".stripMargin,

    // the streaming twin's gate: the compacted-at-ingest log must land
    // the IDENTICAL funnel — same replay as q206
    "q212_stream_funnel" -> funnelReplay,

    // the funnel chain in epoch-µs: earliest entry anchors the window,
    // each later step is the earliest in-window event at-or-after the
    // previous step's time
    "q206_funnel" -> funnelReplay,

    // the pivot as conditional count-sums (FILTER), zero-filled like
    // the explicit-value pivot
    "q211_event_pivot" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin,

    // cohort day = day of first event; one row per (cohort, offset)
    // counting distinct active users ((user, day) deduped first)
    "q207_cohort_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
        |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_day,
        |  date_diff('day', c.cohort, d.day) AS day_k,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM d JOIN c ON d.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    // identical text: DuckDB's lag/lead defaults and frame-aware
    // first_value/last_value have the same semantics
    "q205_sql_lag_lead" ->
      """SELECT event_id, user_id,
        |  lag(value, 1, 0.0) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_val,
        |  lead(event_type, 1, 'none') OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next_type,
        |  first_value(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS first_val,
        |  last_value(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_val
        |FROM events
        |WHERE user_id < 30""".stripMargin,

    // the audio-fingerprint replay (sample formula → window energies →
    // mean → bits) — the q187 gate's aural twin
    "q189_audio_fingerprint" ->
      s"""WITH $audioFpOracleCtes
         |SELECT doc_id AS media_id, CAST(2048 AS BIGINT) AS n_samples,
         |  hi AS afp_hi, lo AS afp_lo
         |FROM sig""".stripMargin,

    // fingerprint replay + the same chunk-LSH tail as q188
    "q190_audio_neardup" ->
      s"""WITH $audioFpOracleCtes,
         |$hammingLshOracleTail""".stripMargin,

    "q30_simhash_pairs" ->
      """WITH d0 AS (SELECT doc_id AS id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |d AS (SELECT * FROM d0 WHERE len(toks) > 0),
        |tok AS (SELECT id, unnest(toks) AS t FROM d),
        |th AS (SELECT id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
        |votes AS (SELECT id, bits.b AS bit,
        |    sum(CASE WHEN (h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, (SELECT unnest(range(60)) AS b) bits GROUP BY id, bits.b),
        |sig AS (SELECT id,
        |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS s
        |  FROM votes GROUP BY id),
        |chunked AS (SELECT id, s, cs.c AS chunk, (s >> (cs.c * 16)) & 65535 AS key
        |  FROM sig, (SELECT unnest(range(4)) AS c) cs),
        |buckets AS (SELECT chunk, key FROM chunked GROUP BY chunk, key
        |  HAVING count(*) BETWEEN 2 AND 4096),
        |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
        |  FROM chunked a
        |  JOIN buckets k ON a.chunk = k.chunk AND a.key = k.key
        |  JOIN chunked b
        |    ON a.chunk = b.chunk AND a.key = b.key AND a.id < b.id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin,

    "q31_embed_neardup" -> embedLshOracleSql(
      planes = q31Planes, threshold = 0.3, maxBucket = 4096),

    "q62_embed_multi" -> embedLshMultiOracleSql(
      planeSets = q62PlaneSets, threshold = 0.3, maxBucket = 4096),

    "q63_asof_forward" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us,
        |       p.ts_us - c.ts_us AS gap_us
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us <= p.ts_us""".stripMargin,

    "q33_knn_ivf" -> ivfOracleSql(ivfCentroids, k = 10, nprobe = 2),

    // the full ANN-join replay: per-probe nprobe-best cells (dot DESC,
    // ties to the lower index — the probeBuckets contract), the q33
    // corpus assignment CTEs, the bucket equi-join, and per-probe top-k
    // with q41's tie convention
    "q184_ann_join" -> {
      val centVals = ivfCentroids.zipWithIndex
        .map { case (c, i) => s"($i, ${sqlArray(c)})" }.mkString(", ")
      s"""WITH cd AS (SELECT * FROM (VALUES $centVals) t(i, c)),
         |p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
         |      FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |pb AS (SELECT probe_id, pv, i AS bucket FROM p, cd
         |       QUALIFY row_number() OVER (PARTITION BY probe_id
         |         ORDER BY list_dot_product(cd.c, p.pv) DESC, cd.i) <= 2),
         |${ivfAssignCtes(ivfCentroids)},
         |s AS (SELECT pb.probe_id, eb.vec_id AS id,
         |    list_dot_product(eb.v, pb.pv)
         |      / (sqrt(list_dot_product(eb.v, eb.v))
         |         * sqrt(list_dot_product(pb.pv, pb.pv))) AS raw
         |  FROM pb JOIN eb ON eb.bucket = pb.bucket)
         |SELECT probe_id, id, round(raw, 6) AS score FROM s
         |QUALIFY row_number() OVER (PARTITION BY probe_id
         |  ORDER BY raw DESC, id) <= 5""".stripMargin
    },

    // the IVF assignment replay (same argmax CTEs as q33) + best-dot
    // affinity + the exact 5th-percentile cutoff — quantile_cont uses
    // the same rank interpolation as Spark's percentile (the q164
    // precedent), over ROUNDED affinities on both sides
    "q179_embedding_outliers" -> {
      val best = ivfCentroids.indices.map(i => s"s$i").mkString(", ")
      s"""WITH ${ivfAssignCtes(ivfCentroids)},
         |a AS (SELECT es.vec_id AS vec_id, eb.bucket AS bucket,
         |    round(greatest($best), 6) AS affinity
         |  FROM es JOIN eb ON es.vec_id = eb.vec_id),
         |t AS (SELECT quantile_cont(affinity, 0.05) AS thr FROM a)
         |SELECT vec_id, bucket, affinity FROM a, t
         |WHERE affinity < thr""".stripMargin
    },

    // same cell assignment as q33's replay, then capped within-cell
    // pairs, rounded-cosine flagging and the q51-style closure
    "q155_semantic_dedup" ->
      s"""WITH RECURSIVE ${ivfAssignCtes(ivfCentroids)},
         |kc AS (SELECT bucket FROM eb GROUP BY bucket
         |  HAVING count(*) BETWEEN 2 AND 4096),
         |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    a.v AS va, b.v AS vb
         |  FROM eb a
         |  JOIN kc ON a.bucket = kc.bucket
         |  JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |p AS (SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, round(list_dot_product(va, vb)
         |      / (sqrt(list_dot_product(va, va))
         |         * sqrt(list_dot_product(vb, vb))), 6) AS c
         |    FROM cand) WHERE c >= 0.3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a)
         |SELECT a AS vec_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a""".stripMargin,
    "q122_knn_pq" -> pqOracleSql(pqCodebooks, k = 10),
    "q123_knn_ivfpq" ->
      pqOracleSql(pqCodebooks, k = 10, ivfPrune = Some((ivfCentroids, 2))),
    // the stored-codes layout must land the exact q123 result
    "q124_knn_pq_layout" ->
      pqOracleSql(pqCodebooks, k = 10, ivfPrune = Some((ivfCentroids, 2))),
    // q123's ADC stages + a 50-candidate pool + exact-L2 re-rank
    "q168_knn_ivfpq_refine" ->
      pqOracleSql(pqCodebooks, k = 10, ivfPrune = Some((ivfCentroids, 2)),
        rerank = Some(50)),
    // the stored-codes layout must land the exact q168 result (the
    // q124-vs-q123 transparency contract, extended to the refine stage)
    "q175_knn_stored_refine" ->
      pqOracleSql(pqCodebooks, k = 10, ivfPrune = Some((ivfCentroids, 2)),
        rerank = Some(50)),

    // same algorithm as q33, different execution path (partition-pruned
    // scan over the bucketed layout) — same oracle by construction
    "q48_knn_ivf_part" -> ivfOracleSql(ivfCentroids, k = 10, nprobe = 2),

    "q52_gopher_quality" ->
      """WITH d AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\n'), l -> trim(l) <> '') AS lines,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0) AS toks
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN len(lines) = 0 THEN 0.0
        |      ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END
        |   AS frac_dup_lines,
        | CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END
        |   AS mean_word_len,
        | CAST(length(text) - length(regexp_replace(text, '[#@*&%+=~|]', '', 'g')) AS DOUBLE)
        |   / greatest(CAST(length(text) AS DOUBLE), 1.0) AS symbol_ratio,
        | CASE WHEN len(lines) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
        |        / len(lines) END AS bullet_ratio
        |FROM d""".stripMargin,

    // transitive closure over the SAME replayed pair set as q29: cluster
    // of a doc = the smallest doc id reachable through >= 0.8 pairs
    "q51_dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a""".stripMargin,

    // the q51 replay verbatim: the dialect's recursive CTE over the
    // real pair set must land the same closure DuckDB's does
    "q257_recursive_closure_dogfood" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a""".stripMargin,

    // q51's closure, left-joined onto ALL docs (self-cluster fallback),
    // then the q88 md5 split keyed on the CLUSTER id
    "q163_leakfree_split" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |,cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
         |        FROM reach GROUP BY a),
         |assigned AS (
         |  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
         |SELECT doc_id, cluster,
         | CASE WHEN b < 80 THEN 'train'
         |      WHEN b < 90 THEN 'validation'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster,
         |  ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
         | FROM assigned)""".stripMargin,

    // quantile_cont == Spark percentile (the q40 precedent); boundaries
    // rounded at 4dp in BOTH engines before the comparison chain
    "q164_range_buckets" -> {
      val cuts = (1 until 8)
        .map(i => s"round(quantile_cont(l_extendedprice, $i/8.0), 4)")
        .mkString("[", ", ", "]")
      s"""WITH b AS (SELECT $cuts AS bs FROM lineitem)
         |SELECT CAST(len(list_filter(b.bs, v -> l_extendedprice > v)) AS INTEGER)
         |    AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  round(min(l_extendedprice), 4) AS lo,
         |  round(max(l_extendedprice), 4) AS hi
         |FROM lineitem, b
         |GROUP BY 1""".stripMargin
    },

    // incremental = old-side pairs under the OLD corpus's bucket caps
    // (replayed from `banded` restricted to id < 400) ∪ new-involving
    // pairs under the COMBINED caps (j filtered), then the same closure
    // as q51 — the union must land the full recompute's components
    "q154_clusters_incremental" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |obuckets AS (SELECT band, key FROM banded WHERE id < 400
         |  GROUP BY band, key HAVING count(*) BETWEEN 2 AND 64),
         |ocand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a
         |  JOIN obuckets k ON a.band = k.band AND a.key = k.key
         |  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
         |  WHERE a.id < 400 AND b.id < 400),
         |oj AS (SELECT id_a, id_b,
         |    CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
         |      / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
         |  FROM ocand
         |  JOIN d ta ON ta.id = ocand.id_a
         |  JOIN d tb ON tb.id = ocand.id_b),
         |p AS (SELECT id_a, id_b FROM oj WHERE jaccard >= 0.8
         |      UNION
         |      SELECT id_a, id_b FROM j
         |      WHERE jaccard >= 0.8 AND (id_a >= 400 OR id_b >= 400)),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a""".stripMargin,

    // the q23 + q24 + q25 + q26 oracles joined into one row per doc
    "q72_profile" ->
      s"""WITH ${docStatsCte()},
         |$langidCtes
         |SELECT d.doc_id, n_tok AS n_tokens,
         | len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
         |     x -> len(x) > 0)) AS n_subwords,
         | length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         | n_sw AS n_stopwords,
         | $qualityExprSql AS quality,
         | l.lang_guess,
         | md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp_md5
         |FROM d JOIN langid l ON d.doc_id = l.doc_id""".stripMargin,

    // same gram pipeline as q70, split into eval (id < 20, distinct
    // grams) and corpus (id >= 20) sides, joined and counted
    "q77_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents WHERE regexp_matches(text, '[^ \t\n\x0b\f\r]')),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(n - 3, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT))) AS gr
        |  FROM g),
        |ev AS (SELECT DISTINCT gr FROM grams WHERE doc_id < 20),
        |hits AS (SELECT doc_id, count(*) AS n_shared
        |  FROM grams JOIN ev USING (gr)
        |  WHERE doc_id >= 20 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared
        |FROM hits WHERE n_shared >= 2""".stripMargin,

    // replays the q45 winnow pipeline, then buckets by fingerprint
    // (capped), explodes pairs and counts shared fingerprints per pair
    "q70_winnow_overlap" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    list_transform(range(0, greatest(n - 3, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT) AS gr
        |  FROM g),
        |fps AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(len(gr) - 4, 0) + 1),
        |      i -> list_min(gr[i+1:i+4])))) AS fp
        |  FROM grams),
        |b AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 4096),
        |pairs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |    count(*) AS n_shared
        |  FROM fps a
        |  JOIN b ON a.fp = b.fp
        |  JOIN fps c ON a.fp = c.fp AND a.doc_id < c.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM pairs WHERE n_shared >= 3""".stripMargin,

    "q68_corpus_dup_lines" ->
      """WITH l AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\n'),
        |      x -> trim(x) <> '')) AS line
        |  FROM documents),
        |lh AS (SELECT doc_id, md5(line) AS h FROM l),
        |c AS (SELECT h, count(*) AS cnt FROM lh GROUP BY h)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS frac_dup_corpus,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lh JOIN c USING (h) GROUP BY doc_id""".stripMargin,

    "q69_corpus_stats" ->
      s"""WITH ${docStatsCte()},
         |q AS (SELECT doc_id, n_tok, $qualityExprSql AS quality
         |FROM d)
         |SELECT CAST(floor(n_tok / 64) AS BIGINT) AS len_bucket,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | round(avg(n_tok), 4) AS avg_tokens,
         | round(avg(quality), 4) AS avg_quality
         |FROM q GROUP BY 1""".stripMargin,

    "q64_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |  < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 30 ELSE 10 END""".stripMargin,

    "q65_topk_per_lang" ->
      s"""WITH ${docStatsCte()},
         |q AS (SELECT doc_id, lang, $qualityExprSql AS quality
         |FROM d)
         |SELECT lang, doc_id, quality FROM q
         |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) <= 10""".stripMargin,

    "q60_salted_join" ->
      """SELECT o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q61_part_corpus" ->
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |     x -> len(x) > 0)) AS n_tokens
        |FROM documents WHERE lang = 'en'""".stripMargin,

    // full replay of the composed pipeline: langid + quality (q24/q25
    // expressions) + the recursive transitive closure over the replayed
    // minhash pair set; keep = en AND quality >= 0.4 AND not a cluster
    // loser (doc_id != its cluster's min id)
    "q59_pipeline_keep" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clus AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
         |         FROM reach GROUP BY a),
         |losers AS (SELECT doc_id FROM clus WHERE doc_id <> cluster),
         |${docStatsCte("qd")},
         |quality AS (SELECT doc_id, $qualityExprSql AS quality
         |FROM qd),
         |$langidCtes
         |SELECT q.doc_id, q.quality
         |FROM quality q JOIN langid l ON q.doc_id = l.doc_id
         |WHERE l.lang_guess = 'en' AND q.quality >= 0.4
         |  AND q.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,

    "q49_sql_tpch_q3" ->
      """WITH g AS (
        |  SELECT l.l_orderkey, o.o_orderpriority,
        |    sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue_raw
        |  FROM customer c
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1996-06-01'
        |    AND l.l_shipdate > TIMESTAMP '1996-06-01'
        |  GROUP BY l.l_orderkey, o.o_orderpriority)
        |SELECT l_orderkey, o_orderpriority, round(revenue_raw, 4) AS revenue
        |FROM g ORDER BY revenue_raw DESC, l_orderkey LIMIT 10""".stripMargin,

    "q50_sql_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q53_sql_tpch_q5" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,

    "q54_sql_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,

    // per-row sequential frames: lag is exact; the bounded/prefix frames
    // accumulate in the same (ts, id) order in both engines, and round(4)
    // absorbs any sub-ulp tail
    "q55_window_funcs" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        | lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |   AS prev_value,
        | round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_sum
        |FROM events""".stripMargin,

    "q56_sql_tpch_q18" ->
      """SELECT c_name, o_orderkey, o_totalprice, sum(l_quantity) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
        |GROUP BY c_name, o_orderkey, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q57_sql_tpch_q10" ->
      """WITH g AS (
        |  SELECT c_custkey, c_name, n_name,
        |    sum(l_extendedprice * (1 - l_discount)) AS revenue_raw
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01'
        |    AND l_returnflag = 'R'
        |  GROUP BY c_custkey, c_name, n_name)
        |SELECT c_custkey, c_name, n_name, round(revenue_raw, 4) AS revenue
        |FROM g ORDER BY revenue_raw DESC, c_custkey LIMIT 20""".stripMargin,

    "q75_sql_tpch_q7" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY n1.n_name, n2.n_name""".stripMargin,

    "q73_tpch_q14" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,

    "q74_sql_tpch_q17" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q58_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q32_knn_brute" -> bruteKnnReplay,

    // scalar quantization replay: per-dim min/max from the data, the
    // same affine 0..255 grid, integer dot scores — all int64 exact
    "q132_knn_sq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mm0 AS (SELECT d.i AS dim, min(v[d.i]) AS mn, max(v[d.i]) AS mx
        |        FROM e, (SELECT unnest(generate_series(1, 64)) AS i) d
        |        GROUP BY 1),
        |mm AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        |       FROM mm0),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |      WHERE vec_id = 0),
        |qc AS (SELECT list_transform(generate_series(1, 64),
        |         i -> CASE WHEN mxs[i] > mns[i]
        |              THEN CAST(round((qv[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT)
        |              ELSE 0 END) AS qcs
        |       FROM q, mm),
        |codes AS (SELECT vec_id, list_transform(generate_series(1, 64),
        |            i -> CASE WHEN mxs[i] > mns[i]
        |                 THEN CAST(round((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT)
        |                 ELSE 0 END) AS c
        |          FROM e, mm),
        |scored AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> c[i] * qcs[i])) AS BIGINT) AS score_int
        |  FROM codes, qc)
        |SELECT vec_id, score_int FROM scored
        |ORDER BY score_int DESC, vec_id LIMIT 10""".stripMargin,

    // the q132 SQ replay composed with the IVF bucket-assignment replay:
    // params train on the FULL corpus, pruning applies at serve time
    "q135_knn_ivfsq" -> {
      val scores = ivfCentroids.zipWithIndex.map { case (c, i) =>
        s"list_dot_product(v, ${sqlArray(c)}) AS s$i"
      }.mkString(",\n    ")
      val n = ivfCentroids.length
      val argmax = "CASE " + (n - 1 to 1 by -1).map { i =>
        val others = (0 until i).map(j => s"s$j").mkString(", ")
        s"WHEN s$i >= greatest($others) THEN $i"
      }.mkString(" ") + " ELSE 0 END"
      val centVals = ivfCentroids.zipWithIndex
        .map { case (c, i) => s"($i, ${sqlArray(c)})" }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |mm0 AS (SELECT d.i AS dim, min(v[d.i]) AS mn, max(v[d.i]) AS mx
         |        FROM e, (SELECT unnest(generate_series(1, 64)) AS i) d
         |        GROUP BY 1),
         |mm AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
         |       FROM mm0),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
         |      WHERE vec_id = 0),
         |qc AS (SELECT list_transform(generate_series(1, 64),
         |         i -> CASE WHEN mxs[i] > mns[i]
         |              THEN CAST(round((qv[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT)
         |              ELSE 0 END) AS qcs
         |       FROM q, mm),
         |cd AS (SELECT * FROM (VALUES $centVals) t(i, c)),
         |qb AS (SELECT i FROM cd, q ORDER BY list_dot_product(c, qv) DESC, i LIMIT 2),
         |es AS (SELECT vec_id, v,
         |    $scores
         |  FROM e),
         |eb AS (SELECT vec_id, v, $argmax AS bucket FROM es),
         |pruned AS (SELECT vec_id, v FROM eb WHERE bucket IN (SELECT i FROM qb)),
         |codes AS (SELECT vec_id, list_transform(generate_series(1, 64),
         |            i -> CASE WHEN mxs[i] > mns[i]
         |                 THEN CAST(round((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT)
         |                 ELSE 0 END) AS c
         |          FROM pruned, mm),
         |scored AS (SELECT vec_id,
         |    CAST(list_sum(list_transform(generate_series(1, 64),
         |      i -> c[i] * qcs[i])) AS BIGINT) AS score_int
         |  FROM codes, qc)
         |SELECT vec_id, score_int FROM scored
         |ORDER BY score_int DESC, vec_id LIMIT 10""".stripMargin
    },

    // recall@10: both the brute and IVF replays run as CTE bodies (each
    // carries its own inner WITH — names stay local), then a semi-count
    "q130_ann_recall" ->
      s"""WITH brute AS ($bruteKnnReplay),
         |approx AS (${ivfOracleSql(ivfCentroids, k = 10, nprobe = 2)})
         |SELECT CAST(count(*) AS BIGINT) AS n_matched,
         |       round(count(*) / 10.0, 6) AS recall
         |FROM approx WHERE vec_id IN (SELECT vec_id FROM brute)""".stripMargin,

    // octet_length(encode(..)): the Spark side derives fake dimensions
    // from the UTF-8 BYTE length of the payload, so the oracle must
    // measure bytes too (length() counts characters and diverges on any
    // non-ASCII document)
    "q34_media_meta" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image'
        |      WHEN doc_id % 3 = 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(64 + octet_length(encode(text)) % 1024 AS INTEGER) AS width,
        | CAST(64 + (octet_length(encode(text)) * 7) % 1024 AS INTEGER) AS height,
        | (octet_length(encode(text)) % 6000) / 100.0 AS duration_s
        |FROM documents""".stripMargin,

    // replays synthesizeVideo's id-derivation; the Spark side must
    // recover these by PARSING the ISO-BMFF boxes it wrote (wrong tkhd
    // offset / endianness / fixed-point shift → hash mismatch). n_bytes
    // pins the container skeleton size (ftyp 24 + moov 8+108+8+92)
    "q127_video_meta" ->
      """SELECT doc_id AS media_id,
        | CAST(240 AS BIGINT) AS n_bytes,
        | CAST(320 + (doc_id % 16) * 16 AS INTEGER) AS width,
        | CAST(240 + (doc_id % 9) * 16 AS INTEGER) AS height,
        | CAST(1000 + (doc_id % 600) * 100 AS DOUBLE) / 1000.0 AS duration_s
        |FROM documents""".stripMargin,

    // the decoded JPEG geometry must equal the fixture arithmetic —
    // a real decode ran iff these match (a wrong sample offset or a
    // codec mixup cannot reproduce the per-id dims)
    "q149_mjpeg_frames" ->
      """SELECT doc_id AS media_id,
        | CAST(16 + (doc_id % 4) * 16 AS INTEGER) AS frame_w,
        | CAST(16 + ((doc_id * 3) % 5) * 16 AS INTEGER) AS frame_h,
        | CAST(1 + doc_id % 4 AS INTEGER) AS n_frames,
        | 'jpeg' AS codec
        |FROM documents""".stripMargin,

    // text survives the proto round trip byte-exactly; the float
    // feature replays through the same one-decimal arithmetic
    "q276_tfrecord_ingest" ->
      """SELECT doc_id, true AS text_ok,
        | round(CAST(doc_id % 100 AS DOUBLE) / 10, 1) AS score
        |FROM documents""".stripMargin,

    // every row survives the container round trip: text byte-exact,
    // the array column element-exact, nullable lang as union[null,T]
    "q280_avro_ingest" ->
      """SELECT doc_id, true AS text_ok, true AS sig_ok, lang, n_chars
        |FROM documents""".stripMargin,

    // every document must survive the ustar wrap (+ half the shards
    // gzipped) byte-exactly; n_bytes = the UTF-8 length of the text
    "q271_tar_ingest" ->
      """SELECT doc_id,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | true AS text_ok
        |FROM documents""".stripMargin,

    // the zip twin of q271 through the JDK's local-header stream walk
    "q272_zip_ingest" ->
      """SELECT doc_id,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | true AS text_ok
        |FROM documents""".stripMargin,

    // the whole arc replayed: the page string rebuilt in SQL, the full
    // q268 chain applied, domain = source || '.example', keep at 200
    "q269_crawl_arc" ->
      """WITH h AS (SELECT doc_id, source,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title></head><body><p>' || text ||
        |  '</p><script>track();</script></body></html>' AS page
        |  FROM documents),
        |s1 AS (SELECT doc_id, source, regexp_replace(page,
        |  '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, source, regexp_replace(t,
        |  '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, source, regexp_replace(t,
        |  '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, source, regexp_replace(t,
        |  '(?s)<[^>]+>', ' ', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id, source,
        |  replace(replace(replace(replace(replace(replace(t,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s4),
        |c AS (SELECT doc_id, source,
        |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean FROM s5)
        |SELECT source || '.example' AS domain, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN length(clean) >= 200 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(SUM(length(clean)) AS BIGINT) AS clean_chars
        |FROM c GROUP BY source""".stripMargin,

    // DuckDB builds the IDENTICAL page string and replays the chain —
    // pattern flags via inline (?is), global via the 'g' option
    "q268_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><style>body { color: red }</style></head>' ||
        |  '<body>' || chr(10) || '<h1 class="t">Heading &amp; more</h1>' ||
        |  chr(10) || '<p>' || text ||
        |  '</p><script>if (1 < 2) { track("&amp;"); }</script>' ||
        |  '<!-- hidden --> tail&nbsp;&lt;end&gt;</body></html>' AS page
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(page,
        |  '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t,
        |  '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t,
        |  '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t,
        |  '(?s)<[^>]+>', ' ', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(t,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s4)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean
        |FROM s5""".stripMargin,

    // the half-contrast pattern makes both outcomes deterministic:
    // un-normalized hashes differ (column-bits vs row-bits), normalized
    // hashes agree (the transform restores the displayed pixels)
    "q267_ahash_oriented" ->
      """SELECT doc_id, false AS plain_equal, true AS oriented_equal
        |FROM documents""".stripMargin,

    // footers must agree with a real scan — count, min and max
    "q275_footer_stats" ->
      """SELECT 'l_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(l_orderkey) AS DOUBLE) AS min_val,
        | CAST(max(l_orderkey) AS DOUBLE) AS max_val
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', CAST(count(*) AS BIGINT),
        | CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE)
        |FROM lineitem""".stripMargin,

    // manifests record exactly this growth-then-compaction shape
    "q274_sql_history" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(1 AS INTEGER), false),
        | (CAST(2 AS BIGINT), CAST(2 AS INTEGER), false),
        | (CAST(3 AS BIGINT), CAST(3 AS INTEGER), false),
        | (CAST(4 AS BIGINT), CAST(1 AS INTEGER), true))
        | h(version, n_segments, is_head)""".stripMargin,

    // three cues per doc, times and joined text replayed arithmetically
    "q273_srt_cues" ->
      """SELECT d.doc_id, CAST(c.i AS INTEGER) AS cue_index,
        | CAST((d.doc_id % 50) * 700 + (c.i - 1) * 3000 AS BIGINT)
        |   AS start_ms,
        | CAST((d.doc_id % 50) * 700 + (c.i - 1) * 3000 + 2500 AS BIGINT)
        |   AS end_ms,
        | 'cue ' || CAST(c.i AS VARCHAR) || ' of doc ' ||
        |   CAST(d.doc_id AS VARCHAR) AS cue_text
        |FROM documents d CROSS JOIN (VALUES (1), (2), (3)) c(i)""".stripMargin,

    // FLAC duration = total·1000 // rate, MP3 = frames·1152·1000 //
    // rate — integer division on both sides, parameters pure id math
    "q270_audio_meta" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'flac' ELSE 'mp3' END AS codec,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN
        |   CASE doc_id % 5 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |     WHEN 2 THEN 32000 WHEN 3 THEN 22050 ELSE 16000 END
        | ELSE
        |   CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |     ELSE 32000 END
        | END AS INTEGER) AS sample_rate,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 4) // 2
        |   ELSE (CASE WHEN doc_id % 4 < 2 THEN 1 ELSE 2 END)
        | END AS INTEGER) AS channels,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN
        |   (1000 + doc_id * 37) * 1000 //
        |     (CASE doc_id % 5 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |       WHEN 2 THEN 32000 WHEN 3 THEN 22050 ELSE 16000 END)
        | ELSE
        |   (3 + doc_id % 5) * 1152 * 1000 //
        |     (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |       ELSE 32000 END)
        | END AS BIGINT) AS dur_ms
        |FROM documents""".stripMargin,

    // decoded dims from the real JPEG, orientation from the APP1 walk,
    // display dims swapped for orientations 5..8 — all id arithmetic
    "q266_exif_orientation" ->
      """SELECT doc_id AS media_id,
        | CAST(16 + (doc_id % 4) * 16 AS INTEGER) AS width,
        | CAST(16 + ((doc_id * 3) % 5) * 16 AS INTEGER) AS height,
        | CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
        | CAST(CASE WHEN 1 + doc_id % 8 >= 5
        |   THEN 16 + ((doc_id * 3) % 5) * 16
        |   ELSE 16 + (doc_id % 4) * 16 END AS INTEGER) AS display_w,
        | CAST(CASE WHEN 1 + doc_id % 8 >= 5
        |   THEN 16 + (doc_id % 4) * 16
        |   ELSE 16 + ((doc_id * 3) % 5) * 16 END AS INTEGER) AS display_h
        |FROM documents""".stripMargin,

    // every record must survive the WARC wrap + HTTP embed + (half the
    // shards) gzip member layout byte-exactly
    "q264_warc_ingest" ->
      """SELECT doc_id, CAST(200 AS INTEGER) AS http_status,
        | 'text/plain' AS content_type, true AS body_ok
        |FROM documents""".stripMargin,

    // one CASE per container family — a wrong dispatch or a wrong
    // per-family parse moves that family's whole residue class
    "q263_video_meta_mixed" ->
      """SELECT doc_id AS media_id,
        | CASE doc_id % 5
        |   WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1' WHEN 2 THEN 'av01'
        |   WHEN 3 THEN (CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_AV1' END)
        |   ELSE (CASE WHEN doc_id % 2 = 0 THEN 'MJPG' ELSE 'DIB' END)
        | END AS codec,
        | CAST(CASE doc_id % 5
        |   WHEN 0 THEN 16 * (1 + doc_id % 4) - 2 * ((doc_id * 7) % 4)
        |   WHEN 1 THEN 8 * (2 + doc_id % 6) - 2 * ((doc_id * 5) % 4)
        |   WHEN 2 THEN 17 + (doc_id % 50) * 3
        |   WHEN 3 THEN 32 + (doc_id % 7) * 16
        |   ELSE 16 + (doc_id % 4) * 16
        | END AS INTEGER) AS width,
        | CAST(CASE doc_id % 5
        |   WHEN 0 THEN 16 * (1 + (doc_id * 3) % 5) - 2 * ((doc_id * 11) % 4)
        |   WHEN 1 THEN 8 * (2 + (doc_id * 7) % 5) - 2 * ((doc_id * 3) % 4)
        |   WHEN 2 THEN 23 + ((doc_id * 7) % 40) * 2
        |   WHEN 3 THEN 24 + ((doc_id * 3) % 6) * 16
        |   ELSE 16 + ((doc_id * 3) % 5) * 16
        | END AS INTEGER) AS height
        |FROM documents""".stripMargin,

    // container fields lie by +16 px, so equality with the arithmetic
    // is only reachable through the OBU bitstream
    "q262_av1_seq_geometry" ->
      """SELECT doc_id AS media_id, 'av01' AS codec,
        | CAST(17 + (doc_id % 50) * 3 AS INTEGER) AS width,
        | CAST(23 + ((doc_id * 7) % 40) * 2 AS INTEGER) AS height,
        | CAST(doc_id % 3 AS INTEGER) AS profile_idc,
        | CAST(doc_id % 12 AS INTEGER) AS level_idc,
        | CAST(1 + doc_id % 3 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,

    // every decoded value must equal the EBML fixture arithmetic; the
    // duration crosses TimestampScale×Duration, so a wrong unit moves it
    "q261_webm_meta" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_AV1' END AS codec,
        | CAST(32 + (doc_id % 7) * 16 AS INTEGER) AS width,
        | CAST(24 + ((doc_id * 3) % 6) * 16 AS INTEGER) AS height,
        | CAST(1000 + (doc_id % 10) * 500 AS DOUBLE) / 1000 AS dur_sec
        |FROM documents""".stripMargin,

    // container PixelWidth/PixelHeight lie by +16 px, so equality with
    // the arithmetic is only reachable through the keyframe's
    // uncompressed-header parse; width/height deliberately not
    // 16-multiples (VP9 frame size is exact pixels)
    "q287_vp9_geometry" ->
      """SELECT doc_id AS media_id,
        | CAST(17 + (doc_id % 50) * 3 AS INTEGER) AS width,
        | CAST(23 + ((doc_id * 7) % 40) * 2 AS INTEGER) AS height,
        | CAST(doc_id % 4 AS INTEGER) AS profile
        |FROM documents""".stripMargin,

    // the q258 argument for HEVC: display size = luma size minus the
    // conformance window, derivable only from the SPS bitstream
    "q259_hevc_sps_geometry" ->
      """SELECT doc_id AS media_id, 'hvc1' AS codec,
        | CAST(8 * (2 + doc_id % 6) - 2 * ((doc_id * 5) % 4) AS INTEGER) AS width,
        | CAST(8 * (2 + (doc_id * 7) % 5) - 2 * ((doc_id * 3) % 4) AS INTEGER) AS height,
        | CAST(1 AS INTEGER) AS profile_idc,
        | CAST(60 + (doc_id % 4) * 30 AS INTEGER) AS level_idc,
        | CAST(1 + doc_id % 3 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,

    // every dimension must equal the DISPLAY size (padded minus crop):
    // the container's own dimension fields carry the padded size, so a
    // match proves the SPS bitstream parse ran
    "q258_avc_sps_geometry" ->
      """SELECT doc_id AS media_id, 'avc1' AS codec,
        | CAST(16 * (1 + doc_id % 4) - 2 * ((doc_id * 7) % 4) AS INTEGER) AS width,
        | CAST(16 * (1 + (doc_id * 3) % 5) - 2 * ((doc_id * 11) % 4) AS INTEGER) AS height,
        | CAST(66 AS INTEGER) AS profile_idc,
        | CAST(10 + (doc_id % 5) * 10 AS INTEGER) AS level_idc,
        | CAST(1 + doc_id % 4 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,

    // RIFF/AVI first-frame decode: geometry and the raw-frame byte mean
    // must equal the fixture arithmetic — MJPEG rows prove the real
    // JPEG decode ran (dims can't come from anywhere else; mean is -1
    // because JPEG quantizes), DIB rows prove the raw-pixel read
    // (mean = the exact fill byte)
    "q241_avi_first_frame" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'MJPG' ELSE 'DIB' END AS codec,
        | CAST(16 + (doc_id % 4) * 16 AS INTEGER) AS width,
        | CAST(16 + ((doc_id * 3) % 5) * 16 AS INTEGER) AS height,
        | CAST(1 + doc_id % 4 AS INTEGER) AS n_frames,
        | CASE WHEN doc_id % 2 = 0 THEN -1.0
        |      ELSE CAST((doc_id * 13) % 251 AS DOUBLE) END AS mean_px
        |FROM documents""".stripMargin,

    // every value decoded from REAL GIF bytes must equal the fixture's
    // id-derived geometry (the q149 pattern for the GIF sequence walk)
    "q173_gif_frames" ->
      """SELECT doc_id AS media_id,
        | CAST(8 + (doc_id % 5) * 8 AS INTEGER) AS frame_w,
        | CAST(8 + ((doc_id * 7) % 3) * 8 AS INTEGER) AS frame_h,
        | CAST(1 + doc_id % 5 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,

    "q36_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
        |flagged AS (SELECT user_id, event_id, ts_us, value,
        |  CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |       > 1800000000 THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |sessions AS (SELECT user_id, ts_us, value,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_id
        | FROM flagged)
        |SELECT user_id, session_id,
        | CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(value), 4) AS sum_value,
        | min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,

    "q37_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q38_sql_dialect" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-03-31'
        |  AND NOT l_returnflag = 'A' AND l_linestatus LIKE 'O%'""".stripMargin,

    "q39_ansi_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin,

    "q40_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q44_salted_agg" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity,
        | CAST(count(*) AS BIGINT) AS count_l_quantity,
        | round(sum(l_quantity) / count(*), 4) AS avg_l_quantity
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q41_topk_probe" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT probe_id, id,
        |  list_dot_product(cv, pv)
        |    / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(pv, pv))) AS raw
        | FROM c, p)
        |SELECT probe_id, id, round(raw, 6) AS score FROM s
        |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY raw DESC, id) <= 5""".stripMargin,

    "q42_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts_us, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us,
        |       c.ts_us - p.ts_us AS gap_us, p.value AS p_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us""".stripMargin,

    "q35_media_frames" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |  CAST(64 + octet_length(encode(text)) % 1024 AS INTEGER) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 7) % 1024 AS INTEGER) AS height,
        |  (octet_length(encode(text)) % 6000) / 100.0 AS duration_s
        | FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, unnest(range(0,
        |  greatest(CAST(1 AS BIGINT), CAST(floor(duration_s * 30) AS BIGINT)), 10)) AS frame_idx,
        | width, height
        |FROM d""".stripMargin,

    // replays winnowingFingerprint(k=3, w=4, md5 gram hash) exactly:
    // token 3-grams → 60-bit md5 hashes → min per 4-window → distinct
    "q45_winnow_fp" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    list_transform(range(0, greatest(n - 3, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT) AS gr
        |  FROM g)
        |SELECT doc_id,
        |  CAST(len(list_distinct(list_transform(range(0, greatest(len(gr) - 4, 0) + 1),
        |    i -> list_min(gr[i+1:i+4])))) AS INTEGER) AS n_fp
        |FROM grams""".stripMargin,

    "q46_join_right" ->
      """SELECT o_orderkey, c_custkey
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q47_join_full" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM (SELECT * FROM customer WHERE c_custkey < 500) c
        |FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    // exact distinct beside the sketch; TRUE mirrors the in-query
    // 3-sigma validation of the HLL estimate (see the queries entry)
    "q43_approx_distinct" ->
      """SELECT o_orderstatus,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust_exact,
        | TRUE AS approx_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q78_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer
        |      LEFT JOIN (SELECT * FROM orders
        |                 WHERE o_orderpriority <> '1-URGENT') o
        |        ON c_custkey = o.o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q79_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "q80_tpch_q19" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q81_tpch_q21" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate >= o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name""".stripMargin,

    "q142_sql_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10 OFFSET 5""".stripMargin,

    // the dialect's text scalars replay via the q23-q26 formula CTEs
    // (token/stopword counts, punctuation ratio, stopword-vote langid,
    // normalized-md5 fingerprint), composed and filtered identically
    "q153_sql_text_fns" ->
      """WITH qd AS (SELECT doc_id, text,
        |  len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0)) AS n_tok,
        |  len(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS n_sw
        | FROM documents),
        |q AS (SELECT doc_id, round((
        |  least(n_tok / 100.0, 1.0)
        |  + (1.0 - least(10.0 * (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0))
        |  + least(5.0 * n_sw / greatest(CAST(n_tok AS DOUBLE), 1.0), 1.0)
        | ) / 3.0, 6) AS quality FROM qd),
        |ls AS (SELECT doc_id,
        |  regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks FROM documents),
        |lc AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('der','die','und','ist'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('el','la','los','es'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('le','les','et','est'))) AS s_fr
        | FROM ls),
        |l AS (SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
        |  WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
        |  WHEN s_es > greatest(s_en, s_de) THEN 'es'
        |  WHEN s_de > s_en THEN 'de'
        |  ELSE 'en' END AS lang_guess FROM lc),
        |base AS (SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0)) AS INTEGER) AS n_tok,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0)) AS INTEGER) AS n_sub,
        |  md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
        | FROM documents)
        |SELECT base.doc_id, base.n_tok, base.n_sub, base.fp
        |FROM base JOIN q USING (doc_id) JOIN l USING (doc_id)
        |WHERE q.quality >= 0.5 AND l.lang_guess = 'en'""".stripMargin,

    // DuckDB has native ROLLUP/CUBE/GROUPING SETS — same statements
    // modulo the zero-arg COUNT() dialect quirk
    "q146_sql_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q147_sql_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |HAVING count(*) > 100""".stripMargin,

    "q148_sql_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())""".stripMargin,

    // same statement modulo DuckDB's round trip of the numeric types
    "q137_sql_scalar_fns2" ->
      """SELECT l_orderkey, l_linenumber,
        |  trim(concat(' ', l_returnflag, ' ', l_linestatus, ' ')) AS fl,
        |  replace(l_linestatus, 'O', 'X') AS st,
        |  CAST(strpos(concat(l_returnflag, l_linestatus), 'F') AS INTEGER) AS pos_f,
        |  greatest(l_quantity, 25) AS g,
        |  least(l_discount, 0.05) AS sm
        |FROM lineitem
        |WHERE l_orderkey < 1000""".stripMargin,

    // DuckDB has native QUALIFY — the replay is the same statement
    "q136_sql_qualify" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |QUALIFY row_number()
        |  OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) <= 2""".stripMargin,

    // q81's wait-chain shape replayed for the DIALECT's decorrelated
    // EXISTS/NOT EXISTS (date comparison instead of INTERVAL arithmetic,
    // which the dialect does not have)
    "q128_sql_exists" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate > o_orderdate
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q83_stream_e2e" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q90_stream_neardup" ->
      s"""WITH ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 100000)}
         |SELECT id_a, id_b FROM cand""".stripMargin,

    // same bit-interleave, term by term, in DuckDB operator arithmetic
    "q93_zorder_key" -> {
      // the OR joins at end-of-line: a leading '|' would be eaten by
      // stripMargin as a margin character
      val terms = (0 until 16).flatMap { i =>
        Seq(s"(((l_partkey >> $i) & 1) << ${2 * i})",
            s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" |\n  ")
      s"""SELECT l_orderkey, l_linenumber,
         |  $terms AS z
         |FROM lineitem""".stripMargin
    },

    "q91_top_tokens" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(list_filter(
        |        regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |        x -> len(x) > 0)) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    // same replayed pair set + recursive closure as q51, then quality
    // join and per-cluster argmax with the (quality, doc_id) tie-break;
    // docStatsCte renamed to 'q' (the minhash CTEs already use 'd')
    "q92_cluster_keep_best" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
         |       FROM reach GROUP BY a),
         |${docStatsCte("q")},
         |scored AS (SELECT doc_id, $qualityExprSql AS quality FROM q),
         |ranked AS (
         |  SELECT cl.cluster, cl.doc_id, scored.quality,
         |    row_number() OVER (PARTITION BY cl.cluster
         |      ORDER BY scored.quality DESC, cl.doc_id DESC) AS rk,
         |    count(*) OVER (PARTITION BY cl.cluster) AS nm
         |  FROM cl JOIN scored ON scored.doc_id = cl.doc_id)
         |SELECT cluster, doc_id AS keep_id, quality AS best_quality,
         |  CAST(nm AS BIGINT) AS n_members
         |FROM ranked WHERE rk = 1""".stripMargin,

    "q108_sql_cte" ->
      """WITH big AS (
        |  SELECT o_custkey, sum(o_totalprice) AS spend
        |  FROM orders GROUP BY o_custkey
        |  HAVING sum(o_totalprice) > 300000.5),
        |seg AS (SELECT c_custkey, c_mktsegment FROM customer)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_big_spenders
        |FROM big JOIN seg ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // CDC replay: same candidate boundaries (trailing-3-gram md5 mod 16),
    // same forced end, same slice arithmetic
    "q110_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, toks,
        |  list_sort(list_distinct(list_append(
        |    CASE WHEN n >= 3 THEN list_filter(generate_series(3, n), i ->
        |      ('0x' || substr(md5(array_to_string(
        |         list_slice(toks, i - 2, i), ' ')), 1, 15))::BIGINT % 16 = 0)
        |    ELSE CAST([] AS BIGINT[]) END, n))) AS ends
        |  FROM f),
        |s AS (SELECT doc_id, toks, ends,
        |  list_prepend(0, ends[1:len(ends)-1]) AS starts FROM e),
        |u AS (SELECT doc_id, toks, ends, starts,
        |  unnest(generate_series(1, len(ends))) AS j FROM s)
        |SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_id,
        |  CAST(starts[j] AS BIGINT) AS "start",
        |  CAST(ends[j] - starts[j] AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, starts[j] + 1, ends[j]), ' ')
        |    AS chunk_text
        |FROM u""".stripMargin,

    // chunk-dedup replay: q110's chunk derivation, then the same
    // md5-digest frequency count and per-doc ratio
    "q111_chunk_dup" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, toks,
        |  list_sort(list_distinct(list_append(
        |    CASE WHEN n >= 3 THEN list_filter(generate_series(3, n), i ->
        |      ('0x' || substr(md5(array_to_string(
        |         list_slice(toks, i - 2, i), ' ')), 1, 15))::BIGINT % 16 = 0)
        |    ELSE CAST([] AS BIGINT[]) END, n))) AS ends
        |  FROM f),
        |s AS (SELECT doc_id, toks, ends,
        |  list_prepend(0, ends[1:len(ends)-1]) AS starts FROM e),
        |u AS (SELECT doc_id, toks, ends, starts,
        |  unnest(generate_series(1, len(ends))) AS j FROM s),
        |ch AS (SELECT doc_id, md5(array_to_string(
        |    list_slice(toks, starts[j] + 1, ends[j]), ' ')) AS digest FROM u),
        |fr AS (SELECT digest, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN fr.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST(sum(CASE WHEN fr.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS dup_frac
        |FROM ch JOIN fr USING (digest)
        |GROUP BY doc_id""".stripMargin,

    // the oracle reads the original parquet — equality proves the JSONL
    // round-trip lost nothing (ids, full text bytes, counts)
    "q109_jsonl_ingest" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // same lossless-round-trip proof for the ORC path
    "q116_orc_ingest" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // full BM25 replay: same tf/df/length derivation, same constants
    // written as the same arithmetic ((1.2 + 1), 1 - 0.75), per-term
    // round(9) before the sum, round(6) after, id tie-break
    "q115_bm25" -> bm25Replay,

    // the streamed index must land the batch result exactly — same
    // replay as q115/q126 (segments partition the corpus; every score
    // component is additive across segments)
    "q151_stream_bm25_ingest" -> bm25Replay,

    "q150_vocab_oov" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT token, 1 AS inv FROM (
        |    SELECT token, count(*) AS dfc FROM tf GROUP BY token)
        |  ORDER BY dfc DESC, token LIMIT 256)
        |SELECT tf.doc_id,
        |  round(CAST(sum(CASE WHEN vocab.inv IS NULL THEN tf.tf ELSE 0 END)
        |          AS DOUBLE) / sum(tf.tf), 6) AS oov_rate,
        |  CAST(sum(tf.tf) AS BIGINT) AS n_tokens
        |FROM tf LEFT JOIN vocab USING (token)
        |GROUP BY tf.doc_id""".stripMargin,

    // the indexed serving path must land the IDENTICAL result — one
    // replay gates both the per-query and the persisted-index shapes
    "q126_bm25_indexed" -> bm25Replay,

    // ...and the incrementally-appended index must equal the rebuild
    "q139_bm25_incremental" -> bm25Replay,

    // the q115 replay generalized to a query TABLE: per-query terms,
    // shared df/length/total stats, per-query top-5 via QUALIFY
    "q144_bm25_batch" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |q AS (SELECT * FROM (VALUES (1, 'spark window join'),
        |       (2, 'data quality filter'), (3, 'zebra')) t(query_id, qtext)),
        |qt AS (SELECT query_id, unnest(list_distinct(list_filter(
        |    regexp_split_to_array(lower(qtext), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0))) AS token FROM q),
        |m AS (SELECT qt.query_id, tf.doc_id, tf.token, tf.tf
        |      FROM tf JOIN qt USING (token)),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
        |          WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
        |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(len) AS DOUBLE) AS total_len FROM lens),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |scored AS (SELECT m.query_id, m.doc_id,
        |    round(ln(1 + (nd.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |      * (m.tf * (1.2 + 1))
        |      / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * lens.len / (tot.total_len / nd.n))),
        |      9) AS ts
        |  FROM m JOIN dfreq USING (token) JOIN lens USING (doc_id), tot, nd),
        |agg AS (SELECT query_id, doc_id, round(sum(ts), 6) AS bm25
        |        FROM scored GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25 FROM agg
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |                           ORDER BY bm25 DESC, doc_id) <= 5""".stripMargin,

    // q77's gram replay at minShared=4 — the streaming foreachBatch pass
    // must land exactly the batch result
    "q121_stream_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents WHERE regexp_matches(text, '[^ \t\n\x0b\f\r]')),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(n - 3, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT))) AS gr
        |  FROM g),
        |ev AS (SELECT DISTINCT gr FROM grams WHERE doc_id < 20),
        |hits AS (SELECT doc_id, count(*) AS n_shared
        |  FROM grams JOIN ev USING (gr)
        |  WHERE doc_id >= 20 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared
        |FROM hits WHERE n_shared >= 4""".stripMargin,

    // same derived old/new versions, same normalized-content fingerprint
    // (q26's md5 form), full-outer null-pattern classification
    "q120_corpus_diff" ->
      """WITH oldv AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
        |newv AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 != 0),
        |ofp AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
        |  FROM oldv),
        |nfp AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
        |  FROM newv)
        |SELECT coalesce(ofp.doc_id, nfp.doc_id) AS doc_id,
        |  CASE WHEN ofp.doc_id IS NULL THEN 'added'
        |       WHEN nfp.doc_id IS NULL THEN 'removed'
        |       WHEN ofp.fp = nfp.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM ofp FULL OUTER JOIN nfp ON ofp.doc_id = nfp.doc_id""".stripMargin,

    // the uncorrelated Q17 shape: DuckDB computes the same scalar bound
    // and membership set
    "q119_sql_scalar_subquery" ->
      """SELECT round(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part
        |                    WHERE p_brand = 'Brand#13')
        |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem)""".stripMargin,

    // DuckDB's IN/NOT IN over null-free columns match the semi/anti
    // reading exactly
    "q118_sql_in_subquery" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_totalprice > 400000)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderstatus = 'F')""".stripMargin,

    // the same windowed ranking + partition sum in ANSI form; row_number
    // cast to BIGINT to match the dialect's long-cast output
    "q117_sql_window" ->
      """SELECT o_orderkey, o_custkey, CAST(rn AS BIGINT) AS rn, cust_total FROM
        |  (SELECT o_orderkey, o_custkey,
        |     ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                        ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |     round(SUM(o_totalprice) OVER (PARTITION BY o_custkey), 4)
        |       AS cust_total
        |   FROM orders) t
        |WHERE rn <= 2""".stripMargin,

    // count-of-counts over a derived table (no CTE) — DuckDB runs the
    // same nested form
    "q114_sql_derived" ->
      """SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_custs FROM
        |  (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |   FROM orders GROUP BY o_custkey) per_cust
        |GROUP BY n_orders""".stripMargin,

    // q77's gram replay at k=2/minShared=3: the oracle computes the
    // EXACT overlap, so any bloom false positive surviving to the output
    // (or true hit lost) would hash-mismatch
    "q112_bloom_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents WHERE regexp_matches(text, '[^ \t\n\x0b\f\r]')),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(n - 2, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+2], ' ')), 1, 15))::BIGINT))) AS gr
        |  FROM g),
        |ev AS (SELECT DISTINCT gr FROM grams WHERE doc_id < 20),
        |hits AS (SELECT doc_id, count(*) AS n_shared
        |  FROM grams JOIN ev USING (gr)
        |  WHERE doc_id >= 20 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared
        |FROM hits WHERE n_shared >= 3""".stripMargin,

    // the stored-index probe must land the exact q112 result (same
    // replay: the persisted sketch+grams are the same eval gram set)
    "q170_decon_indexed" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> len(x) > 0) AS toks
        |  FROM documents WHERE regexp_matches(text, '[^ \t\n\x0b\f\r]')),
        |g AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |grams AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, greatest(n - 2, 0) + 1),
        |      i -> ('0x' || substr(md5(array_to_string(toks[i+1:i+2], ' ')), 1, 15))::BIGINT))) AS gr
        |  FROM g),
        |ev AS (SELECT DISTINCT gr FROM grams WHERE doc_id < 20),
        |hits AS (SELECT doc_id, count(*) AS n_shared
        |  FROM grams JOIN ev USING (gr)
        |  WHERE doc_id >= 20 GROUP BY doc_id)
        |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared
        |FROM hits WHERE n_shared >= 3""".stripMargin,

    // the plain (unbucketed) join+agg — equality proves the bucketed
    // layout is semantically transparent
    "q113_bucketed_join" ->
      """SELECT o_custkey, c_mktsegment,
        | round(sum(o_totalprice), 4) AS spend,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey, c_mktsegment
        |HAVING round(sum(o_totalprice), 4) > 200000""".stripMargin,

    // unigram-model replay: per-token term rounded to 9 BEFORE the group
    // sum so cross-engine ln ulps cannot reorder it; division last
    "q106_unigram_nll" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |model AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt
        |          FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |               CAST(count(*) AS BIGINT) AS vocab FROM model),
        |scored AS (SELECT doc_id, tf,
        |  round(-ln(CAST(cnt + 1 AS DOUBLE) /
        |            CAST(n_tokens + vocab AS DOUBLE)), 9) AS nll
        |  FROM tf JOIN model USING (token) CROSS JOIN tot)
        |SELECT doc_id, round(sum(tf * nll) / sum(tf), 6) AS mean_nll
        |FROM scored GROUP BY doc_id""".stripMargin,

    // bigram replay: adjacent-token pairs via index transform, add-one
    // p = (c12+1)/(c1+V) with V = distinct tokens over the bigram frame;
    // docs under two tokens have no bigrams on either engine
    "q131_bigram_nll" ->
      """WITH toks0 AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS t FROM documents),
        |toks AS (SELECT * FROM toks0 WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(t) - 1),
        |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS p FROM toks),
        |tf AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2,
        |         CAST(count(*) AS BIGINT) AS tf
        |       FROM bg GROUP BY 1, 2, 3),
        |model AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
        |          FROM tf GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(tf) AS BIGINT) AS c1 FROM tf GROUP BY 1),
        |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |        FROM (SELECT unnest([w1, w2]) AS tok FROM tf)),
        |scored AS (SELECT tf.doc_id, tf.tf,
        |    round(-ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 9) AS nll
        |  FROM tf JOIN model USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc)
        |SELECT doc_id, round(sum(tf * nll) / sum(tf), 6) AS mean_nll
        |FROM scored GROUP BY doc_id""".stripMargin,

    // hashing-trick replay: integer bucket counts, in-order integer
    // square fold, exactly-rounded sqrt, round(6) components encoded as
    // comma-joined integer micro-units (hashable scalar for the gate)
    "q107_hash_embedding" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |b AS (SELECT doc_id, list_transform(toks,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 32) AS buckets
        |  FROM t),
        |c AS (SELECT doc_id, list_transform(generate_series(0, 31),
        |    i -> CAST(len(list_filter(buckets, x -> x = i)) AS DOUBLE)) AS counts
        |  FROM b),
        |n AS (SELECT doc_id, counts,
        |  sqrt(list_sum(list_transform(counts, x -> x * x))) AS norm FROM c)
        |SELECT doc_id, array_to_string(list_transform(counts,
        |  x -> CAST(round((CASE WHEN norm > 0 THEN round(x / norm, 6)
        |                        ELSE 0.0 END) * 1000000) AS BIGINT)), ',') AS emb
        |FROM n""".stripMargin,

    // q107's embedding replay through the same integer micro-units,
    // then an int64 dot with the literal weight vector — exact
    "q156_classifier_quality" -> classifierOracleSql,

    // the q156 replay (negated weights — large keep set) restricted to
    // kept docs: the drained stream must equal the batch filter exactly
    "q197_stream_classifier" ->
      s"""SELECT * FROM (${classifierOracleSql(negate = true)}) WHERE keep""",

    // the FULL training replay: nearest-centroid training (per-class
    // sums -> rounded micro-means -> w + midpoint threshold) over
    // integer hashed-count features, then scoring with the learned
    // vector — all int64, exactly the Spark trainer's arithmetic
    "q321_classifier_train" -> classifierTrainOracleSql,

    // DuckDB evaluates the correlated subqueries natively; the engine's
    // decorrelation (group-by-key aggregate + inner join) must agree.
    // Boundary exactness argument: every compared aggregate is built
    // from integer-valued doubles (sums exact below 2^53, so partial-
    // aggregation order cannot change them) times an identical literal.
    "q158_sql_tpch_q17d" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q159_sql_tpch_q2" ->
      """SELECT s.s_name AS s_name, s.s_acctbal AS s_acctbal,
        |  n.n_name AS n_name
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
        |                     WHERE s2.s_nationkey = s.s_nationkey)""".stripMargin,

    "q160_sql_tpch_q11" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 4) AS value
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) > (SELECT 0.0002 * count(*) FROM orders)""".stripMargin,

    "q161_sql_tpch_q9" ->
      """WITH t AS (
        |  SELECT n_name, year(o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS amount
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%red%')
        |SELECT n_name AS nation, o_year,
        |  round(sum(amount), 4) AS sum_profit
        |FROM t GROUP BY n_name, o_year""".stripMargin,

    "q162_sql_tpch_q20" ->
      """SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT l1.l_suppkey FROM lineitem l1
        |    WHERE l1.l_partkey IN (SELECT p_partkey FROM part
        |                           WHERE p_name LIKE '%red%')
        |      AND l1.l_quantity > (SELECT 0.0005 * sum(l2.l_quantity)
        |                           FROM lineitem l2
        |                           WHERE l2.l_partkey = l1.l_partkey
        |                             AND l2.l_suppkey = l1.l_suppkey))""".stripMargin,

    // integer micro-unit quality masses (exact sums), squared tilt, one
    // final division rounded at 6dp — the q24 formula feeding the mix
    "q157_mixing_weights" ->
      s"""WITH d AS (SELECT doc_id, source, text,
         |  len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
         |      x -> len(x) > 0)) AS n_tok,
         |  len(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS n_sw
         | FROM documents),
         |q AS (SELECT source,
         |  CAST(round($qualityExprSql * 1000000) AS BIGINT) AS qm FROM d),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(qm) AS BIGINT) AS quality_mass_micro FROM q GROUP BY source),
         |t AS (SELECT sum(quality_mass_micro * quality_mass_micro) AS dn FROM s)
         |SELECT source, n_docs, quality_mass_micro,
         |  round(CAST(quality_mass_micro * quality_mass_micro AS DOUBLE) / t.dn,
         |    6) AS weight
         |FROM s, t""".stripMargin,

    // q51's closure + q24's quality formula + argmax per cluster
    // (highest quality, ties to the lower id) — the survivor policy
    // replayed end to end
    "q174_canonical_keep" ->
      s"""WITH RECURSIVE ${minhashOracleCtes(numBands = 4, rowsPerBand = 8, maxBucket = 64)},
         |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |,cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
         |        FROM reach GROUP BY a),
         |${docStatsCte("ds")},
         |scored AS (SELECT doc_id, $qualityExprSql AS quality FROM ds),
         |assigned AS (
         |  SELECT s.doc_id, coalesce(cl.cluster, s.doc_id) AS cluster,
         |         s.quality
         |  FROM scored s LEFT JOIN cl ON s.doc_id = cl.doc_id)
         |SELECT cluster, doc_id, quality FROM (
         |  SELECT cluster, doc_id, quality,
         |    row_number() OVER (PARTITION BY cluster
         |                       ORDER BY quality DESC, doc_id) AS rk
         |  FROM assigned)
         |WHERE rk = 1""".stripMargin,

    // DuckDB evaluates the same correlated COUNT natively (COUNT(*) is
    // its spelling of the dialect's zero-arg COUNT()); zero-order
    // customers must appear on both sides — the COUNT-of-empty = 0 case
    "q172_sql_correlated_count" ->
      """SELECT c_custkey
        |FROM customer c
        |WHERE 5 > (SELECT COUNT(*) FROM orders o
        |           WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    // q157's weight replay + the exact ppm rate + the q97-style md5
    // keep decision (identical IEEE op order: ((w*B)*1e6)/n, floored)
    "q171_sample_mixture" -> sampleMixtureOracleSql,

    // the STREAMING drain must equal the batch mixture EXACTLY — same
    // oracle as q171 (per-doc decision against static rates, zero state)
    "q182_stream_mixture" -> sampleMixtureOracleSql,

    // the two-level rank decomposition must equal ONE global row_number
    "q103_shuffle_rank" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |    doc_id) - 1 AS BIGINT) AS shuffle_rank
        |FROM documents""".stripMargin,

    // exact median replays (quantile_cont == Spark percentile at round-4,
    // the q40 precedent); the sketch's rank-error flag replays as TRUE
    "q104_approx_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  TRUE AS approx_within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // DuckDB replays the interval join as a BATCH query — but the Spark
    // side is a real two-feed micro-batch run (file-source streams +
    // AvailableNow, see the q105 queries entry), so this gate proves the
    // streaming execution equals batch semantics (same key, same
    // [ts-30min, ts] bound); timestamps as epoch micros per the rules
    "q105_stream_join" ->
      """SELECT l.user_id AS user_id, l.event_id AS l_event_id,
        |  r.event_id AS r_event_id,
        |  epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 30 MINUTE""".stripMargin,

    "q99_tpch_q8" ->
      """WITH j AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        |a AS (SELECT o_year,
        |  round(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END), 4)
        |    AS nation_vol,
        |  round(sum(vol), 4) AS total_vol
        |  FROM j GROUP BY o_year)
        |SELECT o_year, round(nation_vol / total_vol, 6) AS mkt_share,
        |  nation_vol, total_vol FROM a""".stripMargin,

    "q100_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag""".stripMargin,

    "q101_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,

    "q102_tpch_q22" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
        |  round(sum(c_acctbal), 4) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    // full tf-idf replay: same tokenization, same ln(N/df) scoring,
    // QUALIFY row_number on the ROUNDED score with token tie-break
    "q94_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |          FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |    round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf, df, score FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, token) <= 3""".stripMargin,

    // top n-gram fraction: int-ratio values replay exactly, no rounding
    "q95_repetition" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |g AS (SELECT doc_id, toks,
        |  list_transform(generate_series(0, greatest(len(toks) - 2, 0)),
        |    i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) AS g2,
        |  list_transform(generate_series(0, greatest(len(toks) - 3, 0)),
        |    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS g3
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(toks) < 2 THEN 0.0
        |       ELSE CAST(list_max(list_transform(list_distinct(g2),
        |              x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE)
        |            / len(g2) END AS top2_frac,
        |  CASE WHEN len(toks) < 3 THEN 0.0
        |       ELSE CAST(list_max(list_transform(list_distinct(g3),
        |              x -> len(list_filter(g3, y -> y = x)))) AS DOUBLE)
        |            / len(g3) END AS top3_frac
        |FROM g""".stripMargin,

    // sliding chunks: generate_series(0, n-1, stride) == Spark's
    // sequence(0, size-1, stride); list_slice end-inclusive == slice+len
    "q96_chunks" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |    x -> len(x) > 0) AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(generate_series(0, len(toks) - 1, 24)) AS "start"
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, CAST("start" AS BIGINT) AS "start",
        |  array_to_string(list_slice(toks, "start" + 1, "start" + 32), ' ')
        |    AS chunk_text,
        |  CAST(least(32, len(toks) - "start") AS BIGINT) AS n_tokens
        |FROM s""".stripMargin,

    // temperature mixing: identical IEEE threshold (sqrt/least/floor are
    // exactly rounded), identical md5 keep decision
    // the original parquet replays the BlockFile round trip: every
    // value must survive the i32/f32/len-byte-string/µs-ts encoding
    // (quantity values are small integers — exact in f32)
    "q141_blockfile_roundtrip" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey,
        |  CAST(l_linenumber AS INTEGER) AS l_linenumber,
        |  CAST(l_quantity AS REAL) AS l_quantity,
        |  l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem""".stripMargin,

    "q145_blockfile_append" ->
      """SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey,
        |  CAST(o_custkey AS INTEGER) AS o_custkey,
        |  CAST(o_totalprice AS REAL) AS o_totalprice,
        |  o_orderstatus
        |FROM orders""".stripMargin,

    // the 10× replication replayed with a range cross join; every value
    // must survive the parallel per-task part writes + the multi-part
    // read exactly as q141 proves for the single-file path
    "q165_blockfile_dir" ->
      """SELECT CAST(l_orderkey + i * 10000000 AS INTEGER) AS l_orderkey,
        |  CAST(l_linenumber AS INTEGER) AS l_linenumber,
        |  CAST(l_quantity AS REAL) AS l_quantity,
        |  l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem, range(10) t(i)""".stripMargin,

    // the same filter + aggregation over the parquet table: the zone-
    // mapped .bin scan must land identical groups (float cast first,
    // like q141 — quantities are integral, so the double sum is exact)
    "q180_blockfile_zonemap" ->
      """SELECT l_returnflag,
        |  sum(CAST(CAST(l_quantity AS REAL) AS DOUBLE)) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_orderkey >= 10000 AND l_orderkey < 20000
        |GROUP BY l_returnflag""".stripMargin,

    // the q96 chunk construction (stride = window = 32) + the q25
    // word-list scorer per chunk + the doc-level vote, aggregated
    "q140_language_mix" ->
      s"""WITH $langidCtes,
         |t AS (SELECT doc_id, list_filter(
         |    regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
         |    x -> len(x) > 0) AS toks FROM documents),
         |s AS (SELECT doc_id, toks,
         |  unnest(generate_series(0, len(toks) - 1, 32)) AS "start"
         |  FROM t WHERE len(toks) > 0),
         |ck AS (SELECT doc_id, list_transform(
         |    list_slice(toks, "start" + 1, "start" + 32),
         |    x -> lower(x)) AS ctoks FROM s),
         |cl AS (SELECT doc_id,
         |  len(list_filter(ctoks, x -> x IN ('the','and','of','is'))) AS s_en,
         |  len(list_filter(ctoks, x -> x IN ('der','die','und','ist'))) AS s_de,
         |  len(list_filter(ctoks, x -> x IN ('el','la','los','es'))) AS s_es,
         |  len(list_filter(ctoks, x -> x IN ('le','les','et','est'))) AS s_fr
         | FROM ck),
         |cg AS (SELECT doc_id, CASE
         |  WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
         |  WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
         |  WHEN s_es > greatest(s_en, s_de) THEN 'es'
         |  WHEN s_de > s_en THEN 'de'
         |  ELSE 'en' END AS chunk_lang
         |FROM cl),
         |agg AS (SELECT cg.doc_id, l.lang_guess AS doc_lang,
         |    CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(CASE WHEN chunk_lang <> l.lang_guess THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_foreign
         |  FROM cg JOIN langid l USING (doc_id) GROUP BY 1, 2)
         |SELECT doc_id, doc_lang, n_chunks, n_foreign,
         |  round(CAST(n_foreign AS DOUBLE) / n_chunks, 6) AS mix_frac
         |FROM agg""".stripMargin,

    // exact distinct replays; the merged-sketch estimate's accuracy
    // flag must come out TRUE (the q43 gating pattern)
    "q138_sketch_merge" ->
      """SELECT lang, CAST(count(DISTINCT n_chars) AS BIGINT) AS n_exact,
        |  TRUE AS within_bound
        |FROM documents GROUP BY lang""".stripMargin,

    // replay: rank by the hash cast to DOUBLE (the heap's stored type),
    // ties by ascending id — the documented >2^53 collision tie-break
    "q133_sample_k_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |             AS DOUBLE) DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin,

    "q97_temperature_sample" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1)
        |SELECT doc_id, source FROM documents JOIN c USING (source)
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000
        |  < floor(1000000 * least(1.0, 4.0 / sqrt(CAST(c.c AS DOUBLE))))""".stripMargin,

    // inverted index: per-doc list_distinct mirrors the pre-explode
    // array_distinct; sorted postings capped at 50 (smallest ids kept),
    // comma-joined to a hashable scalar for the gate
    "q98_inverted_index" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
        |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 50), ',')
        |    AS postings
        |FROM (SELECT doc_id, unnest(list_distinct(list_filter(
        |        regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |        x -> len(x) > 0))) AS token
        |      FROM documents)
        |GROUP BY token""".stripMargin,

    "q84_sql_in_null" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE o_orderkey IS NULL
        |   OR o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin,

    // replays concat-and-chunk with ONE global running-total window (the
    // semantic spec the sharded two-level prefix sum must match exactly);
    // DuckDB SUM(BIGINT) is HUGEINT, so positions re-cast to BIGINT
    "q86_pack_chunks" ->
      s"""WITH ${docStatsCte()},
         |c AS (SELECT doc_id, n_tok,
         |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS start_pos
         | FROM d)
         |SELECT doc_id, start_pos,
         | start_pos // 1024 AS chunk_first,
         | greatest(start_pos + n_tok - 1, start_pos) // 1024 AS chunk_last,
         | start_pos % 1024 AS offset_in_chunk
         |FROM c""".stripMargin,

    "q87_pii_redact" -> {
      val e = TextAnalysis.EmailRe
      val p = TextAnalysis.PhoneRe
      val ip = TextAnalysis.Ipv4Re
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or 555-123-4567 at 10.0.0.'
         |    || CAST(doc_id % 256 AS VARCHAR) AS text
         | FROM documents)
         |SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(text,
         |   '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'), '$ip', '<IP>', 'g')
         |   AS redacted,
         | CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_phones,
         | CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips
         |FROM t""".stripMargin
    },

    "q88_hash_split" ->
      """SELECT doc_id,
        | CASE WHEN b < 80 THEN 'train'
        |      WHEN b < 90 THEN 'validation'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        | FROM documents)""".stripMargin,

    // DuckDB length() is BIGINT, Spark's is INTEGER — cast to match
    "q89_sql_scalar_fns" ->
      """SELECT c_custkey,
        | coalesce(upper(o_orderpriority), 'NONE') AS prio,
        | lower(c_mktsegment) AS seg,
        | CAST(length(c_name) AS INTEGER) AS name_len,
        | substr(c_name, 1, 8) AS name8,
        | round(c_acctbal / 3, 4) AS third_bal
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin,

    // synthesize() maps doc_id % 3 = 1 to kind 'audio'; UTF-8 text bytes
    // are not a decodable audio container, so every row takes the stub
    // path (16 kHz mono, fakeDecode duration, rms 0, decoded = false)
    "q85_audio_features" ->
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(16000 AS INTEGER) AS sample_rate,
        | CAST(1 AS INTEGER) AS channels,
        | (octet_length(encode(text)) % 6000) / 100.0 AS duration_s,
        | 0.0 AS rms, FALSE AS decoded
        |FROM documents WHERE doc_id % 3 = 1""".stripMargin,

    "q82_sql_casewhen" ->
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN l_quantity < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
        | CAST(sum(CASE WHEN l_quantity BETWEEN 10 AND 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        | sum(CASE l_linestatus WHEN 'O' THEN l_quantity ELSE 0 END) AS qty_open
        |FROM lineitem GROUP BY l_returnflag""".stripMargin
  )

  // ---- differential-oracle SQL builders (DuckDB replays of the LSH
  //      pipelines; constants interpolated from the same Scala values the
  //      Spark queries use, so both engines run the identical algorithm) --

  // ---- shared text-oracle fragments: ONE definition of the token/
  //      stopword stats CTE, the quality formula and the langid CTEs,
  //      reused by every oracle that scores documents (q23/q24/q25/q59/
  //      q65/q69/q72) — a formula tweak lands everywhere or nowhere ----

  /** The per-document token/stopword stats CTE (parameterized name so
    * callers whose CTE namespace already uses `d` can rename). Built by
    * concatenation, not interpolation, so the regex backslashes stay
    * literal. */
  private def docStatsCte(name: String = "d"): String =
    name + """ AS (SELECT doc_id, lang, text,
      |  len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
      |      x -> len(x) > 0)) AS n_tok,
      |  len(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
      |      x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS n_sw
      | FROM documents)""".stripMargin

  /** The BPE training replay as a CTE chain: `wf` (word frequencies
    * with the q23 subword splitter), `w0` (words as character-symbol
    * lists), then per round k: `p_k` adjacent pairs via list_zip,
    * `m_k` the argmax merge (count DESC, pair ASC — the trainer's
    * tiebreak), `w_k` the merge applied as a list_reduce fold over a
    * chr(31)-joined accumulator (left-to-right, non-overlapping — one
    * pass is exhaustive because a merged token can never recreate its
    * own pair). After round N, `wN`'s symbols ARE each word's BPE
    * encoding — which is how the encode oracle avoids reimplementing
    * the greedy encoder. */
  private def bpeTrainCtes(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { k =>
      s"""p$k AS (SELECT unnest(list_zip(symbols, symbols[2:])) AS p, cnt
         |  FROM w${k - 1}),
         |m$k AS (SELECT p[1] AS a, p[2] AS b FROM p$k WHERE p[2] IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY SUM(cnt) DESC, a ASC, b ASC LIMIT 1),
         |w$k AS (SELECT str_split(list_reduce(symbols, (acc, x) ->
         |    CASE WHEN (acc = m$k.a OR ends_with(acc, chr(31) || m$k.a))
         |              AND x = m$k.b
         |         THEN acc || m$k.b ELSE acc || chr(31) || x END),
         |    chr(31)) AS symbols, cnt
         |  FROM w${k - 1}, m$k)""".stripMargin
    }.mkString(",\n")
    """wf AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
      |        '[^a-z0-9]+'), x -> len(x) > 0)) AS word FROM documents)
      |  GROUP BY word),
      |w0 AS (SELECT str_split(word, '') AS symbols, cnt FROM wf),
      |""".stripMargin + rounds
  }

  /** The quality formula over a docStatsCte row (n_tok, n_sw, text). */
  private val qualityExprSql: String =
    """round((
      |  least(n_tok / 100.0, 1.0)
      |  + (1.0 - least(10.0 * (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0))
      |  + least(5.0 * n_sw / greatest(CAST(n_tok AS DOUBLE), 1.0), 1.0)
      | ) / 3.0, 6)""".stripMargin

  /** The language-ID CTE chain ending at `langid(doc_id, lang_guess)`. */
  private val langidCtes: String =
    """ls AS (SELECT doc_id,
      |  regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks FROM documents),
      |lc AS (SELECT doc_id,
      |  len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
      |  len(list_filter(toks, x -> x IN ('der','die','und','ist'))) AS s_de,
      |  len(list_filter(toks, x -> x IN ('el','la','los','es'))) AS s_es,
      |  len(list_filter(toks, x -> x IN ('le','les','et','est'))) AS s_fr
      | FROM ls),
      |langid AS (SELECT doc_id, CASE
      |  WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'und'
      |  WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
      |  WHEN s_es > greatest(s_en, s_de) THEN 'es'
      |  WHEN s_de > s_en THEN 'de'
      |  ELSE 'en' END AS lang_guess
      |FROM lc)""".stripMargin

  /** DuckDB replay of [[graft.operators.Dedup.minhashLsh]] (shingleN=1):
    * md5 base hashes → affine minhash minima → band keys → capped buckets
    * → candidate pairs → exact-Jaccard filter. */
  private def minhashOracleSql(numBands: Int, rowsPerBand: Int,
                               threshold: Double, maxBucket: Int,
                               extraWhere: String = ""): String =
    s"""WITH ${minhashOracleCtes(numBands, rowsPerBand, maxBucket)}
       |SELECT id_a, id_b, jaccard FROM j
       |WHERE jaccard >= $threshold$extraWhere""".stripMargin

  /** The CTE block of [[minhashOracleSql]] (ending at `j`), reusable by
    * oracles that post-process the pair set (e.g. q51's clustering). */
  private def minhashOracleCtes(numBands: Int, rowsPerBand: Int,
                                maxBucket: Int): String = {
    val n = numBands * rowsPerBand
    val params = Dedup.minhashAffineParams(n)
    val P = Dedup.MinhashP
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, x -> ($a * x + $b) % $P)) AS m$i"
    }.mkString(",\n    ")
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"m$i").mkString(", ")
      s"SELECT id, $b AS band, concat_ws(',', $cols) AS key FROM m"
    }.mkString("\n  UNION ALL ")
    s"""d0 AS (
       |  SELECT doc_id AS id,
       |    list_filter(list_distinct(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+')),
       |      x -> len(x) > 0) AS toks
       |  FROM documents),
       |d AS (SELECT * FROM d0 WHERE len(toks) > 0),
       |h AS (
       |  SELECT id,
       |    list_transform(toks, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $P) AS hs
       |  FROM d),
       |m AS (
       |  SELECT id,
       |    $mins
       |  FROM h),
       |banded AS (
       |  $bands),
       |buckets AS (
       |  SELECT band, key FROM banded GROUP BY band, key
       |  HAVING count(*) BETWEEN 2 AND $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a
       |  JOIN buckets k ON a.band = k.band AND a.key = k.key
       |  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |j AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
       |      / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
       |  FROM cand
       |  JOIN d ta ON ta.id = cand.id_a
       |  JOIN d tb ON tb.id = cand.id_b)""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Dedup.embeddingNearDup]]: same
    * literal hyperplanes, same sign-bit bucket, same cap, exact cosine. */
  private def embedLshOracleSql(planes: Seq[Seq[Double]], threshold: Double,
                                maxBucket: Int): String = {
    val bucketExpr = planes.zipWithIndex.map { case (pl, i) =>
      s"(CASE WHEN list_dot_product(v, ${sqlArray(pl)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT id, v,
       |    $bucketExpr AS bucket
       |  FROM e),
       |k AS (SELECT bucket FROM b GROUP BY bucket
       |  HAVING count(*) BETWEEN 2 AND $maxBucket),
       |cand AS (
       |  SELECT a.id AS id_a, b2.id AS id_b, a.v AS va, b2.v AS vb
       |  FROM b a
       |  JOIN k ON a.bucket = k.bucket
       |  JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    list_dot_product(va, vb)
       |      / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS raw
       |  FROM cand)
       |SELECT id_a, id_b, round(raw, 6) AS cosine FROM scored
       |WHERE raw >= $threshold""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Dedup.embeddingNearDupMulti]]:
    * one bucket expression per plane set, candidates unioned over
    * (set, bucket) with the same cap, exact cosine on the deduplicated
    * union — structurally the minhash-band oracle with plane sets as
    * bands. */
  private def embedLshMultiOracleSql(planeSets: Seq[Seq[Seq[Double]]],
                                     threshold: Double, maxBucket: Int): String = {
    val bucketCols = planeSets.zipWithIndex.map { case (planes, s) =>
      val expr = planes.zipWithIndex.map { case (pl, i) =>
        s"(CASE WHEN list_dot_product(v, ${sqlArray(pl)}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n      + ")
      s"$expr AS b$s"
    }.mkString(",\n    ")
    val bands = planeSets.indices.map { s =>
      s"SELECT id, $s AS ps, b$s AS bucket FROM b"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT id, v,
       |    $bucketCols
       |  FROM e),
       |banded AS (
       |  $bands),
       |k AS (SELECT ps, bucket FROM banded GROUP BY ps, bucket
       |  HAVING count(*) BETWEEN 2 AND $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM banded a
       |  JOIN k ON a.ps = k.ps AND a.bucket = k.bucket
       |  JOIN banded b2 ON a.ps = b2.ps AND a.bucket = b2.bucket AND a.id < b2.id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    list_dot_product(ea.v, eb.v)
       |      / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS raw
       |  FROM cand JOIN e ea ON ea.id = cand.id_a JOIN e eb ON eb.id = cand.id_b)
       |SELECT id_a, id_b, round(raw, 6) AS cosine FROM scored
       |WHERE raw >= $threshold""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Similarity.topKIvf]]: same literal
    * centroids, same argmax bucket assignment (ties to the higher index,
    * matching `greatest` over (score, index) structs), same nprobe probe
    * selection (ties to the lower index, matching a stable sort). */
  /** Full PQ replay: code assignment (argmin by (d, c) — the same tie
    * rule as Spark's struct-least), the query's LUT from the identical
    * codebook literals, and the ADC sum in FIXED subspace order
    * (l0+l1+...: bit-identical to the Spark fold). `ivfPrune` (q123)
    * prepends the q33 bucket-assignment replay so the scan covers only
    * the query's nprobe cells. */
  private def pqOracleSql(codebooks: Seq[Seq[Seq[Double]]], k: Int,
                          ivfPrune: Option[(Seq[Seq[Double]], Int)] = None,
                          rerank: Option[Int] = None): String = {
    val m = codebooks.length
    val subdim = codebooks.head.head.length
    val cbVals = codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, i) => s"($s, $i, ${sqlArray(c)})" }
    }.mkString(",\n    ")
    val pivots = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN c END) AS c$s").mkString(",\n    ")
    val lutJoins = (0 until m)
      .map(s => s"JOIN lut l$s ON l$s.s = $s AND l$s.c = pv.c$s").mkString("\n  ")
    val adcSum = (0 until m).map(s => s"l$s.ld").mkString(" + ")
    // corpus CTE: the full table, or the q33-style IVF bucket replay
    // (identical argmax CASE + nprobe probe) filtered to probed cells
    val corpusCte = ivfPrune match {
      case None =>
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
      case Some((centroids, nprobe)) =>
        val scores = centroids.zipWithIndex.map { case (c, i) =>
          s"list_dot_product(v0, ${sqlArray(c)}) AS s$i"
        }.mkString(",\n    ")
        val n = centroids.length
        val argmax = "CASE " + (n - 1 to 1 by -1).map { i =>
          val others = (0 until i).map(j => s"s$j").mkString(", ")
          s"WHEN s$i >= greatest($others) THEN $i"
        }.mkString(" ") + " ELSE 0 END"
        val centVals = centroids.zipWithIndex
          .map { case (c, i) => s"($i, ${sqlArray(c)})" }.mkString(", ")
        s"""cd AS (SELECT * FROM (VALUES $centVals) t(i, cvec)),
           |qb AS (SELECT i FROM cd, q ORDER BY list_dot_product(cvec, qv) DESC, i LIMIT $nprobe),
           |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
           |es AS (SELECT vec_id, v0,
           |    $scores
           |  FROM e0),
           |e AS (SELECT vec_id, v0 AS v FROM es
           |  WHERE ($argmax) IN (SELECT i FROM qb)),""".stripMargin
    }
    val dim = m * subdim
    // with a rerank pool: ADC picks the pool, full vectors (CTE `e`,
    // which the pruned variant restricts to probed cells) re-rank it by
    // exact squared L2 — the pqTopKIvfRefine replay
    val finalSql = rerank match {
      case None =>
        s"""SELECT vec_id, round(dist_raw, 6) AS dist FROM adc
           |ORDER BY dist_raw, vec_id LIMIT $k""".stripMargin
      case Some(r) =>
        s"""cand AS (SELECT vec_id FROM adc ORDER BY dist_raw, vec_id LIMIT $r),
           |ex AS (SELECT e.vec_id,
           |    list_sum(list_transform(range($dim), j ->
           |      (v[j + 1] - qv[j + 1]) * (v[j + 1] - qv[j + 1]))) AS dr
           |  FROM e JOIN cand USING (vec_id), q)
           |SELECT vec_id, round(dr, 6) AS dist FROM ex
           |ORDER BY dr, vec_id LIMIT $k""".stripMargin
    }
    val adcClose = if (rerank.isDefined) "," else ""
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |cb AS (SELECT * FROM (VALUES
       |    $cbVals) t(s, c, cv)),
       |$corpusCte
       |dists AS (SELECT e.vec_id, cb.s, cb.c,
       |    list_sum(list_transform(range($subdim), j ->
       |      (v[cb.s * $subdim + j + 1] - cv[j + 1])
       |        * (v[cb.s * $subdim + j + 1] - cv[j + 1]))) AS d
       |  FROM e, cb),
       |codes AS (SELECT vec_id, s, c FROM (
       |    SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
       |    FROM dists) WHERE rn = 1),
       |lut AS (SELECT cb.s, cb.c,
       |    list_sum(list_transform(range($subdim), j ->
       |      (qv[cb.s * $subdim + j + 1] - cv[j + 1])
       |        * (qv[cb.s * $subdim + j + 1] - cv[j + 1]))) AS ld
       |  FROM cb, q),
       |pv AS (SELECT vec_id,
       |    $pivots
       |  FROM codes GROUP BY vec_id),
       |adc AS (SELECT pv.vec_id, $adcSum AS dist_raw
       |  FROM pv
       |  $lutJoins)$adcClose
       |$finalSql""".stripMargin
  }

  /** The e/es/eb CTE fragment assigning every embedding its IVF cell
    * (max-dot argmax, ties to the higher index — the `ivfBucket`
    * contract) — shared by [[ivfOracleSql]] and q155's semantic-dedup
    * replay. */
  /** The q187 aHash replay — 16×16 gray fixture pixels
    * `(pk·31 + x·7 + y·13) mod 256` with pk = doc_id mod 40, 2×2
    * integer block means into an 8×8 cell grid, integer global mean,
    * strict-greater bits at index j·8+i, split into unsigned 32-bit
    * halves (DuckDB's BIGINT shift overflows at bit 63, so the oracle
    * never builds the full 64-bit value). Shared by q187 and q188. */
  private def aHashOracleCtes: String = aHashOracleCtes("")
  private def aHashOracleCtes(p: String): String =
    s"""${p}ids AS (SELECT doc_id, doc_id % 40 AS pk FROM documents),
       |${p}c AS (SELECT doc_id, ti.i AS i, tj.j AS j,
       |    CAST(sum((pk * 31 + (2 * ti.i + tx.dx) * 7
       |              + (2 * tj.j + ty.dy) * 13) % 256) // 4 AS BIGINT) AS cell
       |  FROM ${p}ids, range(8) ti(i), range(8) tj(j),
       |       range(2) tx(dx), range(2) ty(dy)
       |  GROUP BY doc_id, ti.i, tj.j),
       |${p}m AS (SELECT doc_id, CAST(sum(cell) // 64 AS BIGINT) AS mean
       |      FROM ${p}c GROUP BY doc_id),
       |${p}bits AS (SELECT c.doc_id, c.j * 8 + c.i AS b,
       |    CASE WHEN c.cell > m.mean THEN 1 ELSE 0 END AS bit
       |  FROM ${p}c c JOIN ${p}m m ON c.doc_id = m.doc_id),
       |${p}sig AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN bit = 1 AND b >= 32
       |                  THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS hi,
       |    CAST(sum(CASE WHEN bit = 1 AND b < 32
       |                  THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS lo
       |  FROM ${p}bits GROUP BY doc_id)""".stripMargin

  /** The q203 dHash replay — the [[aHashOracleCtes]] pixel/cell CTEs
    * with the bit rule swapped for the horizontal gradient: bit j·8+i
    * set iff cell((i+1) mod 8, j) > cell(i, j) (wraparound). */
  private def dHashOracleCtes: String = dHashOracleCtes("")
  private def dHashOracleCtes(p: String): String =
    s"""${p}ids AS (SELECT doc_id, doc_id % 40 AS pk FROM documents),
       |${p}c AS (SELECT doc_id, ti.i AS i, tj.j AS j,
       |    CAST(sum((pk * 31 + (2 * ti.i + tx.dx) * 7
       |              + (2 * tj.j + ty.dy) * 13) % 256) // 4 AS BIGINT) AS cell
       |  FROM ${p}ids, range(8) ti(i), range(8) tj(j),
       |       range(2) tx(dx), range(2) ty(dy)
       |  GROUP BY doc_id, ti.i, tj.j),
       |${p}bits AS (SELECT a.doc_id, a.j * 8 + a.i AS b,
       |    CASE WHEN n.cell > a.cell THEN 1 ELSE 0 END AS bit
       |  FROM ${p}c a JOIN ${p}c n
       |    ON a.doc_id = n.doc_id AND a.j = n.j
       |   AND n.i = (a.i + 1) % 8),
       |${p}sig AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN bit = 1 AND b >= 32
       |                  THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS hi,
       |    CAST(sum(CASE WHEN bit = 1 AND b < 32
       |                  THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS lo
       |  FROM ${p}bits GROUP BY doc_id)""".stripMargin

  /** The q189 audio-fingerprint replay — 2048-sample fixture waveform
    * `((pk·31 + t·7) mod 256 − 128) · 64` with pk = doc_id mod 40, 64
    * windows of 32 samples, window energy = Σ sample² (exact BIGINT),
    * integer global mean, strict-greater bits, unsigned 32-bit halves
    * (the [[aHashOracleCtes]] conventions). */
  private def audioFpOracleCtes: String = audioFpOracleCtes("")
  private def audioFpOracleCtes(p: String): String =
    s"""${p}ids AS (SELECT doc_id, doc_id % 40 AS pk FROM documents),
       |${p}e AS (SELECT doc_id, tw.w AS w,
       |    CAST(sum(
       |      CAST(((pk * 31 + (32 * tw.w + ti.i) * 7) % 256 - 128) * 64
       |        AS BIGINT)
       |      * CAST(((pk * 31 + (32 * tw.w + ti.i) * 7) % 256 - 128) * 64
       |        AS BIGINT)) AS BIGINT) AS en
       |  FROM ${p}ids, range(64) tw(w), range(32) ti(i)
       |  GROUP BY doc_id, tw.w),
       |${p}m AS (SELECT doc_id, CAST(sum(en) // 64 AS BIGINT) AS mean
       |      FROM ${p}e GROUP BY doc_id),
       |${p}bits AS (SELECT e.doc_id, e.w AS b,
       |    CASE WHEN e.en > m.mean THEN 1 ELSE 0 END AS bit
       |  FROM ${p}e e JOIN ${p}m m ON e.doc_id = m.doc_id),
       |${p}sig AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN bit = 1 AND b >= 32
       |                  THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS hi,
       |    CAST(sum(CASE WHEN bit = 1 AND b < 32
       |                  THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS lo
       |  FROM ${p}bits GROUP BY doc_id)""".stripMargin

  /** Hamming-LSH banding CTEs shared by q188/q190/q196: expect a
    * `sig(doc_id, hi, lo)` CTE; replay the 16-bit chunk banding with
    * the [2, 64] bucket cap and exact Hamming distances into `pairs`. */
  private def hammingLshPairsCtes: String = hammingLshPairsCtes("")
  private def hammingLshPairsCtes(p: String): String =
    s"""${p}chunked AS (SELECT doc_id AS id, hi, lo, cs.c AS chunk,
       |    CASE cs.c WHEN 0 THEN lo & 65535
       |              WHEN 1 THEN (lo >> 16) & 65535
       |              WHEN 2 THEN hi & 65535
       |              ELSE (hi >> 16) & 65535 END AS key
       |  FROM ${p}sig, (SELECT unnest(range(4)) AS c) cs),
       |${p}buckets AS (SELECT chunk, key FROM ${p}chunked
       |  GROUP BY chunk, key
       |  HAVING count(*) BETWEEN 2 AND 64),
       |${p}pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
       |      AS INTEGER) AS hamming
       |  FROM ${p}chunked a
       |  JOIN ${p}buckets k ON a.chunk = k.chunk AND a.key = k.key
       |  JOIN ${p}chunked b
       |    ON a.chunk = b.chunk AND a.key = b.key AND a.id < b.id)""".stripMargin

  private def hammingLshOracleTail: String =
    s"""$hammingLshPairsCtes
       |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin

  /** The q156 classifier replay (hash-embedding + integer-micro logit),
    * shared with its streaming-ingest twin q197 (which NEGATES the
    * weights so the kept set is large — a 1-row keep set gates almost
    * nothing). */
  private def classifierOracleSql: String = classifierOracleSql(negate = false)
  private def classifierOracleSql(negate: Boolean): String = {
    val ws = if (negate) clfWeights.map(-_) else clfWeights
    s"""WITH t AS (SELECT doc_id, list_filter(
       |    regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
       |    x -> len(x) > 0) AS toks FROM documents),
       |b AS (SELECT doc_id, list_transform(toks,
       |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 32) AS buckets
       |  FROM t),
       |c AS (SELECT doc_id, list_transform(generate_series(0, 31),
       |    i -> CAST(len(list_filter(buckets, x -> x = i)) AS DOUBLE)) AS counts
       |  FROM b),
       |n AS (SELECT doc_id, counts,
       |  sqrt(list_sum(list_transform(counts, x -> x * x))) AS norm FROM c),
       |em AS (SELECT doc_id, list_transform(counts,
       |  x -> CAST(round((CASE WHEN norm > 0 THEN round(x / norm, 6)
       |                        ELSE 0.0 END) * 1000000) AS BIGINT)) AS e
       |  FROM n),
       |w AS (SELECT ${ws.mkString("[", ", ", "]")}::BIGINT[] AS wv)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(generate_series(1, 32),
       |    i -> e[i] * wv[i])) AS BIGINT) AS logit_micro,
       |  list_sum(list_transform(generate_series(1, 32),
       |    i -> e[i] * wv[i])) > 0 AS keep
       |FROM em, w""".stripMargin
  }

  /** The q321 training replay: nearest-centroid training as CTEs —
    * per-class per-dimension count sums (parallel unnests zip position
    * with count), class means rounded ONCE to integer milli-units
    * (round(s·10³/n): one IEEE division + one half-away round, the
    * q107/q156 micro-unit pattern at overflow-safe milli scale), w =
    * μ₊ − μ₋ and the midpoint threshold Σ wᵢ(μ₊ᵢ + μ₋ᵢ), then every
    * document scored 2·10³·(w·e) − t. Replays
    * [[graft.operators.TextAnalysis.classifierTrain]] exactly — every
    * published number is int64 (NULL text = zero vector, coalesced on
    * both sides). */
  private def classifierTrainOracleSql: String = {
    val dim = 32
    def dot =
      s"""list_sum(list_transform(generate_series(1, $dim),
         |      i -> f.e[i] * wv[i]))""".stripMargin
    s"""WITH t AS (SELECT doc_id, list_filter(
       |    regexp_split_to_array(lower(coalesce(text, '')),
       |      '[ \\t\\n\\x0b\\f\\r]+'),
       |    x -> len(x) > 0) AS toks FROM documents),
       |f AS (SELECT doc_id,
       |    CASE WHEN len(toks) >= 60 THEN 1::BIGINT
       |         ELSE (-1)::BIGINT END AS y,
       |    list_transform(generate_series(0, ${dim - 1}),
       |      i -> CAST(len(list_filter(list_transform(toks,
       |        s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $dim),
       |        h -> h = i)) AS BIGINT)) AS e
       |  FROM t),
       |sums AS (SELECT y, pos, CAST(sum(cnt) AS BIGINT) AS s FROM (
       |    SELECT y, unnest(e) AS cnt,
       |           unnest(generate_series(1, $dim)) AS pos FROM f)
       |  GROUP BY y, pos),
       |ns AS (SELECT y, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY y),
       |mu AS (SELECT y, list(CAST(round(s * 1000.0 / n) AS BIGINT)
       |    ORDER BY pos) AS m FROM sums JOIN ns USING (y) GROUP BY y),
       |wt AS (SELECT
       |    list_transform(generate_series(1, $dim),
       |      i -> p.m[i] - q.m[i]) AS wv,
       |    list_sum(list_transform(generate_series(1, $dim),
       |      i -> (p.m[i] - q.m[i]) * (p.m[i] + q.m[i]))) AS thr
       |  FROM (SELECT m FROM mu WHERE y = 1) p,
       |       (SELECT m FROM mu WHERE y = -1) q)
       |SELECT f.doc_id, f.y AS label,
       |  CAST(2000 * $dot - thr AS BIGINT) AS score,
       |  (2000 * $dot - thr) > 0 AS pred
       |FROM f, wt""".stripMargin
  }

  /** The q171 mixture replay (q157's weights + exact ppm rates + the
    * md5 keep decision), shared verbatim by the batch gate (q171) and
    * its streaming-ingest twin (q182) — the contract is equality. */
  private def sampleMixtureOracleSql: String =
    s"""WITH d AS (SELECT doc_id, source, text,
       |  len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
       |      x -> len(x) > 0)) AS n_tok,
       |  len(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
       |      x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS n_sw
       | FROM documents),
       |q AS (SELECT source,
       |  CAST(round($qualityExprSql * 1000000) AS BIGINT) AS qm FROM d),
       |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(qm) AS BIGINT) AS quality_mass_micro FROM q GROUP BY source),
       |t AS (SELECT sum(quality_mass_micro * quality_mass_micro) AS dn FROM s),
       |w AS (SELECT source, n_docs,
       |  round(CAST(quality_mass_micro * quality_mass_micro AS DOUBLE) / t.dn,
       |    6) AS weight
       |  FROM s, t),
       |r AS (SELECT source,
       |  least(1000000, CAST(floor(weight * 300 * 1000000 / n_docs) AS BIGINT))
       |    AS rate_ppm
       |  FROM w)
       |SELECT doc_id, source FROM documents JOIN r USING (source)
       |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |    % 1000000 < rate_ppm""".stripMargin

  private def ivfAssignCtes(centroids: Seq[Seq[Double]]): String = {
    val scores = centroids.zipWithIndex.map { case (c, i) =>
      s"list_dot_product(v, ${sqlArray(c)}) AS s$i"
    }.mkString(",\n    ")
    val n = centroids.length
    val argmax = "CASE " + (n - 1 to 1 by -1).map { i =>
      val others = (0 until i).map(j => s"s$j").mkString(", ")
      s"WHEN s$i >= greatest($others) THEN $i"
    }.mkString(" ") + " ELSE 0 END"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |es AS (SELECT vec_id, v,
       |    $scores
       |  FROM e),
       |eb AS (SELECT vec_id, v, $argmax AS bucket FROM es)""".stripMargin
  }

  private def ivfOracleSql(centroids: Seq[Seq[Double]], k: Int, nprobe: Int): String = {
    val centVals = centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${sqlArray(c)})" }.mkString(", ")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |cd AS (SELECT * FROM (VALUES $centVals) t(i, c)),
       |qb AS (SELECT i FROM cd, q ORDER BY list_dot_product(c, qv) DESC, i LIMIT $nprobe),
       |${ivfAssignCtes(centroids)},
       |scored AS (
       |  SELECT vec_id,
       |    list_dot_product(v, (SELECT qv FROM q))
       |      / (sqrt(list_dot_product(v, v))
       |         * sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))) AS raw
       |  FROM eb WHERE bucket IN (SELECT i FROM qb))
       |SELECT vec_id, round(raw, 6) AS score FROM scored
       |ORDER BY raw DESC, vec_id LIMIT $k""".stripMargin
  }
}
