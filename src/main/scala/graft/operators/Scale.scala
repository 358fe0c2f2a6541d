package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Skew-handling primitives for 100 TB-scale aggregation.
  *
  * A single hot key (one boilerplate document, one mega-customer) turns a
  * hash-partitioned aggregation into a one-task straggler. Salting splits
  * each key into `salts` sub-keys for a partial aggregate, then merges
  * the partials — two shuffles, but each balanced. Spark's AQE skew
  * handling covers joins; aggregation salting is still manual, hence this
  * helper.
  */
object Scale {

  /** Two-stage salted aggregation for associative aggregates.
    *
    * The salt is derived deterministically from the value columns (not
    * `rand()`), so results are reproducible run-to-run — required by the
    * differential oracle and generally good hygiene.
    *
    * `avg` decomposes into (sum, count) partials and divides at the merge
    * — the only way an average survives two-stage aggregation.
    *
    * @param aggs (valueCol → "sum" | "count" | "min" | "max" | "avg")
    */
  def saltedAgg(df: DataFrame, keyCols: Seq[String],
                aggs: Seq[(String, String)], salts: Int = 16): DataFrame = {
    val saltCol = F.pmod(F.hash(df.columns.map(F.col): _*), F.lit(salts))
    val partialExprs = aggs.flatMap {
      case (c, "avg") => Seq(
        F.sum(c).as(s"_p_avgsum_$c"),
        F.count(F.lit(1)).as(s"_p_avgcnt_$c"))
      case (c, how) => Seq(expr(how, c).as(s"_p_${how}_$c"))
    }
    val finalExprs = aggs.map {
      case (c, "avg") =>
        (F.sum(s"_p_avgsum_$c").cast("double") / F.sum(s"_p_avgcnt_$c"))
          .as(s"avg_$c")
      case (c, how) =>
        val mergeHow = if (how == "count") "sum" else how
        expr(mergeHow, s"_p_${how}_$c").as(s"${how}_$c")
    }
    df.withColumn("_salt", saltCol)
      .groupBy((keyCols :+ "_salt").map(F.col): _*)
      .agg(partialExprs.head, partialExprs.tail: _*)
      .groupBy(keyCols.map(F.col): _*)
      .agg(finalExprs.head, finalExprs.tail: _*)
  }

  /** Deterministic hash-based stratified sampling — the corpus-mixing
    * primitive of a training-data pipeline (downsample boilerplate
    * sources, upweight high-quality strata). The sampling key is the
    * engine-portable md5 hash of the row id (NOT `rand()`), so (a) the
    * sample is reproducible run-to-run and partition-invariant, (b) it is
    * consistent across reruns/backfills — a row's fate never changes —
    * and (c) a differential SQL oracle can replay the exact selection.
    * Pure narrow filter: no shuffle, scales with input splits.
    *
    * @param ratePct per-row keep percentage in [0,100], usually a CASE
    *                over the stratum column */
  def stratifiedSampleByHash(df: DataFrame, idCol: Column, ratePct: Column): DataFrame =
    df.filter(Dedup.md5Hash60(idCol.cast("string")) % 100 < ratePct)

  /** MERGEABLE distinct-count sketches, persisted: one Datasketches HLL
    * sketch per group written to parquet — the incremental corpus-stats
    * primitive. Each ingest shard (or day, or source) builds its own
    * sketches; [[mergedDistinctEstimate]] unions them under a COARSER
    * grouping later without touching raw data — the property an exact
    * COUNT(DISTINCT) fundamentally lacks (exact counts don't add across
    * shards; sketches do). Sketch size is KBs per group regardless of
    * cardinality. */
  def writeDistinctSketches(df: DataFrame, groupCols: Seq[String],
                            valueCol: Column, path: String): Unit =
    df.groupBy(groupCols.map(F.col): _*)
      .agg(F.hll_sketch_agg(valueCol).as("sketch"))
      .write.mode("overwrite").parquet(path)

  /** Union stored sketches ([[writeDistinctSketches]]) under a coarser
    * grouping and estimate distinct counts — reads only the sketch
    * column, never the corpus. */
  def mergedDistinctEstimate(spark: org.apache.spark.sql.SparkSession,
                             path: String, groupCols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).as("est"))

  /** MERGEABLE count-min frequency sketches, persisted: one seeded CMS
    * per shard over the whitespace tokens — the point-frequency member
    * of the stored-sketch family (distinct = HLL, quantiles =
    * histograms, heavy hitters = Misra–Gries, frequencies = CMS). Each
    * ingest shard sketches its own tokens in one narrow pass;
    * [[cmsTokenEstimates]] merges the fixed-size tables later and
    * serves "how often does token t appear?" for ANY token without
    * touching raw data — the query the MG sketch (top-k only)
    * fundamentally cannot answer. Sketch size is depth×width longs per
    * shard regardless of vocabulary. The SEED makes the sketch
    * deterministic: estimates are reproducible run-to-run, so the
    * classic guarantee (est ≥ exact, and est ≤ exact + ε·N at the
    * sketch's confidence) is checkable as a fixed boolean by a
    * differential oracle (the q43/q138 bound-flag pattern). */
  def writeCmsSketches(df: DataFrame, textCol: String, shardCol: String,
                       path: String, eps: Double = 0.0001,
                       confidence: Double = 0.99, seed: Int = 42): Unit =
    df.select(F.col(shardCol).as("shard"),
        F.explode(TextAnalysis.tokens(F.col(textCol))).as("token"))
      .groupBy("shard")
      .agg(F.count_min_sketch(F.col("token"), F.lit(eps),
        F.lit(confidence), F.lit(seed)).as("cms"))
      .write.mode("overwrite").parquet(path)

  /** Pairwise CMS merge over serialized sketch blobs — count-min tables
    * of identical (depth, width, seed) add cell-wise, so the merge is
    * associative+commutative and safe to tree-reduce on executors.
    * Incompatible geometry throws (loud, never silent). The empty blob
    * is the treeAggregate zero. */
  private def mergeCmsBlobs(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.CountMinSketch
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      val s = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(a))
      s.mergeInPlace(
        CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b)))
      val bos = new java.io.ByteArrayOutputStream()
      s.writeTo(bos)
      bos.toByteArray
    }
  }

  /** Merge ALL stored CMS shards into one serialized blob,
    * DISTRIBUTED: executors tree-reduce fixed-size tables pairwise
    * ([[mergeCmsBlobs]]); the driver receives O(√partitions) partials of
    * KBs each — never O(shards), however many ingest batches the store
    * has accumulated (the q240 lesson, applied to CMS). */
  private def mergedCmsBlob(spark: org.apache.spark.sql.SparkSession,
                            paths: Seq[String]): Array[Byte] = {
    val blob = spark.read.parquet(paths: _*).select("cms")
      .rdd.map(_.getAs[Array[Byte]](0))
      .treeAggregate(Array.empty[Byte])(mergeCmsBlobs, mergeCmsBlobs)
    require(blob.nonEmpty, s"no CMS shards at ${paths.mkString(", ")}")
    blob
  }

  /** Compact a GROWING CMS store (one `shard-<id>` parquet segment per
    * ingest batch, the [[compactHeavyHitterSketches]] layout) into a
    * single merged segment. CMS tables add cell-wise, so the compacted
    * sketch answers every point query IDENTICALLY to the shard union —
    * no threshold step, unlike Misra–Gries. Merge runs distributed
    * ([[mergedCmsBlob]]); the same `_covers.txt` crash protocol applies:
    * segment + manifest land before the sweep, and a re-run after a
    * crash excludes the detectable leftover instead of double-counting
    * every cell. */
  def compactCmsSketches(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    val (fs, old, live) = liveSegments(spark, path)
    if (old.length <= 1) return // a single segment is already compact
    val blob = mergedCmsBlob(spark, live.map(_.toString).toSeq)
    val seg = s"$path/shard-compact-" +
      java.util.UUID.randomUUID().toString.take(8)
    import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            Seq(org.apache.spark.sql.Row("compacted", blob))).asJava),
        StructType(Seq(
          StructField("shard", StringType, nullable = false),
          StructField("cms", BinaryType, nullable = false))))
      .coalesce(1).write.parquet(seg)
    commitCompaction(spark, fs, path, seg, old)
  }

  /** Merge the stored CMS shards and estimate each probe token's corpus
    * frequency: (token, est, total). The merge is DISTRIBUTED
    * ([[mergedCmsBlob]]): executors tree-reduce the fixed-size tables
    * and the driver deserializes ONE merged blob — O(1) in the shard
    * count, so an ingest that accumulated thousands of micro-batch
    * segments costs the driver nothing extra. Probes are a bounded
    * token list (typically ≤ hundreds). `path` may be a segment glob
    * (`store/shard-*`) or a single parquet directory. */
  def cmsTokenEstimates(spark: org.apache.spark.sql.SparkSession,
                        path: String, probes: Seq[String]): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val merged = CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(mergedCmsBlob(spark, Seq(path))))
    val total = merged.totalCount()
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows = probes.map(t =>
      org.apache.spark.sql.Row(t, merged.estimateCount(t), total))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("token", StringType, nullable = false),
        StructField("est", LongType, nullable = false),
        StructField("total", LongType, nullable = false))))
  }

  /** Mergeable FIXED-WIDTH histograms, persisted: per group, exact
    * counts of `floor(value / width)` buckets — the quantile companion
    * of [[writeDistinctSketches]]. Each ingest shard (or day, or
    * source) writes its own histogram; [[mergedQuantiles]] SUMS them
    * under a coarser grouping later and reads off bucket-resolution
    * quantiles without touching raw data — the property an exact
    * percentile fundamentally lacks (exact quantiles don't add across
    * shards; histogram counts do). Sketch size per group is
    * max(value)/width longs — for doc-length stats a few hundred rows
    * regardless of corpus size. Unlike the HLL sketch (probabilistic,
    * bound-checked), every step here is arithmetic a differential
    * oracle replays EXACTLY. */
  def writeHistogramSketches(df: DataFrame, groupCols: Seq[String],
                             valueCol: Column, path: String,
                             width: Long = 64): Unit = {
    require(width >= 1, s"bucket width must be >= 1, got $width")
    df.groupBy((groupCols.map(F.col) :+
        F.floor(valueCol.cast("long") / F.lit(width)).as("bucket")): _*)
      .agg(F.count(F.lit(1)).as("n"))
      .write.mode("overwrite").parquet(path)
  }

  /** Compact a GROWING histogram store (one `shard-<id>` segment per
    * ingest batch, the [[graft.streaming.Streams.histogramSink]]
    * layout) into one merged segment: bucket counts ADD, so the
    * compacted store answers every quantile query identically to the
    * shard union. Groups by every stored column except the count, so
    * any `groupCols` arity compacts without re-declaring it. Same
    * `_covers.txt` crash protocol as the other sketch stores. */
  def compactHistogramSketches(spark: org.apache.spark.sql.SparkSession,
                               path: String): Unit = {
    val (fs, old, live) = liveSegments(spark, path)
    if (old.length <= 1) return // a single segment is already compact
    val df = spark.read.parquet(live.map(_.toString): _*)
    val keys = df.columns.filterNot(_ == "n")
    val compacted = df.groupBy(keys.map(F.col): _*).agg(F.sum("n").as("n"))
    val seg = s"$path/shard-compact-" +
      java.util.UUID.randomUUID().toString.take(8)
    compacted.coalesce(1).write.parquet(seg)
    commitCompaction(spark, fs, path, seg, old)
  }

  /** Merge stored histograms ([[writeHistogramSketches]], `path` may
    * glob over shards) under a coarser grouping and estimate quantiles:
    * for each probability p, the upper edge `(bucket+1)*width` of the
    * first bucket whose cumulative count reaches `p * total` — a
    * conservative (upper-bound) estimate with bucket resolution, fully
    * deterministic. One narrow read of the sketch rows; the cumulative
    * window runs over ~max(value)/width rows per group, never the
    * corpus. */
  def mergedQuantiles(spark: org.apache.spark.sql.SparkSession, path: String,
                      groupCols: Seq[String], probs: Seq[Double],
                      width: Long = 64): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"probabilities must be in (0, 1], got $probs")
    import org.apache.spark.sql.expressions.Window
    val merged = spark.read.parquet(path)
      .groupBy((groupCols :+ "bucket").map(F.col): _*)
      .agg(F.sum("n").as("n"))
    val wCum = Window.partitionBy(groupCols.map(F.col): _*).orderBy("bucket")
    val wAll = Window.partitionBy(groupCols.map(F.col): _*)
    val pFrame = spark.createDataset(probs)(
      org.apache.spark.sql.Encoders.scalaDouble).toDF("p")
    merged
      .withColumn("cum", F.sum("n").over(wCum))
      .withColumn("total", F.sum("n").over(wAll))
      .crossJoin(F.broadcast(pFrame))
      .filter(F.col("cum") >= F.col("p") * F.col("total"))
      .groupBy((groupCols :+ "p").map(F.col): _*)
      .agg(F.min((F.col("bucket") + 1) * width).as("q_est"))
  }

  /** Deterministic EXACT-k-per-stratum sample: within each stratum keep
    * the k documents with the HIGHEST portable md5 hash of their id —
    * uniform over the stratum (the hash is uniform), exactly k rows per
    * stratum (fewer when the stratum is smaller), and stable across
    * reruns/backfills like every sampler here (hash, never rand()).
    * The fixed-rate [[stratifiedSampleByHash]] cannot promise an exact
    * count; this is the "exactly 10k docs per language" eval-set shape.
    *
    * Scale shape: the selection runs through the bounded-heap
    * `topk_pairs` aggregate — O(k) state per stratum per task, only k
    * rows per stratum per partition reach the shuffle; a `row_number`
    * window here would sort every stratum's full membership inside one
    * partition (the straggler at 100 TB). Ids must be GLOBALLY unique
    * (the keep-list joins back by id — the standing id contract of the
    * samplers and dedup pipelines). Ranking key is the hash AS A DOUBLE
    * (what the heap stores); int64s above 2^53 can collide when rounded,
    * and such ties break deterministically by lower id on both the heap
    * and the replaying oracle.
    *
    * The heap path requires an INTEGRAL id (its state is `(double, long)`
    * pairs); a non-integral id would cast to null and silently select
    * nothing, so non-integral ids route through a `row_number` window,
    * which handles any id type — same rows either way, just without the
    * bounded-state guarantee. */
  def sampleKPerGroup(df: DataFrame, stratumCol: String, idCol: Column,
                      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val key = Dedup.md5Hash60(idCol.cast("string")).cast("double")
    val integralId = df.select(idCol).schema.head.dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralId) {
      val picked = df
        .select(F.col(stratumCol).as("_st"), key.as("_key"),
          idCol.cast("long").as("_id"))
        .groupBy("_st")
        .agg(F.call_function("topk_pairs",
          F.col("_key"), F.col("_id"), F.lit(k)).as("_top"))
        .select(F.explode(F.col("_top")).as("t"))
        .select(F.col("t.id").as("_keep"))
      df.join(F.broadcast(picked), idCol.cast("long") === F.col("_keep"),
          "left_semi")
    } else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(stratumCol)
        .orderBy(key.desc, idCol.cast("long").asc)
      df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    }
  }

  /** DOMAIN MIXING WEIGHTS — the per-source sampling table a training
    * mix ships (the "how much of each source" decision): weight_s ∝
    * (quality mass)_s^alpha, where quality mass is the source's SUM of
    * per-document quality in integer micro-units. alpha > 1 tilts the
    * mix toward cleaner sources; alpha = 1 is proportional sampling.
    *
    * Numerics, deliberately: quality is rounded to 6dp (already the
    * [[graft.operators.TextAnalysis.qualityScore]] contract), so the
    * micro-unit mass and its integer power are EXACT int64 sums —
    * order-free, replayable bit-for-bit; only the final normalization
    * is one double division of identical operands on both sides,
    * rounded at 6dp. One narrow stats aggregation plus a broadcast
    * one-row total; mass^alpha must fit int64 (alpha ≤ 2 enforced —
    * at bigger corpora normalize per shard first). */
  def mixingWeights(df: DataFrame, textCol: String, srcCol: String,
                    alpha: Int = 2): DataFrame = {
    require(alpha == 1 || alpha == 2,
      s"alpha must be 1 or 2 (integer-exact powers), got $alpha")
    val qMicro = F.round(
      graft.operators.TextAnalysis.qualityScore(F.col(textCol)) * 1e6)
      .cast("long")
    val s = df.groupBy(F.col(srcCol))
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum(qMicro).as("quality_mass_micro"))
    val tilted =
      if (alpha == 1) F.col("quality_mass_micro")
      else F.col("quality_mass_micro") * F.col("quality_mass_micro")
    val denom = s.agg(F.sum(
      if (alpha == 1) F.col("quality_mass_micro")
      else F.col("quality_mass_micro") * F.col("quality_mass_micro"))
      .as("_d"))
    s.crossJoin(F.broadcast(denom))
      .select(F.col(srcCol), F.col("n_docs"), F.col("quality_mass_micro"),
        F.round(tilted.cast("double") / F.col("_d"), 6).as("weight"))
  }

  /** APPLY a mixing-weight table — the step after [[mixingWeights]]
    * that actually builds the mixture: deterministic per-source
    * sampling sized so the kept corpus lands the α-tilted weights at a
    * target document budget. Per source, keep-rate =
    * min(1, weight·budget/n_docs) in exact ppm; the keep decision is
    * the portable md5 of the id (the [[temperatureSample]] pattern —
    * stable across reruns/backfills, partition-invariant, replayable by
    * a SQL oracle). Sources smaller than their allocation keep
    * everything (rate caps at 1). Scale shape: one per-source agg, a
    * broadcast of the per-source rate table (categorical domain —
    * bounded), and a narrow hash filter; the corpus never shuffles. */
  def sampleToMixture(df: DataFrame, textCol: String, srcCol: String,
                      idCol: Column, budgetDocs: Long,
                      alpha: Int = 2): DataFrame =
    applyMixtureRates(df, srcCol, idCol,
      mixtureRates(df, textCol, srcCol, budgetDocs, alpha))

  /** The PLANNING half of [[sampleToMixture]]: the per-source keep-rate
    * table (srcCol, rate_ppm) in exact ppm. Split out so the rates can
    * be planned ONCE from a corpus snapshot and applied later — at a
    * different batch, or at INGEST by the streaming twin
    * ([[graft.streaming.Streams.sampleMixtureStream]]). */
  def mixtureRates(df: DataFrame, textCol: String, srcCol: String,
                   budgetDocs: Long, alpha: Int = 2): DataFrame = {
    require(budgetDocs > 0, s"budgetDocs must be positive, got $budgetDocs")
    mixingWeights(df, textCol, srcCol, alpha)
      .select(F.col(srcCol),
        F.least(F.lit(1000000L),
          F.floor(F.col("weight") * budgetDocs * 1000000L / F.col("n_docs")))
          .as("rate_ppm"))
  }

  /** The APPLYING half of [[sampleToMixture]]: the md5-keyed keep
    * decision against a broadcast rate table — a pure narrow filter
    * (per-document, no state), which is exactly why the streaming twin
    * equals the batch run micro-batch by micro-batch. */
  def applyMixtureRates(df: DataFrame, srcCol: String, idCol: Column,
                        rates: DataFrame): DataFrame =
    df.join(F.broadcast(rates), srcCol)
      .filter(Dedup.md5Hash60(idCol.cast("string")) % 1000000L <
        F.col("rate_ppm"))
      .drop("rate_ppm")

  /** EXACT heavy-hitter tokens via a Misra–Gries sketch + exact
    * confirmation — the vocabulary-scale-free way to ask "which tokens
    * exceed fraction 1/(k+1) of the corpus": the sketch pass keeps O(k)
    * state per task and ships k counters per partition (NEVER a
    * full-vocabulary aggregation — at 100 TB the token domain is
    * billions of distinct n-grams and a groupBy over it is its own
    * shuffle problem); its superset guarantee means every true heavy
    * hitter is among the ≤ k candidates, so one broadcast semi-join +
    * count over candidates yields counts that are EXACT, and the
    * n/(k+1) threshold filter makes the final set provably equal to
    * the brute-force answer (the property the differential oracle
    * checks). Returns (token, cnt) with cnt·(k+1) > total strictly.
    *
    * Cost: three narrow token scans (sketch, total, confirm — the
    * corpusDupLines recompute-don't-materialize tradeoff) and one
    * ≤ k-row broadcast. */
  def heavyHitterTokens(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val t = df.select(
      F.explode(TextAnalysis.tokens(F.col(textCol))).as("token"))
    val cand = t.agg(F.call_function("heavy_hitters",
        F.col("token"), F.lit(k)).as("hh"))
      .select(F.explode(F.col("hh")).as("h"))
      .select(F.col("h.item").as("token"))
    confirmHeavyHitters(t, cand, k)
  }

  /** The exact-confirm tail shared by [[heavyHitterTokens]] and
    * [[mergedHeavyHitters]]: exact counts over the bounded candidate
    * set (broadcast semi-join), thresholded at n/(k+1) strictly. */
  private def confirmHeavyHitters(t: DataFrame, cand: DataFrame,
                                  k: Int): DataFrame = {
    val total = t.agg(F.count(F.lit(1)).as("_n"))
    t.join(F.broadcast(cand), "token")
      .groupBy("token").agg(F.count(F.lit(1)).as("cnt"))
      .crossJoin(F.broadcast(total))
      .filter(F.col("cnt") * (k + 1) > F.col("_n"))
      .select("token", "cnt")
  }

  /** STORED heavy-hitter sketches, sharded: one Misra–Gries summary per
    * `shardCol` group persisted as (shard, item, count) parquet — the
    * heavy-hitters member of the stored-sketch family (HLL distinct
    * q138, histogram quantiles q167). Each shard's sketch is built by
    * ONE pass over that shard's tokens; nothing global runs at write
    * time. */
  def writeHeavyHitterSketches(df: DataFrame, textCol: String,
                               shardCol: String, k: Int,
                               path: String): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(F.col(shardCol).as("shard"),
        F.explode(TextAnalysis.tokens(F.col(textCol))).as("token"))
      .groupBy("shard")
      .agg(F.call_function("heavy_hitters", F.col("token"), F.lit(k)).as("hh"))
      .select(F.col("shard"), F.explode(F.col("hh")).as("h"))
      .select(F.col("shard"), F.col("h.item").as("item"),
        F.col("h.count").as("count"))
      .write.mode("overwrite").parquet(path)
  }

  /** Compact a GROWING sketch store (the [[graft.streaming.Streams.heavyHitterSink]]
    * layout: one `shard-<id>` parquet segment per ingest batch) into a
    * single merged segment — the generation discipline the BM25 index
    * got, applied to sketches: a long-running ingest otherwise
    * accumulates one segment per micro-batch forever, and every merged
    * query pays an ever-wider candidate union.
    *
    * The merge is the weighted Misra–Gries merge (Agarwal et al.,
    * "Mergeable Summaries"): sum counters item-wise across shards, and
    * if more than k survive, subtract the (k+1)-th largest summed count
    * from every counter and keep the positives. The result is itself a
    * valid MG summary of the CONCATENATED stream with the same 1/(k+1)
    * error bound, so [[mergedHeavyHitters]]' superset argument holds
    * over the compacted store exactly as over the shards.
    *
    * Crash-safety ordering: the compacted segment lands BEFORE the old
    * shards are deleted. At every instant the store's candidate union is
    * a superset of the true heavy hitters (duplicate summaries only
    * WIDEN the union — they are never summed into final counts, because
    * the exact-confirm pass recomputes counts from the corpus), so a
    * crash at any point leaves a store whose merged answer is identical;
    * the next compaction sweeps the leftovers. Each compacted segment
    * carries a `_covers.txt` manifest naming the segments it was summed
    * from: a re-run after a crash (segment written, old shards not yet
    * swept) detects the overlap and EXCLUDES the leftover from the sum —
    * without the manifest it would double-count every item the leftover
    * shares with the still-present shards and break the Misra–Gries
    * underestimate property of the stored counters. (In the crash
    * window itself — before the healing re-run — stored counters may
    * double-represent and must be read as candidate weights only; the
    * merged ANSWER is exact-confirmed and never wrong.) All shuffles
    * are over ≤ shards·k candidate rows. */
  def compactHeavyHitterSketches(spark: org.apache.spark.sql.SparkSession,
                                 path: String, k: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (fs, old, live) = liveSegments(spark, path)
    if (old.length <= 1) return // a single segment is already compact
    // staged: the cardinality check, the threshold aggregate and the
    // final write would otherwise each re-read and re-aggregate every
    // shard; the staged frame is bounded at shards·k candidate rows
    val summed = spark.read.parquet(live.map(_.toString): _*)
      .groupBy("item").agg(F.sum("count").as("count"))
      .localCheckpoint(true)
    val compacted =
      if (summed.count() <= k) summed
      else {
        // (k+1)-th largest summed counter = min over the top k+1
        val thresh = summed.orderBy(F.col("count").desc).limit(k + 1)
          .agg(F.min("count").as("m")).head().getLong(0)
        summed.withColumn("count", F.col("count") - thresh)
          .filter(F.col("count") > 0)
      }
    val seg = s"$path/shard-compact-" +
      java.util.UUID.randomUUID().toString.take(8)
    compacted
      .select(F.lit("compacted").as("shard"), F.col("item"), F.col("count"))
      .coalesce(1).write.parquet(seg)
    commitCompaction(spark, fs, path, seg, old)
  }

  /** Shared compaction plumbing for the stored-sketch family.
    *
    * `liveSegments` lists a store's `shard-*` segment directories via
    * the Hadoop FileSystem API (the same resolution path FROM/Versioned
    * use — java.io.File would silently see an empty store on a
    * non-local base) and partitions out CRASH LEFTOVERS: a
    * `shard-compact-*` segment whose `_covers.txt` manifest names a
    * segment that still exists was written by a compaction that died
    * before its sweep — its counters are already represented by the
    * surviving shards, so summing it would double-count. Leftovers are
    * excluded from the sum but still swept. Returns
    * (fs, allSegments, segmentsToSum). */
  private def liveSegments(spark: org.apache.spark.sql.SparkSession,
                           path: String)
      : (org.apache.hadoop.fs.FileSystem,
         Array[org.apache.hadoop.fs.Path],
         Array[org.apache.hadoop.fs.Path]) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs =
      (if (fs.exists(root)) fs.listStatus(root) else Array.empty)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard-"))
        .map(_.getPath)
    val present = segs.map(_.getName).toSet
    def coveredStillPresent(seg: org.apache.hadoop.fs.Path): Boolean = {
      val m = new org.apache.hadoop.fs.Path(seg, "_covers.txt")
      fs.exists(m) && {
        val in = fs.open(m)
        val text = try {
          new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        } finally in.close()
        text.split("\n").exists(n => n.nonEmpty && present.contains(n))
      }
    }
    val live = segs.filterNot(s =>
      s.getName.startsWith("shard-compact-") && coveredStillPresent(s))
    (fs, segs, live)
  }

  /** Write the covers manifest into the fresh segment, sweep the old
    * segments, and drop their cached file listings. Ordering: manifest
    * before sweep, so a crash at ANY point leaves either (a) a store
    * where the new segment is a detectable leftover (manifest names
    * still-present shards) or (b) a fully swept store. */
  private def commitCompaction(spark: org.apache.spark.sql.SparkSession,
                               fs: org.apache.hadoop.fs.FileSystem,
                               path: String, seg: String,
                               old: Array[org.apache.hadoop.fs.Path]): Unit = {
    val manifest = new org.apache.hadoop.fs.Path(seg, "_covers.txt")
    val out = fs.create(manifest, true)
    try out.write(old.map(_.getName).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    old.foreach(p => fs.delete(p, true))
    // the session's file-status cache may still hold the swept shards'
    // listings; a reader would then schedule tasks against deleted files
    // and burn a retry round on FileNotFound before refreshing
    spark.catalog.refreshByPath(path)
  }

  /** EXACT whole-corpus heavy hitters from the stored shard sketches:
    * a token with global count > N/(k+1) must exceed n_s/(k+1) in at
    * least one shard (pigeonhole over Σn_s = N), so it sits in that
    * shard's sketch — the UNION of shard candidates is a superset of
    * the true heavy hitters, no rescaling needed. One distinct over the
    * ≤ shards·k stored rows, then the same broadcast exact confirm as
    * the in-flight path; `df` must be the corpus the shards were built
    * from for the counts to be exact. */
  def mergedHeavyHitters(df: DataFrame, textCol: String,
                         spark: org.apache.spark.sql.SparkSession,
                         path: String, k: Int): DataFrame = {
    val cand = spark.read.parquet(path)
      .select(F.col("item").as("token")).distinct()
    val t = df.select(
      F.explode(TextAnalysis.tokens(F.col(textCol))).as("token"))
    confirmHeavyHitters(t, cand, k)
  }

  /** Deterministic train/validation/test split assignment — same
    * hash-not-rand() rationale as [[stratifiedSampleByHash]]: a row's
    * split never changes across reruns, backfills or repartitioning, and
    * the md5-based bucket lets a differential oracle replay the exact
    * assignment. Disjoint and exhaustive by construction. Pure narrow
    * projection — no shuffle. */
  def hashSplit(df: DataFrame, idCol: Column,
                trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && validPct >= 0 && trainPct + validPct <= 100)
    val bucket = Dedup.md5Hash60(idCol.cast("string")) % 100
    df.withColumn("split",
      F.when(bucket < trainPct, "train")
        .when(bucket < trainPct + validPct, "validation")
        .otherwise("test"))
  }

  /** Deterministic range-bucket assignment — the building block of a
    * range-partitioned (sorted) export at 100 TB. Spark's own
    * `repartitionByRange` samples a reservoir per run, so identical
    * input can land rows in different partitions across runs; here the
    * boundaries are the EXACT k-quantiles of the key (one sort-based
    * aggregate; k-1 scalars collected — bounded by construction, the
    * ivfCentroids precedent), rounded to 4 dp so a differential oracle
    * computes identical cutpoints, and assignment is a codegen'd
    * comparison chain (`bucket` in [0, k), narrow, no shuffle). Writing
    * `partitionBy("bucket")` after this yields a stable sorted layout. */
  def rangeBuckets(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 2 && k <= 1024, s"k must be in [2, 1024], got $k")
    val probs = (1 until k).map(_.toDouble / k)
    val row = df.agg(F.percentile(key, F.typedLit(probs)).as("_b")).head()
    // percentile over zero rows (empty input, or every key null) yields
    // a null array — fail with a meaningful message, not an NPE
    require(!row.isNullAt(0),
      "rangeBuckets: input has no non-null key values, no quantile " +
      "cutpoints exist (empty DataFrame or all-null key column)")
    val bounds = row.getSeq[Double](0)
      // HALF_UP (away from zero) at 4 dp — matches DuckDB round() on
      // BOTH sign domains (math.round's half-up-toward-+inf diverged
      // for negative keys); sub-ulp engine differences in the
      // interpolated quantile vanish under the rounding. NaN cutpoints
      // (a NaN in the key column poisons percentile) fail here with a
      // named cause, not BigDecimal's opaque NumberFormatException.
      .map { b =>
        require(!b.isNaN && !b.isInfinite,
          "rangeBuckets: quantile cutpoint is not finite — the key " +
          "column contains NaN/Infinity values; filter them upstream")
        BigDecimal(b).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val bucket = bounds.map(b => (key > F.lit(b)).cast("int"))
      .reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** Salted equi-join for skewed keys when NEITHER side broadcasts (two
    * fact tables): the skewed left keeps one row per record with a
    * deterministic salt in [0, salts); the right is replicated `salts`×
    * with every salt value, and the join key becomes (key, salt) — a hot
    * key's rows now land on `salts` different reducers instead of one
    * straggler task. Cost: `salts`× the right side's shuffle volume, so
    * pick the SMALLER side as `right`. Semantically transparent (every
    * left row still meets every matching right row exactly once), which
    * is what the differential oracle checks — the oracle is the UNSALTED
    * join. AQE's runtime skew-join split is the first tool; this is the
    * deterministic fallback when stats mislead AQE or a single key
    * exceeds what task-splitting can fix.
    *
    * `saltCol` must be a deterministic function of the LEFT row (e.g.
    * `F.hash` of a unique id) — `rand()` would break reproducibility. */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 saltCol: Column, salts: Int = 16): DataFrame = {
    // null salt coalesces to bucket 0: a null hash input must not make
    // the row vanish from the join (the contract is the UNSALTED join)
    val l = left.withColumn("_salt_l",
      F.pmod(F.coalesce(saltCol.cast("long"), F.lit(0L)), F.lit(salts.toLong)))
    val r = right.withColumn("_salt_r",
      F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("_salt_l") === r("_salt_r"))
      .drop("_salt_l", "_salt_r")
  }

  /** Write a table hash-BUCKETED (and optionally sorted) on a join key —
    * the layout that makes repeated fact-to-fact joins shuffle-FREE: two
    * tables bucketed on the same key into the same bucket count are
    * already co-partitioned on disk, so a join between them needs no
    * exchange at all (and no sort either, when `sortCols` covers the
    * key). At corpus scale this converts every recurring join/groupBy on
    * the bucket key from a full shuffle of the big table into a
    * partition-local operation — the standard "pay the shuffle once at
    * layout time, never again" trade, same family as the hive-partitioned
    * ANN bucket layout (`Similarity.writeIvfPartitioned`) and the
    * Z-order layout ([[writeZOrdered]]), but aimed at JOIN co-location
    * rather than scan pruning.
    *
    * Bucket metadata lives in the session catalog (`saveAsTable` — plain
    * parquet files plus bucket spec; the in-memory catalog works, no Hive
    * needed), because bucketing is a CONTRACT about file contents that a
    * bare directory read cannot carry: `spark.table(name)` restores it,
    * `spark.read.parquet(path)` would see ordinary parquet. */
  def writeBucketed(df: DataFrame, name: String, path: String,
                    bucketKey: String, buckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    require(!name.contains("`"), s"table name must not contain backticks: $name")
    val spark = df.sparkSession
    // quote PER PART so a qualified name (db.table) targets the same
    // table saveAsTable will parse — backticking the whole string would
    // look up a table literally named "db.table" and miss the stale entry
    val quoted = name.split('.').map(p => s"`$p`").mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $quoted") // stale catalog entry from a
    // prior run would otherwise collide with the fresh path/spec
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path).bucketBy(buckets, bucketKey)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  /** Z-order (Morton) key: bit-interleave two non-negative integral
    * columns (x bits at even positions, y at odd). Sorting by this key
    * clusters rows that are close in BOTH dimensions, so parquet
    * row-group min/max statistics prune 2-D range scans — the standard
    * multi-dimensional layout trick where a single-column sort only ever
    * prunes one dimension. Pure bit arithmetic (codegen'd, engine-
    * portable: a SQL oracle replays it with shifts and masks). */
  def zOrderKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      val xb = F.shiftrightunsigned(x.cast("long"), i).bitwiseAND(F.lit(1L))
      val yb = F.shiftrightunsigned(y.cast("long"), i).bitwiseAND(F.lit(1L))
      F.shiftleft(xb, 2 * i).bitwiseOR(F.shiftleft(yb, 2 * i + 1))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Rewrite a table Z-ordered on two dimensions: range-partition by the
    * Morton key (the sampling exchange balances output files), sort
    * within partitions, drop the key, write parquet. Each output file
    * then covers a tight rectangle in (x, y), which is what row-group
    * pruning needs; the spec measures per-file spans shrinking vs the
    * unsorted layout. The compaction-job shape at any corpus size:
    * one range exchange + local sorts, no driver involvement. */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String, path: String,
                    bits: Int = 16, partitions: Int = 0): Unit = {
    val keyed = df.withColumn("_z", zOrderKey(F.col(xCol), F.col(yCol), bits))
    val ranged =
      if (partitions > 0) keyed.repartitionByRange(partitions, F.col("_z"))
      else keyed.repartitionByRange(F.col("_z"))
    ranged.sortWithinPartitions("_z").drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Temperature-flattened source mixing: keep each row of stratum `s`
    * with probability `min(1, k / sqrt(c_s))` where `c_s` is the stratum
    * row count — so the expected kept volume per stratum is
    * `∝ sqrt(c_s)`, i.e. temperature sampling with α = 0.5 (the standard
    * multilingual/multi-source rebalance: boilerplate mega-sources get
    * downsampled, small sources kept whole) up to the global normalizer,
    * which `k` sets directly in expected-rows units.
    *
    * Scale shape: stratum counts come from a groupBy (map-side partial
    * combine — NOT a window over the stratum, which would shuffle every
    * row of a mega-source into one partition); the counts frame is one
    * row per stratum and broadcasts back. The keep decision is the same
    * engine-portable md5 threshold as [[stratifiedSampleByHash]]
    * (reproducible, partition-invariant, oracle-replayable; `sqrt`,
    * `least`, `floor` are all exactly-rounded IEEE ops, so another
    * engine computes the identical threshold). Cost: one extra
    * aggregation pass over the stratum column only. */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: Column,
                        k: Double = 4.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = df.groupBy(groupCol).agg(F.count(F.lit(1)).as("_c"))
    val thresh = counts.select(F.col(groupCol),
      F.floor(F.lit(1000000.0) *
        F.least(F.lit(1.0), F.lit(k) / F.sqrt(F.col("_c").cast("double"))))
        .as("_thresh"))
    df.join(F.broadcast(thresh), Seq(groupCol))
      .filter(Dedup.md5Hash60(idCol.cast("string")) % 1000000 < F.col("_thresh"))
      .drop("_thresh")
  }

  /** Deterministic global shuffle order (training-order randomization):
    * every row gets a dense rank in engine-portable md5-hash order — the
    * "shuffle the corpus once, reproducibly" step before packing/sharding.
    * Same hash-not-`rand()` rationale as [[hashSplit]]: the order never
    * changes across reruns or repartitionings, and an oracle replays it
    * as `row_number() OVER (ORDER BY md5hash, id)`.
    *
    * Scale shape: the naive spec is ONE global `row_number` window — a
    * single-task total sort at corpus scale. Instead, the same two-level
    * decomposition as [[Pack.concatChunk]]: the hash space is split into
    * `buckets` equal ranges (range identity comes free from the hash's
    * high bits — no range-sampling pass), each bucket ranks its rows in
    * parallel, and bucket COUNTS — `buckets` narrow rows — get the only
    * sequential window, broadcast back as offsets. Collisionless ties
    * break on the id, so the rank is a permutation regardless of hash
    * collisions. */
  def shuffleRank(df: DataFrame, idCol: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 1 && buckets <= (1 << 20),
      s"buckets must be in [1, 2^20], got $buckets")
    import org.apache.spark.sql.expressions.Window
    val span = (1L << 60) / buckets // md5Hash60 < 2^60: bucket == hash range
    val keyed = df
      .withColumn("_h", Dedup.md5Hash60(idCol.cast("string")))
      .withColumn("_b", F.expr(s"_h div $span")) // big literal parses as BIGINT
    val wLocal = Window.partitionBy("_b").orderBy(F.col("_h"), idCol)
    val counts = keyed.groupBy("_b").agg(F.count(F.lit(1)).as("_n"))
    val wBucket = Window.orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_off", F.coalesce(F.sum("_n").over(wBucket), F.lit(0L)))
      .select("_b", "_off")
    keyed.join(F.broadcast(offsets), "_b")
      .withColumn("shuffle_rank",
        F.col("_off") + F.row_number().over(wLocal).cast("long") - 1L)
      .drop("_h", "_b", "_off")
  }

  private def expr(how: String, c: String): Column = how match {
    case "sum"   => F.sum(c)
    case "count" => F.count(F.lit(1))
    case "min"   => F.min(c)
    case "max"   => F.max(c)
    case other   => throw new IllegalArgumentException(s"Unsupported agg: $other")
  }
}
