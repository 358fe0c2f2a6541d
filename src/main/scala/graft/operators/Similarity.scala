package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * Scale design: the brute-force path is a single narrow map + top-k
  * (`TakeOrderedAndProject` — partial top-k per partition, k rows to the
  * driver-side merge, never a full sort). The scale path prunes with an
  * IVF-style bucket assignment so each query probes a fraction of the
  * corpus; both paths are pure column expressions inside codegen.
  */
object Similarity {

  /** Dot product of two numeric arrays via zip_with + aggregate —
    * codegen'd, no UDF. Inputs are cast to double so accumulation is
    * double-precision regardless of storage type (float32 embeddings). */
  def dot(a: Column, b: Column): Column =
    F.aggregate(
      F.zip_with(a, b, (x: Column, y: Column) => x.cast("double") * y.cast("double")),
      F.lit(0.0),
      (acc: Column, x: Column) => acc + x)

  def norm(a: Column): Column = F.sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    F.when(d === 0, F.lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Native fused-loop cosine ([[graft.functions.VectorExpressions]]) —
    * bit-identical to [[cosine]] but a single codegen'd primitive loop
    * with no array allocation. Requires the session to be built with
    * [[graft.functions.GraftExtensions]]. */
  def cosineNative(a: Column, b: Column): Column =
    F.call_function("vec_cosine_f32", a, b)

  /** Native dot product; see [[cosineNative]]. */
  def dotNative(a: Column, b: Column): Column =
    F.call_function("vec_dot_f32", a, b)

  /** Exact top-k by cosine against one literal query vector.
    *
    * Ties broken by id ascending so results are deterministic. The plan
    * is scan → project(score) → TakeOrderedAndProject: per-partition
    * heap top-k then a k-row merge — the right shape at any corpus size
    * (no global sort, no shuffle of non-candidates).
    */
  def topKByCosine(df: DataFrame, vecCol: String, idCol: String,
                   query: Seq[Double], k: Int): DataFrame = {
    val q = F.array(query.map(F.lit): _*)
    df.select(F.col(idCol), cosineNative(F.col(vecCol), q).as("score"))
      .orderBy(F.col("score").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** TRUNCATED-DIMENSION ANN prefilter (the Matryoshka-style serving
    * trick): score every candidate on only the first `dPrefix`
    * dimensions — a dPrefix/dim fraction of the arithmetic and, in a
    * dimension-major storage layout, of the bytes read — keep the top
    * `pool` by truncated cosine, then exact full-dimension cosine
    * re-ranks the pool to top-k. With embeddings trained front-loaded
    * (Matryoshka representation learning), the truncated order is a
    * high-recall proxy and `pool` ≫ k absorbs the inversions; unlike
    * PQ/SQ the prefilter needs NO trained artifact, so it serves any
    * fresh corpus version immediately. Both stages are bounded
    * TakeOrderedAndProject top-k merges (never a global sort); ties
    * break on the id like every serving path here. Returns
    * (idCol, score@6dp) — the same shape as [[topKByCosine]], so
    * [[recallAtK]] evaluates it directly. */
  def topKTruncatedRefine(df: DataFrame, vecCol: String, idCol: String,
                          query: Seq[Double], k: Int, dPrefix: Int,
                          pool: Int): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got k=$k pool=$pool")
    require(dPrefix >= 1 && dPrefix <= query.length,
      s"dPrefix must be in [1, ${query.length}], got $dPrefix")
    val qPre = F.array(query.take(dPrefix).map(F.lit): _*)
    val qFull = F.array(query.map(F.lit): _*)
    val candidates = df
      .select(F.col(idCol), F.col(vecCol),
        cosine(F.slice(F.col(vecCol), 1, dPrefix), qPre).as("_pre"))
      .orderBy(F.col("_pre").desc, F.col(idCol).asc)
      .limit(pool)
    candidates
      .select(F.col(idCol), cosine(F.col(vecCol), qFull).as("_score"))
      .orderBy(F.col("_score").desc, F.col(idCol).asc)
      .limit(k)
      .select(F.col(idCol), F.round(F.col("_score"), 6).as("score"))
  }

  /** Per-dimension [min, max] of a vector column — the SCALAR
    * QUANTIZATION training pass ([[sqCodes]]). One dim-keyed aggregation
    * (map-side combinable); only 2·dim doubles reach the driver, the
    * [[trainCentroids]] bounded-collect precedent. */
  def sqMinMax(df: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val rows = df
      .select(F.posexplode(F.col(vecCol).cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(F.min("x").as("mn"), F.max("x").as("mx"))
      .orderBy("dim")
      .collect()
    (rows.map(_.getAs[Double]("mn")).toSeq, rows.map(_.getAs[Double]("mx")).toSeq)
  }

  /** Scalar-quantization codes: per-dimension affine map to the 0..255
    * grid, `round((x - min_d) * 255 / (max_d - min_d))` (constant
    * dimensions code to 0) — 1 byte/dim vs 4 for a float, the simplest
    * of the compression tiers (SQ here, PQ/[[pqCodes]], IVF-PQ). A
    * corpus value never leaves [0, 255]: min/max came from the same
    * data. */
  def sqCodes(vec: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    require(mins.length == maxs.length && mins.nonEmpty, "empty SQ params")
    val mnL = F.array(mins.map(F.lit): _*)
    val mxL = F.array(maxs.map(F.lit): _*)
    F.transform(vec.cast("array<double>"), (x: Column, i: Column) => {
      val mn = F.element_at(mnL, i + 1)
      val rng = F.element_at(mxL, i + 1) - mn
      F.when(rng > 0, F.round((x - mn) * 255.0 / rng).cast("int"))
        .otherwise(F.lit(0))
    })
  }

  /** Top-k under scalar quantization by INTEGER dot product: both the
    * corpus and the query quantize with the shared [[sqMinMax]] params,
    * and the score is `Σ code_d · qcode_d` — pure int64 arithmetic, so
    * the ranking is EXACTLY reproducible on any engine (the gate hashes
    * integer scores, no float-summation ulps anywhere). This is the
    * classic SQ serving trade: 4× smaller vectors, one multiply-add per
    * dimension over ints, recall measured against the exact path with
    * [[recallAtK]]. Scale shape: pure narrow map + bounded top-k
    * (`TakeOrderedAndProject`), no shuffle. */
  def sqTopKInt(df: DataFrame, vecCol: String, idCol: String,
                query: Seq[Double], mins: Seq[Double], maxs: Seq[Double],
                k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(query.length == mins.length, "query/params dimension mismatch")
    // the query's codes, computed driver-side with the IDENTICAL
    // arithmetic the executor applies to corpus rows (double ops, then
    // HALF_UP — what F.round compiles to; values are >= 0 here, where
    // HALF_UP and round-half-away agree)
    val qc = query.indices.map { i =>
      val rng = maxs(i) - mins(i)
      if (rng > 0)
        BigDecimal((query(i) - mins(i)) * 255.0 / rng)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      else 0L
    }
    val qcL = F.array(qc.map(F.lit): _*)
    val score = F.aggregate(
      F.zip_with(sqCodes(F.col(vecCol), mins, maxs), qcL,
        (c: Column, q: Column) => c.cast("long") * q),
      F.lit(0L), (acc: Column, t: Column) => acc + t)
    df.select(F.col(idCol), score.as("score_int"))
      .orderBy(F.col("score_int").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** Persist the IVF-partitioned SQ-codes serving layout: (id, codes)
    * hive-partitioned by IVF bucket — the scalar-quantization member of
    * the stored-index family ([[writeIvfPqCodes]] stores PQ codes the
    * same way). A query then partition-prunes to its `nprobe` buckets
    * AND reads only the codes column (vector-free I/O), scoring by the
    * exact-integer dot of [[sqTopKInt]]. */
  def writeIvfSqCodes(df: DataFrame, vecCol: String, idCol: String,
                      centroids: Seq[Seq[Double]],
                      mins: Seq[Double], maxs: Seq[Double],
                      path: String): Unit =
    df.withColumn("bucket", ivfBucket(F.col(vecCol), centroids))
      .select(F.col(idCol), F.col("bucket"),
        sqCodes(F.col(vecCol), mins, maxs).as("codes"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  /** Top-k over a [[writeIvfSqCodes]] layout: bucket predicate →
    * partition pruning, then the int64 code-dot scan — no vector
    * arithmetic, no vector I/O, zero float ulps (the ranking replays
    * exactly on any engine). Result equals [[sqTopKInt]] restricted to
    * the probed buckets. */
  def sqTopKFromCodes(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, query: Seq[Double],
                      centroids: Seq[Seq[Double]],
                      mins: Seq[Double], maxs: Seq[Double],
                      k: Int, nprobe: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val queryBuckets = probeBuckets(query, centroids, nprobe)
    val qc = query.indices.map { i =>
      val rng = maxs(i) - mins(i)
      if (rng > 0)
        BigDecimal((query(i) - mins(i)) * 255.0 / rng)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      else 0L
    }
    val qcL = F.array(qc.map(F.lit): _*)
    val score = F.aggregate(
      F.zip_with(F.col("codes"), qcL, (c: Column, q: Column) => c.cast("long") * q),
      F.lit(0L), (acc: Column, t: Column) => acc + t)
    spark.read.parquet(path)
      .filter(F.col("bucket").isin(queryBuckets: _*)) // storage-level prune
      .select(F.col(idCol), score.as("score_int"))
      .orderBy(F.col("score_int").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** Index-quality metric: RECALL of an approximate top-k result against
    * the exact top-k for the same query — the number a serving team
    * watches while tuning nprobe / codebook size / bucket counts (an
    * index whose recall silently degraded is worse than a slow one).
    * Both inputs are k-row frames, so the evaluation is a tiny semi
    * join + count — run it per tuning sweep point, or sampled in
    * production as a canary. Returns one row (n_matched, recall). */
  def recallAtK(approx: DataFrame, exact: DataFrame, idCol: String,
                k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    approx.select(F.col(idCol))
      .join(exact.select(F.col(idCol)), Seq(idCol), "left_semi")
      .agg(F.count(F.lit(1)).as("n_matched"))
      .select(F.col("n_matched"),
        F.round(F.col("n_matched") / k.toDouble, 6).as("recall"))
  }

  /** Top-k per probe vector for a (small) probe set: broadcast the probes,
    * score the cross product, keep k per probe with the native bounded-heap
    * aggregate `topk_pairs` ([[graft.functions.TopKPairsAgg]]). Partial
    * aggregation keeps an O(k) heap per probe per task, so only k rows per
    * probe per partition reach the shuffle — the scored corpus is never
    * globally sorted (a `row_number` window here would sort every scored
    * row inside one partition per probe: a straggler at 100 TB). Probe
    * side must be broadcastable (typical: a query batch); corpus streams. */
  def topKPerProbe(corpus: DataFrame, vecCol: String, idCol: String,
                   probes: DataFrame, probeVecCol: String, probeIdCol: String,
                   k: Int): DataFrame = {
    perProbeTopK(corpus.crossJoin(F.broadcast(probes))
      .select(
        F.col(probeIdCol).as("probe_id"),
        F.col(idCol).as("id"),
        cosineNative(F.col(vecCol), F.col(probeVecCol)).as("score")), k)
  }

  /** ANN JOIN — top-k corpus neighbors for EVERY row of a probe TABLE,
    * IVF-pruned: the batch-retrieval shape (hard-negative mining, eval
    * retrieval, cross-corpus semantic matching) at corpus scale.
    * [[topKPerProbe]] scores ALL pairs through a broadcast cross join —
    * right when probes are few; here each probe explodes to its
    * `nprobe` nearest cells and meets the corpus in a bucket EQUI-join,
    * so scored pairs shrink by ~cells/nprobe and there is no cross join
    * anywhere. Per probe, results equal [[topKIvf]] with that probe's
    * vector (same assignment, same probe-bucket ranking — ties to the
    * lower centroid index, matching [[probeBuckets]]).
    *
    * Scale shape: both sides are narrow maps feeding one hash exchange
    * on `bucket`; the per-probe top-k runs through the bounded-heap
    * `topk_pairs` aggregate (O(k) state per probe per task), never a
    * window sort. */
  def topKPerProbeIvf(corpus: DataFrame, vecCol: String, idCol: String,
                      probes: DataFrame, probeVecCol: String,
                      probeIdCol: String, centroids: Seq[Seq[Double]],
                      k: Int, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe must be in [1, ${centroids.length}], got $nprobe")
    val cb = corpus.select(F.col(idCol).as("id"), F.col(vecCol).as("_cv"),
      ivfBucket(F.col(vecCol), centroids).as("bucket"))
    // per-probe nprobe best cells: sort (−dot, index) ascending — dot
    // descending, ties to the LOWER index, the probeBuckets contract
    val ranked = F.array(centroids.zipWithIndex.map { case (c, i) =>
      F.struct((-dot(F.col(probeVecCol), F.array(c.map(F.lit): _*))).as("nd"),
        F.lit(i).as("i"))
    }: _*)
    val pb = probes.select(F.col(probeIdCol).as("probe_id"),
      F.col(probeVecCol).as("_pv"),
      F.explode(F.transform(
        F.slice(F.array_sort(ranked), 1, nprobe),
        (s: Column) => s.getField("i"))).as("bucket"))
    perProbeTopK(pb.join(cb, "bucket")
      .select(F.col("probe_id"), F.col("id"),
        cosineNative(F.col("_cv"), F.col("_pv")).as("score")), k)
  }

  /** Per-probe bounded top-k tail shared by [[topKPerProbe]] and
    * [[topKPerProbeIvf]]: the `topk_pairs` heap aggregate. */
  private def perProbeTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("probe_id")
      .agg(F.call_function("topk_pairs",
        F.col("score"), F.col("id"), F.lit(k)).as("top"))
      .select(F.col("probe_id"), F.explode(F.col("top")).as("t"))
      .select(F.col("probe_id"), F.col("t.id").as("id"),
              F.col("t.score").as("score"))

  /** IVF-style bucket id: nearest of `centroids` by dot product.
    * Centroids are literal arrays (trained offline / sampled), so
    * assignment is a per-row expression — no shuffle, no broadcast state.
    */
  def ivfBucket(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      F.struct(dot(vec, F.array(c.map(F.lit): _*)).as("s"), F.lit(i).as("i"))
    }
    // argmax via greatest on (score, index) structs — field-order
    // comparison means score ties break to the HIGHER index (the
    // direction the DuckDB oracles and the tie spec assert; note
    // probeBuckets' top-nprobe ordering ties to the LOWER index — the
    // probe/assignment asymmetry is deliberate and pinned)
    F.greatest(scored: _*).getField("i")
  }

  /** SEMANTIC DEDUPLICATION groups (SemDeDup-style): assign every
    * embedding to its IVF cell (max-dot argmax over literal centroids —
    * replayable), flag within-cell pairs whose ROUNDED cosine clears
    * `threshold`, and group flagged ids by connected components
    * (min-id representative — the kept exemplar; the keep-list is the
    * corpus minus ids with `id != cluster`). The embedding analog of
    * [[graft.operators.Dedup.minhashLsh]]+clusters for paraphrase-level
    * duplication lexical dedup can't see.
    *
    * Scale shape: assignment is a narrow codegen'd map; pairs explode
    * only within cells capped at [2, maxCell] (a mega-cell means a
    * degenerate embedding region — cap it, don't join it); the cosine
    * verify joins vectors back by id onto the bounded candidate set;
    * components run on the flagged pairs only. */
  def semanticDupGroups(df: DataFrame, vecCol: String, idCol: String,
                        centroids: Seq[Seq[Double]], threshold: Double,
                        maxCell: Int = 4096): DataFrame = {
    // STAGED once: `base` (the scan + the k·dim dot-product bucket
    // assignment — the operator's dominant narrow compute) feeds the
    // pair spine AND both verify sides; Catalyst does not dedupe
    // common subplans (the minhashLsh precedent), so the unstaged form
    // scanned and re-assigned the corpus three times. Lazy like the
    // minhashLsh pairs staging: the bucket aggregation materializes
    // the blocks as a side effect of the final action.
    val base = df.select(F.col(idCol).as("id"), F.col(vecCol).as("v"),
        ivfBucket(F.col(vecCol), centroids).as("bucket"))
      .localCheckpoint(false)
    val pairs = graft.operators.Dedup.cappedBucketPairs(
      base.select("bucket", "id"), Seq("bucket"), maxCell)
    val va = base.select(F.col("id").as("id_a"), F.col("v").as("_va"))
    val vb = base.select(F.col("id").as("id_b"), F.col("v").as("_vb"))
    val flagged = pairs.join(va, "id_a").join(vb, "id_b")
      .withColumn("_cos", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
      .filter(F.col("_cos") >= threshold)
      .select("id_a", "id_b")
    graft.operators.Dedup.clusters(flagged)
  }

  /** EMBEDDING-SPACE OUTLIER filter — the curation pass that drops
    * off-manifold embeddings (garbage docs, decode failures, mislabeled
    * modalities) before semantic dedup or ANN indexing: each vector's
    * affinity is its best centroid dot product (its IVF assignment
    * score), and vectors whose ROUNDED affinity falls below the exact
    * corpus `quantile` are flagged. Returns the flagged rows as
    * (idCol, bucket, affinity).
    *
    * Scale shape: assignment + affinity is one narrow codegen'd map;
    * the cutoff is ONE exact-percentile aggregate collecting a single
    * scalar (the [[graft.operators.Scale.rangeBuckets]] precedent),
    * inlined as a literal into the filter — the corpus itself never
    * shuffles. Deterministic: affinity is rounded to 6 decimals BEFORE
    * the quantile, so identical input cuts identically on any
    * partitioning, and a differential oracle replays the whole pipeline
    * (`quantile_cont` uses the same rank interpolation). */
  def embeddingOutliers(df: DataFrame, vecCol: String, idCol: String,
                        centroids: Seq[Seq[Double]],
                        quantile: Double = 0.05): DataFrame = {
    require(quantile > 0 && quantile < 1,
      s"quantile must be in (0, 1), got $quantile")
    val dots = centroids.map(c => dot(F.col(vecCol), F.array(c.map(F.lit): _*)))
    val scored = df.select(F.col(idCol),
      ivfBucket(F.col(vecCol), centroids).as("bucket"),
      F.round(F.greatest(dots: _*), 6).as("affinity"))
    val row = scored.agg(
      F.percentile(F.col("affinity"), F.lit(quantile)).as("_thr")).head()
    require(!row.isNullAt(0),
      "embeddingOutliers: empty input (or all-null vectors) — no quantile")
    scored.filter(F.col("affinity") < F.lit(row.getDouble(0)))
  }

  /** The query's `nprobe` closest centroids by dot product (driver-side
    * over literal centroids; ties keep the lower index — stable sort). */
  def probeBuckets(query: Seq[Double], centroids: Seq[Seq[Double]],
                   nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (c.zip(query).map { case (x, y) => x * y }.sum, i) }
      .sortBy(-_._1).take(nprobe).map(_._2)

  /** ANN top-k with IVF pruning: score only the corpus rows whose bucket
    * matches one of the query's `nprobe` best buckets. At 100 TB, write
    * the corpus partitioned by `bucket` ([[writeIvfBucketed]]) so this
    * becomes partition pruning at the parquet-scan level
    * ([[topKIvfBucketed]]). Falls back to exact within the probed buckets.
    */
  def topKIvf(df: DataFrame, vecCol: String, idCol: String,
              query: Seq[Double], centroids: Seq[Seq[Double]],
              k: Int, nprobe: Int = 2): DataFrame = {
    val q = F.array(query.map(F.lit): _*)
    pruneToProbed(df, vecCol, query, centroids, nprobe)
      .select(F.col(idCol), cosine(F.col(vecCol), q).as("score"))
      .orderBy(F.col("score").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** The IVF prune shared by [[topKIvf]] and [[pqTopKIvf]]: keep only
    * rows assigned to the query's `nprobe` nearest cells. One place, so
    * the bucket-assignment contract (which the DuckDB oracles replay)
    * cannot drift between the raw and compressed serving paths. */
  private def pruneToProbed(df: DataFrame, vecCol: String, query: Seq[Double],
                            centroids: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    val queryBuckets = probeBuckets(query, centroids, nprobe)
    df.withColumn("bucket", ivfBucket(F.col(vecCol), centroids))
      .filter(F.col("bucket").isin(queryBuckets: _*))
  }

  /** Squared L2 distance of two numeric arrays — the PQ metric. Fold is
    * element-order left-to-right in double precision, so a differential
    * oracle replays it bit-for-bit. */
  def sqDist(a: Column, b: Column): Column =
    F.aggregate(
      F.zip_with(a, b, (x: Column, y: Column) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      F.lit(0.0),
      (acc: Column, x: Column) => acc + x)

  /** PRODUCT-QUANTIZATION codes of a vector (Jégou et al., FAISS-style):
    * split the vector into `m` contiguous subspaces and store, per
    * subspace, the index of the nearest codebook entry by squared L2
    * (ties → lowest index — note the DIFFERENT tie direction from
    * [[ivfBucket]]'s argmax, which breaks score ties to the HIGHER
    * index; both directions are pinned by their oracles). A 64-dim
    * float vector (256 bytes) compresses to
    * `m` small ints — the memory trick that lets an ANN index hold
    * billions of vectors. Codebooks are literals (train offline or via
    * [[trainCentroids]] per subspace), so encoding is a pure narrow map
    * in codegen — the same zero-state scale shape as [[ivfBucket]]. */
  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val subdim = codebooks.head.head.length
    // ragged codebooks would mis-slice silently; check the shape loudly
    require(codebooks.forall(cb => cb.nonEmpty && cb.forall(_.length == subdim)),
      "pqCodes: every codebook entry must have the same sub-dimension")
    // the native tight-loop expression: the composable tree
    // ([[pqCodesComposable]]) is thousands of nodes at realistic (m, k)
    // and falls out of WholeStageCodegen — see PqCodesExpr's scaladoc.
    // The codebooks travel to the builder as a foldable nested-array
    // literal and are unpacked into expression state at resolution time.
    val cbLit = F.array(codebooks.map(cb =>
      F.array(cb.map(c => F.array(c.map(F.lit): _*)): _*)): _*)
    F.call_function("pq_codes", vec.cast("array<double>"), cbLit)
  }

  /** The composable-expression twin of [[pqCodes]] — same codes
    * bit-for-bit (parity-spec'd); kept as the reference implementation
    * the native encoder is checked against. */
  def pqCodesComposable(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val subdim = codebooks.head.head.length
    val codes = F.array(codebooks.zipWithIndex.map { case (cb, s) =>
      val sub = F.slice(vec.cast("array<double>"), s * subdim + 1, subdim)
      F.least(cb.zipWithIndex.map { case (c, i) =>
        F.struct(sqDist(sub, F.array(c.map(F.lit): _*)).as("d"), F.lit(i).as("i"))
      }: _*).getField("i")
    }: _*)
    // a short vector would slice to nulls, sqDist → null, and the
    // struct-least would deterministically pick code 0 per subspace —
    // a plausible-looking distance built from garbage. Fail the row
    // loudly instead (the native path throws the equivalent error).
    val dim = codebooks.length * subdim
    F.when(F.size(vec) === dim, codes).otherwise(F.raise_error(F.concat(
      F.lit(s"pqCodes: vector of length "), F.size(vec).cast("string"),
      F.lit(s" does not match m*subdim = $dim"))))
  }

  /** ANN top-k by ASYMMETRIC DISTANCE COMPUTATION over PQ codes: the
    * query builds an `m × k` lookup table of exact sub-distances
    * driver-side (m·k doubles — bounded), and every corpus vector's
    * approximate distance is `m` table lookups summed in subspace order
    * — no per-row float arithmetic at all, the classic PQ serving scan.
    * Encoding happens in-flight here; at corpus scale store
    * `pqCodes(...)` once and scan the codes column (≥ 30× less I/O than
    * raw vectors). Returns (id, dist) ascending, ties by id — fully
    * deterministic, so a differential oracle replays the exact k-set. */
  def pqTopKAdc(df: DataFrame, vecCol: String, idCol: String,
                query: Seq[Double], codebooks: Seq[Seq[Seq[Double]]],
                k: Int): DataFrame = {
    // native pq_adc consumes the codes child ONCE, so no let binding is
    // needed and the projection stays inside WholeStageCodegen
    val dist = adcNative(pqCodes(F.col(vecCol), codebooks),
      adcLut(query, codebooks))
    df.select(F.col(idCol), dist.as("dist"))
      .orderBy(F.col("dist").asc, F.col(idCol).asc)
      .limit(k)
  }

  /** The native ADC expression over a codes column (lut as expression
    * state — see [[graft.functions.PqAdcExpr]]). */
  private def adcNative(codes: Column, lut: Seq[Seq[Double]]): Column =
    F.call_function("pq_adc", codes,
      F.array(lut.map(row => F.array(row.map(F.lit): _*)): _*))

  /** The query's exact sub-distance lookup table: lut(s)(c) =
    * ‖q_sub(s) − codebook(s)(c)‖², computed driver-side (m·k doubles —
    * bounded) in ascending element order so the oracle's replay is
    * bit-identical. */
  private def adcLut(query: Seq[Double],
                     codebooks: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] = {
    val m = codebooks.length
    val subdim = codebooks.head.head.length
    require(query.length == m * subdim,
      s"query dim ${query.length} != m*subdim ${m * subdim}")
    codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map { code =>
        var acc = 0.0
        var j = 0
        while (j < subdim) {
          val d = query(s * subdim + j) - code(j); acc += d * d; j += 1
        }
        acc
      }
    }
  }

  /** The PQ SERVING LAYOUT: encode once, store (id, codes) partitioned
    * by IVF bucket. A query then touches nprobe/n of the partitions
    * (storage-level pruning, like [[writeIvfBucketed]]) and reads ONLY
    * the codes column — for 64-dim float vectors that is ~16× less I/O
    * per row before pruning even starts. This is how an index holds
    * billions of vectors: raw embeddings never travel at query time. */
  def writeIvfPqCodes(df: DataFrame, vecCol: String, idCol: String,
                      centroids: Seq[Seq[Double]],
                      codebooks: Seq[Seq[Seq[Double]]], path: String): Unit =
    df.withColumn("bucket", ivfBucket(F.col(vecCol), centroids))
      .select(F.col(idCol), F.col("bucket"),
        pqCodes(F.col(vecCol), codebooks).as("codes"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  /** Top-k over a [[writeIvfPqCodes]] layout: bucket predicate →
    * partition pruning, then the ADC scan over stored codes — no vector
    * arithmetic, no vector I/O. Same result as [[pqTopKIvf]] (one
    * oracle gates both). */
  def pqTopKFromCodes(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, query: Seq[Double],
                      centroids: Seq[Seq[Double]],
                      codebooks: Seq[Seq[Seq[Double]]],
                      k: Int, nprobe: Int = 2): DataFrame = {
    val queryBuckets = probeBuckets(query, centroids, nprobe)
    val dist = adcNative(F.col("codes"), adcLut(query, codebooks))
    spark.read.parquet(path)
      .filter(F.col("bucket").isin(queryBuckets: _*))
      .select(F.col(idCol), dist.as("dist"))
      .orderBy(F.col("dist").asc, F.col(idCol).asc)
      .limit(k)
  }

  /** IVF-PQ: the standard production ANN serving config — IVF bucket
    * pruning cuts the corpus to the query's `nprobe` nearest cells, and
    * the survivors are scanned by PQ asymmetric distance
    * ([[pqTopKAdc]]) instead of raw-vector math. At 100 TB: store codes
    * partitioned by bucket ([[writeIvfBucketed]] on the coded frame) and
    * the query touches nprobe/n of the corpus at ~1/30th the bytes per
    * row. Composition of the two literal-driven expressions — still a
    * pure narrow scan, zero state. */
  def pqTopKIvf(df: DataFrame, vecCol: String, idCol: String,
                query: Seq[Double], centroids: Seq[Seq[Double]],
                codebooks: Seq[Seq[Seq[Double]]], k: Int,
                nprobe: Int = 2): DataFrame =
    pqTopKAdc(pruneToProbed(df, vecCol, query, centroids, nprobe),
      vecCol, idCol, query, codebooks, k)

  /** IVF-PQ with EXACT RE-RANK — the standard serving refinement
    * (FAISS's refine stage): ADC over the probed cells selects `rerank`
    * candidates from the COMPRESSED codes (k-NN recall is limited only
    * by whether the true neighbors make this pool), then the exact
    * squared-L2 re-rank reads full vectors for ONLY those candidates
    * and returns the final top-k. Closes most of PQ's recall gap at the
    * cost of `rerank` full-vector distance evaluations per query.
    *
    * Scale shape: the candidate pool is `rerank` rows (bounded,
    * broadcast), so the full-vector pass is a semi-joined scan of
    * `rerank` rows — at 100 TB the heavy work stays on codes; raw
    * vectors are touched O(rerank) per query. Ties at both stages break
    * by ascending id (the oracle's rule). */
  def pqTopKIvfRefine(df: DataFrame, vecCol: String, idCol: String,
                      query: Seq[Double], centroids: Seq[Seq[Double]],
                      codebooks: Seq[Seq[Seq[Double]]], k: Int,
                      nprobe: Int = 2, rerank: Int = 50): DataFrame = {
    require(rerank >= k, s"rerank pool ($rerank) must be >= k ($k)")
    val cands = pqTopKIvf(df, vecCol, idCol, query, centroids, codebooks,
      k = rerank, nprobe).select(F.col(idCol))
    val qLit = F.array(query.map(F.lit): _*)
    df.join(F.broadcast(cands), Seq(idCol))
      .select(F.col(idCol), sqDist(F.col(vecCol), qLit).as("dist"))
      .orderBy(F.col("dist").asc, F.col(idCol).asc)
      .limit(k)
  }

  /** [[pqTopKIvfRefine]] over the STORED serving layout: the ADC
    * candidate pool comes from the bucket-partitioned codes table
    * ([[writeIvfPqCodes]] — partition-pruned, codes-only ReadSchema, no
    * vector I/O), and only the `rerank` winners' FULL vectors are then
    * read from the raw table for the exact squared-L2 re-rank. This is
    * the complete production configuration: the corpus is touched as
    * nprobe/n compressed partitions plus O(rerank) raw-vector lookups
    * per query, and the layout must be result-transparent (same answer
    * as the in-flight [[pqTopKIvfRefine]] — the q124 contract). */
  def pqTopKFromCodesRefine(spark: org.apache.spark.sql.SparkSession,
                            codesPath: String, vectors: DataFrame,
                            vecCol: String, idCol: String,
                            query: Seq[Double], centroids: Seq[Seq[Double]],
                            codebooks: Seq[Seq[Seq[Double]]], k: Int,
                            nprobe: Int = 2, rerank: Int = 50): DataFrame = {
    require(rerank >= k, s"rerank pool ($rerank) must be >= k ($k)")
    val cands = pqTopKFromCodes(spark, codesPath, idCol, query, centroids,
      codebooks, k = rerank, nprobe).select(F.col(idCol))
    val qLit = F.array(query.map(F.lit): _*)
    vectors.join(F.broadcast(cands), Seq(idCol))
      .select(F.col(idCol), sqDist(F.col(vecCol), qLit).as("dist"))
      .orderBy(F.col("dist").asc, F.col(idCol).asc)
      .limit(k)
  }

  /** In-engine k-means training for IVF centroids — replaces the "trained
    * offline" assumption with a distributed Lloyd's iteration:
    * assignment is the same per-row [[ivfBucket]] expression the serving
    * path uses (centroids as literals — zero broadcast state), and the
    * per-bucket mean is ONE map-side-combinable aggregation over
    * (bucket, position) after posexplode — shuffle rows are (bucket, pos,
    * partial sum), k·dim per partition, regardless of corpus size. Only
    * k·dim aggregated rows ever reach the driver per iteration, so the
    * same loop runs unchanged against 100 TB.
    *
    * Deterministic: init is the k lowest-`idCol` vectors, iteration count
    * is fixed, empty buckets keep their previous centroid. */
  def trainCentroids(df: DataFrame, vecCol: String, idCol: String, k: Int,
                     iters: Int = 5): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = df.orderBy(F.col(idCol)).limit(k)
      .select(F.col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to iters) {
      val means = df
        .withColumn("bucket", ivfBucket(F.col(vecCol), cents))
        .select(F.col("bucket"),
          F.posexplode(F.col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("bucket", "pos")
        .agg(F.avg("x").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .view.mapValues(rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        .toMap
      cents = cents.zipWithIndex.map { case (old, b) => means.getOrElse(b, old) }
    }
    cents
  }

  /** Stage a corpus hive-partitioned by IVF bucket: the one-time layout
    * investment that turns every subsequent ANN query's bucket filter
    * into partition PRUNING — probed buckets' files are the only files
    * listed, opened or read. This is the 100 TB serving path: nprobe/n of
    * the corpus touched per query, enforced by the storage layout rather
    * than a runtime filter. */
  def writeIvfBucketed(df: DataFrame, vecCol: String,
                       centroids: Seq[Seq[Double]], path: String): Unit =
    df.withColumn("bucket", ivfBucket(F.col(vecCol), centroids))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  /** Exact top-k within the probed buckets of a [[writeIvfBucketed]]
    * corpus, on the active session — the signature-consistent sibling of
    * the other ANN entry points (none takes an explicit session). */
  def topKIvfBucketed(path: String, vecCol: String, idCol: String,
                      query: Seq[Double], centroids: Seq[Seq[Double]],
                      k: Int, nprobe: Int): DataFrame =
    topKIvfBucketed(org.apache.spark.sql.SparkSession.active, path,
      vecCol, idCol, query, centroids, k, nprobe)

  /** Exact top-k within the probed buckets of a [[writeIvfBucketed]]
    * corpus. The `bucket` predicate matches only partition directories
    * (check the scan's `PartitionFilters` — non-probed buckets are never
    * read), and the scan itself prunes to (id, vec) columns. */
  def topKIvfBucketed(spark: org.apache.spark.sql.SparkSession, path: String,
                      vecCol: String, idCol: String,
                      query: Seq[Double], centroids: Seq[Seq[Double]],
                      k: Int, nprobe: Int = 2): DataFrame = {
    val queryBuckets = probeBuckets(query, centroids, nprobe)
    val q = F.array(query.map(F.lit): _*)
    spark.read.parquet(path)
      .filter(F.col("bucket").isin(queryBuckets: _*))
      .select(F.col(idCol), cosine(F.col(vecCol), q).as("score"))
      .orderBy(F.col("score").desc, F.col(idCol).asc)
      .limit(k)
  }
}
