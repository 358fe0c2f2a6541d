package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.graft.ExprColumn

import graft.functions.{NgramDropExpr, SpanDropExpr}
import graft.functions.ExprUtils.let

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is a shuffle-on-key pipeline — no
  * driver-side state, no O(n²) stage, no cached/persisted intermediates.
  * Candidate generation always goes through a bucketing key (minhash band,
  * SimHash chunk, hyperplane sign bucket); buckets are aggregated with a
  * document-frequency cap (`maxBucket`), and candidate pairs are exploded
  * from the capped member list — so pairwise work is bounded per bucket by
  * construction and the only wide operations are hash-partitioned
  * exchanges of narrow (id, key) rows. Verification (exact Jaccard /
  * Hamming / cosine) runs only on candidates, pruned by a semi-join before
  * the expensive per-document recompute.
  *
  * The minhash scheme is deliberately engine-portable (md5-based base hash
  * + affine rehashes mod 2^31-1) so an independent SQL engine can replay
  * the exact pipeline as a differential oracle.
  */
object Dedup {

  /** Modulus for the affine minhash family: 2^31-1 (Mersenne prime). */
  val MinhashP: Long = 2147483647L

  /** Exact dedup by content hash: keep the smallest id per distinct key.
    * One map-side-combinable groupBy — the cheapest possible full-corpus
    * dedup. Hashing first (fingerprint) keeps shuffle rows narrow: at
    * 100 TB you shuffle 16-byte digests, not document bodies. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(F.col(idCol), TextAnalysis.fingerprint(F.col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(F.min(idCol).as("keep_id"), F.count(F.lit(1)).as("n_copies"))

  /** Token n-gram shingles of a document, distinct. The token array is
    * let-bound so the per-gram slice never re-tokenizes the text
    * (a lambda body that closes over a non-lambda subtree re-evaluates
    * it per element). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(F.lower(text))
    if (n == 1) F.array_distinct(toks)
    else let(toks) { tk =>
      F.when(F.size(tk) < n, F.array(F.array_join(tk, " ")))
        .otherwise(F.array_distinct(F.transform(
          F.sequence(F.lit(0), F.size(tk) - n),
          (i: Column) => F.array_join(F.slice(tk, i + 1, F.lit(n)), " "))))
    }
  }

  /** Shingles hashed to sorted distinct 64-bit ints: set intersection on
    * primitives, 8 bytes/element through any shuffle. Jaccard on hashed
    * shingles equals Jaccard on raw shingles absent 64-bit collisions
    * (~n²/2⁶⁵ per document pair — negligible). */
  def sortedHashedShingles(text: Column, n: Int): Column =
    F.array_sort(F.array_distinct(
      F.transform(shingles(text, n), (s: Column) => F.xxhash64(s))))

  /** Engine-portable 60-bit hash: the first 15 hex digits of md5. Any SQL
    * engine with md5 can replay it (`('0x'||substr(md5(s),1,15))::BIGINT`),
    * which is what makes the minhash pipeline differentially testable. */
  def md5Hash60(s: Column): Column =
    F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 15), 16, 10).cast("long")

  /** Deterministic affine rehash parameters (a_i, b_i): seed hash i is
    * `(a_i * base + b_i) mod P`. One md5 per shingle + numHashes cheap
    * integer transforms replaces numHashes independent string hashes. */
  def minhashAffineParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (2654435761L * (i + 1) + 104729L * i) % (MinhashP - 1) + 1
      val b = (104729L * (i + 1) + 7919L) % MinhashP
      (a, b)
    }

  /** Round-robin repartition to full parallelism, but ONLY when the input
    * has markedly fewer splits than the cores that run it (e.g. one
    * unsplittable gzip shard, a single large row group — common for raw
    * corpus drops). The expensive per-document signature work downstream
    * then uses every core. The width probe reads the ACTUAL partition
    * counts off the scan leaves of the pre-AQE physical plan — driver-only
    * file listing, honoring splittability and the real split-size formula;
    * touching `df.rdd` instead would, under AQE, eagerly materialize
    * upstream query stages. At scale a parquet corpus is far wider than
    * the core count, the condition is false, and no exchange is added —
    * the narrow (id, key) explode stays the only shuffle. */
  private[graft] def spreadForCompute(df: DataFrame): DataFrame = {
    // cores, not shuffle width: a 4-split input on 4 cores uses them all
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.queryExecution.sparkPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().map(_.getNumPartitions).sum
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        r.inputRDDs().map(_.getNumPartitions).sum
      case _ => target // unknown leaf: assume wide enough, add no exchange
    }.sum
    if (parts * 2 < target) df.repartition(target) else df
  }

  /** Stage an intermediate frame: cut it loose from its subplan so
    * multiple consumers read materialized blocks instead of re-executing
    * the pipeline (Catalyst does not dedupe common subplans).
    * `reliable = false` → executor-local checkpoint blocks: fastest, but
    * an executor loss mid-query fails the job (acceptable for batch
    * pipelines with orchestrator-level retries). `reliable = true` →
    * a real checkpoint to `SparkContext.setCheckpointDir` (HDFS/object
    * store on a cluster): survives executor loss — the right trade for
    * long multi-hour jobs at corpus scale. The reliable path is always
    * eager and persists around the checkpoint: an unpersisted reliable
    * checkpoint would RE-EXECUTE the whole lineage in the file-writing
    * job (Spark's documented behavior), doubling the most expensive
    * stage — the cache makes the write a second pass over blocks, and is
    * dropped as soon as the files exist. */
  private def stage(df: DataFrame, eager: Boolean, reliable: Boolean): DataFrame =
    if (reliable) {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = cached.checkpoint(eager = true)
      cached.unpersist(false) // checkpoint files are the source of truth now
      out
    } else df.localCheckpoint(eager)

  /** Free the blocks behind a [[stage]]d frame NOW. `Dataset.unpersist`
    * only touches the CacheManager and is a silent no-op on checkpointed
    * frames, whose persistence lives at the RDD level behind a
    * `LogicalRDD` leaf — without this, every label-propagation round's
    * blocks would survive for the query's lifetime (the intra-query
    * analog of the cross-query block accumulation that slowed the
    * round-3 bench 2.4×). Reliable-checkpoint files are untouched.
    *
    * Block lifetime where no operator unstages: a stage that the
    * RETURNED frame still reads ([[decontaminateBloom]]'s eval grams,
    * [[removeDuplicatedNgramsShuffled]]'s input and gram frames) cannot
    * be freed inside the operator — its blocks are what the caller's
    * action reads. They live until the caller unpersists them (the
    * benchmark and Verify sweep `getPersistentRDDs` between statements)
    * or the ContextCleaner drops them once the frame is garbage. */
  private def unstage(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** The one capped pair explode of every bucketed operator: ONE
    * map-side-combinable aggregation collects each bucket's `member`
    * values (bucket = `keyCols`), buckets outside [2, maxBucket] are
    * dropped (a mega-bucket means near-identical boilerplate where
    * pairwise output would be quadratic; at corpus scale you cap it, you
    * don't join it), and the i<j pairs of the sorted member list explode
    * as `p: struct<a, b>` — no self-join, no window; the cap bounds the
    * explode at maxBucket²/2 rows per bucket. Members sort by their
    * first field, so an id-first member gives `p.a.id < p.b.id`. Each
    * caller filters and projects `p` its own way. */
  private def bucketPairs(df: DataFrame, keyCols: Seq[String], member: Column,
                          maxBucket: Int): DataFrame =
    df.groupBy(keyCols.map(F.col): _*)
      .agg(F.collect_list(member).as("ms"))
      .filter(F.size(F.col("ms")).between(2, maxBucket))
      .select(F.explode(let(F.array_sort(F.col("ms"))) { v =>
        F.flatten(F.transform(v, (a: Column, i: Column) =>
          F.transform(F.slice(v, i + 2, F.size(v)), (b: Column) =>
            F.struct(a.as("a"), b.as("b")))))
      }).as("p"))

  /** Distinct candidate pairs (id_a < id_b) from bucketed (`keyCols...`,
    * `id`) rows: [[bucketPairs]] over bare ids. */
  private[graft] def cappedBucketPairs(banded: DataFrame, keyCols: Seq[String],
                                       maxBucket: Int): DataFrame =
    bucketPairs(banded, keyCols, F.col("id"), maxBucket)
      .select(F.col("p.a").as("id_a"), F.col("p.b").as("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** The one verify of the candidate→verify operators: exact scores for
    * a candidate pair set (`id_a`, `id_b`), returned as (id_a, id_b,
    * `score`) where `score` >= threshold.
    *
    * The pairs are staged LAZILY: they feed the output spine plus both
    * verify-side joins, and Catalyst does not dedupe common subplans —
    * unstaged, the full scan→bucketing pipeline would execute three times
    * (the round-2 plan audit's finding). They are tiny relative to the
    * corpus (bounded by the bucket cap). `source` is pruned to the
    * candidate ids with ONE left-semi join BEFORE `featureExpr` is
    * computed (no pre-distinct: the semi-join's build side dedupes
    * inherently, so a distinct would only add an exchange), and the
    * (id, `feature`) frame is staged EAGERLY: both join sides read it, so
    * the feature work and its source scan run ONE pass, candidates only.
    * Its job also materializes the lazy pair stage (checkpointing
    * cascades through the RDD lineage), so both stages cost ONE job
    * barrier instead of two — the round-3 plan audit found the time at
    * toy scale was going to sequential job scheduling, not compute. */
  private def verified(pairs: DataFrame, source: DataFrame, idCol: String,
                       feature: String, featureExpr: Column,
                       score: String, scoreFn: (Column, Column) => Column,
                       threshold: Double, reliable: Boolean): DataFrame = {
    val cands = stage(pairs, eager = false, reliable)
    val candIds = cands
      .select(F.explode(F.array(F.col("id_a"), F.col("id_b"))).as("id"))
    val feats = stage(source
      .join(candIds, source(idCol) === candIds("id"), "left_semi")
      .select(F.col(idCol).as("id"), featureExpr.as(feature)),
      eager = true, reliable)
    def side(s: String) =
      feats.select(F.col("id").as(s"id_$s"), F.col(feature).as(s"${feature}_$s"))
    cands.join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn(score, scoreFn(F.col(s"${feature}_a"), F.col(s"${feature}_b")))
      .filter(F.col(score) >= threshold)
      .select("id_a", "id_b", score)
  }

  /** [[verified]] on exact Jaccard over [[sortedHashedShingles]] (or a
    * stored column of them): the MinHash family's verify. */
  private def jaccardVerified(pairs: DataFrame, source: DataFrame, idCol: String,
                              shingles: Column, threshold: Double,
                              reliable: Boolean): DataFrame =
    verified(pairs, source, idCol, "sh", shingles, "jaccard", jaccardSorted,
      threshold, reliable)

  /** LSH band keys: the native one-pass `minhash_bands`
    * ([[graft.functions.MinhashBandsExpr]]) at any shingle width. */
  private[graft] def lshBandKeys(text: Column, numBands: Int,
                                 rowsPerBand: Int, shingleN: Int): Column =
    F.call_function("minhash_bands", text, F.lit(numBands), F.lit(rowsPerBand),
      F.lit(shingleN))

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle → md5 base hash → affine minhash signature → band keys →
    * capped bucket aggregation → candidate pairs → exact-Jaccard verify.
    * Cost at any corpus size: one narrow (id, band, key) shuffle for
    * candidates, one bounded explode, and a verify join whose left side is
    * semi-join-pruned to candidate documents before shingle sets are
    * recomputed. Documents with no tokens are skipped (they have no
    * shingles to hash). Returns (id_a < id_b, jaccard >= threshold).
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 numBands: Int = 4, rowsPerBand: Int = 8,
                 shingleN: Int = 3, threshold: Double = 0.8,
                 maxBucket: Int = 64, reliable: Boolean = false): DataFrame = {
    val nonEmpty = df.filter(F.col(textCol).rlike("\\S"))
    val banded = spreadForCompute(nonEmpty).select(
      F.col(idCol).as("id"),
      F.posexplode(lshBandKeys(F.col(textCol), numBands, rowsPerBand, shingleN))
        .as(Seq("band", "bucket")))
    jaccardVerified(cappedBucketPairs(banded, Seq("band", "bucket"), maxBucket),
      nonEmpty, idCol, sortedHashedShingles(F.col(textCol), shingleN),
      threshold, reliable)
  }

  /** Write a minhash dedup INDEX: per document, its LSH band keys and
    * its sorted shingle hashes — everything a future ingest needs to
    * dedup NEW documents against this corpus without touching the
    * corpus text again. One narrow pass; at 100 TB the index is a small
    * fraction of the corpus (ints, not bodies) and is written once per
    * corpus version. Parameters must match the later
    * [[minhashLshIncremental]] call (band keys are parameter-specific). */
  def writeMinhashIndex(df: DataFrame, textCol: String, idCol: String,
                        path: String, numBands: Int = 4, rowsPerBand: Int = 8,
                        shingleN: Int = 3): Unit = {
    val bandKeys = lshBandKeys(F.col(textCol),
      numBands, rowsPerBand, shingleN)
    spreadForCompute(df.filter(F.col(textCol).rlike("\\S")))
      .select(F.col(idCol).as("id"), bandKeys.as("bands"),
        sortedHashedShingles(F.col(textCol), shingleN).as("sh"))
      .write.mode("overwrite").parquet(path)
    // persist the build parameters beside the data (the writeDeconIndex
    // discipline): band keys are parameter-specific, so a later
    // incremental call with drifted defaults would bucket against a
    // DIFFERENT signature slicing — collisions become essentially
    // random and near-duplicates of indexed docs are silently missed
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_minhash_params.txt"), true)
    try out.write(s"$numBands $rowsPerBand $shingleN".getBytes("UTF-8"))
    finally out.close()
  }

  /** INCREMENTAL near-duplicate detection: pairs involving at least one
    * NEW document, against a [[writeMinhashIndex]]-ed corpus and among
    * the new batch itself — the nightly-ingest form of [[minhashLsh]].
    * The indexed corpus contributes stored band keys and shingle hashes
    * (its text is never read, its internal pairs are never recomputed);
    * only the new batch pays signature work. Result equals
    * `minhashLsh(indexed ∪ new)` restricted to pairs with a new id —
    * which is what the differential oracle replays. Ids must be unique
    * across index and batch (re-ingest under a fresh id or diff first —
    * [[corpusDiff]]). Bucket caps apply to the COMBINED membership,
    * like the batch pipeline. */
  def minhashLshIncremental(newDocs: DataFrame, textCol: String, idCol: String,
                            indexPath: String,
                            numBands: Int = 4, rowsPerBand: Int = 8,
                            shingleN: Int = 3, threshold: Double = 0.8,
                            maxBucket: Int = 64,
                            reliable: Boolean = false): DataFrame = {
    val spark = newDocs.sparkSession
    // reject parameter drift LOUDLY when the index recorded its build
    // parameters (indexes predating the sidecar still load): a
    // mismatch produces numerically-valid band keys from a different
    // signature slicing — silent recall collapse, not an error
    locally {
      val p = new org.apache.hadoop.fs.Path(s"$indexPath/_minhash_params.txt")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val txt = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          finally in.close()
        // a truncated or hand-edited sidecar is the same corruption the
        // guard exists for — fail with the file named, not a bare
        // NumberFormatException from deep inside the parse
        val stored = scala.util.Try(txt.trim.split("\\s+").map(_.toInt))
          .getOrElse(throw new IllegalArgumentException(
            s"minhashLshIncremental: parameter sidecar $p is corrupt " +
              s"(contents: '${txt.trim.take(80)}') — expected three " +
              "integers (numBands rowsPerBand shingleN); rebuild the " +
              "index or restore the sidecar"))
        require(stored.length == 3,
          s"minhashLshIncremental: parameter sidecar $p is corrupt " +
            s"(${stored.length} integers, expected 3: numBands " +
            "rowsPerBand shingleN) — rebuild the index or restore " +
            "the sidecar")
        require(stored.sameElements(Array(numBands, rowsPerBand, shingleN)),
          s"minhashLshIncremental: index at $indexPath was built with " +
            s"(numBands, rowsPerBand, shingleN) = " +
            s"(${stored.mkString(", ")}), called with " +
            s"($numBands, $rowsPerBand, $shingleN) — band keys from " +
            "different parameters collide randomly and duplicates " +
            "would be silently missed")
      }
    }
    val index = spark.read.parquet(indexPath)
    val bandKeys = lshBandKeys(F.col(textCol),
      numBands, rowsPerBand, shingleN)
    // ONE prep pass over the new batch (bands + shingles feed bucketing
    // AND verification) — staged like minhashLsh's candidate frame
    val newPrep = stage(
      spreadForCompute(newDocs.filter(F.col(textCol).rlike("\\S")))
        .select(F.col(idCol).as("id"), bandKeys.as("bands"),
          sortedHashedShingles(F.col(textCol), shingleN).as("sh")),
      eager = true, reliable)
    def explodeBands(df: DataFrame, isNew: Boolean) =
      df.select(F.col("id"), F.lit(isNew).as("is_new"),
        F.posexplode(F.col("bands")).as(Seq("band", "bucket")))
    val allBanded = explodeBands(index, isNew = false)
      .unionByName(explodeBands(newPrep, isNew = true))
    // members sort by id (unique across sides), so id_a < id_b like the
    // batch pipeline, and only new-involving pairs survive
    val pairs = bucketPairs(allBanded, Seq("band", "bucket"),
        F.struct(F.col("id"), F.col("is_new")), maxBucket)
      .filter(F.col("p.a.is_new") || F.col("p.b.is_new"))
      // a re-ingested duplicate id (index ∩ batch) would otherwise
      // surface as a degenerate self-pair with jaccard 1.0 — drop it
      // rather than let an id-uniqueness violation corrupt the output
      .filter(F.col("p.a.id") =!= F.col("p.b.id"))
      .select(F.col("p.a.id").as("id_a"), F.col("p.b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    jaccardVerified(pairs,
      index.select("id", "sh").unionByName(newPrep.select("id", "sh")),
      "id", F.col("sh"), threshold, reliable)
  }

  /** FUZZY DECONTAMINATION: near-duplicate pairs BETWEEN a corpus and an
    * eval set — the contamination the exact n-gram overlap check
    * ([[decontaminate]]) misses when benchmark text was paraphrased or
    * lightly edited before landing in the corpus. Same banded-LSH shape
    * as [[minhashLsh]] over the tagged union of both sides, with
    * candidate pairs restricted to CROSS-side members, so the result
    * provably equals `minhashLsh(corpus ∪ eval)` filtered to
    * (corpus, eval) pairs — which is what the differential oracle
    * replays. Bucket caps apply to COMBINED membership; shingle
    * verification runs candidates-only (semi-join-pruned, like the
    * batch pipeline — corpus text is never shuffled, corpus shingles
    * are computed only for candidate docs). Ids must be unique across
    * sides (the [[minhashLshIncremental]] contract); a shared id is
    * dropped rather than emitted as a degenerate self-pair.
    *
    * Returns (corpus_id, eval_id, jaccard). Scale shape: identical to
    * [[minhashLsh]]; the eval side is typically thousands of rows, so
    * its added band rows are noise next to the corpus pass. */
  def minhashLshCross(corpus: DataFrame, corpusTextCol: String,
                      corpusIdCol: String,
                      evalSet: DataFrame, evalTextCol: String,
                      evalIdCol: String,
                      numBands: Int = 4, rowsPerBand: Int = 8,
                      shingleN: Int = 3, threshold: Double = 0.8,
                      maxBucket: Int = 64,
                      reliable: Boolean = false): DataFrame = {
    def tagged(df: DataFrame, textCol: String, idCol: String, isEval: Boolean) =
      df.filter(F.col(textCol).rlike("\\S"))
        .select(F.col(idCol).as("id"), F.lit(isEval).as("is_eval"),
          F.col(textCol).as("text_"))
    val union = tagged(corpus, corpusTextCol, corpusIdCol, isEval = false)
      .unionByName(tagged(evalSet, evalTextCol, evalIdCol, isEval = true))
    val banded = spreadForCompute(union).select(
      F.col("id"), F.col("is_eval"),
      F.posexplode(lshBandKeys(F.col("text_"),
        numBands, rowsPerBand, shingleN)).as(Seq("band", "bucket")))
    // id_a is the corpus side, id_b the eval side
    val pairs = bucketPairs(banded, Seq("band", "bucket"),
        F.struct(F.col("id"), F.col("is_eval")), maxBucket)
      .filter(F.col("p.a.is_eval") =!= F.col("p.b.is_eval")) // cross only
      .filter(F.col("p.a.id") =!= F.col("p.b.id"))           // shared-id guard
      .select(
        F.when(F.col("p.a.is_eval"), F.col("p.b.id"))
          .otherwise(F.col("p.a.id")).as("id_a"),
        F.when(F.col("p.a.is_eval"), F.col("p.a.id"))
          .otherwise(F.col("p.b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // the verify side reads the union un-spread like the batch pipeline
    // (re-shuffling full text a second time would cost more than the
    // pruned compute saves)
    jaccardVerified(pairs, union, "id",
        sortedHashedShingles(F.col("text_"), shingleN), threshold, reliable)
      .select(F.col("id_a").as("corpus_id"), F.col("id_b").as("eval_id"),
        F.col("jaccard"))
  }

  /** Exact Jaccard similarity of two distinct-element arrays. Union size
    * is computed as |a| + |b| - |a∩b| — one hash-set build per pair
    * instead of two (inputs from [[shingles]] are already distinct). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = F.size(F.array_intersect(a, b)).cast("double")
    val union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    F.when(union === 0, F.lit(1.0)).otherwise(inter / union)
  }

  /** Jaccard over SORTED distinct long arrays: the native two-pointer
    * `jaccard_sorted` expression (same values as [[jaccard]]). */
  private[graft] def jaccardSorted(a: Column, b: Column): Column =
    F.call_function("jaccard_sorted", a, b)

  /** Brute-force n-gram Jaccard near-dup pairs within a blocking key.
    * The blocking column bounds the quadratic term — and `maxBlock` caps
    * it by construction: like every LSH variant here, blocks are
    * aggregated into a member list, blocks outside [2, maxBlock] are
    * dropped (a mega-block is near-identical boilerplate whose pairwise
    * output would be quadratic; at corpus scale you cap it, you don't
    * join it), and pairs explode from the bounded list — no self-join.
    * Memory per group is bounded: maxBlock (id, shingle-hash-array)
    * structs. Use when blocks are expected small (e.g. same source + a
    * length bucket); for open-ended corpora prefer [[minhashLsh]].
    * Documents with no tokens are skipped. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: Column, shingleN: Int = 3,
                        threshold: Double = 0.5,
                        maxBlock: Int = 1024): DataFrame =
    blockedShinglePairs(df, textCol, idCol, blockCol, shingleN, maxBlock)
      .select(F.col("id_a"), F.col("id_b"),
        jaccardSorted(F.col("sh_a"), F.col("sh_b")).as("jaccard"))
      .filter(F.col("jaccard") >= threshold)

  /** The shared capped-block pair machinery of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: per-block member lists, [2, maxBlock] cap,
    * pair explode — emits (id_a, id_b, sh_a, sh_b) for scoring. */
  private def blockedShinglePairs(df: DataFrame, textCol: String,
                                  idCol: String, blockCol: Column,
                                  shingleN: Int, maxBlock: Int): DataFrame = {
    // Repartition by block BEFORE the shingle hashing: the aggregation
    // needs a block-hashed distribution anyway, so moving the exchange
    // first (shuffling raw text instead of shingle arrays — same order of
    // bytes) makes the expensive per-row prep run with full cluster
    // parallelism even when the input has few splits.
    val nonEmpty = df.filter(F.col(textCol).rlike("\\S"))
      .select(F.col(idCol).as("id"), blockCol.as("block"), F.col(textCol).as("_text"))
    // Enforce the block cap BEFORE any text moves: membership counts are
    // a narrow map-combinable aggregation over the block key alone (the
    // text column is pruned out of that scan), and the semi-join drops
    // mega-blocks up front. After it, every surviving block holds at
    // most maxBlock rows BY CONSTRUCTION — so repartition(block)'s
    // one-task-per-block layout is bounded (no boilerplate-explosion
    // straggler) and no reducer ever collects an unbounded member list
    // just to throw it away. A mega-block's total cost is its narrow
    // count, not its text.
    val eligible = nonEmpty.groupBy("block")
      .agg(F.count(F.lit(1)).as("_n"))
      .filter(F.col("_n").between(2, maxBlock))
      .select("block")
    // EXPLICIT width, not repartition(col): the downstream stage (member
    // collect + pair explode + intersection verify) is COMPUTE-dense per
    // byte, and AQE's byte-targeted coalescing glued it to a quarter of
    // the cores at the x10 probe volume (8 tasks carrying ~7 s of
    // executor time — a 0.7 s straggler stage on a 2.5 s query). Pinning
    // the user repartition to the session's shuffle width keeps it
    // scale-adaptive (conf-driven) while opting this one exchange out of
    // byte-blind coalescing (guide §2: partitioning follows compute
    // density, not bytes, when the work is per-pair).
    val prepared = nonEmpty.join(eligible, Seq("block"), "left_semi")
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        F.col("block"))
      .select(F.col("id"), F.col("block"),
        sortedHashedShingles(F.col("_text"), shingleN).as("sh"))
    bucketPairs(prepared, Seq("block"), F.struct(F.col("id"), F.col("sh")), maxBlock)
      .select(F.col("p.a.id").as("id_a"), F.col("p.b.id").as("id_b"),
              F.col("p.a.sh").as("sh_a"), F.col("p.b.sh").as("sh_b"))
  }

  /** CONTAINMENT near-dup pairs: `|A∩B| / min(|A|, |B|)` ≥ threshold —
    * the SUBSET-duplication detector Jaccard misses (a short document
    * pasted whole into a much longer one has low Jaccard but containment
    * ≈ 1; the classic quote-inflation / boilerplate-wrapper case).
    * Same capped-block machinery as [[ngramJaccardPairs]] — deliberately
    * NOT minhash banding: signature collision probability tracks
    * JACCARD, so banding systematically under-recalls exactly the
    * asymmetric pairs containment exists for. Choose a blocking that
    * does not split by length (e.g. (lang, source)); for open-ended
    * corpora the winnowing fingerprints ([[winnowOverlapPairs]]) are
    * the scale path for partial overlap.
    *
    * Scale bound, ENFORCED not assumed: the block cap is applied to
    * narrow membership counts before any text shuffles, so per-task
    * rows and per-block pair output are ≤ maxBlock and ≤ maxBlock²/2
    * regardless of corpus size; a skewed block distribution costs its
    * counts, never its text (see [[blockedShinglePairs]]). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       blockCol: Column, shingleN: Int = 3,
                       threshold: Double = 0.9,
                       maxBlock: Int = 1024): DataFrame =
    blockedShinglePairs(df, textCol, idCol, blockCol, shingleN, maxBlock)
      .select(F.col("id_a"), F.col("id_b"),
        (F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double") /
          F.least(F.size(F.col("sh_a")), F.size(F.col("sh_b"))))
          .as("containment"))
      .filter(F.col("containment") >= threshold)

  /** CORPUS-DUPLICATED N-GRAM REMOVAL — the REWRITE form of exact
    * substring dedup (the "dedup repeated substrings across documents"
    * step of a pre-training pipeline, at token-n-gram granularity):
    * every token n-gram whose md5 hash appears in at least `minDocs`
    * DISTINCT document ids marks its n token positions in every
    * document containing it; each document is rebuilt from the unmarked
    * tokens (single-space joined — the rebuild normalizes whitespace, on
    * both the Spark side and the differential oracle). Returns
    * (id, clean_text, n_removed). Documents shorter than n tokens (and
    * empty or null ones) pass through with n_removed = 0, as do null-id
    * documents, which cast no vote and lose nothing. Each document is
    * rebuilt from its own grams: two documents sharing an id do not
    * trade positions.
    *
    * Two passes. The VOTE hashes every doc's positional n-grams
    * (`gram_pos_hashes`, 8-byte hashes, never text) into a gram-keyed
    * aggregate and collects the duplicated hashes, bounded, to the
    * driver (jobs labelled `DEDUP: n-gram vote`). The REWRITE is one
    * map-only projection over the input: the native `drop_ngrams`
    * ([[graft.functions.NgramDropExpr]]) carries the sorted set as
    * expression state and drops the marked spans per document — no
    * stage, no join, no doc-keyed shuffle. A set over
    * [[graft.sources.DeletionVectors.InScanBytes]] (8 bytes a hash)
    * takes [[removeDuplicatedNgramsShuffled]] instead, which re-runs the
    * vote distributed. */
  def removeDuplicatedNgrams(df: DataFrame, textCol: String, idCol: String,
                             n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val cap = (graft.sources.DeletionVectors.InScanBytes / 8).toInt
    val dup = graft.Engine.withJobDescription(df.sparkSession, "DEDUP: n-gram vote") {
      duplicatedGrams(spreadForCompute(df.filter(F.col(idCol).isNotNull))
        .select(F.col(idCol).as("id"), F.explode(F.call_function("gram_pos_hashes",
          TextAnalysis.tokens(F.coalesce(F.col(textCol), F.lit(""))),
          F.lit(n))).as("gram")), minDocs)
        .limit(cap + 1).collect().map(_.getLong(0))
    }
    if (dup.length > cap) removeDuplicatedNgramsShuffled(df, textCol, idCol, n, minDocs)
    else {
      java.util.Arrays.sort(dup)
      // NULL text rebuilds as '' (zero tokens, n_removed = 0)
      val text = ExprColumn.expr(F.coalesce(F.col(textCol), F.lit("")))
      df.select(F.col(idCol).as(idCol),
          F.when(F.col(idCol).isNull,
            ExprColumn(NgramDropExpr(Array.emptyLongArray, n, text)))
            .otherwise(ExprColumn(NgramDropExpr(dup, n, text))).as("_r"))
        .select(F.col(idCol), F.col("_r.clean_text"), F.col("_r.n_removed"))
    }
  }

  /** The duplicate vote over (id, gram) rows: the grams held by at least
    * `minDocs` distinct non-null ids. minDocs == 2 (the default, and
    * every declared caller) needs no distinct pass: >= 2 distinct ids
    * ⇔ min(id) != max(id) — ONE map-side-combinable exchange instead of
    * the (gram, id) distinct exchange FOLLOWED BY the count exchange. */
  private def duplicatedGrams(grams: DataFrame, minDocs: Int): DataFrame =
    if (minDocs == 2)
      grams.groupBy("gram")
        .agg(F.min("id").as("_mn"), F.max("id").as("_mx"))
        .filter(F.col("_mn") =!= F.col("_mx"))
        .select("gram")
    else grams.select("gram", "id").distinct()
      .groupBy("gram").agg(F.count(F.lit(1)).as("_nd"))
      .filter(F.col("_nd") >= minDocs)
      .select("gram")

  /** [[removeDuplicatedNgrams]] with the duplicate set kept distributed,
    * for sets too large to ship as expression state: the gram frame
    * joins the duplicate grams, each document's marked starts collect
    * doc-keyed and join back, and the native `drop_spans`
    * ([[graft.functions.SpanDropExpr]], the same kernel) rebuilds. The
    * input is STAGED once with a per-row key, so the gram branch and the
    * rebuild read one scan and each document gets exactly its own
    * starts; the gram frame is staged lazily (the vote materializes it
    * for the join). Both stages' blocks back the returned frame, so they
    * live until the caller unpersists them or they are collected. */
  private[graft] def removeDuplicatedNgramsShuffled(df: DataFrame, textCol: String,
      idCol: String, n: Int, minDocs: Int): DataFrame = {
    val base = stage(spreadForCompute(df).select(F.col(idCol).as("id"),
      F.monotonically_increasing_id().as("_doc"),
      F.coalesce(F.col(textCol), F.lit("")).as("text")),
      eager = true, reliable = false)
    val grams = stage(base.filter(F.col("id").isNotNull)
      .select(F.col("id"), F.col("_doc"), F.posexplode(F.call_function(
        "gram_pos_hashes", TextAnalysis.tokens(F.col("text")), F.lit(n)))
        .as(Seq("pos", "gram"))),
      eager = false, reliable = false)
    val starts = grams.join(duplicatedGrams(grams, minDocs), "gram")
      .groupBy("_doc").agg(F.collect_list("pos").as("starts"))
    base.join(starts, Seq("_doc"), "left")
      .select(F.col("id").as(idCol), ExprColumn(SpanDropExpr(n,
        ExprColumn.expr(F.col("text")),
        ExprColumn.expr(F.coalesce(F.col("starts"),
          F.array().cast("array<int>"))))).as("_r"))
      .select(F.col(idCol), F.col("_r.clean_text"), F.col("_r.n_removed"))
  }

  /** 64-bit SimHash of a document: per-token hashes vote ±1 on each bit;
    * the sign of each bit's vote total forms the signature. Expressed as
    * one `aggregate` over the token array accumulating a 64-slot vote
    * vector — per-row, shuffle-free. `tokenHash` defaults to the native
    * xxhash64; pass [[md5Hash60]] for an engine-portable signature that a
    * differential SQL oracle can replay bit-for-bit (its top 4 bits are
    * then constant-zero — harmless to Hamming distances). */
  def simhash64(text: Column,
                tokenHash: Column => Column = (t: Column) => F.xxhash64(t)): Column = {
    val powers = F.array((0 until 64).map(i => F.lit(1L << i)): _*)
    val tokenHashes = F.transform(TextAnalysis.tokens(F.lower(text)),
      (t: Column) => tokenHash(t))
    val votes = F.aggregate(
      tokenHashes,
      F.array_repeat(F.lit(0), 64),
      (acc: Column, h: Column) =>
        F.zip_with(acc, powers, (a: Column, p: Column) =>
          a + F.when(h.bitwiseAND(p) =!= 0, 1).otherwise(-1))
    )
    // fold the vote vector into a Long: bit i set iff votes(i) > 0
    F.aggregate(
      F.zip_with(votes, powers, (v: Column, p: Column) =>
        F.when(v > 0, p).otherwise(F.lit(0L))),
      F.lit(0L),
      (acc: Column, x: Column) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup pairs: documents sharing any 16-bit chunk of their
    * SimHash are candidates (4 chunks: by pigeonhole, every pair within
    * Hamming distance 3 shares at least one untouched chunk — 100% recall
    * at maxHamming <= 3), then exact Hamming distance <= maxHamming
    * verifies. Buckets are capped like every LSH variant here; sigs ride
    * along in the bucket member list (8 bytes), so no join-back is needed.
    * Documents with no tokens are skipped.
    *
    * Signatures come from the native one-pass [[graft.functions.SimHashExpr]]
    * (bit-identical to [[simhash64]]). `portableHash = true` uses the
    * md5-based token hash a differential SQL oracle can replay. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 4096,
                   portableHash: Boolean = false): DataFrame = {
    val sigExpr = F.call_function("simhash64", F.col(textCol), F.lit(portableHash))
    hammingPairs(
      spreadForCompute(df.filter(F.col(textCol).rlike("\\S")))
        .select(F.col(idCol).as("_hp_id"), sigExpr.as("_hp_sig")),
      "_hp_sig", "_hp_id", maxHamming, maxBucket)
  }

  /** Hamming near-duplicate pairs over an arbitrary 64-bit SIGNATURE
    * column (SimHash, image perceptual hash, any locality-preserving
    * bit signature) via 16-bit chunk LSH: by pigeonhole, two signatures
    * within Hamming distance 3 agree on at least one of the 4 chunks,
    * so recall is TOTAL at `maxHamming` ≤ 3 (heuristic above). One
    * map-side-combinable bucket aggregation with the [2, maxBucket]
    * cap, pairs exploded from the bounded member lists, exact bit_count
    * verification — the [[minhashLsh]] scale shape on bit signatures.
    *
    * The signature is let-bound and feeds the chunk generator ONCE: a
    * naive select(sig, posexplode(chunks-of-sig)) lets CollapseProject
    * inline an expensive signature expression 5× per row (sig + 4
    * chunks) — so callers may pass sig as an unmaterialized expression
    * column safely. */
  def hammingPairs(sigs: DataFrame, sigCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    val chunked = sigs
      .select(F.col(idCol).as("id"),
        F.posexplode(let(F.col(sigCol)) { sg =>
          F.array((0 until 4).map { c =>
            F.struct(
              F.shiftrightunsigned(sg, c * 16).bitwiseAND(F.lit(0xFFFFL)).as("key"),
              sg.as("sig"))
          }: _*)
        }).as(Seq("chunk", "ck")))
      .select(F.col("id"), F.col("ck.sig").as("sig"),
        F.col("chunk"), F.col("ck.key").as("key"))
    bucketPairs(chunked, Seq("chunk", "key"),
        F.struct(F.col("id"), F.col("sig")), maxBucket)
      .select(F.col("p.a.id").as("id_a"), F.col("p.b.id").as("id_b"),
        F.bit_count(F.col("p.a.sig").bitwiseXOR(F.col("p.b.sig"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(F.col("hamming") <= maxHamming)
  }

  /** Connected-component clustering of near-duplicate pairs: the step
    * that turns pairwise matches into the deliverable a dedup pipeline
    * actually needs — a cluster id per document (keep `id == cluster`,
    * drop the rest). Label = smallest id reachable through the pair
    * graph.
    *
    * Size-adaptive execution. The pair set is the dedup pipeline's
    * OUTPUT — orders of magnitude smaller than the corpus it came from —
    * so it usually fits on the driver even when the corpus never could:
    * a size-capped `take(localThreshold + 1)` either proves that (→ one
    * local union-find pass, exact, zero distributed rounds) or overflows
    * the cap (→ distributed min-label propagation below). The collect is
    * bounded by construction; this is the standard small-side adaptive
    * switch, not a driver-side corpus scan.
    *
    * Distributed path: iterative min-label propagation with pointer
    * jumping (cf. large-star/small-star): each round a vertex takes the
    * min of its own label, its neighbors' labels, AND its label's label
    * (`label(label(v))` — the pointer-doubling term that collapses long
    * chains in O(log diameter) rounds instead of O(diameter)). Labels
    * decrease monotonically, so the sum of labels is a cheap convergence
    * signal; each round localCheckpoints to keep lineage flat. Runs to
    * the fixpoint; if `maxIter` cuts it off first the result would be
    * silently wrong, so that raises instead. Only ids appearing in
    * `pairs` are returned (everything else is its own trivial cluster).
    */
  /** INCREMENTAL connected components: merge a NEW pair batch into a
    * STORED cluster assignment without rescanning the old pair set —
    * the nightly-maintenance downstream of [[minhashLshIncremental]].
    * Works because a [[clusters]] assignment (id → min-label) is the
    * old graph's spanning forest COMPRESSED TO DEPTH 1: its edges have
    * exactly the old pairs' connected components, so
    * `clusters(assignment-edges ∪ newPairs)` equals a full recompute
    * over `oldPairs ∪ newPairs` — but the propagation starts from a
    * depth-1 old side, so rounds track the diameter of the NEWLY
    * MERGED structure, not of the historical graph, and the old pair
    * set (the expensive LSH output at corpus scale) is never re-read. */
  def clustersIncremental(assignment: DataFrame, newPairs: DataFrame,
                          idCol: String = "id", clusterCol: String = "cluster",
                          idA: String = "id_a", idB: String = "id_b",
                          maxIter: Int = 50, localThreshold: Int = 2000000,
                          reliable: Boolean = false): DataFrame =
    clusters(
      assignment.select(F.col(idCol).as(idA), F.col(clusterCol).as(idB))
        .unionByName(newPairs.select(F.col(idA), F.col(idB))),
      idA, idB, maxIter, localThreshold, reliable)

  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 50, localThreshold: Int = 2000000,
               reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    // integral ids only, checked loudly up front: casting fractional or
    // string ids to long would silently merge distinct vertices on the
    // local path, and the distributed convergence probe (sum of labels)
    // is numeric-only — both paths need genuine integer identifiers
    // (hash string ids to int64 upstream)
    Seq(idA, idB).foreach { c =>
      val dt = pairs.schema
        .find(_.name.equalsIgnoreCase(c)) // analyzer-style lookup
        .getOrElse(throw new IllegalArgumentException(
          s"clusters(): no column '$c' in ${pairs.columns.mkString(", ")}"))
        .dataType
      dt match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw new IllegalArgumentException(
          s"clusters() requires integral id columns; '$c' is $other " +
          "(hash non-integer ids to int64 upstream)")
      }
    }
    if (localThreshold > 0) {
      // Stage the pair set ONCE: the size probe executes the (possibly
      // expensive) pair pipeline, and without staging an over-threshold
      // corpus would pay it a second time in the distributed fallback.
      val staged = stage(pairs, eager = true, reliable)
      val capped = staged
        .select(F.col(idA).cast("long"), F.col(idB).cast("long"))
        .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
        .take(localThreshold + 1) // tuples, not Rows: ~32 B/edge on the driver
      if (capped.length <= localThreshold) {
        val out = clustersLocal(pairs.sparkSession, capped)
        unstage(staged) // edges live on the driver now
        out
      } else {
        val out = clustersDistributed(staged, idA, idB, maxIter, reliable)
        unstage(staged) // the result reads its own checkpoints
        out
      }
    } else clustersDistributed(pairs, idA, idB, maxIter, reliable)
  }

  /** Union-find with path compression and union-by-min: attaching the
    * larger root under the smaller keeps every root the minimum id of
    * its component, so `find` IS the cluster label. O(E α(E)). */
  private def clustersLocal(spark: org.apache.spark.sql.SparkSession,
                            edges: Array[(Long, Long)]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != r) {
        val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    import scala.jdk.CollectionConverters._
    val out = parent.keySet().asScala.toSeq.map(v => (v, find(v)))
    import spark.implicits._
    out.toDF("id", "cluster")
  }

  private def clustersDistributed(pairs: DataFrame, idA: String, idB: String,
                                  maxIter: Int, reliable: Boolean = false): DataFrame = {
    // ids cast to LONG up front: the local union-find path always emits
    // (id long, cluster long), and without the cast THIS path preserved
    // the input's narrower type — so which schema a caller got depended
    // on whether the edge count crossed localThreshold, and appending
    // both outputs to one table failed on schema mismatch
    val edges = stage(
      pairs.select(F.col(idA).cast("long").as("src"),
          F.col(idB).cast("long").as("dst"))
        .union(pairs.select(F.col(idB).cast("long").as("src"),
          F.col(idA).cast("long").as("dst"))),
      eager = true, reliable)
    var labels = stage(
      edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).as("label"))
        .withColumnRenamed("src", "id"),
      eager = true, reliable)
    var prevSum = Long.MaxValue
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaEdges = edges
        .join(labels, edges("src") === labels("id"))
        .select(F.col("dst").as("id"), F.col("label"))
      val l2 = labels.select(F.col("id").as("lid"), F.col("label").as("llabel"))
      val viaLabels = labels
        .join(l2, labels("label") === F.col("lid"))
        .select(F.col("id"), F.col("llabel").as("label"))
      val next = stage(
        labels.select("id", "label").union(viaEdges).union(viaLabels)
          .groupBy("id").agg(F.min("label").as("label")),
        eager = true, reliable)
      // sum is null on an EMPTY pair set (the distributed path must
      // return the empty assignment the local path returns, not NPE)
      val sumRow = next.agg(F.sum("label")).head()
      val sum = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
      unstage(labels) // next is materialized; the old round is dead
      labels = next
      converged = sum == prevSum
      prevSum = sum
      iter += 1
    }
    unstage(edges) // the final labels frame reads its own checkpoint
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.clusters did not converge after $maxIter rounds — " +
        "labels are partially propagated and cluster ids would be wrong. " +
        "With pointer jumping rounds grow as log(diameter); raise maxIter.")
    labels.select(F.col("id"), F.col("label").as("cluster"))
  }

  /** Deterministic random hyperplanes in [-1,1]^dim (PCG-style LCG on a
    * fixed seed). Generated driver-side as literals so (a) every executor
    * computes identical buckets with zero broadcast state and (b) a
    * differential SQL oracle can replay the exact bucketing. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Seq.fill(numPlanes)(Seq.fill(dim)(next()))
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    * sign-bit bucket (one bit per plane), capped bucket aggregation,
    * exact-cosine verify on semi-join-pruned candidate vectors. More
    * planes → smaller buckets and fewer-but-higher-precision candidates;
    * pair recall at similarity s is (1 - acos(s)/π)^numPlanes per table,
    * so run multiple plane sets (different seeds) and union for recall. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       planes: Seq[Seq[Double]], threshold: Double,
                       maxBucket: Int = 4096, reliable: Boolean = false): DataFrame = {
    val banded = df.select(F.col(idCol).as("id"),
      planeBucket(vecCol, planes).as("bucket"))
    cosineVerified(cappedBucketPairs(banded, Seq("bucket"), maxBucket),
      df, vecCol, idCol, threshold, reliable)
  }

  /** Multi-table random-hyperplane LSH: candidates are the UNION over
    * several independent plane sets (different seeds), the standard
    * recall amplifier — per-pair recall at similarity s rises from
    * (1 - acos(s)/π)^p to 1 - (1 - (1 - acos(s)/π)^p)^tables. Exactly
    * the minhash banding structure: the set index is the band, so ONE
    * (set, bucket) aggregation with the same document-frequency cap
    * bounds candidate generation; verification runs once over the
    * deduplicated union. */
  def embeddingNearDupMulti(df: DataFrame, vecCol: String, idCol: String,
                            planeSets: Seq[Seq[Seq[Double]]], threshold: Double,
                            maxBucket: Int = 4096, reliable: Boolean = false): DataFrame = {
    val buckets = F.array(planeSets.map(planeBucket(vecCol, _)): _*)
    val banded = df.select(F.col(idCol).as("id"),
      F.posexplode(buckets).as(Seq("pset", "bucket")))
    cosineVerified(cappedBucketPairs(banded, Seq("pset", "bucket"), maxBucket),
      df, vecCol, idCol, threshold, reliable)
  }

  /** Local-overlap pairs via shared winnowing fingerprints (Schleimer et
    * al.): documents sharing at least `minShared` winnow fingerprints —
    * which, by the winnowing guarantee, means shared token runs — are
    * paired with their overlap count. Catches PARTIAL overlap (quoted
    * paragraphs, plagiarized sections, shared boilerplate blocks) that
    * whole-document similarity ([[minhashLsh]]) dilutes away. Same
    * scale shape as every LSH variant: fingerprints are the buckets, one
    * capped aggregation, pairs explode from bounded member lists, then a
    * per-pair count — no self-join. */
  def winnowOverlapPairs(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 3, w: Int = 4, minShared: Int = 3,
                         maxBucket: Int = 4096): DataFrame = {
    val fps = spreadForCompute(df).select(F.col(idCol).as("id"),
      F.explode(TextAnalysis.winnowingFingerprint(F.col(textCol), k, w,
        gramHash = md5Hash60)).as("fp"))
    bucketPairs(fps, Seq("fp"), F.col("id"), maxBucket)
      .select(F.col("p.a").as("id_a"), F.col("p.b").as("id_b"))
      .groupBy("id_a", "id_b")
      // fingerprints are distinct per doc, so each contributes once
      .agg(F.count(F.lit(1)).as("n_shared"))
      .filter(F.col("n_shared") >= minShared)
  }

  /** Distinct engine-portable hashes of a document's token k-grams (the
    * gram stage of [[TextAnalysis.winnowingFingerprint]], un-winnowed) —
    * md5-based so a SQL oracle replays them. The fused native
    * `gram_hashes`: one pass, incremental digest, no per-gram string
    * (the q112 x10 trace measured the composable lambda route at ~90%
    * interpretation overhead on the decontamination family's dominant
    * stage). */
  private def gramHashes(text: Column, k: Int): Column =
    F.call_function("gram_hashes", text, F.lit(k))

  /** Benchmark DECONTAMINATION: flag corpus documents sharing at least
    * `minShared` token k-grams with an evaluation set — the standard
    * pre-training hygiene pass that keeps test data out of the training
    * corpus (n-gram overlap, cf. GPT-3/PaLM appendix methodology).
    * The eval side's distinct gram set is small by nature (benchmarks,
    * not corpora), so it BROADCASTS; the corpus streams through a narrow
    * gram-explode → broadcast-hash-join → per-doc count — no shuffle of
    * corpus text, cost linear in corpus grams at any scale. Returns
    * (id, n_shared) for flagged documents only. */
  def decontaminate(corpus: DataFrame, textCol: String, idCol: String,
                    evalSet: DataFrame, evalTextCol: String,
                    k: Int = 3, minShared: Int = 2): DataFrame =
    decontaminateAgainstGrams(corpus, textCol, idCol,
      evalGramsOf(evalSet, evalTextCol, k), minShared, k)

  /** The eval set's distinct gram-hash frame — factored out so a
    * long-running caller (the streaming ingest path) can derive it ONCE,
    * persist it, and reuse it across micro-batches instead of rebuilding
    * the static side per batch. */
  private[graft] def evalGramsOf(evalSet: DataFrame, evalTextCol: String,
                                 k: Int): DataFrame =
    evalSet
      .filter(F.col(evalTextCol).rlike("\\S"))
      .select(F.explode(gramHashes(F.col(evalTextCol), k)).as("g"))
      .distinct()

  /** [[decontaminate]]'s corpus side against a prebuilt gram frame
    * (single column `g`: long gram hashes, distinct per the eval set). */
  private[graft] def decontaminateAgainstGrams(corpus: DataFrame, textCol: String,
                                               idCol: String, evalGrams: DataFrame,
                                               minShared: Int, k: Int = 3): DataFrame =
    spreadForCompute(corpus.filter(F.col(textCol).rlike("\\S")))
      .select(F.col(idCol).as("id"),
        F.explode(gramHashes(F.col(textCol), k)).as("g"))
      .join(F.broadcast(evalGrams), "g")
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_shared")) // grams distinct per doc
      .filter(F.col("n_shared") >= minShared)

  /** [[decontaminate]] with a BLOOM-FILTER prune — the scale path when
    * the eval-set gram list outgrows a broadcast hash join (a full eval
    * harness is easily 10⁸ distinct grams ≈ GBs as a hash relation, vs a
    * few MB as a bloom sketch at the same false-positive rate). Three
    * narrow passes, result EXACT:
    *
    *  1. distributed sketch build over the eval grams (Spark's native
    *     `BloomFilterAggregate` — partial sketches merge executor-side,
    *     the driver sees ONE row of `numBits/8` bytes, bounded by the
    *     caller, same justification as `Similarity.trainCentroids`);
    *  2. corpus grams stream through the codegen'd `might_contain`
    *     probe — a pure narrow filter that discards ~everything (true
    *     hits + the false-positive share of the corpus);
    *  3. the tiny survivor set joins the exact eval grams, so bloom
    *     false positives are eliminated and the output is identical to
    *     [[decontaminate]] — which is what the differential oracle
    *     checks.
    *
    * The eval-gram pipeline deliberately runs TWICE (sketch build, then
    * the confirm join) — two cheap narrow passes beat materializing the
    * gram set, the same trade [[corpusDupLines]] documents. The sketch
    * reaches executors inside [[graft.functions.BloomProbeExpr]] as
    * expression STATE, not as a child literal: a multi-MB literal makes
    * every Catalyst pass O(sketch size) (measured ~1.6 s of driver time
    * at 4 MB), while expression state ships once per stage in the
    * broadcast task binary — how Spark ships its own injected runtime
    * bloom filters. False-positive rate is set by `numBits` vs the true
    * gram count (default 32 Mbit ≈ 1% at 4M grams). */
  def decontaminateBloom(corpus: DataFrame, textCol: String, idCol: String,
                         evalSet: DataFrame, evalTextCol: String,
                         k: Int = 3, minShared: Int = 2,
                         expectedGrams: Long = 4000000L,
                         numBits: Long = 33554432L): DataFrame = {
    val spark = corpus.sparkSession
    // STAGED once, not derived twice: the original "two cheap narrow
    // passes" trade assumed deriving the gram set is ~free, but the
    // derivation pays whatever the eval-side SCAN costs (a filtered view
    // of the corpus reads the full text column twice — the x10 trace
    // measured ~7 s of executor time per pass) — while the staged gram
    // set itself is hashes only (8 bytes/gram, KBs–MBs at eval-harness
    // scale), cheap to hold and read back for the confirm join.
    // LAZY: the sketch build's job computes the staged gram blocks and
    // leaves them for the confirm join; an eager stage would compute the
    // same blocks in a count job of its own at construction
    val evalGrams = stage(evalGramsOf(evalSet, evalTextCol, k),
      eager = false, reliable = false)
    val sketch = buildBloomSketch(spark, evalGrams, expectedGrams, numBits)
    val out = (corpusGrams: DataFrame) => corpusGrams
      .join(evalGrams, "g") // exact confirm: kills bloom false positives
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_shared")) // grams distinct per doc
      .filter(F.col("n_shared") >= minShared)
    // empty eval set → null sketch → nothing can match
    if (sketch == null) out(corpus.limit(0)
      .select(F.col(idCol).as("id"), F.lit(0L).as("g")))
    else out(spreadForCompute(corpus.filter(F.col(textCol).rlike("\\S")))
      .select(F.col(idCol).as("id"),
        F.explode(gramHashes(F.col(textCol), k)).as("g"))
      .filter(F.call_function("bloom_might_contain",
        F.lit(sketch), F.col("g"))))
  }

  /** Build the bloom sketch bytes over a gram frame; null when the
    * frame is empty. BloomFilterAggregate silently caps its parameters
    * at the session's runtime-filter conf limits (4M items / 64 Mbit by
    * default) — at the 10⁸-gram scale the bloom path exists for, a
    * silently-clamped sketch would have a far worse false-positive rate
    * than requested and the confirm join would degrade toward a full
    * gram shuffle. Raise the caps on a SCRATCH session (same
    * SparkContext + extensions, own SQLConf) and run the build there
    * via a global temp view, so concurrent queries on the caller's
    * session never see the raised caps and two concurrent builds cannot
    * clobber each other's conf. newSession() starts from the BASE conf,
    * not the caller's session conf — mirror the caller's settings (ANSI
    * pin, timezone, shuffle partitions, ...) so the build plans
    * identically, then raise the caps only on the scratch copy;
    * static/read-only keys can't be set on a running session, skip
    * them. */
  private def buildBloomSketch(spark: org.apache.spark.sql.SparkSession,
                               evalGrams: DataFrame, expectedGrams: Long,
                               numBits: Long): Array[Byte] = {
    val scratch = spark.newSession()
    spark.conf.getAll.foreach { case (key, v) =>
      try scratch.conf.set(key, v) catch { case _: Exception => () }
    }
    scratch.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      expectedGrams.toString)
    scratch.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
      numBits.toString)
    val view = s"graft_bloom_grams_${java.util.UUID.randomUUID().toString.take(8)}"
    evalGrams.createOrReplaceGlobalTempView(view)
    try scratch.table(s"global_temp.$view")
      .agg(F.call_function("bloom_agg", F.col("g"),
        F.lit(expectedGrams), F.lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    finally spark.catalog.dropGlobalTempView(view)
  }

  /** Persist a DECONTAMINATION INDEX for an eval-set version: the
    * distinct gram-hash set (the exact confirm side) plus the bloom
    * sketch over it (the prune side) — built ONCE per eval-set release,
    * reused by every ingest through [[decontaminateIndexed]] without
    * touching eval text again. The artifact is gram hashes + one sketch
    * row (KBs–MBs, independent of corpus size) — the decontamination
    * member of the stored-artifact family (BM25 index, minhash index,
    * PQ/SQ codes, HLL/histogram sketches). `k` is stored beside the
    * sketch so the probe side cannot drift from the build side. An
    * empty eval set stores an empty sketch; the probe then skips the
    * prune. */
  def writeDeconIndex(evalSet: DataFrame, evalTextCol: String, path: String,
                      k: Int = 3, expectedGrams: Long = 4000000L,
                      numBits: Long = 33554432L): Unit = {
    val spark = evalSet.sparkSession
    val grams = evalGramsOf(evalSet, evalTextCol, k)
    grams.write.mode("overwrite").parquet(s"$path/grams")
    val sketch = buildBloomSketch(spark, grams, expectedGrams, numBits)
    import spark.implicits._
    Seq((k, if (sketch == null) Array.empty[Byte] else sketch))
      .toDF("k", "sketch")
      .write.mode("overwrite").parquet(s"$path/sketch")
  }

  /** Decontaminate a corpus against a stored [[writeDeconIndex]]
    * artifact: the per-ingest side of the split — narrow gram explode,
    * codegen'd bloom prune (when the stored sketch is non-empty and the
    * session carries the probe expression), broadcast confirm join,
    * per-doc count. Result is exactly [[decontaminate]] with the
    * indexed eval set (the bloom is a prune; the confirm join keeps it
    * exact), which is what the differential gate checks. */
  def decontaminateIndexed(spark: org.apache.spark.sql.SparkSession,
                           path: String, corpus: DataFrame, textCol: String,
                           idCol: String, minShared: Int = 2): DataFrame = {
    val meta = spark.read.parquet(s"$path/sketch").head()
    val k = meta.getAs[Int]("k")
    val sketch = meta.getAs[Array[Byte]]("sketch")
    val grams = spark.read.parquet(s"$path/grams")
    val corpusGrams = spreadForCompute(corpus.filter(F.col(textCol).rlike("\\S")))
      .select(F.col(idCol).as("id"),
        F.explode(gramHashes(F.col(textCol), k)).as("g"))
    val pruned =
      if (sketch.nonEmpty)
        corpusGrams.filter(F.call_function("bloom_might_contain",
          F.lit(sketch), F.col("g")))
      else corpusGrams
    // CONDITIONAL broadcast on the confirm join: an unconditional
    // F.broadcast(grams) capped the indexed path at the 8 GB broadcast
    // limit its in-flight twin decontaminateBloom deliberately avoids,
    // but dropping the hint entirely regressed mid-size gram sets
    // (above spark.sql.autoBroadcastJoinThreshold's 10 MB default, far
    // below the cap) to shuffle joins. Decide from the index's on-disk
    // footprint — already known to the FS, no scan. The bound is a
    // session conf (`graft.decon.broadcastMaxBytes`) because the safe
    // value is a function of DRIVER memory, not of the operator: the
    // 64 MB default (≲15 M parquet longs ≈ a few-hundred-MB hash
    // relation) assumes a production-sized driver (≥2 GB); a
    // memory-tight session sets it lower (or 0 to always let AQE
    // decide), a fat driver raises it.
    val gramsBytes = {
      val gp = new org.apache.hadoop.fs.Path(s"$path/grams")
      val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(gp).filter(_.isFile).map(_.getLen).sum
    }
    val broadcastMax = spark.conf
      .getOption("graft.decon.broadcastMaxBytes").map { v =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft.decon.broadcastMaxBytes must be a byte count in " +
              s"decimal (e.g. 67108864), got '$v'")
        }
      }
      .getOrElse(64L * 1024 * 1024)
    val confirmSide =
      if (gramsBytes <= broadcastMax) F.broadcast(grams) else grams
    pruned.join(confirmSide, "g")
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_shared"))
      .filter(F.col("n_shared") >= minShared)
  }

  /** Corpus SNAPSHOT DIFF: classify every document id across two corpus
    * versions as `added` / `removed` / `changed` / `unchanged` — the
    * primitive behind incremental pipelines (recompute signals only for
    * added+changed docs, retire removed ones) and dataset release notes.
    *
    * Scale shape: each side reduces to (id, fingerprint) — the same
    * 16-byte normalized-content digest [[exact]] dedups on — so the
    * full-outer join shuffles digests, never document bodies; the
    * classification is a null-pattern CASE, pure narrow. Cost: two
    * narrow scans + one id-keyed exchange per side, at any corpus size. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 textCol: String, idCol: String): DataFrame = {
    def keyed(df: DataFrame, fp: String) =
      df.select(F.col(idCol).as("id"),
        TextAnalysis.fingerprint(F.col(textCol)).as(fp))
    keyed(oldDf, "fp_old").join(keyed(newDf, "fp_new")
        .withColumnRenamed("id", "id_new"),
        F.col("id") === F.col("id_new"), "full_outer")
      .select(
        F.coalesce(F.col("id"), F.col("id_new")).as("id"),
        F.when(F.col("fp_old").isNull, "added")
          .when(F.col("fp_new").isNull, "removed")
          .when(F.col("fp_old") === F.col("fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** CORPUS-WIDE duplicated-line statistics (cf. Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for
    * each document, the fraction of its non-blank lines that occur more
    * than once ACROSS THE WHOLE CORPUS — the repetition signal that
    * catches boilerplate (headers, footers, license blocks) which per-doc
    * stats ([[TextAnalysis.gopherStats]]) cannot see. Lines travel as
    * 16-byte md5 digests, so the corpus-wide count is one narrow
    * map-side-combinable groupBy plus a digest-keyed join back — no
    * document bodies ever shuffle. The line-explode subplan feeds both
    * the count and the join side, so the corpus is deliberately scanned
    * TWICE (cheap narrow passes) rather than materializing the exploded
    * line set, which at corpus scale would cost more than the second
    * scan. */
  def corpusDupLines(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val lines = df.select(F.col(idCol).as("id"),
        F.explode(F.filter(F.split(F.col(textCol), "\n"),
          (l: Column) => F.length(F.trim(l)) > 0)).as("line"))
      .select(F.col("id"), F.md5(F.encode(F.col("line"), "UTF-8")).as("lh"))
    val counts = lines.groupBy("lh").agg(F.count(F.lit(1)).as("cnt"))
    lines.join(counts, "lh")
      .groupBy("id")
      .agg(
        (F.sum(F.when(F.col("cnt") > 1, 1L).otherwise(0L)).cast("double")
          / F.count(F.lit(1))).as("frac_dup_corpus"),
        F.count(F.lit(1)).as("n_lines"))
  }

  /** PER-SOURCE boilerplate-line removal (the CCNet/RefinedWeb cleanup
    * step [[corpusDupLines]] only measures): a non-blank line occurring
    * in at least `minDocs` DISTINCT documents of the SAME source is
    * boilerplate (navigation bars, cookie banners, license footers —
    * template text a crawler of that source repeats); every occurrence
    * is removed and each document is rebuilt from its surviving lines
    * (original order and blank lines preserved — blank lines carry
    * formatting, not content, and keeping them makes the rewrite
    * minimal). Returns (id, clean_text, n_removed). Documents with no
    * boilerplate pass through byte-identical.
    *
    * Scale shape: the vote aggregates (source, 16-byte line digest)
    * pairs after a per-doc distinct — text never enters the vote
    * shuffle; the per-document boilerplate set is doc-keyed and bounded
    * by lines-per-document; and the rebuild is one narrow `filter`
    * lambda over the re-split line array (an md5 per line — codegen'd,
    * no second explode). A footer shared by millions of documents fans
    * out only its digest. */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                             sourceCol: String, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lineHash = (l: Column) => F.md5(F.encode(l, "UTF-8"))
    // (id, source, line digest), distinct per doc — a doc repeating its
    // own line votes once (the vote counts DOCUMENTS, not occurrences)
    val lines = df.select(F.col(idCol).as("id"), F.col(sourceCol).as("src"),
        F.explode(F.filter(F.split(F.col(textCol), "\n"),
          (l: Column) => F.length(F.trim(l)) > 0)).as("line"))
      .select(F.col("id"), F.col("src"), lineHash(F.col("line")).as("lh"))
      .distinct()
    val boiler = lines.groupBy("src", "lh")
      .agg(F.count(F.lit(1)).as("_nd"))
      .filter(F.col("_nd") >= minDocs)
      .select("src", "lh")
    // per-document boilerplate digest set (only docs that have any)
    val docBp = lines.join(boiler, Seq("src", "lh"))
      .groupBy("id").agg(F.collect_set("lh").as("bp"))
    df.select(F.col(idCol).as("id"), F.col(textCol).as("text"))
      .join(docBp, Seq("id"), "left")
      .select(F.col("id").as(idCol), F.col("text"),
        F.coalesce(F.col("bp"), F.array().cast("array<string>")).as("bp"))
      .select(F.col(idCol), F.col("bp"),
        F.split(F.col("text"), "\n").as("ls"))
      .select(F.col(idCol), F.col("ls"),
        F.filter(F.col("ls"), (l: Column) =>
          (F.length(F.trim(l)) === 0) ||
            !F.array_contains(F.col("bp"), lineHash(l))).as("kept"))
      .select(F.col(idCol),
        F.array_join(F.col("kept"), "\n").as("clean_text"),
        (F.size(F.col("ls")) - F.size(F.col("kept")))
          .cast("long").as("n_removed"))
  }

  /** WITHIN-document repeated-line removal: keep the FIRST occurrence of
    * each non-blank line, drop later repeats (the in-doc counterpart of
    * [[removeBoilerplateLines]] — catches scraped pages that repeat their
    * own headers/menus between sections). Blank lines are preserved.
    * Returns (id, clean_text, n_removed).
    *
    * Scale shape: a pure NARROW per-row rewrite — zero shuffles, zero
    * joins; the whole operator is one `filter` lambda whose index-i
    * predicate scans the line prefix (`slice(ls, 1, i)`). Per-document
    * cost is O(lines²) worst case on the line ARRAY (bounded by document
    * size, never corpus size); corpus-wide boilerplate needs the voted
    * variant instead. */
  def removeRepeatedLines(df: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    df.select(F.col(idCol), F.split(F.col(textCol), "\n").as("ls"))
      .select(F.col(idCol), F.col("ls"),
        F.filter(F.col("ls"), (l: Column, i: Column) =>
          (F.length(F.trim(l)) === 0) ||
            !F.exists(F.slice(F.col("ls"), F.lit(1), i), (p: Column) => p === l))
          .as("kept"))
      .select(F.col(idCol),
        F.array_join(F.col("kept"), "\n").as("clean_text"),
        (F.size(F.col("ls")) - F.size(F.col("kept")))
          .cast("long").as("n_removed"))

  /** Sign-bit bucket of a vector against one hyperplane set (bit i =
    * sign of dot with plane i), via the native fused-loop f64 dot —
    * double precision end to end, bit-identical to the composable fold
    * (and so to the DuckDB replay oracle); float embeddings widen
    * exactly. */
  private def planeBucket(vecCol: String, planes: Seq[Seq[Double]]): Column = {
    // 1L << i uses only the low 6 shift bits: plane 64+ would ALIAS
    // onto plane (i-64)'s bit weight, silently MERGING sign buckets —
    // recall degrades while the caller believes precision increased
    require(planes.length <= 63,
      s"at most 63 hyperplanes fit one sign-bit bucket word, got " +
        s"${planes.length} — shard planes across multiple bucketing " +
        "passes instead")
    planes.zipWithIndex.map { case (pl, i) =>
      F.when(F.call_function("vec_dot_f64", F.col(vecCol),
          F.array(pl.map(F.lit): _*)) >= 0, F.lit(1L << i))
        .otherwise(F.lit(0L))
    }.reduce(_ + _)
  }

  /** [[verified]] on exact cosine over the candidates' vectors: the
    * embedding family's verify. */
  private def cosineVerified(pairs: DataFrame, df: DataFrame, vecCol: String,
                             idCol: String, threshold: Double,
                             reliable: Boolean): DataFrame =
    verified(pairs, df, idCol, "vec", F.col(vecCol), "cosine",
      (a: Column, b: Column) => F.call_function("vec_cosine_f64", a, b),
      threshold, reliable)
}
