package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Sequence packing for pre-training: concatenate documents in a
  * deterministic order and chunk the token stream into fixed-capacity
  * context windows (the GPT-style concat-and-chunk batching step). Each
  * document gets its absolute token position in the packed stream plus
  * the chunk range it lands in — everything a loader needs to emit
  * packed windows.
  *
  * Scale design: the global running token total is a prefix sum, which
  * would naively be ONE window over a total order — a single-task
  * straggler on a corpus. Instead, a two-level prefix sum: (1) per-shard
  * cumulative sums run in parallel (shards are ranges of the order key,
  * so shard order IS global order); (2) shard TOTALS — `rows / span`
  * rows, millions of times smaller than the corpus — get their own tiny
  * ordered window and broadcast back as per-shard offsets. The only
  * single-partition step touches one narrow row per shard, bounded by
  * construction (pick `shardSpan` so `maxOrderKey / shardSpan` stays in
  * the low millions at any corpus size).
  */
object Pack {

  /** Assign packed-stream positions and chunk ranges.
    *
    * @param orderCol  integral, unique, and the packing order (doc id)
    * @param tokensCol per-document token count
    * @param capacity  context-window length in tokens
    * @param shardSpan width of each order-key range that forms a
    *                  parallel prefix-sum shard
    * @return (orderCol, start_pos, chunk_first, chunk_last,
    *         offset_in_chunk) — `chunk_last` spans multi-chunk documents;
    *         empty documents collapse to their start chunk
    */
  def concatChunk(df: DataFrame, orderCol: String, tokensCol: String,
                  capacity: Long, shardSpan: Long = 1L << 20): DataFrame = {
    require(capacity > 0 && shardSpan > 0)
    // integral order key, checked loudly up front: a fractional or string
    // key would silently range-shard in cast order and misorder the pack
    df.schema.find(_.name.equalsIgnoreCase(orderCol)).map(_.dataType).foreach {
      // IntegralType is private[sql] (Spark 4) — enumerate the widths
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"concatChunk() requires an integral order column; '$orderCol' is $other")
    }
    val wDoc = Window.partitionBy("_shard").orderBy(F.col(orderCol))
    // duplicate order keys would silently overlap packed positions (the
    // cumulative RANGE frame includes peer rows); a lag over the SAME
    // window spec detects them at execution time for free (duplicates
    // always share a shard), and assert_true raises instead of
    // corrupting the stream — folded into the sum so pruning can't drop it
    val dup = F.coalesce(
      F.lag(F.col(orderCol), 1).over(wDoc) === F.col(orderCol), F.lit(false))
    val local = df
      .select(F.col(orderCol), F.col(tokensCol).cast("long").as("_tok"))
      .withColumn("_shard", F.expr(s"CAST($orderCol AS BIGINT) div $shardSpan"))
      .withColumn("_local_end",
        F.sum("_tok").over(wDoc) + F.coalesce(
          F.assert_true(!dup,
            F.lit(s"concatChunk: duplicate '$orderCol' order key — " +
              "packed positions would overlap")).cast("long"),
          F.lit(0L)))
    val totals = local.groupBy("_shard").agg(F.sum("_tok").as("_total"))
    // one narrow row per shard: this window is the bounded sequential step
    val wShard = Window.orderBy("_shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("_offset", F.coalesce(F.sum("_total").over(wShard), F.lit(0L)))
      .select("_shard", "_offset")
    local.join(F.broadcast(offsets), "_shard")
      .withColumn("_end", F.col("_local_end") + F.col("_offset"))
      .withColumn("_start", F.col("_end") - F.col("_tok"))
      .select(F.col(orderCol),
        F.col("_start").as("start_pos"),
        F.expr(s"_start div $capacity").as("chunk_first"),
        F.expr(s"greatest(_end - 1, _start) div $capacity").as("chunk_last"),
        F.pmod(F.col("_start"), F.lit(capacity)).as("offset_in_chunk"))
  }

  /** Sliding-window chunking WITHIN each document: split the token
    * stream into windows of `window` tokens every `stride` tokens
    * (overlap = `window - stride`) — the per-document context-window
    * prep for embedding models and RAG ingest, where chunks must not
    * cross document boundaries (vs [[concatChunk]]'s cross-document
    * packed stream). Tokenization preserves case — chunks are payload
    * text, not analysis keys.
    *
    * Pure narrow explode: each row expands to ceil(tokens/stride)
    * chunk rows with no shuffle, so it scales with input splits. The
    * expansion factor is bounded by `window/stride` ≈ the overlap
    * ratio, not by document size. */
  /** TOKEN-BUDGET truncation: clip every document to its first
    * `maxTokens` whitespace tokens — the context-length cap applied
    * before packing (a document longer than the window otherwise
    * dominates whichever chunk it lands in). The clipped text is
    * single-space rejoined (the [[graft.operators.Dedup.removeDuplicatedNgrams]]
    * rebuild convention — whitespace normalizes on rewrite, replayable
    * byte-for-byte by the oracle). Returns (idCol, clipped_text,
    * n_dropped); documents at or under budget pass through with
    * n_dropped = 0. Pure narrow per-row rewrite — zero shuffles. */
  def truncateTokens(df: DataFrame, textCol: String, idCol: String,
                     maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    df.select(F.col(idCol),
        TextAnalysis.tokens(F.col(textCol)).as("_toks"))
      .select(F.col(idCol),
        F.concat_ws(" ",
          F.slice(F.col("_toks"), 1, maxTokens)).as("clipped_text"),
        F.greatest(F.size(F.col("_toks")) - maxTokens, F.lit(0))
          .cast("long").as("n_dropped"))
  }

  /** Next-fit WHOLE-document packing: assign every document to a
    * fixed-token-budget bin without ever splitting a document — the
    * packing used for SFT/eval examples, where a document straddling
    * two context windows is a corrupted example (contrast
    * [[concatChunk]], which splits freely for pre-training). Documents
    * are sharded by the engine-portable [[Dedup.md5Hash60]] of their id
    * (so bin ids are stable across reruns and replayable by a
    * differential oracle), ordered by id within a shard, and folded
    * next-fit: a new bin opens when the running total would exceed
    * `budget`; an over-budget document occupies a bin alone.
    *
    * Scale design: the fold is inherently sequential, so the
    * sequential unit is the SHARD, not the corpus — `numShards` shards
    * pack in parallel, each a bounded `collect_list` (corpus/numShards
    * docs; pick numShards so a shard's (id, ntok) pairs — ~16 bytes/doc
    * — fit an executor, e.g. 1M shards at 100 TB). The per-shard fold is
    * a codegen'd native expression ([[graft.functions.NextFitBinsExpr]])
    * — one linear pass, not an O(n²) `aggregate`+`array_append` HOF
    * chain. One shuffle (the groupBy), then narrow. Returns
    * (doc_id, shard, bin, ntok); bins are 0-based per shard. */
  def nextFitPack(df: DataFrame, idCol: String, tokensCol: Column,
                  budget: Int, numShards: Int = 64): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    df.select(F.col(idCol).cast("long").as("doc_id"),
        tokensCol.cast("long").as("ntok"))
      .withColumn("shard",
        (Dedup.md5Hash60(F.col("doc_id").cast("string")) % numShards)
          .cast("int"))
      .groupBy("shard")
      .agg(F.sort_array(F.collect_list(F.struct(
        F.col("doc_id"), F.col("ntok")))).as("_ds"))
      .withColumn("_bins", F.call_function("next_fit_bins",
        F.transform(F.col("_ds"), d => d.getField("ntok")), F.lit(budget)))
      .select(F.col("shard"),
        F.explode(F.arrays_zip(F.col("_ds"), F.col("_bins"))).as("_z"))
      .select(F.col("_z._ds.doc_id").as("doc_id"), F.col("shard"),
        F.col("_z._bins").as("bin"), F.col("_z._ds.ntok").as("ntok"))
  }

  /** First-fit-decreasing (FFD) whole-document packing — the
    * padding-MINIMIZING companion of [[nextFitPack]]: documents sort
    * largest-first within their shard and each goes into the FIRST open
    * bin it fits (11/9·OPT+1 guarantee), so bins pack tighter and a
    * fixed corpus trains in fewer padded windows. The trade: FFD needs
    * the whole shard up front and keeps every open bin's fill, so it is
    * the batch-curation packer; next-fit is the streaming-ingest one
    * (O(1) state, order-preserving).
    *
    * Same scale shape as [[nextFitPack]]: md5-sharded, one shuffle,
    * per-shard fold as the codegen'd native
    * [[graft.functions.FfdBinsExpr]] (which also REJECTS unsorted
    * input rather than silently losing the guarantee). Returns
    * (doc_id, shard, bin, ntok); bins are 0-based per shard, ordered by
    * (ntok desc, doc_id) — deterministic, so a differential oracle
    * replays the exact placement. */
  def ffdPack(df: DataFrame, idCol: String, tokensCol: Column,
              budget: Int, numShards: Int = 64): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    df.select(F.col(idCol).cast("long").as("doc_id"),
        tokensCol.cast("long").as("ntok"))
      .withColumn("shard",
        (Dedup.md5Hash60(F.col("doc_id").cast("string")) % numShards)
          .cast("int"))
      .groupBy("shard")
      // leading negated count sorts the struct (ntok desc, doc_id asc)
      .agg(F.sort_array(F.collect_list(F.struct(
        (-F.col("ntok")).as("negtok"), F.col("doc_id"), F.col("ntok"))))
        .as("_ds"))
      .withColumn("_bins", F.call_function("ffd_bins",
        F.transform(F.col("_ds"), d => d.getField("ntok")), F.lit(budget)))
      .select(F.col("shard"),
        F.explode(F.arrays_zip(F.col("_ds"), F.col("_bins"))).as("_z"))
      .select(F.col("_z._ds.doc_id").as("doc_id"), F.col("shard"),
        F.col("_z._bins").as("bin"), F.col("_z._ds.ntok").as("ntok"))
  }

  def slidingChunks(df: DataFrame, textCol: String, idCol: String,
                    window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0,
      s"window and stride must be positive, got window=$window stride=$stride")
    val toks = TextAnalysis.tokens(F.col(textCol))
    df.select(F.col(idCol), toks.as("_toks"))
      .filter(F.size(F.col("_toks")) > 0)
      .select(F.col(idCol), F.col("_toks"),
        F.explode(F.sequence(F.lit(0), F.size(F.col("_toks")) - 1,
                             F.lit(stride))).as("start"))
      .select(F.col(idCol), F.col("start").cast("long").as("start"),
        F.array_join(F.slice(F.col("_toks"), F.col("start") + 1, F.lit(window)),
                     " ").as("chunk_text"),
        F.least(F.lit(window), F.size(F.col("_toks")) - F.col("start"))
          .cast("long").as("n_tokens"))
  }

  /** Content-defined chunking (CDC): split each document's token stream
    * at positions where the hash of the trailing `k`-gram is ≡ 0 mod
    * `modulus` — boundaries are a function of CONTENT, not offsets, so
    * an insertion early in a document shifts only the chunk it lands in
    * and chunk-level dedup still matches everything downstream (the
    * rsync/LBFS boundary trick, here at token granularity for corpus
    * near-dedup). Expected chunk length ≈ `modulus` tokens; a final
    * boundary is forced at the document end.
    *
    * Pure narrow array expressions (one md5 per token position, one
    * slice per chunk) — no shuffle, scales with input splits. The hash
    * is the engine-portable [[Dedup.md5Hash60]], so an oracle replays
    * the exact boundary set. */
  def cdcChunks(df: DataFrame, textCol: String, idCol: String,
                k: Int = 3, modulus: Int = 16): DataFrame = {
    require(k >= 1 && modulus >= 1,
      s"k and modulus must be positive, got k=$k modulus=$modulus")
    import graft.functions.ExprUtils.let
    val base = df
      .select(F.col(idCol), TextAnalysis.tokens(F.col(textCol)).as("_toks"))
      .filter(F.size(F.col("_toks")) > 0)
    // the per-position gram hashing runs through the native one-pass
    // cdc_bounds (incremental digest, no per-position string allocation
    // — parity-spec'd against the composable boundary rule)
    val chunks = let(F.col("_toks")) { tk =>
      // forced end-of-doc included
      let(F.call_function("cdc_bounds", tk, F.lit(k), F.lit(modulus))) { ends =>
        let(F.concat(F.array(F.lit(0)),
                     F.slice(ends, F.lit(1), F.size(ends) - 1))) { starts =>
          F.transform(F.sequence(F.lit(0), F.size(ends) - 1),
            (j: Column) => F.struct(
              j.as("chunk_id"),
              F.element_at(starts, j + 1).as("start"),
              (F.element_at(ends, j + 1) - F.element_at(starts, j + 1))
                .as("n_tokens"),
              F.array_join(F.slice(tk, F.element_at(starts, j + 1) + 1,
                F.element_at(ends, j + 1) - F.element_at(starts, j + 1)),
                " ").as("chunk_text")))
        }
      }
    }
    base.select(F.col(idCol), F.explode(chunks).as("c"))
      .select(F.col(idCol),
        F.col("c.chunk_id").cast("long").as("chunk_id"),
        F.col("c.start").cast("long").as("start"),
        F.col("c.n_tokens").cast("long").as("n_tokens"),
        F.col("c.chunk_text").as("chunk_text"))
  }

  /** Chunk-level duplication statistics — what [[cdcChunks]] exists FOR:
    * because boundaries are content-defined, a paragraph pasted into
    * many documents yields the same chunks everywhere, so "share of my
    * chunks that occur elsewhere in the corpus" measures partial
    * duplication that document-level dedup misses (the chunk analog of
    * Lee et al.'s duplicate-line statistics).
    *
    * Scale shape: one narrow chunking pass, one md5-digest-keyed count
    * aggregation (16-byte digests shuffle, never chunk text), one
    * digest-keyed join back, one per-document re-aggregation. The chunk
    * frame feeds both the frequency count AND the join, so it is staged
    * lazily (one chunking pass — the repo's standard fan-out fix). The
    * ratio is integral (IEEE-exact), oracle-replayable unrounded. */
  def chunkDupStats(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 3, modulus: Int = 16): DataFrame = {
    val chunks = cdcChunks(df, textCol, idCol, k, modulus)
      .select(F.col(idCol), F.md5(F.encode(F.col("chunk_text"), "UTF-8"))
        .as("_digest"))
      .localCheckpoint(false)
    val freq = chunks.groupBy("_digest").agg(F.count(F.lit(1)).as("_n"))
    chunks.join(freq, "_digest")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_chunks"),
           F.sum(F.when(F.col("_n") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        F.col("n_dup_chunks").cast("double") / F.col("n_chunks").cast("double"))
  }
}
