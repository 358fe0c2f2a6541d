package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.Row

/** A user event for stateful sessionization. */
case class SessionEvent(user_id: Long, ts_us: Long, value: Double)
/** A user event carrying a real event-time column, for watermark-driven
  * (EventTimeTimeout) sessionization. */
case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
/** Open-session state carried across micro-batches. */
case class SessionState(sessionId: Long, startUs: Long, lastTsUs: Long,
                        nEvents: Long, sumValue: Double)
/** A closed (or batch-final) session. */
case class UserSession(user_id: Long, session_id: Long, n_events: Long,
                       sum_value: Double, start_us: Long, end_us: Long)
/** A document to pack, pre-sharded (see [[Streams.nextFitPackStream]]). */
case class PackDoc(shard: Int, doc_id: Long, ntok: Long)
/** Open-bin state per shard: current bin index and its token fill. */
case class PackState(bin: Int, acc: Long)
/** A packed document: its bin assignment within its shard. */
case class PackedDoc(doc_id: Long, shard: Int, bin: Int, ntok: Long)

/** Structured-streaming surface of the engine.
  *
  * The reference has no streaming at all (SURVEY §2.5); this is the
  * engine's scale-path extension for continuous ingestion: file-source
  * streams over the same parquet layout, watermarked tumbling-window
  * aggregation, and an idempotent parquet sink. The batch twins of these
  * transforms (see [[windowedCounts]]) run in the correctness gate; the
  * streaming wrapper reuses the identical expression tree, which is the
  * point — one logical plan, micro-batched by the engine.
  */
object Streams {

  /** Unpersist session-lifetime caches when the named query terminates,
    * then deregister — the shared cache-release discipline of the
    * decontamination sinks (their eval-set frames persist across every
    * micro-batch; re-staging per batch would make latency track the
    * never-changing eval-harness size, while never releasing would
    * leak the cache past the stream's life). */
  private def releaseOnTermination(
      streams: org.apache.spark.sql.streaming.StreamingQueryManager,
      qName: String, caches: Seq[Dataset[_]]): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    streams.addListener(new StreamingQueryListener {
      private val watched =
        new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == qName) watched.set(e.id)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == watched.get()) {
          caches.foreach(_.unpersist(false): Unit)
          streams.removeListener(this)
        }
    })
  }

  /** Windowed event aggregation (tumbling, or SLIDING when `slide` is
    * set) — the transform, usable on either a batch or a streaming
    * DataFrame (identical semantics; Spark plans stateful windows when
    * the input is streaming). */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
                     slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(
        slide.fold(F.window(F.col("ts"), windowLength))(s =>
          F.window(F.col("ts"), windowLength, s)),
        F.col("event_type"))
      .agg(
        F.count(F.lit(1)).as("n_events"),
        F.round(F.sum("value"), 4).as("sum_value"))
      .select(
        F.col("window.start").as("window_start"),
        F.col("event_type"), F.col("n_events"), F.col("sum_value"))

  /** Gap-based sessionization, batch flavor: exact, set-oriented, fully
    * expressible with window functions (a new session starts when the gap
    * to the previous event exceeds `gapUs`). One shuffle on user_id; the
    * per-user sort is bounded by a user's event count, so this scales to
    * arbitrarily many users (skewed single users are the limit — cap or
    * salt those upstream). */
  def sessionizeBatch(events: DataFrame, gapUs: Long = 30L * 60 * 1000000): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("ts_us"), F.col("value"))
      .withColumn("new_session",
        F.when(F.col("ts_us") - F.lag("ts_us", 1).over(byUser) > gapUs, 1)
          .otherwise(F.lit(0)))
      .withColumn("session_id", F.sum("new_session").over(byUser))
      .groupBy("user_id", "session_id")
      .agg(
        F.count(F.lit(1)).as("n_events"),
        F.round(F.sum("value"), 4).as("sum_value"),
        F.min("ts_us").as("start_us"),
        F.max("ts_us").as("end_us"))
  }

  /** Gap-based sessionization, streaming flavor: per-user state via
    * flatMapGroupsWithState. Sessions close when the event-time gap is
    * exceeded (or at state timeout in a real deployment). The batch twin
    * is [[sessionizeBatch]]; this one is incremental — state is one
    * (sessionId, lastTs, counters) record per active user, so memory is
    * O(active users), not O(events). */
  def sessionizeStream(events: Dataset[SessionEvent],
                       gapUs: Long = 30L * 60 * 1000000): Dataset[UserSession] = {
    implicit val outEnc = Encoders.product[UserSession]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evts: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = evts.toSeq.sortBy(_.ts_us)
          var st = state.getOption.getOrElse(
            SessionState(0L, Long.MinValue, Long.MinValue, 0L, 0.0))
          val closed = Seq.newBuilder[UserSession]
          sorted.foreach { e =>
            if (st.nEvents > 0 && e.ts_us - st.lastTsUs > gapUs) {
              closed += UserSession(userId, st.sessionId, st.nEvents,
                st.sumValue, st.startUs, st.lastTsUs)
              st = SessionState(st.sessionId + 1, e.ts_us, e.ts_us, 1L, e.value)
            } else if (st.nEvents == 0) {
              st = SessionState(st.sessionId, e.ts_us, e.ts_us, 1L, e.value)
            } else {
              st = st.copy(lastTsUs = e.ts_us,
                nEvents = st.nEvents + 1, sumValue = st.sumValue + e.value)
            }
          }
          state.update(st)
          closed.result().iterator
      }
  }

  /** Streaming next-fit packing ingest — the incremental twin of
    * [[graft.operators.Pack.nextFitPack]]: documents land in a drop
    * folder, each micro-batch extends the per-shard open bin instead of
    * re-packing the corpus. State is ONE (bin, acc) pair per shard —
    * O(shards) memory regardless of corpus size — and a bin straddling
    * two micro-batches continues filling, which is exactly the
    * cross-batch state a restart must recover from the checkpoint.
    *
    * Equality contract with the batch fold: next-fit is ORDER-DEFINED,
    * so the stream must deliver documents in doc_id order per shard
    * across batches (stage ascending doc_id-range files with ascending
    * mtimes — the file source drains oldest-first); within a batch the
    * per-shard iterator is sorted here. Under that contract the result
    * equals the batch [[graft.operators.Pack.nextFitPack]] EXACTLY
    * (same gate oracle: the q217 recursive-CTE bin walk). */
  def nextFitPackStream(docs: Dataset[PackDoc], budget: Long): Dataset[PackedDoc] = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    implicit val outEnc = Encoders.product[PackedDoc]
    implicit val stateEnc = Encoders.product[PackState]
    implicit val keyEnc = Encoders.scalaInt
    docs
      .groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, ds: Iterator[PackDoc], state: GroupState[PackState]) =>
          val sorted = ds.toSeq.sortBy(_.doc_id)
          var st = state.getOption.getOrElse(PackState(0, 0L))
          val out = Seq.newBuilder[PackedDoc]
          sorted.foreach { d =>
            st =
              if (st.acc > 0 && st.acc + d.ntok > budget)
                PackState(st.bin + 1, d.ntok)
              else PackState(st.bin, st.acc + d.ntok)
            out += PackedDoc(d.doc_id, shard, st.bin, d.ntok)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Gap-based sessionization with WATERMARK-DRIVEN session closing:
    * unlike [[sessionizeStream]] (which closes a session only when the
    * same user's next event arrives), an idle user's open session closes
    * when the event-time watermark passes `lastEvent + gap` — via
    * `GroupStateTimeout.EventTimeTimeout`, the mechanism a production
    * pipeline needs so abandoned sessions drain instead of pinning state
    * forever.
    *
    * STATE BOUND — two documented modes, and `timeIds` has NO DEFAULT
    * on purpose (round 18): the two modes write INCOMPATIBLE id
    * encodings and state-maintenance regimes into a streaming
    * checkpoint, so a default that library upgrades can flip (round 17
    * flipped false→true) would silently change session_id semantics
    * mid-stream for any caller that omitted the flag — a resumed query
    * would switch encodings and drop the counter-tombstone maintenance
    * under downstream joins keyed on session_id. Choosing is one
    * argument; choose per the paragraphs below and NEVER change the
    * choice for a query resuming an existing checkpoint:
    *   - `timeIds = true` (bounded state, the 100 TB open-world
    *     choice): a session's id is
    *     its start event-time in MICROSECONDS. Closed sessions
    *     `state.remove()` entirely, so state is one row per user with
    *     an OPEN session inside the watermark horizon — O(active
    *     users), regardless of lifetime cardinality. Continuity across
    *     eviction is structural, not remembered: the watermark admits
    *     no event below it, a session only closes once the watermark
    *     passes lastTs + gap, so a returning user's next session starts
    *     at an event-time strictly above every previous session's
    *     start — (user, session_id) keys can never repeat and ids stay
    *     globally increasing (spec-pinned across an eviction).
    *     Q36-TWIN CONTRACT: per-session aggregates (n_events,
    *     sum_value, start_us, end_us) are IDENTICAL to the batch
    *     [[sessionizeBatch]] twin; only the id encoding differs — join
    *     the twin on (user_id, start_us) instead of session_id.
    *   - `timeIds = false` (opt-in, exact batch-twin id parity):
    *     session ids are the batch twin's 0..n per-user counters, which
    *     REQUIRES a counter tombstone — timed-out session aggregates
    *     are dropped but one tiny row per user EVER SEEN survives so a
    *     returning user's ids keep increasing (removing it reused
    *     (user, session_id) keys and diverged from the batch twin). A
    *     deliberate unbounded-in-user-cardinality tradeoff: at 10⁹
    *     lifetime users that is ~40 GB of state store. For consumers
    *     that join the batch twin on session_id and have a bounded
    *     user population; wrong for an open-world feed. */
  def sessionizeStreamEventTime(events: Dataset[TimedEvent],
                                gapUs: Long = 30L * 60 * 1000000,
                                timeIds: Boolean): Dataset[UserSession] = {
    // ONE duration drives both the watermark delay and the split/timeout
    // arithmetic — two independently-overridable forms would let a caller
    // silently desynchronize session-closing semantics. Microsecond units
    // so no truncation at any gap (gapUs/1000 ms would floor a 500µs gap
    // to a zero-delay watermark).
    val gap = s"$gapUs microseconds"
    implicit val outEnc = Encoders.product[UserSession]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val keyEnc = Encoders.scalaLong
    events.toDF()
      .withWatermark("ts", gap)
      .as[TimedEvent](Encoders.product[TimedEvent])
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evts: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs+gap with no new events: close the
            // session. Counter mode keeps a COUNTER TOMBSTONE —
            // state.remove() restarted the per-user counter, so a
            // returning user's next close re-emitted an already-used
            // (user, session_id) key and diverged from the batch twin
            // (which numbers all of a user's sessions 0..n). The
            // tombstone is one tiny row per user ever seen, with NO
            // timeout set so it never fires again; the next event
            // resumes at nEvents == 0 with the pre-incremented id.
            // timeIds mode needs no memory of closed users (the id IS
            // the start time) — remove outright, state stays O(open
            // sessions).
            val st = state.get
            if (timeIds) state.remove()
            else state.update(SessionState(st.sessionId + 1, Long.MinValue,
              Long.MinValue, 0L, 0.0))
            Iterator.single(UserSession(userId, st.sessionId, st.nEvents,
              st.sumValue, st.startUs, st.lastTsUs))
          } else {
            // exact microseconds: getTime floors to ms, the nanos field
            // carries the sub-ms part
            val sorted = evts
              .map(e => (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L,
                e.value))
              .toSeq.sortBy(_._1)
            var st = state.getOption.getOrElse(
              SessionState(0L, Long.MinValue, Long.MinValue, 0L, 0.0))
            val closed = Seq.newBuilder[UserSession]
            sorted.foreach { case (tsUs, value) =>
              if (st.nEvents > 0 && tsUs - st.lastTsUs > gapUs) {
                closed += UserSession(userId, st.sessionId, st.nEvents,
                  st.sumValue, st.startUs, st.lastTsUs)
                st = SessionState(if (timeIds) tsUs else st.sessionId + 1,
                  tsUs, tsUs, 1L, value)
              } else if (st.nEvents == 0) {
                st = SessionState(if (timeIds) tsUs else st.sessionId,
                  tsUs, tsUs, 1L, value)
              } else {
                st = st.copy(lastTsUs = tsUs,
                  nEvents = st.nEvents + 1, sumValue = st.sumValue + value)
              }
            }
            state.update(st)
            // the timeout API is ms-resolution: CEIL so a session can
            // only close at-or-after lastTs+gap, never early (flooring
            // would fire up to 1ms before the gap elapses and diverge
            // from the batch twin on sub-ms gaps)
            state.setTimeoutTimestamp((st.lastTsUs + gapUs + 999L) / 1000L)
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join: match each left event with right events
    * for the same key whose event time falls in
    * `[leftTs - lookback, leftTs]` — the streaming twin of a bounded as-of
    * window (attribution: click ← purchases within the last N minutes).
    * Both sides are watermarked, so Spark bounds the join state buffers:
    * a right row is dropped once the left watermark passes its timestamp
    * plus the lookback, and vice versa — state is O(events in the
    * lookback window), not O(stream). Columns are prefixed `l_`/`r_`. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, lookback: String = "30 minutes",
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(left.columns.map(c => F.col(c).as(s"l_$c")): _*)
    val r = right.withWatermark(tsCol, watermark)
      .select(right.columns.map(c => F.col(c).as(s"r_$c")): _*)
    l.join(r,
      F.col(s"l_$keyCol") === F.col(s"r_$keyCol") &&
        F.col(s"r_$tsCol") <= F.col(s"l_$tsCol") &&
        F.col(s"r_$tsCol") >= F.col(s"l_$tsCol") - F.expr(s"INTERVAL $lookback"))
  }

  /** Streaming exact dedup: drop rows whose key was already seen within
    * the watermark horizon — the continuous-ingestion twin of
    * [[graft.operators.Dedup.exact]] (dedup a document/event feed as it
    * lands instead of re-scanning the corpus). State is one entry per
    * distinct key inside the horizon and is EVICTED once the event-time
    * watermark passes (`dropDuplicatesWithinWatermark`), so memory is
    * bounded by key arrival rate × horizon, not by stream length. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming near-duplicate CANDIDATE pairs — dedup-at-ingest, the
    * continuous twin of [[graft.operators.Dedup.minhashLsh]]'s candidate
    * stage. Each arriving document's minhash band keys (same banding
    * expression, same hashes) key into per-bucket state holding the
    * bucket's member ids; every (existing, new) pair in a bucket emits
    * exactly once, when the later document arrives — so the emitted pair
    * SET equals the batch pipeline's uncapped candidate set however the
    * stream is micro-batched (spec-pinned). State per bucket is the
    * member list, capped at `maxBucket`: a mega-bucket of boilerplate
    * stops emitting and stops growing (the streaming analog of the batch
    * [2, maxBucket] cap — streaming cannot retract already-emitted
    * pairs, so the cap truncates instead of dropping; at the default cap
    * the two diverge only on mega-buckets, which batch drops entirely).
    * `stateTtl` (processing-time) evicts idle buckets so BUCKET state is
    * bounded by active-bucket arrival rate, not stream length.
    *
    * Pairs shared by several buckets are deduplicated downstream with
    * streaming `dropDuplicates` when `dedupPairs = true` — whose dedup
    * state grows with every pair ever emitted and is therefore only for
    * BOUNDED runs (backfills, Trigger.AvailableNow, the oracle gate).
    * For an unbounded ingest stream set `dedupPairs = false` and treat
    * pair emissions as idempotent upserts at the sink (a pair repeats
    * only when it shares several buckets, or when `stateTtl` evicted a
    * bucket a member later re-enters) — one of the two states must be
    * unbounded to guarantee global exactly-once pairs, so the choice is
    * explicit rather than hidden. Works identically on a batch frame
    * (state starts empty, one "batch"), which is how the spec pins it to
    * the batch pipeline. */
  def minhashCandidatesStream(docs: DataFrame, textCol: String, idCol: String,
                              numBands: Int = 4, rowsPerBand: Int = 8,
                              shingleN: Int = 1, maxBucket: Int = 64,
                              stateTtl: Option[String] = None,
                              dedupPairs: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // integral ids only, checked loudly up front: the silent cast below
    // would null out string ids and drop every pair (same fail-fast
    // contract as Dedup.clusters and Pack.concatChunk)
    docs.schema.find(_.name.equalsIgnoreCase(idCol)).map(_.dataType).foreach {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"minhashCandidatesStream() requires an integral id column; '$idCol' is $other " +
        "(hash string ids to int64 upstream)")
    }
    val bandKeys = graft.operators.Dedup.lshBandKeys(
      F.col(textCol), numBands, rowsPerBand, shingleN)
    val banded = docs.filter(F.col(textCol).rlike("\\S"))
      .select(F.col(idCol).cast("long").as("id"),
        F.posexplode(bandKeys).as(Seq("band", "bucket")))
      .select(F.concat_ws("|", F.col("band"), F.col("bucket")).as("bkey"),
        F.col("id"))
      .as[(String, Long)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val pairs = banded
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append, timeoutConf) { (_, rows, state: GroupState[Seq[Long]]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          var members = state.getOption.getOrElse(Seq.empty)
          // sorted + deduped: the emitted pair set must not depend on
          // how the micro-batcher split the stream
          val fresh = rows.map(_._2).toSeq.distinct.sorted
            .filterNot(members.contains)
          val out = Seq.newBuilder[(Long, Long)]
          fresh.foreach { id =>
            if (members.size < maxBucket) {
              members.foreach { m =>
                out += (if (m < id) (m, id) else (id, m))
              }
              members = members :+ id
            }
          }
          state.update(members)
          stateTtl.foreach(state.setTimeoutDuration)
          out.result().iterator
        }
      }
      .toDF("id_a", "id_b")
    if (dedupPairs) pairs.dropDuplicates("id_a", "id_b") else pairs
  }

  /** Funnel step-event COMPACTION at ingest: filter the stream to the
    * funnel's step types and project the three narrow chain columns
    * (user, type, epoch-µs) into a compacted log. Stateless per batch —
    * each event's keep/project decision depends on that event alone, so
    * the compacted log equals the batch filter EXACTLY regardless of
    * how the micro-batcher splits the stream (the q121 at-ingest
    * pattern), and one oracle gates both paths. The full conversion
    * chain then runs as the batch operator
    * ([[graft.operators.EventAnalytics.funnelCounts]]) over the
    * compacted log — at 100 TB of raw events the log is the step
    * types' tiny fraction of the stream, which is the point: the
    * heavy stream never lands, only the funnel-relevant slice does. A
    * to-the-second LIVE funnel would instead hold per-user chain state
    * in update mode; this twin targets exact batch parity. */
  def funnelLogToParquet(events: DataFrame, userCol: String,
                         typeCol: String, tsCol: String,
                         steps: Seq[String], outPath: String,
                         checkpoint: String): DataStreamWriter[Row] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import org.apache.spark.sql.{functions => F}
    toParquetSink(
      events.filter(F.col(typeCol).isin(steps: _*))
        .select(F.col(userCol), F.col(typeCol),
          F.unix_micros(F.col(tsCol)).as("us")),
      outPath, checkpoint)
  }

  /** Decontamination AT INGEST: run [[graft.operators.Dedup.decontaminate]]
    * per micro-batch against a STATIC eval set, appending flagged
    * (id, n_shared) rows to parquet. `n_shared` is a PER-DOCUMENT
    * statistic over the static gram set, so per-batch evaluation is
    * exactly the batch semantics regardless of how the micro-batcher
    * splits the stream (each document's grams arrive together) — zero
    * stream state, no watermark, and the batch operator is reused
    * verbatim, which is what lets one oracle gate both paths. The
    * contamination check thus happens BEFORE a document ever lands in
    * the corpus instead of as an after-the-fact sweep. */
  def decontaminateToParquet(docs: DataFrame, textCol: String, idCol: String,
                             evalSet: DataFrame, evalTextCol: String,
                             outPath: String, checkpoint: String,
                             k: Int = 3, minShared: Int = 2): DataStreamWriter[Row] = {
    // the static side is derived and persisted ONCE — rebuilding the
    // eval gram set per micro-batch would make batch latency track the
    // (never-changing) eval harness size. The cache is released when the
    // query terminates, via a listener keyed on the query name below
    // (callers that override queryName take back session-lifetime
    // responsibility for the cache).
    val evalGrams = graft.operators.Dedup
      .evalGramsOf(evalSet, evalTextCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qName =
      s"graft_decontaminate_${java.util.UUID.randomUUID().toString.take(8)}"
    val streams = docs.sparkSession.streams
    releaseOnTermination(streams, qName, Seq(evalGrams))
    docs.writeStream
      .queryName(qName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch directory + overwrite = idempotent replay: if the
        // stream dies between the parquet commit and the checkpoint
        // commit, the re-run batch OVERWRITES its own output instead of
        // appending duplicates (exactly-once, like toParquetSink).
        // repartition(1) guarantees a schema-bearing part file even for
        // zero-flagged batches (AQE can otherwise emit NO files, and a
        // downstream read of outPath would fail schema inference if no
        // batch ever flagged a document)
        graft.operators.Dedup
          .decontaminateAgainstGrams(batch, textCol, idCol, evalGrams,
            minShared, k)
          .repartition(1)
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
  }

  /** FUZZY decontamination AT INGEST: the streaming twin of
    * [[graft.operators.Dedup.minhashLshCross]] — every micro-batch's
    * documents are banded and checked for near-duplicate overlap against
    * a STATIC eval set, appending flagged (corpus_id, eval_id, jaccard)
    * pairs to parquet. The eval side's band keys and shingle hashes are
    * derived ONCE and persisted (released on query termination, like
    * [[decontaminateToParquet]]); each batch pays banding for its own
    * rows only. A document meets the ENTIRE eval side within its batch,
    * so the pair set is a per-document statistic — batch execution IS
    * the batch-twin semantics regardless of micro-batch splits, zero
    * stream state, and one differential oracle (the uncapped cross-pair
    * replay, the q90 precedent) gates both paths. Unlike the batch
    * operator there is no bucket cap: the candidate join is
    * corpus-batch × eval bands, already bounded by the eval set's size.
    *
    * CONTRACT (same as [[decontaminateToParquet]]): the caller must
    * `.start()` the returned writer and must NOT override `queryName` —
    * the eval-side cached frames are released by a termination listener
    * keyed on that name; a never-started or renamed query leaks the
    * cache (and the listener) for the session lifetime. */
  def fuzzyDecontaminateToParquet(docs: DataFrame, textCol: String,
                                  idCol: String,
                                  evalSet: DataFrame, evalTextCol: String,
                                  evalIdCol: String,
                                  outPath: String, checkpoint: String,
                                  numBands: Int = 4, rowsPerBand: Int = 8,
                                  shingleN: Int = 3,
                                  threshold: Double = 0.8): DataStreamWriter[Row] = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def prep(df: DataFrame, text: String, id: String) =
      Dedup.spreadForCompute(df.filter(F.col(text).rlike("\\S")))
        .select(F.col(id).as("eval_id"),
          Dedup.lshBandKeys(F.col(text), numBands, rowsPerBand,
            shingleN).as("bands"),
          Dedup.sortedHashedShingles(F.col(text), shingleN).as("sh"))
    val evalPrep = prep(evalSet, evalTextCol, evalIdCol).persist(level)
    val evalBands = evalPrep.select(F.col("eval_id"),
      F.posexplode(F.col("bands")).as(Seq("band", "bucket"))).persist(level)
    val evalSh = evalPrep.select("eval_id", "sh")
    val qName =
      s"graft_fuzzy_decontaminate_${java.util.UUID.randomUUID().toString.take(8)}"
    val streams = spark.streams
    releaseOnTermination(streams, qName, Seq(evalBands, evalPrep))
    docs.writeStream
      .queryName(qName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one banding+shingle pass over the batch; candidates from the
        // band join against the static side; exact Jaccard confirm
        val bPrep = batch.filter(F.col(textCol).rlike("\\S"))
          .select(F.col(idCol).as("id"),
            Dedup.lshBandKeys(F.col(textCol), numBands,
              rowsPerBand, shingleN).as("bands"),
            Dedup.sortedHashedShingles(F.col(textCol), shingleN).as("sh"))
          .persist(level) // bands AND sh consumed below — one pass,
                          // released when the batch's write lands
        try {
          val cand = bPrep
            .select(F.col("id"),
              F.posexplode(F.col("bands")).as(Seq("band", "bucket")))
            .join(evalBands, Seq("band", "bucket"))
            .select("id", "eval_id").dropDuplicates("id", "eval_id")
          cand
            .join(bPrep.select(F.col("id"), F.col("sh").as("sh_a")), "id")
            .join(evalSh.select(F.col("eval_id"), F.col("sh").as("sh_b")), "eval_id")
            .withColumn("jaccard", Dedup.jaccardSorted(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select(F.col("id").as("corpus_id"), F.col("eval_id"), F.col("jaccard"))
            .repartition(1) // schema-bearing part file even for clean batches
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        } finally bPrep.unpersist(false)
      }
  }

  /** Open a file-source stream over a parquet directory (schema must be
    * supplied for streaming reads; reuse the batch footer schema). */
  def readParquetStream(spark: SparkSession, path: String,
                        maxFilesPerTrigger: Int = 0): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val reader = spark.readStream.schema(schema)
    // >0 caps files per micro-batch — the multi-batch ingest shape (a
    // drop folder draining file by file); 0 = source default (all
    // available files in one batch under AvailableNow)
    val capped =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    capped.parquet(path)
  }

  /** MIXTURE application at INGEST — the streaming twin of
    * [[graft.operators.Scale.sampleToMixture]]: rates are PLANNED once,
    * offline, from a corpus snapshot (`Scale.mixtureRates`) and shipped
    * here as a static table; the keep decision is the same per-document
    * md5 hash against the broadcast rate row, so each micro-batch keeps
    * exactly the documents the batch run would — batch ≡ stream by
    * construction, zero stream state. Compose with [[toParquetSink]]. */
  def sampleMixtureStream(docs: DataFrame, srcCol: String, idCol: Column,
                          rates: DataFrame): DataFrame =
    graft.operators.Scale.applyMixtureRates(docs, srcCol, idCol, rates)

  /** Write an aggregated stream to parquet with checkpointing (exactly-
    * once per micro-batch via the commit log). */
  def toParquetSink(df: DataFrame, outPath: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .format("parquet")

  /** BM25 index INGEST at stream time — the serving-index twin of
    * [[decontaminateToParquet]]: every micro-batch becomes one immutable
    * postings segment plus an atomic manifest-generation commit
    * ([[graft.operators.TextAnalysis.appendBm25Index]]; the first batch
    * creates the index). Because generations swap atomically, the index
    * is ALWAYS queryable while the stream runs — a concurrent
    * `bm25TopKIndexed` reads the last committed generation, never a
    * half-appended batch. After the stream drains, queries equal a
    * batch build over the full corpus (one differential oracle gates
    * both paths).
    *
    * Replay caveat (honest): the segment write is not tied to the
    * checkpoint commit, so a batch replayed after a crash BETWEEN
    * segment commit and checkpoint commit would append its documents
    * twice — dedupe re-ingests via
    * [[graft.operators.Dedup.corpusDiff]] or rebuild the index for
    * exact recovery. Steady-state appends are atomic. */
  def bm25IndexSink(docs: DataFrame, textCol: String, idCol: String,
                    indexPath: String, checkpoint: String,
                    numBuckets: Int = 64): DataStreamWriter[Row] = {
    import graft.operators.TextAnalysis
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // existence probe via the FILESYSTEM (a committed gen-*.txt
        // manifest), never try/catch around the manifest read: a
        // TRANSIENT read error (FS hiccup, listing race) routed the
        // batch to writeBm25Index, whose fresh manifest references
        // ONLY that batch's segment — silently truncating the whole
        // index. Here a transient listing error THROWS and fails the
        // batch (the checkpoint replays it) instead of destroying the
        // index; a manifest dir without any committed generation (a
        // crashed first build) correctly reads as absent.
        val mdir = new org.apache.hadoop.fs.Path(s"$indexPath/manifest")
        val fs = mdir.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        val exists = fs.exists(mdir) && fs.listStatus(mdir).exists { st =>
          val n = st.getPath.getName
          n.startsWith("gen-") && n.endsWith(".txt")
        }
        if (exists) TextAnalysis.appendBm25Index(batch, textCol, idCol, indexPath)
        else TextAnalysis.writeBm25Index(batch, textCol, idCol, indexPath, numBuckets)
      }
  }

  /** Streaming VERSIONED-dataset ingest — the publishing layer's
    * streaming twin: every micro-batch commits as one atomic snapshot
    * version via [[graft.sources.Versioned.commit]] (`append = true`),
    * so a concurrent reader always resolves a fully-committed manifest
    * (never a half-written batch), consumers can pin the version they
    * trained on while the stream keeps ingesting, and the SQL surface
    * (`FOR VERSION AS OF` / DELETE / VACUUM / UPDATE) applies to the
    * live feed unchanged. After a drain of N batches the head version
    * reads back as the batch union exactly.
    *
    * Replay caveat (honest, the [[bm25IndexSink]] one): the manifest
    * commit is not tied to the checkpoint commit, so a batch replayed
    * after a crash in between would commit twice — VACUUM + a keyed
    * dedup on read recovers, or rebuild for exact recovery.
    * Steady-state commits are atomic. */
  def versionedSink(docs: DataFrame, path: String,
                    checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Versioned.commit(batch, path, append = true): Unit
      }

  /** Streaming corpus-statistics ingest: every micro-batch persists its
    * own fixed-width histogram shard
    * ([[graft.operators.Scale.writeHistogramSketches]]) under
    * `path/shard-<batchId>`; [[graft.operators.Scale.mergedQuantiles]]
    * over `path/shard-*` then serves quantiles of everything ingested
    * so far. The sink never merges — histogram counts ADD, so per-batch
    * shards union at read time and the streaming result equals the
    * batch replay exactly (the mergeability property, exercised
    * incrementally). Restarted batches overwrite their own shard
    * (idempotent by batch id — the exactly-once pattern of the other
    * foreachBatch sinks here). */
  def histogramSink(docs: DataFrame, groupCols: Seq[String], valueCol: Column,
                    path: String, checkpoint: String,
                    width: Long = 64): DataStreamWriter[Row] = {
    import graft.operators.Scale
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Scale.writeHistogramSketches(batch, groupCols, valueCol,
          s"$path/shard-$id", width)
      }
  }

  /** STREAMING heavy-hitter ingest — each micro-batch persists its own
    * Misra–Gries sketch shard (idempotent by batch id, overwrite mode —
    * the [[histogramSink]] pattern; each batch IS a shard of the
    * corpus, so [[graft.operators.Scale.mergedHeavyHitters]]' pigeonhole
    * superset argument applies to the per-batch shards verbatim and the
    * merged query over everything ingested equals the batch answer
    * exactly). Zero stream state; candidates accumulate as ≤ k rows per
    * batch. */
  def heavyHitterSink(docs: DataFrame, textCol: String, path: String,
                      checkpoint: String, k: Int): DataStreamWriter[Row] = {
    import graft.operators.Scale
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Scale.writeHeavyHitterSketches(
          batch.withColumn("_shard", F.lit(id.toString)),
          textCol, "_shard", k, s"$path/shard-$id")
      }
  }

  /** STREAMING token-frequency ingest — each micro-batch persists its
    * own seeded count-min sketch shard (idempotent by batch id, the
    * [[histogramSink]]/[[heavyHitterSink]] pattern). CMS tables add
    * cell-wise, so [[graft.operators.Scale.cmsTokenEstimates]] over
    * `path/shard-*` equals the batch answer over everything ingested
    * exactly, and [[graft.operators.Scale.compactCmsSketches]] folds a
    * long-running ingest's segments back to one whenever the store
    * grows. Zero stream state; each shard is depth×width longs. */
  def cmsSink(docs: DataFrame, textCol: String, path: String,
              checkpoint: String, eps: Double = 0.0001,
              confidence: Double = 0.99,
              seed: Int = 42): DataStreamWriter[Row] = {
    import graft.operators.Scale
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Scale.writeCmsSketches(
          batch.withColumn("_shard", F.lit(id.toString)),
          textCol, "_shard", s"$path/shard-$id", eps, confidence, seed)
      }
  }

  /** Streaming TFRecord sink: each micro-batch's partitions write
    * framed tf.Example shards `batch-<id>-part-<pid>.tfrecord` under
    * `path` ([[graft.sources.TfRecord.rowExampleBytes]] — the same
    * column→feature mapping `COPY ... FORMAT tfrecord` uses), closing
    * the stream→trainer handoff: a curation stream lands directly in
    * the files a TF input pipeline reads. Deterministic names make a
    * RESTARTED batch overwrite its own shards (idempotent by batch id,
    * the exactly-once pattern of the other foreachBatch sinks here).
    * Schema validates at sink CONSTRUCTION — a stream that cannot map
    * onto tf.Example features fails before it starts. */
  def tfRecordSink(docs: DataFrame, path: String,
                   checkpoint: String): DataStreamWriter[Row] = {
    val schema = docs.schema
    graft.sources.TfRecord.validateSchema(schema)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // REPLAY SAFETY: remove the batch's shards from any previous
        // (crashed) attempt first. Overwrite-by-filename alone is not
        // idempotent — a replay planned into FEWER partitions (AQE /
        // cluster-size change) overwrites only the low part numbers
        // and the dead attempt's higher shards survive as duplicate
        // training rows; empty partitions also skip writing entirely.
        // The listing/delete (and the shard writes below) go through
        // the Hadoop FileSystem API for the configured path: a
        // driver-local java.io.File cleanup only sees executor-written
        // shards when driver and executors share one filesystem
        // (local mode) — on a real cluster stale shards from a dead
        // attempt would survive it.
        val hconf = batch.sparkSession.sparkContext.hadoopConfiguration
        val dir = new org.apache.hadoop.fs.Path(path)
        val fs = dir.getFileSystem(hconf)
        fs.mkdirs(dir): Unit
        val prefix = f"batch-$id%06d-"
        fs.listStatus(dir)
          .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
          .foreach(st => fs.delete(st.getPath, false): Unit)
        val serConf =
          new org.apache.spark.util.SerializableConfiguration(hconf)
        batch.foreachPartition { it: Iterator[Row] =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val exs = it.map(graft.sources.TfRecord
            .rowExampleBytes(schema, _)).toSeq
          if (exs.nonEmpty) {
            val p = new org.apache.hadoop.fs.Path(path,
              f"batch-$id%06d-part-$pid%05d.tfrecord")
            val out = p.getFileSystem(serConf.value).create(p, true)
            try out.write(graft.sources.TfRecord.tfRecordBytes(exs))
            finally out.close()
          }
        }
      }
  }

  /** Apply a ROW-LEVEL CHANGE FEED (the [[graft.sources.Versioned
    * .changeFeed]] shape: table columns + `_change_type` +
    * `_commit_version`) to another versioned dataset keyed by `keys` —
    * the CDC-REPLICATION consumer: a downstream replica, a serving
    * copy, a feature store stay in sync by applying deltas instead of
    * re-copying snapshots. The feed collapses to its NET effect first
    * (newest of insert / update_postimage / delete per key — preimages
    * are audit, not instructions), then ONE segment-pruned MERGE
    * applies it: deletes drop, updates rewrite, new keys insert.
    * Re-applying the same feed is content-idempotent (the same net
    * values land again), so an at-least-once caller converges. Cost ∝
    * feed size + affected target segments, never the target table. */
  def applyChanges(spark: org.apache.spark.sql.SparkSession,
                   targetPath: String, feed: DataFrame,
                   keys: Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.api.Col
    import graft.api.Col.{ColRef, FuncCall, Lit}
    import graft.sql.Statement
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    val dataCols = feed.columns.toSeq
      .filterNot(Set("_change_type", "_commit_version"))
    require(keys.forall(dataCols.contains),
      s"applyChanges: keys ${keys.mkString(",")} must be feed columns")
    // NO up-front feed.isEmpty: that would execute the feed once just
    // to look at it — the net write below executes it anyway, and the
    // staged count (fused into the bounds aggregation) catches both
    // the empty feed and the audit-only feed in one job
    val w = Window.partitionBy(keys.map(F.col): _*)
      .orderBy(F.col("_commit_version").desc, F.col("_change_type").asc)
    val net = feed
      .filter(F.col("_change_type") =!= "update_preimage")
      .withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .withColumnRenamed("_change_type", "__apply_op")
      .drop("__rn", "_commit_version")
    // SOURCE-KEY BOUNDS PRUNING (the Delta MERGE file-skipping move):
    // a replication delta is usually LOCAL in key space, but the
    // match join would still scan the whole target — so derive each
    // key's [min, max] from the (delta-sized) net frame and add
    // them to the ON condition as target-side conjuncts. Catalyst
    // pushes single-side join predicates into the scan, where the
    // manifest's data-skipping stats drop every non-overlapping
    // segment: the apply's read cost becomes O(key-local segments),
    // not O(table). Integral and string keys only (the types the
    // driver-side fold below orders); others just skip the bound
    // (correctness never depends on it). A feed with no ACTIONABLE
    // rows (empty, or audit preimages only) applies nothing: skip the
    // MERGE rather than committing a no-op version.
    val boundable = {
      import org.apache.spark.sql.types._
      net.schema.fields
        .filter(f => keys.contains(f.name))
        .filter(f => Set[DataType](ByteType, ShortType, IntegerType,
          LongType, StringType)(f.dataType))
    }
    // stable_const() wrapping (the MERGE-JIT fix): the bounds are the
    // ONLY part of the apply's MERGE that varies per statement, and
    // inlined into the generated code they forced a fresh Janino
    // compile + 1-2.7s of JVM JIT on EVERY delta (metered: ReplicaTrace
    // jit_ms ~3.3s/rep converged). Wrapped, the value rides the codegen
    // references array: the statement template compiles once and
    // every subsequent delta reuses the cached classes. Segment
    // skipping still sees the bounds (SegmentStats.normalize);
    // parquet row-group pruning on them is forfeited — redundant
    // here, the bounds are implied by the equi-join keys.
    def boundsOf(loHi: Int => (Any, Any)): Seq[Col] = {
      def stableConst(v: Any): Col = FuncCall("stable_const", Seq(Lit(v match {
        // integral bounds as the dialect's integer literals: 32-bit
        // when they fit, else 64-bit
        case n: Number if n.longValue.isValidInt => n.intValue
        case n: Number => n.longValue
        case other => other
      })))
      boundable.indices.flatMap { i =>
        val (lo, hi) = loHi(i)
        val key = ColRef(s"t.${boundable(i).name}")
        if (lo == null || hi == null) Nil
        else Seq(key >= stableConst(lo), key <= stableConst(hi))
      }
    }
    // ONE MERGE applies the net rows: deletes drop, updates rewrite,
    // new keys insert
    def merge(source: Statement.MergeSource, bounds: Seq[Col]): Unit = {
      def src(c: String): Col = ColRef(s"s.$c")
      val isDelete = src("__apply_op") === Lit("delete")
      val notDelete = src("__apply_op") =!= Lit("delete")
      val sets = dataCols.filterNot(keys.contains).map(c => c -> src(c))
      graft.Engine(spark).execute(Statement.Merge(targetPath, Some("t"),
        source, Some("s"),
        on = (keys.map(k => ColRef(s"t.$k") === src(k)) ++ bounds).reduce(_ && _),
        matched = Statement.MergeDelete(Some(isDelete)) +:
          // key-only table: nothing to update
          (if (sets.isEmpty) Nil else Seq(Statement.MergeUpdate(Some(notDelete), sets))),
        notMatched = Some(Statement.MergeInsert(Some(notDelete),
          Some((dataCols, dataCols.map(src))))))): Unit
    }
    // DELTA-SIZED FAST PATH: when the net frame's plan-estimated size is
    // small, collect it to the driver (ONE job) and hand the rows to
    // MERGE as its source — nothing is staged. Bounds + count come from
    // the collected rows (the values the staged observe() produces;
    // string min/max compared in UTF8String's unsigned-byte order so a
    // bound can never exclude a genuine match). The estimate gate is
    // conf'd (`graft.apply.collectMaxBytes`, default 64 MB of
    // plan-estimated bytes): a backfill-scale feed takes the
    // distributed staging path.
    val collectCap = spark.conf.getOption("graft.apply.collectMaxBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    val estBytes = net.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes <= collectCap) {
      // AQE off: a delta-sized collect gains nothing from runtime
      // re-planning, and AQE materializes its shuffle as a separate
      // stage-job. applyChanges is driver-synchronous.
      val rows = graft.Engine.withAqeOff(spark, cond = true) {
        net.collect()
      }
      if (rows.nonEmpty) merge(Statement.SourceRows(rows, net.schema), boundsOf { i =>
        val idx = net.schema.fieldIndex(boundable(i).name)
        val isStr = boundable(i).dataType ==
          org.apache.spark.sql.types.StringType
        // F.min/F.max semantics: nulls ignored; all-null → null bound
        def cmp(a: Any, b: Any): Int =
          if (isStr) java.util.Arrays.compareUnsigned(
            a.asInstanceOf[String]
              .getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.asInstanceOf[String]
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          else java.lang.Long.compare(
            a.asInstanceOf[Number].longValue(),
            b.asInstanceOf[Number].longValue())
        var lo: Any = null; var hi: Any = null
        rows.foreach { r =>
          if (!r.isNullAt(idx)) {
            val v = r.get(idx)
            if (lo == null || cmp(v, lo) < 0) lo = v
            if (hi == null || cmp(v, hi) > 0) hi = v
          }
        }
        (lo, hi)
      })
      return
    }
    // DISTRIBUTED STAGING PATH (feed past the estimate gate): the net
    // frame stages on the TARGET's storage (cluster-visible — a
    // driver-local temp dir would break the MERGE's executor reads on
    // a real cluster), under `_cdc/.staging-*` so a crash orphan is
    // swept by the target's vacuum. Bounds + COUNT are
    // observe()d DURING the staging write — one job, not a write plus
    // a second aggregation pass.
    val tmp = s"$targetPath/_cdc/.staging-apply-" +
      java.util.UUID.randomUUID().toString.take(8) + "/net.parquet"
    val aggs = F.count(F.lit(1)).as("__n") +:
      boundable.zipWithIndex.flatMap { case (f, i) =>
        Seq(F.min(F.col(f.name)).as(s"__lo_$i"),
          F.max(F.col(f.name)).as(s"__hi_$i")) }.toSeq
    val obs = new org.apache.spark.sql.Observation()
    // AQE off for THIS write only (see the fast path's rationale)
    graft.Engine.withAqeOff(spark, cond = true) {
      net.observe(obs, aggs.head, aggs.tail: _*).write.parquet(tmp)
    }
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val row =
        try scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration("30s"))
        catch { case _: java.util.concurrent.TimeoutException =>
          // listener never fired (defensive): one aggregation pass
          // over the (delta-sized) staged file recovers the values
          spark.read.schema(net.schema).parquet(tmp)
            .agg(aggs.head, aggs.tail: _*).collect().head
        }
      if (row.getLong(0) > 0L) merge(Statement.SourceTable(tmp),
        boundsOf(i => (row.get(1 + 2 * i), row.get(2 + 2 * i))))
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(tmp).getParent, true): Unit
    }
  }

  /** `foreachBatch` CDC-replication sink: tail a source table's change
    * feed (`readStream.format("graft-versioned").option(
    * "readChangeFeed", "true")`) and apply each micro-batch to a
    * replica via [[applyChanges]] — the end-to-end lakehouse
    * replication loop (exactly-once ingest in, row-level CDC out,
    * convergent apply down). A replayed batch re-applies the same net
    * values — content-idempotent, the replica converges. */
  def applyChangesSink(targetPath: String, keys: Seq[String])
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      applyChanges(batch.sparkSession, targetPath, batch, keys)

  /** EXACTLY-ONCE streaming sink into a [[graft.sources.Versioned]]
    * dataset: a `foreachBatch` writer that appends each micro-batch as
    * one committed version tagged with `(app, batchId)` via
    * [[graft.sources.Versioned.commit]]'s `txn`. Structured Streaming
    * replays a failed batch with the SAME batchId (the offsets come
    * from the checkpoint WAL), and the replay's commit is a no-op — at-
    * least-once delivery + idempotent commit = exactly-once, the Delta
    * `txnAppId`/`txnVersion` pattern on this engine's snapshot layout.
    * Usage:
    * {{{
    *   stream.writeStream
    *     .option("checkpointLocation", ckpt)
    *     .foreachBatch(Streams.versionedSink(path, "my-ingest"))
    *     .start()
    * }}}
    * Downstream consumers read committed snapshots only (a crash
    * mid-batch leaves the previous version intact), poll
    * [[graft.sources.Versioned.changes]] for increments, or tail the
    * dataset with the `graft-versioned` streaming SOURCE — an
    * exactly-once end-to-end pipeline over plain parquet. */
  def versionedSink(path: String, app: String,
                    writerOptions: Map[String, String] = Map.empty,
                    maxRetries: Int = 10)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      // optimistic retries let SEVERAL streaming queries (distinct
      // apps) share one target table: losing a manifest race re-reads
      // the manifest and retries, never rewrites the batch's data
      graft.sources.Versioned.commit(batch, path, append = true,
        writerOptions = writerOptions, txn = Some((app, batchId)),
        maxRetries = maxRetries): Unit
    }
}
