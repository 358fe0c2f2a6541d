package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.Versioned

/** STREAMING READS of a [[graft.sources.Versioned]] dataset — the
  * lakehouse table-as-a-stream direction ([[Streams.versionedSink]] is
  * the write side; this closes the loop, the way a table format's
  * streaming source tails its transaction log):
  *
  * {{{
  *   spark.readStream
  *     .format("graft-versioned")          // or classOf[...].getName
  *     .option("path", "/corpora/docs_ds")
  *     .option("startingVersion", "0")     // default 0 = everything
  *     .load()
  * }}}
  *
  * OFFSETS ARE MANIFEST VERSIONS. Each micro-batch covers a committed
  * version range `(from, to]` and its rows are exactly
  * [[Versioned.changes]] over that range — the segments ADDED by those
  * commits, resolved through manifests only (never a directory listing
  * of `data/`, so a crashed commit's orphan segment is invisible and a
  * segment file is only ever read AFTER its manifest rename made it
  * atomic — the reason a plain file stream over `data/` would be
  * wrong). Appends stream their new rows; a compaction/z-order
  * republish streams its whole snapshot (the reprocess-after-rewrite
  * contract consumers need); a pruned DML streams its REWRITTEN
  * segments' survivor rows. This is the ADD side of the CDC pair, like
  * every table-format streaming source: retractions are segment-level
  * and polled separately via [[Versioned.removedSegments]] /
  * [[Versioned.removals]]. Deletion vectors: the range-end vectors
  * APPLY to the batch's added segments (a row appended and vectored
  * away inside one window never streams), and a vectored delete
  * against a CARRIED segment — a retraction neither this stream nor
  * the removals poll can express — fails LOUDLY with the fix named
  * (`readChangeFeed` mode streams it as a row-level `delete`).
  *
  * `.option("startingVersion", v)` is an EXCLUSIVE lower bound —
  * versions strictly above v stream; v itself does not. This
  * DIVERGES from Delta, whose identically-named option is inclusive:
  * here the idiom is "v was my snapshot seed, stream me what came
  * after", so seeding a replica from version v and tailing with
  * `startingVersion = v` never double-applies the seed (the shape
  * every replication capstone uses). A consumer migrating from Delta
  * streams one fewer version than it would there — subtract 1 to get
  * Delta's behavior. `startingTimestamp` follows the same rule:
  * versions committed strictly AFTER the head-at-that-instant.
  *
  * `.option("maxVersionsPerTrigger", n)` bounds how many committed
  * versions one micro-batch covers (Delta's `maxFilesPerTrigger`
  * analog): a consumer restarting 10,000 versions behind catches up in
  * n-version batches instead of one table-sized read.
  * `.option("maxBytesPerTrigger", b)` bounds a micro-batch by the
  * BYTES its versions ADDED (Delta's knob of the same name — the
  * production bound when version sizes vary wildly: a backfill commit
  * can be 1000× an incremental one). Soft cap: at least one version
  * per batch, then stop BEFORE the version that would exceed it —
  * deliberately STRICTER than Delta, which admits the entry that
  * crosses the cap (its batches may overshoot): here a batch never
  * exceeds the cap except in the single case of one oversized
  * version, which must still flow or the stream would stall. The two
  * options compose, tighter bound wins. Both are implemented as
  * real ADMISSION CONTROL (`SupportsAdmissionControl` /
  * `SupportsTriggerAvailableNow`, the FileStreamSource hybrid): the
  * engine hands the checkpointed start to `latestOffset` every batch,
  * so the bound holds across restarts with no side-channel state, and
  * `Trigger.AvailableNow` drains the whole backlog in capped bites
  * rather than snapshotting one unbounded offset. Segment sizes are
  * cached for the source's lifetime (segments are immutable), so the
  * steady-state bytes admission sizes only newly committed segments.
  *
  * Exactly-once: offsets live in the stream's checkpoint; restart
  * resumes from the last committed version cursor. Time travel rules
  * apply — the cursor's manifest must not be vacuumed mid-stream
  * (loud failure otherwise, never silent skips).
  *
  * The schema is pinned at source creation (a stream cannot widen
  * mid-run); segments from before a widening append serve NULL for the
  * newer columns, and rows committed after one are PROJECTED onto the
  * pinned schema — restart the stream to pick up evolved columns.
  *
  * At 100 TB: `getOffset` is one manifest-directory listing;
  * `getBatch` reads only the delta segments — the incremental
  * consumer's cost tracks the commit volume, never the table size. */
class VersionedStreamProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-versioned"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-versioned source needs .option(\"path\", <dataset dir>)"))

  private def readsChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-versioned source infers its schema from the dataset head; " +
        "do not pass one")
    val base = Versioned.read(
      sqlContext.sparkSession, pathOf(parameters)).schema
    // readChangeFeed mode streams the ROW-LEVEL change data feed:
    // table columns + _change_type + _commit_version per micro-batch
    val out =
      if (!readsChangeFeed(parameters)) base
      else StructType(base.fields.toSeq :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false) :+
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = false))
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    // startingTimestamp (epoch ms or the FOR TIMESTAMP AS OF instant
    // resolution): stream versions committed strictly AFTER the head
    // at that wall-clock moment — mutually exclusive with
    // startingVersion; both are EXCLUSIVE bounds (see the class doc's
    // Delta-divergence note)
    val startV = (parameters.get("startingVersion"),
        parameters.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-versioned: startingVersion and startingTimestamp are " +
          "mutually exclusive")
      case (Some(v), None) => v.toLong
      case (None, Some(ts)) =>
        graft.sources.Versioned.versionAt(
          sqlContext.sparkSession, path, ts.toLong)
      case (None, None) => 0L
    }
    // maxVersionsPerTrigger (Delta's maxFilesPerTrigger analog): cap
    // how many committed versions one micro-batch may cover, so a
    // restart 10,000 versions behind catches up in BOUNDED batches
    // instead of reading the entire backlog as one. Admission control
    // only — exactly-once comes from the offsets either way.
    val maxV = parameters.get("maxVersionsPerTrigger").map { s =>
      val n = s.toLong
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }
    // maxBytesPerTrigger (Delta's knob of the same name, with ONE
    // documented divergence): cap a micro-batch by the BYTES of the
    // segments the covered versions ADDED — the production bound when
    // version sizes vary wildly (a backfill commit can be 1000× an
    // incremental one, so a version count alone cannot size batches).
    // Soft cap: a batch always covers at least one version, then
    // stops BEFORE the version that would push it past the cap —
    // stricter than Delta, whose identically-named option admits the
    // crossing entry and may overshoot; here batches never exceed the
    // cap except the single-oversized-version case (which must still
    // flow or the stream stalls). Composes with maxVersionsPerTrigger
    // (the tighter bound wins).
    val maxB = parameters.get("maxBytesPerTrigger").map { s =>
      val n = s.toLong
      require(n >= 1, s"maxBytesPerTrigger must be >= 1, got $n")
      n
    }
    new VersionedStreamSource(sqlContext, path, startV,
      changeFeed = readsChangeFeed(parameters),
      maxVersionsPerTrigger = maxV,
      maxBytesPerTrigger = maxB)
  }
}

class VersionedStreamSource(sqlContext: SQLContext, path: String,
                            startingVersion: Long,
                            changeFeed: Boolean = false,
                            maxVersionsPerTrigger: Option[Long] = None,
                            maxBytesPerTrigger: Option[Long] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  private val spark = sqlContext.sparkSession

  private val tableSchema: StructType = Versioned.read(spark, path).schema

  override val schema: StructType =
    if (!changeFeed) tableSchema
    else StructType(tableSchema.fields.toSeq :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false))

  /** Offsets arrive live (LongOffset) or replayed from the checkpoint
    * log (SerializedOffset carrying LongOffset's json — the bare
    * version number). */
  private def versionOf(o: Offset): Long = o match {
    case lo: LongOffset => lo.offset
    case so: SerializedOffset => so.json.trim.toLong
    case other => other.json.trim.toLong
  }

  /** ADMISSION CONTROL (the [[org.apache.spark.sql.execution.streaming
    * .FileStreamSource]] hybrid pattern: a V1 `Source` that ALSO
    * implements the connector's `SupportsAdmissionControl` /
    * `SupportsTriggerAvailableNow`, so the engine asks IT how far each
    * micro-batch may advance instead of snapshotting one unbounded
    * `getOffset`). The checkpointed start offset arrives as
    * `latestOffset`'s first argument every call — across restarts too —
    * so the cap needs no side-channel cursor of its own, and a restart
    * 10,000 versions behind catches up in bounded bites. Under
    * `Trigger.AvailableNow` the pre-captured head additionally CAPS the
    * run (commits racing the drain wait for the next one); the
    * `maxVersionsPerTrigger` bound applies under EVERY trigger,
    * including `Trigger.Once` (one bounded bite per run — rerun to
    * advance; this engine treats the option as a hard bound rather than
    * silently ignoring it the way Delta's `maxFilesPerTrigger` is under
    * Once). */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Versioned.versions(spark, path).lastOption

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxVersionsPerTrigger.fold(
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())(
      n => org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(n))

  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    Versioned.versions(spark, path).lastOption.map(LongOffset(_)).orNull

  /** On-disk bytes per segment, cached for the source's lifetime —
    * segments are immutable, so each is sized exactly once; the
    * steady-state `maxBytesPerTrigger` admission costs one bulk
    * manifest read plus sizing only the NEWLY committed segments. */
  private val segBytesCache =
    scala.collection.mutable.HashMap.empty[String, Long]

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val vsAll = Versioned.versions(spark, path)
    val vs = availableNowCap.fold(vsAll)(cap => vsAll.filter(_ <= cap))
    if (vs.isEmpty) return null
    val base = Option(startOffset)
      .map(o => versionOf(o.asInstanceOf[Offset]))
      .getOrElse(startingVersion)
    // the version COUNT bounds the advance first (version numbers are
    // contiguous today, but counting stays correct if a future layout
    // ever skips numbers); the `limit` parameter restates
    // getDefaultReadLimit — the options are the authority
    val pending = vs.filter(_ > base)
    // never move the cursor BACKWARD: with startingVersion ahead of
    // the current head (pre-provisioned cursor on a young table),
    // returning vs.last would checkpoint a cursor BELOW the requested
    // start and later batches would deliver the versions the user
    // explicitly excluded
    if (pending.isEmpty) return LongOffset(math.max(base, vs.last))
    val vCapped = maxVersionsPerTrigger.fold(pending)(max =>
      pending.take(math.min(max, Int.MaxValue.toLong).toInt))
    val end = maxBytesPerTrigger match {
      case None => vCapped.last
      case Some(cap) =>
        // BYTES admission (soft cap, Delta semantics): cover at least
        // one version, then stop before the version whose ADDED
        // segments would push the cumulative batch volume past the
        // cap. Added-segment attribution walks the range's manifests
        // from ONE bulk read; only never-seen segments get sized.
        val baseV: Option[Long] =
          if (base == 0L) None
          else {
            val pre = vs.takeWhile(_ <= base)
            require(pre.nonEmpty,
              s"graft-versioned stream: checkpointed version $base " +
                s"predates the retained history at $path (vacuumed " +
                "mid-stream?)")
            Some(pre.last)
          }
        val bulk = Versioned.readManifestsBulk(spark, path,
          (baseV.toSeq ++ vCapped).distinct)
        var prevSegs: Set[String] =
          baseV.fold(Set.empty[String])(b => bulk(b)._1.toSet)
        val addedByV: Seq[(Long, Seq[String])] = vCapped.map { v =>
          val segs = bulk(v)._1
          val added = segs.filterNot(prevSegs)
          prevSegs = segs.toSet
          v -> added
        }
        val need = addedByV.flatMap(_._2).distinct
          .filterNot(segBytesCache.contains)
        if (need.nonEmpty)
          segBytesCache ++= Versioned.segmentBytes(spark, path, need)
        var endV = addedByV.head._1 // at least one version per batch
        var cum = addedByV.head._2.iterator.map(segBytesCache).sum
        var stop = false
        addedByV.tail.foreach { case (v, added) =>
          val sz = added.iterator.map(segBytesCache).sum
          if (!stop && cum + sz <= cap) { endV = v; cum += sz }
          else stop = true
        }
        endV
    }
    LongOffset(end)
  }

  override def getOffset: Option[Offset] = throw new UnsupportedOperationException(
    "graft-versioned implements SupportsAdmissionControl; the engine " +
      "calls latestOffset(start, limit) instead of getOffset")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val from = start.map(versionOf).getOrElse(startingVersion)
    val to = versionOf(end)
    // a recovery interleaving can hand back an offset the checkpoint
    // already passed; the range is then empty, never backwards-read
    if (from >= to)
      return org.apache.spark.sql.graft.StreamingShim.asStreaming(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    // changeFeed mode tails the ROW-LEVEL feed — inserts, update
    // pre/postimage pairs, deletes, with commit attribution — the
    // CDC-replication input (apply to a downstream table via MERGE).
    // A range crossing a version whose row delta is unknowable (a
    // legacy rewrite, a restore) fails LOUDLY, never skips silently.
    val adds =
      if (changeFeed) Versioned.changeFeed(spark, path, from, Some(to))
      else changesWithVectors(from, to)
    val have = adds.columns.toSet
    // project onto the PINNED schema: evolved trailing columns from
    // commits after source creation drop; pre-widening segments serve
    // explicit NULLs (the Versioned.readSegments discipline)
    val aligned = adds.select(schema.fields.map { f =>
      if (have(f.name)) F.col(f.name).cast(f.dataType).as(f.name)
      else F.lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    org.apache.spark.sql.graft.StreamingShim.asStreaming(aligned)
  }

  /** Non-changeFeed batch read over `(from, to]`: the rows of segments
    * ADDED in the range, with the range-END deletion vectors APPLIED to
    * them — a row appended and then vector-deleted inside one batch
    * window must not stream as a live insert. Vectored deletes against
    * CARRIED segments (present at both range ends) are retractions an
    * append-only stream cannot express; the segment-level poll
    * ([[Versioned.removedSegments]]/[[Versioned.removals]]) cannot see
    * them either (no segment changed), so they fail LOUDLY here with
    * the fix spelled out — `readChangeFeed` mode streams them as
    * row-level `delete` rows. */
  private def changesWithVectors(from: Long, to: Long): DataFrame = {
    val (added, removed) = Versioned.manifestDelta(spark, path, from, Some(to))
    val dvTo = Versioned.readDvMap(spark, path, to)
    val dvFrom =
      if (from == 0L) Map.empty[String, String]
      else Versioned.readDvMap(spark, path, from)
    val addedSet = added.toSet
    val carriedRetractions = dvTo.filter { case (seg, dv) =>
      !addedSet(seg) && !dvFrom.get(seg).contains(dv)
    }
    require(carriedRetractions.isEmpty,
      s"graft-versioned stream: versions ($from, $to] vector-deleted " +
        s"rows inside carried segment(s) " +
        s"${carriedRetractions.keys.toSeq.sorted.mkString(", ")} — an " +
        "append-only stream cannot express those retractions and the " +
        "removedSegments/removals poll cannot see them; stream with " +
        ".option(\"readChangeFeed\", \"true\") to receive them as " +
        "row-level delete rows")
    // the SYMMETRIC hazard: a deletion vector REMOVED from a carried
    // segment (a restore() reverting a vectored delete) RESURRECTS rows
    // the stream never retracted — those rows re-enter the table but no
    // segment changed, so neither this stream nor the removals poll can
    // see them; the row-level feed rejects the range too (the restore
    // recorded no change rows). Fail as loudly as the retraction case,
    // with the only honest fix: re-seed from a snapshot. (A CHANGED dv
    // on a carried segment is already caught above; a segment dropped
    // from the manifest is a removal, not a carry — the poll's job.)
    val removedSet = removed.toSet
    val carriedResurrections = dvFrom.keys.filter(seg =>
      !addedSet(seg) && !removedSet(seg) && !dvTo.contains(seg)).toSeq
    require(carriedResurrections.isEmpty,
      s"graft-versioned stream: versions ($from, $to] removed the " +
        s"deletion vector of carried segment(s) " +
        s"${carriedResurrections.sorted.mkString(", ")} (a restore " +
        "reverting a vectored delete) — the resurrected rows never " +
        "stream as inserts through an append-only source and the " +
        "restore recorded no row-level change rows; re-seed the " +
        "consumer from a snapshot read at the restore version and " +
        "restart the stream from there")
    if (added.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    else
      Versioned.readSegments(spark, path, added, tableSchema, dvTo)
  }

  override def stop(): Unit = ()
}
