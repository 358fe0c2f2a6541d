package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** VERSIONED parquet datasets — the corpus-publishing primitive a
  * training-data pipeline needs around every other operator here: each
  * pipeline run commits an atomic SNAPSHOT, consumers pin the version
  * they trained on, and an incremental run appends without rewriting
  * history (the generalization of the BM25 index's generation protocol
  * in [[graft.operators.TextAnalysis]] to arbitrary tables).
  *
  * Layout under `path`:
  *   - `data/seg-<uuid>/`    — IMMUTABLE parquet segment directories,
  *     written once, never modified (task-parallel writes, no driver
  *     byte path);
  *   - `manifest/v-N.txt`    — version N: optional `#`-prefixed
  *     HEADER lines carrying ALL commit metadata — `#op <name>`
  *     (operation audit), `#dv <seg>\t<file>` (deletion-vector map),
  *     `#txn <app>\t<batch>` (exactly-once watermark), `#cdc
  *     neutral|<dir> [<rows>]` (change-feed pointer) — followed by the
  *     newline-joined segment names composing that snapshot; committed
  *     via write-temp + atomic RENAME, so data and metadata land in
  *     ONE atomic operation;
  *   - `manifest/txn-watermarks.txt` — vacuum's rollup of dropped
  *     versions' `#txn` watermarks (idempotence survives retention);
  *   - `manifest/constraints-N.txt`  — registered CHECK constraints,
  *     resolved newest-first (highest N wins; the install writes a NEW
  *     file and retires old ones only after the audit commit's CAS, so
  *     no reader ever resolves an empty set mid-update; legacy
  *     single-file `constraints.txt` reads as index −1);
  *   - `dv/` (`.dv` files)   — deletion-vector position files;
  *   - `_cdc/c-<uuid>/`      — recorded change-feed rows (plus the
  *     change-feed apply's `.staging-apply-*` scratch and the
  *     `.staging-*` DML scratch earlier graft releases wrote; vacuum
  *     sweeps both).
  *
  * Isolation guarantees, by construction:
  *   - a reader resolves ONE manifest and then touches only immutable
  *     segments — no half-committed state is ever observable;
  *   - a crash before the manifest rename leaves an unreferenced
  *     segment directory (and possibly a `_cdc` orphan) and the
  *     previous version fully intact;
  *   - version numbers are dense and monotonic; a commit built on a
  *     stale base fails its compare-and-swap loudly, same-version ties
  *     are serialized per dataset in-JVM and arbitrated by the rename
  *     (appends retry optimistically via `commit(maxRetries = n)`;
  *     multi-DRIVER writers need a filesystem with atomic no-overwrite
  *     rename — the Delta LogStore contract).
  *
  * At 100 TB this is exactly the snapshot/append discipline a lakehouse
  * table format provides; expressed minimally here so the engine's own
  * artifacts (corpora, signal tables, keep-lists) get atomic versions
  * without a new dependency.
  */
object Versioned {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed versions at `path`, ascending (empty if none). */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    versionsWithMtime(spark, path).map(_._1)

  /** Committed versions paired with their manifest files' modification
    * times (= commit instants: manifests are written once and
    * rename-committed), ascending, from ONE directory listing — the
    * shared base of [[versions]], [[versionAt]] and DESCRIBE HISTORY,
    * none of which may pay a per-version getFileStatus round trip. */
  private[graft] def versionsWithMtime(spark: SparkSession,
      path: String): Seq[(Long, Long)] = {
    val fs = fsOf(spark, path)
    val dir = new Path(s"$path/manifest")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap { st =>
        val s = st.getPath.getName
        // side manifests (deletion vectors, writer txns) are not
        // versions — only the MAIN v-N.txt is the commit point. The
        // digits-only regex (like constraintFiles / listRollupFiles)
        // also TOLERATES stray near-miss files: a bare toLong on e.g.
        // an operator's `v-backup.txt` threw from inside every read,
        // commit and DESCRIBE — one junk filename bricked the dataset.
        s match {
          case VersionFileRe(n) => Some(n.toLong -> st.getModificationTime)
          case _ => None
        }
      }
      .sortBy(_._1)
  }

  /** One manifest file's raw text (shared open behind
    * [[readManifest]] / [[manifestMeta]]; ranges go through
    * [[readManifestsBulk]]). */
  private def manifestText(spark: SparkSession, path: String,
                           version: Long): String = {
    val fs = fsOf(spark, path)
    val f = new Path(s"$path/manifest", f"v-$version%09d.txt")
    require(fs.exists(f), s"version $version not committed at $path")
    val in = fs.open(f)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  private def readManifest(spark: SparkSession, path: String,
                           version: Long): Seq[String] =
    // `#`-prefixed lines are commit metadata (dv map, txn identity,
    // change-feed pointer), not segment names — splitManifest is the
    // single classification rule
    splitManifest(manifestText(spark, path, version))._1

  /** Split one manifest's text into (segment names, `#` metadata lines)
    * — the shared parse behind [[readManifest]]/[[manifestMeta]] and
    * the bulk range read. */
  private def splitManifest(text: String): (Seq[String], Seq[String]) = {
    val lines = text.split("\n").toSeq
    (lines.filter(l => l.nonEmpty && !l.startsWith("#")),
      lines.filter(_.startsWith("#")))
  }

  /** Ranges at or under this many versions read their manifests
    * serially on the driver (a handful of round trips beats a Spark
    * job); longer ranges go through ONE distributed job. */
  private val BulkManifestCutoff = 16

  /** The main commit manifest's filename shape — digits only, so
    * `.dv.txt` / `.txn.txt` side manifests and stray near-miss files
    * never parse as versions. */
  private val VersionFileRe = "v-(\\d+)\\.txt".r

  /** Read MANY versions' manifests in one pass: version → (segment
    * names, metadata lines). Each manifest file is opened ONCE (the
    * separate [[readManifest]] + [[manifestMeta]] calls open it twice),
    * and past [[BulkManifestCutoff]] versions the opens run as one
    * distributed job — driver filesystem cost O(1) in range length, so
    * a 10k-commit [[changeFeed]] range costs one task wave of KB-sized
    * reads, not ~20k serial driver round trips. Callers must have
    * validated the versions exist (an executor-side missing file fails
    * the job loudly). */
  private[graft] def readManifestsBulk(spark: SparkSession, path: String,
      vs: Seq[Long]): Map[Long, (Seq[String], Seq[String])] = {
    if (vs.isEmpty) Map.empty
    else if (vs.length <= BulkManifestCutoff) {
      vs.map(v => v -> splitManifest(manifestText(spark, path, v))).toMap
    } else {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      val files = vs.map(v => v -> (s"$path/manifest/" + f"v-$v%09d.txt"))
      spark.sparkContext.parallelize(files, math.min(vs.length, 64))
        .map { case (v, f) =>
          val p = new org.apache.hadoop.fs.Path(f)
          val pfs = p.getFileSystem(confBc.value.value)
          val in = pfs.open(p)
          val text = try {
            new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          } finally in.close()
          v -> text
        }.collect().iterator
        .map { case (v, t) => v -> splitManifest(t) }.toMap
    }
  }

  /** CHECK constraints registered at `path` (name → Spark-SQL boolean
    * expression text), from `manifest/constraints.txt`. Constraints
    * are DATASET-level state (they outlive any one version), stored
    * beside the manifests and updated only by the single-writer DDL
    * ([[addConstraint]] / [[dropConstraint]]). */
  private val ConstraintFileRe = "constraints-(\\d+)\\.txt".r

  /** Versioned constraint files under `manifest/`, (index, path) pairs.
    * Readers resolve NEWEST-FIRST: the highest index is the live set,
    * older files are superseded state a concurrent reader may still be
    * holding open. The legacy single `constraints.txt` (pre-round-12
    * layout) is index −1: shadowed by any versioned file. */
  private def constraintFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(Long, Path)] = {
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ConstraintFileRe(n) => Some(n.toLong -> st.getPath)
        case "constraints.txt"   => Some(-1L -> st.getPath)
        case _ => None
      }
    }.sortBy(_._1)
  }

  def constraints(spark: SparkSession, path: String): Map[String, String] =
    constraintsWithAsof(spark, path)._1

  /** The live constraint set plus the file's `#asof <version>` header —
    * the head version when the DDL wrote it. Every add/drop op with
    * version <= asof is SUBSUMED by the file's own content (the DDL
    * that wrote it reconciled completed AND pending state), so
    * [[pendingConstraintDrops]] only scans history ABOVE it. Legacy
    * files without the header return None (reconciliation falls back
    * to a full chunked scan until the first DDL rewrite stamps one). */
  private def constraintsWithAsof(spark: SparkSession,
      path: String): (Map[String, String], Option[Long]) = {
    val fs = fsOf(spark, path)
    constraintFiles(fs, new Path(s"$path/manifest")).lastOption match {
      case None => (Map.empty, None)
      case Some((_, f)) =>
        val in = fs.open(f)
        val text = try {
          new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        } finally in.close()
        val lines = text.split("\n").toSeq.filter(_.nonEmpty)
        val asof = lines.collectFirst {
          case l if l.startsWith("#asof ") => l.stripPrefix("#asof ").toLong
        }
        val cs = lines.filterNot(_.startsWith("#")).map { l =>
          val Array(n, e) = l.split("\t", 2)
          n -> e
        }.toMap
        (cs, asof)
    }
  }

  /** Constraint names whose DROP was durably audited (the NEWEST
    * add/drop commit for the name is a `drop-constraint`) but whose
    * removal from the constraint file never landed — the crash window
    * [[dropConstraint]]'s commit-first ordering deliberately leaves
    * FAIL-SAFE (the constraint over-enforces until the drop is
    * re-run). This is the reconciliation surface that keeps DESCRIBE
    * HISTORY and enforcement from disagreeing SILENTLY: SHOW
    * CONSTRAINTS marks these `pending-drop`, and re-running
    * `dropConstraint(name)` converges. History is consumed in bounded
    * 256-version bulk chunks (the vacuum/lastTxn pattern). */
  def pendingConstraintDrops(spark: SparkSession,
                             path: String): Set[String] =
    pendingConstraintDropsFrom(spark, path, constraintsWithAsof(spark, path))

  /** [[pendingConstraintDrops]] over a PRE-READ (constraints, #asof)
    * pair — the DDL paths already hold one, and re-reading the live
    * file per call doubles every ALTER's remote round trips. */
  private def pendingConstraintDropsFrom(spark: SparkSession, path: String,
      constraintsAndAsof: (Map[String, String], Option[Long])): Set[String] = {
    val (enforcedMap, asofOpt) = constraintsAndAsof
    val enforced = enforcedMap.keySet
    if (enforced.isEmpty) return Set.empty
    // reconciliation is VERSION-based (not file-mtime: a later DDL
    // rewriting the file advanced its mtime past a crashed drop's
    // manifest and silently hid the marker). Ops <= the file's #asof
    // are subsumed by the file's content (every DDL reconciles pending
    // drops before copying names forward); ops <= the rollup's
    // #reconciled watermark live in the rollup (vacuum folds EVERY
    // scanned version's constraint op into it, not just retired ones).
    // So the manifest scan covers only (max(asof, reconciled), head] —
    // O(commits since the last DDL or vacuum) — in bounded 256-version
    // chunks; a legacy header-less file scans the full history
    // (correctness first; the first DDL rewrite stamps a header).
    val asof = asofOpt.getOrElse(-1L)
    val (rollup, reconciled) = readConstraintOpsRollup(spark, path)
    val floor = math.max(asof, reconciled.getOrElse(-1L))
    val recent = versions(spark, path).filter(_ > floor)
    val fromLive: Seq[(String, (Long, String))] =
      recent.grouped(256).toSeq.flatMap { chunk =>
        val bulk = readManifestsBulk(spark, path, chunk)
        chunk.flatMap { v =>
          bulk(v)._2
            .collectFirst { case l if l.startsWith("#op ") =>
              l.stripPrefix("#op ") }
            .collect { case ConstraintOpRe(op, n) => n -> ((v, op)) }
        }
      }
    // rollup ops above the file's asof (at or below it the file's own
    // content is the newer truth — e.g. a retired drop for a since-
    // re-added name must not shadow the re-add the file reflects)
    val fromRollup: Seq[(String, (Long, String))] =
      rollup.toSeq.collect {
        case (n, (v, _, op)) if v > asof => n -> ((v, op))
      }
    val newestOp = (fromLive ++ fromRollup)
      .groupMapReduce(_._1)(_._2)((a, b) => if (a._1 >= b._1) a else b)
    enforced.filter(n => newestOp.get(n).exists(_._2 == "drop"))
  }

  /** Install `cs` as a NEW versioned constraints file and return its
    * path. The old file stays until [[retireOldConstraints]] — there is
    * never a window where a concurrent [[writeSegment]] resolves an
    * EMPTY set (the delete-then-rename hazard of the old single-file
    * layout), and a failed CAS can roll the install back by deleting
    * just the new file ([[removeConstraintsFile]]), restoring the prior
    * state exactly. */
  private def writeConstraints(spark: SparkSession, path: String,
                               cs: Map[String, String], asof: Long): Path = {
    val fs = fsOf(spark, path)
    val dir = new Path(s"$path/manifest")
    fs.mkdirs(dir)
    val nextIdx =
      constraintFiles(fs, dir).lastOption.fold(0L)(_._1 + 1L)
    val tmp = new Path(dir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write((s"#asof $asof" +: cs.toSeq.sortBy(_._1)
      .map { case (n, e) => s"$n\t$e" }).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(dir, f"constraints-$nextIdx%09d.txt")
    require(fs.rename(tmp, dest),
      s"could not update constraints at $path")
    dest
  }

  /** Roll back a constraints install whose audit commit lost its CAS:
    * deleting the new file restores the previous set (still on disk). */
  private def removeConstraintsFile(spark: SparkSession, path: String,
                                    file: Path): Unit = {
    fsOf(spark, path).delete(file, false): Unit
  }

  /** After a constraints install COMMITTED, sweep the superseded files
    * (best-effort — a leftover is shadowed by newest-first resolution,
    * never misread). */
  private def retireOldConstraints(spark: SparkSession, path: String,
                                   keep: Path): Unit = {
    val fs = fsOf(spark, path)
    constraintFiles(fs, new Path(s"$path/manifest"))
      .collect { case (_, p) if p.getName != keep.getName => p }
      .foreach(p => fs.delete(p, false): Unit)
  }

  /** Register a CHECK constraint: every FUTURE row written to the
    * dataset must satisfy `exprSql` (a Spark-SQL boolean expression;
    * NULL passes, the SQL-standard CHECK rule), enforced at the single
    * data-write choke point ([[writeSegment]]) so appends, INSERT,
    * every DML rewrite and the streaming sink are all covered — the
    * Delta CHECK-constraint contract, the data-quality fence a corpus
    * pipeline wants at the STORAGE layer rather than in every writer's
    * code. The CURRENT head is validated first (one scan — existing
    * data must already comply, or the add rejects with a sample
    * violation), then a carry-all commit audits the DDL in the
    * history. Returns the audit commit's version. */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    exprSql: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier, got '$name'")
    require(!exprSql.contains("\t") && !exprSql.contains("\n"),
      "constraint expression must not contain tabs/newlines")
    // reconcile CRASHED drops before copying names forward: without
    // this, any later DDL would re-copy a pending-drop name into a
    // fresh file whose #asof postdates the crashed drop's commit —
    // hiding the marker while history's newest op for the name stays
    // drop-constraint, the silent disagreement this surface exists to
    // prevent. Subtracting them COMPLETES those drops (their audit
    // commit already landed); a re-ADD of a pending name is therefore
    // legal and lands as the newest op.
    val cw = constraintsWithAsof(spark, path)
    val existing = cw._1 -- pendingConstraintDropsFrom(spark, path, cw)
    require(!existing.contains(name),
      s"constraint '$name' already exists at $path")
    val hv = headVersion(spark, path)
    val head = read(spark, path, Some(hv))
    val expr = org.apache.spark.sql.functions.expr(exprSql) // parse loudly
    val violating = head.filter(
      org.apache.spark.sql.functions.coalesce(expr,
        org.apache.spark.sql.functions.lit(true)) === false)
    val sample = violating.limit(1).collect()
    require(sample.isEmpty,
      s"cannot add constraint '$name': existing rows violate " +
        s"($exprSql), e.g. ${sample.headOption.fold("")(_.toString)}")
    // install-then-commit with rollback: the constraint file lands
    // first (so a concurrent writeSegment admitted after our commit
    // already enforces it), and a LOST CAS deletes the new file before
    // rethrowing — the constraint is never left active without its
    // audit commit. The transient over-enforcement window (install →
    // failed CAS → rollback) is fail-safe: a concurrent write might
    // reject loudly, never silently pass a constraint it should not.
    // #asof = hv: our own audit commit lands ABOVE it, so a scan over
    // (asof, head] always sees it (newest op = add → never pending)
    val installed =
      writeConstraints(spark, path, existing + (name -> exprSql), asof = hv)
    val v = try {
      commitSegments(spark, path, headSegments(spark, path, Some(hv)),
        readDvMap(spark, path, hv), expectedBase = Some(hv),
        op = s"add-constraint($name)")
    } catch { case e: Throwable =>
      removeConstraintsFile(spark, path, installed)
      throw e
    }
    retireOldConstraints(spark, path, keep = installed)
    v
  }

  /** Drop a CHECK constraint; audits as a carry-all commit.
    *
    * Ordering is the INVERSE of [[addConstraint]]'s install-then-commit,
    * because the fail-safe direction inverts: for ADD, a crash between
    * the two steps must leave the constraint ENFORCED (install first —
    * transient over-enforcement); for DROP, installing the
    * constraint-removed file first would be fail-OPEN on a crash (the
    * constraint silently unenforced with no audit record — the rollback
    * catch handles exceptions, not process death). So the audit commit
    * lands FIRST; a crash before the install leaves the constraint
    * still enforced (over-enforcement again), and re-running the drop
    * converges (the file still carries the name). A lost CAS throws
    * before any constraint file is touched — nothing to roll back. */
  def dropConstraint(spark: SparkSession, path: String,
                     name: String): Long = {
    // the existence check reads the raw FILE (a pending-drop name is
    // still there — re-running the drop is how it converges); the
    // copy-forward subtracts OTHER pending drops so this DDL's fresh
    // #asof cannot hide their markers (see addConstraint)
    val cw = constraintsWithAsof(spark, path)
    val raw = cw._1
    require(raw.contains(name),
      s"constraint '$name' does not exist at $path")
    val existing =
      raw -- (pendingConstraintDropsFrom(spark, path, cw) - name)
    val hv = headVersion(spark, path)
    val v = commitSegments(spark, path, headSegments(spark, path, Some(hv)),
      readDvMap(spark, path, hv), expectedBase = Some(hv),
      op = s"drop-constraint($name)")
    val installed = writeConstraints(spark, path, existing - name, asof = v)
    retireOldConstraints(spark, path, keep = installed)
    v
  }

  /** Write `df` as a fresh immutable segment under `path/data` and
    * return its name — the data half of a commit, invisible until a
    * manifest references it. Shared by [[commit]] and the row-level
    * DML core ([[rewrite]], the vectored UPDATE's copies) — which makes it the
    * CHECK-CONSTRAINT enforcement point: one validation pass over the
    * incoming rows (cost ∝ rows written, never the table), failing
    * LOUDLY with a sample row before any data lands. */
  private def writeSegment(df: DataFrame, path: String,
      writerOptions: Map[String, String] = Map.empty): String = {
    val cs = constraints(df.sparkSession, path)
    if (cs.nonEmpty) {
      import org.apache.spark.sql.{functions => F}
      def violated(exprSql: String) =
        F.coalesce(F.expr(exprSql), F.lit(true)) === false
      // ONE combined pass over the incoming rows; the per-constraint
      // re-check to NAME the offender runs only on the failure path
      if (df.filter(cs.values.map(violated).reduce(_ || _))
          .limit(1).head(1).nonEmpty) {
        cs.foreach { case (name, exprSql) =>
          val sample = df.filter(violated(exprSql)).limit(1).collect()
          if (sample.nonEmpty) throw new IllegalArgumentException(
            s"CHECK constraint '$name' ($exprSql) violated at $path " +
              s"by e.g. ${sample.head.toString}")
        }
      }
    }
    val seg = s"seg-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.options(writerOptions).parquet(s"$path/data/$seg")
    // data-skipping sidecar from the just-written footers (KB-sized
    // metadata reads) — best-effort: a failure degrades that segment
    // to always-read, it must never fail the commit
    try SegmentStats.write(df.sparkSession, path, seg, df.schema)
    catch { case scala.util.control.NonFatal(_) => () }
    seg
  }

  /** [[writeSegment]], but an all-rows-filtered-away result is skipped
    * and reported as `None` — a pruned DML must not stack zero-row
    * segments onto the manifest. The emptiness probe is `df.isEmpty`
    * (a take(1) job that short-circuits at the first surviving row),
    * run BEFORE the write: Spark's single-directory writer opens its
    * part file eagerly per task, so an after-the-fact file listing
    * cannot distinguish empty output from small output. */
  private def writeSegmentIfNonEmpty(df: DataFrame, path: String,
      writerOptions: Map[String, String] = Map.empty): Option[String] =
    if (df.isEmpty) None else Some(writeSegment(df, path, writerOptions))

  /** Commit the result of the row-level [[rewrite]] (or a vector
    * purge): `carried` untouched segments (by reference, keeping their
    * vectors) plus the optional freshly written one. A statement that
    * empties the dataset entirely still commits a READABLE version: a
    * metadata-only empty segment carrying `schema` (an empty manifest
    * would leave `read` with no footers to resolve a schema from). */
  private def commitPruned(spark: SparkSession, path: String,
      carried: Seq[String], fresh: Option[String],
      schema: org.apache.spark.sql.types.StructType,
      dvs: Map[String, String] = Map.empty,
      cdc: CdcSpec = CdcNone,
      expectedBase: Option[Long] = None,
      op: String = ""): Long = {
    val segs = carried ++ fresh
    // only CARRIED segments may keep deletion vectors — a rewritten
    // segment materialized its vector by construction. Set lookup: a
    // Seq.contains inside the filter is O(dvs × segments) driver CPU
    // on a widely-vectored manifest.
    val carriedSet = carried.toSet
    val keptDvs = dvs.filter { case (s, _) => carriedSet.contains(s) }
    if (segs.nonEmpty) commitSegments(spark, path, segs, keptDvs, cdc,
      expectedBase = expectedBase, op = op)
    else commitSegments(spark, path, Seq(writeSegment(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      path)), cdc = cdc, expectedBase = expectedBase, op = op)
  }

  /** Commit an EXPLICIT segment list as the next version — the
    * manifest half of a commit. This is what makes DML segment-pruned:
    * a selective MERGE/UPDATE/DELETE rewrites only the segments that
    * contain matched rows and carries every untouched segment into the
    * new manifest BY REFERENCE (same name, same immutable files, zero
    * bytes moved) — at 100 TB the difference between a one-row upsert
    * costing one segment and costing the whole table. Every referenced
    * segment must already exist (carried names come from a committed
    * manifest; new names from [[writeSegment]], written first — the
    * same segment-then-manifest crash-safety ordering as [[commit]]). */
  private[graft] def commitSegments(spark: SparkSession, path: String,
                                    segs: Seq[String],
                                    dvs: Map[String, String] = Map.empty,
                                    cdc: CdcSpec = CdcNone,
                                    txn: Option[(String, Long)] = None,
                                    expectedBase: Option[Long] = None,
                                    op: String = "")
      : Long = {
    val fs = fsOf(spark, path)
    // referenced-segment existence check: per-segment exists() up to a
    // handful, ONE data-dir listing past that — a carry-all commit on
    // a 100k-segment manifest must not pay 100k serial driver round
    // trips just to validate references (every append/DML commits
    // through here)
    if (segs.length <= 32)
      segs.foreach { s =>
        require(fs.exists(new Path(s"$path/data/$s")),
          s"commitSegments: segment '$s' does not exist at $path")
      }
    else {
      val dataDir = new Path(s"$path/data")
      val existing =
        if (fs.exists(dataDir))
          fs.listStatus(dataDir).map(_.getPath.getName).toSet
        else Set.empty[String]
      val missing = segs.filterNot(existing)
      require(missing.isEmpty,
        s"commitSegments: segment(s) ${missing.take(5).mkString(", ")} " +
          s"do not exist at $path")
    }
    locally { // Set lookup, not Seq.contains per dv (O(dvs × segments))
      val segSet = segs.toSet
      dvs.keys.foreach { s =>
        require(segSet.contains(s),
          s"commitSegments: deletion vector for unreferenced segment '$s'")
      }
    }
    val dir = new Path(s"$path/manifest")
    fs.mkdirs(dir)
    // ALL commit metadata — deletion-vector map, writer txn identity,
    // change-feed pointer — rides `#`-prefixed header lines INSIDE the
    // manifest file itself, so the single rename commits data and
    // metadata atomically. (Per-version SIDE files would race under
    // optimistic concurrency: two attempts at the same version number
    // could clobber each other's sidecars, and the loser's cleanup
    // could strip the winner's — deleted rows resurrecting, exactly-
    // once watermarks vanishing. One file, one rename, no such window.)
    // The CHANGE-FEED rows land in a uniquely-named dir first (cost ∝
    // change rows); a crash before the rename orphans it harmlessly
    // for vacuum.
    val cdcLine: Option[String] = cdc match {
      case CdcNone => None
      case CdcNeutral => Some("#cdc neutral")
      case CdcRows(df) =>
        val name = s"c-${java.util.UUID.randomUUID().toString.take(12)}"
        df.write.mode("errorifexists").parquet(s"$path/_cdc/$name")
        // the recorded change-row count rides the header (from the
        // just-written footers — driver-side metadata, no job): what
        // DESCRIBE HISTORY surfaces as each DML version's impact
        val n = try Tables.parquetRows(spark.sparkContext.hadoopConfiguration,
            new Path(s"$path/_cdc/$name"))
          catch { case scala.util.control.NonFatal(_) => -1L }
        Some(s"#cdc $name $n")
    }
    val txnLine = txn.map { case (app, batchId) =>
      require(!app.contains("\t") && !app.contains("\n"),
        s"txn app id must not contain tabs/newlines: '$app'")
      s"#txn $app\t$batchId"
    }
    val dvLines = dvs.toSeq.sortBy(_._1)
      .map { case (s, d) => s"#dv $s\t$d" }
    // the operation NAME (append / delete / merge / compact / ...) —
    // what DESCRIBE HISTORY surfaces per version, the Delta
    // operationMetrics idea at header-line cost
    val opLine = Option(op).filter(_.nonEmpty).map(o => s"#op $o")
    // version assignment → CAS → publish, under a JVM-wide per-dataset
    // lock: POSIX rename OVERWRITES an existing destination, so two
    // same-version publishers in one process (local mode IS one
    // process) would otherwise both "succeed" with one manifest
    // silently replacing the other. Across processes the dest-exists
    // check plus HDFS-style no-overwrite rename arbitrate; multi-
    // DRIVER writers to one dataset need a filesystem with atomic
    // no-overwrite rename (the Delta LogStore contract).
    val committed =
      try commitLocks.computeIfAbsent(path, _ => new Object).synchronized {
        val version = versions(spark, path).lastOption.getOrElse(0L) + 1
        // COMPARE-AND-SWAP: the caller states which head its read-set
        // came from; if another commit landed since, this one is built
        // on a stale base and would silently DROP the interloper's
        // segments from the lineage — fail loudly instead (the rename
        // race only arbitrates ties at the SAME version number, it
        // cannot see a base that moved two commits ago)
        expectedBase.foreach { b =>
          if (version != b + 1) throw new IllegalStateException(
            s"concurrent commit at $path: read-set base was version $b " +
              s"but the head is now ${version - 1}")
        }
        val tmp = new Path(dir,
          s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        val out = fs.create(tmp, false)
        try out.write((opLine ++ dvLines ++ txnLine ++ cdcLine ++ segs)
          .mkString("\n").getBytes("UTF-8"))
        finally out.close()
        val dest = new Path(dir, f"v-$version%09d.txt")
        if (fs.exists(dest) || !fs.rename(tmp, dest) || !fs.exists(dest)) {
          fs.delete(tmp, false)
          throw new IllegalStateException(
            s"version $version already committed at $path — " +
            "concurrent committers must be serialized")
        }
        version
      } catch { case e: Throwable =>
        cdcLine.filter(_ != "#cdc neutral").foreach { l =>
          fs.delete(new Path(
            s"$path/_cdc/${l.stripPrefix("#cdc ").split(" ")(0)}"),
            true): Unit
        }
        throw e
      }
    committed
  }

  /** Per-dataset commit mutex (see [[commitSegments]]): serializes the
    * version-assign/CAS/rename critical section within this JVM. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A version's `#`-prefixed manifest header lines (commit metadata),
    * stripped of the marker. */
  private[graft] def manifestMeta(spark: SparkSession, path: String,
                           version: Long): Seq[String] =
    splitManifest(manifestText(spark, path, version))._2

  /** Parse `#dv` header lines into the segment → vector-file map —
    * shared by [[readDvMap]] and the bulk-read consumers
    * ([[changeFeed]], [[vacuum]]). */
  private[graft] def dvLinesToMap(meta: Seq[String]): Map[String, String] =
    meta.filter(_.startsWith("#dv "))
      .map { l =>
        val Array(s, d) = l.stripPrefix("#dv ").split("\t", 2)
        s -> d
      }.toMap

  /** A version's segment → deletion-vector-file map (empty when the
    * version carries no DVs, including every pre-DV version) — parsed
    * from the manifest's `#dv` header lines. */
  private[graft] def readDvMap(spark: SparkSession, path: String,
                               version: Long): Map[String, String] =
    dvLinesToMap(manifestMeta(spark, path, version))

  /** The head version number — resolve ONCE per DML statement and pass
    * it to every read the statement makes: a commit landing between two
    * independent head resolutions would otherwise make the detection
    * pass and the carried-segment list describe different snapshots
    * (silently dropping a concurrently appended segment). */
  private[graft] def headVersion(spark: SparkSession, path: String): Long = {
    val all = versions(spark, path)
    require(all.nonEmpty, s"no committed versions at $path")
    all.last
  }

  /** A version's segment names, in manifest order (head when absent) —
    * what a pruned DML partitions into touched (rewritten) and
    * untouched (carried). */
  private[graft] def headSegments(spark: SparkSession, path: String,
                                  version: Option[Long] = None): Seq[String] =
    readManifest(spark, path, version.getOrElse(headVersion(spark, path)))

  /** Provenance column names a DML-target dataset must not use: the
    * rewrite machinery appends them to the scan, so a colliding user
    * column would make the detection join ambiguous. Guarded loudly at
    * statement entry (MERGE additionally reserves `__srid`). */
  private[graft] val ReservedProvenanceCols = Seq("__file", "__pos", "__seg")

  /** Column names the row-level CHANGE DATA FEED appends to change rows
    * — a DML target must not use them, or the feed could not represent
    * its own rows. Guarded loudly where change rows are built. */
  private[graft] val CdcReservedCols = Seq("_change_type", "_commit_version")

  /** What a commit contributes to the row-level change data feed.
    *   - [[CdcNone]]: nothing recorded — pure appends synthesize their
    *     `insert` rows LAZILY at read time from the added segments
    *     (zero write cost on the ingest hot path), and carry-all
    *     commits (a no-match DML) have nothing to record;
    *   - [[CdcNeutral]]: an explicit "no logical change" marker for
    *     data REORGANIZATIONS (compact, OPTIMIZE, vector purge) —
    *     they add AND remove segments, which without the marker is
    *     indistinguishable from a legacy DML whose change rows were
    *     never recorded;
    *   - [[CdcRows]]: the DML's change rows (table columns plus
    *     `_change_type` ∈ insert / update_preimage / update_postimage
    *     / delete), written to a uniquely-named dir under `_cdc/`
    *     referenced by the manifest's `#cdc` header line —
    *     cost proportional to the MATCHED rows, never the table. */
  private[graft] sealed trait CdcSpec
  private[graft] case object CdcNone extends CdcSpec
  private[graft] case object CdcNeutral extends CdcSpec
  private[graft] final case class CdcRows(df: DataFrame) extends CdcSpec

  /** Tag `df`'s rows with a `_change_type`, guarding the reserved
    * names. Provenance columns, if present, are dropped — change rows
    * carry user-visible columns only. */
  private[graft] def cdcTag(df: DataFrame, changeType: String): DataFrame = {
    CdcReservedCols.foreach { c =>
      require(!df.columns.contains(c),
        s"change data feed: dataset uses reserved column name '$c'")
    }
    df.drop(ReservedProvenanceCols: _*)
      .withColumn("_change_type", org.apache.spark.sql.functions
        .lit(changeType))
  }

  /** EXACT row count of a committed snapshot from parquet FOOTER
    * metadata alone — no data pages decoded, no scan job. The files are
    * walked task-parallel (one footer read each, the
    * [[Tables.parquetFooterStats]] model) so a 100 TB manifest costs
    * KB-sized metadata reads, not a table pass — this is what the DML
    * status rows report instead of `read(head).count()`. */
  def rowCount(spark: SparkSession, path: String,
               version: Option[Long] = None): Long = {
    val v = version.getOrElse(headVersion(spark, path))
    // deletion vectors subtract from the footer totals — their headers
    // carry the count, so this stays a metadata-only read (batched
    // like the footer walk: never one serial driver read per vector)
    val deleted = dvCounts(spark, path,
      readDvMap(spark, path, v).values.toSeq.distinct).valuesIterator.sum
    footerRowCount(spark, path, headSegments(spark, path, Some(v))) - deleted
  }

  /** Exact row count of the segments ADDED in (`fromVersion`, `to`] —
    * footer metadata only, like [[rowCount]]: what an INSERT's status
    * row reports without re-reading even the rows it just wrote. */
  def addedRowCount(spark: SparkSession, path: String, fromVersion: Long,
                    toVersion: Option[Long] = None): Long =
    footerRowCount(spark, path,
      manifestDelta(spark, path, fromVersion, toVersion)._1)

  private def footerRowCount(spark: SparkSession, path: String,
                             segs: Seq[String]): Long =
    footerRowCountBySeg(spark, path, segs).valuesIterator.sum

  /** Exact row count of ONE segment — the stats sidecar when present
    * (a KB text read), the footer walk otherwise: what a DML status
    * row consults instead of re-executing a data-sized plan. */
  private[graft] def segmentRowCount(spark: SparkSession, path: String,
      seg: String): Long =
    footerRowCountBySeg(spark, path, Seq(seg))(seg)

  /** One segment's exact footer row count: list its dir, sum
    * `getRecordCount` over the part files. THE shared body of both
    * [[footerRowCountBySeg]] paths — the filtering rule and footer
    * handling must never diverge between the driver-side and
    * distributed walks. Runnable inside an executor task. */
  private def footerCountOneSeg(
      conf: org.apache.hadoop.conf.Configuration,
      path: String, seg: String): Long =
    Tables.parquetRows(conf, new Path(s"$path/data/$seg"))

  /** Exact PER-SEGMENT row counts. Up to 32 segments count on the
    * driver, each from its stats sidecar or, without one, its parquet
    * footers. More segments count in ONE distributed job that does both
    * the per-segment listing and the footer walks (one task per
    * segment, the analyzeStats model): driver cost stays O(1) round
    * trips, not O(segments) listStatus calls, and callers that need
    * many segments' counts ([[purgeVectors]]) never launch one job per
    * segment. */
  private[graft] def footerRowCountBySeg(spark: SparkSession, path: String,
      segs: Seq[String]): Map[String, Long] = {
    if (segs.isEmpty) return Map.empty
    // up to 32 segments count driver-side — each segment's stats
    // sidecar (one KB-sized read) or, without one, its footers: a few
    // small round trips beat a Spark job's scheduling floor (the DML
    // and MERGE status counts ask for their affected segments); the
    // distributed job remains the many-segment path per the scaladoc's
    // O(1)-driver-round-trips contract
    if (segs.length <= 32) {
      val conf = spark.sparkContext.hadoopConfiguration
      return segs.map(s => s -> SegmentStats.read(spark, path, s)
        .map(_.rows).getOrElse(footerCountOneSeg(conf, path, s))).toMap
    }
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.sparkContext
      .parallelize(segs, math.min(segs.length, 64))
      .map(s => s -> footerCountOneSeg(confBc.value.value, path, s))
      .collect().toMap
  }

  /** Deleted-position counts for MANY deletion-vector files (metadata
    * header reads): serial up to a handful, one distributed job past —
    * [[rowCount]] and [[purgeVectors]] on a widely-vectored table must
    * not pay one serial driver read per vector. */
  private[graft] def dvCounts(spark: SparkSession, path: String,
      dvs: Seq[String]): Map[String, Long] = {
    if (dvs.isEmpty) Map.empty
    else if (dvs.length <= 32) {
      val conf = spark.sparkContext.hadoopConfiguration
      dvs.map(d => d -> DeletionVectors.count(conf, path, d)).toMap
    } else {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      spark.sparkContext
        .parallelize(dvs, math.min(dvs.length, 64))
        .map(d => d -> DeletionVectors.count(confBc.value.value, path, d))
        .collect().toMap
    }
  }

  /** Commit `df` as the next version. `append = true` (default) stacks
    * the new segment on the previous version's segment list (the
    * incremental-run shape); `append = false` starts the new version
    * from ONLY this segment (a full republish — prior versions stay
    * readable, their segments are simply no longer referenced by the
    * head). Returns the committed version number.
    *
    * Appends enforce schema compatibility against the previous head:
    * the committed columns (names + types, in order) must be a PREFIX
    * of the incoming frame's — identical appends pass unchanged, and an
    * append may WIDEN the dataset with extra trailing columns (schema
    * EVOLUTION: a new signal column arriving mid-corpus-life must not
    * force a history rewrite — at 100 TB that rewrite is the whole
    * dataset; [[read]] merges schemas so prior segments serve NULL for
    * the new columns, the lakehouse add-column semantics). Column
    * renames/retypes/drops still reject loudly — silent drift is how a
    * downstream trainer gets garbage columns at read time. */
  def commit(df: DataFrame, path: String, append: Boolean = true,
             writerOptions: Map[String, String] = Map.empty,
             txn: Option[(String, Long)] = None,
             maxRetries: Int = 0): Long = {
    val spark = df.sparkSession
    var seg: Option[String] = None
    var attempt = 0
    while (true) {
      // IDEMPOTENT commits: `txn = Some((app, batchId))` records the
      // writer's (application, monotonic batch) identity with the
      // version; a replayed batch (a Structured Streaming retry after a
      // sink failure, a re-run ingest job) whose batchId is not GREATER
      // than the app's last recorded one is a NO-OP returning the
      // current head — the Delta txnAppId/txnVersion contract, what
      // makes foreachBatch into this sink EXACTLY-ONCE end to end
      // (offsets replay from the checkpoint WAL with the same batchId).
      // Re-checked on every optimistic retry: the racer that beat us
      // may have been our own twin.
      txn match {
        case Some((app, batchId)) if lastTxn(spark, path, app)
            .exists(_ >= batchId) =>
          // the already-written segment is unreferenced; sweep it now
          // rather than leaving it for vacuum
          seg.foreach(s =>
            fsOf(spark, path).delete(new Path(s"$path/data/$s"), true))
          return headVersion(spark, path)
        case _ => ()
      }
      val prev = versions(spark, path)
      val prevSegs =
        if (append && prev.nonEmpty) readManifest(spark, path, prev.last)
        else Seq.empty
      if (prevSegs.nonEmpty) {
        // compare against the NEWEST segment — the dataset's widest
        // schema; checking the oldest would let a later append silently
        // narrow an evolved dataset back down. The stats sidecar
        // carries the segment's schema (one KB-sized text read); only
        // a sidecar-less legacy segment pays the parquet footer
        // inference.
        val prevSchema = SegmentStats.read(spark, path, prevSegs.last)
          .map(_.schema)
          .getOrElse(
            spark.read.parquet(s"$path/data/${prevSegs.last}").schema)
        val prevSig = prevSchema.map(f => (f.name, f.dataType))
        val inSig = df.schema.map(f => (f.name, f.dataType))
        require(inSig.take(prevSig.length) == prevSig,
          s"append schema mismatch at $path: committed " +
            s"${prevSchema.simpleString} vs incoming ${df.schema.simpleString} " +
            "(appends may add trailing columns, never rename/retype/drop)")
      }
      // segment first (invisible until the manifest lands), commit
      // last; an append CARRIES the head's deletion vectors with its
      // segments. The segment is written exactly ONCE — an optimistic
      // retry re-reads the manifest, never the data.
      if (seg.isEmpty) seg = Some(writeSegment(df, path, writerOptions))
      val prevDvs =
        if (prevSegs.nonEmpty) readDvMap(spark, path, prev.last)
        else Map.empty[String, String]
      try {
        return commitSegments(spark, path, prevSegs :+ seg.get, prevDvs,
          txn = txn, expectedBase = Some(prev.lastOption.getOrElse(0L)),
          op = if (append) "append" else "republish")
      } catch {
        // OPTIMISTIC CONCURRENCY for appends (`maxRetries > 0`): losing
        // the manifest rename race costs one manifest re-read and a
        // retry — the data segment is already on disk and an append
        // conflicts with NOTHING (schema and txn watermark re-validate
        // against the new head above). DML statements stay
        // single-writer: their read-set must not move mid-statement.
        case _: IllegalStateException
            if append && attempt < maxRetries =>
          attempt += 1
      }
    }
    -1L // unreachable: the loop returns or throws
  }

  /** The LAST batchId writer `app` recorded at `path` (via
    * [[commit]]'s `txn`), or None if it never committed — what a
    * restarted ingest job consults to resume, and what the idempotence
    * check compares against. One manifest-directory listing plus one
    * tiny side-file read per txn-bearing version: manifest-scale,
    * never data-scale. */
  def lastTxn(spark: SparkSession, path: String, app: String)
      : Option[Long] = {
    val all = versions(spark, path)
    // per-app batchIds land in strictly increasing order (commit
    // suppresses anything ≤ the watermark), so scanning manifests
    // NEWEST-FIRST, the first `#txn` line for this app IS its
    // watermark — an active ingest app resolves in O(1) SERIAL manifest
    // reads (the hot path: its own txn line is in the newest few).
    // An app with no recent commit (a fresh sink over an old table, a
    // seldom-run backfill) falls through to the DEEP scan, which reads
    // the rest of the history in bulk CHUNKS (one distributed job per
    // 256 versions) instead of one serial driver read per version.
    def txnOf(meta: Seq[String]): Option[Long] = meta.collectFirst {
      case l if l.startsWith("#txn ") &&
          l.stripPrefix("#txn ").split("\t", 2)(0) == app =>
        l.stripPrefix("#txn ").split("\t", 2)(1).toLong
    }
    val newestFirst = all.reverse
    val (recent, deep) = newestFirst.splitAt(8)
    val fromManifests = recent.iterator
      .flatMap(v => txnOf(manifestMeta(spark, path, v)))
      .nextOption()
      .orElse(deep.grouped(256).flatMap { chunk =>
        val bulk = readManifestsBulk(spark, path, chunk)
        chunk.iterator.flatMap(v => txnOf(bulk(v)._2))
      }.nextOption())
    // vacuum rolls dropped versions' watermarks into a single file so
    // idempotence SURVIVES retention — a replayed batch older than the
    // vacuum window must still suppress
    val fromRollup = readTxnRollup(spark, path).get(app)
    (fromManifests.toSeq ++ fromRollup.toSeq).maxOption
  }

  // ---- vacuum-survival rollups. Both live as VERSIONED files
  //      (`<base>-<n>.txt`, highest index live, the constraints-file
  //      pattern): the old delete-then-rename update had a crash window
  //      between the delete and the rename that lost every previously
  //      rolled-up entry — for constraint ops, silently defeating the
  //      vacuum-survival durability the rollup exists to provide. The
  //      legacy unversioned filename reads as index −1 (shadowed by any
  //      versioned install). ----

  /** All versions of rollup `base` in the dir, ascending by index —
    * the ONE place the `base-<n>.txt` naming scheme (and the legacy
    * unversioned `base.txt` reading as index −1) is resolved; both the
    * reader and the installer consume this so they can never disagree
    * on which file is live. */
  private def listRollupFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, base: String): Seq[(Long, Path)] = {
    val re = (java.util.regex.Pattern.quote(base) + "-(\\d+)\\.txt").r
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case re(n) => Some(n.toLong -> st.getPath)
        case nm if nm == s"$base.txt" => Some(-1L -> st.getPath)
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Newest-first resolution for a versioned rollup file: (index, path)
    * of the live file, if any. */
  private def newestRollupFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, base: String): Option[(Long, Path)] =
    listRollupFiles(fs, dir, base).lastOption

  /** Install `content` as the next version of rollup `base`, then
    * best-effort retire superseded files (a leftover is shadowed by
    * newest-first resolution, never misread — and the new file is in
    * place before anything is deleted, so no crash loses the rollup). */
  private def installRollupFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, base: String, content: String): Unit = {
    fs.mkdirs(dir)
    val old = listRollupFiles(fs, dir, base)
    val nextIdx = old.lastOption.fold(0L)(_._1 + 1L)
    val tmp = new Path(dir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val dest = new Path(dir, f"$base-$nextIdx%09d.txt")
    require(fs.rename(tmp, dest), s"could not install rollup $dest")
    old.foreach { case (_, p) => fs.delete(p, false): Unit }
  }

  private def readRollupText(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, base: String): Option[String] =
    newestRollupFile(fs, dir, base).map { case (_, f) =>
      val in = fs.open(f)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }

  /** Retained rollup of `add-constraint(...)` / `drop-constraint(...)`
    * audit ops — one line per name:
    * `name\tversion\tmanifest-mtime-ms\tadd|drop`, newest version per
    * name, plus a `#reconciled <version>` watermark: every version at
    * or below it has had its constraint op folded in (vacuum scans the
    * whole history anyway and records head). Without the rollup a
    * vacuum racing a crashed [[dropConstraint]] would silently erase
    * the pending-drop marker (the audit commit's manifest dies while
    * the constraint file still enforces); the watermark additionally
    * lets [[pendingConstraintDrops]] scan only (watermark, head]. */
  private[graft] def readConstraintOpsRollup(spark: SparkSession,
      path: String): (Map[String, (Long, Long, String)], Option[Long]) = {
    val fs = fsOf(spark, path)
    readRollupText(fs, new Path(s"$path/manifest"), "constraint-ops") match {
      case None => (Map.empty, None)
      case Some(text) =>
        val lines = text.split("\n").toSeq.filter(_.nonEmpty)
        val reconciled = lines.collectFirst {
          case l if l.startsWith("#reconciled ") =>
            l.stripPrefix("#reconciled ").toLong
        }
        val ops = lines.filterNot(_.startsWith("#")).map { l =>
          val Array(n, v, mt, op) = l.split("\t", 4)
          n -> ((v.toLong, mt.toLong, op))
        }.toMap
        (ops, reconciled)
    }
  }

  private val ConstraintOpRe = """(add|drop)-constraint\((.+)\)""".r

  private def readTxnRollup(spark: SparkSession, path: String)
      : Map[String, Long] = {
    val fs = fsOf(spark, path)
    readRollupText(fs, new Path(s"$path/manifest"), "txn-watermarks")
      .fold(Map.empty[String, Long]) { text =>
        text.split("\n").toSeq.filter(_.nonEmpty).map { l =>
          val Array(a, b) = l.split("\t", 2)
          a -> b.toLong
        }.toMap
      }
  }

  /** Append storage-level row provenance to a segment-backed frame:
    * `__file` / `__pos` (the parquet `_metadata.file_path` /
    * `row_index` hidden fields — a row identity that is deterministic
    * across jobs with ZERO materialization, unlike
    * `monotonically_increasing_id`, which renumbers between jobs unless
    * the whole frame is checkpointed) and `__seg` (the owning segment
    * name = the file's parent directory — what a pruned rewrite must
    * touch). */
  private[graft] def withProvenance(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    df.select(df.columns.map(F.col).toSeq ++ Seq(
        F.col("_metadata.file_path").as("__file"),
        F.col("_metadata.row_index").as("__pos")): _*)
      .withColumn("__seg", F.element_at(F.split(F.col("__file"), "/"), -2))
  }

  /** Snapshot read + [[withProvenance]] — the detection-pass frame
    * every pruned DML starts from: filter/join it, collect the DISTINCT
    * `__seg` values of matched rows (bounded by the manifest length,
    * never by data volume), and rewrite only those segments. Pass the
    * statement's pinned head version so the detection read and the
    * carried-segment list resolve the SAME manifest. */
  private[graft] def readWithProvenance(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val (rel, _, v) = openRelation(spark, path, version)
    // a DML's detection pass must never see (or re-delete) an
    // already-vectored row
    DeletionVectors.applyTo(withProvenance(rel), spark, path,
      readDvMap(spark, path, v))
  }

  /** The named segments' live rows aligned to `schema`, without
    * provenance — an incremental reader's view of added segments. */
  private[graft] def readSegments(spark: SparkSession, path: String,
      segs: Seq[String], schema: org.apache.spark.sql.types.StructType,
      dvMap: Map[String, String]): DataFrame =
    readSegmentsAligned(spark, path, segs, schema, dvMap)
      .drop(ReservedProvenanceCols: _*)

  /** Read ONLY the named segments, provenance-tagged and aligned to
    * `schema` (the head's merged schema): segments written before a
    * widening append serve explicit NULLs for the evolved columns, so
    * a pruned rewrite's projections — compiled against the head schema
    * — resolve regardless of which schema generation the touched
    * segments carry. `excluded` adds positions to drop on top of the
    * segments' vectors, in the same in-scan filter (how MERGE leaves
    * out the rows its clauses rewrote). */
  private def readSegmentsAligned(
      spark: SparkSession, path: String, segs: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      dvMap: Map[String, String] = Map.empty,
      excluded: graft.functions.DeletedPositions =
        graft.functions.DeletedPositions.empty): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    require(segs.nonEmpty, "readSegmentsAligned needs >= 1 segment")
    // EXPLICIT target schema, not mergeSchema inference (round 18,
    // apply-floor work): the caller hands the snapshot's committed
    // schema, every segment's columns are a subset of it (append-only
    // evolution), and parquet serves NULL for absent columns under an
    // explicit schema — the same alignment the old
    // inference-then-null-fill produced, minus the per-statement
    // footer-inference job every DML rewrite was paying
    val raw = spark.read.schema(schema)
      .parquet(segs.map(s => s"$path/data/$s"): _*)
    val aligned = withProvenance(raw).select(
      schema.fields.map(f => F.col(f.name)).toSeq ++
        Seq(F.col("__file"), F.col("__pos"), F.col("__seg")): _*)
    // a rewrite of a vectored segment MATERIALIZES its vector: the
    // deleted rows must not resurrect into the fresh segment.
    // (Set lookup — Seq.contains per dv is O(dvs × segments).)
    val segSet = segs.toSet
    DeletionVectors.applyTo(aligned, spark, path,
      dvMap.filter { case (s, _) => segSet.contains(s) }, excluded)
  }

  /** A row-level statement's pinned snapshot: the head version and, from
    * that one manifest, its segments, committed schema and
    * deletion-vector map. The matched-row scan, the carried-segment
    * list, the rewrite and the commit's compare-and-swap all describe
    * this version, so a commit landing mid-statement fails the final
    * rename loudly instead of desynchronizing them. */
  private[graft] final case class Snapshot(spark: SparkSession,
      path: String, version: Long, segs: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      dvMap: Map[String, String])

  /** Pin the head of `path` for a `kind` statement (DELETE, UPDATE or
    * MERGE) and run the reserved-name guard: the core appends
    * provenance columns to the scan and change columns to the feed, so
    * a table column — or one of `otherColumns`, MERGE's source — named
    * like one of them or like `extraReserved` would otherwise fail deep
    * inside as an ambiguous reference. */
  private[graft] def pin(spark: SparkSession, path: String, kind: String,
      extraReserved: Seq[String] = Nil,
      otherColumns: Seq[String] = Nil): Snapshot = {
    val hv = headVersion(spark, path)
    val schema = openRelation(spark, path, Some(hv))._1.schema
    (ReservedProvenanceCols ++ CdcReservedCols ++ extraReserved).foreach { c =>
      require(!schema.fieldNames.contains(c) && !otherColumns.contains(c),
        s"$kind: reserved column name '$c' at $path")
    }
    Snapshot(spark, path, hv, headSegments(spark, path, Some(hv)), schema,
      readDvMap(spark, path, hv))
  }

  /** A statement's matched rows, pinned: `ckpt` is the local checkpoint
    * of the one scan that found them, `rows` the same rows on the driver
    * when they fit the small-match cap, `n` their exact count. */
  private[graft] final case class Matched(ckpt: DataFrame,
      rows: Option[Array[org.apache.spark.sql.Row]], n: Long) {
    /** The rows as a frame: one local partition within the cap (one
      * file per write), the checkpoint past it. */
    lazy val frame: DataFrame = rows.fold(ckpt)(rs => ckpt.sparkSession
      .createDataFrame(java.util.Arrays.asList(rs: _*), ckpt.schema)
      .coalesce(1))
  }

  /** Pin `matched` with ONE scan: its row count rides the checkpoint's
    * job through `observe`, and a set within
    * [[graft.Engine.smallMatchRowCap]] then comes to the driver, so its
    * vectors, positions and change rows need no further scan. Cost ∝
    * matched rows, never the table. */
  private[graft] def pinMatched(matched: DataFrame): Matched = {
    import org.apache.spark.sql.{functions => F}
    val obs = new org.apache.spark.sql.Observation()
    val ckpt = matched.observe(obs, F.count(F.lit(1)).as("n"))
      .localCheckpoint(true)
    // the observed count lands with the job's end; a late one costs a
    // count over the checkpoint, never a second table scan
    val n =
      try scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration("30s")).getLong(0)
      catch { case _: java.util.concurrent.TimeoutException => ckpt.count() }
    Matched(ckpt,
      if (n <= graft.Engine.smallMatchRowCap(ckpt.schema)) Some(ckpt.collect())
      else None, n)
  }

  /** THE row-level rewrite: the `affected` segments' live rows minus the
    * `excluded` positions, plus the `added` frames, written as ONE fresh
    * segment and committed with every untouched segment carried by
    * reference (files byte-identical; a rewritten segment materializes
    * its vector). Within the small-match cap the excluded positions
    * leave inside the scan, through the vector filter; past it, through
    * the shuffled anti join. `dropped` counts the affected rows that
    * leave for good: when the affected segments' live rows (footer or
    * sidecar totals − vector header counts, KB-sized reads) exceed it,
    * the write is provably non-empty and skips the take(1) emptiness
    * probe. An empty `affected` with nothing added is a manifest-only
    * commit. Returns (new version, fresh segment, live affected rows). */
  private[graft] def rewrite(snap: Snapshot, excluded: Matched,
      affected: Set[String], dropped: Long, added: Seq[DataFrame],
      cdc: CdcSpec, op: String): (Long, Option[String], Long) = {
    import org.apache.spark.sql.{functions => F}
    val Snapshot(spark, path, hv, segs, schema, dvMap) = snap
    val touched = segs.filter(affected)
    val kept = if (touched.isEmpty) None else Some((excluded.rows match {
      case Some(rows) =>
        val Seq(fi, pi) = Seq("__file", "__pos").map(excluded.ckpt.schema.fieldIndex)
        readSegmentsAligned(spark, path, touched, schema, dvMap,
          excluded = graft.functions.DeletedPositions.of(
            rows.iterator.map(r => (r.getString(fi), r.getLong(pi)))))
      case None => DeletionVectors.antiJoin(
        readSegmentsAligned(spark, path, touched, schema, dvMap), excluded.ckpt)
    }).select(schema.fieldNames.toSeq.map(F.col): _*))
    val live =
      if (touched.isEmpty) 0L
      else footerRowCountBySeg(spark, path, touched).valuesIterator.sum -
        dvCounts(spark, path, touched.flatMap(dvMap.get)).valuesIterator.sum
    val fresh = (kept.toSeq ++ added).reduceOption(_ unionAll _).flatMap { df =>
      if (live - dropped > 0) Some(writeSegment(df, path))
      else writeSegmentIfNonEmpty(df, path)
    }
    (commitPruned(spark, path, segs.filterNot(affected), fresh, schema,
      dvMap, cdc, Some(hv), op), fresh, live)
  }

  /** Copy-on-write DELETE: commit a new version without the head's rows
    * where `predicate` is TRUE (a NULL keeps the row) — the
    * takedown/GDPR primitive on the publishing layer. The delete is
    * itself a version: prior snapshots stay readable until [[vacuum]]
    * retires them. The matched rows are pinned once and their positions
    * leave the affected segments in one [[rewrite]]; untouched segments
    * carry by reference, so a selective delete on a 100 TB corpus costs
    * the matched segments, not the table. Returns the new version. */
  def deleteWhere(spark: SparkSession, path: String,
                  predicate: org.apache.spark.sql.Column): Long =
    rowLevel(pin(spark, path, "DELETE"), predicate, None, vectored = false)._1

  /** MERGE-ON-READ delete: like [[deleteWhere]], but the matched
    * positions land in per-segment DELETION VECTORS (unioned with any
    * prior vector) and every segment carries byte-identical — write
    * cost ∝ matched rows, the takedown of scattered single rows at
    * 100 TB. [[compact]]/OPTIMIZE and any copy-on-write rewrite of the
    * segment later materialize them. Returns the new version. */
  def deleteWhereVectored(spark: SparkSession, path: String,
                          predicate: org.apache.spark.sql.Column): Long =
    rowLevel(pin(spark, path, "DELETE"), predicate, None, vectored = true)._1

  /** Copy-on-write UPDATE: rows where `predicate` is TRUE carry the
    * `sets` values (column name → expression, cast here to the
    * committed type so the schema never drifts); a NULL keeps the row.
    * One [[rewrite]] writes the affected segments' other rows and the
    * postimages. Returns (new version, rows updated). */
  def updateWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)]): (Long, Long) =
    rowLevel(pin(spark, path, "UPDATE"), predicate, Some(sets), vectored = false)

  /** MERGE-ON-READ UPDATE: vector away the matched positions and APPEND
    * one segment of their updated copies — write cost ∝ matched rows,
    * never the segments holding them. Returns (new version, rows
    * updated). */
  def updateWhereVectored(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)]): (Long, Long) =
    rowLevel(pin(spark, path, "UPDATE"), predicate, Some(sets), vectored = true)

  /** DELETE (`sets` empty) or UPDATE over a pinned snapshot, in either
    * write mode: the matched rows are pinned once ([[pinMatched]]) and
    * feed the change rows, the postimages and either the vectors
    * (`vectored`) or the [[rewrite]]. A statement matching nothing
    * commits the head's segments and vectors unchanged. Returns (new
    * version, rows matched). */
  private[graft] def rowLevel(snap: Snapshot,
      predicate: org.apache.spark.sql.Column,
      sets: Option[Seq[(String, org.apache.spark.sql.Column)]],
      vectored: Boolean): (Long, Long) = {
    import org.apache.spark.sql.{functions => F}
    val Snapshot(spark, path, hv, segs, schema, dvMap) = snap
    val kind = if (sets.isEmpty) "DELETE" else "UPDATE"
    sets.toSeq.flatten.foreach { case (n, _) =>
      require(schema.fieldNames.contains(n), s"$kind SET references unknown column '$n'")
    }
    // the raw predicate filters (a Filter keeps TRUE rows only, and the
    // bare comparison is what parquet pushdown and row-group pruning
    // consume) over the vector-filtered provenance read: an
    // already-deleted row can neither re-match nor be recorded twice
    val scan = readWithProvenance(spark, path, Some(hv)).filter(predicate)
    // evaluated once, yet a statement's matched set must still be a
    // function of its snapshot: one retried after losing its
    // compare-and-swap must match the same rows
    scan.queryExecution.analyzed.foreach {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        require(f.condition.deterministic,
          s"$kind predicates must be deterministic: ${f.condition.sql}")
      case _ => ()
    }
    val m = pinMatched(scan)
    val post = sets.map(s => m.frame.select(schema.fields.map { f =>
      s.find(_._1 == f.name) match {
        case Some((_, rhs)) => rhs.cast(f.dataType).as(f.name)
        case None => F.col(f.name)
      }
    }.toSeq: _*))
    val op = kind.toLowerCase(java.util.Locale.ROOT) +
      (if (vectored) "-vectored" else "")
    val v =
      if (m.n == 0) rewrite(snap, m, Set.empty, 0L, Nil, CdcNone, op)._1
      else {
        val cdc = CdcRows(post.fold(cdcTag(m.frame, "delete"))(p =>
          cdcTag(m.frame, "update_preimage")
            .unionByName(cdcTag(p, "update_postimage"))))
        if (vectored)
          commitSegments(spark, path, segs ++ post.map(writeSegment(_, path)),
            dvMap ++ vectors(snap, m), cdc, expectedBase = Some(hv), op = op)
        else {
          val affected = m.rows match {
            case Some(rows) =>
              val si = m.ckpt.schema.fieldIndex("__seg")
              rows.iterator.map(_.getString(si)).toSet
            case None => m.ckpt.select("__seg").distinct().collect()
              .map(_.getString(0)).toSet
          }
          // an UPDATE's postimages replace every row it excludes
          rewrite(snap, m, affected, if (post.isEmpty) m.n else 0L,
            post.toSeq, cdc, op)._1
        }
      }
    (v, m.n)
  }

  /** The matched positions as deletion vectors, each unioned with its
    * segment's prior vector: built and written on the driver within the
    * small-match cap, in tasks grouped by segment past it
    * ([[buildVectors]] over the checkpoint). Returns segment → new
    * vector file. */
  private def vectors(snap: Snapshot, m: Matched): Map[String, String] =
    m.rows match {
      case Some(rows) =>
        val conf = snap.spark.sparkContext.hadoopConfiguration
        val Seq(fi, pi, si) =
          Seq("__file", "__pos", "__seg").map(m.ckpt.schema.fieldIndex)
        // vectors key positions by part-file name, the path's last part
        def fileName(r: org.apache.spark.sql.Row) = {
          val f = r.getString(fi)
          f.substring(f.lastIndexOf('/') + 1)
        }
        rows.groupBy(_.getString(si)).map { case (seg, rs) =>
          seg -> publishVector(conf, snap.path, seg, snap.dvMap.get(seg),
            rs.toSeq.groupMap(fileName)(_.getLong(pi)))
        }
      case None => buildVectors(snap.spark, snap.path, m.ckpt, snap.dvMap)
    }

  /** Publish a segment's new vector: its prior vector (if any) ∪ the
    * newly deleted positions per part-file name. Returns the file name.
    * Runs on the driver or inside a task. */
  private def publishVector(conf: org.apache.hadoop.conf.Configuration,
      path: String, seg: String, prior: Option[String],
      added: Map[String, Iterable[Long]]): String = {
    val old = prior.map(DeletionVectors.read(conf, path, _))
      .getOrElse(Map.empty[String, Array[Long]])
    DeletionVectors.write(conf, path, seg, (old.keySet ++ added.keySet).map {
      f => f -> (old.getOrElse(f, Array.emptyLongArray) ++
        added.getOrElse(f, Nil)).distinct.sorted
    }.toMap)
  }

  /** Per-segment vector build in tasks from a provenance-tagged frame
    * of matched rows: hash-cluster by segment, each task unions its
    * segments' positions with any prior vector and publishes a fresh
    * one; only (segment → vector name) pairs return to the driver.
    * The over-cap path of the vectored DELETE and UPDATE. */
  private def buildVectors(spark: SparkSession, path: String,
      matched: DataFrame,
      dvOld: Map[String, String]): Map[String, String] = {
    import org.apache.spark.sql.{functions => F}
    val rows = matched
      .select(F.col("__seg"),
        F.element_at(F.split(F.col("__file"), "/"), -1).as("__fname"),
        F.col("__pos"))
      .repartition(F.col("__seg"))
    // ship the SESSION's Hadoop conf to the tasks (like every other
    // distributed helper here): a bare `new Configuration()` on the
    // executor loses spark.hadoop.* settings — s3a credentials etc. —
    // and the vectored DML fails on any non-default filesystem
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    rows.rdd.mapPartitions { it =>
      val bySeg = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.HashMap[
          String, scala.collection.mutable.ArrayBuffer[Long]]]
      it.foreach { r =>
        bySeg.getOrElseUpdate(r.getString(0),
            scala.collection.mutable.HashMap.empty)
          .getOrElseUpdate(r.getString(1),
            scala.collection.mutable.ArrayBuffer.empty) += r.getLong(2)
      }
      val conf = confBc.value.value
      bySeg.iterator.map { case (seg, files) =>
        seg -> publishVector(conf, path, seg, dvOld.get(seg), files.toMap)
      }
    }.collect().toMap
  }

  /** On-disk byte size per segment: serial `getContentSummary` up to a
    * handful of segments, ONE distributed job past that — shared by
    * [[compact]]'s bin packing and the streaming source's
    * `maxBytesPerTrigger` admission, neither of which may pay
    * O(segments) serial driver round trips. */
  private[graft] def segmentBytes(spark: SparkSession, path: String,
      segs: Seq[String]): Map[String, Long] = {
    if (segs.isEmpty) Map.empty
    else if (segs.length <= 32) {
      val fs = fsOf(spark, path)
      segs.map { s =>
        s -> fs.getContentSummary(new Path(s"$path/data/$s")).getLength
      }.toMap
    } else {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      spark.sparkContext
        .parallelize(segs, math.min(segs.length, 64))
        .map { s =>
          val p = new Path(s"$path/data/$s")
          s -> p.getFileSystem(confBc.value.value)
            .getContentSummary(p).getLength
        }.collect().toMap
    }
  }

  /** Number of segments composing a version (head when absent) — the
    * observability number [[compact]] exists to keep small. */
  def segmentCount(spark: SparkSession, path: String,
                   version: Option[Long] = None): Int = {
    val v = version.getOrElse {
      val all = versions(spark, path)
      require(all.nonEmpty, s"no committed versions at $path")
      all.last
    }
    readManifest(spark, path, v).length
  }

  /** Segment COMPACTION (the lakehouse OPTIMIZE), BIN-PACKED: segments
    * at or above `targetBytes` carry into the new manifest BY
    * REFERENCE (files untouched — rewriting an already-right-sized
    * segment is pure waste, and at 100 TB "all of them" is the
    * table); the small ones greedy-pack in manifest order into
    * ~`targetBytes` bins, each bin rewriting into one fresh segment. A
    * bin holding a SINGLE segment also carries (merging nothing buys
    * nothing). A long-running
    * [[graft.streaming.Streams.versionedSink]] ingest stacks one small
    * segment per micro-batch, so the head's manifest (and every
    * reader's file listing) grows without bound — compaction folds
    * exactly that tail while prior versions stay readable (time travel
    * untouched; [[vacuum]] retires them later, sweeping the
    * now-unreferenced small segments). Crash-safe for free: this IS a
    * commit, so a crash leaves at worst unreferenced segment
    * directories and the previous head fully intact. At the default
    * 1 GiB target every test-scale dataset folds to one segment — the
    * classic full compaction — while a corpus with mature z-ordered
    * segments pays only for its small-file tail. Returns the new
    * version. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 1L << 30): Long = {
    require(targetBytes >= 1, s"targetBytes must be >= 1")
    val hv = headVersion(spark, path)
    val segs = headSegments(spark, path, Some(hv))
    // per-segment sizing: compact exists precisely for tables with
    // MANY small segments (a streaming tail), where a serial driver
    // getContentSummary loop would be O(segments) round trips
    val bySeg = segmentBytes(spark, path, segs)
    val sized: Seq[(String, Long)] =
      segs.map(s => s -> bySeg(s)) // keep manifest order for next-fit
    // greedy next-fit in manifest order: commit order is ingest order,
    // so a streaming tail's small segments pack with their neighbors
    val bins = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[String])
    var acc = 0L
    sized.foreach { case (s, bytes) =>
      if (bytes >= targetBytes) () // carried, never binned
      else {
        if (acc > 0L && acc + bytes > targetBytes) {
          bins += scala.collection.mutable.ArrayBuffer.empty[String]
          acc = 0L
        }
        bins.last += s
        acc += bytes
      }
    }
    val carriedBig = sized.collect { case (s, b) if b >= targetBytes => s }
    val (mergeBins, singletonBins) = bins.filter(_.nonEmpty)
      .partition(_.length >= 2)
    val carried = carriedBig ++ singletonBins.flatten
    val dvMap = readDvMap(spark, path, hv)
    if (mergeBins.isEmpty)
      // nothing to fold: carry-all commit (vectors ride along)
      commitSegments(spark, path, segs, dvMap, expectedBase = Some(hv),
        op = "compact")
    else {
      val headSchema = read(spark, path, Some(hv)).schema
      import org.apache.spark.sql.{functions => F}
      val fresh = mergeBins.map { bin =>
        // DV-aware aligned read: folding a vectored segment
        // MATERIALIZES its vector into the merged output
        writeSegment(readSegmentsAligned(spark, path, bin.toSeq,
            headSchema, dvMap)
          .select(headSchema.fieldNames.map(F.col).toSeq: _*), path)
      }
      // data-neutral for the row-level change feed: vectored rows it
      // materializes away were already retracted at their own commit
      commitSegments(spark, path, carried ++ fresh,
        dvMap.filter { case (s, _) => carried.contains(s) },
        cdc = CdcNeutral, expectedBase = Some(hv), op = "compact")
    }
  }

  /** ROLL BACK the head to a prior snapshot — as a NEW commit, never a
    * history rewrite: the new head references exactly `toVersion`'s
    * segments and deletion vectors (zero bytes move — segments are
    * immutable, so pointing at them again is free), every version in
    * between stays readable, and the audit trail records the restore
    * itself. The bad-pipeline-run escape hatch: a corrupting publish
    * is undone in manifest-write time at any table size. Fails loudly
    * if `toVersion`'s segments were already vacuumed (the time-travel
    * retention contract). Change-feed consumers: a restore that
    * re-adds rows surfaces them as synthesized inserts; one that drops
    * a rewrite's segments rejects feed ranges crossing it (its
    * row-level delta is unknowable) — segment-level CDC covers those.
    * CHECK constraints are write-time fences: restoring to a snapshot
    * that predates a constraint can resurface rows violating it (a
    * restore moves no data through the validated write path — the
    * Delta behavior; re-validate with a filtered count if it matters).
    * Returns the NEW head version. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val hv = headVersion(spark, path)
    require(versions(spark, path).contains(toVersion),
      s"restore: version $toVersion not committed at $path")
    val segs = readManifest(spark, path, toVersion)
    val dvs = readDvMap(spark, path, toVersion)
    commitSegments(spark, path, segs, dvs, expectedBase = Some(hv),
      op = s"restore($toVersion)")
  }

  /** Materialize deletion vectors back into clean segments — the
    * maintenance half of the merge-on-read bargain: vectored DML makes
    * writes cheap but every read pays the anti-join, and a segment that has
    * accumulated many deleted positions wastes scan I/O on rows it
    * always throws away. Segments whose DELETED FRACTION (vector
    * header count over parquet footer row count — METADATA only, no
    * scan) is at least `minFraction` rewrite with their vectors
    * applied; every other segment — vectored or not — carries
    * byte-identical, in manifest order. A fully-deleted segment drops
    * from the manifest without a rewrite output. Data-neutral for the
    * change feed (the deletions were retracted at their own commits).
    * Returns (new version — the head unchanged when nothing qualifies
    * — and the number of segments purged). */
  def purgeVectors(spark: SparkSession, path: String,
                   minFraction: Double = 0.0): (Long, Int) = {
    require(minFraction >= 0.0 && minFraction <= 1.0,
      s"purge threshold must be in [0, 1], got $minFraction")
    import org.apache.spark.sql.{functions => F}
    val hv = headVersion(spark, path)
    val segsAll = headSegments(spark, path, Some(hv))
    val dvMap = readDvMap(spark, path, hv)
    if (dvMap.isEmpty) return (hv, 0)
    // both sides of the fraction in TWO batch jobs total (per-vector
    // header counts, per-segment footer totals) — previously one Spark
    // job PER vectored segment plus one serial driver read per vector
    val deletedByDv = dvCounts(spark, path, dvMap.values.toSeq.distinct)
    val totalBySeg = footerRowCountBySeg(spark, path, dvMap.keys.toSeq)
    val purge = dvMap.filter { case (seg, dv) =>
      val total = totalBySeg(seg)
      total > 0 && deletedByDv(dv).toDouble / total >= minFraction
    }.keySet
    if (purge.isEmpty) return (hv, 0)
    val headSchema = read(spark, path, Some(hv)).schema
    // one rewrite per purged segment, IN PLACE in the manifest:
    // segment granularity (the skipping and DML unit) and any
    // clustered adjacency survive the purge
    val rewritten: Map[String, Option[String]] =
      purge.toSeq.sorted.map { seg =>
        seg -> writeSegmentIfNonEmpty(
          readSegmentsAligned(spark, path, Seq(seg), headSchema, dvMap)
            .select(headSchema.fieldNames.map(F.col).toSeq: _*), path)
      }.toMap
    val newSegs = segsAll.flatMap(s => rewritten.getOrElse(s, Some(s)))
    val v =
      if (newSegs.isEmpty)
        commitPruned(spark, path, Seq.empty, None, headSchema,
          Map.empty, CdcNeutral, expectedBase = Some(hv), op = "purge")
      else commitSegments(spark, path, newSegs,
        dvMap.filterNot { case (s, _) => purge.contains(s) },
        cdc = CdcNeutral, expectedBase = Some(hv), op = "purge")
    (v, purge.size)
  }

  /** Arrange `df` along a Morton (Z-order) curve over `cols`: quantile-
    * quantize each column to a small bucket code, bit-interleave the
    * codes ([[graft.functions.ZOrderCodeExpr]]), range-partition on the
    * resulting z-value and sort within partitions. The output frame has
    * the INPUT schema (the z column is internal) but its row order —
    * and therefore every parquet row group written from it — is tight
    * in ALL clustered dimensions at once, so min/max statistics prune
    * scans filtered on any of them. A linear sort only does this for
    * its leading column; at 100 TB the difference is whether a filter
    * on the second dimension reads the whole table or ~1/√groups of it.
    *
    * Driver cost is bounded and corpus-size-independent: one
    * `approxQuantile` pass collecting `(2^bits - 1)` doubles per column
    * (255 at the default two-column 8 bits). Columns must be numeric —
    * cast timestamps/dates to epoch numbers first, loudly rejected
    * otherwise (hashing strings would destroy the locality the curve
    * exists to create). */
  def zorderLayout(df: DataFrame, cols: Seq[String],
                   numPartitions: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val (zdf, zname) = withZcode(df, cols)
    val n = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    zdf.repartitionByRange(n, F.col(zname))
      .sortWithinPartitions(zname)
      .drop(zname)
  }

  /** The z-code column appended under a reserved name — shared by
    * [[zorderLayout]]'s single-output path and
    * [[optimizeZorderSegments]]'s bucketed one, so the code (and its
    * validation) cannot drift between them. */
  private[sources] def withZcode(df: DataFrame,
                                 cols: Seq[String]): (DataFrame, String) = {
    import org.apache.spark.sql.{functions => F}
    require(cols.size >= 2,
      s"ZORDER BY needs >= 2 columns (one column is a plain sort): $cols")
    require(cols.size <= 7, s"ZORDER BY supports at most 7 columns: $cols")
    val fields = cols.map { c =>
      df.schema.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ZORDER BY column '$c' not in schema ${df.schema.simpleString}"))
    }
    fields.foreach { f =>
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"ZORDER BY column '${f.name}' is ${f.dataType.simpleString} — " +
          "z-ordering needs numeric columns (cast timestamps to epoch first)")
    }
    val bits = math.min(8, 63 / cols.size)
    val nCuts = (1 << bits) - 1
    val probs = (1 to nCuts).map(_.toDouble / (nCuts + 1)).toArray
    // bounded driver collect: nCuts doubles per column, data-volume-free
    val bounds: Array[Array[Double]] =
      df.stat.approxQuantile(fields.map(_.name).toArray, probs, 0.001)
    val doubles = fields.map(f => F.col(f.name).cast("double"))
    val zcol = zcodeColumn(bounds, doubles)
    val zname = "__graft_zorder"
    (df.withColumn(zname, zcol), zname)
  }

  /** The z-code column: native [[graft.functions.ZOrderCodeExpr]] over
    * the per-column cutpoints. Package-private so the differential spec
    * can pin it to the composed z-code. */
  private[graft] def zcodeColumn(bounds: Array[Array[Double]],
                                 doubles: Seq[org.apache.spark.sql.Column]
                                ): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.{functions => F}
    F.call_function("zorder_code",
      F.typedlit(bounds.map(_.toSeq).toSeq) +: doubles: _*)
  }

  /** `OPTIMIZE ... ZORDER BY`: rewrite the head into z-ordered segments
    * and commit as a new version. Unlike [[compact]] there is no
    * one-segment short-circuit — re-clustering IS the point even when
    * the manifest is already small. `writerOptions` pass through to the
    * parquet writer (e.g. a bounded `parquet.block.size` so files carry
    * many prunable row groups). Returns the new version. */
  def optimizeZorder(spark: SparkSession, path: String, cols: Seq[String],
                     writerOptions: Map[String, String] = Map.empty): Long = {
    // a republish of the SAME rows in z-order: segment-then-manifest
    // like commit(append = false), marked data-neutral for the feed
    val hv = headVersion(spark, path)
    val seg = writeSegment(zorderLayout(read(spark, path, Some(hv)), cols),
      path, writerOptions)
    commitSegments(spark, path, Seq(seg), cdc = CdcNeutral,
      expectedBase = Some(hv), op = "zorder")
  }

  /** [[optimizeZorder]] splitting the re-clustered table into `k`
    * Z-RANGE SEGMENTS instead of one. Segment granularity is BOTH the
    * manifest-skipping unit and the DML rewrite unit — a one-segment
    * OPTIMIZE output makes the next selective UPDATE/DELETE rewrite
    * the whole table and gives a filtered read nothing to skip; k
    * z-range segments keep each clustered dimension's selective
    * predicates down to the overlapping slice of the table for reads
    * and DML alike. One data pass: the z-coded frame is
    * range-partitioned on the z-code into `k` partitions, each
    * partition's id is its bucket, the frame is written ONCE
    * partitioned by bucket into a staging dir under `path`, and each
    * bucket directory RENAMES into place as an immutable segment
    * (same-filesystem move, zero byte copies) before the usual
    * segments-then-manifest commit; a crash leaves the old head
    * intact plus a staging orphan that the next [[vacuum]] sweeps. */
  def optimizeZorderSegments(spark: SparkSession, path: String,
      cols: Seq[String], k: Int,
      writerOptions: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.{functions => F}
    require(k >= 2, s"SEGMENTS must be >= 2, got $k (1 is optimizeZorder)")
    val hv = headVersion(spark, path)
    val src = read(spark, path, Some(hv))
    val dataSchema = src.schema
    val (zdf, zname) = withZcode(src, cols)
    val tmp =
      s"$path/.optimize-tmp-${java.util.UUID.randomUUID().toString.take(8)}"
    val fs = fsOf(spark, path)
    try {
      // the range partition IS the bucket: its sample job cuts the
      // z-code ranges (an explicit partition count is never coalesced
      // by AQE, so every bucket keeps its own partition)
      zdf.repartitionByRange(k, F.col(zname))
        .withColumn("__zbk", F.spark_partition_id())
        .sortWithinPartitions("__zbk", zname)
        .drop(zname)
        .write.options(writerOptions).partitionBy("__zbk").parquet(tmp)
      val parts = fs.listStatus(new Path(tmp)).toSeq
        .filter(_.getPath.getName.startsWith("__zbk="))
        .sortBy(_.getPath.getName.stripPrefix("__zbk=").toInt)
      require(parts.nonEmpty, s"OPTIMIZE at $path produced no data")
      fs.mkdirs(new Path(s"$path/data"))
      val segs = parts.map { p =>
        val seg = s"seg-${java.util.UUID.randomUUID().toString.take(12)}"
        require(fs.rename(p.getPath, new Path(s"$path/data/$seg")),
          s"could not move ${p.getPath} into place")
        try SegmentStats.write(spark, path, seg, dataSchema)
        catch { case scala.util.control.NonFatal(_) => () }
        seg
      }
      commitSegments(spark, path, segs, cdc = CdcNeutral,
        expectedBase = Some(hv), op = "zorder")
    } finally { fs.delete(new Path(tmp), true); () }
  }

  /** What a [[vacuum]] deleted — or, for a DRY RUN, WOULD delete:
    * versions dropped, data segments removed, deletion-vector files
    * retired, change-feed entries swept, and the data bytes freed
    * (segment directories only; metadata files are noise). The
    * operator's pre-flight answer to "how much history am I about to
    * lose, and what does it buy me". */
  final case class VacuumStats(versionsDropped: Int, segmentsDeleted: Int,
                               dvFilesDeleted: Int, cdcEntriesDeleted: Int,
                               bytesFreed: Long)

  /** Garbage-collect history: retain the newest `keepVersions`
    * manifests and delete (a) every older manifest, then (b) every
    * `data/seg-*` directory no retained manifest references — which
    * also sweeps segments orphaned by crashed commits. Ordering is the
    * crash-safety argument: manifests die BEFORE their segments, so at
    * every instant each existing manifest's segments all exist; a crash
    * mid-vacuum leaves only harmless orphans for the next vacuum.
    * Maintenance-window contract (like any table format's vacuum):
    * readers still pinned to a dropped version lose their segments —
    * run it when no reader holds versions older than the cutoff. */
  def vacuum(spark: SparkSession, path: String,
             keepVersions: Int = Int.MaxValue,
             dryRun: Boolean = false): VacuumStats = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val fs = fsOf(spark, path)
    val all = versions(spark, path)
    if (all.isEmpty) return VacuumStats(0, 0, 0, 0, 0L)
    val (drop, _) = all.splitAt(math.max(0, all.length - keepVersions))
    // the history's manifests consumed in BOUNDED bulk chunks (the
    // lastTxn 256-version grouping), reduced on arrival to exactly the
    // four reference sets the sweeps below need — retained driver heap
    // is O(references), never the sum of all manifest texts (a
    // 10k-version × 100k-segment history's raw per-version Seqs would
    // otherwise sit pinned for the whole operation), and the serial
    // cost stays O(1) driver round trips per 256 versions
    val dropSet = drop.toSet
    val mtimes = versionsWithMtime(spark, path).toMap
    val droppedTxnsB = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // EVERY scanned version's constraint DDL audit op rolls up (not
    // just retired ones — vacuum reads the whole history anyway): a
    // crashed dropConstraint's pending-drop marker must survive its
    // audit manifest's retirement, and folding the live ops too lets
    // the rollup's #reconciled watermark bound pendingConstraintDrops'
    // scan to (watermark, head]
    val consOpsB =
      scala.collection.mutable.ArrayBuffer.empty[(String, (Long, Long, String))]
    val referencedCdcB = Set.newBuilder[String]
    val referencedDvsB = Set.newBuilder[String]
    val referencedB = Set.newBuilder[String]
    all.grouped(256).foreach { chunk =>
      val bulk = readManifestsBulk(spark, path, chunk)
      chunk.foreach { v =>
        val (segs, meta) = bulk(v)
        meta.collectFirst { case l if l.startsWith("#op ") =>
          l.stripPrefix("#op ") }.foreach {
          case ConstraintOpRe(op, n) =>
            consOpsB += n -> ((v, mtimes.getOrElse(v, 0L), op))
          case _ => ()
        }
        if (dropSet(v)) {
          // dropped versions' exactly-once watermarks ROLL UP into one
          // file BEFORE their manifests die — a replayed batch older
          // than the retention window must still suppress
          droppedTxnsB ++= meta.collect {
            case l if l.startsWith("#txn ") =>
              val Array(a, b) = l.stripPrefix("#txn ").split("\t", 2)
              a -> b.toLong
          }
        } else {
          referencedCdcB ++= meta.collect {
            case l if l.startsWith("#cdc ") && l != "#cdc neutral" =>
              l.stripPrefix("#cdc ").split(" ")(0)
          }
          referencedDvsB ++= dvLinesToMap(meta).values
          referencedB ++= segs
        }
      }
    }
    val droppedTxns = droppedTxnsB.toSeq
    if (droppedTxns.nonEmpty && !dryRun) {
      val merged = (readTxnRollup(spark, path).toSeq ++ droppedTxns)
        .groupMapReduce(_._1)(_._2)(math.max)
      installRollupFile(fs, new Path(s"$path/manifest"), "txn-watermarks",
        merged.toSeq.sortBy(_._1)
          .map { case (a, b) => s"$a\t$b" }.mkString("\n"))
    }
    if (!dryRun) {
      // newest op per name wins (max version) across the existing
      // rollup and this scan; #reconciled advances to the scanned head
      // so pendingConstraintDrops never re-reads these versions. The
      // watermark-only install (no ops anywhere) is still worth the
      // tiny file: it converts that scan from O(history) to O(since
      // last vacuum) on tables that never had constraint DDL.
      val (prior, priorRec) = readConstraintOpsRollup(spark, path)
      val merged = (prior.toSeq ++ consOpsB.toSeq)
        .groupMapReduce(_._1)(_._2)((a, b) => if (a._1 >= b._1) a else b)
      val reconciled = math.max(all.last, priorRec.getOrElse(-1L))
      installRollupFile(fs, new Path(s"$path/manifest"), "constraint-ops",
        (s"#reconciled $reconciled" +: merged.toSeq.sortBy(_._1)
          .map { case (n, (v, mt, op)) => s"$n\t$v\t$mt\t$op" })
          .mkString("\n"))
    }
    if (!dryRun) drop.foreach { v =>
      fs.delete(new Path(s"$path/manifest", f"v-$v%09d.txt"), false): Unit
    }
    // change-feed dirs retire when no RETAINED manifest references
    // them; the same sweep collects crash orphans (a cdc dir written
    // before a manifest rename that never happened), the change-feed
    // apply's staging, and the DML staging earlier graft releases
    // wrote (the single-writer maintenance contract, like
    // .optimize-tmp-)
    val cdcDir = new Path(s"$path/_cdc")
    var cdcDeleted = 0
    if (fs.exists(cdcDir)) {
      val referencedCdc = referencedCdcB.result()
      fs.listStatus(cdcDir).map(_.getPath).foreach { p =>
        if (!referencedCdc.contains(p.getName)) {
          cdcDeleted += 1
          if (!dryRun) fs.delete(p, true): Unit
        }
      }
    }
    // deletion vectors referenced by NO retained version retire with
    // their manifests (a vector superseded by a union, or belonging to
    // a dropped version)
    val referencedDvs = referencedDvsB.result()
    val dvDir = new Path(s"$path/dv")
    var dvDeleted = 0
    if (fs.exists(dvDir))
      fs.listStatus(dvDir).map(_.getPath)
        .filter(p => p.getName.endsWith(".dv") &&
          !referencedDvs.contains(p.getName))
        .foreach { p =>
          dvDeleted += 1
          if (!dryRun) fs.delete(p, false): Unit
        }
    val referenced = referencedB.result()
    // staging orphans from crashed multi-segment OPTIMIZE runs (the
    // single-writer maintenance contract covers a concurrent OPTIMIZE)
    if (!dryRun)
      fs.listStatus(new Path(path)).map(_.getPath)
        .filter(_.getName.startsWith(".optimize-tmp-"))
        .foreach(p => fs.delete(p, true): Unit)
    val dataDir = new Path(s"$path/data")
    var segsDeleted = 0
    var bytesFreed = 0L
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).map(_.getPath)
        .filter(p => p.getName.startsWith("seg-") &&
          !referenced.contains(p.getName))
        .foreach { p =>
          segsDeleted += 1
          bytesFreed += fs.getContentSummary(p).getLength
          if (!dryRun) {
            fs.delete(p, true): Unit
            // the retired segment's data-skipping sidecar goes with it
            fs.delete(SegmentStats.sidecar(path, p.getName), false): Unit
          }
        }
    // retired segments can never be listed again through a manifest
    // (UUID names), but drop their cached listings anyway — stale
    // FileStatus entries serve nobody and the slots are bounded
    if (!dryRun && segsDeleted > 0)
      VersionedFileIndex.invalidateSegments(path)
    VacuumStats(drop.length, segsDeleted, dvDeleted, cdcDeleted,
      bytesFreed)
  }

  /** The version that was HEAD at wall-clock instant `tsMillis`: the
    * newest version whose manifest committed at or before it (manifest
    * files are written once — rename-committed — so their modification
    * time IS the commit time). Loud when the instant predates the
    * first commit or when a kept-but-vacuumed history would lie: the
    * answer only consults manifests that still exist, exactly the
    * contract every lakehouse timestamp-travel has. */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    // ONE directory listing carries every manifest's mtime — never a
    // per-version getFileStatus loop (O(versions) driver round trips)
    val all = versionsWithMtime(spark, path)
    require(all.nonEmpty, s"no committed versions at $path")
    val committedBefore = all.collect { case (v, mt) if mt <= tsMillis => v }
    require(committedBefore.nonEmpty,
      s"no version of $path existed at epoch-ms $tsMillis " +
        s"(first commit is version ${all.head._1})")
    committedBefore.max
  }

  /** Incremental read: the rows in segments ADDED after `fromVersion`,
    * up to `toVersion` (head when absent) — the change-data-capture
    * primitive an incremental consumer needs: poll [[versions]], read
    * [[changes]] since the last version it processed, advance its
    * cursor. `fromVersion = 0` reads everything. Segment-LEVEL delta by
    * construction (segments are immutable, so "added since" is exact
    * set difference on the manifests — no data comparison): appended
    * versions yield exactly their new rows; a REPUBLISH (append=false
    * commit, compact, z-order) starts a fresh segment list, so its
    * whole snapshot appears as changes — correct for a consumer that
    * must reprocess after a rewrite. A segment-pruned DML
    * (MERGE/UPDATE/DELETE) surfaces exactly its REWRITTEN segments —
    * carried segments are unchanged by construction, so consumers
    * reprocess only touched data. This is the ADD side only: a pruned
    * DELETE that empties every affected segment has an EMPTY add-delta
    * — consumers that must observe deletions poll [[removedSegments]] /
    * [[removals]] alongside (retract removals, upsert changes) AND
    * [[deletedRows]]: a VECTORED delete (merge-on-read) adds no
    * segments and removes none — every segment carries byte-identical
    * with only its deletion vector grown — so it is invisible to both
    * changes and removals, and a consumer that skips the deletedRows
    * poll silently keeps vector-deleted rows forever (the streaming
    * source handles this case for you; this segment-level batch API
    * does not). Row-level diffing between arbitrary snapshots is
    * [[graft.operators.Dedup.corpusDiff]]'s job, and the row-level
    * CDF ([[changeFeed]]) carries all three sides pre-joined.
    * Returns an empty frame (head schema) when nothing changed. */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
              toVersion: Option[Long] = None): DataFrame = {
    val added = manifestDelta(spark, path, fromVersion, toVersion)._1
    if (added.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(spark, path,
          Some(toVersion.getOrElse(headVersion(spark, path)))).schema)
    else
      spark.read.option("mergeSchema", "true")
        .parquet(added.map(s => s"$path/data/$s"): _*)
  }

  /** Validated manifest set-difference for a version range:
    * (added segment names, removed segment names). */
  private[graft] def manifestDelta(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Option[Long]): (Seq[String], Seq[String]) = {
    val all = versions(spark, path)
    require(all.nonEmpty, s"no committed versions at $path")
    val to = toVersion.getOrElse(all.last)
    require(fromVersion == 0L || all.contains(fromVersion),
      s"version $fromVersion not committed at $path")
    require(all.contains(to), s"version $to not committed at $path")
    require(fromVersion <= to,
      s"changes range is backwards: from $fromVersion to $to")
    val before =
      if (fromVersion == 0L) Seq.empty[String]
      else readManifest(spark, path, fromVersion)
    val after = readManifest(spark, path, to)
    val afterSet = after.toSet
    (after.filterNot(before.toSet), before.filterNot(afterSet))
  }

  /** Segment names REFERENCED at `fromVersion` but no longer at
    * `toVersion` (head when absent) — [[changes]]' removal-side
    * companion. The segment-level CDC contract needs BOTH directions:
    * a pruned DELETE that empties every affected segment writes no
    * fresh segment at all, so its [[changes]] delta is EMPTY —
    * indistinguishable from a no-op commit — while the dropped
    * segments appear here. An incremental consumer that must observe
    * deletions polls this alongside [[changes]]: removed segments'
    * rows left the dataset (re-added survivors, if any, arrive through
    * the fresh segment in [[changes]]). The manifests still exist for
    * any un-vacuumed range, so the answer is exact set difference —
    * no data comparison. */
  def removedSegments(spark: SparkSession, path: String, fromVersion: Long,
                      toVersion: Option[Long] = None): Seq[String] =
    manifestDelta(spark, path, fromVersion, toVersion)._2

  /** The ROWS of segments removed in (`fromVersion`, `toVersion`] — the
    * delete-side CDC read: every returned row was present at
    * `fromVersion` and is gone from `toVersion`'s manifest (rows that
    * survived a segment rewrite re-arrive via [[changes]], so a
    * consumer applies this as "retract, then upsert the changes").
    * Empty frame (from-version schema) when nothing was removed.
    * Requires the range to be un-vacuumed, like any time travel. */
  def removals(spark: SparkSession, path: String, fromVersion: Long,
               toVersion: Option[Long] = None): DataFrame = {
    val removed = manifestDelta(spark, path, fromVersion, toVersion)._2
    if (removed.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(spark, path,
          Some(if (fromVersion == 0L) headVersion(spark, path)
               else fromVersion)).schema)
    else
      spark.read.option("mergeSchema", "true")
        .parquet(removed.map(s => s"$path/data/$s"): _*)
  }

  /** Read a committed snapshot: the given `version`, or the head when
    * absent. One manifest resolution pins the read; everything after is
    * immutable-segment parquet I/O (splittable, column-pruned, filter-
    * pushed like any parquet scan). `mergeSchema` makes an EVOLVED
    * dataset read whole: segments written before a widening append
    * serve NULL for the newer columns (footer-merge cost is per
    * segment-file, not per row — negligible against the scan). A
    * version pinned BEFORE the widening still reads with its own
    * narrower schema, because only its segments are resolved. */
  def read(spark: SparkSession, path: String,
           version: Option[Long] = None): DataFrame =
    readWithIndex(spark, path, version)._1

  /** Per-JVM LRU of snapshot file indexes, keyed (session identity,
    * path, version, segment list): a committed snapshot is IMMUTABLE
    * (CAS manifest, never-rewritten segment dirs), yet one MERGE
    * statement opens the same snapshot 2–3× (head read, provenance
    * read) and every open re-paid the full listing — on a >32-segment
    * manifest a 64-task distributed job (~0.1 s each; three of the CDC
    * apply's 22 jobs were exactly this). Bounded at 32 snapshots;
    * every open receives its own [[VersionedFileIndex.fork]] over the
    * cached listing, so the accounting fields (lastSegmentsRead) are
    * per-open, not shared. */
  /** Session identity as a cache-key component: equality is reference
    * identity on the ACTUAL session (never a 32-bit hash — two live
    * sessions can share an identityHashCode, and a collision would
    * serve one session's file listing to the other). The strong
    * session reference adds nothing the cached index doesn't already
    * hold; stopped-session sweeps reclaim both together. */
  private final class SessionKey(val s: SparkSession) {
    override def hashCode: Int = System.identityHashCode(s)
    override def equals(o: Any): Boolean = o match {
      case k: SessionKey => k.s eq s
      case _ => false
    }
  }

  private val indexCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(SessionKey, String, Long, Seq[String]),
        VersionedFileIndex](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SessionKey, String, Long, Seq[String]),
            VersionedFileIndex]): Boolean = size() > 32
    })

  /** The snapshot's RAW file relation (no deletion vectors applied)
    * plus its index and resolved version — the single place the
    * physical read is assembled. */
  private def openRelation(spark: SparkSession, path: String,
      version: Option[Long]): (DataFrame, VersionedFileIndex, Long) = {
    val v = version.getOrElse {
      val all = versions(spark, path)
      require(all.nonEmpty, s"no committed versions at $path")
      all.last
    }
    val segs = readManifest(spark, path, v)
    // keyed on the ACTUAL values — session by reference identity, the
    // manifest's segment list structurally — never their 32-bit hashes
    // (a collision would silently serve a stale listing, i.e. wrong
    // results). The manifest's segment list rides the key, so a
    // dataset recreated at the same path (fresh UUID segment names)
    // can never hit a stale entry.
    val key = (new SessionKey(spark), path, v, segs)
    val cached = indexCache.synchronized {
      // sweep entries owned by STOPPED sessions on EVERY access (cheap
      // at the 32-entry cap) — they can never hit again, and a cached
      // index strongly holds its session + full listings, so sweeping
      // only on misses pinned dead sessions indefinitely on a hit-only
      // workload
      val it = indexCache.values().iterator()
      while (it.hasNext)
        if (it.next().sessionStopped) it.remove()
      Option(indexCache.get(key))
    }
    val shared = cached.getOrElse {
      // build OUTSIDE the lock (a >32-segment manifest opens via a
      // distributed job); a concurrent duplicate build is benign —
      // last put wins, both are correct
      val built = VersionedFileIndex.open(spark, path, segs)
      indexCache.synchronized { indexCache.put(key, built) }: Unit
      built
    }
    // per-open fork: the expensive listing/stats/schema are shared,
    // the accounting fields (lastSegmentsRead) are this open's own —
    // concurrent queries over one snapshot no longer race on them
    val idx = shared.fork()
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx, new org.apache.spark.sql.types.StructType(), idx.dataSchema,
      None, new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat, Map.empty)(spark)
    (spark.baseRelationToDataFrame(rel), idx, v)
  }

  /** [[read]], also returning the snapshot's [[VersionedFileIndex]] —
    * the handle that records how many segments each filtered query
    * actually planned to read (`lastSegmentsRead` /
    * `lastSegmentsTotal`), for specs and bench prune accounting.
    * A DV-free snapshot (every snapshot until the first vectored
    * delete) is the bare relation with ZERO overhead; vectors add one
    * in-scan filter on the `_metadata` fields, with no provenance
    * columns projected. */
  private[graft] def readWithIndex(spark: SparkSession, path: String,
      version: Option[Long] = None): (DataFrame, VersionedFileIndex) = {
    val (rel, idx, v) = openRelation(spark, path, version)
    val dv = readDvMap(spark, path, v)
    val df =
      if (dv.isEmpty) rel
      else DeletionVectors.applyTo(rel, spark, path, dv,
        file = "_metadata.file_path", pos = "_metadata.row_index")
    (df, idx)
  }

  /** ROW-LEVEL CDC for vectored deletes: the rows whose positions were
    * newly recorded in deletion vectors in `(fromVersion, toVersion]`
    * — the retraction feed a downstream consumer applies (the
    * segment-level [[changes]]/[[removals]] pair cannot see a vectored
    * delete: it adds no segments and removes none). Row content comes
    * from the still-physically-present segments of `toVersion`,
    * filtered to the positions the vector delta adds (read on the
    * driver, like a snapshot read's vectors). Granularity
    * caveat, like the segment CDC pair: a COW rewrite that
    * MATERIALIZES a vector inside the range replaces the segment, and
    * its deletions surface through [[removals]]/[[changes]] instead. */
  def deletedRows(spark: SparkSession, path: String, fromVersion: Long,
                  toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val to = toVersion.getOrElse(headVersion(spark, path))
    require(fromVersion >= 0 && fromVersion <= to,
      s"deletedRows range ($fromVersion, $to] is not a valid range")
    val dvFrom =
      if (fromVersion == 0) Map.empty[String, String]
      else readDvMap(spark, path, fromVersion)
    val dvTo = readDvMap(spark, path, to)
    val segsTo = headSegments(spark, path, Some(to))
    val schemaTo = read(spark, path, Some(to)).schema
    val changed = dvTo.filter { case (s, d) =>
      segsTo.contains(s) && !dvFrom.get(s).contains(d)
    }
    if (changed.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaTo)
    val delta = DeletionVectors.positions(spark, path, changed)
      .diff(DeletionVectors.positions(spark, path,
        dvFrom.filter { case (s, _) => changed.contains(s) }))
    readSegmentsAligned(spark, path, changed.keys.toSeq, schemaTo)
      .filter(!DeletionVectors.live(delta, "__file", "__pos"))
      .select(schemaTo.fieldNames.map(F.col).toSeq: _*)
  }

  /** ROW-LEVEL CHANGE DATA FEED over `(fromVersion, toVersion]`: every
    * row-level change the range committed, as the target's columns plus
    * `_change_type` (`insert` / `update_preimage` / `update_postimage`
    * / `delete`) and `_commit_version` — what an incremental consumer
    * (a downstream index, a feature store, a training-set refresher)
    * applies instead of diffing snapshots. Delta Lake's CDF contract,
    * on this engine's layout:
    *   - DML statements RECORD their change rows at commit time under
    *     a manifest-referenced `_cdc/` dir (cost ∝ matched rows —
    *     see [[CdcSpec]]), written
    *     before the manifest rename so the feed is never ahead of the
    *     table;
    *   - pure APPENDS record nothing: their `insert` rows synthesize
    *     lazily here from the added segments (the ingest hot path
    *     stays zero-overhead, and a 100 TB backfill append costs the
    *     feed nothing until someone reads it);
    *   - reorganizations (compact / OPTIMIZE / purge) carry an explicit
    *     data-neutral marker and contribute nothing;
    *   - a version that REMOVED segments with no recorded change rows
    *     (a legacy DML, a republish) is rejected LOUDLY — its row-level
    *     delta is unknowable after the fact; the segment-level
    *     [[changes]]/[[removals]] pair covers those.
    * Update rows come in preimage/postimage pairs under the same
    * `_commit_version`; consumers key them by the table's natural key.
    * Schema evolution: rows surface NULL for columns their version
    * predated, aligned to `toVersion`'s schema. */
  def changeFeed(spark: SparkSession, path: String, fromVersion: Long,
                 toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val all = versions(spark, path)
    require(all.nonEmpty, s"no committed versions at $path")
    val to = toVersion.getOrElse(all.last)
    require(fromVersion == 0L || all.contains(fromVersion),
      s"version $fromVersion not committed at $path")
    require(all.contains(to), s"version $to not committed at $path")
    require(fromVersion <= to,
      s"change feed range is backwards: from $fromVersion to $to")
    val headSchema = read(spark, path, Some(to)).schema
    CdcReservedCols.foreach { c =>
      require(!headSchema.fieldNames.contains(c),
        s"change feed: dataset uses reserved column name '$c'")
    }
    // ---- collect the range's pointers in ONE ordered driver pass over
    // ONE bulk manifest read (O(range) metadata is inherent; the ROUND
    // TRIPS are not — readManifestsBulk reads a long range as a single
    // distributed job, and the PLAN below stays O(1) legs either way) ----
    val inRange = all.filter(v => v > fromVersion && v <= to)
    val fromBase: Option[Long] =
      if (fromVersion == 0L) None
      else Some(all.takeWhile(_ <= fromVersion).last)
    val bulk = readManifestsBulk(spark, path,
      (fromBase.toSeq ++ inRange).distinct)
    def dvOf(meta: Seq[String]): Map[String, String] = dvLinesToMap(meta)
    var prevSegs: Set[String] =
      fromBase.fold(Set.empty[String])(b => bulk(b)._1.toSet)
    var prevDvs: Map[String, String] =
      fromBase.fold(Map.empty[String, String])(b => dvOf(bulk(b)._2))
    // recorded CDC (dir → version) and synthesized appends
    // (segment → version), attributed by PATH after one batched scan
    val cdcDirs = Seq.newBuilder[(String, Long)]
    val insertSegs = Seq.newBuilder[(String, Long)]
    inRange.foreach { v =>
      val (segs, meta) = bulk(v)
      val dvs = dvOf(meta)
      val cdcMeta = meta.find(_.startsWith("#cdc "))
      if (cdcMeta.contains("#cdc neutral")) ()
      else if (cdcMeta.isDefined) {
        // header shape: `#cdc <dir> [<rows>]` — the count is audit
        // metadata, the dir name is the pointer
        cdcDirs += cdcMeta.get.stripPrefix("#cdc ").split(" ")(0) -> v
      } else {
        val segSet = segs.toSet
        require(prevSegs.forall(segSet),
          s"change feed: version $v removed segments but recorded no " +
            "change rows (committed before the feed existed, or a " +
            "republish) — its row-level delta is unknowable; use FOR " +
            "CHANGES / FOR REMOVALS for segment-level deltas instead")
        segs.filterNot(prevSegs).foreach(insertSegs += _ -> v)
      }
      // DELETION-VECTOR guard for versions that recorded NO row-level
      // change rows (pure appends, neutral reorgs, restores): a dv
      // entry that appears, changes, or disappears on a SURVIVING
      // segment is a row-level retraction/resurrection this feed has
      // no recorded rows for (the restore-reverting-a-vectored-delete
      // case) — synthesizing it wrong would silently corrupt every
      // downstream replica, so reject as loudly as the segment case.
      // Versions WITH recorded rows account for their dv changes in
      // those rows (DELETE VECTORED writes its delete rows at commit).
      if (!cdcMeta.exists(_ != "#cdc neutral")) {
        val dvChanged = segs.filter(s => dvs.get(s) != prevDvs.get(s))
        require(dvChanged.isEmpty,
          s"change feed: version $v changed deletion vectors on " +
            s"segment(s) ${dvChanged.sorted.mkString(", ")} without " +
            "recording change rows (a restore crossing a vectored " +
            "delete) — the row-level delta is not recorded; re-seed " +
            "consumers from a snapshot at that version")
      }
      prevSegs = segs.toSet
      prevDvs = dvs
    }
    // ---- TWO batched multi-path scans, not one leg per version: a
    // 10k-commit history must not plan a 10k-leg union (nor open 10k
    // dirs serially on the driver). `_commit_version` re-derives from
    // each row's FILE PATH — the parent dir name IS the cdc-dir /
    // segment name — via a broadcast map join, so attribution survives
    // the batching exactly ----
    def attributed(raw: DataFrame, nameToV: Seq[(String, Long)],
                   changeType: Option[String]): DataFrame = {
      import spark.implicits._
      val dim = nameToV.toDF("__dir_name", "_commit_version")
      val keyed = raw.withColumn("__dir_name",
        F.element_at(F.split(F.input_file_name(), "/"), -2))
      val joined = keyed.join(F.broadcast(dim), Seq("__dir_name"))
        .drop("__dir_name")
      changeType.fold(joined)(ct =>
        joined.withColumn("_change_type", F.lit(ct)))
    }
    // EXPLICIT schemas on both batched reads (round 18, apply-floor
    // work): the feed's schema is KNOWN — a cdc dir / segment written
    // at v <= to carries a SUBSET of to's folded schema (append-only
    // evolution), and parquet reads absent columns as NULL under an
    // explicit schema, which is exactly the mergeSchema alignment —
    // so the per-statement schema-inference job (one distributed
    // footer read per changeFeed call, a fixed floor of the CDC
    // replication apply) is pure waste
    val cdcReadSchema = headSchema.add("_change_type",
      org.apache.spark.sql.types.StringType)
    val frames = Seq(
      { val ds = cdcDirs.result()
        if (ds.isEmpty) Seq.empty[DataFrame]
        else Seq(attributed(
          spark.read.schema(cdcReadSchema)
            .parquet(ds.map(d => s"$path/_cdc/${d._1}"): _*),
          ds, changeType = None)) },
      { val ss = insertSegs.result()
        // names are unique per WRITE, so path-attribution replaces the
        // per-version union for the common case — but a RESTORE
        // re-references a segment an earlier version removed (its
        // rows re-enter as synthesized inserts, the documented restore
        // contract), making that name ambiguous for ONE batched read.
        // Recurring names (rare: only removal-then-restore produces
        // them) get one explicit leg PER OCCURRENCE with the commit
        // version as a literal; unique names keep the batched scan.
        val dupNames = ss.groupBy(_._1).collect {
          case (n, occ) if occ.length > 1 => n }.toSet
        val unique = ss.filterNot(s => dupNames.contains(s._1))
        val batched =
          if (unique.isEmpty) None
          else Some(attributed(
            spark.read.schema(headSchema)
              .parquet(unique.map(s => s"$path/data/${s._1}"): _*),
            unique, changeType = Some("insert")))
        val perOccurrence = ss.filter(s => dupNames.contains(s._1))
          .map { case (seg, v) =>
            spark.read.schema(headSchema).parquet(s"$path/data/$seg")
              .withColumn("_change_type", F.lit("insert"))
              .withColumn("_commit_version", F.lit(v))
          }
        batched.toSeq ++ perOccurrence }
    ).flatten
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val outSchema = StructType(headSchema.fields.toSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
    frames
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { df =>
        val cols = headSchema.fields.map { f =>
          if (df.columns.contains(f.name)) F.col(f.name)
          else F.lit(null).cast(f.dataType).as(f.name)
        }.toSeq :+ F.col("_change_type") :+
          F.col("_commit_version").cast(LongType).as("_commit_version")
        df.select(cols: _*)
      }
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema))
  }

  /** Writer options enabling parquet SPLIT-BLOCK BLOOM FILTERS on
    * `ndv`'s columns (name → expected distinct count). Two layers
    * engage: parquet itself prunes ROW GROUPS on pushed point
    * predicates inside every scanned file, and [[writeSegment]]'s
    * sidecar build unions the chunk blooms so the MANIFEST prunes
    * whole segments on `col = x` / `IN` even when every segment's
    * [min, max] spans the domain — the unclustered high-cardinality
    * case (ids, content hashes) where range stats prove nothing. */
  def bloomOptions(ndv: Map[String, Long]): Map[String, String] =
    ndv.flatMap { case (c, n) => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> n.toString)
    }

  /** Backfill DATA-SKIPPING sidecars for segments that lack one — the
    * migration path for datasets committed before the stats layer (or
    * whose sidecar write best-effort-failed). Footer walks run ONE
    * TASK PER SEGMENT on the cluster (only each segment's schema read
    * is driver-side), so a 100k-segment legacy manifest analyzes in
    * parallel, metadata I/O only. Idempotent; returns
    * (segments, built). */
  def analyzeStats(spark: SparkSession, path: String,
                   version: Option[Long] = None): (Int, Int) = {
    val segs = headSegments(spark, path, Some(version.getOrElse(
      headVersion(spark, path))))
    val missing = segs.filter(s => SegmentStats.read(spark, path, s).isEmpty)
    val buildable = missing.flatMap { s =>
      // a file-less legacy empty segment has no footers to derive a
      // schema from — leave it sidecar-less (always-read, harmless)
      try Some(s -> spark.read.parquet(s"$path/data/$s").schema.json)
      catch { case scala.util.control.NonFatal(_) => None }
    }
    if (buildable.nonEmpty) {
      // session Hadoop conf shipped to tasks (see buildVectors)
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      spark.sparkContext
        .parallelize(buildable, math.min(buildable.length, 64))
        .foreach { case (seg, js) =>
          SegmentStats.writeStandalone(
            confBc.value.value, path, seg,
            org.apache.spark.sql.types.DataType.fromJson(js)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
        }
      // the ONE operation that mutates a committed snapshot's skipping
      // metadata IN PLACE (same version, same segments): cached indexes
      // for this path hold the pre-backfill statless sidecars and would
      // keep planning full reads — drop them (commit-created versions
      // need no invalidation, their cache key is new)
      indexCache.synchronized {
        val it = indexCache.keySet().iterator()
        while (it.hasNext) if (it.next()._2 == path) it.remove()
      }
      VersionedFileIndex.invalidateSegments(path)
    }
    (segs.length, buildable.length)
  }

  /** One column's manifest-wide aggregate statistics for the
    * metadata-only fast path: exact non-null count, and min/max as
    * SPARK EXTERNAL values — populated only for types whose parquet
    * chunk statistics are guaranteed ACTUAL VALUES (integrals, date,
    * timestamp, boolean; floats with a zero-bound guard — parquet
    * binary stats may be truncated so strings serve bounds for
    * SKIPPING but never as answers). `None` = not provable from
    * metadata; the caller must scan. */
  final case class MetaColumn(nonNull: Option[Long],
                              min: Option[Any], max: Option[Any])

  /** Manifest-wide statistics of a snapshot, or `None` unless EVERY
    * segment carries a parseable sidecar (one stats-less segment makes
    * every total unprovable). */
  final case class MetaStats(rows: Long,
      schema: org.apache.spark.sql.types.StructType,
      cols: Map[String, MetaColumn])

  /** Fold the snapshot's sidecars into [[MetaStats]] — the engine's
    * `SELECT COUNT()/COUNT(c)/MIN(c)/MAX(c) FROM '<ds>'` fast path
    * reads THIS instead of scanning (Delta answers the same shapes
    * from its transaction log). Pure metadata: no file listing, no
    * footer opens, no jobs. */
  def metaStats(spark: SparkSession, path: String,
                version: Option[Long] = None): Option[MetaStats] = {
    import org.apache.spark.sql.types._
    val v = version.getOrElse(headVersion(spark, path))
    val segs = headSegments(spark, path, Some(v))
    val sts = segs.map(s => SegmentStats.read(spark, path, s))
    if (sts.exists(_.isEmpty)) return None
    // deletion vectors invalidate every per-COLUMN statistic (a
    // deleted row may have been the minimum, or the only null) but
    // not the exact total: serve COUNT(*) only
    val dvMap = readDvMap(spark, path, v)
    if (dvMap.nonEmpty) {
      // batched (and deduped, matching rowCount) — the serial
      // one-read-per-vector loop made the "zero scan jobs" metadata
      // path the slowest statement on a widely-vectored table
      val deleted = dvCounts(spark, path,
        dvMap.values.toSeq.distinct).values.sum
      val schema0 = {
        val out = scala.collection.mutable.LinkedHashMap
          .empty[String, StructField]
        sts.flatten.foreach(_.schema.fields.foreach { f =>
          if (!out.contains(f.name)) out(f.name) = f.copy(nullable = true)
        })
        StructType(out.values.toSeq)
      }
      return Some(MetaStats(sts.flatten.map(_.rows).sum - deleted,
        schema0, Map.empty))
    }
    val all = sts.flatten
    val schema = {
      val out = scala.collection.mutable.LinkedHashMap
        .empty[String, StructField]
      all.foreach(_.schema.fields.foreach { f =>
        if (!out.contains(f.name)) out(f.name) = f.copy(nullable = true)
      })
      StructType(out.values.toSeq)
    }
    val rows = all.map(_.rows).sum
    // a bound of exactly 0.0 on a float column is suspect: BigDecimal
    // collapses -0.0 to 0, so serving it could differ from a scan's
    // IEEE-signed minimum — fall back to the scan for that column
    def exactKind(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | BooleanType => true
      case FloatType | DoubleType => true
      case _ => false
    }
    def toExternal(dt: DataType, v: BigDecimal): Option[Any] = dt match {
      case ByteType => Some(v.toByte)
      case ShortType => Some(v.toShort)
      case IntegerType => Some(v.toInt)
      case LongType => Some(v.toLong)
      case BooleanType => Some(v != BigDecimal(0))
      case DateType => Some(java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.toLong)))
      case TimestampType => Some(org.apache.spark.sql.catalyst.util
        .DateTimeUtils.toJavaTimestamp(v.toLong))
      case TimestampNTZType => Some(org.apache.spark.sql.catalyst.util
        .DateTimeUtils.microsToLocalDateTime(v.toLong))
      case FloatType if v != BigDecimal(0) => Some(v.toFloat)
      case DoubleType if v != BigDecimal(0) => Some(v.toDouble)
      case _ => None
    }
    val cols = schema.fields.map { f =>
      val key = f.name.toLowerCase(java.util.Locale.ROOT)
      // per-segment contribution: a segment without the column (schema
      // evolution) is all-NULL there — zero non-nulls, no bounds, and
      // it cannot poison completeness
      val contrib = all.map { st =>
        if (!st.fieldSet.contains(key)) (Some(0L), None, None, true)
        else st.cols.get(key) match {
          case None if st.rows == 0L => (Some(0L), None, None, true)
          case None => (None, None, None, false)
          case Some(c) =>
            val nn = c.nNulls.map(c.nValues - _)
            val empty = nn.contains(0L)
            val (lo, hi) =
              if (empty) (None, None)
              else if (exactKind(f.dataType)) (c.minNum, c.maxNum)
              else (None, None)
            // non-empty segment whose bounds are unknown poisons
            // min/max (but not the counts)
            (nn, lo, hi, empty || (lo.nonEmpty && hi.nonEmpty))
        }
      }
      val nonNull =
        if (contrib.forall(_._1.nonEmpty)) Some(contrib.flatMap(_._1).sum)
        else None
      val boundsOk = contrib.forall(_._4) && nonNull.nonEmpty
      val lows = contrib.flatMap(_._2)
      val highs = contrib.flatMap(_._3)
      val (mn, mx) =
        if (!boundsOk) (None, None)
        else if (lows.isEmpty) (Some(null), Some(null)) // all NULL: MIN is NULL
        else (toExternal(f.dataType, lows.min).map(identity[Any]),
          toExternal(f.dataType, highs.max).map(identity[Any]))
      key -> MetaColumn(nonNull, mn, mx)
    }.toMap
    Some(MetaStats(rows, schema, cols))
  }

  /** PLANNING-ONLY data-skipping accounting: of the snapshot's
    * segments, how many could satisfy `predicate` per their
    * [[SegmentStats]] sidecars — `(total, kept)` — without reading a
    * row. This is the deterministic number the skipping gates pin into
    * their oracle hash: a regression that stops writing sidecars (or
    * stops consulting them) inflates `kept` back to `total` and fails
    * the gate, not just a benchmark. */
  def pruneCount(spark: SparkSession, path: String,
                 predicate: org.apache.spark.sql.Column,
                 version: Option[Long] = None): (Int, Int) = {
    val (df, idx) = readWithIndex(spark, path, version)
    // resolve + optimize the predicate against the snapshot schema so
    // the evaluator sees exactly the shapes the execution-time
    // listFiles sees (typed literals, folded casts, split conjuncts);
    // keep only conjuncts over the relation's OWN columns — the
    // deletion-vector filter (combined into the same Filter) reads the
    // `_metadata` fields, which the evaluator must not mistake for data
    val names = idx.dataSchema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    val conds = df.where(predicate).queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        conjuncts(f.condition)
    }.flatten.filter(_.references.forall(a =>
      names.contains(a.name.toLowerCase(java.util.Locale.ROOT))))
    (idx.lastSegmentsTotal, idx.pruneCount(conds))
  }
}
