package graft.sources

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-SEGMENT column statistics for [[Versioned]] datasets — the
  * manifest-level DATA-SKIPPING layer (the role Delta/Iceberg give
  * their per-file stats): each immutable segment gets a tiny sidecar
  * (`stats/<seg>.txt`) holding its row count, schema, and per-column
  * [min, max] / null counts, derived from parquet FOOTERS at write
  * time (no extra data pass — the bytes were just written, the footers
  * are hot). A filtered read then consults sidecars at PLANNING time
  * and hands Spark only the segments whose ranges can satisfy the
  * predicate — at 100 TB with ~100k segments this prunes whole files
  * before a single footer is opened, composing with (not replacing)
  * parquet row-group pruning inside the files that survive.
  *
  * Safety model, mirroring [[ZoneMap]]'s: skipping is only ever an
  * OPTIMIZATION. A missing/corrupt sidecar, an unsupported column
  * type, an un-analyzable predicate shape — every unknown degrades to
  * "may match" (read the segment), never to a dropped row. Bounds are
  * taken from parquet chunk statistics, whose binary min/max are
  * truncation-safe by spec (a truncated min is lowered, a truncated
  * max raised — still valid bounds). Integral bounds are kept EXACT
  * (decimal strings, compared as BigDecimal) so 60-bit hash keys do
  * not false-skip at double precision edges; NaN-polluted float bounds
  * are discarded.
  *
  * Segments are immutable by the [[Versioned]] contract, so a sidecar
  * can never drift from its segment — the one structural guard needed
  * is existence, not freshness.
  */
object SegmentStats {

  private val Magic = "graft-segstats v1"

  /** Merged statistics of one column across a segment's files.
    * `nValues` counts ALL values incl. nulls (parquet chunk
    * semantics); bounds cover the non-null values only and are `None`
    * whenever any row group lacked a trustworthy statistic. Numeric
    * bounds are exact decimal strings (ints stay exact beyond 2^53);
    * string bounds are the raw UTF-8 values. */
  final case class ColStats(
      nValues: Long,
      nNulls: Option[Long],
      minNum: Option[BigDecimal], maxNum: Option[BigDecimal],
      minStr: Option[Array[Byte]], maxStr: Option[Array[Byte]],
      // segment-wide split-block bloom filter bitset (the OR of the
      // writer's per-row-group parquet blooms) — point-lookup skipping
      // on columns whose min/max spans everything; present only when
      // the writer enabled `parquet.bloom.filter.enabled#<col>`
      bloom: Option[Array[Byte]] = None)

  /** One segment's sidecar: the Spark schema it was written with (the
    * authority for "column absent ⇒ reads as all-NULL" evolution
    * semantics and for schema resolution without footer I/O), total
    * row count, and per-column stats keyed by LOWERCASED name (Spark
    * resolution is case-insensitive). */
  final case class SegStats(
      schema: StructType,
      rows: Long,
      cols: Map[String, ColStats]) {
    private[sources] lazy val fieldSet: Set[String] =
      schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
  }

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def sidecar(path: String, seg: String): Path =
    new Path(s"$path/stats", s"$seg.txt")

  // ---------------------------------------------------------------- write

  /** Build and atomically publish the sidecar for segment `seg` of the
    * dataset at `path`, from the segment's parquet footers plus the
    * writer's `schema`. Called by [[Versioned.writeSegment]] right
    * after the data lands; failure here must not fail the commit (the
    * caller treats the sidecar as best-effort), so extraction guards
    * per-column, not per-file. */
  private[sources] def write(spark: SparkSession, path: String, seg: String,
                             schema: StructType): Unit =
    writeStandalone(spark.sparkContext.hadoopConfiguration, path, seg, schema)

  /** [[write]] without a session — runnable INSIDE an executor task, so
    * [[Versioned.analyzeStats]] can backfill a large legacy manifest's
    * sidecars task-parallel (one footer walk per segment per task, the
    * [[Versioned.rowCount]] distribution model). */
  private[graft] def writeStandalone(
      conf: org.apache.hadoop.conf.Configuration,
      path: String, seg: String, schema: StructType): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    val segDir = new Path(s"$path/data/$seg")
    val files = fs.listStatus(segDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    val (rows, cols) = extract(conf, files)
    val dir = new Path(s"$path/stats")
    fs.mkdirs(dir)
    val tmp = new Path(dir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(serialize(schema, rows, cols).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dest = sidecar(path, seg)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"could not publish sidecar $dest")
    }
  }

  /** Footer walk: open each file's footer (driver-side — a segment is
    * one write's worth of part files, and footers are KB-sized) and
    * merge chunk statistics per column. Only types whose parquet sort
    * order matches Spark comparison semantics are covered; everything
    * else yields an entry with counts but no bounds. */
  private def extract(conf: org.apache.hadoop.conf.Configuration,
                      files: Seq[Path])
      : (Long, Map[String, ColStats]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    var rows = 0L
    // name -> (nValues, nNulls?, numLo?, numHi?, strLo?, strHi?, boundsOk)
    final case class Acc(var nValues: Long = 0L,
        var nNulls: Option[Long] = Some(0L),
        var lo: Option[BigDecimal] = None, var hi: Option[BigDecimal] = None,
        var sLo: Option[Array[Byte]] = None, var sHi: Option[Array[Byte]] = None,
        var boundsOk: Boolean = true,
        // union of the writer's per-chunk parquet blooms; valid only
        // if EVERY non-empty chunk contributed one of a mergeable size
        var bloom: Option[org.apache.parquet.column.values
          .bloomfilter.BloomFilter] = None,
        var bloomOk: Boolean = true)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
    files.foreach { f =>
      val rdr = Tables.openParquet(conf, f)
      try {
        rows += rdr.getRecordCount
        rdr.getRowGroups.asScala.foreach { rg =>
          lazy val bloomReader = rdr.getBloomFilterDataReader(rg)
          rg.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
              .toLowerCase(java.util.Locale.ROOT)
            val a = acc.getOrElseUpdate(name, Acc())
            if (a.bloomOk && c.getValueCount > 0L) {
              val bf =
                try bloomReader.readBloomFilter(c)
                catch { case scala.util.control.NonFatal(_) => null }
              (bf, a.bloom) match {
                case (null, _) =>
                  // a non-empty chunk without a bloom: the union can no
                  // longer witness every value — drop it
                  a.bloom = None; a.bloomOk = false
                case (b, None) => a.bloom = Some(b)
                case (b, Some(prev)) if prev.canMergeFrom(b) =>
                  prev.merge(b)
                case _ => a.bloom = None; a.bloomOk = false
              }
            }
            a.nValues += c.getValueCount
            val st = c.getStatistics
            a.nNulls = (a.nNulls, Option(st).filter(_.isNumNullsSet)
                .map(_.getNumNulls)) match {
              case (Some(x), Some(y)) => Some(x + y)
              case _ => None
            }
            if (a.boundsOk) {
              val prim = c.getPrimitiveType
              val ann = prim.getLogicalTypeAnnotation
              val noStats = st == null || st.isEmpty
              def signedInt = ann match {
                case null => true
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                  i.isSigned
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
                case _: LogicalTypeAnnotation
                    .TimestampLogicalTypeAnnotation => true
                case _ => false
              }
              val kindNum = prim.getPrimitiveTypeName match {
                case INT32 | INT64 => signedInt
                case FLOAT | DOUBLE | BOOLEAN => true
                case _ => false
              }
              val kindStr = prim.getPrimitiveTypeName == BINARY &&
                ann.isInstanceOf[LogicalTypeAnnotation
                  .StringLogicalTypeAnnotation]
              // a 0-value chunk legitimately has no min/max; it also
              // constrains nothing, so it must not poison the bounds
              if (c.getValueCount == 0L) ()
              else if (noStats || !(kindNum || kindStr)) {
                a.boundsOk = false
                a.lo = None; a.hi = None; a.sLo = None; a.sHi = None
              } else if (kindNum) {
                (num(st.genericGetMin), num(st.genericGetMax)) match {
                  case (Some(mn), Some(mx)) =>
                    a.lo = Some(a.lo.fold(mn)(_.min(mn)))
                    a.hi = Some(a.hi.fold(mx)(_.max(mx)))
                  case _ =>
                    a.boundsOk = false; a.lo = None; a.hi = None
                }
              } else {
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: org.apache.parquet.io.api.Binary,
                        mx: org.apache.parquet.io.api.Binary) =>
                    val (b1, b2) = (mn.getBytes, mx.getBytes)
                    a.sLo = Some(a.sLo.fold(b1)(x =>
                      if (cmpBytes(b1, x) < 0) b1 else x))
                    a.sHi = Some(a.sHi.fold(b2)(x =>
                      if (cmpBytes(b2, x) > 0) b2 else x))
                  case _ =>
                    a.boundsOk = false; a.sLo = None; a.sHi = None
                }
              }
            }
          }
        }
      } finally rdr.close()
    }
    (rows, acc.map { case (n, a) =>
      // cap serialized blooms: a segment-level bitset beyond 512 KB
      // bloats every manifest walk for marginal FP gains (the file
      // -level blooms still serve row-group skipping inside the scan)
      val bloomBytes = a.bloom.filter(_ => a.bloomOk).flatMap { bf =>
        val out = new java.io.ByteArrayOutputStream()
        try { bf.writeTo(out); Some(out.toByteArray).filter(_.length <= 512 * 1024) }
        catch { case scala.util.control.NonFatal(_) => None }
      }
      n -> ColStats(a.nValues, a.nNulls, a.lo, a.hi, a.sLo, a.sHi,
        bloomBytes)
    }.toMap)
  }

  /** Exact numeric value of a parquet statistic, or `None` for
    * anything a skip decision cannot trust (NaN, infinities — the
    * latter have no BigDecimal form and bounding with them is
    * worthless anyway). Integrals go through their exact decimal
    * form. */
  private def num(v: Any): Option[BigDecimal] = v match {
    case null => None
    case b: java.lang.Boolean => Some(BigDecimal(if (b) 1 else 0))
    case n: java.lang.Integer => Some(BigDecimal(n.intValue))
    case n: java.lang.Long => Some(BigDecimal(n.longValue))
    case n: java.lang.Float =>
      if (n.isNaN || n.isInfinite) None
      else Some(BigDecimal.decimal(n.floatValue.toDouble))
    case n: java.lang.Double =>
      if (n.isNaN || n.isInfinite) None
      else Some(BigDecimal.decimal(n.doubleValue))
    case _ => None
  }

  /** Unsigned byte-lexicographic compare — parquet's UTF-8 binary
    * statistics order, which for valid UTF-8 equals code-point order
    * (NOT Java String order, which compares UTF-16 units). */
  private[sources] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  // ------------------------------------------------------------ serialize

  private def b64(s: Array[Byte]): String = Base64.getEncoder.encodeToString(s)
  private def unb64(s: String): Array[Byte] = Base64.getDecoder.decode(s)

  private def serialize(schema: StructType, rows: Long,
                        cols: Map[String, ColStats]): String = {
    val sb = new StringBuilder
    sb.append(Magic).append('\n')
    sb.append(b64(schema.json.getBytes(StandardCharsets.UTF_8))).append('\n')
    sb.append(rows).append('\n')
    cols.foreach { case (name, c) =>
      sb.append(b64(name.getBytes(StandardCharsets.UTF_8))).append('\t')
        .append(c.nValues).append('\t')
        .append(c.nNulls.map(_.toString).getOrElse("?")).append('\t')
        .append(c.minNum.map(_.toString).getOrElse("?")).append('\t')
        .append(c.maxNum.map(_.toString).getOrElse("?")).append('\t')
        .append(c.minStr.map(b64).getOrElse("?")).append('\t')
        .append(c.maxStr.map(b64).getOrElse("?")).append('\t')
        .append(c.bloom.map(b64).getOrElse("?")).append('\n')
    }
    sb.toString
  }

  /** Load a segment's sidecar; `None` for missing/corrupt/foreign —
    * the caller then reads the segment unconditionally. */
  private[sources] def read(spark: SparkSession, path: String,
                            seg: String): Option[SegStats] = {
    val fs = fsOf(spark, path)
    val f = sidecar(path, seg)
    if (!fs.exists(f)) return None
    val text = try {
      val in = fs.open(f)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    } catch { case _: java.io.IOException => return None }
    parse(text)
  }

  private[sources] def parse(text: String): Option[SegStats] = try {
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != Magic) return None
    val schema = DataType.fromJson(
      new String(unb64(lines(1)), StandardCharsets.UTF_8))
      .asInstanceOf[StructType]
    val rows = lines(2).toLong
    def opt(s: String): Option[String] = if (s == "?") None else Some(s)
    val cols = lines.drop(3).map { l =>
      val p = l.split("\t", -1)
      new String(unb64(p(0)), StandardCharsets.UTF_8) -> ColStats(
        p(1).toLong, opt(p(2)).map(_.toLong),
        opt(p(3)).map(BigDecimal(_)), opt(p(4)).map(BigDecimal(_)),
        opt(p(5)).map(unb64), opt(p(6)).map(unb64),
        // 8th field added with the bloom layer; sidecars written
        // before it parse bloom-less
        if (p.length > 7) opt(p(7)).map(unb64) else None)
    }.toMap
    Some(SegStats(schema, rows, cols))
  } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------------------- evaluate

  private object AttrName {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference =>
        Some(a.name.toLowerCase(java.util.Locale.ROOT))
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 =>
        Some(u.nameParts.head.toLowerCase(java.util.Locale.ROOT))
      case _ => None
    }
  }

  /** A literal's skip-comparable value: `Left(num)` for everything the
    * numeric bounds cover (Catalyst's internal representation already
    * matches the parquet physical value — dates as days, timestamps as
    * micros, booleans as 0/1), `Right(bytes)` for strings. `None` for
    * a NULL literal or a type with no comparable statistic. */
  private def litValue(dt: DataType, v: Any): Option[scala.Either[BigDecimal,
      Array[Byte]]] = {
    import org.apache.spark.sql.types._
    if (v == null) return None
    dt match {
      case ByteType => Some(scala.Left(BigDecimal(v.asInstanceOf[Byte].toInt)))
      case ShortType => Some(scala.Left(BigDecimal(v.asInstanceOf[Short].toInt)))
      case IntegerType | DateType => Some(scala.Left(BigDecimal(v.asInstanceOf[Int])))
      case LongType | TimestampType | TimestampNTZType =>
        Some(scala.Left(BigDecimal(v.asInstanceOf[Long])))
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) None
        else Some(scala.Left(BigDecimal.decimal(f.toDouble)))
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None
        else Some(scala.Left(BigDecimal.decimal(d)))
      case BooleanType =>
        Some(scala.Left(BigDecimal(if (v.asInstanceOf[Boolean]) 1 else 0)))
      case StringType =>
        Some(scala.Right(v.asInstanceOf[UTF8String].getBytes))
      case _ => None
    }
  }

  /** Rewrite reference-backed constants into the plain literals the
    * [[mayMatch]] patterns consume: [[graft.functions.StableConst]] is
    * literal-equivalent by contract (it exists so the EXECUTED plan's
    * generated code stays value-independent — see its scaladoc), and
    * the analyzer's type-coercion Cast around one becomes evaluable
    * driver-side once the child is a literal. Called ONCE per filter
    * by the planning paths, not per segment — a 100k-segment manifest
    * must not pay a tree rewrite per segment. */
  def normalize(filter: Expression): Expression = filter.transformUp {
    case sc: graft.functions.StableConst => sc.toLiteral
    case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
      try Literal(c.eval(null), c.dataType)
      catch { case scala.util.control.NonFatal(_) => c }
  }

  /** Could ANY row of the segment satisfy `filter`? `false` means
    * PROVABLY not (safe to skip); every analytical gap answers `true`.
    * `filter` may be resolved (the [[VersionedFileIndex]] planning
    * path) or unresolved (a user-supplied `Column` via
    * [[Versioned.pruneCount]]). */
  def mayMatch(s: SegStats, filter: Expression): Boolean = {
    if (s.rows == 0L) return false
    // any analysis failure (unresolved dataType, exotic shape) keeps
    // the segment — skipping is an optimization, never a gate
    try eval(s, filter)
    catch { case scala.util.control.NonFatal(_) => true }
  }

  /** Stats of `name` under evolution semantics: a column the segment's
    * own schema does not have reads as ALL NULL there, which is itself
    * a perfectly sharp statistic. In-schema but stats-less (nested,
    * exotic type, dropped footer stat) → unknown. */
  private def colStats(s: SegStats, name: String): Option[ColStats] =
    s.cols.get(name).orElse {
      if (s.fieldSet.contains(name))
        None // the segment has the column but footers gave us nothing
      else
        Some(ColStats(s.rows, Some(s.rows), None, None, None, None))
    }

  private def eval(s: SegStats, e: Expression): Boolean = e match {
    case And(l, r) => eval(s, l) && eval(s, r)
    case Or(l, r) => eval(s, l) || eval(s, r)
    case IsNull(AttrName(n)) =>
      colStats(s, n).forall(c => c.nNulls.forall(_ > 0L))
    case IsNotNull(AttrName(n)) =>
      colStats(s, n).forall(c => c.nNulls.forall(_ < c.nValues))
    case EqualTo(AttrName(n), l: Literal) => cmp(s, n, "=", l)
    case EqualTo(l: Literal, AttrName(n)) => cmp(s, n, "=", l)
    case EqualNullSafe(AttrName(n), l: Literal) =>
      if (l.value == null) eval(s, IsNull(UnresolvedAttributeRef(n)))
      else cmp(s, n, "=", l)
    case EqualNullSafe(l: Literal, AttrName(n)) =>
      if (l.value == null) eval(s, IsNull(UnresolvedAttributeRef(n)))
      else cmp(s, n, "=", l)
    case LessThan(AttrName(n), l: Literal) => cmp(s, n, "<", l)
    case LessThan(l: Literal, AttrName(n)) => cmp(s, n, ">", l)
    case LessThanOrEqual(AttrName(n), l: Literal) => cmp(s, n, "<=", l)
    case LessThanOrEqual(l: Literal, AttrName(n)) => cmp(s, n, ">=", l)
    case GreaterThan(AttrName(n), l: Literal) => cmp(s, n, ">", l)
    case GreaterThan(l: Literal, AttrName(n)) => cmp(s, n, "<", l)
    case GreaterThanOrEqual(AttrName(n), l: Literal) => cmp(s, n, ">=", l)
    case GreaterThanOrEqual(l: Literal, AttrName(n)) => cmp(s, n, "<=", l)
    case In(AttrName(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => cmp(s, n, "=", v.asInstanceOf[Literal]))
    case InSet(a @ AttrName(n), set) if a.resolved =>
      set.exists(v => cmp(s, n, "=", Literal(v, a.dataType)))
    case StartsWith(AttrName(n), l: Literal) => prefix(s, n, l)
    case _ => true
  }

  private def UnresolvedAttributeRef(n: String) =
    org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(n))

  /** Range check of `col <op> literal` against the column's bounds.
    * Bounds describe NON-NULL values, and SQL comparisons are only
    * TRUE on non-null rows — so an all-null column satisfies nothing
    * here, and a missing bound on the needed side degrades to "may". */
  private def cmp(s: SegStats, n: String, op: String, l: Literal): Boolean =
    colStats(s, n) match {
      case None => true
      case Some(c) =>
        if (c.nNulls.contains(c.nValues)) return false // all NULL
        if (l.value == null) return false // NULL comparand: never TRUE
        litValue(l.dataType, l.value) match {
          case None => true // uncovered literal type: cannot reason
          case Some(scala.Left(v)) => op match {
            case "=" => c.minNum.forall(_ <= v) && c.maxNum.forall(v <= _) &&
              bloomMayContain(c, l)
            case "<" => c.minNum.forall(_ < v)
            case "<=" => c.minNum.forall(_ <= v)
            case ">" => c.maxNum.forall(_ > v)
            case ">=" => c.maxNum.forall(_ >= v)
          }
          case Some(scala.Right(b)) => op match {
            case "=" => c.minStr.forall(cmpBytes(_, b) <= 0) &&
              c.maxStr.forall(cmpBytes(b, _) <= 0) && bloomMayContain(c, l)
            case "<" => c.minStr.forall(cmpBytes(_, b) < 0)
            case "<=" => c.minStr.forall(cmpBytes(_, b) <= 0)
            case ">" => c.maxStr.forall(cmpBytes(_, b) > 0)
            case ">=" => c.maxStr.forall(cmpBytes(_, b) >= 0)
          }
        }
    }

  /** Equality probe against the segment's bloom union. The writer
    * hashed parquet PHYSICAL values, and for every covered type the
    * Catalyst internal literal IS that physical value (long micros,
    * int days, UTF-8 bytes) — so a definite miss proves no row group
    * in the segment ever inserted the value. No bloom, or an
    * un-hashable type: may contain. */
  private def bloomMayContain(c: ColStats, l: Literal): Boolean =
    c.bloom match {
      case None => true
      case Some(bytes) =>
        import org.apache.spark.sql.types._
        try {
          val bf = new org.apache.parquet.column.values.bloomfilter
            .BlockSplitBloomFilter(bytes)
          val h: Option[Long] = (l.dataType, l.value) match {
            case (LongType | TimestampType | TimestampNTZType, v: Long) =>
              Some(bf.hash(v))
            case (IntegerType | DateType, v: Int) => Some(bf.hash(v))
            case (ShortType, v: Short) => Some(bf.hash(v.toInt))
            case (ByteType, v: Byte) => Some(bf.hash(v.toInt))
            case (StringType, v: UTF8String) =>
              Some(bf.hash(org.apache.parquet.io.api.Binary
                .fromConstantByteArray(v.getBytes)))
            case (DoubleType, v: Double) => Some(bf.hash(v))
            case (FloatType, v: Float) => Some(bf.hash(v))
            case _ => None
          }
          h.forall(bf.findHash)
        } catch { case scala.util.control.NonFatal(_) => true }
    }

  /** `startswith(col, p)`: some value in [min, max] can carry prefix
    * `p` iff `truncate(max, |p|) >= p` and `truncate(min, |p|) <= p`
    * in unsigned byte order. */
  private def prefix(s: SegStats, n: String, l: Literal): Boolean =
    colStats(s, n) match {
      case None => true
      case Some(c) =>
        if (c.nNulls.contains(c.nValues)) return false
        litValue(l.dataType, l.value) match {
          case Some(scala.Right(p)) =>
            def trunc(a: Array[Byte]) = a.take(p.length)
            c.maxStr.forall(mx => cmpBytes(trunc(mx), p) >= 0) &&
              c.minStr.forall(mn => cmpBytes(trunc(mn), p) <= 0)
          case _ => true
        }
    }
}
