package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for embedding arithmetic.
  *
  * The composable route (`zip_with` + `aggregate`, see
  * [[graft.operators.Similarity.dot]]) allocates an intermediate array
  * and evaluates two lambda closures per element. These expressions
  * generate a tight primitive loop inside whole-stage codegen instead —
  * no allocation, no virtual calls — which is what a 100 TB ANN scan
  * wants. Accumulation is double-precision in element order, bit-for-bit
  * identical to the composable route, so either implementation satisfies
  * the same oracle.
  *
  * The reference has no extension mechanism at all (its `Col` class
  * hierarchy is closed, reference: src/mini_spark/sql.py:16-112); this is
  * the Spark-idiomatic equivalent of its hand-specialized Zig codegen for
  * expressions (reference: src/mini_spark/templates/plan.zig:79-104).
  */
object VectorExpressions {

  /** dot(a, b) over array<float> — codegen'd primitive loop. */
  case class FloatVecDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot_f32"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double)$a.getFloat($i) * (double)$b.getFloat($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** dot(a, b) over array<double> — the double-input twin of
    * [[FloatVecDot]]. Inputs keep double precision end to end, so results
    * are bit-identical to the composable `aggregate`/`zip_with` fold (and
    * to a SQL oracle's list_dot_product over DOUBLE[]): float inputs
    * widen exactly, double literals (e.g. LSH hyperplanes) are untouched. */
  case class DoubleVecDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot_f64"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** cosine(a, b) over array<double>; see [[DoubleVecDot]]. */
  case class DoubleVecCosine(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_cosine_f64"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i)
        val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val d = ctx.freshName("denom")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double xi = $a.getDouble($i);
           |  double yi = $b.getDouble($i);
           |  $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
           |}
           |double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** cosine(a, b) over array<float>: dot/(|a||b|), 0 for zero vectors —
    * same semantics as [[graft.operators.Similarity.cosine]], one fused
    * loop computing all three accumulators. */
  case class FloatVecCosine(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_cosine_f32"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val d = ctx.freshName("denom")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double xi = (double)$a.getFloat($i);
           |  double yi = (double)$b.getFloat($i);
           |  $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
           |}
           |double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }
}

/** Session extension registering graft's native functions. Every
  * session [[graft.GraftSession.builder]] builds installs it; an external
  * session enables it with
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import VectorExpressions._

  /** Coerce any numeric-array argument to array<float> (the builder-side
    * analog of implicit input casting; `AbstractDataType` is private to
    * Spark in 4.x, so the trait route is unavailable to extensions). */
  private def asFloatArray(e: Expression): Expression = e.dataType match {
    case ArrayType(FloatType, _) => e
    case _                       => Cast(e, ArrayType(FloatType))
  }

  private def asDoubleArray(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) => e
    case _                        => Cast(e, ArrayType(DoubleType))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_f32"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot_f32"),
      (children: Seq[Expression]) =>
        FloatVecDot(asFloatArray(children(0)), asFloatArray(children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_cosine_f32"),
      new ExpressionInfo(classOf[FloatVecCosine].getName, "vec_cosine_f32"),
      (children: Seq[Expression]) =>
        FloatVecCosine(asFloatArray(children(0)), asFloatArray(children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_f64"),
      new ExpressionInfo(classOf[DoubleVecDot].getName, "vec_dot_f64"),
      (children: Seq[Expression]) =>
        DoubleVecDot(asDoubleArray(children(0)), asDoubleArray(children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_cosine_f64"),
      new ExpressionInfo(classOf[DoubleVecCosine].getName, "vec_cosine_f64"),
      (children: Seq[Expression]) =>
        DoubleVecCosine(asDoubleArray(children(0)), asDoubleArray(children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStatsExpr].getName, "text_stats"),
      (children: Seq[Expression]) => TextStatsExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSortedExpr].getName, "jaccard_sorted"),
      (children: Seq[Expression]) => JaccardSortedExpr(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinhashBandsExpr].getName, "minhash_bands"),
      (children: Seq[Expression]) => {
        def lit(e: Expression, what: String): Int = e match {
          case l if l.foldable => l.eval().asInstanceOf[Number].intValue()
          case other => throw new IllegalArgumentException(
            s"minhash_bands $what must be a literal, got: $other")
        }
        MinhashBandsExpr(Cast(children(0), StringType),
          lit(children(1), "numBands"), lit(children(2), "rowsPerBand"),
          if (children.length > 3) lit(children(3), "shingleN") else 1)
      }))
    ext.injectFunction((
      new FunctionIdentifier("stable_const"),
      new ExpressionInfo(classOf[StableConst].getName, "stable_const"),
      (children: Seq[Expression]) => {
        val c = children.head
        if (!c.foldable) throw new IllegalArgumentException(
          s"stable_const() takes a literal argument, got: $c")
        StableConst(c.eval(), c.dataType)
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_hash60"),
      new ExpressionInfo(classOf[Md5Hash60Expr].getName, "md5_hash60"),
      (children: Seq[Expression]) =>
        Md5Hash60Expr(Cast(children.head, StringType))))
    ext.injectFunction((
      new FunctionIdentifier("gram_hashes"),
      new ExpressionInfo(classOf[GramHashesExpr].getName, "gram_hashes"),
      (children: Seq[Expression]) =>
        GramHashesExpr(Cast(children(0), StringType),
          Cast(children(1), IntegerType))))
    ext.injectFunction((
      new FunctionIdentifier("gram_pos_hashes"),
      new ExpressionInfo(classOf[GramPosHashesExpr].getName, "gram_pos_hashes"),
      (children: Seq[Expression]) =>
        GramPosHashesExpr(children(0), Cast(children(1), IntegerType))))
    ext.injectFunction((
      new FunctionIdentifier("text_normalize"),
      new ExpressionInfo(classOf[NormalizeTextExpr].getName, "text_normalize"),
      (children: Seq[Expression]) =>
        NormalizeTextExpr(Cast(children.head, StringType))))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash64"),
      (children: Seq[Expression]) => {
        val portable = children.lift(1) match {
          case None => false
          case Some(e) if e.foldable => e.eval().asInstanceOf[Boolean]
          case Some(other) => throw new IllegalArgumentException(
            s"simhash64 portable flag must be a literal, got: $other")
        }
        SimHashExpr(Cast(children.head, StringType), portable)
      }))
    ext.injectFunction((
      new FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersAgg].getName, "heavy_hitters"),
      (children: Seq[Expression]) => {
        val k = children(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case other => throw new IllegalArgumentException(
            s"heavy_hitters k must be a literal, got: $other")
        }
        HeavyHittersAgg(Cast(children(0), StringType), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("topk_pairs"),
      new ExpressionInfo(classOf[TopKPairsAgg].getName, "topk_pairs"),
      (children: Seq[Expression]) => {
        val k = children(2) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case other => throw new IllegalArgumentException(
            s"topk_pairs k must be a literal, got: $other")
        }
        TopKPairsAgg(
          Cast(children(0), DoubleType), Cast(children(1), LongType), k)
      }))
    // Bloom sketch pair — the scale path for set-membership pruning when
    // the build side outgrows a broadcast hash join but its BITS still
    // fit in a few MB. bloom_agg(longCol, numItems, numBits) is Spark's
    // own distributed sketch aggregate (partial merge — values never
    // leave executors); bloom_might_contain(sketchLit, longCol) is a
    // codegen'd probe that hoists the (possibly multi-MB) sketch bytes
    // out of the expression tree at resolution time — see
    // [[BloomProbeExpr]] for why a plain literal child would make every
    // optimizer pass O(sketch size).
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          Cast(children(0), LongType), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("pq_codes"),
      new ExpressionInfo(classOf[PqCodesExpr].getName, "pq_codes"),
      (children: Seq[Expression]) => {
        // codebooks arrive as a foldable nested-array literal and move
        // into expression STATE (not a child) — plan-processing cost
        // must not scale with m·k·subdim (the BloomProbeExpr rationale)
        val cbs = children(1) match {
          case e if e.foldable =>
            import org.apache.spark.sql.catalyst.util.ArrayData
            e.eval().asInstanceOf[ArrayData].toObjectArray(
              ArrayType(ArrayType(DoubleType))).map(
              _.asInstanceOf[ArrayData].toObjectArray(ArrayType(DoubleType)).map(
                _.asInstanceOf[ArrayData].toDoubleArray()))
          case other => throw new IllegalArgumentException(
            s"pq_codes codebooks must be a literal nested array, got: $other")
        }
        PqCodesExpr(Cast(children(0), ArrayType(DoubleType)), cbs)
      }))
    ext.injectFunction((
      new FunctionIdentifier("cdc_bounds"),
      new ExpressionInfo(classOf[CdcBoundsExpr].getName, "cdc_bounds"),
      (children: Seq[Expression]) => {
        def lit(e: Expression, what: String): Int = e match {
          case l if l.foldable => l.eval().asInstanceOf[Number].intValue()
          case other => throw new IllegalArgumentException(
            s"cdc_bounds $what must be a literal, got: $other")
        }
        CdcBoundsExpr(children(0),
          lit(children(1), "k"), lit(children(2), "modulus"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("next_fit_bins"),
      new ExpressionInfo(classOf[NextFitBinsExpr].getName, "next_fit_bins"),
      (children: Seq[Expression]) => {
        val budget = children(1) match {
          case l if l.foldable => l.eval().asInstanceOf[Number].longValue()
          case other => throw new IllegalArgumentException(
            s"next_fit_bins budget must be a literal, got: $other")
        }
        NextFitBinsExpr(Cast(children(0), ArrayType(LongType)), budget)
      }))
    ext.injectFunction((
      new FunctionIdentifier("ffd_bins"),
      new ExpressionInfo(classOf[FfdBinsExpr].getName, "ffd_bins"),
      (children: Seq[Expression]) => {
        val budget = children(1) match {
          case l if l.foldable => l.eval().asInstanceOf[Number].longValue()
          case other => throw new IllegalArgumentException(
            s"ffd_bins budget must be a literal, got: $other")
        }
        FfdBinsExpr(Cast(children(0), ArrayType(LongType)), budget)
      }))
    ext.injectFunction((
      new FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdcExpr].getName, "pq_adc"),
      (children: Seq[Expression]) => {
        val lut = children(1) match {
          case e if e.foldable =>
            import org.apache.spark.sql.catalyst.util.ArrayData
            e.eval().asInstanceOf[ArrayData].toObjectArray(
              ArrayType(DoubleType)).map(
              _.asInstanceOf[ArrayData].toDoubleArray())
          case other => throw new IllegalArgumentException(
            s"pq_adc lut must be a literal nested array, got: $other")
        }
        PqAdcExpr(Cast(children(0), ArrayType(IntegerType)), lut)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomProbeExpr].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => {
        val sketch = children(0) match {
          case e if e.foldable => e.eval().asInstanceOf[Array[Byte]]
          case other => throw new IllegalArgumentException(
            s"bloom_might_contain sketch must be a literal, got: $other")
        }
        require(sketch != null, "bloom_might_contain sketch is null — " +
          "guard the empty-build-side case before probing")
        BloomProbeExpr(sketch, Cast(children(1), LongType))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncodeExpr].getName, "bpe_encode"),
      (children: Seq[Expression]) => {
        // arg 0: the trained merge table as a literal array of [a, b]
        // pairs, hoisted into a constructor field (rank order = array
        // order, exactly a merges.txt)
        val merges = children(0) match {
          case e if e.foldable =>
            e.eval().asInstanceOf[ArrayData].toObjectArray(
              ArrayType(StringType)).map { p =>
              val pair = p.asInstanceOf[ArrayData]
              require(pair.numElements == 2,
                s"bpe_encode merges must be [a, b] pairs; got ${pair.numElements}")
              (pair.getUTF8String(0).toString, pair.getUTF8String(1).toString)
            }
          case other => throw new IllegalArgumentException(
            s"bpe_encode merges must be a literal nested array, got: $other")
        }
        BpeEncodeExpr(merges, Cast(children(1), StringType))
      }))
    ext.injectFunction((
      new FunctionIdentifier("zorder_code"),
      new ExpressionInfo(classOf[ZOrderCodeExpr].getName, "zorder_code"),
      (children: Seq[Expression]) => {
        // arg 0: the per-column quantile cutpoints as a literal nested
        // array (small — driver-computed, (2^bits - 1) doubles/column),
        // hoisted into a constructor field like pq_adc's LUT
        val bounds = children(0) match {
          case e if e.foldable =>
            e.eval().asInstanceOf[ArrayData].toObjectArray(
              ArrayType(DoubleType)).map(
              _.asInstanceOf[ArrayData].toDoubleArray())
          case other => throw new IllegalArgumentException(
            s"zorder_code boundaries must be a literal nested array, got: $other")
        }
        ZOrderCodeExpr(bounds,
          children.drop(1).map(c => Cast(c, DoubleType)))
      }))
  }
}
