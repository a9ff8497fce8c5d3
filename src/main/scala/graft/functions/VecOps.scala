package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Dot product of two double arrays as a native codegen Expression.
  *
  * Semantics are EXACTLY the sequential left fold
  * `acc = acc + a(i) * b(i)` starting from 0.0 — bit-identical to both the
  * built-in `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` tree it
  * replaces and DuckDB's `list_sum(list_transform(list_zip(a, b), ...))`
  * oracle mirror, so swapping it in changes no query result. The win is
  * performance: the HOF tree allocates a zipped array and invokes
  * interpreted lambdas per element, ~50× the cost of this fused loop, and
  * similarity joins evaluate it per candidate pair.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Column wrapper. */
  def apply(a: Column, b: Column): Column = call_function("vec_dot", a, b)
}

/** Squared L2 distance of two double arrays as a native codegen
  * Expression — the fused twin of VecDot for the PQ encode/ADC hot path.
  *
  * Semantics are EXACTLY the sequential left fold
  * `acc = acc + (a(i) - b(i)) * (a(i) - b(i))` from 0.0 — bit-identical
  * to the `aggregate(zip_with(a, b, (x, y) => (x-y)*(x-y)), 0.0, _+_)`
  * tree it replaces (same per-element expression, same addition order)
  * and to DuckDB's `list_sum(list_transform(list_zip(a, b), ...))`
  * oracle mirror. The HOF tree allocates a zipped array and runs
  * interpreted lambdas per element; PQ encoding evaluates this M·K times
  * per vector, which made the interpreted form the measured bottleneck
  * of the training/encode rounds.
  */
case class VecSqDist(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_sqdist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDist =
    copy(left = newLeft, right = newRight)
}

object VecSqDist {
  /** Column wrapper. */
  def apply(a: Column, b: Column): Column = call_function("vec_sqdist", a, b)
}

/** Full PQ encode of one vector against a literal codebook, fused into
  * ONE loop nest — the wide-dimension fix for the M×K literal-struct
  * argmin tree (`Similarity.encodeLit`'s old body): that tree is M·K
  * separate VecSqDist probes plus interpreted array/struct construction
  * and an `array_min` comparator per subspace, which the round-9
  * `dimprobe` measured at 219 s / 500k vectors for dim 768 (M=96) —
  * linear in M but with a ~33 µs/vector constant that makes
  * production-width embeddings unencodable. This kernel walks the flat
  * codebook once per vector: per subspace m, the running argmin over K
  * codewords of the EXACT VecSqDist fold (index-order `acc += d*d`),
  * strict `<` with ascending codeword ids so ties keep the smallest id —
  * bit-identical to `array_min(array(struct(dist, k)...))` lexicographic
  * semantics (distances are sums of squares, so -0.0 never occurs; NaN
  * follows Spark's total order — NaN sorts GREATEST, so a NaN running
  * best is replaced by any later non-NaN distance, and only an all-NaN
  * subspace keeps id 0).
  *
  * Children: the vector (array<double>), the flat codebook
  * (array<double>, laid out [m][k][subDim]), and the K ascending
  * codeword ids (array<long>). `mCount` is a constructor constant so
  * codegen inlines it. Output rows are (m int, k long, dist double) —
  * drop-in for the tree form's struct array.
  */
case class PqEncode(vec: Expression, cb: Expression, kIds: Expression,
    mCount: Int) extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cb
  override def third: Expression = kIds
  override def prettyName: String = "pq_encode"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)

  override protected def nullSafeEval(v: Any, c: Any, ks: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val cw = c.asInstanceOf[ArrayData]
    val ids = ks.asInstanceOf[ArrayData]
    val kCount = ids.numElements()
    val subDim = cw.numElements() / (mCount * kCount)
    val out = new Array[Any](mCount)
    var m = 0
    while (m < mCount) {
      // slice(v, m*subDim+1, subDim) ⋈ VecSqDist uses min-length, so a
      // short vector truncates the fold exactly like the tree form
      val n = math.max(0, math.min(subDim, x.numElements() - m * subDim))
      var best = 0.0
      var bestIdx = 0
      var k = 0
      while (k < kCount) {
        val base = (m * kCount + k) * subDim
        var acc = 0.0
        var i = 0
        while (i < n) {
          val d = x.getDouble(m * subDim + i) - cw.getDouble(base + i)
          acc += d * d
          i += 1
        }
        // a NaN best is REPLACEABLE by any non-NaN distance: Spark's
        // array_min struct order puts NaN greatest, so the tree form
        // picks a later finite distance over a NaN at id 0 — `acc < best`
        // alone would keep the NaN (NaN comparisons are false)
        if (k == 0 || acc < best ||
          (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(acc))) {
          best = acc; bestIdx = k
        }
        k += 1
      }
      out(m) = new GenericInternalRow(
        Array[Any](m, ids.getLong(bestIdx), best))
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, ks) => {
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val kCount = ctx.freshName("kCount")
      val subDim = ctx.freshName("subDim")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val base = ctx.freshName("base")
      val out = ctx.freshName("out")
      s"""
         |int $kCount = $ks.numElements();
         |int $subDim = $c.numElements() / ($mCount * $kCount);
         |Object[] $out = new Object[$mCount];
         |for (int $m = 0; $m < $mCount; $m++) {
         |  int $n = java.lang.Math.max(0,
         |    java.lang.Math.min($subDim, $v.numElements() - $m * $subDim));
         |  double $best = 0.0;
         |  int $bestIdx = 0;
         |  for (int $k = 0; $k < $kCount; $k++) {
         |    int $base = ($m * $kCount + $k) * $subDim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $d = $v.getDouble($m * $subDim + $i) - $c.getDouble($base + $i);
         |      $acc += $d * $d;
         |    }
         |    if ($k == 0 || $acc < $best ||
         |        (java.lang.Double.isNaN($best) && !java.lang.Double.isNaN($acc))) {
         |      $best = $acc; $bestIdx = $k;
         |    }
         |  }
         |  $out[$m] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{$m, $ks.getLong($bestIdx), $best});
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): PqEncode =
    copy(vec = newFirst, cb = newSecond, kIds = newThird)
}

object PqEncode {
  /** Column form over a driver-side codebook `cb(m) = Seq((kId, codeword))`
    * Codeword ids must
    * be identical across subspaces (they are: one id set indexes every
    * subspace's codewords). The flat layout + ascending-id sort happen
    * here, once, on the driver.
    */
  def apply(v: Column, cb: Map[Int, Seq[(Long, Seq[Double])]]): Column = {
    val mCount = cb.size
    val ids = cb(0).map(_._1).sorted
    require(cb.values.forall(_.map(_._1).sorted == ids),
      "PQ codeword ids must be identical across subspaces")
    val flat = (0 until mCount).flatMap { m =>
      val byId = cb(m).toMap
      ids.flatMap(byId(_))
    }
    call_function("pq_encode", v, typedlit(flat), typedlit(ids), lit(mCount))
  }
}
