package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over `array<float>`.
  *
  * The composable formulation (`zip_with` + `aggregate` higher-order
  * functions) is kept as the reference implementation in
  * [[graft.ops.Extensions]]'s helpers, but HOFs evaluate their lambda per
  * element through the interpreter and break whole-stage codegen around the
  * similarity computation. This expression generates a single fused loop —
  * on the brute-force scan (|queries| × |corpus| evaluations, the ANN
  * baseline's hot path) that is the difference between a codegen pipeline
  * and an interpreted one at 100 TB.
  *
  * Arithmetic is bit-identical to the HOF form (sequential double
  * accumulation over float-widened values, `dot / (sqrt(nx) * sqrt(ny))`),
  * so swapping implementations cannot change oracle-checked results.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = (double) $a.getFloat($i);
          double $yv = (double) $b.getFloat($i);
          $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        }
        ${ev.value} = ($nx == 0.0 || $ny == 0.0)
          ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

/** Native Catalyst expression for the exact integer dot product over
  * `array<bigint>` — the inner loop of every quantized brute scorer
  * (x241/x283 LOO eval, x290 hubness, x292 truncation recall, the x05
  * family): |queries| × |corpus| evaluations of a 64-element product
  * sum. The HOF form (`aggregate(zip_with(a, b, _*_), 0L, _+_)`)
  * interprets its lambda per element and breaks whole-stage codegen
  * around the scorer; this generates one fused long loop.
  *
  * Arithmetic is identical to the HOF form on equal-length inputs
  * (sequential long accumulation, silent 64-bit wrap — callers
  * quantize so products stay in range, exactly as before); length
  * mismatch takes min(n), the [[CosineSimilarity]] convention.
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $dot = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $dot += $a.getLong($i) * $b.getLong($i);
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "long_dot"
}

/** Native Catalyst expression for Σ min(va_i, vb_j) over the KEY
  * intersection of two sorted parallel (keys, vals) array pairs — the
  * multiset-intersection mass of two term-frequency vectors, i.e. the
  * numerator of weighted Jaccard (x332's verify).
  *
  * The join formulation explodes every candidate pair into one row per
  * doc_a token before the (doc_b, token) equi-join restricts to shared
  * tokens (probe: 1.12M pairs → 28.7M rows → 3.5 s at sf0.1). This
  * expression runs the classic two-pointer sorted-merge per pair — one
  * O(|a|+|b|) fused long loop, no row explosion, no re-aggregation.
  *
  * Contract: both key arrays strictly ascending (sorted, unique per
  * side), each values array as long as its keys array. Input outside
  * the contract raises an `IllegalArgumentException` naming the
  * function ([[SortedKeys]]), on the `eval` and `doGenCode` paths
  * alike. Arithmetic is exact long accumulation, identical to
  * sum(least(tfa, tfb)) over the joined shared-key rows.
  */
case class SumMinSortedMerge(
    first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires four array<bigint> arguments (aKeys, aVals, " +
        s"bKeys, bVals), got ${children.map(_.dataType.simpleString).mkString(", ")}")
  }

  override def nullSafeEval(ak: Any, av: Any, bk: Any, bv: Any): Any = {
    val aK = ak.asInstanceOf[ArrayData]; val aV = av.asInstanceOf[ArrayData]
    val bK = bk.asInstanceOf[ArrayData]; val bV = bv.asInstanceOf[ArrayData]
    SortedKeys.aligned(prettyName, aK, aV); SortedKeys.aligned(prettyName, bK, bV)
    val na = aK.numElements(); val nb = bK.numElements()
    var i = 0; var j = 0; var s = 0L
    while (i < na && j < nb) {
      val ka = aK.getLong(i); val kb = bK.getLong(j)
      if (ka == kb) {
        s += math.min(aV.getLong(i), bV.getLong(j)); i += 1; j += 1
      } else if (ka < kb) i += 1
      else j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ak, av, bk, bv) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val s = ctx.freshName("s")
      val ka = ctx.freshName("ka"); val kb = ctx.freshName("kb")
      s"""
        ${SortedKeys.ref}.aligned("$prettyName", $ak, $av);
        ${SortedKeys.ref}.aligned("$prettyName", $bk, $bv);
        int $na = $ak.numElements(); int $nb = $bk.numElements();
        int $i = 0; int $j = 0; long $s = 0L;
        while ($i < $na && $j < $nb) {
          long $ka = $ak.getLong($i); long $kb = $bk.getLong($j);
          if ($ka == $kb) {
            $s += java.lang.Math.min($av.getLong($i), $bv.getLong($j));
            $i++; $j++;
          } else if ($ka < $kb) { $i++; } else { $j++; }
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)

  override def prettyName: String = "sum_min_sorted"
}

/** Native Catalyst expression for |a ∩ b| over two SORTED `array<bigint>`
  * key arrays — the set-intersection cardinality of two hashed gram/token
  * sets, i.e. the `size(array_intersect(a, b))` of the pair-verify tails
  * (x232/x286/x321) without the per-pair hash-set build: one codegen'd
  * two-pointer loop, O(|a|+|b|) long comparisons.
  *
  * Contract: both arrays strictly ascending (the callers' arrays are
  * array_distinct'd gram hashes, sorted once per doc with sort_array —
  * never per pair). Input outside the contract raises an
  * `IllegalArgumentException` naming the function ([[SortedKeys]]), on
  * the `eval` and `doGenCode` paths alike. Equal to array_intersect's
  * size under the house 60/64-bit hash-key convention.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    SortedKeys.ascending(prettyName, x); SortedKeys.ascending(prettyName, y)
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val ka = x.getLong(i); val kb = y.getLong(j)
      if (ka == kb) { c += 1L; i += 1; j += 1 }
      else if (ka < kb) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val ka = ctx.freshName("ka"); val kb = ctx.freshName("kb")
      s"""
        ${SortedKeys.ref}.ascending("$prettyName", $a);
        ${SortedKeys.ref}.ascending("$prettyName", $b);
        int $na = $a.numElements(); int $nb = $b.numElements();
        int $i = 0; int $j = 0; long $c = 0L;
        while ($i < $na && $j < $nb) {
          long $ka = $a.getLong($i); long $kb = $b.getLong($j);
          if ($ka == $kb) { $c++; $i++; $j++; }
          else if ($ka < $kb) { $i++; } else { $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "intersect_count_sorted"
}

/** The input contract of the two-pointer kernels ([[SumMinSortedMerge]],
  * [[IntersectCountSorted]]), checked over whole arrays before the merge
  * by both their `eval` and their generated code: keys strictly
  * ascending, values as long as their keys. A violation raises an
  * `IllegalArgumentException` naming the function; a merge over it
  * would silently miscount.
  */
private[graft] object SortedKeys {

  /** This object as a Java expression, for generated code. */
  private[functions] val ref: String = getClass.getName + ".MODULE$"

  def ascending(fn: String, keys: ArrayData): Unit = {
    var i = 1
    while (i < keys.numElements()) {
      if (keys.getLong(i) <= keys.getLong(i - 1))
        throw new IllegalArgumentException(s"$fn: keys must be strictly ascending, " +
          s"got ${keys.getLong(i)} after ${keys.getLong(i - 1)} at index $i")
      i += 1
    }
  }

  def aligned(fn: String, keys: ArrayData, vals: ArrayData): Unit = {
    if (keys.numElements() != vals.numElements())
      throw new IllegalArgumentException(s"$fn: a keys array of " +
        s"${keys.numElements()} elements has a values array of ${vals.numElements()}")
    ascending(fn, keys)
  }
}

/** Column-level API for the native vector expressions. */
object VectorFunctions {
  /** Cosine similarity of two `array<float>` columns as a codegen'd scalar. */
  def cosine_similarity(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarity(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Exact integer dot product of two `array<bigint>` columns as a
    * codegen'd scalar (see [[LongDotProduct]]).
    */
  def long_dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(LongDotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Σ min over the key intersection of two sorted (keys, vals) pairs
    * as a codegen'd scalar (see [[SumMinSortedMerge]]).
    */
  def sum_min_sorted(aKeys: Column, aVals: Column,
      bKeys: Column, bVals: Column): Column =
    GraftSqlBridge.column(SumMinSortedMerge(
      GraftSqlBridge.expression(aKeys), GraftSqlBridge.expression(aVals),
      GraftSqlBridge.expression(bKeys), GraftSqlBridge.expression(bVals)))

  /** |a ∩ b| of two sorted unique `array<bigint>` columns as a codegen'd
    * scalar (see [[IntersectCountSorted]]).
    */
  def intersect_count_sorted(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntersectCountSorted(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
