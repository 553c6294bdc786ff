package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy

/** Native as-of join — the whole-operator extension path (SURVEY §2.3):
  * logical node + planner Strategy + physical exec, the (c)-tier custom
  * operator for semantics Spark's built-in joins lack. Backward-inclusive
  * left-outer as-of: each left row picks the LATEST right row of the same
  * key with right.time <= left.time, or nulls.
  *
  * Why a custom operator and not the union+window idiom (q11) or a range
  * join: the exec requires (key)-clustered, (key, time)-sorted children —
  * one exchange per side, then a SINGLE STREAMING PASS per partition with
  * O(1) state (the current candidate row). The window form shuffles the
  * union and pays a full per-key sort buffer; a range join pays candidate
  * multiplication. At 100 TB this operator's memory is independent of key
  * group size.
  *
  * Null semantics: rows with a null key or null time on either side never
  * match (SQL join equality); unmatched left rows still emit (left outer).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]. Registered per session via
  * `spark.experimental.extraStrategies` (done lazily by [[AsOfJoinOp]])
  * or through `GraftExtensions`.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tol) =>
      AsOfJoinExec(lk, rk, lt, rt, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition both sides on the join keys (EnsureRequirements inserts
  // compatible hash exchanges, exactly as for SortMergeJoin) ...
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // ... and sort each side by (keys, time) so the merge is one pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = BindReferences.bindReference(leftTime, lOut)
    val rTimeExpr = BindReferences.bindReference(rightTime, rOut)
    val keyTypes = leftKeys.map(_.dataType)
    val timeOrd =
      TypeUtils.getInterpretedOrdering(leftTime.dataType).asInstanceOf[Ordering[Any]]
    // tolerance is in the time type's native unit (micros for timestamps,
    // days for dates); the builder restricts the type to integral reprs
    val timeDiff: (Any, Any) => Long = leftTime.dataType match {
      case _ if tolerance.isEmpty => (_, _) => 0L
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.DateType =>
        (a, b) => a.asInstanceOf[Int].toLong - b.asInstanceOf[Int].toLong
      case _ => (a, b) => a.asInstanceOf[Long] - b.asInstanceOf[Long]
    }
    val nRight = rOut.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = TypeUtils.getInterpretedOrdering(
        org.apache.spark.sql.types.StructType(
          keyTypes.zipWithIndex.map { case (t, i) =>
            org.apache.spark.sql.types.StructField(s"k$i", t)
          })).asInstanceOf[Ordering[InternalRow]]
      val joined = new JoinedRow
      val nullRow = new GenericInternalRow(nRight)

      new Iterator[InternalRow] {
        // O(1) per-partition state: the right lookahead and the current
        // candidate (latest right row <= the left cursor's time, same key)
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        private var rHeadTime: Any = _
        private var rDone = false
        private var cand: InternalRow = _
        private var candKey: InternalRow = _
        private var candTime: Any = _

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            // the source iterator reuses its UnsafeRow — copy what we hold
            rHead = rIter.next().copy()
            rHeadKey = rKeyProj(rHead).copy()
            rHeadTime = rTimeExpr.eval(rHead)
          } else { rHead = null; rDone = true }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTime = lTimeExpr.eval(l)
          if (lKey.anyNull || lTime == null) return joined(l, nullRow)
          if (rHead == null && !rDone) advanceRight()
          var break = false
          while (!break && rHead != null) {
            val c = keyOrd.compare(rHeadKey, lKey)
            if (c < 0) advanceRight() // right group already passed by the left cursor
            else if (c == 0 && !rHeadKey.anyNull &&
                (rHeadTime == null || timeOrd.lteq(rHeadTime, lTime))) {
              if (rHeadTime != null) { cand = rHead; candKey = rHeadKey; candTime = rHeadTime }
              advanceRight()
            } else break = true // right is ahead — stop, keep for later lefts
          }
          // candTime <= lTime is guaranteed by the merge, so a NEGATIVE
          // diff can only mean Long wrap-around (gap > Long.MaxValue) —
          // reject it rather than let the wrapped value pass the bound
          if (cand != null && keyOrd.compare(candKey, lKey) == 0 &&
              tolerance.forall { t =>
                val d = timeDiff(lTime, candTime); d >= 0 && d <= t
              }) joined(l, cand)
          else joined(l, nullRow)
        }
      }
    }
  }
}

/** Builder: constructs the logical node from analyzed inputs and returns a
  * DataFrame. Right-side attributes are re-aliased to fresh ids (the two
  * inputs may share a lineage — a self-as-of would otherwise collide);
  * right key columns are dropped from the output and remaining right name
  * clashes get `rightSuffix`.
  *
  * `tolerance` (optional) bounds the lookback INCLUSIVELY, expressed in
  * the time column's NATIVE unit: microseconds for timestamps, days for
  * dates, raw values for integral columns — `Some(5000000L)` is 5 seconds
  * on a timestamp column, not 5000 seconds.
  */
object AsOfJoinOp {
  def apply(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightSuffix: String = "_r",
      tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

    val lPlan = left.queryExecution.analyzed
    val rPlanRaw = right.queryExecution.analyzed
    val aliases = rPlanRaw.output.map(a => Alias(a, a.name)())
    val rPlan = Project(aliases, rPlanRaw)
    val rOut = aliases.map(_.toAttribute)

    // all case-insensitive matches, not find(): after a join an input can
    // carry duplicate column names, and silently binding to an arbitrary
    // one would produce wrong join results with no diagnostic (mirrors
    // Spark's own ambiguous-reference error)
    def resolve(out: Seq[Attribute], name: String): Attribute =
      out.filter(_.name.equalsIgnoreCase(name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not found among ${out.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $name is ambiguous: ${many.size} attributes match " +
            s"(${many.map(a => s"${a.name}#${a.exprId.id}").mkString(", ")}) — " +
            "disambiguate with select/alias before the as-of join")
      }

    val lKeys = keys.map(resolve(lPlan.output, _))
    val rKeys = keys.map(resolve(rOut, _))
    val lTime = resolve(lPlan.output, leftTimeCol)
    val rTime = resolve(rOut, rightTimeCol)
    // the exec compares with orderings built from the LEFT types — silent
    // misreads (or executor ClassCastExceptions) on mismatched sides
    lKeys.zip(rKeys).foreach { case (l, r) =>
      require(l.dataType == r.dataType,
        s"as-of key type mismatch: ${l.name} ${l.dataType} vs ${r.name} ${r.dataType}")
    }
    require(lTime.dataType == rTime.dataType,
      s"as-of time type mismatch: ${lTime.dataType} vs ${rTime.dataType}")
    tolerance.foreach { t =>
      import org.apache.spark.sql.types._
      require(t >= 0, s"as-of tolerance must be non-negative, got $t")
      require(Seq(TimestampType, TimestampNTZType, DateType, LongType, IntegerType)
          .contains(lTime.dataType),
        s"as-of tolerance needs an integral-repr time type, got ${lTime.dataType}")
    }

    val node = AsOfJoin(lPlan, rPlan, lKeys, rKeys, lTime, rTime, tolerance)
    // project from the NODE's output, not rOut: the right side is nullable
    // after a left-outer as-of, and a projection carrying the original
    // non-nullable attributes would let NullPropagation fold IsNull(c) to
    // false over columns that do contain nulls
    val rightOut = node.output.drop(lPlan.output.size)
    val keySet = keys.map(_.toLowerCase).toSet
    val leftNames = lPlan.output.map(_.name.toLowerCase).toSet
    val rightCols = rightOut.filterNot(a => keySet.contains(a.name.toLowerCase)).map { a =>
      if (leftNames.contains(a.name.toLowerCase)) Alias(a, a.name + rightSuffix)()
      else a
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(
      spark, Project(lPlan.output ++ rightCols, node))
  }
}
