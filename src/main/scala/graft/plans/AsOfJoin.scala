package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BaseOrdering, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.SqlBridge

/** AS-OF JOIN — the tier-(c) custom operator (SURVEY build plan / guide
  * preference order): a whole-operator semantics Spark's public DataFrame
  * API lacks, implemented as logical node + planner strategy + physical
  * sort-merge exec, registered via `SparkSessionExtensions` (or lazily via
  * `spark.experimental.extraStrategies`).
  *
  * Semantics (backward as-of, LEFT OUTER): for each left row, the single
  * right row with the same `by` keys and the greatest `on` value that is
  * `<=` the left `on` value — "the most recent right observation at or
  * before this left event". Identical to DuckDB's
  * `l ASOF LEFT JOIN r ON l.by = r.by AND l.on >= r.on`, which serves as
  * the oracle.
  *
  * Scale design: both sides hash-partition on the `by` keys and sort within
  * partitions by (by, on) — exactly a sort-merge join's movement, the
  * minimum an as-of join needs. The merge itself is one forward pass per
  * partition (O(|L| + |R|), no buffering beyond a single candidate row), so
  * skew behaves like SMJ and the operator streams at any scale.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftOn: Attribute,
    rightOn: Attribute,
    leftBy: Seq[Attribute],
    rightBy: Seq[Attribute])
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lOn, rOn, lBy, rBy) =>
      AsOfJoinExec(planLater(l), planLater(r), lOn, rOn, lBy, rBy) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftOn: Attribute,
    rightOn: Attribute,
    leftBy: Seq[Attribute],
    rightBy: Seq[Attribute])
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition on the by keys, like a sort-merge join. The partition
  // count is PINNED on both sides: zipPartitions requires equal counts, and
  // a fixed requiredNumPartitions keeps AQE from coalescing the two input
  // shuffles asymmetrically (it skips stages whose distribution demands an
  // exact count).
  override def requiredChildDistribution: Seq[Distribution] = {
    val n = Some(conf.numShufflePartitions)
    ClusteredDistribution(leftBy, requiredNumPartitions = n) ::
      ClusteredDistribution(rightBy, requiredNumPartitions = n) :: Nil
  }

  // sort within partitions by (by, on) ascending on both sides
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftBy :+ leftOn).map(SortOrder(_, Ascending)),
    (rightBy :+ rightOn).map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftBy.map(_.dataType)
    val onType = leftOn.dataType
    val leftOutput = left.output
    val rightOutput = right.output
    val lOn = leftOn
    val rOn = rightOn
    val lBy = leftBy
    val rBy = rightBy

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lBy, leftOutput)
      val rKeyProj = UnsafeProjection.create(rBy, rightOutput)
      val lOnProj = UnsafeProjection.create(Seq(lOn), leftOutput)
      val rOnProj = UnsafeProjection.create(Seq(rOn), rightOutput)
      val keyOrd: BaseOrdering = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val onOrd: BaseOrdering = RowOrdering.createNaturalAscendingOrdering(Seq(onType))
      // bind against nullability-adjusted right attrs: unmatched left rows
      // carry a null right side, so the projection must emit null checks
      val outProj = UnsafeProjection.create(output,
        leftOutput ++ rightOutput.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightOutput.size)

      val rBuf = rIter.buffered
      var candidate: InternalRow = null
      var candidateKey: InternalRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lOnVal = lOnProj(lRow)
        // SQL equality semantics: a NULL by-key (either side) and a NULL on
        // value never match — `l.by = r.by AND l.on >= r.on` is never true
        // through a NULL, and the DuckDB ASOF oracle agrees. (The natural
        // row ordering used for the merge would otherwise equate NULLs.)
        if (lKey.anyNull) {
          outProj(joined(lRow, nullRight))
        } else {
          val lOnNull = lOnVal.isNullAt(0)
          // advance the right side: past smaller keys (dropping the stale
          // candidate), then through same-key rows with on <= left.on,
          // remembering the last one (rows are mutable — copy).
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rKey = rKeyProj(rBuf.head)
            val keyCmp = keyOrd.compare(rKey, lKey)
            if (keyCmp < 0) {
              candidate = null; candidateKey = null
              rBuf.next()
            } else if (keyCmp == 0) {
              val rOnVal = rOnProj(rBuf.head)
              if (rOnVal.isNullAt(0)) {
                rBuf.next() // a NULL on can never satisfy l.on >= r.on
              } else if (!lOnNull && onOrd.compare(rOnVal, lOnVal) <= 0) {
                candidate = rBuf.next().copy()
                candidateKey = rKey.copy()
              } else {
                advancing = false
              }
            } else {
              advancing = false
            }
          }
          val matched = !lOnNull && candidate != null && candidateKey != null &&
            keyOrd.compare(candidateKey.asInstanceOf[InternalRow], lKey) == 0
          outProj(joined(lRow, if (matched) candidate else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Extension-point registration (`SparkSession.builder.withExtensions(new
  * GraftExtensions)`), the production wiring: the as-of planner strategy +
  * pushdown rule, and the custom expression/aggregate surface as SQL
  * functions (so `spark.sql("SELECT cosine_similarity(a, b) ...")` works
  * without touching the Scala API). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
  import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  // Every SQL builder validates arity BEFORE indexing exprs: a call like
  // `top_k(v)` must fail with the standard WRONG_NUM_ARGS AnalysisException
  // (function name + accepted counts), not an IndexOutOfBoundsException.
  private def arity(fn: String, exprs: Seq[Expression], accepted: Int*): Unit =
    if (!accepted.contains(exprs.length))
      SqlBridge.wrongNumArgs(fn, accepted, exprs.length)

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => AsOfJoinFilterPushdown)

    e.injectFunction((FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
        "cosine_similarity"),
      (exprs: Seq[Expression]) => {
        arity("cosine_similarity", exprs, 2)
        graft.functions.CosineSimilarity(
          Cast(exprs(0), ArrayType(DoubleType)), Cast(exprs(1), ArrayType(DoubleType)))
      }))

    e.injectFunction((FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[graft.functions.TopKAggregate].getName, "top_k"),
      (exprs: Seq[Expression]) => {
        arity("top_k", exprs, 3)
        graft.functions.TopKAggregate(
          Cast(exprs(0), DoubleType), Cast(exprs(1), LongType),
          litInt(exprs(2), "top_k k"))
      }))
  }
}

/** Public API. `AsOf.join(trades, quotes, on = "ts", by = Seq("symbol"))`. */
object AsOf {

  /** Idempotent lazy registration for sessions built without extensions. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
    val opt = spark.experimental.extraOptimizations
    if (!opt.contains(AsOfJoinFilterPushdown))
      spark.experimental.extraOptimizations = opt :+ AsOfJoinFilterPushdown
  }

  /** Backward as-of LEFT OUTER join. Right-side columns must not collide
    * with left-side names (rename before joining). */
  def join(leftDf: DataFrame, rightDf: DataFrame, leftOn: String, rightOn: String,
      leftBy: Seq[String], rightBy: Seq[String]): DataFrame = {
    require(leftBy.nonEmpty && leftBy.size == rightBy.size,
      "as-of join requires matching non-empty by keys")
    val spark = leftDf.sparkSession
    register(spark)
    val lPlan = SqlBridge.analyzed(leftDf)
    val rPlan = SqlBridge.analyzed(rightDf)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    SqlBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, leftOn), attr(rPlan, rightOn),
      leftBy.map(attr(lPlan, _)), rightBy.map(attr(rPlan, _))))
  }
}
