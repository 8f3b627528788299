package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression,
  JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Custom whole-operator AS-OF join (SURVEY.md §4.2 tier c): logical
  * node + strategy + physical sort-merge exec. [[AsOfJoinPhysical.asof]]
  * installs the strategy in its session's experimental planner
  * strategies on first use, so no session extension class is needed.
  *
  * Rationale vs the composition form (operators/AsOfJoin.scala, the
  * union+window trick): the composition is correct and single-shuffle,
  * but it sorts |L|+|R| null-padded union rows whose row width is
  * max(L,R) columns, and the window operator buffers per key. This exec
  * shuffles each side at its own width, sorts them independently
  * (standard Exchange + Sort inserted by EnsureRequirements), and then
  * streams a per-partition MERGE: one pass, O(1) state — exactly the
  * "latest right row so far" — no window buffering, no null padding.
  * Both implementations are kept; AsOfJoinSpec asserts they agree.
  *
  * Semantics: for each left row, the single latest right row of the
  * same key with right.ts <= left.ts (inclusive, matching DuckDB's
  * ASOF JOIN); inner (unmatched left rows dropped).
  *
  * Ties (r13 review): among right rows sharing (key, ts), the merge
  * keeps the LAST one in the within-partition sort order — without a
  * tie column that order is partition-history-dependent, i.e. the
  * pick is nondeterministic exactly when the right side has duplicate
  * (key, ts) rows. `rightTie` (optional) extends the required child
  * ordering so the kept row is the MAX-tie row, deterministically —
  * the physical twin of the composition form's `rightTie` parameter.
  * Callers with a unique (key, ts) right side may omit it.
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTs: Expression, rightTs: Expression,
                        rightTie: Option[Expression] = None)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTs: Expression, rightTs: Expression,
                        rightTie: Option[Expression] = None)
    extends BinaryExecNode {
  override def output: Seq[Attribute] = left.output ++ right.output

  // co-partition both sides on the key...
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // ...and sort within partitions by (key, ts): EnsureRequirements
  // inserts the Exchange/Sort pair, so doExecute sees merge-ready
  // input. The right side additionally sorts by the tie column when
  // given: the merge keeps the last row consumed per (key, ts), so
  // the tie sort alone makes the pick deterministic (max tie) with
  // no change to the merge loop.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTs, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTs, org.apache.spark.sql.catalyst.expressions.Ascending)) ++
      rightTie.map(t => SortOrder(t,
        org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTs = BindReferences.bindReference(leftTs, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTs = BindReferences.bindReference(rightTs, right.output)
    val schema = output
    val leftSchema = left.output
    val rightSchema = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(schema.map(a => a), schema)
      val rBuffered = rIter.buffered
      // latest right row (copy — rows are reused by the scanner) per key
      var curKey: Any = null
      var latest: UnsafeRow = null
      lIter.flatMap { lRow =>
        val k = lKey.eval(lRow)
        val t = lTs.eval(lRow).asInstanceOf[Long]
        if (k == null) Iterator.empty
        else {
          if (curKey == null || curKey != k) { curKey = k; latest = null }
          // advance the right side up to (k, t)
          var advancing = true
          while (advancing && rBuffered.hasNext) {
            val rRow = rBuffered.head
            val rk = rKey.eval(rRow)
            val cmp = ordCompare(rk, k)
            if (cmp < 0) { rBuffered.next() } // behind: discard
            else if (cmp > 0) advancing = false // ahead: stop
            else {
              val rt = rTs.eval(rRow).asInstanceOf[Long]
              if (rt <= t) {
                latest = rBuffered.next().asInstanceOf[UnsafeRow].copy()
              } else advancing = false
            }
          }
          if (latest == null) Iterator.empty
          else Iterator.single(outProj(joined(lRow, latest)))
        }
      }
    }
  }

  /** Order keys the same way the inserted Sorts do (numeric/string). */
  private def ordCompare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: org.apache.spark.unsafe.types.UTF8String,
          y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, tie) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tie) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API over the physical as-of join. */
object AsOfJoinPhysical {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  private def ensureStrategy(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
    }
  }

  /** Same contract as operators.AsOfJoin.asof (inner form): left.* plus
    * right payload columns as asof_<name>. The right side is re-aliased
    * so self-joins get fresh attribute ids. Pass `rightTie` (a unique
    * right column) whenever the right side can carry duplicate
    * (key, ts) rows — without it the kept duplicate is
    * partition-order-dependent (see [[AsOfJoinNode]]).
    */
  def asof(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTs: String, rightTs: String,
           rightTie: Option[String] = None): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    val r = right.toDF(right.columns.map(c => s"asof_$c").toIndexedSeq: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${plan.output.map(_.name)}"))
    val node = AsOfJoinNode(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, s"asof_$rightKey"),
      attr(lPlan, leftTs), attr(rPlan, s"asof_$rightTs"),
      rightTie.map(t => attr(rPlan, s"asof_$t")))
    org.apache.spark.sql.classic.GraftPlanBridge.ofRows(spark, node)
      .drop(s"asof_$rightKey")
  }
}
