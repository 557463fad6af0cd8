package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Native as-of join — the full custom-operator tier (SURVEY.md §2.H):
  * a logical node + planner strategy + physical merge operator, the shape
  * Spark itself uses for whole-operator semantics the DataFrame API can't
  * express directly.
  *
  * Semantics (identical to graft.operators.AsofJoin.asofOn and DuckDB's
  * ASOF LEFT JOIN): every left row picks up the right row with the same
  * key and the greatest time <= the left row's time; left rows with no
  * such right row keep nulls.
  *
  * Physical plan: EnsureRequirements hash-partitions both children on the
  * key and sorts each partition by (key, time) — exactly what it does for
  * a sort-merge join — then `AsofJoinExec` streams BOTH sides once with a
  * forward-only merge pointer. Per partition the cost is
  * O(|left| + |right|) with O(1) state (ONE held right row), versus the
  * union+window formulation's full sort-and-carry of the tagged union, or
  * a range join's candidate explosion. At 100 TB: one shuffle per side,
  * AQE-sized partitions, no per-key memory.
  *
  * Keys and times are LongType (the strategy only claims such plans; any
  * other shape falls through to the declarative implementation).
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    rightAttrs: Seq[Attribute],
    asofOutput: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ asofOutput
  override def producedAttributes: AttributeSet = AttributeSet(asofOutput)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsofJoinNode {
  def build(left: LogicalPlan, right: LogicalPlan,
      leftKey: Attribute, leftTime: Attribute,
      rightKey: Attribute, rightTime: Attribute,
      rightAttrs: Seq[Attribute]): AsofJoinNode = {
    val out = AttributeReference("asof_time", rightTime.dataType, nullable = true)() +:
      rightAttrs.map(a => AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    AsofJoinNode(left, right, leftKey, leftTime, rightKey, rightTime, rightAttrs, out)
  }
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode
        if n.leftKey.dataType == LongType && n.leftTime.dataType == LongType
          && n.rightKey.dataType == LongType && n.rightTime.dataType == LongType =>
      AsofJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.leftTime, n.rightKey, n.rightTime, n.rightAttrs, n.output) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    rightAttrs: Seq[Attribute],
    output: Seq[Attribute]) extends SparkPlan with BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // co-partition both sides on the key, each sorted by (key, time) — the
  // same requirements a sort-merge join declares; EnsureRequirements
  // inserts the exchanges/sorts (or elides them if the child already
  // satisfies, e.g. off a bucketed table)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil
  // the right side also sorts by the carried attributes: among right rows
  // TIED on (key, time) the merge holds the last one it sees, so without
  // this the choice would be shuffle-fetch-order nondeterministic — with
  // it, ties resolve to the greatest attribute tuple, deterministically
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      (rightKey +: rightTime +: rightAttrs).map(a => SortOrder(a, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head
  override def producedAttributes: AttributeSet = AttributeSet(output.drop(left.output.length))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTimeIdx = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTimeIdx = right.output.indexWhere(_.exprId == rightTime.exprId)
    require(lKeyIdx >= 0 && lTimeIdx >= 0 && rKeyIdx >= 0 && rTimeIdx >= 0,
      "as-of key/time attributes must come from the respective child")
    val rightProjExprs = rightTime +: rightAttrs
    val rightSchema = right.output
    val leftSchema = left.output
    val outSchema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rightProj = UnsafeProjection.create(rightProjExprs, rightSchema)
      val resultProj = UnsafeProjection.create(outSchema, outSchema)
      val nullRight = new GenericInternalRow(rightProjExprs.length)
      val joiner = new JoinedRow
      new Iterator[InternalRow] {
        private var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
        private var held: InternalRow = null // projected COPY of the best match so far
        private var heldKey: Long = 0L
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          numOutputRows += 1
          if (l.isNullAt(lKeyIdx) || l.isNullAt(lTimeIdx))
            return resultProj(joiner(l, nullRight))
          val lk = l.getLong(lKeyIdx)
          val lt = l.getLong(lTimeIdx)
          if (held != null && heldKey != lk) held = null
          // advance the right pointer through every row at-or-before (lk, lt);
          // rows are mutable buffers, so the candidate is a projected copy
          var advance = true
          while (advance && rRow != null) {
            if (rRow.isNullAt(rKeyIdx) || rRow.isNullAt(rTimeIdx)) {
              rRow = if (rIter.hasNext) rIter.next() else null
            } else {
              val rk = rRow.getLong(rKeyIdx)
              if (rk < lk || (rk == lk && rRow.getLong(rTimeIdx) <= lt)) {
                if (rk == lk) { held = rightProj(rRow).copy(); heldKey = lk }
                rRow = if (rIter.hasNext) rIter.next() else null
              } else advance = false
            }
          }
          resultProj(joiner(l, if (held != null) held else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point for the native operator. */
object AsofJoinNative {
  /** Same contract as AsofJoin.asofOn: left carries (keyCol, timeCol),
    * right carries (keyCol, timeCol, attrs); returns left rows + asof_time
    * + asof_<attr> columns. Planned by AsofJoinStrategy, which
    * GraftExtensions installs on every GraftSession. */
  def asof(left: DataFrame, right: DataFrame, keyCol: String, timeCol: String,
      rightAttrs: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    // re-alias every right column: fresh exprIds keep the two sides
    // disjoint even when both derive from the same scan (self-join shape)
    val rightPrep = right.select((Seq(keyCol, timeCol) ++ rightAttrs).map(c => col(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightPrep.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute = p.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"column $name not found"))
    val node = AsofJoinNode.build(lPlan, rPlan,
      attr(lPlan, keyCol), attr(lPlan, timeCol),
      attr(rPlan, keyCol), attr(rPlan, timeCol),
      rightAttrs.map(attr(rPlan, _)))
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark, node)
  }
}
