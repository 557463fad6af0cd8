package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Native per-key top-k — the third custom-operator tier (after the
  * vector_dot/morton_interleave Expressions and the as-of join): a logical
  * node + planner strategy + heap-based physical operator replacing the
  * rank-window formulation
  *
  *   row_number() OVER (PARTITION BY key ORDER BY ord DESC, tie ASC) <= k
  *
  * whose physical plan SORTS every partition in full. This operator
  * declares only ClusteredDistribution(key) — NO required ordering — and
  * keeps one bounded k-heap per key: O(n log k) per partition with
  * O(keys x k) state instead of an O(n log n) sort of all n rows, and
  * nothing spills for the sort. At 100 TB per-key top-k over a skewed key
  * is routinely the dominant sort; this removes it (map-side partial
  * top-k before the shuffle is the next refinement and composes with the
  * same exec).
  *
  * Determinism: the total per-key order is (ord DESC, tie ASC) with `tie`
  * a unique key, so the emitted set and ranks are independent of arrival
  * order — the same discipline the declarative rank-window queries follow
  * (CLAUDE.md: ranking windows must order by a unique key).
  *
  * key/ord/tie are LongType (the strategy claims only such plans). Rows
  * with a NULL key, ord, or tie are dropped — the rank-window form drops
  * no rows but NULL ordering differs between engines, so the operator
  * refuses the ambiguity outright.
  */
case class TopKPerKeyNode(
    child: LogicalPlan,
    key: Attribute, ord: Attribute, tie: Attribute,
    k: Int,
    rankAttr: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(Seq(rankAttr))
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyNode {
  def build(child: LogicalPlan, key: Attribute, ord: Attribute, tie: Attribute,
      k: Int): TopKPerKeyNode =
    TopKPerKeyNode(child, key, ord, tie, k,
      AttributeReference("topk_rank", LongType, nullable = false)())
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: TopKPerKeyNode
        if n.key.dataType == LongType && n.ord.dataType == LongType
          && n.tie.dataType == LongType =>
      // two-phase, like hash aggregation: the PARTIAL exec runs map-side
      // (no distribution requirement, so it sits below the exchange
      // EnsureRequirements inserts for the final) and keeps its own k-heap
      // per key — the shuffle then carries at most k rows per (task, key)
      // instead of every row, which is the whole fight at 100 TB with a
      // skewed key. Partial top-k per key is a superset of the global
      // top-k, so the final's result is unchanged.
      val partial = TopKPerKeyExec(planLater(n.child),
        n.key, n.ord, n.tie, n.k, n.child.output, partial = true)
      TopKPerKeyExec(partial, n.key, n.ord, n.tie, n.k, n.output) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    child: SparkPlan,
    key: Attribute, ord: Attribute, tie: Attribute,
    k: Int,
    output: Seq[Attribute],
    partial: Boolean = false) extends SparkPlan with UnaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def nodeName: String = if (partial) "TopKPerKeyPartial" else "TopKPerKey"
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
     else ClusteredDistribution(Seq(key))) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def producedAttributes: AttributeSet =
    if (partial) AttributeSet.empty else AttributeSet(output.takeRight(1))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val keyIdx = child.output.indexWhere(_.exprId == key.exprId)
    val ordIdx = child.output.indexWhere(_.exprId == ord.exprId)
    val tieIdx = child.output.indexWhere(_.exprId == tie.exprId)
    require(keyIdx >= 0 && ordIdx >= 0 && tieIdx >= 0,
      "top-k key/ord/tie attributes must come from the child")
    val kLocal = k
    val partialLocal = partial
    val outSchema = output
    val childSchema = child.output
    child.execute().mapPartitions({ iter =>
      val rowProj = UnsafeProjection.create(childSchema, childSchema)
      val resultProj = UnsafeProjection.create(outSchema, outSchema)
      // min-heap per key: head = weakest element under (ord DESC, tie ASC)
      final case class Entry(ordV: Long, tieV: Long, row: UnsafeRow)
      val weakestFirst: Ordering[Entry] = (a: Entry, b: Entry) =>
        if (a.ordV != b.ordV) java.lang.Long.compare(b.ordV, a.ordV) // smaller ord = weaker = first
        else java.lang.Long.compare(a.tieV, b.tieV) // larger tie = weaker
      val heaps = new java.util.HashMap[Long, scala.collection.mutable.PriorityQueue[Entry]]()
      def insert(r: InternalRow): Unit =
        if (!r.isNullAt(keyIdx) && !r.isNullAt(ordIdx) && !r.isNullAt(tieIdx)) {
          val kv = r.getLong(keyIdx)
          val ov = r.getLong(ordIdx)
          val tv = r.getLong(tieIdx)
          var heap = heaps.get(kv)
          if (heap == null) {
            heap = scala.collection.mutable.PriorityQueue.empty[Entry](weakestFirst)
            heaps.put(kv, heap)
          }
          if (heap.size < kLocal) {
            heap.enqueue(Entry(ov, tv, rowProj(r).copy().asInstanceOf[UnsafeRow]))
          } else {
            val w = heap.head
            if (ov > w.ordV || (ov == w.ordV && tv < w.tieV)) {
              heap.dequeue()
              heap.enqueue(Entry(ov, tv, rowProj(r).copy().asInstanceOf[UnsafeRow]))
            }
          }
        }
      import scala.jdk.CollectionConverters._
      if (partialLocal) {
        // Map-side phase: emit the surviving rows unranked — the final
        // phase re-heaps after the shuffle and assigns ranks. Partial
        // top-k is purely a shuffle-volume optimization and a superset is
        // always correct, so state is BOUNDED: once the heap map reaches
        // MaxPartialKeys distinct keys, everything buffered is flushed
        // downstream (the shuffle writer streams it) and a fresh map
        // starts. High-cardinality key domains therefore trade pruning
        // quality for O(MaxPartialKeys x k) memory instead of OOMing —
        // the degenerate all-keys-distinct input degrades to a pass-
        // through, exactly what the rank-window formulation would shuffle.
        new scala.collection.AbstractIterator[InternalRow] {
          private var out: Iterator[InternalRow] = Iterator.empty
          private def refill(): Unit =
            while (!out.hasNext && (iter.hasNext || !heaps.isEmpty)) {
              while (iter.hasNext && heaps.size() < TopKPerKeyExec.MaxPartialKeys)
                insert(iter.next())
              val snapshot = heaps.values().iterator().asScala.toArray
              heaps.clear()
              out = snapshot.iterator.flatMap { heap =>
                heap.iterator.map { e => numOutputRows += 1; e.row: InternalRow }
              }
            }
          override def hasNext: Boolean = { refill(); out.hasNext }
          override def next(): InternalRow = { refill(); out.next() }
        }
      } else {
        // Final phase: groups must be complete, so no flush is possible —
        // memory is O(distinct keys in this partition x k). The operator's
        // ClusteredDistribution(key) spreads the key domain over the
        // shuffle partitions, so the bound per task is ~|keys| x k /
        // shuffle.partitions; for a huge key domain raise
        // spark.sql.shuffle.partitions (the knob every hash aggregation
        // already needs) rather than expecting a sort-based spill here.
        while (iter.hasNext) insert(iter.next())
        val joiner = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        heaps.values().iterator().asScala.flatMap { heap =>
          // strongest first: rank 1 = greatest (ord DESC, tie ASC)
          val sorted = heap.dequeueAll.reverse
          sorted.iterator.zipWithIndex.map { case (e, i) =>
            numOutputRows += 1
            rankRow.setLong(0, i + 1L)
            resultProj(joiner(e.row, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Partial-phase flush threshold: at most this many distinct keys are
    * buffered map-side before the phase emits everything and resets. With
    * k~10 and ~100-byte rows that caps partial state around a few hundred
    * MB per task — the same order as a hash aggregation's fallback
    * threshold. Only the PARTIAL phase flushes; see doExecute. */
  val MaxPartialKeys: Int = 1 << 18
}

/** DataFrame-level entry point. */
object TopKPerKeyNative {
  /** Top `k` rows per `keyCol`, strongest first by (`ordCol` DESC,
    * `tieCol` ASC); appends `topk_rank` (1-based). All three columns must
    * be BIGINT and `tieCol` unique per key for deterministic output. */
  def topK(df: DataFrame, keyCol: String, ordCol: String, tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    require(k > 0, s"k must be positive, got $k")
    val plan = df.queryExecution.analyzed
    // fail fast on the LongType precondition: the strategy silently
    // declines non-long plans, which would otherwise surface as an
    // unplanned logical node deep in query execution
    def attr(name: String): Attribute = {
      val a = plan.output.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"column $name not found"))
      if (a.dataType != LongType)
        throw new IllegalArgumentException(
          s"column $name must be BIGINT for the native top-k operator, got ${a.dataType.sql}")
      a
    }
    val node = TopKPerKeyNode.build(plan, attr(keyCol), attr(ordCol), attr(tieCol), k)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark, node)
  }
}
