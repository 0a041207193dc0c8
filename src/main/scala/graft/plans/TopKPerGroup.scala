package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Per-group top-k as a first-class operator — logical node, planner
  * strategy, and a two-phase physical implementation.
  *
  * The DataFrame-level idiom (`row_number().over(Window.partitionBy(g)
  * .orderBy(o)) <= k`) plans as exchange → full SORT of every group →
  * rank → filter: it materializes and sorts ALL rows to keep k. This
  * operator keeps a bounded heap of k rows per group instead:
  *
  *   partial (map side, no distribution requirement): each input
  *     partition is pruned to ≤ k rows per group BEFORE the exchange —
  *     shuffle volume drops from |rows| to ≤ k·|groups per partition|,
  *     the same shape partial aggregation gives groupBy. Heap memory is
  *     capped at 4M buffered row copies per partition; past the cap,
  *     rows of not-yet-full groups pass
  *     through unpruned (correct — the final phase re-prunes) so a
  *     high-cardinality grouping degrades to a partial prune instead of
  *     an OOM;
  *   final (after clustering AND sorting on the group keys — the sort
  *     runs over the already-pruned shuffle output, not the input, and
  *     spills like any SortExec): groups arrive contiguously, so only
  *     ONE group's k-row heap is live at a time — O(k) memory — and each
  *     group's rows are emitted in sort order with a 1-based `rank`.
  *
  * No full sort of the input ever happens; per-group cost is O(n·log k)
  * insertion + O(k·log k) final ordering.
  *
  * Why not Spark's built-in `WindowGroupLimit`: swapping this operator
  * for it was measured on Spark 4.1 over 4 ABAB perfbench pairs (4-CPU
  * VM, `--seconds 14`) and lost — `lap_analytics` op_p50_s ×1.24,
  * 1.00, 1.24, 1.26 (median 0.434 → 0.539 s), `race_upsert` ops_per_s
  * 0.749 → 0.694 — because it adds a full map-side sort ahead of q09's
  * exchange. Re-measure before proposing that swap again.
  */
case class TopKPerGroup(groupExprs: Seq[Expression], order: Seq[SortOrder],
                        k: Int, rankAttr: Attribute, child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  require(groupExprs.nonEmpty,
    "per-group top-k needs group keys (global top-k is ORDER BY + LIMIT)")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rank is produced here, not consumed from the child (without this,
  // missingInput sees it in `references` and analysis fails)
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** Map-side phase: prune each partition to ≤ k rows per group, within a
  * bounded memory budget. Output schema is unchanged; ordering within a
  * group is unspecified. */
case class TopKPerGroupPartialExec(groupExprs: Seq[Expression],
                                   order: Seq[SortOrder], k: Int,
                                   child: SparkPlan,
    private[graft] val maxBuffered: Long = TopKPerGroupPartialExec.MaxBufferedRows)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, attrs, budget) = (groupExprs, order, k, child.output, maxBuffered)
    child.execute().mapPartitions { iter =>
      new Iterator[InternalRow] {
        private val keyProj = UnsafeProjection.create(g, attrs)
        private val ord = GenerateOrdering.generate(o, attrs)
        private val heaps =
          new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        private var bufferedRows = 0L
        private var drain: java.util.Iterator[java.util.PriorityQueue[InternalRow]] = null
        private var drainHeap: java.util.Iterator[InternalRow] = null
        private var pending: InternalRow = null

        /** Consume input until a pass-through row appears or input ends. */
        private def advance(): Unit = {
          while (pending == null && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null && bufferedRows < budget) {
              // initial capacity capped: k can be large relative to the
              // actual group size, and PriorityQueue allocates eagerly
              heap = new java.util.PriorityQueue[InternalRow](
                math.min(kk + 1, 64), ord.reverse)
              heaps.put(key.copy(), heap)
            }
            if (heap == null) {
              pending = row                    // over budget: pass through
            } else if (heap.size() < kk) {
              if (bufferedRows < budget) { heap.offer(row.copy()); bufferedRows += 1 }
              else pending = row               // group not full but over budget
            } else {
              // full heap: offer+evict keeps memory flat, so prune even
              // past the budget (largest-by-ord at the head ⇒ evicting
              // the head keeps the k smallest rows in `ord`)
              if (ord.compare(row, heap.peek()) < 0) {
                heap.poll(); heap.offer(row.copy())
              }
            }
          }
          if (pending == null && drain == null && !iter.hasNext)
            drain = heaps.values().iterator()
        }

        override def hasNext: Boolean = {
          if (pending == null && drain == null) advance()
          pending != null || (drain != null &&
            (drain.hasNext || (drainHeap != null && drainHeap.hasNext)))
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          if (pending != null) { val r = pending; pending = null; r }
          else {
            while (drainHeap == null || !drainHeap.hasNext)
              drainHeap = drain.next().iterator()
            drainHeap.next()
          }
        }
      }
    }
  }
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

object TopKPerGroupPartialExec {
  /** Row copies the partial phase buffers per partition before it
    * degrades to pass-through. */
  private val MaxBufferedRows = 4194304L
}

/** Reduce-side phase: requires clustering + intra-partition ordering on
  * the group keys (the planner inserts the exchange and a spill-capable
  * sort over the PRUNED rows). Groups arrive contiguously, so one k-row
  * heap at a time re-prunes and emits each group's rows in sort order
  * with a 1-based `rank` — O(k) memory regardless of group count. */
case class TopKPerGroupFinalExec(groupExprs: Seq[Expression],
                                 order: Seq[SortOrder], k: Int,
                                 rankAttr: Attribute,
                                 child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(groupExprs.map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, kk, attrs, outAttrs) = (groupExprs, order, k, child.output, output)
    child.execute().mapPartitions { iter =>
      new Iterator[InternalRow] {
        private val keyProj = UnsafeProjection.create(g, attrs)
        private val ord = GenerateOrdering.generate(o, attrs)
        private val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        private val joined = new JoinedRow
        private val rankRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        private var pending: InternalRow = if (iter.hasNext) iter.next() else null
        private var group: java.util.ArrayList[InternalRow] = null
        private var idx = 0

        /** Load the next contiguous group into a sorted ≤ k-row list. */
        private def loadGroup(): Unit = {
          val key = keyProj(pending).copy()
          val heap = new java.util.PriorityQueue[InternalRow](
            math.min(kk + 1, 64), ord.reverse)
          heap.offer(pending.copy())
          pending = null
          var done = false
          while (!done && iter.hasNext) {
            val row = iter.next()
            if (keyProj(row) == key) {
              if (heap.size() < kk) heap.offer(row.copy())
              else if (ord.compare(row, heap.peek()) < 0) {
                heap.poll(); heap.offer(row.copy())
              }
            } else { pending = row; done = true }
          }
          group = new java.util.ArrayList[InternalRow](heap)
          group.sort(ord)
          idx = 0
        }

        override def hasNext: Boolean =
          (group != null && idx < group.size()) || pending != null
        override def next(): InternalRow = {
          if (group == null || idx >= group.size()) {
            if (pending == null) throw new NoSuchElementException
            loadGroup()
          }
          rankRow.update(0, (idx + 1).toLong)
          val r = outProj(joined(group.get(idx), rankRow))
          idx += 1
          r
        }
      }
    }
  }
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Plans [[TopKPerGroup]] as partial → (exchange + group-key sort) →
  * final. Registered by [[graft.GraftExtensions]], next to the
  * [[RewriteRowNumberTopK]] rule that creates the node. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, rank, child) =>
      TopKPerGroupFinalExec(g, o, k, rank,
        TopKPerGroupPartialExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}
