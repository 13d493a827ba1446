package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Group-wise top-k as a first-class operator: logical node → strategy
  * → physical exec, the full custom-operator extension ladder (the
  * rung below expressions/generators).
  *
  * WHY an operator instead of `row_number().over(window) <= k`: the
  * window formulation sorts EVERY group's full row set (partition-wide
  * sort after the exchange) to discard all but k rows. This exec keeps
  * a bounded k-row heap per group — O(n log k) with O(groups·k) memory
  * — and runs twice: a partial pass before the exchange (each map task
  * emits ≤ k rows per group, the combiner pattern the reference applies
  * to shuffle data, reference src/Merger/MergeManager.cc map-side
  * merge) and a final pass after it. At 100 TB the partial pass is the
  * difference between shuffling every row and shuffling ≤ k·maps rows
  * per group.
  *
  * MEMORY BOUND: O(groups·k) is itself unbounded when the group key is
  * near-unique (a k=1 dedup on a fingerprint key has groups ≈ rows —
  * the reference bounds exactly this with its LPQ/RPQ budgeted merge,
  * src/Merger/MergeManager.cc:240-288). Both passes therefore cap the
  * buffered-row count at `maxBufferedRows` (a per-call argument of
  * [[GroupTopK.topKPerGroup]], default 4M rows per task):
  *  - the PARTIAL pass flushes its heap map downstream and starts
  *    fresh. Correct because any row in its group's true partition-wide
  *    top-k always enters the live heap on arrival and can only be
  *    evicted by strictly-better rows — fewer than k of those exist in
  *    the whole partition, so every true top-k row is in some flush;
  *    the union of flushes ⊇ the exact answer the final pass needs.
  *  - the FINAL pass (which must be exact) hands everything to Spark's
  *    spillable [[UnsafeExternalRowSorter]], sorted by (group key,
  *    order), and streams the first k rows of each group — the same
  *    hash-to-sort fallback HashAggregate uses.
  *
  * Row-number semantics (ties broken by heap arrival) — pass a
  * tie-breaking column in `order` for fully deterministic output, same
  * as you would for `row_number`.
  */
case class GroupTopKNode(groupExprs: Seq[Expression], order: Seq[SortOrder],
                         k: Int, maxBufferedRows: Long,
                         child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

case class GroupTopKExec(groupExprs: Seq[Expression], order: Seq[SortOrder],
                         k: Int, partial: Boolean, maxBufferedRows: Long,
                         child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // Observability for the two memory-bound paths: heap-map GENERATIONS
  // in the partial pass (1 = the budget never filled; >1 = chunked
  // flushes happened) and final-pass external-sort fallbacks (the
  // exact path a near-unique key forces). Tests assert on these; at
  // cluster scale they're the SQL-UI signal that the budget knob is
  // binding.
  override lazy val metrics = Map(
    "numFlushes" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "partial heap-map generations"),
    "spillFallback" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "final-pass external-sort fallbacks"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))

  private type Heap = collection.mutable.PriorityQueue[InternalRow]
  private type HeapMap = collection.mutable.LinkedHashMap[UnsafeRow, Heap]

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val g = groupExprs
    val o = order
    val limit = k
    val budget = math.max(1L, maxBufferedRows)
    val isPartial = partial
    val flushMetric = longMetric("numFlushes")
    val spillMetric = longMetric("spillFallback")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(g, childOutput)
      // ascending interpretation of the SortOrder list: "top" = the k
      // FIRST rows under `order` (use .desc for largest-first)
      val ord = RowOrdering.create(o, childOutput)

      // Fills `heaps` from `iter` until the buffered-row budget is hit
      // or input ends; returns the number of rows buffered.
      def fill(heaps: HeapMap, alreadyBuffered: Long): Long = {
        var buffered = alreadyBuffered
        while (iter.hasNext && buffered < budget) {
          val row = iter.next()
          // probe with the projection's REUSED row (UnsafeRow equality
          // is value-based); copy the key only on first insert — a
          // per-row key copy here was one allocation per input row and
          // measured as a GC storm on a 97 M-row pass (r10 ann sf3
          // stage profile)
          val key = keyProj(row)
          val heap = heaps.get(key) match {
            case Some(h) => h
            case None =>
              val h = collection.mutable.PriorityQueue.empty[InternalRow](ord)
              heaps.put(key.copy(), h)
              h
          }
          if (heap.size < limit) { heap.enqueue(row.copy()); buffered += 1 }
          else if (ord.compare(row, heap.head) < 0) {
            heap.dequeue()
            heap.enqueue(row.copy())
          }
        }
        buffered
      }

      if (isPartial) {
        // Chunked heap passes: flush the map each time the budget
        // fills (see scaladoc for why flushed output stays a superset
        // of each group's true top-k).
        new Iterator[InternalRow] {
          private var drain: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = {
            while (!drain.hasNext && iter.hasNext) {
              val heaps = new HeapMap
              fill(heaps, 0L)
              flushMetric += 1
              drain = heaps.valuesIterator.flatMap(_.iterator)
            }
            drain.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            drain.next()
          }
        }
      } else {
        val heaps = new HeapMap
        fill(heaps, 0L)
        if (!iter.hasNext) {
          heaps.valuesIterator.flatMap(_.iterator)
        } else {
          // Budget exceeded with input remaining: exact answers can't
          // flush, so fall back to a spillable external sort by
          // (group, order) and stream the first k rows per group.
          spillMetric += 1
          val schema = StructType(childOutput.map(a =>
            StructField(a.name, a.dataType, a.nullable)))
          val sortOrd = RowOrdering.create(
            g.map(e => SortOrder(e, Ascending)) ++ o, childOutput)
          val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
            private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
            override def computePrefix(row: InternalRow)
                : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
              p.value = 0L; p.isNull = false; p
            }
          }
          val sorter = UnsafeExternalRowSorter.create(
            schema, sortOrd, PrefixComparators.LONG, prefixComputer,
            4L * 1024 * 1024, false)
          TaskContext.get().addTaskCompletionListener[Unit](_ =>
            sorter.cleanupResources())
          val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
          heaps.valuesIterator.foreach(_.foreach(r =>
            sorter.insertRow(toUnsafe(r))))
          heaps.clear()
          while (iter.hasNext) sorter.insertRow(toUnsafe(iter.next()))
          val sorted = sorter.sort()
          new Iterator[InternalRow] {
            private var curKey: UnsafeRow = _
            private var emitted = 0
            private var pending: InternalRow = _
            // read-ahead lives in hasNext (after the caller consumed
            // the prior row), never in next(): the sorter reuses row
            // memory across its next() calls
            override def hasNext: Boolean = {
              if (pending != null) return true
              while (sorted.hasNext) {
                val r = sorted.next()
                val kk = keyProj(r)
                if (curKey == null || kk != curKey) {
                  curKey = kk.copy(); emitted = 0
                }
                if (emitted < limit) {
                  emitted += 1; pending = r; return true
                }
              }
              false
            }
            override def next(): InternalRow = {
              if (!hasNext) throw new NoSuchElementException
              val r = pending; pending = null; r
            }
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Plans GroupTopKNode as partial → (exchange via EnsureRequirements)
  * → final. */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, k, budget, child) =>
      GroupTopKExec(g, o, k, partial = false, budget,
        GroupTopKExec(g, o, k, partial = true, budget,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API; registers the strategy on first use (the
  * session-build path is `graft.GraftSessionExtensions`). */
object GroupTopK {
  /** Default heap budget per task: 4M rows. The r10 ann-sf3 profile
    * showed that MULTI-million-row final inputs per task keep ~8 GB of
    * copied small objects live across 32 tasks (GC wall 710 s vs 224 s
    * task CPU), and past the budget the final pass hands off to Spark's
    * spillable UnsafeExternalRowSorter whose memory-managed pages don't
    * churn the GC — so the ANN bounded path passes an explicit 1M
    * budget ([[graft.similarity.Ann.AnnTopKBudget]]). That finding was
    * measured ONLY at multi-M-row ANN finals; the default stays 4M so
    * mid-size workloads (1–4M buffered rows per task — the dedup/
    * keep-best family at suite scale) keep the cheaper in-memory heap
    * path instead of silently taking the external-sort fallback
    * (r10 briefly lowered the global default to 1M and the very next
    * suite anchor drifted the GroupTopK-heavy family +30–50%). The
    * partial pass just flushes a generation sooner under a smaller
    * budget (correct by the superset argument in the class scaladoc). */
  val DefaultMaxBufferedRows: Long = 4L * 1024 * 1024

  /** `maxBufferedRows`: the heap budget of this call's two passes.
    * Callers whose FINAL pass is known to buffer multi-million rows per
    * task (ANN bounded caps) pass a small budget to get the
    * spillable-sort path; everyone else keeps the default. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[Column],
                   order: Seq[Column], k: Int,
                   maxBufferedRows: Long = DefaultMaxBufferedRows): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(GroupTopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GroupTopKStrategy
    }
    val node = GroupTopKNode(
      groupCols.map(PlanBridge.expression),
      order.map(PlanBridge.sortOrder), k, maxBufferedRows,
      PlanBridge.analyzed(df))
    PlanBridge.ofRows(spark, node)
  }
}
