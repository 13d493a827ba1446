package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, RowOrdering, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Per-partition ascending sort on one `BinaryType` column, radix-sorted
  * on the key's 8-byte prefix — the sort under [[graft.shuffle.KV]]'s
  * k-way merge of binary keys.
  *
  * WHY an operator instead of `sortWithinPartitions`: Spark radix-sorts
  * only a key whose 8-byte prefix decides the whole order, so a
  * `BinaryType` key always takes TimSort over (pointer, prefix) pairs,
  * with a record comparison on every prefix tie. This exec sorts the
  * same [[UnsafeExternalRowSorter]] in radix mode on the key's prefix
  * (big-endian, unsigned: `PrefixComparators.BINARY`), then restores
  * exact `bytes_compare` order inside each run of equal prefixes as the
  * rows stream out. That is exact after spills too: the spill merger
  * orders by prefix first, so rows with equal prefixes stay adjacent,
  * and only their relative order needs repair. A null key has prefix 0
  * and sorts first, as under `SortOrder(key, Ascending)`.
  *
  * A tie run is buffered on the heap and sorted there up to
  * [[PrefixSort.MaxHeapRunRows]] rows; a longer run (a key space whose
  * first 8 bytes are shared) goes to a second, spillable sorter with the
  * full ordering, so memory stays bounded whatever the keys.
  */
case class PrefixSortNode(key: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

case class PrefixSortExec(key: Attribute, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(key, Ascending))

  // SortExec's metrics, plus the rows whose order the prefix did not
  // decide
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "sortTime" -> SQLMetrics.createTimingMetric(sparkContext, "sort time"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "tieRows" -> SQLMetrics.createMetric(sparkContext, "tie-repaired rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val ordinal = childOutput.indexWhere(_.exprId == key.exprId)
    require(ordinal >= 0 && key.dataType == BinaryType,
      s"PrefixSortExec sorts one BinaryType column of its input, got $key")
    val schema = child.schema
    val sortOrder = Seq(SortOrder(key, Ascending))
    val pageSize = PlanBridge.pageSizeBytes
    val sortTime = longMetric("sortTime")
    val spillSize = longMetric("spillSize")
    val tieRows = longMetric("tieRows")
    child.execute().mapPartitions { iter =>
      val ordering = RowOrdering.create(sortOrder, childOutput)
      val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
        private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(row: InternalRow)
            : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          val u = row.asInstanceOf[UnsafeRow]
          p.isNull = u.isNullAt(ordinal)
          p.value = PrefixSort.prefix(u, ordinal)
          p
        }
      }
      def sorter(radix: Boolean): UnsafeExternalRowSorter = {
        val s = UnsafeExternalRowSorter.create(schema, ordering,
          PrefixComparators.BINARY, prefixComputer, pageSize, radix)
        TaskContext.get().addTaskCompletionListener[Unit](_ => s.cleanupResources())
        s
      }
      val main = sorter(radix = true)
      val metrics = TaskContext.get().taskMetrics()
      val spilledBefore = metrics.memoryBytesSpilled
      val sorted = main.sort(iter.asInstanceOf[Iterator[UnsafeRow]])
      sortTime += java.util.concurrent.TimeUnit.NANOSECONDS.toMillis(main.getSortTimeNanos)
      spillSize += metrics.memoryBytesSpilled - spilledBefore
      new TieRepair(sorted, ordinal, schema.length, ordering,
        () => sorter(radix = false), tieRows)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Streams `sorted` (ordered by key prefix only) in full key order: each
  * row is copied into one of two reused buffers and held until the next
  * row shows whether its prefix is shared; a run of shared prefixes is
  * sorted by `ordering` before it is emitted. A returned row stays valid
  * until the following `next()`. */
private final class TieRepair(sorted: Iterator[InternalRow], ordinal: Int,
                              numFields: Int, ordering: Ordering[InternalRow],
                              spillSorter: () => UnsafeExternalRowSorter,
                              tieRows: SQLMetric)
    extends Iterator[InternalRow] {
  private val bufs = Array(new HeldRow(numFields, ordinal), new HeldRow(numFields, ordinal))
  private var held: HeldRow = _ // the next sorted row, copied
  private var run: Iterator[InternalRow] = Iterator.empty

  holdNext()

  /** Copies the next sorted row, if any, into the buffer `held` is not
    * in (the other one may back the row last returned). */
  private def holdNext(): Unit = {
    val into = if (held eq bufs(0)) bufs(1) else bufs(0)
    held = if (sorted.hasNext) into.hold(sorted.next().asInstanceOf[UnsafeRow]) else null
  }

  override def hasNext: Boolean = run.hasNext || held != null

  override def next(): InternalRow = {
    if (run.hasNext) return run.next()
    if (held == null) throw new NoSuchElementException
    val cur = held
    holdNext()
    if (held == null || held.prefix != cur.prefix) return cur.row
    // a tie run: cur, held and every following row with the same prefix
    val p = cur.prefix
    val rows = ArrayBuffer[InternalRow](cur.row.copy())
    var spill: UnsafeExternalRowSorter = null
    var n = 1L
    while (held != null && held.prefix == p) {
      if (spill == null && rows.length >= PrefixSort.MaxHeapRunRows) {
        spill = spillSorter()
        rows.foreach(r => spill.insertRow(r.asInstanceOf[UnsafeRow]))
        rows.clear()
      }
      if (spill != null) spill.insertRow(held.row) else rows += held.row.copy()
      n += 1
      holdNext()
    }
    tieRows += n
    run = if (spill != null) spill.sort() else rows.sortInPlace()(ordering).iterator
    run.next()
  }
}

/** One reused copy of an [[UnsafeRow]], and its key prefix. */
private final class HeldRow(numFields: Int, ordinal: Int) {
  private var bytes = new Array[Byte](128)
  val row = new UnsafeRow(numFields)
  var prefix = 0L

  def hold(r: UnsafeRow): HeldRow = {
    val size = r.getSizeInBytes
    if (bytes.length < size) bytes = new Array[Byte](math.max(size, bytes.length * 2))
    Platform.copyMemory(r.getBaseObject, r.getBaseOffset, bytes,
      Platform.BYTE_ARRAY_OFFSET, size)
    row.pointTo(bytes, size)
    prefix = PrefixSort.prefix(row, ordinal)
    this
  }
}

/** Plans [[PrefixSortNode]] as [[PrefixSortExec]]. */
object PrefixSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixSortNode(key, child) => PrefixSortExec(key, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API; registers the strategy on first use (the
  * session-build path is `graft.GraftSessionExtensions`). */
object PrefixSort {

  /** Longest tie run sorted on the heap; a longer one spills. */
  val MaxHeapRunRows = 4096

  /** `df.sortWithinPartitions(key)` for a `BinaryType` column `key`. */
  def sortWithinPartitions(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(PrefixSortStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PrefixSortStrategy
    }
    val plan = PlanBridge.analyzed(df)
    val attr = plan.output.find(_.name == key).getOrElse(
      throw new IllegalArgumentException(s"no column $key in ${plan.output}"))
    require(attr.dataType == BinaryType, s"$key is ${attr.dataType}, not binary")
    PlanBridge.ofRows(spark, PrefixSortNode(attr, plan))
  }

  /** The 8-byte big-endian prefix of the binary at `ordinal` (zero-
    * padded; 0 for null) — `ByteArray.getPrefix` read straight from the
    * row's memory, so it orders like `PrefixComparators.BINARY`. */
  def prefix(row: UnsafeRow, ordinal: Int): Long = {
    if (row.isNullAt(ordinal)) return 0L
    // a variable-length field's slot holds (offset << 32 | size)
    val slot = row.getLong(ordinal)
    val base = row.getBaseObject
    val off = row.getBaseOffset + (slot >>> 32)
    val size = slot.toInt
    if (size >= 8) {
      val w = Platform.getLong(base, off)
      if (java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN)
        java.lang.Long.reverseBytes(w)
      else w
    } else {
      var p = 0L
      var i = 0
      while (i < size) {
        p |= (Platform.getByte(base, off + i) & 0xffL) << (56 - 8 * i)
        i += 1
      }
      p
    }
  }
}
