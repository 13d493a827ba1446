package graft.shuffle

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.BinaryType

import graft.plans.PrefixSort

/** Typed key/value shuffle-merge veneer — the reference's operator
  * surface (partition routing, k-way sorted merge, sorted group
  * delivery) expressed as thin Spark primitives.
  *
  * Mapping (SURVEY §1.5 / §2.1):
  *  - `partitionByKey`  = reduceID routing (O1–O4): hash exchange.
  *  - `mergeSorted`     = the k-way merge (O5–O7): each output partition
  *    is a globally key-sorted run — Spark's external sorter IS the
  *    LPQ/RPQ two-level merge, spill files included. Binary keys
  *    radix-sort on their 8-byte prefix with exact tie repair (see
  *    `mergeSorted`).
  *  - `sortedGroups`    = grouped delivery to the reduce function (O12,
  *    J2CQueue): per-key iterator, keys adjacent.
  * Ordering semantics match the reference's comparators: String sorts
  * byte-wise like `text_compare`, numeric types like `byte_compare`,
  * Array[Byte]/BinaryType byte-wise like `bytes_compare`
  * (reference src/Merger/CompareFunc.cc:29-91).
  */
object KV {

  /** Route records to `n` partitions by key hash (reduceID routing). */
  def partitionByKey[K, V](ds: Dataset[(K, V)], n: Int): Dataset[(K, V)] =
    ds.repartition(n, col("_1"))

  /** Partition by key and deliver each partition as a key-sorted run —
    * the network-levitated merge's output contract.
    *
    * A `BinaryType` key (terasort's 10-byte keys, `bytes_compare`) is
    * sorted by [[graft.plans.PrefixSort]]: a radix sort on the key's
    * 8-byte prefix, then an exact repair inside each run of equal
    * prefixes. Ties stay exact after spills because Spark's spill
    * merger orders by prefix first and so keeps equal prefixes
    * adjacent. Spark itself radix-sorts only keys whose prefix is the
    * whole key, so a binary key would otherwise take TimSort. Other key
    * types keep `sortWithinPartitions`, which radix-sorts the fixed-
    * width ones already. */
  def mergeSorted[K, V](ds: Dataset[(K, V)], n: Int): Dataset[(K, V)] = {
    val routed = ds.repartition(n, col("_1"))
    if (ds.schema("_1").dataType == BinaryType)
      PrefixSort.sortWithinPartitions(routed.toDF(), "_1").as(ds.encoder)
    else routed.sortWithinPartitions(col("_1"))
  }

  /** Globally key-sorted stream (range partition + per-partition sort —
    * the TeraSort pattern). */
  def globalSorted[K, V](ds: Dataset[(K, V)]): Dataset[(K, V)] =
    ds.orderBy(col("_1"))

  /** Sorted-group reduce: the (key, values iterator) delivery the Hadoop
    * reducer sees. Spark chooses hash- or sort-based grouping. */
  def reduceByKeyTyped[K: Encoder, V](ds: Dataset[(K, V)], f: (V, V) => V)(
      implicit kv: Encoder[(K, V)]): Dataset[(K, V)] =
    ds.groupByKey(_._1).reduceGroups((a, b) => (a._1, f(a._2, b._2)))
      .map { case (_, (k, v)) => (k, v) }

  /** Full grouped iteration (arbitrary reduce function over the sorted
    * values of one key). */
  def mapGroups[K: Encoder, V, O: Encoder](ds: Dataset[(K, V)])(
      f: (K, Iterator[V]) => O): Dataset[O] =
    ds.groupByKey(_._1).mapGroups((k, it) => f(k, it.map(_._2)))

  /** Secondary sort: each key's values delivered in ascending VALUE
    * order, streaming (Hadoop's grouping-comparator pattern). The
    * reference's merge emits total (key, value) order, so its reducer
    * sees sorted values for free (src/Merger/MergeQueue.h:126-270);
    * Spark's `mapGroups` does not sort values, so this routes through
    * one exchange + per-partition sort — Spark's ExternalSorter, spill
    * included — then walks key runs with a single buffered pass. The
    * group's values are never buffered: `f` receives a streaming
    * iterator, so a hot key spills to the sorter, not to reducer memory. */
  def sortedValueGroups[K, V, O: Encoder](ds: Dataset[(K, V)], n: Int)(
      f: (K, Iterator[V]) => O): Dataset[O] = {
    val sorted = ds.repartition(n, col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
    sorted.mapPartitions { rows =>
      val buf = rows.buffered
      new Iterator[O] {
        override def hasNext: Boolean = buf.hasNext
        override def next(): O = {
          val k = buf.head._1
          val vs = new Iterator[V] {
            override def hasNext: Boolean = buf.hasNext && buf.head._1 == k
            override def next(): V = buf.next()._2
          }
          val out = f(k, vs)
          while (vs.hasNext) vs.next() // drain to the next key run
          out
        }
      }
    }
  }
}
