package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.Platform

/** What the driver-side finishes of `Clusters.connectedComponents` and
  * `Dedup.minhashPairs` share: ids ordered as Spark orders them, and
  * the result, built on the driver in Catalyst form, turned back into a
  * DataFrame. */
private[dedup] object DriverFinish {

  /** Largest result `frame` returns as a `LocalRelation`. Every job that
    * reads a local relation or a parallelized collection ships its rows
    * in the task binaries; a local relation also re-encodes them per
    * plan. Past this size `frame` packs the rows as UnsafeRow bytes. */
  val LocalRelationRows: Int = 1 << 16

  /** `rows` (Catalyst values) under `schema`: a `LocalRelation`
    * (`LocalTableScan` in the plan) up to [[LocalRelationRows]], above
    * it an RDD of one UnsafeRow byte block per slice of the default
    * parallelism. The local relation stays for the small results every
    * current workload produces because it carries exact size statistics
    * and is known empty at planning time: the optimizer prunes joins
    * with an empty result and broadcasts a small one in the static plan,
    * where an RDD-backed frame has no size estimate and a join shuffles
    * both sides unless adaptive execution re-plans it after the shuffle.
    * It is not a speed claim for `dedup_pipeline`: with packed frames at
    * every size its cpu_s and wall_s were the same (6 seeds, 4 cores). */
  def frame(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    if (rows.length <= LocalRelationRows)
      PlanBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
    else {
      val proj = UnsafeProjection.create(schema)
      val slices = spark.sparkContext.defaultParallelism
      val blocks = rows.grouped((rows.length + slices - 1) / slices).map { part =>
        val out = new java.io.ByteArrayOutputStream()
        val data = new java.io.DataOutputStream(out)
        part.foreach { r =>
          val u = proj(r)
          data.writeInt(u.getSizeInBytes)
          data.write(u.getBytes)
        }
        out.toByteArray
      }.toSeq
      val width = schema.length
      val unpacked = spark.sparkContext.parallelize(blocks, blocks.length).mapPartitions {
        _.flatMap { block =>
          val row = new UnsafeRow(width)
          val sizes = java.nio.ByteBuffer.wrap(block)
          Iterator.unfold(0) { off =>
            if (off >= block.length) None
            else {
              val size = sizes.getInt(off)
              row.pointTo(block, Platform.BYTE_ARRAY_OFFSET + off + 4, size)
              Some((row: InternalRow, off + 4 + size))
            }
          }
        }
      }
      PlanBridge.internalFrame(spark, unpacked, schema)
    }

  /** The distinct non-null values of `values` (Catalyst form), sorted
    * under Spark's ordering for `idType` (UTF-8 byte order for strings,
    * not `String.compareTo`). [[rank]] maps an id to its index, so rank
    * order is Spark's `<` and equal ranks are equal ids. */
  final class IdRanks(values: Iterator[AnyRef], idType: DataType) {
    private val ord = TypeUtils.getInterpretedOrdering(idType)
    private val cmp: java.util.Comparator[AnyRef] = (a, b) => ord.compare(a, b)

    val ids: Array[AnyRef] = {
      val sorted = values.filter(_ != null).toArray
      java.util.Arrays.sort(sorted, cmp)
      val out = Array.newBuilder[AnyRef]
      var last: AnyRef = null
      sorted.foreach { x =>
        if (last == null || cmp.compare(last, x) != 0) { out += x; last = x }
      }
      out.result()
    }

    /** Index of `x` in [[ids]]; -1 for null. */
    def rank(x: AnyRef): Int =
      if (x == null) -1 else java.util.Arrays.binarySearch(ids, x, cmp)
  }
}
