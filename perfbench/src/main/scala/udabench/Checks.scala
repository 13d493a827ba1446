package udabench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Output checks. They run outside an operation's timing; an operation
  * whose check fails counts as failed and is left out of the timings. */
object Checks {

  /** Record count plus two order-independent 64-bit folds (wrapping sum
    * and xor) of per-record hashes: a multiset fingerprint. */
  final case class Sum(n: Long, sum: Long, xor: Long) {
    def add(x: Long): Sum = Sum(n + 1, sum + x, xor ^ x)
    def +(o: Sum): Sum = Sum(n + o.n, sum + o.sum, xor ^ o.xor)
    def hex: String = f"$n%d:$sum%016x:$xor%016x"
  }
  object Sum { val zero: Sum = Sum(0, 0, 0) }

  private def murmur(b: Array[Byte], seed: Int): Int =
    Murmur3_x86_32.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, seed)

  def recHash(k: Array[Byte], v: Array[Byte]): Long = {
    val a = murmur(k, 0x3c074a61)
    (a.toLong << 32) | (murmur(v, a) & 0xffffffffL)
  }

  /** `bytes_compare` order: unsigned byte-wise, then shorter first. */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** One output partition's check: record count, checksum, and the index
    * of the first key smaller than its predecessor (-1 when sorted). */
  final case class Partition(sum: Sum, firstUnsorted: Long)

  def checkPartition(it: Iterator[(Array[Byte], Array[Byte])]): Partition = {
    var s = Sum.zero
    var prev: Array[Byte] = null
    var bad = -1L
    it.foreach { case (k, v) =>
      if (bad < 0 && prev != null && compareBytes(prev, k) > 0) bad = s.n
      s = s.add(recHash(k, v))
      prev = k
    }
    Partition(s, bad)
  }

  /** Checks every file of a graft-ifile output dir (one read partition per
    * file): each must be key-ordered, and together they must hold the
    * input's records. Returns a failure reason, or None. */
  def kvOutput(out: DataFrame, expected: Sum): Option[String] = {
    val parts = out.rdd.mapPartitions { rows =>
      Iterator(checkPartition(rows.map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))))
    }.collect()
    val total = parts.map(_.sum).foldLeft(Sum.zero)(_ + _)
    parts.zipWithIndex.find(_._1.firstUnsorted >= 0) match {
      case Some((p, i)) => Some(s"partition $i unsorted at record ${p.firstUnsorted}")
      case None if total != expected =>
        Some(s"records ${total.hex} != input ${expected.hex}")
      case None => None
    }
  }

  /** CRC32C of every visible file in `dir`, by name. */
  def fileCrcs(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map { f =>
        val crc = new java.util.zip.CRC32C()
        crc.update(java.nio.file.Files.readAllBytes(f.toPath))
        f.getName -> crc.getValue
      }.toMap

  /** Forces a query and fingerprints its rows in the executors: an
    * order-independent digest of the canonical UnsafeRow bytes. */
  def digest(df: DataFrame): Sum = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var s = Sum.zero
      rows.foreach { r =>
        val u = proj(r)
        val a = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 0x2f1b3c5d)
        val b = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, a)
        s = s.add((a.toLong << 32) | (b & 0xffffffffL))
      }
      Iterator(s)
    }.collect().foldLeft(Sum.zero)(_ + _)
  }

  /** Checks one q_pipeline_full result (doc_id, cluster_id, cluster_size,
    * keep, split, contaminated): one row per doc, exactly one keep per
    * cluster, sizes that match, and every planted chain in one cluster. */
  def pipeline(rows: Array[Row], seed: Long, nDocs: Long): Option[String] = {
    val ids = rows.map(_.getLong(0))
    if (rows.length != nDocs) return Some(s"${rows.length} rows for $nDocs docs")
    if (ids.distinct.length != rows.length) return Some("duplicate doc_id rows")
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.collectFirst {
      case (c, rs) if rs.count(_.getBoolean(3)) != 1 =>
        s"cluster $c has ${rs.count(_.getBoolean(3))} keep rows"
      case (c, rs) if rs.exists(_.getLong(2) != rs.length) =>
        s"cluster $c size disagrees with its ${rs.length} rows"
    }.orElse {
      val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0L until nDocs / Gen.FamilySlots).iterator.map { f =>
        val members = (0 until Gen.familySize(seed, f)).map(s => cluster(f * Gen.FamilySlots + s))
        if (members.distinct.size > 1) Some(s"planted chain $f split over ${members.distinct}")
        else None
      }.collectFirst { case Some(m) => m }
    }
  }

  def rowsDigest(rows: Array[Row]): Sum =
    rows.iterator.map(r => Gen.mix(r.toSeq.map(_.##.toLong).foldLeft(17L)((a, x) => Gen.mix(a ^ x))))
      .foldLeft(Sum.zero)(_ add _)
}
