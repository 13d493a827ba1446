package udabench

import org.apache.spark.sql.SparkSession

/** The harness's own checks at tiny sizes: the sortedness checker
  * rejects an unsorted partition, and a seed always gives the same
  * inputs (and another seed other ones). Exits non-zero on failure. */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) sys.exit(1)
  }

  def run(work: String): Unit = {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val v = b(1)
    val sorted = Seq(b(0x00), b(0x00, 0x00), b(0x01), b(0x7f), b(0x80), b(0xff))
    expect(Checks.checkPartition(sorted.iterator.map(k => (k, v))).firstUnsorted == -1,
      "checker accepts a bytes_compare-sorted partition (unsigned bytes, prefix first)")
    val unsorted = Seq(b(0x01), b(0x80), b(0x7f), b(0xff))
    expect(Checks.checkPartition(unsorted.iterator.map(k => (k, v))).firstUnsorted == 2,
      "checker rejects an unsorted partition at its first out-of-order key")
    expect(Checks.checkPartition(Seq(b(0x01, 0x00), b(0x01)).iterator.map(k => (k, v)))
      .firstUnsorted == 1, "checker rejects a longer key before its own prefix")

    val spark: SparkSession = Main.session(Main.benchConf(work))
    try {
      def mofs(seed: Long) = Gen.mofChecksum(spark, seed, 5000, 8)
      expect(mofs(7) == mofs(7) && mofs(7) != mofs(8), "kv inputs: same seed, same checksum")
      Gen.writeMofs(spark, 7, 5000, 8, s"$work/mofs")
      val fromFiles = spark.read.format("graft-ifile").load(s"$work/mofs").rdd.mapPartitions { rs =>
        Iterator(Checks.checkPartition(rs.map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))).sum)
      }.fold(Checks.Sum.zero)(_ + _)
      expect(fromFiles == mofs(7), "kv inputs: files hold the generator's records")

      def docs(seed: Long) = Checks.digest(Gen.docs(spark, seed, 400))
      expect(docs(7) == docs(7) && docs(7) != docs(8), "dedup corpus: same seed, same checksum")

      def star(seed: Long, tag: String): Seq[Checks.Sum] = {
        Gen.writeStarSchema(spark, seed, 0.01, s"$work/star-$tag")
        Gen.StarTables.map(t => Checks.digest(spark.read.parquet(s"$work/star-$tag/$t.parquet")))
      }
      val (a, a2, c) = (star(7, "a"), star(7, "b"), star(8, "c"))
      expect(a == a2 && a != c, "query_mix tables: same seed, same checksums")
      println("selftest passed")
    } finally spark.stop()
  }
}
