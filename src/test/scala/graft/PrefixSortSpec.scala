package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.plans.PrefixSortExec
import graft.shuffle.KV

/** [[graft.plans.PrefixSort]] under `KV.mergeSorted`: a radix sort on the
  * binary key's 8-byte prefix plus tie repair must give exactly the
  * `bytes_compare` order of every partition — on the key shapes that
  * defeat a prefix (shared first 8 bytes, short keys, trailing zero
  * bytes, empty and null keys, duplicates) and through spills. */
class PrefixSortSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `bytes_compare`: unsigned bytes, then the shorter key first. */
  private val bytesOrder: Ordering[Array[Byte]] = (a, b) => {
    val n = math.min(a.length, b.length)
    var i = 0
    var d = 0
    while (d == 0 && i < n) { d = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
    if (d != 0) d else a.length - b.length
  }
  private val keyOrder: Ordering[Array[Byte]] = Ordering.fromLessThan((a, b) =>
    if (a == null) b != null else b != null && bytesOrder.lt(a, b))

  private def show(k: Array[Byte]) = if (k == null) "null" else k.mkString("[", ",", "]")

  /** Merges `kvs` into `n` partitions; checks every partition is a
    * key-sorted run, the union is a permutation and no key spans two
    * partitions; returns the merged dataset for plan checks. */
  private def checkMerge(kvs: Seq[(Array[Byte], Int)], n: Int): Dataset[(Array[Byte], Int)] = {
    val merged = KV.mergeSorted(spark.createDataset(kvs), n)
    val parts = merged.rdd.glom().collect()
    parts.foreach { p =>
      val ks = p.map(_._1)
      ks.zip(ks.drop(1)).foreach { case (a, b) =>
        assert(!keyOrder.lt(b, a), s"${show(a)} before ${show(b)}")
      }
    }
    def canon(s: Seq[(Array[Byte], Int)]) = s.map { case (k, v) => (show(k), v) }.sorted
    assert(canon(parts.flatten.toSeq) == canon(kvs), "not a permutation")
    val owners = parts.zipWithIndex.flatMap { case (p, i) => p.map(kv => show(kv._1) -> i) }
      .groupBy(_._1).values.map(_.map(_._2).distinct.length)
    assert(owners.forall(_ == 1), "a key split across partitions")
    merged
  }

  private def prefixExecs(ds: Dataset[_]): Seq[PrefixSortExec] =
    collect(ds.queryExecution.executedPlan) { case p: PrefixSortExec => p }

  test("binary keys: random keys with many shared prefixes sort exactly") {
    val rnd = new scala.util.Random(5)
    val heads = Seq.fill(5)(Array.fill[Byte](8)(rnd.nextInt(256).toByte))
    val kvs = Seq.tabulate(5000) { i =>
      val k =
        if (i % 3 == 0) heads(rnd.nextInt(5)) ++ Array.fill[Byte](rnd.nextInt(4))(rnd.nextInt(3).toByte)
        else Array.fill[Byte](rnd.nextInt(12))((rnd.nextInt(256) - 128).toByte)
      (k, i)
    }
    checkMerge(kvs, 7)
  }

  test("edge keys: short, trailing zero, empty, duplicate and null keys") {
    def b(xs: Int*) = xs.map(_.toByte).toArray
    val keys = Seq(b(0x61, 0x62, 0), b(0x61, 0x62), b(), b(0), b(0, 0, 0, 0, 0, 0, 0, 0),
      b(0, 0, 0, 0, 0, 0, 0, 0, 0), null, b(0x61), b(0xff), b(0x7f, 1), b(0x80),
      b(0x61, 0x62), b(), null, b(1, 2, 3, 4, 5, 6, 7, 8, 9), b(1, 2, 3, 4, 5, 6, 7, 8))
    val kvs = keys.zipWithIndex
    val merged = checkMerge(kvs, 1)
    // one partition: the whole key sequence is known
    val got = merged.collect().map(_._1).toSeq.map(show)
    assert(got == keys.sorted(keyOrder).map(show))
    assert(got.take(2) == Seq("null", "null"), s"nulls sort first: $got")
    assert(got.indexOf(show(b(0x61, 0x62))) < got.indexOf(show(b(0x61, 0x62, 0))),
      "\"ab\" sorts before \"ab\\0\"")
  }

  test("keys sharing their first 8 bytes take the spillable tie path") {
    val rnd = new scala.util.Random(11)
    val head = "ABCDEFGH".getBytes("UTF-8")
    // one partition holds every row: one tie run, longer than the heap cap
    val n = graft.plans.PrefixSort.MaxHeapRunRows * 2 + 17
    val kvs = Seq.tabulate(n)(i => (head ++ Array.fill[Byte](rnd.nextInt(3))(rnd.nextInt(4).toByte), i))
    val merged = checkMerge(kvs, 1)
    merged.collect()
    val execs = prefixExecs(merged)
    assert(execs.nonEmpty, s"no PrefixSortExec in\n${merged.queryExecution.executedPlan}")
    assert(execs.map(_.metrics("tieRows").value).sum == n)
  }

  test("plan shape: binary keys use PrefixSortExec, long keys keep SortExec") {
    val bin = KV.mergeSorted(spark.createDataset(Seq((Array[Byte](2), 1), (Array[Byte](1), 2))), 2)
    bin.collect()
    val binPlan = bin.queryExecution.executedPlan
    assert(prefixExecs(bin).length == 1, binPlan.toString)
    assert(collect(binPlan) { case s: SortExec => s }.isEmpty, binPlan.toString)
    assert(prefixExecs(bin).head.outputOrdering.map(_.child.dataType) ==
      Seq(org.apache.spark.sql.types.BinaryType))
    val long = KV.mergeSorted(spark.createDataset(Seq((2L, 1), (1L, 2))), 2)
    long.collect()
    val longPlan = long.queryExecution.executedPlan
    assert(prefixExecs(long).isEmpty, longPlan.toString)
    assert(collect(longPlan) { case s: SortExec => s }.length == 1, longPlan.toString)
  }

  test("a forced-spill session merges spilled runs exactly") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // every sorter spills each 300 rows: the main radix sorter merges
    // spill files by prefix, and the tie sorter spills too
    val s = SparkSession.builder()
      .config("spark.local.dir", LocalDirs.dir)
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "300")
      .getOrCreate()
    try {
      import s.implicits._
      val rnd = new scala.util.Random(23)
      val head = Array.fill[Byte](8)(7)
      val kvs = Seq.tabulate(20000) { i =>
        val k = i % 4 match {
          case 0 => head ++ Array.fill[Byte](rnd.nextInt(3))(rnd.nextInt(5).toByte)
          case 1 => Array.fill[Byte](rnd.nextInt(9))(rnd.nextInt(2).toByte)
          case _ => Array.fill[Byte](10)((rnd.nextInt(256) - 128).toByte)
        }
        (k, i)
      }
      val merged = KV.mergeSorted(s.createDataset(kvs), 2)
      val parts = merged.rdd.glom().collect()
      parts.foreach { p =>
        val ks = p.map(_._1)
        ks.zip(ks.drop(1)).foreach { case (a, b) =>
          assert(!keyOrder.lt(b, a), s"${show(a)} before ${show(b)}")
        }
      }
      assert(parts.map(_.length).sum == kvs.length)
      merged.collect()
      val execs = prefixExecs(merged)
      assert(execs.map(_.metrics("spillSize").value).sum > 0, "nothing spilled")
      assert(execs.map(_.metrics("tieRows").value).sum >= 5000)
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
