package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}

import graft.dedup.{Clusters, Dedup}

/** Connected-components clustering over near-dup pairs. Every case runs
  * on both paths: the default bound (small graphs finish on the driver)
  * and `localFinishEdges = 0` (the distributed star loop to its
  * fixpoint). */
class ClustersSpec extends SparkSuite {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def fixturePairs(): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, sfDir), "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9)

  private def longLabels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Runs `body` and returns its value and the Spark jobs it started. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerAccess.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Both paths' output of `connectedComponents`, checked identical in
    * rows and schema; returns the sorted rows. */
  private def bothPaths(edges: DataFrame, maxIter: Int = 25): Seq[Row] = {
    val local = Clusters.connectedComponents(edges, "a", "b", maxIter)
    val loop = Clusters.connectedComponents(edges, "a", "b", maxIter,
      localFinishEdges = 0)
    assert(local.schema == loop.schema)
    val (l, d) = (local.collect().toSeq, loop.collect().toSeq)
    assert(l.sortBy(_.toString) == d.sortBy(_.toString))
    l.sortBy(_.toString)
  }

  private val paths = Seq("" -> Clusters.LocalFinishEdges, " (star loop)" -> 0L)

  for ((path, bound) <- paths) {
    test(s"multi-hop chain collapses to one component$path") {
      // path graph 1-2-3-...-10 plus an isolated pair: needs label
      // propagation across 9 hops, not just clique shortcuts
      val edges = ((1L to 9L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("a", "b")
      val cc = longLabels(Clusters.connectedComponents(edges, "a", "b",
        localFinishEdges = bound))
      (1L to 10L).foreach(i => assert(cc(i) == 1L, s"node $i got ${cc(i)}"))
      assert(cc(100L) == 100L && cc(101L) == 100L)
    }

    test(s"components match driver-side union-find on fixture minhash pairs$path") {
      val pairs = fixturePairs()
      val edges = pairs.select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(edges.nonEmpty, "fixture produced no near-dup pairs")
      val got = longLabels(Clusters.connectedComponents(
        pairs.toDF(), "doc_a", "doc_b", localFinishEdges = bound))
      assert(got == unionFind(edges))
    }

    test(s"string ids cluster too (no silent numeric cast)$path") {
      val edges = Seq(("doc-a", "doc-b"), ("doc-b", "doc-c"), ("x", "y"))
        .toDF("a", "b")
      val cc = Clusters.connectedComponents(edges, "a", "b", localFinishEdges = bound)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
        "doc-c" -> "doc-a", "x" -> "x", "y" -> "x"), cc.toString)
    }

    test(s"one label per node even when maxIter stops before the fixpoint$path") {
      // a 12-node path with maxIter=1: the star rounds cannot finish, but
      // the output must still be WELL-FORMED (exactly one row per node)
      val edges = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
      val cc = Clusters.connectedComponents(edges, "a", "b", maxIter = 1,
        localFinishEdges = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(cc.map(_._1).distinct.length == cc.length,
        s"duplicate node labels: ${cc.mkString(",")}")
      assert(cc.map(_._1).toSet == (1L to 12L).toSet)
    }

    test(s"dupClusters sizes are consistent$path") {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val rows = Clusters.dupClusters(edges, "a", "b", localFinishEdges = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSet == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
        (10L, 10L, 2L), (11L, 10L, 2L)))
    }

    test(s"keepBest keeps the highest-score member; singletons keep themselves$path") {
      val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (10L, 7L), (11L, 3L),
        (99L, 1L)).toDF("doc_id", "score")
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val rows = Clusters.keepBest(docs, "doc_id", edges, "a", "b", "score",
        localFinishEdges = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      // cluster {1,2,3}: 2 and 3 tie on score 50 -> lower id 2 wins;
      // cluster {10,11}: 10 wins on score; 99 is a singleton keeper
      assert(rows == Set((1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
        (10L, 10L, true), (11L, 10L, false), (99L, 99L, true)))
    }

    test(s"keepBest emits exactly one keeper per cluster on fixture pairs$path") {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, sfDir)
      val kb = Clusters.keepBest(docs.select(col("doc_id"), col("n_chars")),
        "doc_id", fixturePairs(), "doc_a", "doc_b", "n_chars",
        localFinishEdges = bound)
      assert(kb.count() == docs.count(), "every doc must be labeled")
      val perCluster = kb.groupBy("cluster_id")
        .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
      assert(perCluster.filter(col("keepers") =!= 1).count() == 0)
    }
  }

  test("seeded random graphs: both paths equal union-find") {
    val rnd = new Random(42)
    (0 until 6).foreach { g =>
      val n = 20 + rnd.nextInt(60)
      val chain = (0 until n / 3).map(i => (i.toLong, i + 1L))
      val star = (1 to n / 4).map(i => (1000L, 1000L + i))
      val noise = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val dupAndReversed = noise.take(n / 5).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val selfPairs = Seq.fill(4)(rnd.nextInt(3 * n).toLong + 5000L).map(x => (x, x))
      val edges = rnd.shuffle(chain ++ star ++ noise ++ dupAndReversed ++ selfPairs)
      val got = bothPaths(edges.toDF("a", "b")).map(r => r.getLong(0) -> r.getLong(1))
      assert(got.toMap == unionFind(edges), s"graph $g")
      assert(got.length == got.map(_._1).distinct.length, s"graph $g")
    }
  }

  test("mid-loop handoff: bound between the first and the fixpoint edge count") {
    // 3 dense random components over 40 ids each: several hundred
    // oriented edges at round 1, (nodes - components) at the fixpoint
    val rnd = new Random(7)
    val edges = (0 until 3).flatMap { c =>
      Seq.fill(200)((c * 100L + rnd.nextInt(40), c * 100L + rnd.nextInt(40)))
    }.toDF("a", "b")
    val first = edges.filter($"a" =!= $"b")
      .selectExpr("greatest(a, b) AS u", "least(a, b) AS v").distinct().count()
    val run = (bound: Long) => countingJobs(Clusters.connectedComponents(
      edges, "a", "b", localFinishEdges = bound).collect().toSeq.sortBy(_.toString))
    val (local, localJobs) = run(Clusters.LocalFinishEdges)
    val fixpoint = local.length - local.map(_.getLong(1)).distinct.length
    assert(first > fixpoint + 1, s"first $first, fixpoint $fixpoint")
    val (handoff, handoffJobs) = run((first + fixpoint) / 2)
    val (loop, loopJobs) = run(0L)
    assert(handoff == loop && local == loop)
    assert(localJobs < handoffJobs && handoffJobs < loopJobs,
      s"jobs: local $localJobs, handoff $handoffJobs, loop $loopJobs")
  }

  test("empty edge set and null ends") {
    assert(bothPaths(Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
    val withNulls = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null),
      (null, null), (5L, null), (null, 5L), (7L, 7L)).toDF("a", "b")
    assert(bothPaths(withNulls).map(r => (r.get(0), r.get(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (5L, 5L), (7L, 7L), (null, null)))
  }

  test("string ids: comp is the minimum under Spark's UTF-8 byte order") {
    // U+FF61 sorts AFTER U+1F600 under String.compareTo (UTF-16 code
    // units 0xFF61 vs the 0xD83D surrogate) but BEFORE it in UTF-8
    assert("｡".compareTo("😀") > 0)
    val edges = Seq(("😀", "｡"), ("b", "a")).toDF("a", "b")
    val rows = bothPaths(edges).map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("😀" -> "｡", "｡" -> "｡", "a" -> "a", "b" -> "a"), rows.toString)
  }

  test("a local result above 2^16 rows (packed UnsafeRow frame) equals the star loop's") {
    // 40,000 disjoint string edges plus a null end: 80,002 rows, past
    // the local-relation size, so the driver finish ships packed bytes
    val edges = ((0 until 40000).map(i => (s"a$i", s"b$i")) :+ (("c", null: String)))
      .toDF("a", "b")
    val rows = bothPaths(edges)
    assert(rows.length == 80002)
    assert(rows.contains(Row("b7", "a7")) && rows.contains(Row(null, null)))
  }

  /** Storage ids once the ContextCleaner has dropped the RDDs earlier
    * tests left unreferenced: otherwise a GC inside the measured call
    * can shrink the set and fail the comparison for a reason that is
    * not the call's. */
  private def settledStorage(): Set[Int] = {
    def ids() = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    var prev = Set.empty[Int]
    var cur = ids()
    var tries = 0
    while (cur != prev && tries < 20) {
      prev = cur
      System.gc()
      Thread.sleep(250)
      cur = ids()
      tries += 1
    }
    cur
  }

  test("local finish: at most 4 jobs over checkpointed pairs, no checkpoint left behind") {
    val sc = spark.sparkContext
    val pairs = fixturePairs().localCheckpoint()
    val before = settledStorage()
    val (rows, jobs) = countingJobs(
      Clusters.connectedComponents(pairs, "doc_a", "doc_b").collect())
    assert(rows.nonEmpty)
    assert(jobs <= 4, s"connected components started $jobs jobs")
    assert(sc.getRDDStorageInfo.map(_.id).toSet == before)
  }
}
