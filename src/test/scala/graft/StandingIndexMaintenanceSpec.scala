package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.{Committed, StandingIndex}

/** Pins the MAINTENANCE contract of the standing indexes (VERDICT r14
  * items 1-4): appends commit atomically via the stage + hard-link +
  * pointer-flip protocol (a crash at ANY step neither loses nor
  * duplicates rows — the r14 wrong-answer path), compaction bounds the
  * per-bucket file count without changing answers or plan shape, and gc
  * reclaims superseded generations + content-tag-orphaned roots without
  * ever touching serving state. */
class StandingIndexMaintenanceSpec extends SparkSuite {

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  private def freshRoot(name: String, prefix: String): String = {
    val root = StandingIndex.standingRoot + "/" + name
    deleteRec(new File(root))
    // name reuse across sbt-test JVM runs: drop stale catalog entries
    spark.catalog.listTables().collect().filter(_.name.startsWith(prefix))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    root
  }

  private def docs = Tables.documents(spark, sfDir)
  private def batch = docs.filter(col("doc_id") % 5 === 0)
  private def slice(ms: Int*) = docs.filter((col("doc_id") % 5).isin(ms: _*))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The monolithic persisted index's answer — what any maintained
    * index over the same corpus must serve, exactly. */
  private lazy val expectedPairs: Set[(Long, Long, Double)] =
    pairs(SparkEntry.queries("q_dedup_incremental_near")(spark, sfDir))

  private def serve(root: String, prefix: String) =
    StandingIndex.serveNearDup(spark,
      StandingIndex.ndCurrent(spark, root, prefix), batch, 0.9)

  private def countOccurrences(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  private def parquetFiles(dir: File): Int = {
    def walk(f: File): Int =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(dir)
  }

  test("append crash-injection: committed generation keeps serving; " +
      "retry neither loses nor duplicates rows") {
    val prefix = "graft_test_crash_nd"
    val root = freshRoot("test_crash_nd", prefix)
    try {
      // base-build crash BEFORE the pointer flip: nothing was ever
      // committed, the root is garbage by protocol
      Committed.crashHook =
        p => if (p == "before_commit") throw new RuntimeException("boom")
      intercept[RuntimeException] {
        StandingIndex.ndEnsureBase(spark, root, prefix, slice(1, 2), "t")
      }
      assert(Committed.currentGen(root).isEmpty,
        "a crash before the flip must leave nothing committed")
      Committed.crashHook = _ => ()
      StandingIndex.ndEnsureBase(spark, root, prefix, slice(1, 2), "t")
      assert(Committed.currentGen(root).contains(0))
      val baseAnswer = pairs(serve(root, prefix))

      // crash the APPEND at every protocol point: the pointer must not
      // move and generation 0 must keep serving its exact answer
      for (point <- Seq("staged_bands", "staged_members",
          "staged_increment", "before_commit")) {
        Committed.crashHook =
          p => if (p == point) throw new RuntimeException(s"boom@$point")
        intercept[RuntimeException] {
          StandingIndex.ndAppend(spark, root, prefix, slice(3, 4), "t")
        }
        Committed.crashHook = _ => ()
        assert(Committed.currentGen(root).contains(0),
          s"crash at $point must not move the pointer")
        assert(pairs(serve(root, prefix)) == baseAnswer,
          s"crash at $point changed the committed generation's answer")
      }

      // the clean retry commits; the maintained index answers exactly
      // like the monolithic one — nothing lost, nothing duplicated
      StandingIndex.ndAppend(spark, root, prefix, slice(3, 4), "t")
      assert(Committed.currentGen(root).contains(1))
      val served = serve(root, prefix).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(served.length == served.distinct.length,
        "duplicate output pairs — the r14 wrong-answer path")
      assert(served.toSet == expectedPairs,
        s"maintained serve diverges after crashed retries: " +
          s"extra=${served.toSet -- expectedPairs}, " +
          s"missing=${expectedPairs -- served.toSet}")
      // index-level integrity: every corpus doc appears exactly once in
      // the members table (a re-appended increment would double it)
      val idx = StandingIndex.ndCurrent(spark, root, prefix)
      assert(spark.table(idx.members).groupBy("id").count()
        .filter(col("count") > 1).count() == 0,
        "a doc appears twice in members after crashed retries")
    } finally Committed.crashHook = _ => ()
  }

  test("k appends then compaction: same answer, one file set per " +
      "bucket, serve plan shape preserved") {
    val prefix = "graft_test_multi_nd"
    val root = freshRoot("test_multi_nd", prefix)
    StandingIndex.ndEnsureBase(spark, root, prefix, slice(1), "t")
    for (m <- Seq(2, 3, 4))
      StandingIndex.ndAppend(spark, root, prefix, slice(m), "t")
    val preCompact = serve(root, prefix)
    assert(pairs(preCompact) == expectedPairs,
      "three appends must serve the monolithic answer")
    val preCompactExchanges = countOccurrences(
      preCompact.queryExecution.executedPlan.toString, "Exchange")
    // accretion evidence: 4 generation writes have piled up multiple
    // file sets per bucket (8 buckets per table)
    val g = Committed.currentGen(root).get
    val bandsBefore = parquetFiles(new File(s"$root/g$g/bands"))
    assert(bandsBefore > 8,
      s"expected accreted file sets before compaction, saw $bandsBefore")
    StandingIndex.ndCompact(spark, root, prefix, "t")
    val gc = Committed.currentGen(root).get
    assert(gc == g + 1, "compaction must commit a fresh generation")
    for (t <- Seq("bands", "members", "shingles")) {
      val n = parquetFiles(new File(s"$root/g$gc/$t"))
      assert(n <= 8, s"compacted $t still has $n files (> 1 per bucket)")
    }
    val compacted = serve(root, prefix)
    assert(pairs(compacted) == expectedPairs,
      "compaction changed the served answer")
    // plan-shape parity before vs after compaction: the rewrite must
    // preserve the bucket contract (a lost bucket spec would surface as
    // an extra index-side Exchange in the serve plan)
    val comp = compacted.queryExecution.executedPlan.toString
    assert(countOccurrences(comp, "Exchange") == preCompactExchanges,
      s"compaction changed the serve plan's exchange count " +
        s"(was $preCompactExchanges):\n$comp")
  }

  test("gc removes stale generations and orphaned roots, never serving state") {
    val prefix = "graft_test_gc_nd"
    val root = freshRoot("test_gc_nd", prefix)
    StandingIndex.ndEnsureBase(spark, root, prefix, slice(1, 2), "t")
    StandingIndex.ndAppend(spark, root, prefix, slice(3, 4), "t")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    // keep the root alive (fresh last-used) but age its superseded g0
    Files.write(new File(root, "_GRAFT_LAST_USED").toPath,
      System.currentTimeMillis().toString.getBytes("UTF-8"))
    assert(new File(root, "g0").setLastModified(old))
    // a content-tag-orphaned root: last use 10 days ago
    val orphan = new File(StandingIndex.standingRoot, "nd_deadbeef00")
    orphan.mkdirs()
    Files.write(new File(orphan, "_GRAFT_LAST_USED").toPath,
      old.toString.getBytes("UTF-8"))
    val (gens, roots) =
      Committed.gc(7L * 24 * 3600 * 1000, StandingIndex.standingRoot)
    assert(gens >= 1, "the aged superseded generation must be collected")
    assert(roots >= 1, "the orphaned root must be collected")
    assert(!new File(root, "g0").exists(), "superseded g0 survived gc")
    assert(new File(root, "g1").exists(), "gc touched the current generation")
    assert(!orphan.exists(), "orphaned root survived gc")
    assert(pairs(serve(root, prefix)) == expectedPairs,
      "gc broke the serving generation")
  }

  test("ivf append: crash-safe; appended vectors replicated into top-2 " +
      "cells, standing cells untouched, drift recorded") {
    val t = Committed.tag(sfDir, "embeddings")
    val root = StandingIndex.standingRoot + "/iva_" + t
    deleteRec(new File(root))
    try {
      Committed.crashHook = p =>
        if (p == "staged_increment") throw new RuntimeException("boom")
      intercept[RuntimeException] {
        SparkEntry.queries("q_ann_index_append")(spark, sfDir).collect()
      }
      Committed.crashHook = _ => ()
      assert(Committed.currentGen(root).contains(0),
        "crash during the staged append must leave generation 0 committed")
      val rows = SparkEntry.queries("q_ann_index_append")(spark, sfDir).collect()
      assert(Committed.currentGen(root).contains(1))
      assert(rows.nonEmpty, "appended index must serve on the fixture")
      // no duplicate (qid, nid) in the ranked output (a replicated
      // vector meeting a query in two probed cells must collapse)
      val byQ = rows.groupBy(_.getLong(0))
      byQ.foreach { case (qid, rs) =>
        assert(rs.length <= 5, s"qid $qid: more than k rows")
        assert(rs.map(_.getLong(1)).distinct.length == rs.length,
          s"qid $qid: duplicate neighbor from cell replication")
        assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length),
          s"qid $qid: rank numbers must be 1..k")
      }
      // index-level integrity after the crashed retry: each standing
      // vector assigned exactly once, each appended vector exactly
      // AppendReplicas (= 2) times, probes never stored
      val asg = spark.read.parquet(s"$root/g1/assignments")
      val counts = asg.groupBy("nid").count()
      assert(counts.filter((col("nid") % 5).isin(1, 2) &&
        col("count") =!= 1).count() == 0,
        "a standing vector is not assigned exactly once")
      assert(counts.filter((col("nid") % 5).isin(3, 4) &&
        col("count") =!= 2).count() == 0,
        "an appended vector is not replicated into exactly 2 cells")
      assert(counts.filter(col("nid") % 5 === 0).count() == 0,
        "a probe vector leaked into the index")
      // the append-induced centroid drift is recorded for the artifact
      assert(StandingIndex.statsLog.keys.exists(_.endsWith("drift_max")),
        "append must record centroid drift")
    } finally Committed.crashHook = _ => ()
  }

  test("persisted LSH serve: zero corpus re-scan, output equals the " +
      "transient bounded path") {
    val df = SparkEntry.queries("q_ann_lsh_big_persisted")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the standing corpus appears NOWHERE in the serve plan: the query
    // batch is a checkpoint (ExistingRDD), everything else reads the
    // persisted posting/vector tables
    assert(countOccurrences(p, "embeddings.parquet") == 0,
      s"persisted LSH serve must not re-scan the corpus:\n$p")
    assert(p.contains("/bands") && p.contains("/vecs"),
      s"serve must read the persisted band + vector tables:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the query batch must come from the one checkpoint:\n$p")
    // differential: bit-identical to the transient bounded path over
    // the same (queries, standing corpus) split — the two paths share
    // the band/rank/re-rank code verbatim, so any drift is a bug
    val e = Tables.embeddings(spark, sfDir)
    val transient = graft.similarity.Ann.lshTopKBounded(
      e.filter(col("vec_id") % 5 === 0), e.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", k = 5, dim = 64)
    def asSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asSet(df) == asSet(transient),
      "persisted serve diverged from the transient bounded path")
  }

  test("build-only index: a crash before the commit leaves nothing " +
      "servable; the re-run serves the monolithic answer") {
    val t = Committed.tag(sfDir, "documents")
    val root = s"${StandingIndex.standingRoot}/nd_$t"
    val expected = expectedPairs // forced before the root is cleared
    freshRoot(s"nd_$t", s"graft_nd_$t")
    try {
      for (point <- Seq("staged_bands", "staged_members", "before_commit")) {
        Committed.crashHook =
          p => if (p == point) throw new RuntimeException(s"boom@$point")
        intercept[RuntimeException] {
          SparkEntry.queries("q_dedup_incremental_near")(spark, sfDir).collect()
        }
        assert(Committed.currentGen(root).isEmpty,
          s"a crash at $point must leave nothing committed")
      }
    } finally Committed.crashHook = _ => ()
    assert(pairs(SparkEntry.queries("q_dedup_incremental_near")(spark, sfDir))
      == expected, "the re-run after crashed builds diverges from the monolithic answer")
    assert(Committed.currentGen(root).contains(0))
  }

  test("a legacy marker-layout root is swept and rebuilt") {
    val t = Committed.tag(sfDir, "documents")
    val root = s"${StandingIndex.standingRoot}/nd_$t"
    val expected = expectedPairs // forced before the root is cleared
    freshRoot(s"nd_$t", s"graft_nd_$t")
    // the pre-pointer layout: tables at the root behind a marker that
    // claims a finished build — here over a torn bands table
    val torn = new File(root, "bands/part-00000-torn.c000.snappy.parquet")
    torn.getParentFile.mkdirs()
    Files.write(torn.toPath, "torn".getBytes("UTF-8"))
    Files.write(new File(root, "_GRAFT_NDIDX_v1").toPath, "1.000".getBytes("UTF-8"))
    assert(pairs(SparkEntry.queries("q_dedup_incremental_near")(spark, sfDir))
      == expected, "the legacy root was served instead of rebuilt")
    assert(!new File(root, "_GRAFT_NDIDX_v1").exists() &&
      !new File(root, "bands").exists(), "the legacy layout survived the rebuild")
    assert(Committed.currentGen(root).contains(0))
  }
}
