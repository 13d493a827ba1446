package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's self-protection: a re-run that measured less
  * than the round's existing record (different sf, fewer measured
  * legs, more truncation) must be quarantined to the quick path, not
  * promoted. Pure file logic — no Spark session. */
class BenchArtifactSpec extends AnyFunSuite {

  private def artifact(sf: String, legs: Int, trunc: Int): String = {
    val legStr = (1 to legs).map(i =>
      s""""q$i": {"sf01_sec":1.0,"sf1_sec":${i * 1.0}}""").mkString(",")
    val truncStr = (1 to trunc).map(i =>
      s""""t$i": {"sf01_sec":1.0,"sf1_sec":null,"budget_truncated":true}""")
      .mkString(",")
    s"""{"sf": "$sf", "queries": {$legStr${if (trunc > 0) "," + truncStr else ""}}}"""
  }

  private def withFiles(cur: String, prev: String)(
      f: (Path, Path, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-artifact-spec")
    try {
      val a = dir.resolve("bench_full.json")
      val s = dir.resolve("bench_full.prev.json")
      val q = dir.resolve("bench_quick.json")
      Files.write(a, cur.getBytes("UTF-8"))
      Files.write(s, prev.getBytes("UTF-8"))
      f(a, s, q)
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
    }
  }

  test("fewer measured legs than the snapshot is quarantined and restored") {
    val full = artifact("sf0.1", legs = 20, trunc = 0)
    val smoke = artifact("sf0.1", legs = 2, trunc = 0)
    withFiles(smoke, full) { (a, s, q) =>
      Bench.quarantineIfWorse(a, s, q)
      assert(new String(Files.readAllBytes(a), "UTF-8") == full,
        "the full-budget record must be restored")
      assert(Files.exists(q), "the lesser run must survive at the quick path")
      assert(new String(Files.readAllBytes(q), "UTF-8") == smoke)
    }
  }

  test("a different scale factor never replaces the record") {
    val full = artifact("sf0.1", legs = 4, trunc = 20)
    val dev = artifact("sf0.01", legs = 10, trunc = 0)
    withFiles(dev, full) { (a, s, q) =>
      Bench.quarantineIfWorse(a, s, q)
      assert(new String(Files.readAllBytes(a), "UTF-8") == full)
      assert(Files.exists(q))
    }
  }

  test("equal legs with more truncation is quarantined") {
    val full = artifact("sf0.1", legs = 8, trunc = 1)
    val rerun = artifact("sf0.1", legs = 8, trunc = 5)
    withFiles(rerun, full) { (a, s, q) =>
      Bench.quarantineIfWorse(a, s, q)
      assert(new String(Files.readAllBytes(a), "UTF-8") == full)
    }
  }

  test("a better or equal run is promoted (no restore)") {
    val old = artifact("sf0.1", legs = 4, trunc = 20)
    val better = artifact("sf0.1", legs = 24, trunc = 0)
    withFiles(better, old) { (a, s, q) =>
      Bench.quarantineIfWorse(a, s, q)
      assert(new String(Files.readAllBytes(a), "UTF-8") == better,
        "a fuller run must stay canonical")
      assert(!Files.exists(q))
    }
  }

  test("missing snapshot is a no-op") {
    val dir = Files.createTempDirectory("graft-artifact-spec")
    try {
      val a = dir.resolve("bench_full.json")
      Files.write(a, artifact("sf0.1", 2, 0).getBytes("UTF-8"))
      Bench.quarantineIfWorse(a, dir.resolve("nope.json"),
        dir.resolve("quick.json"))
      assert(Files.exists(a))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
    }
  }

  // Format-drift guard (r11 ADVICE): the quarantine's stats extraction
  // runs against a REAL writeFullArtifact-produced artifact — the
  // newest committed round record — so a field rename or restructure in
  // writeFullArtifact breaks this test instead of silently disarming
  // the quarantine (which fails open). Skipped only if no round
  // artifact exists yet (fresh clone before any bench run).
  test("stats extraction reads a real round artifact") {
    val repo = java.nio.file.Paths.get("").toAbsolutePath // the checkout
    val arts = Files.list(repo).iterator().asInstanceOf[java.util.Iterator[Path]]
    val real = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (arts.hasNext) {
        val p = arts.next()
        if (p.getFileName.toString.matches("bench_full_r\\d+\\.json")) buf += p
      }
      buf.sortBy(_.getFileName.toString).lastOption
    }
    assume(real.nonEmpty, "no bench_full_rNN.json yet - run the bench once")
    val s = Bench.artifactStats(real.get)
    assert(s.sf.startsWith("sf"),
      s"top-level sf label not found in ${real.get}: got '${s.sf}'")
    assert(s.measuredLegs > 0,
      s"no numeric sf1_sec/sf3_sec legs found in ${real.get} - " +
        "writeFullArtifact's field names drifted from artifactStats")
  }

  // r16: the one-line JSON's printed set is FIXED (PERF_r15 reported
  // phantom dropped_from_bench when "top 60 by time" churned with
  // window noise). Pin the three load-bearing properties.
  test("printed set is registered, covers the r15 printed set, fits the tail capture") {
    val registered = SparkEntry.queries.keySet
    val unknown = Bench.PrintedQueries.filterNot(registered)
    assert(unknown.isEmpty, s"printed-but-unregistered: $unknown")
    assert(Bench.PrintedQueries.distinct.size == Bench.PrintedQueries.size)
    // every query the r15 artifact printed must stay printed, or the
    // next PERF diff manufactures a drop
    val r15 = Seq("q_triangles", "q_pipeline_report", "q_ann_lsh_big",
      "q_label_prop", "q_pagerank", "q_pipeline_full",
      "q_ann_lsh_big_persisted", "q_dedup_keep_best", "q_split_leakage_safe",
      "q_dup_clusters", "q_dedup_pipeline", "q_dedup_embed", "q_bm25",
      "q_compact", "q_dedup_semantic", "q_source_overlap", "q_dedup_minhash",
      "q_join_or", "q_profile", "q_kmeans", "q_winsorize", "q_mad",
      "q_containment", "q_concurrency", "q_bucket_join", "q_zorder",
      "q_interp", "q_ann_ivf", "q_ngram_jaccard", "q_ann_index_append",
      "q_ewma", "q_events_pipeline", "q_contamination", "q_join_salted",
      "q_span_dedup", "q_ifile_compressed", "q_dpp", "q_percentile",
      "q_lm_surprisal", "q_gap_fill_keyed", "q_repetition", "q_window_ntile",
      "q_running_global", "q_sql_front", "q1_agg", "q_ifile_roundtrip",
      "q_dedup_simhash", "q_checksum", "q_rollup", "q_index_append",
      "q_fuzzy_join", "q_join_bcast", "q_join_smj", "q_ann_persisted",
      "q_unpivot", "q_dedup_incremental_near", "q_agg_distinct",
      "q_window_frames", "q_rownum_global", "q_part_prune")
    val missing = r15.filterNot(Bench.PrintedQueries.contains)
    assert(missing.isEmpty, s"r15-printed queries gone from the set: $missing")
    // worst case: every value prints as 5 chars ("999.9")
    val worst = Bench.PrintedQueries.map(q => q.length + 9).sum + 250
    assert(worst < 2000, s"worst-case metric line $worst chars")
  }
}
