package graft

import org.apache.spark.sql.functions._
import graft.queries.Analytics

/** Invariant + plan-shape tests for the Analytics module (histogram, stats,
  * arg-max, sequence analysis, SCD2, fuzzy match, normalized dedup).
  * Value-level correctness is the DuckDB oracle's job; these assert the
  * internal consistency properties and the at-scale plan shapes. */
class AnalyticsSpec extends SparkSuite {

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("label-prop packed argmax: n = 2^31 - 1 decodes, n = 2^31 raises") {
    import spark.implicits._
    def argmax(rows: Seq[(Int, Int, Long)]) =
      rows.toDF("src", "label", "n").groupBy("src")
        .agg(Analytics.argmaxLabel(col("n"), col("label")).as("label"))
        .orderBy("src").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val top = (1L << 31) - 1
    // n desc first, then label asc; the boundary n must not wrap
    assert(argmax(Seq((1, 7, top), (1, 3, top - 1), (2, 9, 2L), (2, 4, 2L),
      (2, 0, 1L), (3, Int.MaxValue, top), (3, 0, 5L))) ==
      Seq((1, 7), (2, 4), (3, Int.MaxValue)))
    val e = intercept[Exception](argmax(Seq((1, 7, 1L << 31))))
    assert(e.getMessage.contains("exceeds 2^31 - 1"), e.getMessage)
  }

  test("funnel stages are monotonically non-increasing") {
    val r = q("q_funnel").collect().head
    val (s, sv, f) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(s >= sv && sv >= f, s"funnel not monotone: $s $sv $f")
    assert(s > 0, "no signups in fixture")
  }

  test("transitions conserve events: sum(n) = events - users-with-events") {
    val total = q("q_transitions").agg(sum("n")).collect().head.getLong(0)
    val ev = Tables.events(spark, sfDir)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    // each user contributes (events_u - 1) transitions
    assert(total == nEvents - nUsers, s"$total != $nEvents - $nUsers")
  }

  test("scd2 history: exactly one current version per user, no overlap") {
    val h = q("q_scd2").cache()
    try {
      val perUser = h.groupBy("user_id")
        .agg(sum(when(col("is_current"), 1).otherwise(0)).as("cur"))
      assert(perUser.filter(col("cur") =!= 1).count() == 0,
        "every user must have exactly one open version")
      // versions chain: each non-current valid_to equals some valid_from
      val dangling = h.filter(!col("is_current"))
        .join(h.select(col("user_id").as("u2"), col("valid_from").as("vf2")),
          col("user_id") === col("u2") && col("valid_to") === col("vf2"),
          "left_anti")
      assert(dangling.count() == 0, "closed version with no successor")
    } finally h.unpersist()
  }

  test("fuzzy join emits only in-block pairs within distance 2") {
    val rows = q("q_fuzzy_join").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("key_a") < r.getAs[Long]("key_b"))
      assert(r.getAs[Int]("dist") <= 2)
    }
  }

  test("fuzzy join: composite block key loses no pairs and bounds blocks " +
       "on a single-size skewed fixture") {
    import spark.implicits._
    // worst case for size-only blocking: EVERY row shares one p_size, with
    // names spread over lengths 5..84 — the length band must both keep
    // recall (pigeonhole: dist<=2 pairs differ by <=2 chars) and split the
    // single size block into bounded pieces
    val names = (0 until 400).map { i =>
      val base = ("x" * (5 + (i % 80))) // lengths 5..84
      val mutated = if (i % 3 == 0) base.dropRight(1) + "yz" else base
      (i.toLong, mutated, 7)
    }
    val p = names.toDF("p_partkey", "p_name", "p_size")

    val blocked = Analytics.fuzzyJoin(p)
      .select("key_a", "key_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
      col("p_size").as("size"))
    val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"),
      col("p_size").as("size"))
    val brute = a.join(b, "size").filter(col("key_a") < col("key_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select("key_a", "key_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    assert(brute.nonEmpty, "fixture produced no fuzzy pairs")
    assert(blocked == brute,
      s"composite blocking changed the result: missing=${brute -- blocked} extra=${blocked -- brute}")

    // block-size bound: the biggest (size, band) block must be a fraction
    // of the single-size population the old key would have put in ONE block
    val maxBlock = p
      .groupBy(col("p_size"), floor(length(col("p_name")) / 8).as("band"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect().head.getLong(0)
    assert(maxBlock <= names.size / 4,
      s"length banding failed to split the hot size block: max block $maxBlock of ${names.size}")
  }

  test("interp windows use running frames only (no O(n^2) following frame)") {
    val plan = q("q_interp").queryExecution.executedPlan.toString
    // a [current, unbounded following] frame makes WindowExec recompute
    // the aggregate per row — 350 s vs 0.6 s at sf0.1; the forward anchor
    // must come from the descending-order running frame instead
    assert(!plan.toLowerCase.contains("unboundedfollowing"),
      s"q_interp regressed to an unbounded-following frame:\n$plan")
    assert(plan.contains("windowspecdefinition(event_type"),
      s"interp windows must be partitioned by the series key:\n$plan")
  }

  test("normalized dedup groups list their canonical member first") {
    q("q_dedup_norm").collect().foreach { r =>
      val members = r.getAs[String]("members").split(",").map(_.toLong)
      assert(members.length == r.getAs[Long]("n"))
      assert(members.min == r.getAs[Long]("canonical"))
      assert(members.sorted.sameElements(members), "members must be sorted")
    }
  }

  test("argmax: broadcast dim join, partial+final agg, one exchange") {
    val p = q("q_argmax").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // max_by over a struct carries a struct buffer -> SortAggregate
    // (partial+final); the fact still shuffles exactly once, on the group key
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"), p)
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(shuffles == 1, s"expected one shuffle exchange:\n$p")
  }

  test("containment is a superset of symmetric jaccard pairs (directed)") {
    val jac = q("q_dedup_minhash").select("doc_a", "doc_b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    val cont = q("q_containment").select("inner_doc", "outer_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // J >= t implies I/|A| >= t for both directions
    assert(jac.subsetOf(cont),
      s"missing directed pairs: ${(jac -- cont).take(5)}")
  }

  test("gap fill: dense contiguous spine, forward-filled values") {
    val rows = q("q_gap_fill").collect()
    assert(rows.nonEmpty)
    val ms = rows.map(_.getAs[String]("m")).sorted
    assert(ms.distinct.length == ms.length, "duplicate spine minutes")
    // after the first observed value nothing is null
    rows.sortBy(_.getAs[String]("m")).dropWhile(_.isNullAt(2))
      .foreach(r => assert(!r.isNullAt(2), "hole after first fill"))
    assert(rows.exists(_.getAs[Boolean]("was_gap")), "fixture should have gaps")
  }

  test("entropy is positive and bounded by log2(vocab)") {
    q("q_entropy").collect().foreach { r =>
      val h = r.getAs[Double]("entropy_bits")
      val vocab = r.getAs[Long]("vocab")
      assert(h > 0 && h <= math.log(vocab.toDouble) / math.log(2.0) + 1e-9,
        s"entropy $h out of range for vocab $vocab")
    }
  }

  test("MAD is positive and at most the max|x-median| spread") {
    q("q_mad").collect().foreach { r =>
      assert(r.getAs[Double]("mad_price") > 0)
      assert(r.getAs[Double]("median_price") > 0)
    }
  }

  test("packing: example ids are contiguous and token-bounded") {
    val rows = q("q_pack").collect().sortBy(_.getAs[Long]("doc_id"))
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val maxEx = rows.map(_.getAs[Long]("example_id")).max
    // last example id must match total token count / window
    assert(maxEx <= total / 4096, s"example id $maxEx beyond corpus $total")
    // example_id is non-decreasing in doc order and gapless
    val ids = rows.map(_.getAs[Long]("example_id"))
    ids.sliding(2).foreach { case Array(a, b) =>
      assert(b >= a, "example ids must be non-decreasing in doc order")
    }
    // no plan-level SinglePartition over the full data: the prefix scan
    // distributes via buckets (Prefix contract, asserted in PrefixSpec)
  }

  test("split assignment is total, deterministic, and ~80/10/10") {
    val counts = q("q_split_assign").groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > total * 7 / 10, s"train share too low: $counts")
    assert(counts("val") < total / 5 && counts("test") < total / 5, counts)
  }

  test("constraint report: one row per constraint, non-negative counts") {
    val rows = q("q_constraints").collect()
    assert(rows.length == 4)
    rows.foreach(r => assert(r.getAs[Long]("violations") >= 0))
  }

  test("winsorized mean clips ~10% of rows and stays within raw bounds") {
    q("q_winsorize").collect().foreach { r =>
      val share = r.getAs[Double]("clipped_share")
      assert(share > 0 && share <= 0.11, s"p05/p95 clip share: $share")
      assert(r.getAs[Double]("avg_winsorized") > 0)
    }
  }

  test("SQL front door honors broadcast hints: both dims broadcast") {
    val p = q("q_sql_front").queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), s"fact must never sort-merge:\n$p")
  }

  test("cached dimension is served from InMemoryRelation on reuse") {
    val dim = Tables.nation(spark, sfDir)
    dim.cache()
    try {
      dim.count() // materialize
      val cust = Tables.customer(spark, sfDir)
      val joined = cust.join(dim, cust("c_nationkey") === dim("n_nationkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert("(?i)inmemory|tablecache".r.findFirstIn(p).isDefined,
        s"reuse must hit the cache:\n$p")
    } finally dim.unpersist()
  }

  test("keyed gap fill plans only partitioned windows") {
    val plan = q("q_gap_fill_keyed").queryExecution.executedPlan.toString
    // the per-key spine kills the single-partition stage the global
    // variant documents: every Window here has a partition spec
    assert(!plan.contains("SinglePartition"),
      s"keyed gap fill must not funnel through one partition:\n$plan")
  }

  test("hapax ratio is a share of the vocabulary") {
    q("q_hapax").collect().foreach { r =>
      val ratio = r.getAs[Double]("hapax_ratio")
      assert(ratio >= 0 && ratio <= 1)
      assert(r.getAs[Long]("hapax") <= r.getAs[Long]("vocab"))
    }
  }

  test("source overlap is symmetric-ordered and bounded by 1") {
    val rows = q("q_source_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      val ov = r.getAs[Double]("overlap")
      assert(ov > 0 && ov <= 1, s"overlap out of range: $ov")
    }
  }

  test("null-safe join matches NULL buckets to each other") {
    val r = q("q_join_nullsafe").filter(col("bucket").isNull).collect()
    assert(r.length == 1, "expected exactly one NULL bucket row")
    assert(r.head.getAs[Long]("n_purchase") > 0,
      "NULL bucket must have joined purchase counts (null-safe semantics)")
  }
}
