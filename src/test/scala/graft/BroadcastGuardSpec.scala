package graft

import org.apache.spark.sql.functions._

/** Pins the r13 vocabulary-broadcast policy ([[BroadcastGuard]]): a
  * dim table whose measured payload fits under half the ceiling
  * broadcasts; past it, the SAME join degrades to shuffle_hash and the
  * results are bit-identical — so the 100 TB vocabulary (Heaps-law
  * growth, billions of hapax tokens) can never walk the bm25 /
  * surprisal / tfidf family off Spark's 8 GB broadcast cliff. A policy
  * edit that breaks either side breaks this spec instead of surfacing
  * as a driver OOM at scale. */
class BroadcastGuardSpec extends SparkSuite {

  private def fixture = {
    val fact = spark.range(1000)
      .select((col("id") % 50).cast("string").as("tok"), col("id").as("v"))
    val dim = spark.range(50)
      .select(col("id").cast("string").as("tok"), (col("id") * 7).as("w"))
    (fact, dim)
  }

  test("under the ceiling the dim side broadcasts") {
    val (fact, dim) = fixture
    val p = fact.join(
        BroadcastGuard.dim(dim, length(col("tok")) + lit(8), "spec-dim"),
        "tok")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"small measured payload must take the broadcast path:\n$p")
  }

  test("past the ceiling the join degrades to shuffle_hash, same result") {
    val (fact, dim) = fixture
    val expected = fact.join(broadcast(dim), "tok")
      .collect().map(_.toString).sorted
    withConf(BroadcastGuard.MaxBytesKey, "16") {
      val guarded = fact.join(
        BroadcastGuard.dim(dim, length(col("tok")) + lit(8), "spec-dim"),
        "tok")
      val p = guarded.queryExecution.executedPlan.toString
      assert(p.contains("ShuffledHashJoin"),
        s"oversized dim must fall back to shuffle_hash:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"oversized dim must NOT broadcast:\n$p")
      assert(guarded.collect().map(_.toString).sorted.sameElements(expected),
        "fallback join must be result-identical to the broadcast join")
    }
  }

  test("Checkpoints.release drops a localCheckpoint's blocks; unpersist does not") {
    import org.apache.spark.sql.execution.LogicalRDD
    def rddId(df: org.apache.spark.sql.Dataset[_]): Int =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get
    def listed(id: Int): Boolean =
      spark.sparkContext.getRDDStorageInfo.exists(_.id == id)
    val p = spark.range(100).localCheckpoint()
    val id = rddId(p)
    assert(listed(id), "checkpoint blocks not in storage")
    // what the losing sizing pass used to do: the blocks stay pinned
    p.unpersist()
    assert(listed(id), "Dataset.unpersist now reaches checkpoints; simplify release")
    Checkpoints.release(p)
    assert(!listed(id), "released checkpoint still listed in storage")
  }

  test("a checkpoint-derived dim is never memoized; a stable plan memoizes once") {
    val (_, dim) = fixture
    val payload = length(col("tok")) + lit(8)
    val before = BroadcastGuard.memoSize
    // each invocation of a query that builds its dim over a fresh
    // localCheckpoint: the plan never canonicalizes the same twice
    (1 to 2).foreach { _ =>
      BroadcastGuard.dim(dim.localCheckpoint(), payload, "spec-ckpt-dim")
    }
    assert(BroadcastGuard.memoSize == before,
      "a per-invocation checkpoint plan must not pin a memo entry")
    val stable = spark.range(37)
      .select(col("id").cast("string").as("tok"), (col("id") * 3).as("w"))
    (1 to 2).foreach { _ =>
      BroadcastGuard.dim(stable, payload, "spec-stable-dim")
    }
    assert(BroadcastGuard.memoSize == before + 1,
      "a stable plan is sized once per session and memoized")
  }

  test("the three vocabulary queries are result-invariant under fallback") {
    // the correctness half of VERDICT r12 item 1's done-condition: with
    // the ceiling forced below any real table, every guarded query runs
    // the shuffle_hash shape end-to-end and still matches its own
    // broadcast-shape output
    for (q <- Seq("q_bm25", "q_lm_surprisal", "q_tfidf")) {
      val base = SparkEntry.queries(q)(spark, sfDir)
        .collect().map(_.toString).sorted
      val fallback = withConf(BroadcastGuard.MaxBytesKey, "16") {
        SparkEntry.queries(q)(spark, sfDir)
          .collect().map(_.toString).sorted
      }
      assert(fallback.sameElements(base),
        s"$q must be result-invariant under the shuffle_hash fallback")
    }
  }
}
