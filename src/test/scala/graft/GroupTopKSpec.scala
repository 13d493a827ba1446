package graft

import graft.plans.GroupTopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GroupTopKSpec extends SparkSuite {

  private lazy val orders = Tables.orders(spark, sfDir)

  test("custom top-k operator == row_number window formulation") {
    val custom = GroupTopK.topKPerGroup(orders,
        Seq(orders("o_custkey")),
        Seq(orders("o_totalprice").desc, orders("o_orderkey").asc), k = 3)
      .select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val window = orders.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(custom == window)
    assert(custom.nonEmpty)
  }

  test("plans as partial+final GroupTopKExec around one exchange, no sort") {
    val df = GroupTopK.topKPerGroup(orders,
      Seq(orders("o_custkey")),
      Seq(orders("o_totalprice").desc, orders("o_orderkey").asc), k = 3)
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix: the node prints as "GroupTopK"
    assert("GroupTopK \\[".r.findAllIn(plan).length == 2,
      s"expected partial+final exec pair:\n$plan")
    assert(plan.contains("Exchange"), "expected a hash exchange on the group key")
    assert(!plan.contains("Sort "), s"top-k must not sort:\n$plan")
  }

  test("empty group list = global top-k (partial caps each map task)") {
    val global = GroupTopK.topKPerGroup(orders, Seq.empty,
        Seq(orders("o_totalprice").desc, orders("o_orderkey").asc), k = 10)
      .select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val expect = orders.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    assert(global == expect)
  }

  // Tiny buffered-row budgets below force both the partial-pass flush
  // path and the final-pass external sort fallback to execute even on
  // the small fixture.

  test("tiny budget (partial flush + final sort fallback) matches window") {
    val custom = GroupTopK.topKPerGroup(orders,
        Seq(orders("o_custkey")),
        Seq(orders("o_totalprice").desc, orders("o_orderkey").asc), k = 3,
        maxBufferedRows = 7)
      .select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val window = orders.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(custom == window)
    assert(custom.nonEmpty)
  }

  test("k=1 on a near-unique key under a tiny budget (the dedup shape)") {
    // groups ≈ rows: the exact shape that OOMs an unbounded heap map —
    // every final-pass task must take the external-sort fallback
    val deduped = GroupTopK.topKPerGroup(orders,
        Seq(orders("o_orderkey")),
        Seq(orders("o_totalprice").asc), k = 1, maxBufferedRows = 16)
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(deduped.length == deduped.distinct.length)
    assert(deduped.toSet ==
      orders.select("o_orderkey").collect().map(_.getLong(0)).toSet)
  }

  test("global top-k under a tiny budget matches limit") {
    val global = GroupTopK.topKPerGroup(orders, Seq.empty,
        Seq(orders("o_totalprice").desc, orders("o_orderkey").asc), k = 10,
        maxBufferedRows = 4)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val expect = orders.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    assert(global == expect)
  }

  test("flush-path stress: 2e5 rows, near-unique keys, tiny budget — " +
      "exact result and >1 partial flush") {
    // The regime maxBufferedRows exists for: k=1 dedup on a
    // fingerprint-like key where groups ≈ rows, at a row count (2·10⁵)
    // that dwarfs the budget (1000) — every partial task MUST cycle
    // its heap map many times and every final task MUST take the
    // external-sort fallback. Exactness is checked against a plain
    // aggregate; the flush/spill counts come from the exec's own
    // metrics, so the test proves the stressed PATH ran, not just that
    // some path produced the right rows.
    // AQE wraps executed fragments in query stages whose subtrees a
    // plain collect() can't traverse; turn it off so the metric-bearing
    // exec instances are reachable (the flush/spill code path itself is
    // AQE-independent — DeterminismSpec sweeps outputs both ways)
    val origAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = 200000L
      val src = spark.range(n).select(
        (col("id") / 2).cast("long").as("key"),        // ~1e5 groups of 2
        (pmod(col("id") * 2654435761L, lit(1000003L))).as("v"))
      val df = GroupTopK.topKPerGroup(src, Seq(src("key")),
        Seq(src("v").asc, src("key").asc), k = 1, maxBufferedRows = 1000)
      // collect df ITSELF: a .select would spawn a fresh queryExecution
      // and the metrics below would read an un-executed plan
      val got = df.collect()
        .map(r => (r.getLong(r.fieldIndex("key")),
          r.getLong(r.fieldIndex("v")))).toMap
      val expect = src.groupBy("key").agg(min(col("v")).as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expect, "flushed top-1 must equal exact per-group min")
      assert(got.size == n / 2)
      val plan = df.queryExecution.executedPlan
      val execs = plan.collect { case g: graft.plans.GroupTopKExec => g }
      assert(execs.size == 2, s"expected partial+final pair:\n$plan")
      val flushes = execs.find(_.partial).get.metrics("numFlushes").value
      val spills = execs.find(!_.partial).get.metrics("spillFallback").value
      // 2e5 rows / 8 map tasks / 1000-row budget ≈ 25 generations per
      // task; assert well above 1 so a silently-unenforced budget fails
      assert(flushes > 8, s"partial pass flushed only $flushes times")
      assert(spills > 0, s"final pass never took the sort fallback")
    } finally spark.conf.set("spark.sql.adaptive.enabled", origAqe)
  }

  test("k larger than any group returns all rows") {
    val n = orders.count()
    val all = GroupTopK.topKPerGroup(orders,
      Seq(orders("o_custkey")),
      Seq(orders("o_orderkey").asc), k = Int.MaxValue).count()
    assert(all == n)
  }
}
