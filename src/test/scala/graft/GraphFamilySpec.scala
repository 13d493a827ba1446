package graft

import org.apache.spark.sql.functions._

/** Pins the r16 graph-family optimizations:
  *
  *  1. copurchaseEdges dropped its pre-join (ok,pk) distinct — the
  *     final (a,b) distinct already collapses every duplicate pair a
  *     duplicate input row can produce, so the edge SET must be
  *     identical to the old distinct → self-join → distinct chain.
  *  2. q_label_prop's argmax is one scalar max over a packed BIGINT
  *     (n·2^32 + (Int.MaxValue − label)) — must order exactly like the
  *     old max_by(label, struct(n, -label)), i.e. (n desc, label asc),
  *     including ties and extreme label values.
  *  3. the guarded adjacency/degree/label broadcasts must degrade past
  *     the ceiling to the shuffle-shaped plan with bit-identical
  *     results (the BroadcastGuardSpec contract, on the graph family).
  */
class GraphFamilySpec extends SparkSuite {

  test("edge set without pre-join dedup equals the old distinct->join->distinct") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("int").as("pk"))
    // duplicate every row to make the no-pre-dedup claim do real work
    val dup = li.union(li).union(li.limit(37))
    def oldEdges = {
      val d = dup.distinct()
      d.as("x").join(d.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
    }
    def newEdges = {
      val r = dup.repartition(col("ok"))
      r.as("x").join(r.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
    }
    val o = oldEdges.collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    val n = newEdges.collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(o.nonEmpty && o.sameElements(n),
      s"edge sets diverge: old=${o.length} new=${n.length}")
  }

  test("packed-long argmax orders exactly like max_by(label, struct(n, -label))") {
    import spark.implicits._
    // hostile (src, label, n) groups: ties on n (label asc must win),
    // label extremes 0 / Int.MaxValue, counts up to Int.MaxValue
    val rows = Seq(
      (1, 5, 3L), (1, 2, 3L), (1, 9, 2L),              // tie on n -> label 2
      (2, 0, 1L), (2, Int.MaxValue, 1L),               // tie -> label 0
      (3, Int.MaxValue, 5L), (3, 1, 4L),               // clear n winner
      (4, 7, Int.MaxValue.toLong), (4, 6, Int.MaxValue.toLong), // huge n tie
      (5, 123, 1L)                                     // singleton
    ).toDF("src", "label", "n")
    val viaStruct = rows.groupBy(col("src"))
      .agg(max_by(col("label"),
        struct(col("n"), (-col("label")).as("nl"))).as("label"))
    val viaPacked = rows.groupBy(col("src"))
      .agg(max(col("n") * lit(4294967296L) +
        (lit(Int.MaxValue.toLong) - col("label"))).as("packed"))
      .select(col("src"),
        (lit(Int.MaxValue.toLong) - col("packed") % lit(4294967296L))
          .cast("int").as("label"))
    val a = viaStruct.collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    val b = viaPacked.collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(a.sameElements(b), s"argmax diverges: ${a.toSeq} vs ${b.toSeq}")
  }

  test("graph queries are result-identical when the guard falls back") {
    for (q <- Seq("q_triangles", "q_label_prop")) {
      val broadcastPath = SparkEntry.queries(q)(spark, sfDir)
        .collect().map(_.toString).sorted
      val fallbackPath = withConf(BroadcastGuard.MaxBytesKey, "16") {
        SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).sorted
      }
      assert(broadcastPath.sameElements(fallbackPath),
        s"$q: guarded-broadcast and fallback paths disagree")
    }
  }
}
