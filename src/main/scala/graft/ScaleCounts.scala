package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Direct-count workload models for the scale-leg adjudication pinned
  * in `ScaleLinearitySpec` (the r11-r12 graph and fuzzy-join counts).
  * Wall clocks on this host lie under hypervisor stalls; each heavy
  * leg's WORKLOAD, by contrast, is a deterministic function of the
  * fixture, countable in a few cheap aggregates. The ScaleFixture is
  * disjoint-replica by construction (every replica's graph / block
  * structure is isomorphic to the base), so every count here must
  * scale EXACTLY ∝ factor — the design claim the bench's wall-clock
  * exponents estimate noisily and these counts pin exactly. */
private[graft] object ScaleCounts {

  case class GraphCounts(nodes: Long, edges: Long, walkSteps: Long,
                         triangles: Long, lpaMessagesPerIter: Long,
                         lpaGroups: Seq[Long])

  /** The q_triangles / q_label_prop workload on `dir`'s co-purchase
    * graph: triangle merge-walk steps (every probe the
    * SortedIntIntersect close makes is one step), closed triangles, and
    * per-iteration LPA message/group cardinalities. */
  def graph(spark: SparkSession, dir: String): GraphCounts = {
    val e = graft.queries.Analytics.copurchaseEdges(spark, dir)
    val deg = e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).cast("int").as("deg"))
    val nodes = deg.count()
    val edges = e.count()
    // the same degree orientation q_triangles uses
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val ed = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint()
    val outdeg = ed.groupBy(col("u")).agg(count(lit(1)).as("od"))
    // Σ over oriented edges of outdeg(u) + outdeg(v) — the exact
    // number of merge-walk steps the SortedIntIntersect close makes
    val walkSteps = ed
      .join(outdeg.select(col("u"), col("od").as("du")), "u")
      .join(outdeg.select(col("u").as("v"), col("od").as("dv")),
        Seq("v"), "left")
      .agg(sum(col("du") + coalesce(col("dv"), lit(0L))))
      .head().getLong(0)
    val adj = ed.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .localCheckpoint()
    val triangles = ed
      .join(adj.hint("shuffle_hash").select(col("u"), col("nbrs").as("nu")), "u")
      .join(adj.hint("shuffle_hash")
        .select(col("u").as("v"), col("nbrs").as("nv")), "v")
      .select(explode(graft.expressions.SortedIntIntersect(
        col("nu"), col("nv"))).as("wc"))
      .count()
    // LPA workload per iteration: 2|E| message rows into the count
    // agg, then the per-iteration group cardinality into the argmax
    val und = e.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var labels = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val groups = (1 to 3).map { _ =>
      val counted = und
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val g = counted.count()
      labels = counted.groupBy(col("src"))
        .agg(max_by(col("label"),
          struct(col("n"), (-col("label")).as("nl"))).as("label"))
        .select(col("src").as("node"), col("label"))
        .localCheckpoint()
      g
    }
    GraphCounts(nodes, edges, walkSteps, triangles, 2L * edges, groups)
  }

  case class FuzzyCounts(parts: Long, blocks: Long, maxBlock: Long,
                         candidates: Long, results: Long)

  /** The q_fuzzy_join workload on `dir`'s part table: candidate pairs
    * = Σ over (p_size, length-band) blocks of |A block| · |B block| —
    * the block join's exact output cardinality before the key_a < key_b
    * and levenshtein filters, i.e. the number of levenshtein
    * evaluations the exec makes (its dominant compute). Computed from
    * two per-block aggregates, never by executing the join. */
  def fuzzy(spark: SparkSession, dir: String): FuzzyCounts =
    fuzzyOn(Tables.part(spark, dir))

  def fuzzyOn(p: DataFrame): FuzzyCounts = {
    val bw = 8 // must match Analytics.fuzzyJoin
    val a = p.select(col("p_size").as("size"),
        floor(length(col("p_name")) / bw).cast("long").as("band"))
      .groupBy(col("size"), col("band")).agg(count(lit(1)).as("na"))
    val b = p.select(col("p_size").as("size"),
        explode(array_distinct(array(
          floor((length(col("p_name")) - 2) / bw).cast("long"),
          floor((length(col("p_name")) + 2) / bw).cast("long"))))
          .as("band"))
      .groupBy(col("size"), col("band")).agg(count(lit(1)).as("nb"))
    val blockStats = a.join(b, Seq("size", "band"))
      .agg(count(lit(1)).as("blocks"), max(col("na")).as("maxA"),
        sum(col("na") * col("nb")).as("cand"))
      .head()
    val results = graft.queries.Analytics.fuzzyJoin(p).count()
    FuzzyCounts(p.count(), blockStats.getLong(0), blockStats.getLong(1),
      blockStats.getLong(2), results)
  }
}
