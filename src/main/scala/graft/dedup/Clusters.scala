package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.Checkpoints

/** Duplicate-cluster resolution: near-dup PAIRS (from MinHash/SimHash/
  * embedding banding) → connected components → one canonical
  * representative per cluster. This is the step that turns pairwise
  * dedup output into an actionable keep/drop list: a training-data
  * pipeline drops every member of a component except its representative.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * rewires edges toward the neighborhood minimum:
  *  - large-star: every node links its strictly-larger neighbors to the
  *    minimum of its neighborhood (including itself);
  *  - small-star: every node and its smaller neighbors all link to that
  *    minimum.
  * The fixpoint is a forest of stars whose centers are the component
  * minima, reached in O(log^2 n) rounds REGARDLESS of component
  * diameter — unlike min-label propagation, whose round count grows
  * with the longest chain in the pair graph (pathological at 100 TB:
  * a chain of borderline near-dups makes diameter, not log n, the
  * round bound).
  *
  * Local finish: every round costs several Spark jobs, and on a small
  * pair graph those rounds ARE the whole cost (471 edges took 45 jobs).
  * Each round already counts its edges for the convergence fingerprint;
  * as soon as that count (plus the distinct self-pair and null-ended
  * rows) is at most `LocalFinishEdges`, the driver collects those rows,
  * runs a union-find and returns a local DataFrame. A small graph runs
  * 0 rounds; a large one runs distributed rounds until its edge set
  * fits, then finishes locally. The star rounds preserve connectivity,
  * so the handoff gives the same labels at any round.
  *
  * Scale notes:
  *  - the driver never collects more than `LocalFinishEdges` rows, and
  *    the returned frame has one row per node (`DriverFinish.frame`: a
  *    local relation up to 2^16 rows, packed UnsafeRow bytes above).
  *    Worst case at the bound (2^20 disjoint long-id edges, 2^21 nodes,
  *    4 cores, 6 GB driver heap): the finish took 3.6-7.6 s, a `count()`
  *    of the result 0.3-1.3 s (13 s as a local relation), and the heap
  *    peaked at 1.4-1.7 GB, uncollected garbage included;
  *  - above the bound each round is two groupBy-min + two joins over the
  *    EDGE table (bounded by the near-dup pair count, orders of magnitude
  *    smaller than the corpus), all declarative and nothing broadcast;
  *  - edge counts are non-increasing round over round (stars only
  *    shrink), so the first round bounds every intermediate;
  *  - each round's edge table is a `localCheckpoint` (lineage truncated,
  *    or Catalyst re-analysis cost grows quadratically with iteration
  *    count), materialized by that round's fingerprint job; a round's
  *    checkpoint is released as soon as the next one is materialized,
  *    and the local finish releases all of them. Swap for
  *    `checkpoint(dir)` on a real cluster if executor loss during the
  *    loop matters;
  *  - convergence is detected by a constant-size fingerprint (edge count
  *    + hash XOR), one map-only job per round — the driver loop carries
  *    a few longs per round, no data.
  */
object Clusters {

  /** Largest row count `connectedComponents` collects to finish on the
    * driver: oriented edges plus distinct self-pair / null-ended rows. */
  val LocalFinishEdges: Long = 1L << 20

  /** Connected components of the undirected graph given by `edges`.
    * Returns (id, comp) with `comp` = min node id in the component,
    * under Spark's ordering for the id type. Nodes appearing only in
    * self-pairs label themselves; a null end is a node of its own with
    * a null label. `localFinishEdges` = 0 runs the distributed loop on
    * any non-empty input. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25,
                          localFinishEdges: Long = LocalFinishEdges): DataFrame = {
    val u = col("u")
    val v = col("v")
    // ids keep their own type: comparisons, min and xxhash64 are
    // defined for any orderable column (a cast to long would silently
    // null out string ids)
    //
    // Materialized ONCE, up front: `edges` is typically the tail of a
    // whole near-dup pipeline (shingle → signature → band join) whose
    // cost dwarfs everything below, and the node set, the round-1 edges
    // and the local finish all read this one table (the r15 profile
    // showed q_dup_clusters at ~82 CPU-s vs q_dedup_minhash's ~30 when
    // the pair lineage ran twice). Proper edges are oriented big→small
    // — the invariant both star steps emit — and loose rows (self-pairs,
    // null ends) stay as they are, so their nodes survive; `isEdge`
    // tells the two apart.
    val base = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .select(when(u < v, v).otherwise(u).as("u"),
        when(u < v, u).otherwise(v).as("v"))
      .distinct()
      .localCheckpoint(eager = false)
    val isEdge = coalesce(u =!= v, lit(false))
    val idType = base.schema("u").dataType
    val nullable = base.schema("u").nullable || base.schema("v").nullable

    val fp0 = fingerprint(base, isEdge)
    val loose = fp0.loose
    def fits(fp: Fingerprint): Boolean = fp.edges + loose <= localFinishEdges

    var e = base.filter(isEdge)
    var prev = Fingerprint(-1L, -1L, 0L)
    var cur = fp0.copy(loose = 0L)
    var iter = 0
    while (!fits(cur) && cur != prev && iter < maxIter) {
      // large-star: m(u) = min(neighborhood(u) ∪ {u}); every neighbor
      // v > u links to m. Emitted edges are (v, m) with v > m, so the
      // big→small orientation is preserved by construction.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()

      // small-star: edges are oriented u > v, so every neighbor of u in
      // this direction is "small"; u and all of them link to the min.
      val ssMin = large.groupBy("u").agg(min("v").as("m"))
      val withM = large.join(ssMin, "u")
      val next = withM.select(col("u"), col("m").as("v"))
        .union(withM.select(col("v").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(eager = false)

      prev = cur
      cur = fingerprint(next, lit(true))
      if (iter > 0) Checkpoints.release(e)
      e = next
      iter += 1
    }

    if (fits(cur)) {
      def collected(df: DataFrame) = df.queryExecution.executedPlan.executeCollect()
      val rows =
        if (iter == 0) collected(base)
        else collected(e) ++ (if (loose > 0) collected(base.filter(!isEdge)) else Array.empty)
      Checkpoints.release(base)
      if (iter > 0) Checkpoints.release(e)
      val schema = StructType(Seq(StructField("id", idType, nullable),
        StructField("comp", idType, nullable)))
      DriverFinish.frame(base.sparkSession, localComponents(rows, idType), schema)
    } else {
      if (cur != prev)
        System.err.println(s"[graft] connectedComponents: maxIter=$maxIter " +
          "reached before the star fixpoint — labels below are the best " +
          "lower bound, components may still be split")

      // Fixpoint: a union of stars (leaf u → center v = component min).
      // The min-aggregate (not distinct) keeps the output WELL-FORMED —
      // exactly one label per node — even if the loop exited via maxIter
      // with some node still pointing at two provisional centers. Every
      // node comes from `base`, so self-pair-only nodes still get a
      // (singleton) component.
      val nodes = base.select(u.as("id")).union(base.select(v.as("id"))).distinct()
      val labels = e.select(col("u").as("id"), col("v").as("comp"))
        .union(e.select(col("v").as("id"), col("v").as("comp")))
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      nodes.join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }
  }

  /** Edge count, XOR of 64-bit edge hashes and loose-row count of a
    * distinct (u, v) table. */
  private final case class Fingerprint(edges: Long, hash: Long, loose: Long) {
    def +(o: Fingerprint): Fingerprint =
      Fingerprint(edges + o.edges, hash ^ o.hash, loose + o.loose)
  }

  /** The table's [[Fingerprint]], in one map-only job that also
    * materializes the table's pending checkpoint: a probabilistic
    * set-equality check between rounds. The XOR is order-independent
    * and overflow-free; the edge set is distinct, so self-cancellation
    * cannot hide a change of the same cardinality except by 2^-64
    * collision, and `maxIter` backstops even that. */
  private def fingerprint(df: DataFrame, isEdge: Column): Fingerprint =
    df.select(isEdge, xxhash64(col("u"), col("v"))).queryExecution.toRdd
      .mapPartitions { it =>
        var n, x, loose = 0L
        it.foreach { r =>
          if (r.getBoolean(0)) { n += 1; x ^= r.getLong(1) } else loose += 1
        }
        Iterator(Fingerprint(n, x, loose))
      }
      .collect()
      .foldLeft(Fingerprint(0L, 0L, 0L))(_ + _)

  /** Union-find over collected (u, v) rows: one (id, comp) row per
    * distinct non-null id, `comp` = component minimum, plus (null, null)
    * when any end is null. Ids are ranked under Spark's ordering for
    * `idType`, so the smallest rank in a component is its `min`, and
    * ordering ties are the same node. Rows with equal ends add no edge. */
  private def localComponents(rows: Array[InternalRow], idType: DataType): Seq[InternalRow] = {
    def end(r: InternalRow, i: Int): AnyRef = if (r.isNullAt(i)) null else r.get(i, idType)
    val us = rows.map(end(_, 0))
    val vs = rows.map(end(_, 1))
    val ranks = new DriverFinish.IdRanks(us.iterator ++ vs.iterator, idType)
    val ids = ranks.ids

    val parent = Array.range(0, ids.length)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    us.indices.foreach { i =>
      if (us(i) != null && vs(i) != null) {
        val a = find(ranks.rank(us(i)))
        val b = find(ranks.rank(vs(i)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    }
    val labeled = ids.indices.map(i => InternalRow(ids(i), ids(find(i))))
    if (us.contains(null) || vs.contains(null)) labeled :+ InternalRow(null, null) else labeled
  }

  /** (doc_id, cluster_id, cluster_size) for every doc in some near-dup
    * pair; cluster_id = min doc id in the component. The size join is
    * left to the planner (AQE broadcasts it when it is actually small
    * — one row per COMPONENT, which is unbounded at lake scale, so a
    * forced broadcast would be a driver OOM). */
  def dupClusters(pairs: DataFrame, srcCol: String, dstCol: String,
                  localFinishEdges: Long = LocalFinishEdges): DataFrame = {
    val cc = connectedComponents(pairs, srcCol, dstCol,
      localFinishEdges = localFinishEdges)
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
  }

  /** Full-corpus keep/drop list — the artifact a dedup pipeline actually
    * applies to the lake. Every doc gets its cluster label (docs in no
    * near-dup pair are their own singleton cluster) and `keep` = true
    * iff the doc is the cluster's representative: highest `scoreCol`,
    * ties to the lowest id (the "keep the longest copy" rule).
    *
    * Scale: the label join is id→comp on the (small) paired subset via
    * a left join the planner can broadcast when pairs are sparse; the
    * representative pick is one row_number over cluster-sized window
    * partitions (bounded by the largest duplicate cluster, never the
    * corpus). `docs` should be pre-projected to (id, score) — document
    * payloads stay out of both the shuffle and the window sort. */
  def keepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
               srcCol: String, dstCol: String, scoreCol: String,
               localFinishEdges: Long = LocalFinishEdges): DataFrame = {
    val cc = connectedComponents(pairs, srcCol, dstCol,
      localFinishEdges = localFinishEdges)
      .select(col("id").as(idCol), col("comp"))
    val labeled = docs.join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.withColumn("rk", row_number().over(w))
      .select(col(idCol), col("cluster_id"), (col("rk") === 1).as("keep"))
  }
}
