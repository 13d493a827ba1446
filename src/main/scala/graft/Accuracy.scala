package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Ann

/** Machine-checkable accuracy for the hash-seeded queries DuckDB cannot
  * replay (`q_ann_lsh`, `q_approx_distinct`, `q_dedup_simhash`). The
  * same assertions live in the ScalaTest suites; this mirrors them into
  * a driver-readable artifact (`accuracy.json`, written by [[Verify]])
  * so the green is visible outside the test runner.
  */
object Accuracy {

  case class Check(query: String, metric: String, value: Double,
                   threshold: Double, pass: Boolean)

  def checks(spark: SparkSession, d: String): Seq[Check] = {
    // q_ann_lsh: recall of SRP-LSH top-k vs exact brute-force top-k
    val e = Tables.embeddings(spark, d)
    val q = e.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(q, e, "vec_id", "embedding", 5, dim = 64)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size

    // q_ann_ivf: recall of IVF nProbe-cell search vs brute force
    val ivf = Ann.ivfTopK(q, e, "vec_id", "embedding", 5, dim = 64)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = (brute & ivf).size.toDouble / brute.size

    // q_ann_persisted: the SAME IVF geometry served from the persisted
    // standing index (r13 VERDICT item 1) — recall vs brute gates that
    // the build-once/serve-many path retrieves what the transient path
    // retrieves (the serve plan itself is pinned by StandingIndexSpec)
    val pers = SparkEntry.queries("q_ann_persisted")(spark, d)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val persRecall = (brute & pers).size.toDouble / brute.size

    // q_ann_index_append: the APPEND-MAINTAINED IVF index (standing
    // vec_id%5∈{1,2} clustered, %5∈{3,4} assigned to the frozen
    // centroids and appended atomically) must still retrieve — recall
    // vs exact brute force over the SAME corpus the maintained index
    // holds (%5 ≠ 0). This is the number that catches a bad append
    // (lost/duplicated cells) AND excessive centroid drift.
    val corpusNo0 = e.filter(col("vec_id") % 5 =!= 0)
    val bruteApp = Ann.bruteForceTopK(q, corpusNo0, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val appServed = SparkEntry.queries("q_ann_index_append")(spark, d)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val appRecall = (bruteApp & appServed).size.toDouble / bruteApp.size

    // q_ann_lsh_big: the BOUNDED all-shuffled (no-broadcast) LSH path on
    // a LARGE query set — what the registry runs; same banding as
    // lshTopK plus the per-bucket/per-query caps (which do not bind at
    // this sf), so recall vs brute force is the gate; the plan shape
    // (no BroadcastExchange) is asserted in AnnSpec
    val qBig = e.filter(col("vec_id") % 5 === 0)
    val bruteBig = Ann.bruteForceTopK(qBig, e, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshBig = Ann.lshTopKBounded(qBig, e, "vec_id", "embedding", 5, dim = 64)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallBig = (bruteBig & lshBig).size.toDouble / bruteBig.size

    // q_ann_lsh_big CAPPED REGIME (r12 VERDICT item 5): at this fixture
    // scale every band bucket sits far under the registry maxBucket=64,
    // so recallBig above gates the regime where the caps are NO-OPS —
    // the sf1 bounded-mode recall (bench artifact `ann_bounded_sf1`,
    // 0.916 sampled / 1.0 planted-twin) was the only evidence for the
    // configuration that actually ships its bounding behavior, and the
    // bench is not a driver GATE. Shrinking the caps to force binding
    // at 500 vectors misrepresents the shipped geometry (measured:
    // maxBucket=1 keeps a 1-of-2 random sample per bucket and recall
    // collapses to 0.47 — a regime no deployment runs). Instead the
    // gate scales the CORPUS to where the SHIPPED config binds
    // (maxBucket=64 binds from n ≈ 16k): an embeddings-only replica
    // fixture (ScaleFixture construction, decorrelated replicas +
    // planted twins), then the same hash-sampled top-5-vs-brute recall
    // the bench records — now driver-gated every round at ≥ 0.85.
    // the whole capped-regime block degrades to a single failing row
    // (-1.0) on any fixture-generation error — it must never abort the
    // artifact and take the other eight gates with it (review r13)
    val (recallCapped, cappedDir) = try {
      val nVec = e.count()
      if (nVec >= 20000L)
        // the caps already bind on the base corpus — measure there
        // directly instead of paying a pointless 2× replica fixture +
        // doubled brute-force pass
        (Bench.boundedAnnRecallSf1(spark, d).getOrElse(-1.0), Some(d))
      else {
        val factor = math.max(2, math.ceil(20000.0 / math.max(1L, nVec)).toInt)
        // keyed by base dir, base content and factor: a fixture from a
        // different or regenerated-in-place base is never served here
        val dir = ScaleFixture.ensureEmbeddings(spark, d, factor)
        (Bench.boundedAnnRecallSf1(spark, dir).getOrElse(-1.0), Some(dir))
      }
    } catch { case scala.util.control.NonFatal(ex) =>
      // NonFatal only (ADVICE r13): an OOM/interrupt must kill the JVM,
      // not masquerade as a -1.0 gate row
      System.err.println(s"[accuracy] capped-regime fixture/recall failed: $ex")
      (-1.0, None)
    }

    // q_ann_lsh_big_persisted, both regimes (VERDICT r14 item 3): the
    // fixture regime gates every batch query (caps are no-ops here,
    // like recallBig above); the capped regime reuses the SAME scaled
    // fixture as q_ann_lsh_big_capped — the persisted index is built
    // over its standing corpus once and the sampled-query recall gates
    // the regime where the per-bucket caps actually bind.
    val persLshRecall = try {
      persistedLshBigRecall(spark, d, sampleMod = 1).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(ex) =>
      System.err.println(s"[accuracy] persisted-LSH recall failed: $ex")
      -1.0
    }
    val persLshCapped = try {
      cappedDir.flatMap(persistedLshBigRecall(spark, _, sampleMod = 499))
        .getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(ex) =>
      System.err.println(s"[accuracy] persisted-LSH capped recall failed: $ex")
      -1.0
    }

    // q_approx_distinct: HLL++ (rsd=0.02) vs exact distinct counts
    val li = Tables.lineitem(spark, d)
    val approx = li.agg(
      approx_count_distinct(col("l_orderkey"), 0.02),
      approx_count_distinct(col("l_partkey"), 0.02)).head
    val exact = li.agg(
      countDistinct(col("l_orderkey")), countDistinct(col("l_partkey"))).head
    val err = math.max(
      math.abs(approx.getLong(0) - exact.getLong(0)).toDouble / exact.getLong(0),
      math.abs(approx.getLong(1) - exact.getLong(1)).toDouble / exact.getLong(1))

    // q_dedup_simhash: chunk blocking at hamming<=3 is exact by
    // pigeonhole — pair set must EQUAL the all-pairs answer
    val docs = Tables.documents(spark, d)
    val blocked = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b")
    val sigs = Dedup.simhash(docs, "doc_id", "text")
    val a = sigs.select(col("id").as("doc_a"), col("simhash").as("sa"))
    val b = sigs.select(col("id").as("doc_b"), col("simhash").as("sb"))
    val allPairs = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select("doc_a", "doc_b")
    val diff = blocked.exceptAll(allPairs).count() +
      allPairs.exceptAll(blocked).count()

    // q_approx_topk: with column cardinality below maxItemsTracked the
    // sketch is exact, but count TIES at the top-k boundary make item
    // membership ambiguous in any engine — so compare the (sorted)
    // count multiset of the approx top-20 against the exact one.
    val approxCounts = SparkEntry.queries("q_approx_topk")(spark, d)
      .select(col("n")).collect().map(_.getLong(0)).sorted.toSeq
    val exactCounts = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(20)
      .select(col("n")).collect().map(_.getLong(0)).sorted.toSeq
    val topkDiff = if (approxCounts == exactCounts) 0.0 else 1.0

    // q_approx_percentile: sketch quantiles vs exact percentiles, max
    // relative error per group/metric (accuracy=1000 → rank error 0.1%)
    val apx = SparkEntry.queries("q_approx_percentile")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val pctExact = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val pctErr = pctExact.map { case (k, (e50, e90)) =>
      val (a50, a90) = apx(k)
      math.max(math.abs(a50 - e50) / e50, math.abs(a90 - e90) / e90)
    }.max

    // q_hll_union: merged HLL estimates vs exact distincts per nation
    val hll = SparkEntry.queries("q_hll_union")(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hllExact = Tables.customer(spark, d)
      .groupBy(col("c_nationkey"))
      .agg(countDistinct(col("c_custkey")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hllErr = hllExact.map { case (k, ex) =>
      math.abs(hll(k) - ex).toDouble / ex }.max

    // Thresholds ratcheted to measured headroom (r04: recalls
    // 0.96/0.92/0.88, errors 0.0095/0.0013) so a real regression FAILS
    // the round instead of coasting under a slack gate.
    Seq(
      Check("q_approx_percentile", "max_rel_error_vs_exact", pctErr, 0.02,
        pctErr <= 0.02),
      Check("q_hll_union", "max_rel_error_vs_exact", hllErr, 0.02,
        hllErr <= 0.02),
      Check("q_approx_topk", "count_multiset_diff_vs_exact", topkDiff, 0.0,
        topkDiff == 0.0),
      Check("q_ann_lsh", "topk_recall_vs_brute_force", recall, 0.85,
        recall >= 0.85),
      Check("q_ann_ivf", "topk_recall_vs_brute_force", ivfRecall, 0.85,
        ivfRecall >= 0.85),
      Check("q_ann_persisted", "topk_recall_vs_brute_force", persRecall,
        0.85, persRecall >= 0.85),
      Check("q_ann_index_append", "topk_recall_vs_brute_force", appRecall,
        0.85, appRecall >= 0.85),
      Check("q_ann_lsh_big_persisted", "topk_recall_vs_brute_force",
        persLshRecall, 0.85, persLshRecall >= 0.85),
      Check("q_ann_lsh_big_persisted_capped",
        "topk_recall_vs_brute_caps_binding", persLshCapped, 0.85,
        persLshCapped >= 0.85),
      Check("q_ann_lsh_big", "topk_recall_vs_brute_force", recallBig, 0.85,
        recallBig >= 0.85),
      Check("q_ann_lsh_big_capped", "topk_recall_vs_brute_caps_binding",
        recallCapped, 0.85, recallCapped >= 0.85),
      Check("q_approx_distinct", "max_rel_error_vs_exact", err, 0.02, err <= 0.02),
      Check("q_dedup_simhash", "pairs_diff_vs_all_pairs", diff.toDouble, 0.0, diff == 0))
  }

  /** Sampled top-5 recall of the PERSISTED bounded-LSH serve
    * (q_ann_lsh_big_persisted) vs exact brute force over the standing
    * corpus (vec_id%5 ≠ 0). `sampleMod` = 1 gates every batch query
    * (the fixture regime); 499 hash-samples queries on the
    * capped-regime scaled fixture — the same unbiased estimator
    * [[Bench.boundedAnnRecallSf1]] uses (caps are per-query, so
    * sampled-query recall estimates full-run recall). */
  private def persistedLshBigRecall(spark: SparkSession, dir: String,
                                    sampleMod: Int): Option[Double] = {
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(col("vec_id") % 5 === 0)
      .filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    val qids = qs.select("vec_id").collect().map(_.getLong(0)).toSet
    if (qids.isEmpty) return None
    val brute = Ann.bruteForceTopK(qs, e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (brute.isEmpty) return None
    val served = graft.sources.StandingIndex.lshBigServe(spark, dir)
      .filter(col("qid").isin(qids.toSeq.map(Long.box): _*))
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Some((brute & served).size.toDouble / brute.size)
  }

  def toJson(cs: Seq[Check]): String =
    cs.map { c =>
      s""""${c.query}": {"metric": "${c.metric}", "value": ${c.value}, """ +
        s""""threshold": ${c.threshold}, "pass": ${c.pass}}"""
    }.mkString("{", ", ", "}")
}
