package graft

import graft.similarity.Ann
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSuite {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("brute-force top-k: k rows per query, ranked descending") {
    val got = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect()
    val perQ = got.groupBy(_.getLong(0))
    assert(perQ.size == 10 && perQ.values.forall(_.length == 5))
    perQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    assert(got.forall(r => r.getLong(0) != r.getLong(1)), "self match")
  }

  test("LSH top-k recall vs brute force is reasonable") {
    val brute = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(queries, emb, "vec_id", "embedding", 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low") // 16×4-bit bands, sf0.001
  }

  test("IVF top-k recall vs brute force is reasonable") {
    val brute = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low") // 16 cells, 4 probes
    // probing fewer cells than exist must actually prune candidates
    assert(ivf.size <= brute.size * 2)
  }

  test("LSH top-k shuffles never carry vector payloads") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // AQE off so EnsureRequirements-planned exchanges are inspectable
    withConf("spark.sql.adaptive.enabled", "false") {
      val df = Ann.lshTopK(queries, emb, "vec_id", "embedding", 5, dim = 64)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected at least one shuffle (band join)")
      exchanges.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"shuffle carries array payloads: ${arrays.map(_.name).mkString(",")}")
      }
    }
  }

  test("bounded LSH: caps above data size = identical to uncapped shuffled") {
    // same band geometry on both sides (the bounded path defaults to
    // 16 sigs × 8 × 8-bit bands) so the only difference is the caps —
    // which must be no-ops when they exceed the data size
    val qBig = emb.filter(col("vec_id") % 5 === 0)
    val a = Ann.lshTopK(qBig, emb, "vec_id", "embedding", 5,
        dim = 64, bands = 8, numSigs = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val b = Ann.lshTopKBounded(qBig, emb, "vec_id", "embedding", 5,
        dim = 64, maxBucket = 1000000, capPerQuery = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a == b, s"bounded diverges with slack caps: " +
      s"only-uncapped=${a -- b} only-bounded=${b -- a}")
  }

  test("bounded LSH: binding caps actually bound the candidate volume") {
    import spark.implicits._
    // 600 IDENTICAL vectors — every one lands in the same bucket of
    // every band. Uncapped, each query would score all 599 others;
    // with maxBucket=50 a query can meet at most bands×50 candidates.
    val dim = 8
    val hot = (0L until 600L).map(i => (i, Array.fill(dim)(1.0f))).toDF("vec_id", "embedding")
    val qs = hot.filter(col("vec_id") < 20)
    val bounded = Ann.lshTopKBounded(qs, hot, "vec_id", "embedding",
      k = 5, dim = dim, maxBucket = 50, capPerQuery = 30)
    val got = bounded.collect()
    val perQ = got.groupBy(_.getLong(0))
    assert(perQ.size == 20, s"expected 20 queries, got ${perQ.size}")
    // k results per query survive, all at cosine 1.0
    assert(perQ.values.forall(_.length == 5))
    assert(got.forall(_.getDouble(2) == 1.0))
    // and the pre-rerank candidate stage really was capped: with
    // capPerQuery = 3 < k = 5 the cap is the binding constraint, so a
    // query can emit at most 3 rows — if the GroupTopK cap stage were
    // dropped, each query would emit the full k = 5
    val tight = Ann.lshTopKBounded(qs, hot, "vec_id", "embedding",
      k = 5, dim = dim, maxBucket = 50, capPerQuery = 3)
    val tightPerQ = tight.collect().groupBy(_.getLong(0))
    assert(tightPerQ.values.forall(_.length <= 3),
      s"capPerQuery=3 must bound rows: ${tightPerQ.view.mapValues(_.length).toMap}")
  }

  test("bounded LSH: corpus side never broadcasts; vectors never cross a shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.ArrayType
    val qBig = emb.filter(col("vec_id") % 5 === 0)
    withConf("spark.sql.adaptive.enabled", "false") {
      val exec = Ann.lshTopKBounded(qBig, emb, "vec_id", "embedding",
        5, dim = 64).queryExecution.executedPlan
      // The REFINED shuffle contract (r10 re-rank rework): the only
      // broadcast in the plan is the QUERY-side vector attach at the
      // final re-rank — an ANN re-rank serves queries in shards sized
      // to keep the active query-vector table broadcastable, while the
      // corpus side (the unbounded one) joins shuffled. Exactly one
      // BroadcastHashJoin, and its build side must be the qid/qv table.
      val bhj = exec.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.size == 1,
        s"expected exactly the query-side re-rank broadcast:\n$exec")
      assert(bhj.head.leftKeys.toString.contains("qid") ||
             bhj.head.rightKeys.toString.contains("qid"),
        s"the one broadcast must be the query-side attach:\n${bhj.head}")
      // and vectors cross a shuffle only as the bare (id, vector)
      // corpus table moving ONCE into its attach join — never aboard
      // PAIR rows (the r9 re-rank shuffled q·capPerQuery pairs with
      // 520 B vectors attached: 9.8 GB at the 30× point). Statically:
      // any vector-carrying exchange must have ≤ 2 output columns.
      val exchanges = exec.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      val vectorCarrying = exchanges.filter(_.output.exists(a =>
        a.dataType match {
          case ArrayType(t, _) => t.typeName == "double" || t.typeName == "float"
          case _ => false
        }))
      assert(vectorCarrying.forall(_.output.size <= 2),
        "a vector may cross a shuffle only on a bare (id, vector) row:\n" +
          vectorCarrying.filter(_.output.size > 2).mkString("\n"))
    }
  }

  test("bounded LSH: over-ceiling query side degrades to shuffled attach, " +
      "row-identical") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the guard exists because broadcast() BYPASSES
    // autoBroadcastJoinThreshold: an unsharded corpus-proportional query
    // set would hit the 8 GB broadcast / driver-memory cliff. With the
    // ceiling forced below any real size, the re-rank must fall back to
    // the shuffled query attach — same rows, zero broadcasts.
    val qBig = emb.filter(col("vec_id") % 5 === 0)
    val bcast = Ann.lshTopKBounded(qBig, emb, "vec_id", "embedding", 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    withConf(BroadcastGuard.MaxBytesKey, "1") {
      withConf("spark.sql.adaptive.enabled", "false") {
        val df = Ann.lshTopKBounded(qBig, emb, "vec_id", "embedding", 5, dim = 64)
        val bhj = df.queryExecution.executedPlan.collect {
          case b: BroadcastHashJoinExec => b }
        assert(bhj.isEmpty,
          s"over-ceiling query side must not broadcast:\n${bhj.mkString("\n")}")
        val got = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
        assert(got == bcast, s"fallback diverges: only-bcast=${bcast -- got} " +
          s"only-shuffled=${got -- bcast}")
      }
    }
  }

  test("SRP signatures are deterministic across runs") {
    val s1 = Ann.srpSignature(col("embedding"), 64)
    val a = emb.limit(20).select(col("vec_id"), s1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = emb.limit(20).select(col("vec_id"), s1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }
}
