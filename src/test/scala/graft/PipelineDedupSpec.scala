package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, length}

import graft.dedup.Dedup

/** The composed dedup pipeline (q_dedup_pipeline): one pair-table
  * materialization must feed clusters + keep list + split, and the
  * composition must agree row-for-row with the standalone queries it
  * fuses (which each recompute the pairs from scratch). */
class PipelineDedupSpec extends SparkSuite {

  test("q_dedup_pipeline agrees with the standalone cluster/keep/split queries") {
    val rows = SparkEntry.queries("q_dedup_pipeline")(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, s"one row per doc: ${rows.length} vs $nDocs")
    val byCluster = rows.groupBy(_.getLong(1))
    assert(byCluster.values.forall(_.count(_.getBoolean(3)) == 1),
      "exactly one representative per cluster")
    assert(byCluster.values.forall(rs => rs.map(_.getString(4)).toSet.size == 1),
      "split must be constant within a cluster (the leakage-safety contract)")
    assert(byCluster.values.forall(rs => rs.forall(_.getLong(2) == rs.length)),
      "cluster_size = full-corpus member count (singletons = 1)")
    // differential vs the standalone queries this composes
    val keepStandalone = SparkEntry.queries("q_dedup_keep_best")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
      == keepStandalone, "keep list diverges from q_dedup_keep_best")
    val splitStandalone = SparkEntry.queries("q_split_leakage_safe")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getString(4))).toSet
      == splitStandalone, "split diverges from q_split_leakage_safe")
  }

  test("q_dedup_pipeline's final plan holds no pair machinery (ran once)") {
    // positive control first: the distributed pair plan, which the
    // pipeline would replay without its checkpoint, carries the native
    // shingle expression in its executed plan, so the probe below can
    // actually fail (q_dedup_minhash itself now finishes on the driver)
    val standalone = Dedup.minhashPairs(Tables.documents(spark, sfDir),
        "doc_id", "text", localPairDocs = 0)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(standalone.contains("wordshingles"),
      "probe broken: expected the shingle expression in the distributed pair plan")
    val plan = SparkEntry.queries("q_dedup_pipeline")(spark, sfDir)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("wordshingles") && !plan.contains("minhash"),
      "pair generation must be materialized once (localCheckpoint), " +
        s"not replayed downstream:\n$plan")
    assert(plan.contains("existingrdd"),
      "downstream stages must read the checkpointed tables")
  }

  test("q_pipeline_full extends the pipeline with the contamination gate") {
    val full = SparkEntry.queries("q_pipeline_full")(spark, sfDir).collect()
    val base = SparkEntry.queries("q_dedup_pipeline")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getString(4))).toSet
    // the first five columns ARE q_dedup_pipeline — the composition adds
    // the contamination flag without disturbing cluster/keep/split
    assert(full.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getBoolean(3), r.getString(4))).toSet == base,
      "q_pipeline_full's cluster/keep/split diverge from q_dedup_pipeline")
    // train docs are the reference set: never flagged
    assert(full.filter(_.getString(4) == "train").forall(!_.getBoolean(5)),
      "a train doc must not be contaminated against itself")
    // semantic differential: contaminated = shares a 5-gram with a KEPT
    // train doc — recompute naively from the raw corpus
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams5(t: String): Set[String] = {
      val ts = t.split(" ", -1)
      if (ts.length < 5) Set.empty
      else ts.sliding(5).map(_.mkString(" ")).toSet
    }
    val trainKept = full.filter(r => r.getString(4) == "train" &&
      r.getBoolean(3)).flatMap(r => grams5(docs(r.getLong(0)))).toSet
    full.filterNot(_.getString(4) == "train").foreach { r =>
      val expect = grams5(docs(r.getLong(0))).exists(trainKept)
      assert(r.getBoolean(5) == expect,
        s"doc ${r.getLong(0)}: contaminated=${r.getBoolean(5)}, naive=$expect")
    }
  }

  test("q_pipeline_full's final plan reads checkpoints, no minhash replay") {
    val plan = SparkEntry.queries("q_pipeline_full")(spark, sfDir)
      .queryExecution.executedPlan.toString.toLowerCase
    // the pair stage (minhash signatures) must be materialized once;
    // since r13 the width-5 gram table is checkpointed too, so
    // PipelineReportSpec additionally bans wordshingles downstream —
    // this probe keeps the original minhash-specific pin
    assert(!plan.contains("minhash"),
      s"pair generation must not replay downstream of the checkpoint:\n$plan")
    assert(plan.contains("existingrdd"),
      "downstream stages must read the checkpointed tables")
  }

  test("q_pipeline_full reruns without compiling generated code") {
    import spark.implicits._
    // Spark's codegen cache holds 100 classes: a plan that generates
    // more evicts its own and compiles them again on every run (the
    // distributed pair plan alone generated about 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-pipeline-rerun").toString
    DedupSpec.corpus(5, 300).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    val local = Dedup.minhashPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(local.contains("LocalTableScan") && !local.toLowerCase.contains("wordshingles"),
      s"below the bound the pairs are a local relation:\n$local")
    val forced = Dedup.minhashPairs(docs, "doc_id", "text", localPairDocs = 0)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(forced.contains("wordshingles"), s"bound 0 plans the shingles:\n$forced")
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = SparkEntry.queries("q_pipeline_full")(spark, dir).collect()
    val before = compiles
    val second = SparkEntry.queries("q_pipeline_full")(spark, dir).collect()
    assert(compiles - before == 0, s"second run compiled ${compiles - before} classes")
    assert(second.toSeq.sortBy(_.toString) == first.toSeq.sortBy(_.toString))
  }
}
