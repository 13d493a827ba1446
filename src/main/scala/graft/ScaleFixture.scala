package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Committed

/** Deterministic `factor`× scale-up of the heavy-family inputs
  * (documents, embeddings, part) from a base fixture dir, for the
  * second bench scale point: the 2×-of-baseline gate at ONE small sf
  * cannot tell linear from quadratic, so Bench times the dedup/ANN
  * family at sf0.1 AND at this synthetic sf1 and reports the scaling
  * exponent.
  *
  * Scale-up design (everything seeded by row id — no RNG state, no
  * Date.now, rerunnable):
  *  - documents: each replica r>0 wraps every doc's text in 12
  *    replica-specific salt tokens. WITHIN a replica the original
  *    exact-dup and near-dup structure is preserved verbatim (both
  *    members get the same salt, Jaccard unchanged); ACROSS replicas
  *    copies of one doc share ~52 of ~80 3-shingles (J ≈ 0.65 < 0.9
  *    threshold) so replicas never pair. Pair output therefore scales
  *    linearly in `factor` — a 10× corpus with 10× the dup mass, not a
  *    10×-deep duplicate pile (which would be the quadratic-output
  *    regime DedupSpec's 1000-copy fixture covers separately).
  *  - embeddings: replicas are fresh draws from the base fixture's own
  *    per-(label, dim) mean/stddev (cluster structure preserved,
  *    replicas decorrelated — a perturbed COPY would sit at cosine
  *    ≈ 0.99 to its source and quadratically inflate the near-dup
  *    output); ~3% planted twins per replica keep the near-dup rate of
  *    the base fixture.
  *  - part: replica r shifts p_size by r·50, so the (p_size, length
  *    band) block-key cardinality scales WITH the data and per-block
  *    density stays constant — the regime the fuzzy-join blocking
  *    design targets (a fixed-cardinality scale-up instead requires
  *    finer band keys; that trade-off is documented at the operator).
  */
object ScaleFixture {

  /** Generator version, part of every fixture root's key: v2 added
    * lineitem/orders for the relational scale family; v3 repartitions
    * their writes so the sf1 scan parallelism matches a real 10x lake;
    * v4 shifts lineitem.l_partkey by the SAME per-replica span as the
    * replicated part table — 10x the data means 10x the parts with the
    * same degree distribution, so graph queries over the co-purchase
    * structure scale the way a real lake does instead of densifying a
    * fixed node set; v5 adds replicated customers + consistent
    * o_custkey shifts, verbatim nation/region/supplier dims, and
    * time-extended events so the star-join and event-family scale
    * points have their tables. Bump it with any change to the output. */
  private val GeneratorVersion = 5

  private[graft] def scaleRoot: String = s"${graft.sources.StandingIndex.repoRoot}/target/scale"

  /** Fixture root of one `kind`, keyed by generator version, factor and
    * the base dir's path and content signal: a fixture built from a
    * different or regenerated base, or by an older generator, lives in
    * another root and is never served in its place. */
  private def root(kind: String, baseDir: String, factor: Int): String =
    s"$scaleRoot/${kind}_f${factor}_" + Committed.digest(baseDir,
      s"v$GeneratorVersion", factor.toString, Committed.contentSig(baseDir))

  /** The `factor`× fixture of `baseDir`, generated on first use and
    * committed through [[Committed.ensure]]; returns its dir.
    * Generation is NOT part of any timed region. */
  def ensure(spark: SparkSession, baseDir: String, factor: Int): String =
    Committed.ensure(root("sf", baseDir, factor))(
      write(spark, baseDir, _, factor))

  /** Embeddings-only fixture: same replica/twin construction as
    * [[ensure]] but generating nothing else — the capped-regime ANN
    * accuracy gate (r13) needs a corpus big enough that the shipped
    * per-bucket/per-query caps BIND (~16k+ vectors), and generating the
    * full relational fixture for one recall number would waste most of
    * the Verify budget. */
  def ensureEmbeddings(spark: SparkSession, baseDir: String,
                       factor: Int): String =
    Committed.ensure(root("emb", baseDir, factor))(
      writeEmbeddings(spark, baseDir, _, factor))

  /** Writes the `factor`× fixture of `baseDir` into `outDir`, with no
    * commit step: [[ensure]] commits it, and ScaleLinearitySpec calls it
    * into a fresh temp dir so every run checks the generator itself. */
  private[graft] def write(spark: SparkSession, baseDir: String, outDir: String,
                           factor: Int): Unit = {
    val reps = broadcast(spark.range(factor).select(col("id").as("rep")))

    // ---- documents --------------------------------------------------
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val nDocs = docs.count()
    val salt = concat_ws(" ",
      (0 until 12).map(i => concat(lit("rp"), col("rep"), lit(s"x$i"))): _*)
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * nDocs).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat_ws(" ", salt, col("text"), salt)).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // ---- embeddings -------------------------------------------------
    writeEmbeddings(spark, baseDir, outDir, factor)
    // ---- lineitem / orders ------------------------------------------
    // replica r shifts the order key space by r·(max+1) on BOTH tables,
    // so l_orderkey ⊆ o_orderkey holds per replica and the SMJ/agg
    // relational family (q1_agg, q_sort_global, q_window_running,
    // q_join_smj) scales with join consistency intact; per-key group
    // sizes stay constant (the 10× corpus has 10× the keys, not 10×-fat
    // groups — the regime a partitioned sort/agg/join should scale
    // linearly in)
    // repartition before write: the base sf0.1 files are single-split,
    // so an un-repartitioned crossJoin writes ONE 10x-sized file and the
    // sf1 scan gets ~2 splits — measuring scan-parallelism starvation,
    // not the operator (q1_agg read exponent 1.42 that way). A real 10x
    // lake has ~10x the files.
    // customers replicate with the same max(key)+1 span pattern, and
    // orders shift o_custkey consistently, so the star-join FK chain
    // (lineitem → orders → customer → nation → region) holds per
    // replica: 10× facts see 10× customers over the same fixed
    // nation/region dims (v5 — the q_star_join scale point needs it)
    val cust = spark.read.parquet(s"$baseDir/customer.parquet")
    val custSpan = cust.agg(max(col("c_custkey").cast("long")))
      .head().getLong(0) + 1
    cust.crossJoin(reps)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * custSpan)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    val ord = spark.read.parquet(s"$baseDir/orders.parquet")
    val keySpan = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    ord.crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * keySpan)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * custSpan)
      .drop("rep")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    // fixed-size dims copy verbatim (they broadcast; a real 10x lake
    // still has 25 nations / 5 regions)
    Seq("nation", "region", "supplier").foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    // events replicate by EXTENDING TIME: replica r shifts ts by
    // r·31 days (the base spans 30), so 10× events = 10× history at
    // constant event rate — time spines, session counts, and gap-fill
    // work scale linearly the way a longer-lived product's would,
    // instead of densifying a fixed month. event_id/user_id shift by
    // max+1 spans for uniqueness and 10× the user population.
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    val evSpan = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val userSpan = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    ev.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * evSpan)
      .withColumn("user_id", col("user_id") + col("rep") * userSpan)
      .withColumn("ts", expr("ts + make_dt_interval(rep * 31, 0, 0, 0)"))
      .drop("rep")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // l_partkey shifts by the part table's replica span — max(key)+1,
    // the same keySpan pattern as orders, NOT row count, so a sparse or
    // 1-based key space cannot silently overlap replica ranges (which
    // would densify the graph and break the lineitem→part FK) — so the
    // replicated lineitem still references the replicated part table
    // AND the per-replica co-purchase graph is disjoint: 10x data =
    // 10x nodes at constant degree, not a 10x-denser graph over a
    // fixed node set.
    val partSpan = spark.read.parquet(s"$baseDir/part.parquet")
      .agg(max(col("p_partkey").cast("long"))).head().getLong(0) + 1
    spark.read.parquet(s"$baseDir/lineitem.parquet").crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * keySpan)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * partSpan)
      .drop("rep")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // ---- part -------------------------------------------------------
    val part = spark.read.parquet(s"$baseDir/part.parquet")
    val sizeSpan = part.agg(max(col("p_size"))).head().getInt(0)
    part.crossJoin(reps)
      .select(
        (col("p_partkey") + col("rep") * partSpan).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"),
        (col("p_size") + col("rep") * sizeSpan).as("p_size"),
        col("p_retailprice"))
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")
  }

  /** Replica-scaled embeddings write shared by [[ensure]] and
    * [[ensureEmbeddings]]: replicas are fresh draws from the base
    * fixture's per-(label, dim) moments (decorrelated, cluster
    * structure preserved), plus ~3% planted twins per replica at
    * cosine ≈ 0.9998 to their source (twin id = source id +
    * factor·nVec). */
  private def writeEmbeddings(spark: SparkSession, baseDir: String,
                              outDir: String, factor: Int): Unit = {
    val reps = broadcast(spark.range(factor).select(col("id").as("rep")))
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val nVec = emb.count()
    val stats = emb
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x")).as("m"), stddev_pop(col("x")).as("sd"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    val labels = stats.keys.map(_._1).max + 1
    val dims = stats.keys.map(_._2).max + 1
    val meanLit = typedlit((0 until labels).map(l =>
      (0 until dims).map(d => stats((l, d))._1)))
    val sdLit = typedlit((0 until labels).map(l =>
      (0 until dims).map(d => stats((l, d))._2)))
    // uniform(-√3σ, √3σ) has variance σ² — same second moment as the
    // base clusters, which is what the SRP/IVF geometry keys off
    def u(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(seed, lit(2000001L)).cast("double") / 1000000.0 - 1.0
    val base = emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * nVec).as("vec_id"),
        when(col("rep") === 0, col("embedding").cast("array<double>"))
          .otherwise(transform(sequence(lit(0), lit(dims - 1)), i =>
            element_at(element_at(meanLit, col("label") + 1), i + 1) +
              u(xxhash64(col("vec_id"), col("rep"), i)) * lit(math.sqrt(3.0)) *
              element_at(element_at(sdLit, col("label") + 1), i + 1)))
          .as("embedding"),
        col("label"))
    val twins = base.filter(col("vec_id") >= nVec &&
        pmod(xxhash64(col("vec_id")), lit(33)) === 0)
      .select((col("vec_id") + lit(factor.toLong) * nVec).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + u(xxhash64(col("vec_id"), i, lit(7))) * 0.01).as("embedding"),
        col("label"))
    base.union(twins)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }
}
