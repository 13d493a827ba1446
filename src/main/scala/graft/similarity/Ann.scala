package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.vector.VectorFunctions

/** Similarity search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The (small) query set is
  *    broadcast, so the candidate table is scanned ONCE with no shuffle
  *    of the candidates; only the q×k result rows move. This is the
  *    correctness baseline and is already the right plan for "few
  *    queries against a 100 TB corpus".
  *  - [[lshTopK]]: signed-random-projection LSH. Each vector gets a
  *    64-bit sign signature from fixed pseudo-random hyperplanes;
  *    candidates must share one of `bands` signature chunks. Cost: one
  *    shuffle on band keys, pairs only within buckets — the n×m cross
  *    join never exists. Band width trades recall vs candidate volume:
  *    16×4-bit bands give ~0.9 recall at cosine ≈ 0.4 (this corpus);
  *    a high-similarity corpus (near-dups at 0.95+) would use 8×8.
  *
  * Shuffle hygiene (the rule every banded operator here follows): band
  * keys and ids are the ONLY columns that ever enter an exchange.
  * Vector payloads stay with their partition until after candidate
  * pairs are deduplicated to bare id pairs; at 64-dim×8 B a vector is
  * ~0.5 KB, so shuffling it once per duplicate band hit would multiply
  * exchange volume by orders of magnitude for zero information.
  */
object Ann {

  /** GroupTopK heap budget for the BOUNDED corpus-vs-corpus path: its
    * final passes buffer multi-million rows per task at the 30× scale
    * point (~3M copied rows live in priority queues per task — the r10
    * GC-storm finding), where the spillable external-sort fallback is
    * strictly faster. Passed per-call so the default
    * ([[graft.plans.GroupTopK.DefaultMaxBufferedRows]], 4M) stays
    * tuned for the mid-size finals every other GroupTopK user has. */
  val AnnTopKBudget: Long = 1L * 1024 * 1024

  /** Ceiling on the query-vector broadcast in [[lshTopKBounded]]'s
    * re-rank (conf `spark.graft.ann.broadcastMaxBytes`, default 1 GiB —
    * conservative vs Spark's 8 GB broadcast hard limit and typical
    * driver headroom). The guard's size estimate is PAYLOAD-ONLY
    * (rows·dim·8 B — it does not model the qid key, JVM object headers,
    * or the BroadcastHashedRelation's hash array, which together run
    * 2–4× the payload), so the estimate is compared against HALF this
    * ceiling; size the conf for raw vector bytes and the safety factor
    * absorbs the relation overhead. The re-rank contract is "shard the
    * queries so the active query-vector table broadcasts"; when a
    * caller exceeds the ceiling anyway, the join falls back to the
    * shuffled-hash shape — slower (query vectors cross a qid exchange)
    * but it degrades instead of dying on the broadcast/driver-memory
    * cliff. */
  val BroadcastMaxBytesKey = "spark.graft.ann.broadcastMaxBytes"
  val DefaultBroadcastMaxBytes: Long = 1L << 30

  /** 64-bit SRP signature of a vector column — a single native
    * expression (see [[graft.expressions.SrpSignature]] for why it must
    * not be built from per-plane literal-array sub-expressions). */
  def srpSignature(vec: Column, dim: Int, bits: Int = 64, seed: Long = 42L): Column =
    graft.expressions.SrpSignatureExpression.srpSignature(
      VectorFunctions.asDouble(vec), dim, bits, seed)

  /** Attach exploded band keys: each signature is materialized ONCE as a
    * column, then bands are cheap bitwise slices of it — never inline
    * the 64-dot signature expression into every band (it would be
    * re-evaluated per band).
    *
    * `numSigs` independent signatures (seeds baseSeed..baseSeed+n-1)
    * extend banding beyond 64 bits: b = bands·numSigs total bands. For a
    * pair at cosine τ, per-bit agreement is p = 1 − acos(τ)/π and the
    * miss probability is (1 − p^(bits/bands))^b — e.g. τ=0.4, 4-bit
    * bands, b=64 → (1 − 0.631⁴)⁶⁴ ≈ 1.6e-5.
    */
  /** Attach the `numSigs` signature columns (`__sig0..`) without
    * exploding bands — callers that collapse identical-signature groups
    * first (Dedup.embeddingPairs) band the group representatives only. */
  private[graft] def withSignatures(df: DataFrame, vecCol: String, dim: Int,
                                    bits: Int, numSigs: Int,
                                    baseSeed: Long = 42L): DataFrame = {
    val sigCols = (0 until numSigs).map(s =>
      srpSignature(col(vecCol), dim, bits, baseSeed + s).as(s"__sig$s"))
    df.select(col("*") +: sigCols: _*)
  }

  /** Explode a row per (band, key) slice of the attached `__sigN`
    * columns; band keys are a pure function of the signatures, so every
    * member of an identical-signature group gets identical band keys. */
  private[graft] def explodeBands(df: DataFrame, numSigs: Int, bits: Int,
                                  bands: Int,
                                  keepSigs: Boolean = false): DataFrame = {
    val width = bits / bands
    val mask = (1L << width) - 1
    val bandStructs = for { s <- 0 until numSigs; c <- 0 until bands } yield
      struct(lit(s * bands + c).as("band"),
        shiftright(col(s"__sig$s"), c * width).bitwiseAND(lit(mask)).as("key"))
    val exploded = df.withColumn("bk", explode(array(bandStructs: _*)))
    if (keepSigs) exploded
    else exploded.drop((0 until numSigs).map(s => s"__sig$s"): _*)
  }

  private[graft] def withBandKeys(df: DataFrame, vecCol: String, dim: Int,
                                  bits: Int, bands: Int, numSigs: Int = 1,
                                  baseSeed: Long = 42L): DataFrame =
    explodeBands(withSignatures(df, vecCol, dim, bits, numSigs, baseSeed),
      numSigs, bits, bands)

  /** Exact top-k neighbors for each query row, ranked by cosine rounded
    * to 3 decimals with id tie-break (fully deterministic). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      VectorFunctions.asDouble(col(vecCol)).as("qv"))
    val c = candidates.select(col(idCol).as("nid"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos_sim", VectorFunctions.cosineRounded(col("qv"), col("cv"), 3))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos_sim"), col("rk"))
  }

  /** IVF (inverted-file) approximate top-k: the corpus is partitioned
    * into `nCells` Voronoi cells around centroid vectors; each query
    * probes only its `nProbe` nearest cells, so the scored candidate set
    * is ~(nProbe/nCells) of the corpus instead of all of it.
    *
    * Centroids here are a deterministic exemplar (the lowest `nCells`
    * candidate ids); production would k-means them — centroid quality
    * affects recall only, the index/search machinery is identical. The
    * centroid table is the ONE deliberate driver round-trip (nCells×dim
    * doubles — a small dim table broadcast inside a native expression,
    * [[graft.expressions.TopCentroids]]), which makes cell assignment a
    * map-side projection: the corpus is never shuffled to be indexed.
    * Candidate generation then follows the same shuffle hygiene as
    * [[lshTopK]]: (qid, nid, cell) ids through every exchange, vectors
    * re-attached by broadcast joins afterward.
    */
  /** Lloyd (k-means) refinement of IVF centroids, fully declarative:
    * assign each corpus vector to its nearest centroid map-side
    * ([[graft.expressions.TopCentroids]] — no shuffle to index), then
    * recompute each cell's mean by position (posexplode → partial+final
    * avg per (cell, dim) → re-assemble in dim order). Only the nCells×dim
    * centroid table ever reaches the driver — once per iteration, the
    * same deliberate round-trip the search path already makes. Empty
    * cells keep their previous centroid. NOT bit-deterministic: each
    * mean is a partial+final avg() over doubles, so summation order
    * (partitioning) can flip low-order centroid bits and borderline
    * cell assignments between runs — downstream consumers must treat
    * IVF results as recall-gated (as the accuracy artifact does), never
    * hash-compared. */
  def refineCentroids(corpus: DataFrame, vecCol: String,
                      init: Seq[Seq[Double]], iterations: Int): Seq[Seq[Double]] = {
    import graft.expressions.TopCentroidsExpression.topCentroids
    import org.apache.spark.storage.StorageLevel
    var cents = init
    // Cache the projected corpus vectors ONCE for the whole refinement:
    // the per-iteration cell ASSIGNMENT must be recomputed (centroids
    // move), but the scanned/decoded vector column never changes — so
    // without this each Lloyd iteration pays a full source re-scan.
    // MEMORY_AND_DISK spills rather than OOMs when the corpus outgrows
    // executor storage memory (at true 100 TB you'd refine on a sample).
    val cached = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    try for (_ <- 1 to iterations) {
      val means = cached
        .select(col(vecCol).as("v"),
          element_at(topCentroids(col(vecCol), cents, 1), 1).as("cell"))
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"), expr("transform(dm, p -> p.m)").as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    } finally cached.unpersist(blocking = false)
    cents
  }

  def ivfTopK(queries: DataFrame, candidates: DataFrame,
              idCol: String, vecCol: String, k: Int, dim: Int,
              nCells: Int = 16, nProbe: Int = 4,
              kmeansIters: Int = 2): DataFrame = {
    import graft.expressions.TopCentroidsExpression.topCentroids
    val q = queries.select(col(idCol).as("qid"),
      VectorFunctions.asDouble(col(vecCol)).as("qv"))
    val c = candidates.select(col(idCol).as("nid"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    val seeds: Seq[Seq[Double]] = c.orderBy(col("nid")).limit(nCells)
      .select(col("cv")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cents = refineCentroids(c.select(col("cv")), "cv", seeds, kmeansIters)
    val cellsC = c.select(col("nid"),
      element_at(topCentroids(col("cv"), cents, 1), 1).as("cell"))
    val probes = q.select(col("qid"),
      explode(topCentroids(col("qv"), cents, nProbe)).as("cell"))
    val cand = probes.join(cellsC, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .distinct()
    val scored = c.join(broadcast(cand), "nid")
      .join(broadcast(q), "qid")
      .withColumn("cos_sim", VectorFunctions.cosineRounded(col("qv"), col("cv"), 3))
      .select(col("qid"), col("nid"), col("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos_sim"), col("rk"))
  }

  /** Approximate top-k via SRP-LSH bucketing: same output shape as
    * [[bruteForceTopK]] but only candidates sharing a signature band are
    * scored. Recall is checked in the test suite against brute force.
    *
    * The band join and the candidate dedup both carry (qid, nid) ids
    * ONLY — never the vectors. Vectors re-attach afterwards: the query
    * side is broadcast (few queries by contract), and the candidate-pair
    * table is broadcast against the corpus so the corpus itself never
    * shuffles. The one post-scoring exchange (window over qid) carries
    * three scalar columns.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame,
              idCol: String, vecCol: String, k: Int, dim: Int,
              bits: Int = 64, bands: Int = 16): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      VectorFunctions.asDouble(col(vecCol)).as("qv"))
    val c = candidates.select(col(idCol).as("nid"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    val qb = withBandKeys(q, "qv", dim, bits, bands).select(col("qid"), col("bk"))
    val cb = withBandKeys(c, "cv", dim, bits, bands).select(col("nid"), col("bk"))
    val cand = qb.join(cb, "bk")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .distinct()
    val scored = c.join(broadcast(cand), "nid")
      .join(broadcast(q), "qid")
      .withColumn("cos_sim", VectorFunctions.cosineRounded(col("qv"), col("cv"), 3))
      .select(col("qid"), col("nid"), col("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos_sim"), col("rk"))
  }

  /** IVF top-k for LARGE query sets — the cell-probe analog of
    * [[lshTopKShuffled]]: cell assignment stays a map-side projection
    * (the centroid table is tiny and lives inside the expression), but
    * candidate generation and vector re-attachment are SHUFFLED hash
    * joins keyed on (cell) and (qid/nid) — no broadcast of the
    * candidate-pair table or the query side. */
  def ivfTopKShuffled(queries: DataFrame, candidates: DataFrame,
                      idCol: String, vecCol: String, k: Int, dim: Int,
                      nCells: Int = 16, nProbe: Int = 4,
                      kmeansIters: Int = 2): DataFrame = {
    import graft.expressions.TopCentroidsExpression.topCentroids
    val q = queries.select(col(idCol).as("qid"),
      VectorFunctions.asDouble(col(vecCol)).as("qv"))
    val c = candidates.select(col(idCol).as("nid"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    val seeds: Seq[Seq[Double]] = c.orderBy(col("nid")).limit(nCells)
      .select(col("cv")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cents = refineCentroids(c.select(col("cv")), "cv", seeds, kmeansIters)
    val cellsC = c.select(col("nid"),
      element_at(topCentroids(col("cv"), cents, 1), 1).as("cell"))
    val probes = q.select(col("qid"),
      explode(topCentroids(col("qv"), cents, nProbe)).as("cell"))
    val cand = probes.join(cellsC.hint("shuffle_hash"), "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .distinct()
    val scored = cand.join(c.hint("shuffle_hash"), "nid")
      .join(q.hint("shuffle_hash"), "qid")
      .withColumn("cos_sim", VectorFunctions.cosineRounded(col("qv"), col("cv"), 3))
      .select(col("qid"), col("nid"), col("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos_sim"), col("rk"))
  }

  /** SRP-LSH top-k for LARGE query sets (corpus-vs-corpus retrieval):
    * identical banding and scoring to [[lshTopK]], but every join is a
    * SHUFFLED hash join — when both sides are 100 TB-shaped, neither the
    * query set nor the candidate-pair table fits in a broadcast. The
    * band join co-partitions both sides on the band key; vectors then
    * re-attach through hash joins keyed on the bare ids, so exchanges
    * still carry (id, band) / (qid, nid) rows only and each side's
    * vector payload moves at most once. The `shuffle_hash` hints pin the
    * strategy so a small test fixture exercises the same plan the big
    * run would get (and the plan spec can assert no BroadcastExchange).
    */
  def lshTopKShuffled(queries: DataFrame, candidates: DataFrame,
                      idCol: String, vecCol: String, k: Int, dim: Int,
                      bits: Int = 64, bands: Int = 16,
                      numSigs: Int = 1): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      VectorFunctions.asDouble(col(vecCol)).as("qv"))
    val c = candidates.select(col(idCol).as("nid"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    val qb = withBandKeys(q, "qv", dim, bits, bands, numSigs)
      .select(col("qid"), col("bk"))
    val cb = withBandKeys(c, "cv", dim, bits, bands, numSigs)
      .select(col("nid"), col("bk"))
    val cand = qb.join(cb.hint("shuffle_hash"), "bk")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .distinct()
    val scored = cand.join(c.hint("shuffle_hash"), "nid")
      .join(q.hint("shuffle_hash"), "qid")
      .withColumn("cos_sim", VectorFunctions.cosineRounded(col("qv"), col("cv"), 3))
      .select(col("qid"), col("nid"), col("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos_sim"), col("rk"))
  }

  /** BOUNDED corpus-vs-corpus SRP-LSH top-k — [[lshTopKShuffled]] with
    * two deterministic caps that turn its Ω(q·n·γ) candidate space
    * (γ = band collision rate; the measured exponent-2.28 scale killer)
    * into O(q · numSigs·bands · maxBucket) work:
    *
    *  1. Per-BUCKET cap: each band bucket keeps its `maxBucket`
    *     lowest-`xxhash64(band, key, nid)` corpus entries (a seeded,
    *     order-independent sample of the bucket). A band join emits at
    *     most q_b · maxBucket pairs per bucket, so total candidates are
    *     ≤ q · totalBands · maxBucket — LINEAR in the query count,
    *     corpus size out of the bound entirely.
    *  2. Per-QUERY cap: candidates are ranked by the number of shared
    *     bands (the standard LSH collision-count estimator), ties
    *     broken by SIGNATURE HAMMING DISTANCE over all numSigs·bits
    *     signature bits — an unbiased estimator of the pair's angle.
    *     Signatures are attached to the DISTINCT candidate pairs by
    *     id-keyed joins against the compact per-id signature tables
    *     (never carried through the band exchange — see the slim-join
    *     note in the body). Only the `capPerQuery` best proceed to
    *     exact cosine re-ranking, bounding the expensive stage (vector
    *     re-attachment + 64-dim dot) per query.
    *
    * BAND GEOMETRY (why 128 × 8-bit bands from 16 signatures, not the
    * 16 × 4-bit bands the uncapped paths use): with 4-bit bands there
    * are only 16 buckets per band, so buckets hold n/16 entries and the
    * bucket cap degenerates into a RANDOM corpus sample long before the
    * interesting scale — measured at the 20.6k-vector sf1 point:
    * banding alone finds 0.935 of the exact top-5, the binding bucket
    * caps drop that to 0.684, and ranking the survivors by only 64
    * hamming bits truncates to 0.303-0.335. Narrow 8-bit bands give
    * 256 buckets per band (bucket ≈ n/256 — the cap binds ~16× later
    * and degrades gracefully), many more bands give back the collision
    * probability the narrower bands lose (128 of them also keep the
    * tiny-corpus regime covered: sf0.01 accuracy 0.932 vs the old
    * 0.884), and the 16 signatures stack to a 1024-bit hamming proxy
    * sharp enough that the per-query cap keeps estimated-nearest
    * instead of an id-ordered lottery. Measured at sf1 with
    * maxBucket=64/capPerQuery=2000: sampled top-5 recall vs brute
    * 0.916 (was 0.303), planted-twin recall 1.0, registry
    * corpus-vs-corpus time ≈ the old config's (≈50 s — same 8192
    * candidate bound per query: 128·64 = the old 16·512). maxBucket=64
    * is chosen so the bucket cap BINDS from n ≈ 16k up — per-query
    * work is a constant 8192 candidates at every measured scale point
    * above sf1, which is what makes the ≥sf1 scaling legs linear in q
    * instead of drifting with bucket growth.
    *
    * Both caps run through [[graft.plans.GroupTopK]], whose
    * partial-per-partition heaps bound the EXCHANGE as well as the
    * result (no bucket's full membership is ever collected into one
    * task's sort buffer). Both are no-ops when the data is smaller than
    * the cap — on the sf0.01 accuracy fixture every bucket is far under
    * `maxBucket`, so recall there is banding-limited, not cap-limited.
    * Caps are deterministic (hash/id tie-breaks), so the output is
    * stable across partitionings like every other query here.
    */
  def lshTopKBounded(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int, dim: Int,
                     bits: Int = 64, bands: Int = 8,
                     maxBucket: Int = 64,
                     capPerQuery: Int = 2000,
                     numSigs: Int = 16): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      VectorFunctions.asDouble(col(vecCol)).as("qv"))
    val c = candidates.select(col(idCol).as("nid"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    val cb = boundedBandTable(candidates, idCol, vecCol, dim, bits, bands,
      maxBucket, numSigs)
    lshRankServe(q, cb, c, k, dim, bits, bands, capPerQuery, numSigs,
      maxBucket)
  }

  /** The registry/default bounded-mode signature count — the persisted
    * index DDL ([[graft.sources.StandingIndex.ensureLshBounded]]) needs
    * it to name the sn0..snN columns. */
  val BoundedNumSigs = 16

  /** The CORPUS side of the bounded path, as a standalone table:
    * signatures attached, band keys exploded and FLATTENED to (band,
    * key) columns, per-bucket membership capped at `maxBucket` via
    * GroupTopK — i.e. everything [[lshTopKBounded]] recomputes over the
    * candidate set per invocation. [[graft.sources.StandingIndex]]
    * persists exactly this table (bucketed by key) so a serve pays
    * none of it. The cap's hash order folds (band, key, nid) exactly
    * as the old struct form did (Spark's xxhash64 folds struct fields
    * in sequence), so capped membership — and therefore every output —
    * is bit-identical to the pre-refactor plan. */
  private[graft] def boundedBandTable(candidates: DataFrame, idCol: String,
                                      vecCol: String, dim: Int,
                                      bits: Int = 64, bands: Int = 8,
                                      maxBucket: Int = 64,
                                      numSigs: Int = 16): DataFrame = {
    val c = candidates.select(col(idCol).as("nid"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    val sigCols = (0 until numSigs).map(s => col(s"__sig$s").as(s"sn$s"))
    graft.plans.GroupTopK.topKPerGroup(
      explodeBands(withSignatures(c, "cv", dim, bits, numSigs),
          numSigs, bits, bands, keepSigs = true)
        .select(Seq(col("nid"), col("bk.band").as("band"),
          col("bk.key").as("key")) ++ sigCols: _*),
      groupCols = Seq(col("band"), col("key")),
      order = Seq(xxhash64(col("band"), col("key"), col("nid")).asc,
        col("nid").asc),
      k = maxBucket, maxBufferedRows = AnnTopKBudget)
  }

  /** The QUERY side of the bounded path: band the (qid, qv) query set,
    * collide it against a corpus band table `cb` (transient or
    * persisted — when persisted+bucketed by key, the index side joins
    * exchange-free), rank candidates by stacked-signature hamming,
    * cap per query, exact-cosine re-rank against `cVecs` (nid, cv).
    * Shared verbatim by [[lshTopKBounded]] and the standing-index
    * serve so the two paths cannot drift. */
  private[graft] def lshRankServe(q: DataFrame, cb: DataFrame,
                                  cVecs: DataFrame, k: Int, dim: Int,
                                  bits: Int = 64, bands: Int = 8,
                                  capPerQuery: Int = 2000,
                                  numSigs: Int = 16,
                                  maxBucket: Int = 64): DataFrame = {
    val qSigCols = (0 until numSigs).map(s => col(s"__sig$s").as(s"sq$s"))
    val qb = explodeBands(withSignatures(q, "qv", dim, bits, numSigs),
        numSigs, bits, bands, keepSigs = true)
      .select(Seq(col("qid"), col("bk.band").as("band"),
        col("bk.key").as("key")) ++ qSigCols: _*)
    // hamming over ALL numSigs·bits signature bits — identical per pair
    // across band rows, so min() just picks it portably. It is computed
    // IN the band-join stage (map-side on the join output, before any
    // further exchange): an attempted round-10 "slim" variant that
    // attached signatures to the distinct pairs AFTER the collision
    // aggregate instead measured 2.6× SLOWER at sf1 — the pair table
    // (~bands·maxBucket rows per query) is an order of magnitude larger
    // than the band rows, so re-keying it twice (by nid, then qid) with
    // 128 B of signatures aboard costs far more than the band exchange
    // it saves.
    val ham = (0 until numSigs)
      .map(s => bit_count(col(s"sq$s").bitwiseXOR(col(s"sn$s"))))
      .reduce(_ + _)
    // The collision stream is ~bands·maxBucket rows per query (8 192
    // here) with nearly-unique (qid, nid) keys: partial aggregation
    // cannot shrink it (a pair's duplicates live in OTHER band
    // partitions), so the aggregate's cost is dominated by the FINAL
    // hash maps. At the default fan-out (32 partitions) each final
    // task's map holds ~n·8192/5/32 entries — ~100 MB/task at the 10×
    // point but ~3 M entries/task at 30× — and 32 concurrent maps of
    // that size cross into spill + GC territory: the r9 artifact's
    // unexplained sf1→sf3 wall 1.79/cpu 2.26 leg. The explicit
    // high-fan-out repartition pins many SMALL aggregation tasks
    // (explicit numPartitions ⇒ AQE does not coalesce it away); same
    // bytes through the exchange, no concurrent-map cliff.
    // r16: the fan-out is SIZED from the measured query count (the
    // same count() the re-rank broadcast guard below already pays, so
    // the sizing job is shared) instead of a pinned 256 — at sf0.1
    // the constant spread 10 CPU-s of aggregation across 256 tasks
    // whose scheduling + GC cost 45 task-seconds (RunStages stage 18),
    // while at 30× it under-provisioned nothing. Target ~256k map
    // entries per final task (the collision bound is nQ·bands·
    // maxBucket rows), floored at the session's shuffle width and
    // capped at 4096; the guard's opt-out path (no count available)
    // keeps the old constant.
    val spark = q.sparkSession
    val bcastMax = spark.conf
      .get(BroadcastMaxBytesKey, DefaultBroadcastMaxBytes.toString).toLong
    val effMax = bcastMax / 2
    val nQ = if (effMax >= Long.MaxValue / 4) -1L
      else q.select(col("qid")).count()
    val shuffleParts = spark.sessionState.conf.numShufflePartitions
    val aggParts = if (nQ < 0) math.max(256, shuffleParts)
      else math.max(shuffleParts,
        math.min(4096L,
          nQ * numSigs * bands * maxBucket / 262144L + 1L).toInt)
    val cand = qb.join(cb.hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), ham.as("ham"))
      .repartition(aggParts, col("qid"), col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(count(lit(1)).as("nshared"), min(col("ham")).as("ham"))
    val capped = graft.plans.GroupTopK.topKPerGroup(cand,
      groupCols = Seq(col("qid")),
      order = Seq(col("nshared").desc, col("ham").asc, col("nid").asc),
      k = capPerQuery, maxBufferedRows = AnnTopKBudget)
      .select(col("qid"), col("nid"))
    // RE-RANK (round-10 rework; r10 sf3 stage profile): the old shape —
    // shuffled cv attach, then a qid exchange of every capped pair WITH
    // its 520 B vector aboard, then a window sort of all q·capPerQuery
    // rows to keep 5 — wrote 9.8 GB of vector-laden exchange at the 30×
    // point (5 200 task-s, the largest stage in the query). Now: the
    // corpus-side attach stays a SHUFFLED hash join (the unbounded side
    // never broadcasts), the query-side vectors attach by BROADCAST —
    // an ANN re-rank serves queries in shards sized to keep the active
    // query-vector table broadcastable (here q·dim·8 B; shard the query
    // set at cluster scale) — so the cosine is computed in the SAME
    // stage as the cv attach and vectors never cross an exchange. The
    // top-5 then comes from GroupTopK partial heaps in that stage too:
    // the only post-score exchange carries ≤ 5 scalar rows per (qid,
    // partition) instead of all capped pairs.
    // broadcast() bypasses autoBroadcastJoinThreshold, so the contract
    // needs its own guard: measure the query side (one column-pruned
    // count job — negligible next to the band stages) and only
    // broadcast when q·dim·8 B fits under HALF the configured ceiling
    // (the estimate is payload-only; the halving absorbs the qid key +
    // 2–4× BroadcastHashedRelation/JVM overhead it does not model, so a
    // ceiling raised toward Spark's 8 GB hard limit still cannot be
    // walked off the exact cliff the guard exists to prevent). Past it,
    // the query attach degrades to the shuffled-hash shape — the
    // pre-r10 plan: correct, vectors cross one qid exchange — instead
    // of failing on the 8 GB broadcast / driver-memory cliff. When the
    // ceiling is effectively unbounded (caller opted out of the guard),
    // the sizing count() — which re-executes the unmaterialized query
    // plan — is skipped entirely.
    val qBytes = if (nQ < 0) 0L else nQ * dim * 8L
    val qAttach = if (qBytes <= effMax) broadcast(q)
      else {
        System.err.println(f"[ann] re-rank query side ~${qBytes / 1e9}%.2f GB " +
          f"payload > ceiling/2 ${effMax / 1e9}%.2f GB (payload-only " +
          "estimate vs halved ceiling; relation overhead runs 2-4x) - " +
          "falling back to shuffled query attach (shard the query set " +
          "to restore the broadcast re-rank)")
        q.hint("shuffle_hash")
      }
    val scored = capped.join(cVecs.hint("shuffle_hash"), "nid")
      .join(qAttach, "qid")
      .withColumn("cos_sim", VectorFunctions.cosineRounded(col("qv"), col("cv"), 3))
      .select(col("qid"), col("nid"), col("cos_sim"))
    val top = graft.plans.GroupTopK.topKPerGroup(scored,
      groupCols = Seq(col("qid")),
      order = Seq(col("cos_sim").desc, col("nid").asc), k = k,
      maxBufferedRows = AnnTopKBudget)
    // rank numbers over the ≤ k survivors per query — q·k rows, not
    // q·capPerQuery
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    top.withColumn("rk", row_number().over(w))
      .select(col("qid"), col("nid"), col("cos_sim"), col("rk"))
  }
}
