package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.MinHashSignature
import graft.text.TextFunctions
import graft.vector.VectorFunctions
import graft.similarity.Ann

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the point of each algorithm):
  *  - exact: one hash-shuffle on the fingerprint — the minimum possible.
  *  - MinHash+LSH: shingle→minhash→band→bucket-join. Cost is linear in
  *    corpus size + quadratic only within a NARROW bucket; the full n²
  *    pair space is never materialized. Candidates are then verified with
  *    exact Jaccard so band/hash parameters only affect recall, never
  *    precision. With b=16 bands × r=4 rows, a pair at Jaccard 0.9 is
  *    missed with probability (1-0.9⁴)¹⁶ ≈ 4e-8 — statistically exact.
  *  - SimHash: 64-bit signature; candidates must share one of 4 16-bit
  *    chunks (any pair within Hamming distance 3 shares a chunk by
  *    pigeonhole — exact recall, not probabilistic).
  *  - embedding near-dup: SRP-LSH banded candidates verified with exact
  *    cosine; the brute-force all-pairs path survives only as the
  *    differential-test baseline.
  */
object Dedup {

  /** Exact dedup: one row kept per normalized-text fingerprint (min id
    * wins — deterministic). Single hash aggregation, no sort. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.select(TextFunctions.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures as ONE map-side native expression per doc
    * ([[graft.expressions.MinHashSignature]]): the shingle string is
    * hashed once and the k per-seed values derive from that 8-byte
    * state — bit-identical to the explode + `min(xxhash64(g, i))`
    * aggregate this replaces (MinHashSignatureSpec pins it), without
    * re-hashing the string k times or pushing one row per (doc,
    * shingle) through the aggregate machinery. No explode, no
    * aggregation, no exchange: signatures are a projection, so the
    * caller's partitioning flows through untouched. (Historical note:
    * k×`array_min(transform(...))` in one projection was measured 40×
    * slower than even the explode+agg form — interpreted lambdas per
    * element; the native expression sidesteps both.)
    *
    * Emits ONE ROW PER INPUT ROW: unlike the old `groupBy(id)` form,
    * duplicate `id`s are NOT collapsed into an element-wise min across
    * their combined shingle sets. All current callers (minhashPairs,
    * StandingIndex build/serve) feed unique ids; a caller with
    * duplicate ids must pre-aggregate. */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val sig = sh.filter(size(col("sh")) > 0)
      .select(col("id"), graft.expressions.MinHashSignatureExpression
        .minhashSignature(col("sh"), numHashes).as("__ms"))
    sig.select(col("id") +:
      (0 until numHashes).map(i => col("__ms").getItem(i).as(s"m$i")): _*)
  }

  /** Largest corpus (input rows) whose pairs `minhashPairs` finds on
    * the driver: where the two paths cross. Both timed on prefixes of
    * the 30x scale-up of the sf0.1 documents (salted, ~124 words, the
    * longest fixture documents; bench session, 4 cores, 7 GB heap):
    * 2^12 docs 0.8-0.9 s on the driver vs 4.1-4.7 s distributed, 2^13
    * 1.5-1.7 vs 5.1-5.8, 2^14 3.1-3.3 vs 7.2-8.5, 2^15 5.7-8.4 vs
    * 15.4-16.1 (collect 2.6-3.3 s, signatures 0.8 s, heap peak 0.9 GB).
    * At 2^16 the band collisions of that corpus (1.48M, growing with
    * the square of its replica count) pass [[LocalPairMax]], so the
    * driver attempt cost ~7 s before the distributed 29 s. */
  val LocalPairDocs: Int = 1 << 15

  /** Largest pair count the driver finish enumerates: band-bucket
    * collisions, then candidate pairs (see [[minhashPairs]]). Worst case
    * at the bound (1,448 copies of one 100-word document beside 2,000
    * others, 1,047,628 pairs, same host): the call took 1.4-1.8 s and
    * the heap peaked at 1.0-1.5 GB; the distributed plan took 64 s. */
  val LocalPairMax: Long = 1L << 20

  /** Candidate duplicate pairs via MinHash-LSH, verified with exact
    * Jaccard over the shingle sets. Returns (doc_a, doc_b, jaccard).
    *
    * Two paths compute the same rows, schema and nullability:
    *  - driver finish: when a limited count finds at most
    *    `localPairDocs` input rows, one collect fetches (id, shingles) of
    *    the documents with a non-empty shingle set, and the driver
    *    computes the signatures with the same kernel, groups, bands,
    *    expands and verifies as below, and returns a local frame
    *    (`DriverFinish.frame`). It falls back to the distributed plan
    *    when the rep pairs sharing a band bucket, or the candidate pairs
    *    counted from the group sizes (Σ C(m, 2) + Σ |ga|·|gb|, each
    *    member weighted by the rows its id has), exceed [[LocalPairMax]],
    *    so a duplicate-heavy corpus never builds an unbounded list.
    *    Worst cases at both bounds are measured at [[LocalPairDocs]] and
    *    [[LocalPairMax]];
    *  - distributed: the plan below, the only path above the bounds;
    *    `localPairDocs` = 0 forces it.
    * The driver finish exists because at a few thousand documents the
    * distributed plan's ~15 jobs and ~50 generated classes, not the
    * data, are the cost: with them a pipeline around this call
    * generated more classes than Spark's 100-entry codegen cache holds,
    * and compiled most of them again on every run.
    *
    * Skew hardening — duplicate-heavy corpora are the NORM for this
    * operator (that is why it exists), and every copy of a hot document
    * used to land in the same (band, key) bucket 16 times over:
    *  1. Docs are first collapsed by their FULL minhash signature
    *     (`gk = xxhash64(m0..m63)`). B identical copies contribute ONE
    *     row to the banding join, so bucket size is bounded by the
    *     number of DISTINCT signatures in a bucket, not by corpus
    *     multiplicity. Banding a representative is lossless: members
    *     share the signature, so rep-level band collisions are exactly
    *     member-level ones.
    *  2. Pair generation is a self-equi-join (sort-merge: streams one
    *     side, spills the buffered group) instead of `collect_set` into
    *     a single unbounded in-memory array.
    *  3. Within-signature-group pairs and cross-group expansions rejoin
    *     through bare (id, gk/rep) tables — ids only in every exchange.
    * Every candidate pair — same-signature or banded — still goes
    * through the exact-Jaccard verification, so the output is identical
    * to the unhardened formulation (and to the all-pairs oracle).
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 64,
                   bands: Int = 16, threshold: Double = 0.9,
                   localPairDocs: Int = LocalPairDocs): DataFrame = {
    val slim = docs.select(col(idCol).as("id"), col(textCol).as("gtxt"))
    // the size check takes up to localPairDocs + 1 column-less input
    // rows: a corpus above the bound pays a limited scan, not a shingle
    // collect, and the check adds one generated class, not a count's
    // aggregate stages (a pipeline near the codegen cache's 100 classes
    // recompiles when it grows)
    def fits = slim.select().limit(localPairDocs + 1)
      .queryExecution.executedPlan.executeCollect().length <= localPairDocs
    val local =
      if (localPairDocs <= 0 || !fits) None
      else {
        val rows = slim
          .select(col("id"),
            TextFunctions.shingles(col("gtxt"), shingleSize).as("sh"))
          .filter(size(col("sh")) > 0)
          .queryExecution.executedPlan.executeCollect()
        localPairs(rows, slim.schema("id").dataType, numHashes, bands, threshold)
      }
    local match {
      case Some(pairs) =>
        val idField = slim.schema("id")
        val schema = StructType(Seq(
          StructField("doc_a", idField.dataType, idField.nullable),
          StructField("doc_b", idField.dataType, idField.nullable),
          StructField("jaccard", DoubleType)))
        DriverFinish.frame(docs.sparkSession, pairs, schema)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 3).as("jaccard"))
      case None =>
        distributedPairs(slim, shingleSize, numHashes, bands, threshold)
    }
  }

  /** The driver finish of [[minhashPairs]] over collected (id, shingles)
    * rows: (doc_a, doc_b, unrounded jaccard) rows in Catalyst form, or
    * None when a count exceeds [[LocalPairMax]]. Each step computes what
    * its relational counterpart in [[distributedPairs]] computes,
    * duplicates included:
    *  - `gk` folds XXH64 over the signature, as `xxhash64(m0..m63)`;
    *  - a group's rep is its least non-null id, its signature the
    *    element-wise min;
    *  - band j's key is `XXH64.hashInt(j, 42)` folded with `hashLong`
    *    over the band's slice, as `xxhash64(lit(j), ...)`;
    *  - within-group pairs need a < b; a rep pair (ra < rb) expands to
    *    (least, greatest) of every member id of ra by every member id
    *    of rb, so a duplicate id in two groups can pair with itself, as
    *    in the join; null ids pair with nothing;
    *  - a candidate (a, b) is verified once per row of `a` by row of `b`
    *    (the join back to the shingle table), counting the intersection
    *    in distinct elements as `array_intersect` does.
    * Ids are compared by rank under Spark's ordering for `idType`. */
  private def localPairs(rows: Array[InternalRow], idType: DataType,
                         numHashes: Int, bands: Int,
                         threshold: Double): Option[Seq[InternalRow]] = {
    val r = numHashes / bands
    val ids = rows.map(row => if (row.isNullAt(0)) null else row.get(0, idType))
    val ranks = new DriverFinish.IdRanks(ids.iterator, idType)
    val rank = ids.map(ranks.rank)
    val sh = rows.map(_.getArray(1))
    val sigs = sh.map(MinHashSignature.compute(_, numHashes).toLongArray)

    val idRows = {
      val of = Array.fill(ranks.ids.length)(mutable.ArrayBuilder.make[Int])
      rows.indices.foreach(k => if (rank(k) >= 0) of(rank(k)) += k)
      of.map(_.result())
    }
    // rows a candidate end joins back to
    def weight(k: Int): Long = if (rank(k) < 0) 0L else idRows(rank(k)).length.toLong

    val byGk = mutable.HashMap.empty[Long, mutable.ArrayBuilder[Int]]
    rows.indices.foreach { k =>
      var h = 42L
      sigs(k).foreach(m => h = XXH64.hashLong(m, h))
      byGk.getOrElseUpdate(h, mutable.ArrayBuilder.make[Int]) += k
    }
    val groups = byGk.values.map(_.result()).toArray
    val reps = groups.map(_.map(rank).filter(_ >= 0).minOption.getOrElse(-1))

    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuilder[Int]]
    groups.indices.filter(reps(_) >= 0).foreach { gi =>
      val msig = sigs(groups(gi).head).clone()
      groups(gi).foreach(k => msig.indices.foreach(i => msig(i) = math.min(msig(i), sigs(k)(i))))
      (0 until bands).foreach { j =>
        var h = XXH64.hashInt(j, 42L)
        (j * r until (j + 1) * r).foreach(i => h = XXH64.hashLong(msig(i), h))
        buckets.getOrElseUpdate((j, h), mutable.ArrayBuilder.make[Int]) += reps(gi)
      }
    }
    val bucketReps = buckets.values.map(_.result())
    if (bucketReps.map(b => b.length.toLong * (b.length - 1) / 2).sum > LocalPairMax) return None
    val repPairs = mutable.HashSet.empty[(Int, Int)]
    bucketReps.foreach(b => for (x <- b; y <- b if x < y) repPairs += ((x, y)))

    // rows with an id under each rep, across the groups it represents
    val membersOf = groups.indices.filter(reps(_) >= 0)
      .flatMap(gi => groups(gi).filter(rank(_) >= 0).map(reps(gi) -> _))
      .groupMap(_._1)(_._2).map { case (rep, ks) => rep -> ks.toArray }
    // candidates weighted by the rows each end joins back to; within a
    // group this also counts equal-id pairs, an upper bound
    def w(ks: Array[Int]): Long = ks.map(weight).sum
    val withinCount = groups.map(g => (w(g) * w(g) - g.map(k => weight(k) * weight(k)).sum) / 2).sum
    val crossCount = repPairs.toSeq.map { case (ra, rb) => w(membersOf(ra)) * w(membersOf(rb)) }.sum
    if (withinCount + crossCount > LocalPairMax) return None

    // shingle sets as sorted distinct codes of one dictionary, built for
    // the rows a candidate reaches
    val codes = new java.util.HashMap[UTF8String, Integer]()
    val sets = new Array[Array[Int]](rows.length)
    def set(k: Int): Array[Int] = {
      if (sets(k) == null) {
        val a = sh(k)
        sets(k) = Array.tabulate(a.numElements()) { e =>
          val g = if (a.isNullAt(e)) null else a.getUTF8String(e)
          val c = codes.get(g)
          if (c != null) c.intValue else { val v = codes.size; codes.put(g, v); v }
        }.sorted.distinct
      }
      sets(k)
    }
    val out = mutable.ArrayBuffer.empty[InternalRow]
    def verify(a: Int, b: Int): Unit =
      for (i <- idRows(a); j <- idRows(b)) {
        val (x, y) = (set(i), set(j))
        var inter, p, q = 0
        while (p < x.length && q < y.length) {
          if (x(p) < y(q)) p += 1
          else if (x(p) > y(q)) q += 1
          else { inter += 1; p += 1; q += 1 }
        }
        val jac = inter.toDouble / (sh(i).numElements() + sh(j).numElements() - inter).toDouble
        if (jac >= threshold) out += InternalRow(ranks.ids(a), ranks.ids(b), jac)
      }
    groups.foreach { g =>
      val rs = g.map(rank).filter(_ >= 0)
      for (x <- rs; y <- rs if x < y) verify(x, y)
    }
    repPairs.foreach { case (ra, rb) =>
      for (ia <- membersOf(ra); ib <- membersOf(rb))
        verify(math.min(rank(ia), rank(ib)), math.max(rank(ia), rank(ib)))
    }
    Some(out.toSeq)
  }

  /** The distributed plan of [[minhashPairs]] over (id, gtxt). */
  private def distributedPairs(slim: DataFrame, shingleSize: Int, numHashes: Int,
                               bands: Int, threshold: Double): DataFrame = {
    val rows = numHashes / bands
    // Work-vs-bytes partitioning (r12): documents are tiny in BYTES but
    // every row fans out into shingle + 64-minhash compute, so a
    // bytes-based scan split can hand the whole signature stage ONE
    // task (stage profile at sf1: two 7.8 s single-task stages — the
    // sig computation re-derived per consumer branch — while 31 cores
    // sat idle). When the scan yields fewer partitions than the shuffle
    // width, buy eval parallelism with an explicit-count exchange (AQE
    // would coalesce the ~MB exchange right back), then a SECOND
    // exchange carrying the computed shingle arrays so all three
    // consumers of `sh` (signatures, the a-side and b-side verification
    // attaches) reuse one materialization instead of re-shingling per
    // branch (measured 3x the verification-stage CPU when they did).
    // At real lake scale the scan is already wide and these
    // corpus-sized exchanges would be pure I/O waste — the condition
    // keeps the 100 TB plan exchange-free here.
    val nPart = slim.sparkSession.sessionState.conf.numShufflePartitions
    val narrowScan = graft.Tables.scanIsNarrow(slim)
    val sh = {
      val base = if (narrowScan) slim.repartition(nPart, col("id")) else slim
      val arrays = base
        .select(col("id"),
          TextFunctions.shingles(col("gtxt"), shingleSize).as("sh"))
        .filter(size(col("sh")) > 0)
      if (narrowScan) arrays.repartition(nPart, col("id")) else arrays
    }

    val mcols = (0 until numHashes).map(i => col(s"m$i"))
    val keyed = minhashSignatures(sh, numHashes)
      .withColumn("gk", xxhash64(mcols: _*))

    // one row per distinct signature; min() carries the shared m_i values
    val aggs = min(col("id")).as("rep") +:
      (0 until numHashes).map(i => min(col(s"m$i")).as(s"m$i"))
    val groups = keyed.groupBy(col("gk")).agg(aggs.head, aggs.tail: _*)
    val members = keyed.select(col("id"), col("gk"))

    // pairs of docs sharing the full signature (the duplicate-heavy case)
    val within = members.select(col("gk"), col("id").as("a"))
      .join(members.select(col("gk"), col("id").as("b")), "gk")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))

    // band key j = one codegen'd hash over that band's r signature mins
    val bandStructs = (0 until bands).map { j =>
      val cols = (j * rows until (j + 1) * rows).map(i => col(s"m$i"))
      struct(lit(j).as("band"), xxhash64(lit(j) +: cols: _*).as("key"))
    }
    val banded = groups
      .select(col("rep"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("rep"), col("bk"))
    val repPairs = banded.select(col("bk"), col("rep").as("ra"))
      .join(banded.select(col("bk"), col("rep").as("rb")), "bk")
      .filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb"))
      .distinct()

    // expand rep-level band collisions to member pairs (groups are
    // disjoint, so cross-group pairs never duplicate within-group ones)
    // a null id pairs with nothing (least/greatest would skip it and
    // pair the other end with itself)
    val memRep = members.filter(col("id").isNotNull)
      .join(groups.select(col("gk"), col("rep")), "gk")
      .select(col("id"), col("rep"))
    val cross = repPairs
      .join(memRep.select(col("rep").as("ra"), col("id").as("ia")), "ra")
      .join(memRep.select(col("rep").as("rb"), col("id").as("ib")), "rb")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"))

    val cand = within.union(cross)

    val withSets = cand
      .join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sh_a"), "a")
      .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "sh_b"), "b")

    withSets
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(col("jaccard"), 3).as("jaccard"))
  }

  /** 64-bit SimHash per doc — a single native map-side expression
    * (see [[graft.expressions.SimHash64]]): bit b is set iff the
    * majority of distinct xxhash64'd tokens have bit b set. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.expressions.SimHashExpression.simhash64(col(textCol)).as("simhash"))

  /** Near-dup pairs within Hamming distance `maxHamming` (≤ 3 uses 4
    * 16-bit chunk blocking — exact by pigeonhole). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // one long per doc, computed map-side; the repartition spreads the
    // chunk-join work across cores (the fixture scan is one split) and
    // is the natural exchange at cluster scale too.
    val sig = simhash(docs, idCol, textCol).repartition(col("id"))
    val chunked = sig.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "ckey")))
    val a = chunked.select(col("chunk"), col("ckey"),
      col("id").as("a"), col("simhash").as("sig_a"))
    val b = chunked.select(col("chunk"), col("ckey"),
      col("id").as("b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Direct n-gram Jaccard pairs (no LSH) — the small-corpus/oracle
    * path; quadratic via an inverted shingle index rather than a cross
    * join, so only docs sharing ≥1 shingle ever pair. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, threshold: Double): DataFrame = {
    // Each inverted-index row carries its doc's set size, so |A| and |B|
    // flow through the pair aggregation as first() — no join-back to the
    // shingle table. The repartition is a deliberate exchange barrier:
    // it materializes (id, n, shingles) exactly once per doc and spreads
    // the pair-explosion across cores. Without it, whole-stage codegen
    // fuses scan→shingles→explode→join→agg into the scan's (single)
    // partition and defers the size() projection to the per-PAIR stream —
    // measured 10-20× slower. At cluster scale the barrier is the right
    // plan anyway: an inverted-index join wants to shuffle on its key.
    // The widen ahead of the shingle projection is the work-vs-bytes
    // move (r15): without it the shingling itself runs inside the
    // single-split fixture scan task; pass-through on a wide lake scan.
    // KNOWN double evaluation, inherent: the emptiness filter (and with
    // it one shingling pass) runs in the SCAN task below the widen
    // exchange, then the projection re-shingles post-exchange. Swapping
    // the explicit filter for a cheap bit-equivalent predicate
    // (size(split(g,' ',-1)) >= n) does NOT remove it — Catalyst's
    // InferFiltersFromGenerate re-infers size(wordshingles(g,n)) > 0
    // from the explode below and pushes it through the exchange anyway
    // (verified in the r16 plan), so the swap only adds a redundant
    // per-row split. Accepted and kept explicit.
    val inv = graft.Tables.widen(
        docs.select(col(idCol).as("id"), col(textCol).as("gtxt")), col("id"))
      .select(col("id"),
        TextFunctions.shingles(col("gtxt"), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("n"), col("sh"))
      .repartition(col("id"))
      .select(col("id"), col("n"), explode(col("sh")).as("g"))
    val pairs = inv.select(col("g"), col("id").as("a"), col("n").as("na"))
      .join(inv.select(col("g"), col("id").as("b"), col("n").as("nb")), "g")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
    pairs
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(col("jaccard"), 3).as("jaccard"))
  }

  /** Embedding near-dup: pairs with rounded cosine ≥ threshold, found
    * via SRP-LSH banding + exact-cosine verification — the all-pairs
    * space is never materialized.
    *
    * Candidate generation bands `numSigs` independent 64-bit SRP
    * signatures into `numSigs × bands` buckets; only ids sharing a
    * (band, key) pair up, ids-only through every exchange, and each
    * candidate is verified with the exact (rounded) cosine, so banding
    * parameters affect recall only, never precision. Miss probability
    * per true pair at cosine τ is (1 − p^w)^(bands·numSigs) with
    * p = 1 − acos(τ)/π and w the band width: τ=0.4, w=4, 64 bands →
    * ≈ 1.6e-5 (and falling fast as τ grows: ≈ 1e-26 at τ=0.9).
    *
    * Note the honest trade at LOW thresholds: τ=0.4 sits in the tail of
    * the random-pair cosine distribution, so 4-bit bands admit most
    * pairs as candidates — intrinsic to the task, not the plan. A real
    * near-dup pipeline runs at τ ≥ 0.8 where the same code prunes the
    * candidate space to ~0; wider bands (w=8) trade recall for pruning.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, dim: Int,
                     bits: Int = 64, bands: Int = 16,
                     numSigs: Int = 4): DataFrame = {
    val e = emb.select(col(idCol).as("id"),
      VectorFunctions.asDouble(col(vecCol)).as("v"))

    // Signature-collapse skew hardening (the minhash `gk` design, ported):
    // a dup-heavy corpus puts m identical vectors into EVERY one of the
    // numSigs×bands buckets, and banding ids directly would generate
    // 256·m² candidate rows before the distinct. Instead ids collapse to
    // one representative per full-signature tuple; within-group pairs are
    // emitted directly (m² once, the true output size), and only the reps
    // band — band keys are a pure function of the signature, so members
    // share their group's bands exactly and no candidate is lost. Every
    // candidate is still verified with the exact rounded cosine.
    // gk is a 64-bit hash OF the signature tuple, not the tuple itself: a
    // 2^-64 collision between distinct tuples would merge their groups and
    // band a chimera min() signature belonging to neither — a silent
    // recall loss strictly smaller than the SRP banding miss probability
    // itself (~1.6e-5 per true pair), accepted as part of the ANN error
    // budget; every surviving candidate is still exact-cosine verified.
    val sigs = Ann.withSignatures(e, "v", dim, bits, numSigs)
      .withColumn("gk", xxhash64((0 until numSigs).map(s => col(s"__sig$s")): _*))
    val members = sigs.select(col("id"), col("gk"))
    val groupAggs = min(col("id")).as("rep") +:
      (0 until numSigs).map(s => min(col(s"__sig$s")).as(s"__sig$s"))
    val groups = sigs.groupBy(col("gk")).agg(groupAggs.head, groupAggs.tail: _*)

    val within = members.select(col("gk"), col("id").as("a"))
      .join(members.select(col("gk"), col("id").as("b")), "gk")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))

    val bandedReps = Ann.explodeBands(groups.drop("gk"), numSigs, bits, bands)
      .select(col("rep"), col("bk"))
    val repPairs = bandedReps.select(col("bk"), col("rep").as("ra"))
      .join(bandedReps.select(col("bk"), col("rep").as("rb")), "bk")
      .filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb"))
      .distinct()
    val memRep = members
      .join(groups.select(col("gk"), col("rep")), "gk")
      .select(col("id"), col("rep"))
    val cross = repPairs
      .join(memRep.select(col("rep").as("ra"), col("id").as("ia")), "ra")
      .join(memRep.select(col("rep").as("rb"), col("id").as("ib")), "rb")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"))

    within.union(cross)
      .join(e.select(col("id").as("a"), col("v").as("va")), "a")
      .join(e.select(col("id").as("b"), col("v").as("vb")), "b")
      .withColumn("cos", VectorFunctions.cosineRounded(col("va"), col("vb"), 3))
      .filter(col("cos") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("cos").as("cos_sim"))
  }

  /** Brute-force all-pairs cosine — differential-test baseline ONLY
    * (O(n²); the id cap keeps tests honest about that). */
  def embeddingPairsBrute(emb: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, idCap: Long = Long.MaxValue): DataFrame = {
    val e = emb.filter(col(idCol) < idCap)
      .select(col(idCol).as("id"), VectorFunctions.asDouble(col(vecCol)).as("v"))
    val a = e.select(col("id").as("a"), col("v").as("va"))
    val b = e.select(col("id").as("b"), col("v").as("vb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosineRounded(col("va"), col("vb"), 3))
      .filter(col("cos") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("cos").as("cos_sim"))
  }

  /** Shingle CONTAINMENT pairs: |A ∩ B| / |A| ≥ threshold, A ≠ B —
    * the asymmetric cousin of Jaccard that catches a document embedded
    * inside a larger one (quote inclusion, page-in-crawl), which
    * symmetric Jaccard misses because the size difference dilutes the
    * union. Same inverted-index shape as [[ngramJaccardPairs]] (only
    * docs sharing ≥ 1 shingle ever pair; one exchange on the shingle
    * key, pair aggregation carries ids + counts only), emitted in both
    * directions since containment is directional. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int, threshold: Double): DataFrame = {
    // same widen-before-shingling as ngramJaccardPairs (work-vs-bytes),
    // same accepted scan-side filter double-eval (see note there:
    // InferFiltersFromGenerate re-infers it from the explode regardless)
    val inv = graft.Tables.widen(
        docs.select(col(idCol).as("id"), col(textCol).as("gtxt")), col("id"))
      .select(col("id"),
        TextFunctions.shingles(col("gtxt"), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("n"), col("sh"))
      .repartition(col("id"))
      .select(col("id"), col("n"), explode(col("sh")).as("g"))
    inv.select(col("g"), col("id").as("inner_doc"), col("n").as("na"))
      .join(inv.select(col("g"), col("id").as("outer_doc")), "g")
      .filter(col("inner_doc") =!= col("outer_doc"))
      .groupBy(col("inner_doc"), col("outer_doc"))
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"))
      .withColumn("c", col("inter") / col("na"))
      .filter(col("c") >= threshold)
      .select(col("inner_doc"), col("outer_doc"),
        round(col("c"), 3).as("containment"))
  }
}
