package graft

import graft.dedup.Dedup
import graft.text.TextFunctions
import org.apache.spark.sql.functions._

/** Pins the native MinHashSignature expression bit-identical to the
  * composed explode + `min(xxhash64(g, i))` aggregate it replaced: the
  * persisted standing indexes and every banded pair table are built on
  * these exact values, so the equivalence is a correctness contract,
  * not a performance detail. */
class MinHashSignatureSpec extends SparkSuite {

  private val K = 64

  /** The pre-r15 composed formulation, kept verbatim as the reference. */
  private def composed(sh: org.apache.spark.sql.DataFrame) = {
    val exploded = sh.select(col("id"), explode(col("sh")).as("g"))
    val mins = (0 until K).map(i =>
      min(xxhash64(col("g"), lit(i))).as(s"m$i"))
    exploded.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  private def shingleTable = Tables.documents(spark, sfDir)
    .select(col("doc_id").as("id"),
      TextFunctions.shingles(col("text"), 3).as("sh"))
    .filter(size(col("sh")) > 0)

  test("native signature == composed explode+agg, every doc, every seed") {
    val sh = shingleTable.localCheckpoint()
    val ref = composed(sh).collect()
      .map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    val got = Dedup.minhashSignatures(sh, K).collect()
      .map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    assert(got.keySet == ref.keySet)
    val bad = ref.keys.filter(id => got(id) != ref(id))
    assert(bad.isEmpty, s"signatures diverge for docs ${bad.take(5)}")
  }

  test("hostile shingles (unicode, empties, long runs) hash identically") {
    import spark.implicits._
    val rows = Seq(
      1L -> Seq("a", "éé café", "世界 hello"),
      2L -> Seq("", " ", "  double  space"),
      3L -> Seq("x" * 500, "mixed 😀 emoji", "tab\tchar"),
      4L -> Seq("solo"))
    val sh = rows.toDF("id", "sh")
    val ref = composed(sh).collect()
      .map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    val got = Dedup.minhashSignatures(sh, K).collect()
      .map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    assert(got == ref)
  }

  test("null shingle elements mirror the composed fold (hashInt(i, 42))") {
    // xxhash64 SKIPS a null child, leaving the fold state at the seed,
    // so a null element contributes hashInt(i, 42) to every min — the
    // native expression must reproduce that rather than NPE. (Current
    // producers emit containsNull=false; this pins the reusable
    // building block's semantics.)
    import spark.implicits._
    val rows = Seq(1L -> Seq("a", null, "b"), 2L -> Seq(null: String))
    val sh = rows.toDF("id", "sh")
    val ref = composed(sh).collect()
      .map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    val got = Dedup.minhashSignatures(sh, K).collect()
      .map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    assert(got == ref)
  }

  test("codegen and interpreted eval agree (doGenCode == nullSafeEval)") {
    import spark.implicits._
    val rows = Seq(
      1L -> Seq("a", "éé café", "世界 hello"),
      2L -> Seq("", " ", "x" * 500),
      3L -> Seq("solo"))
    val sh = rows.toDF("id", "sh")
    def run() = Dedup.minhashSignatures(sh, K).collect()
      .map(r => r.getLong(0) -> (1 to K).map(r.getLong).toVector).toMap
    val key = "spark.sql.codegen.factoryMode"
    val gen = withConf(key, "CODEGEN_ONLY")(run())
    val interp = withConf(key, "NO_CODEGEN")(run())
    assert(gen == interp)
  }

  test("empty shingle array yields no signature row (explode semantics)") {
    import spark.implicits._
    val sh = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]))
      .toDF("id", "sh")
    val ids = Dedup.minhashSignatures(sh, K)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }
}
