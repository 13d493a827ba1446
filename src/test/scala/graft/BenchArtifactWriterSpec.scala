package graft

import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The artifact `Bench.writeFullArtifact` emits, read back the way its
  * consumers read it: a Jackson parse, and the quarantine's
  * [[Bench.artifactStats]] counting exactly the numeric sf1/sf3 legs.
  * A SparkSuite because the writer records the active session's
  * shuffle manager. */
class BenchArtifactWriterSpec extends SparkSuite {

  test("the written artifact parses and its stats count exactly the measured legs") {
    assert(spark eq SparkSession.active)
    val dir = Files.createTempDirectory("graft-artifact-writer")
    try {
      val out = dir.resolve("bench_full_r01.json")
      def m(wall: Double) = Bench.RunMeasure(wall, wall * 2, wall * 1.5)
      val scale = Seq(
        "q_three" -> Bench.ScalePoint(m(1.0), Some(m(10.0)), Some(m(30.0)),
          None, Some("a \"quoted\" note\nover two lines")),
        "q_two" -> Bench.ScalePoint(m(2.0), Some(m(20.0)), None, None, None),
        "q_cancelled" -> Bench.ScalePoint(m(1.0), None, None,
          Some(Bench.ScaleTimeoutSec), None),
        "q_truncated" -> Bench.ScalePoint(m(1.0), None, None, None, None,
          budgetTruncated = true))
      Bench.writeFullArtifact(out,
        timings = Map("q1_agg" -> 0.5, "q_sort_global" -> 0.7),
        allRuns = Map("q1_agg" -> Seq(0.9, 0.5), "q_sort_global" -> Seq(0.7)),
        rowCounts = Map("q1_agg" -> 4L, "q_sort_global" -> 100L),
        errors = Map.empty,
        skew = Map("skew_join_salted" -> 1.25),
        scale = scale,
        annRecall = (Some(0.9), None),
        sfDir = "/data/sf0.1",
        suiteCpu = Map("q1_agg" -> 1.2),
        suiteCompiles = Map("q1_agg" -> 7L),
        budgetSec = 2100,
        streaming = Seq("sf0.1" ->
          """"dedup": {"rows": 10, "wall_sec": 1.000, "n_batches": 4}"""))
      val root = new ObjectMapper().readTree(Files.readAllBytes(out))
      assert(root.get("sf").asText == "sf0.1")
      assert(root.get("n_queries").asInt == 2)
      assert(root.get("queries").get("q1_agg").get("cpu_sec").asDouble == 1.2)
      assert(root.get("queries").get("q1_agg").get("janino_compiles").asLong == 7L)
      assert(!root.get("queries").get("q_sort_global").has("janino_compiles"))
      assert(root.get("streaming").get("sf0.1").get("dedup").get("rows").asInt == 10)
      val pts = root.get("scale_points").get("queries")
      assert(pts.size == 4)
      val three = pts.get("q_three")
      assert(three.get("exponent").asDouble == 1.0)
      assert(three.get("exponent_3pt").asDouble == 1.0)
      assert(three.get("exponent_cpu").asDouble == 1.0)
      assert(three.get("sf3_task_cpu_sec").asDouble == 45.0)
      assert(three.get("note").asText == "a \"quoted\" note\nover two lines")
      assert(pts.get("q_two").get("exponent").asDouble == 1.0)
      assert(!pts.get("q_two").has("exponent_3pt"))
      val cancelled = pts.get("q_cancelled")
      assert(cancelled.get("sf1_sec").isNull && cancelled.get("exponent").isNull)
      assert(cancelled.get("cancelled_at_sec").asInt == Bench.ScaleTimeoutSec)
      assert(pts.get("q_truncated").get("budget_truncated").asBoolean)
      assert(root.get("n_budget_truncated").asInt == 1)
      // q_three's sf1 + sf3 and q_two's sf1; the cancelled and the
      // truncated points contribute their nulls, not legs
      assert(Bench.artifactStats(out) == Bench.ArtifactStats("sf0.1", 1, 3))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
    }
  }
}
