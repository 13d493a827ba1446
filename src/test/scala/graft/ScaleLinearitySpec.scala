package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll

import graft.sources.Committed

/** Promotes the bench's direct-count linearity adjudication
  * ([[ScaleCounts]], r11-r12) from a manual re-run into
  * a test: the ScaleFixture is disjoint-replica by construction —
  * replica r shifts every key space by r·span, so each replica's
  * co-purchase graph and (p_size, length-band) block structure is
  * ISOMORPHIC to the base — and therefore every workload count must
  * scale EXACTLY ∝ factor. A future plan or fixture edit that breaks
  * that (densified graph, saturated block key, replica crosstalk)
  * breaks this spec at test cost instead of surfacing as an
  * unexplained super-linear bench exponent.
  *
  * Runs on the sf0.001 fixture at factor 3 — the same generator and
  * counters the bench uses at sf0.1 → sf1/sf3, ~20 s total. The
  * fixture is written fresh into a temp dir on every run, never taken
  * from the committed cache under `target/scale`: that cache is keyed
  * by the generator VERSION, not its code, so a cached fixture would
  * hide an edit to the generator. */
class ScaleLinearitySpec extends SparkSuite with BeforeAndAfterAll {

  private val factor = 3

  private val scaledDir: String =
    Files.createTempDirectory("graft-scale-lin").toString

  private lazy val generated: String = {
    ScaleFixture.write(spark, sfDir, scaledDir, factor)
    scaledDir
  }

  override def afterAll(): Unit =
    try Committed.deleteRecursive(new File(scaledDir)) finally super.afterAll()

  test("graph workload counts scale exactly with the replica factor") {
    val base = ScaleCounts.graph(spark, sfDir)
    val big = ScaleCounts.graph(spark, generated)
    assert(big.nodes == factor * base.nodes, "nodes")
    assert(big.edges == factor * base.edges,
      s"edges ${big.edges} != $factor x ${base.edges} - replica graphs " +
        "are not disjoint copies (key-span overlap densified the graph?)")
    assert(big.walkSteps == factor * base.walkSteps, "triangle walk steps")
    assert(big.triangles == factor * base.triangles, "triangles")
    assert(big.lpaMessagesPerIter == factor * base.lpaMessagesPerIter,
      "LPA messages per iteration")
    assert(big.lpaGroups.size == base.lpaGroups.size &&
      big.lpaGroups.zip(base.lpaGroups).forall { case (b, s) => b == factor * s },
      s"LPA group cardinalities ${big.lpaGroups} != $factor x ${base.lpaGroups}")
  }

  test("fuzzy-join candidate pairs scale exactly with the replica factor") {
    val base = ScaleCounts.fuzzy(spark, sfDir)
    val big = ScaleCounts.fuzzy(spark, generated)
    assert(big.parts == factor * base.parts, "parts")
    assert(big.blocks == factor * base.blocks,
      "block count must grow with the corpus (p_size replica shift) - " +
        s"got ${big.blocks} vs $factor x ${base.blocks}")
    assert(big.maxBlock == base.maxBlock,
      "per-block occupancy must stay CONSTANT under scale-up - " +
        s"max block grew ${base.maxBlock} -> ${big.maxBlock}")
    assert(big.candidates == factor * base.candidates,
      s"candidate pairs ${big.candidates} != $factor x ${base.candidates} " +
        "- the blocking key saturated (quadratic-occupancy regime)")
    assert(big.results == factor * base.results, "result pairs")
  }
}
