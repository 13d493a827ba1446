package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.sources.Committed

/** Pins the one commit protocol for on-disk builds
  * ([[graft.sources.Committed]]): a build becomes visible only through
  * the pointer flip, scale fixtures are keyed by their base, and no
  * other file in src/main grows a marker, pointer or lock of its own. */
class CommittedSpec extends SparkSuite {

  test("ensure builds once, commits generation 0, and nests under the lock") {
    val root = Files.createTempDirectory("graft-committed").toString
    try {
      var builds = 0
      def write(dir: String): Unit = {
        builds += 1
        Files.createDirectories(Paths.get(dir, "t"))
      }
      val dir = Committed.withProcessLock(root)(Committed.ensure(root)(write))
      assert(dir == s"$root/g0" && new File(dir, "t").isDirectory)
      assert(Committed.currentGen(root).contains(0))
      assert(Committed.ensure(root)(write) == dir)
      assert(builds == 1, "a committed root must not be rebuilt")
      assert(Committed.readMeta(dir).contains("base_sec"))
    } finally Committed.deleteRecursive(new File(root))
  }

  test("scale fixtures: two bases give two dirs, one base gives one") {
    val base = Files.createTempDirectory("graft-fixture-base")
    Files.copy(Paths.get(s"$sfDir/embeddings.parquet"),
      base.resolve("embeddings.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    val made = scala.collection.mutable.Buffer[String]()
    try {
      val a = ScaleFixture.ensureEmbeddings(spark, sfDir, 2)
      made += a
      val b = ScaleFixture.ensureEmbeddings(spark, base.toString, 2)
      made += b
      assert(a != b, "a fixture built from another base was served")
      assert(ScaleFixture.ensureEmbeddings(spark, sfDir, 2) == a)
      assert(Tables.embeddings(spark, a).count() ==
        Tables.embeddings(spark, b).count())
      // a base regenerated in place is another base
      assert(base.resolve("embeddings.parquet").toFile
        .setLastModified(System.currentTimeMillis() - 3600 * 1000))
      val c = ScaleFixture.ensureEmbeddings(spark, base.toString, 2)
      made += c
      assert(c != b, "a fixture of the pre-regeneration base was served")
    } finally {
      made.foreach(d => Committed.deleteRecursive(new File(d).getParentFile))
      Committed.deleteRecursive(base.toFile)
    }
  }

  test("src/main writes markers, pointers and locks only in Committed.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    val idioms = Seq(
      "a marker file" -> """createNewFile|_GRAFT_[A-Z]+(?:_[A-Z]+)*_v\d""".r,
      "an atomic-rename pointer" -> """ATOMIC_MOVE|_GRAFT_CURRENT""".r,
      "a file lock" -> """FileChannel|FileLock|tryLock\(|_GRAFT_LOCK""".r)
    val (own, others) = files.partition(_._1 == "Committed.scala")
    // positive control: the probes match the protocol's own code
    assert(own.nonEmpty && idioms.drop(1).forall(i => i._2.findFirstIn(own.head._2).isDefined),
      "probe broken: Committed.scala no longer matches the pointer/lock probes")
    val hits = for {
      (f, src) <- others
      (what, re) <- idioms if re.findFirstIn(src).isDefined
    } yield s"$f defines $what"
    assert(hits.isEmpty, s"use graft.sources.Committed instead: ${hits.mkString("; ")}")
  }
}
