package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Sessions.bench()` is the one bench-configured session: Bench times
  * it, Verify checks it, `graft.Dev` iterates on it. Pins its values and
  * keeps every other `SparkSession.builder` and `main` out of src/main,
  * so the copies cannot drift apart again. Own-session spec (stop,
  * clear, build, stop); suites run sequentially in the forked JVM. */
class SessionsSpec extends AnyFunSuite {

  test("the bench session carries the bench conf") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = Sessions.bench()
    try {
      val conf = spark.conf
      assert(conf.get("spark.shuffle.manager") ==
        "org.apache.spark.shuffle.graft.GraftShuffleManager")
      // ShuffleExchangeExec.needToCopyObjectsBeforeShuffle skips the
      // UnsafeRow.copy() of every row before a shuffle write only when
      // the manager isInstanceOf[SortShuffleManager]
      assert(org.apache.spark.shuffle.graft.ShuffleSeamAccess.isSortShuffleManager)
      assert(conf.get("spark.io.compression.codec") == "snappy")
      assert(conf.get("spark.io.compression.snappy.blockSize") == "128k")
      assert(SQLConf.get.autoBroadcastJoinThreshold == 67108864L)
      val cores = spark.sparkContext.master match {
        case s"local[$n]" => n.toInt
        case m => fail(s"unexpected master $m")
      }
      assert(SQLConf.get.numShufflePartitions == cores)
      assert(conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.sparkContext.getConf.get("spark.local.dir") == LocalDirs.dir)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("src/main builds sessions only in Sessions.scala; mains are Bench, Verify, Dev") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    val builders = files.collect {
      case (f, src) if src.contains("SparkSession.builder") => f
    }.toSet
    assert(builders == Set("Sessions.scala"), s"SparkSession.builder in $builders")
    // split each file at its top-level object declarations; a chunk
    // declares a main if it has `def main(` or extends App
    val objectDecl = """(?m)^(?:[\w\[\]]+ )*object\s+(\w+)""".r
    val hasMain = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val mains = files.flatMap { case (_, src) =>
      val starts = objectDecl.findAllMatchIn(src).toSeq
      starts.zip(starts.drop(1).map(_.start) :+ src.length).collect {
        case (m, end) if hasMain.findFirstIn(src.substring(m.start, end)).isDefined =>
          m.group(1)
      }
    }.toSet
    assert(mains == Set("Bench", "Verify", "Dev"), s"objects with main: $mains")
  }
}
