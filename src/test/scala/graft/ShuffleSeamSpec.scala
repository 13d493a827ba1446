package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The engine must run unchanged on a swapped-in ShuffleManager (the
  * reference's RDMA-plugin plug point). Runs shuffle-heavy queries under
  * `spark.shuffle.manager=org.apache.spark.shuffle.graft.GraftShuffleManager`
  * and compares results to the default manager.
  *
  * NOT a SparkSuite: the shuffle manager is a SparkContext-construction
  * setting, so this spec builds (and stops) its own sessions. Suites run
  * sequentially in the forked test JVM; later suites getOrCreate a fresh
  * context.
  */
class ShuffleSeamSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  // q_dup_clusters: minhash pairs plus connected components, both of
  // which finish on the driver on this fixture; minhash_pairs_distributed
  // forces the distributed pair plan (signature group, band and
  // verification joins) through the seam
  private val queries: Seq[(String, SparkSession => DataFrame)] =
    Seq("q1_agg", "q_join_smj", "q_wordcount", "q_dup_clusters").map { q =>
      q -> ((s: SparkSession) => SparkEntry.queries(q)(s, sfDir))
    } :+ ("minhash_pairs_distributed" -> ((s: SparkSession) =>
      graft.dedup.Dedup.minhashPairs(Tables.documents(s, sfDir), "doc_id", "text",
        localPairDocs = 0)))

  private def runWith(shuffleManager: Option[String]): Map[String, Array[String]] = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .config("spark.local.dir", LocalDirs.dir)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    shuffleManager.foreach(b.config("spark.shuffle.manager", _))
    val spark = b.getOrCreate()
    try {
      queries.map { case (q, run) =>
        val rows = run(spark).collect().map(_.toString).sorted
        q -> rows
      }.toMap
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("queries produce identical results under GraftShuffleManager") {
    val graft = runWith(
      Some("org.apache.spark.shuffle.graft.GraftShuffleManager"))
    val default = runWith(None)
    default.foreach { case (q, expected) =>
      assert(expected.nonEmpty, s"$q returned no rows")
      assert(graft(q).sameElements(expected), s"$q differs under graft shuffle")
    }
  }

  test("ifile write commits exactly-once under first-attempt task failures") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .config("spark.local.dir", LocalDirs.dir)
      .master("local[4, 3]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      import org.apache.spark.TaskContext
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("ifile_retry").toString
      // every partition's FIRST attempt dies mid-stream after producing
      // rows — the half-written staging file must never surface
      val flaky = spark.range(0, 1000, 1, 4).as[Long]
        .mapPartitions { it =>
          val ctx = TaskContext.get()
          if (ctx != null && ctx.attemptNumber() == 0)
            new Iterator[Long] {
              var n = 0
              def hasNext: Boolean = true
              def next(): Long = {
                n += 1
                if (n > 50) throw new RuntimeException(
                  "graft test: injected write-task failure")
                it.next()
              }
            }
          else it
        }
        .toDF("id")
        .select(unhex(lpad(hex(col("id")), 16, "0")).as("key"),
          encode(col("id").cast("string"), "utf-8").as("value"))
      flaky.write.format("graft-ifile").mode("overwrite").save(dir)
      val back = spark.read.format("graft-ifile").load(dir)
      assert(back.count() == 1000, "retry must commit exactly the data once")
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".ifile"))
      assert(files.length == 4, files.map(_.getName).toSeq.toString)
      // this write's staging dir is gone; failed attempts left nothing
      val tmp = new java.io.File(dir, "_temporary")
      assert(!tmp.exists() || tmp.listFiles().forall(d =>
        d.listFiles() == null || d.listFiles().isEmpty),
        "staging leftovers survived commit")
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("queries survive injected mid-fetch shuffle failures with task retry") {
    import org.apache.spark.shuffle.graft.FaultInjection
    val expected = runWith(None)

    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // local[4, 3]: 3 task attempts — the injected failures burn at most
    // two attempts of any one task before the armed counter runs dry
    val spark = SparkSession.builder()
      .config("spark.local.dir", LocalDirs.dir)
      .master("local[4, 3]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.manager",
        "org.apache.spark.shuffle.graft.FaultInjectingShuffleManager")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      queries.foreach { case (q, run) =>
        FaultInjection.arm(2)
        val rows = run(spark).collect().map(_.toString).sorted
        assert(FaultInjection.injected.get() >= 1,
          s"$q: fault never fired — test is vacuous " +
            "(did the plan lose its shuffle?)")
        assert(rows.sameElements(expected(q)),
          s"$q differs after injected shuffle failure + retry")
      }
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
