package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.GraftSessionExtensions` must make every
  * graft SQL function and custom-operator strategy available with no
  * register() call — the cluster-deployment path. Own-session spec (extensions are a
  * session-build setting); suites run sequentially in the forked JVM. */
class SessionExtensionsSpec extends AnyFunSuite {

  test("extensions inject graft functions into a fresh session") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .config("spark.local.dir", LocalDirs.dir)
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
          |       graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
          |       graft_simhash64('alpha beta gamma') AS h""".stripMargin).head()
      assert(r.getDouble(0) == 11.0)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
      val gen = spark.sql(
        """SELECT pos, shingle
          |FROM (SELECT 'a b c d' AS t)
          |LATERAL VIEW graft_posexplode_shingles(t, 3) g AS pos, shingle""".stripMargin)
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(gen == Seq((0, "a b c"), (1, "b c d")))
      // the custom-operator strategies come from the extension, not from
      // the first-use registration in their DataFrame APIs
      assert(spark.experimental.extraStrategies.isEmpty)
      val strategies = spark.sessionState.planner.strategies
      assert(strategies.contains(graft.plans.GroupTopKStrategy))
      assert(strategies.contains(graft.plans.PrefixSortStrategy))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
