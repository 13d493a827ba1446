package graft

import org.apache.spark.sql.SparkSession

/** The one bench-configured session. Bench times, Verify checks and
  * every `graft.Dev` mode runs on exactly this conf, so the oracle sees
  * the physical plans the bench measures (the analog of UDA keeping all
  * of its shuffle tunables in one plugin class, UdaPlugin.java:209-248).
  * `SessionsSpec` pins the values and fails if another
  * `SparkSession.builder` appears under src/main. */
object Sessions {

  def bench(): SparkSession = {
    // SPARK_GRAFT_CPUS, else min(32, nproc)
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .config("spark.local.dir", LocalDirs.dir)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      // every exchange runs through the occupied transport seam (a
      // SortShuffleManager subclass), the reference's plug point
      .config("spark.shuffle.manager",
        "org.apache.spark.shuffle.graft.GraftShuffleManager")
      // measured default from the codec/block-size matrix
      // (SHUFFLE_TUNING.md): snappy/128k won the heavy-shuffle family
      .config("spark.io.compression.codec", "snappy")
      .config("spark.io.compression.snappy.blockSize", "128k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
