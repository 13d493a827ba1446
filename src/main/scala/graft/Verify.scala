package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing query names: dump/check only those (dev loop);
    // the driver passes none and gets the full surface
    val only = args.drop(2).toSet
    // the bench session: the oracle checks the plans Bench times
    val spark = Sessions.bench()
    new java.io.File(outDir).mkdirs()
    val sel = if (only.isEmpty) SparkEntry.queries
              else SparkEntry.queries.view.filterKeys(only).toMap
    sel.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + Bench.jesc(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // accuracy artifact for the hash-seeded no-oracle queries: recall /
    // error / exact-equality vs in-Spark ground truth, machine-readable
    if (only.isEmpty) try {
      val acc = graft.Accuracy.checks(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/accuracy.json"),
        graft.Accuracy.toJson(acc))
      // persist per round next to CORRECTNESS_r<N>.json so the no-oracle
      // greens are part of the committed round record, not just /tmp
      try {
        val repo = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "/root/repo"))
        val round = RoundStamp.round(repo)
        Files.writeString(repo.resolve(f"ACCURACY_r$round%02d.json"),
          graft.Accuracy.toJson(acc))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] could not persist round accuracy: $e")
      }
      acc.filterNot(_.pass).foreach(c =>
        System.err.println(s"[verify] ACCURACY FAIL ${c.query}: ${c.metric}=${c.value}"))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] accuracy checks failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
