package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev CLI on the bench session ([[Sessions.bench]]). Use it for
  * before/after numbers and plan checks while iterating; the committed
  * round record still comes from graft.Bench.
  *
  * {{{
  * Dev quick   <sfDir> <q...>                      min wall | cpu@min | compiles@min | all walls
  * Dev stages  <sfDir> <q...>                      quick + one line per stage
  * Dev ab      <sfDir> <key> <valA> <valB> <q...>  quick per conf value
  * Dev explain <sfDir> <q...>                      formatted physical plan
  * Dev scale   <sfDir> [q...]                      Bench's scale legs (all, or the named points)
  * Dev stream  <sfDir>                             Bench's streaming measurement
  * }}}
  *
  * quick, stages and ab share Bench's method: noop-sink forcing and
  * `SPARK_GRAFT_BENCH_RUNS` (default 3) round-robin passes. */
object Dev {
  private val usage = "usage: graft.Dev <quick|stages|explain|ab|scale|stream> " +
    "<sfDir> [key valA valB (ab only)] [query ...]"

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toSeq match {
      case Seq("quick", d, qs @ _*) if qs.nonEmpty => time(_, d, qs, Seq(None))
      case Seq("stages", d, qs @ _*) if qs.nonEmpty => s => {
        printStages(s)
        time(s, d, qs, Seq(None))
      }
      case Seq("ab", d, key, a, b, qs @ _*) if qs.nonEmpty =>
        time(_, d, qs, Seq(Some(key -> a), Some(key -> b)))
      case Seq("explain", d, qs @ _*) if qs.nonEmpty => s => qs.foreach { q =>
        println(s"===== $q =====")
        SparkEntry.queries(q)(s, d).explain("formatted")
      }
      case Seq("scale", d, qs @ _*) => scale(_, d, qs)
      case Seq("stream", d) => s => println(Bench.streamingMetrics(s, d, "dev")
        .map(b => s"{$b}").getOrElse("FAILED"))
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = Sessions.bench()
    try run(spark) finally spark.stop()
  }

  /** Passes × arms × queries, round-robin, so a host stall inflates one
    * pass of every arm instead of one whole arm. An arm sets one conf
    * value before its queries (ab); quick and stages run the one arm
    * None. Per (query, arm): min wall, the process CPU and Janino
    * compiles of that run, and every wall. */
  private def time(spark: SparkSession, sfDir: String, qs: Seq[String],
                   arms: Seq[Option[(String, String)]]): Unit = {
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val cpuBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val runs = collection.mutable.Map[(String, Option[(String, String)]),
      Vector[(Double, Double, Long)]]().withDefaultValue(Vector.empty)
    for (pass <- 1 to nRuns; arm <- arms) {
      arm.foreach { case (k, v) => spark.conf.set(k, v) }
      qs.foreach { q =>
        val label = q + arm.fold("") { case (k, v) => s" $k=$v" }
        spark.sparkContext.setJobDescription(s"dev: $label pass $pass")
        val t0 = System.nanoTime()
        val c0 = cpuBean.getProcessCpuTime
        val j0 = Bench.janinoCompiles
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t0) / 1e9
        val compiles = Bench.janinoCompiles - j0
        runs((q, arm)) = runs((q, arm)) :+ ((w, (cpuBean.getProcessCpuTime - c0) / 1e9, compiles))
        System.err.println(f"[dev] pass $pass $label: $w%.2f s, $compiles compiles")
      }
    }
    println(s"fixture=$sfDir runs=$nRuns (min wall | cpu@min | compiles@min | all walls)")
    for (q <- qs; arm <- arms) {
      val r = runs((q, arm))
      val (w, c, j) = r.minBy(_._1)
      println(f"$q%-26s ${arm.fold("")(_._2)}%10s $w%7.2f | $c%8.2f | $j%5d | " +
        r.map(x => f"${x._1}%.2f").mkString(","))
    }
  }

  /** One stdout line per completed stage: executor run/CPU time,
    * shuffle bytes, spill, GC and the longest task — the fastest way
    * to find WHICH exchange or join a regression lives in (round 9
    * caught a 3 100 CPU-s shuffle-write stage in the triangle close
    * this way). The max task separates 32 balanced tasks from one
    * serialized straggler, which run and CPU sums hide (the r12
    * fuzzy-join find: a 31 s single-task eval stage). */
  private def printStages(spark: SparkSession): Unit = {
    val maxTaskMs = scala.collection.concurrent.TrieMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val d = te.taskInfo.duration
        maxTaskMs.updateWith(te.stageId)(p => Some(math.max(p.getOrElse(0L), d)))
        ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        println(f"STAGE ${sc.stageInfo.stageId}%3d " +
          f"${sc.stageInfo.name.take(50)}%-50s " +
          f"tasks=${sc.stageInfo.numTasks}%4d " +
          f"maxTask=${maxTaskMs.getOrElse(sc.stageInfo.stageId, 0L) / 1e3}%6.1f s " +
          f"run=${m.executorRunTime / 1e3}%8.1f s " +
          f"cpu=${m.executorCpuTime / 1e9}%8.1f s " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB " +
          f"spill=${m.diskBytesSpilled / 1e6}%6.1f MB " +
          f"gc=${m.jvmGCTime / 1e3}%5.1f s")
      }
    })
  }

  /** Generate the [[ScaleFixture]] and time the scale family (or the
    * named points) against it: the measurement Bench embeds in
    * bench_full_r<N>.json. One line per point: each leg's min wall and
    * util, then the wall, 3-point and CPU exponents. */
  private def scale(spark: SparkSession, sfDir: String,
                    only: Seq[String]): Unit = {
    val ambient = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val pts = Bench.scalePointTimings(spark, sfDir,
      Map.empty[String, Double], ambient, only = only)
    def leg(m: Bench.RunMeasure): String = f"${m.wall}%8.2f s u=${m.util}%.2f"
    def exp(e: Option[Double]): String = e.fold("-")(v => f"$v%.2f")
    pts.sortBy(_._1).foreach { case (k, p) =>
      val sf1 = p.sf1.map(leg).getOrElse(
        if (p.budgetTruncated) "truncated" else s"cancelled@${p.cancelledAt.getOrElse(0)}s")
      val sf3 = p.sf3.map(m => s"  sf3 ${leg(m)}").getOrElse("")
      println(f"$k%-20s sf0.1 ${leg(p.sf01)}   sf1 $sf1$sf3   " +
        s"exp ${exp(p.exponent)} exp3 ${exp(p.exponent3pt)} " +
        s"exp_cpu ${exp(p.exponentCpu)}")
    }
  }
}
