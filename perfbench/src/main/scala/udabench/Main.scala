package udabench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One workload run in a fresh JVM: set-up (session boot, seeded inputs,
  * untimed warm-up), then a timed window of back-to-back passes, each
  * operation checked right after it outside its timing; with `--trace 1`
  * the window alternates untraced and traced passes and is followed by
  * calls into single modules that split a pass into layers. Writes the raw
  * record as JSON to `--out`; `perfbench/run.py` turns it into metrics.
  *
  * Usage: udabench.Main --workload <kv_sort_merge|dedup_pipeline|query_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--size full|tiny] [--fault 1]
  * or udabench.Main --selftest --work <dir>
  */
object Main {

  /** One timed operation: a pass, or one query of a query_mix pass. */
  final class Op(val pass: Int, val name: String, val wallS: Double, val cpuS: Double) {
    var failure: Option[String] = None
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow: Long = osBean.getProcessCpuTime

  /** Runs `body` and returns (result, wall s, process CPU s). */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuNow
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNow - c0) / 1e9)
  }

  /** The bench session conf (graft.Bench), copied: local mode with one
    * task slot per core, AQE, 64 MB broadcast threshold, the graft
    * shuffle manager and snappy/128k, plus local dirs in the checkout. */
  def benchConf(work: String): Seq[(String, String)] = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
      "spark.shuffle.manager" -> "org.apache.spark.shuffle.graft.GraftShuffleManager",
      "spark.io.compression.codec" -> "snappy",
      "spark.io.compression.snappy.blockSize" -> "128k",
      "spark.ui.enabled" -> "false")
  }

  def session(conf: Seq[(String, String)]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  /** Flushes every file under `dir` to disk, so the kernel's delayed
    * writeback of the inputs does not land inside the timed window. */
  def fsyncTree(dir: String): Unit = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
      val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    } finally files.close()
  }

  def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.length).sum

  // ---- workloads ---------------------------------------------------------

  /** A workload checks each operation right after timing it, outside the
    * timed region, against a reference the warm-up pass establishes. */
  abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
    def warmPasses: Int
    def inputDir: String
    /** Writes the seeded inputs; called several times, so it overwrites. */
    def generate(): Unit
    /** Runs pass `p` and returns its timed, checked operations. */
    def pass(p: Int, t: Trace): Seq[Op]
    /** Calls into single modules that split a pass into layers. */
    def decompose(t: Trace, probe: Probe, passWallS: Double): Map[String, Double]
    def record: Map[String, Any] = Map.empty

    /** Set by `--fault 1`: corrupt the first timed operation's output. */
    var fault = false
    protected def takeFault(p: Int): Boolean =
      if (fault && p >= FirstTimedPass) { fault = false; true } else false
  }

  val FirstTimedPass = 100

  /** UDA's own path: MOF read, k-way merge into reducer partitions, and
    * reducer output, on TeraSort-shaped records. */
  final class KvSortMerge(spark: SparkSession, seed: Long, work: String, records: Long)
      extends Workload(spark, seed, work) {
    val files = 8
    val parts: Int = 2 * Runtime.getRuntime.availableProcessors()
    val in = s"$work/kv/mofs"
    def inputDir: String = in
    def out(p: Int) = s"$work/kv/out-$p"
    val warmPasses = 2
    lazy val expected: Checks.Sum = Gen.mofChecksum(spark, seed, records, files)
    /** CRC32C of each file of the first output that passed the full check. */
    var verified: Option[Map[String, Long]] = None

    def generate(): Unit = Gen.writeMofs(spark, seed, records, files, in)

    private def read(): DataFrame = spark.read.format("graft-ifile").load(in)
    private def merged(): DataFrame = {
      import spark.implicits._
      graft.shuffle.KV.mergeSorted(read().toDF("_1", "_2").as[(Array[Byte], Array[Byte])], parts)
        .toDF("key", "value")
    }
    private def fullCheck(p: Int): Option[String] =
      Checks.kvOutput(spark.read.format("graft-ifile").load(out(p)), expected)

    def pass(p: Int, t: Trace): Seq[Op] = {
      deleteRec(new java.io.File(out(p)))
      val (_, w, c) = timed(t.span("pass", p) {
        t.span("sources.ifile.write", p) {
          merged().write.format("graft-ifile").option("compression", "snappy")
            .mode("overwrite").save(out(p))
        }
      })
      if (takeFault(p)) injectUnsortedFile(out(p))
      // Keys are unique, so the output is deterministic down to the byte:
      // one output gets the full check (order and multiset), and every
      // later one must match it file for file.
      val crcs = Checks.fileCrcs(out(p))
      val op = new Op(p, "pass", w, c)
      op.failure = verified match {
        case Some(v) if v == crcs => None
        case Some(_) => fullCheck(p).orElse(Some("output bytes differ from the checked output"))
        case None => val f = fullCheck(p); if (f.isEmpty) verified = Some(crcs); f
      }
      deleteRec(new java.io.File(out(p)))
      Seq(op)
    }

    /** Adds an output file whose two keys are out of order. */
    private def injectUnsortedFile(dir: String): Unit = {
      val tmp = s"$work/kv/fault"
      val v = Gen.record(seed, 0)._2
      val rows = Seq(Row(Array.fill[Byte](10)(-1), v), Row(Array.fill[Byte](10)(0), v))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        graft.sources.ifile.IFileKV.schema).write.format("graft-ifile").mode("overwrite").save(tmp)
      new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".ifile")).foreach { f =>
        java.nio.file.Files.move(f.toPath, new java.io.File(dir, "part-99999.ifile").toPath)
      }
    }

    def decompose(t: Trace, probe: Probe, passWallS: Double): Map[String, Double] = {
      val reps = 2
      val readS = Stats.median((1 to reps).map(i =>
        timed(t.span("sources.ifile.read", 1000 + i)(noop(read())))._2))
      val mergeS = Stats.median((1 to reps).map(i =>
        timed(t.span("shuffle.mergeSorted", 1000 + i)(noop(merged())))._2))
      val p = 1000 + reps + 1
      merged().write.format("graft-ifile").option("compression", "snappy")
        .mode("overwrite").save(out(p))
      val written = dirBytes(out(p))
      deleteRec(new java.io.File(out(p)))
      Map("sources.ifile_read_s" -> readS,
        "shuffle.merge_s" -> math.max(0.0, mergeS - readS),
        "sources.ifile_write_s" -> math.max(0.0, passWallS - mergeS),
        "sources.bytes_read" -> dirBytes(in).toDouble,
        "sources.bytes_written" -> written.toDouble)
    }

    override def record: Map[String, Any] = Map("records" -> records, "mof_files" -> files,
      "reduce_partitions" -> parts, "input_checksum" -> expected.hex,
      "mof_bytes" -> dirBytes(in))
  }

  /** The LLM-data pipeline: MinHash-LSH near-dup pairs, connected
    * components, keep/split assignment and the contamination gate. */
  final class DedupPipeline(spark: SparkSession, seed: Long, work: String, nDocs: Long)
      extends Workload(spark, seed, work) {
    val dir = s"$work/docs"
    def inputDir: String = dir
    val warmPasses = 5
    var reference: Option[Checks.Sum] = None

    def generate(): Unit =
      Gen.docs(spark, seed, nDocs).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def pass(p: Int, t: Trace): Seq[Op] = {
      val (rows, w, c) = timed(t.span("pass", p)(t.span("queries.q_pipeline_full", p) {
        val df = graft.SparkEntry.queries("q_pipeline_full")(spark, dir)
        t.span("queries.plan", p)(df.queryExecution.executedPlan)
        df.collect()
      }))
      if (takeFault(p)) rows(0) = Row.fromSeq(rows(0).toSeq.updated(3, !rows(0).getBoolean(3)))
      val d = Checks.rowsDigest(rows)
      val op = new Op(p, "pass", w, c)
      op.failure = Checks.pipeline(rows, seed, nDocs).orElse(reference match {
        case None => reference = Some(d); None
        case Some(r) if r == d => None
        case Some(r) => Some(s"digest ${d.hex} != first pass ${r.hex}")
      })
      Seq(op)
    }

    def decompose(t: Trace, probe: Probe, passWallS: Double): Map[String, Double] = {
      val docs = graft.Tables.documents(spark, dir)
      val sh = docs.select(col("doc_id").as("id"),
        graft.text.TextFunctions.shingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0).localCheckpoint()
      val mh = timed(t.span("expressions.minhashSignatures", 2000) {
        noop(graft.dedup.Dedup.minhashSignatures(sh, 64))
      })._2
      val (pairs, pairsS, _) = timed(t.span("dedup.minhashPairs", 2000) {
        graft.dedup.Dedup.minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9).localCheckpoint()
      })
      val nPairs = pairs.count()
      BenchAccess.drainListeners(spark.sparkContext)
      val jobs0 = probe.snap().jobs
      val ccS = timed(t.span("dedup.connectedComponents", 2000) {
        noop(graft.dedup.Clusters.connectedComponents(pairs, "doc_a", "doc_b"))
      })._2
      BenchAccess.drainListeners(spark.sparkContext)
      Map("expressions.minhash_s" -> mh, "dedup.pairs_s" -> pairsS,
        "dedup.pairs" -> nPairs.toDouble, "dedup.cc_s" -> ccS,
        "dedup.cc_jobs" -> (probe.snap().jobs - jobs0).toDouble)
    }

    override def record: Map[String, Any] = Map("docs" -> nDocs,
      "result_digest" -> reference.map(_.hex))
  }

  /** Interactive analytics: one client, a closed loop over 12 catalog
    * queries in a seeded order per pass, each forced into a digest. */
  final class QueryMix(spark: SparkSession, seed: Long, work: String, scale: Double)
      extends Workload(spark, seed, work) {
    val dir = s"$work/star"
    def inputDir: String = dir
    val names: Seq[String] = Seq("q1_agg", "q_join_smj", "q_join_bcast", "q_join_shash",
      "q_star_join", "q_window_running", "q_window_frames", "q_rollup", "q_agg_distinct",
      "q_sort_global", "q_percentile", "q_wordcount")
    val warmPasses = 2
    val reference = mutable.Map.empty[String, Checks.Sum]

    def generate(): Unit = Gen.writeStarSchema(spark, seed, scale, dir)

    def pass(p: Int, t: Trace): Seq[Op] = {
      val order = new scala.util.Random(Gen.h(seed, 70, p)).shuffle(names)
      t.span("pass", p) {
        order.map { q =>
          val (d, w, c) = timed(t.span(s"queries.$q", p) {
            val df = graft.SparkEntry.queries(q)(spark, dir)
            t.span("queries.plan", p)(df.queryExecution.executedPlan)
            Checks.digest(df)
          })
          val got = if (takeFault(p)) d.add(1L) else d
          val op = new Op(p, q, w, c)
          reference.get(q) match {
            case None =>
              // the first pass is the reference: its result is written for
              // the DuckDB cross-check, its digest pins every later pass
              reference(q) = got
              graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
                .parquet(s"$work/results/$q")
            case Some(r) if r == got =>
            case Some(r) => op.failure = Some(s"digest ${got.hex} != first pass ${r.hex}")
          }
          op
        }
      }
    }

    def decompose(t: Trace, probe: Probe, passWallS: Double): Map[String, Double] = Map.empty

    override def record: Map[String, Any] = Map("scale" -> scale,
      "tables" -> Gen.StarTables, "fixture_dir" -> dir, "results_dir" -> s"$work/results",
      "oracle_sql" -> names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap,
      "reference_digests" -> reference.map { case (q, s) => q -> s.hex })
  }

  /** Layer metrics of one traced pass, from the probe's snapshots taken
    * before (`s0`, `t0Ms`) and after (`s1`, `t1Ms`) it. */
  def passLayers(probe: Probe, s0: Probe.Snap, s1: Probe.Snap, t0Ms: Long, t1Ms: Long,
                 wall: Double, cpu: Double): Map[String, Double] = {
    val d = s1 - s0
    // the stage with the most task time, for the straggler ratio
    val stage = probe.stageTasks.values.slice(s0.stagesSeen, s1.stagesSeen)
      .maxByOption(_.sum).map(_.sorted.map(_.toDouble).toSeq)
    Map(
      "driver.floor_s" -> (wall - Stats.covered(probe.jobSpans.toSeq, t0Ms, t1Ms) / 1000.0),
      "driver.cpu_s" -> (cpu - d.cpuNs / 1e9),
      "driver.jobs" -> d.jobs.toDouble, "driver.stages" -> d.stages.toDouble,
      "driver.tasks" -> d.tasks.toDouble,
      "exec.task_cpu_s" -> d.cpuNs / 1e9, "exec.task_run_s" -> d.runMs / 1000.0,
      "exec.gc_s" -> d.gcMs / 1000.0, "exec.busy_cores" -> d.runMs / 1000.0 / wall,
      "exec.task_skew" -> stage.map(s => s.last / math.max(1.0, Stats.median(s))).getOrElse(0.0),
      "shuffle.write_s" -> d.shWriteNs / 1e9, "shuffle.fetch_wait_s" -> d.fetchWaitMs / 1000.0,
      "shuffle.bytes" -> d.shBytes.toDouble, "shuffle.records" -> d.shRecords.toDouble,
      "shuffle.spill_bytes" -> d.spillBytes.toDouble,
      "sources.bytes_read" -> d.inBytes.toDouble, "sources.bytes_written" -> d.outBytes.toDouble)
  }

  // ---- the run ----------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (argv.contains("--selftest")) { SelfTest.run(argv.sliding(2).collectFirst {
      case Array("--work", w) => w }.get); return }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new java.io.File(args("work")).getAbsolutePath
    val tiny = args.get("size").contains("tiny")
    val fault = args.get("fault").contains("1")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val conf = benchConf(work)
    val spark = session(conf)
    val bootS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w: Workload = workload match {
      case "kv_sort_merge" => new KvSortMerge(spark, seed, work, if (tiny) 20000L else 2000000L)
      case "dedup_pipeline" => new DedupPipeline(spark, seed, work, if (tiny) 400L else 1500L)
      case "query_mix" => new QueryMix(spark, seed, work, if (tiny) 0.01 else 0.25)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.fault = fault
    val off = new Trace(spark.sparkContext, enabled = false)

    val genS = (1 to 3).map(_ => timed(w.generate())._2)
    fsyncTree(w.inputDir)
    val warmS = timed((0 until w.warmPasses).foreach(p => w.pass(p, off)))._2
    val setupS = bootS + Stats.median(genS) + warmS

    // The timed window: back-to-back passes until `seconds` of pass time
    // are spent. A traced run alternates untraced and traced passes, so
    // both see the same stage of JIT warm-up and their ratio is the
    // tracing overhead; the probe listener is attached only for traced
    // passes.
    val sc = spark.sparkContext
    val trace = new Trace(sc, enabled = traced)
    val probe = new Probe
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val opsBuf = mutable.ArrayBuffer.empty[Op]
    var spent = 0.0
    var p = FirstTimedPass
    while (spent < seconds || opsBuf.isEmpty || (traced && layerPasses.isEmpty)) {
      val tracedPass = traced && (p - FirstTimedPass) % 2 == 1
      if (tracedPass) { sc.addSparkListener(probe); BenchAccess.drainListeners(sc) }
      val s0 = probe.snap()
      val t0 = System.currentTimeMillis()
      val o = w.pass(p, if (tracedPass) trace else off)
      val wall = o.map(_.wallS).sum
      val cpu = o.map(_.cpuS).sum
      // Untimed: a full collection between passes starts each pass from
      // the same heap state and lets Spark's cleaner delete the last
      // pass's shuffle files before they reach the disk.
      System.gc()
      passes += Map("pass" -> p, "phase" -> (if (tracedPass) "traced" else "untraced"),
        "wall_s" -> wall, "cpu_s" -> cpu)
      if (tracedPass) {
        BenchAccess.drainListeners(sc)
        layerPasses += passLayers(probe, s0, probe.snap(), t0, System.currentTimeMillis(), wall, cpu)
        sc.removeSparkListener(probe)
      }
      opsBuf ++= o
      spent += wall
      p += 1
    }

    var layers = Map.empty[String, Double]
    if (traced) {
      def medWall(phase: String) =
        Stats.median(passes.filter(_("phase") == phase).map(_("wall_s").asInstanceOf[Double]).toSeq)
      val medians = layerPasses.head.keys.map(k => k -> Stats.median(layerPasses.map(_(k)).toSeq)).toMap
      sc.addSparkListener(probe)
      val decomposed = w.decompose(trace, probe, medWall("traced"))
      sc.removeSparkListener(probe)
      val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
      // layers a workload does not exercise read 0
      layers = Map("sources.ifile_read_s" -> 0.0, "sources.ifile_write_s" -> 0.0,
        "shuffle.merge_s" -> 0.0, "expressions.minhash_s" -> 0.0, "dedup.pairs_s" -> 0.0,
        "dedup.pairs" -> 0.0, "dedup.cc_s" -> 0.0, "dedup.cc_jobs" -> 0.0) ++ medians ++ Map(
        "queries.plan_s" -> trace.selfByLayer.getOrElse("queries.plan", 0.0),
        "jvm.heap_peak_mb" -> heapMb,
        "trace.overhead" -> medWall("traced") / medWall("untraced")) ++ decomposed
      trace.write(s"$work/spans.jsonl")
    }

    val ops = opsBuf.toSeq
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "size" -> (if (tiny) "tiny" else "full"),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "conf" -> conf.toMap,
      "setup" -> Map("boot_s" -> bootS, "generate_s" -> genS, "warm_s" -> warmS,
        "warm_passes" -> w.warmPasses, "setup_s" -> setupS),
      "passes" -> passes.toSeq,
      "ops" -> ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "wall_s" -> o.wallS,
        "cpu_s" -> o.cpuS, "failure" -> o.failure)),
      "layers" -> layers,
      "spans" -> (if (traced) Some(s"$work/spans.jsonl") else None),
      "workload_record" -> w.record)
    val pw = new java.io.PrintWriter(args("out"), "UTF-8")
    try pw.println(Json(result)) finally pw.close()
    spark.stop()
  }
}
