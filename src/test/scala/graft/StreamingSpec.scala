package graft

import graft.streaming.{EventsStreaming, EventRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming semantics driven through MemoryStream: windowed
  * aggregation, watermark late-data dropping, custom keyed state. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long = 1L,
                 typ: String = "click", v: Double = 1.0) =
    EventRow(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
      user, typ, v)

  test("tumbling window counts over a stream") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventsStreaming.tumblingCounts(in.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    in.addData(ev(1, 5), ev(2, 10), ev(3, 59))
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT * FROM tumbling_out").collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("n") == 3)
  }

  test("watermark drops data later than 30 minutes behind the max event") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventsStreaming.tumblingCounts(in.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    // batch 1: events in hour 10; max ts 11:45 pushes watermark to 11:15,
    // closing the 10:00 window (append emits it)
    in.addData(ev(1, 5), ev(2, 10))
    q.processAllAvailable()
    in.addData(EventRow(3, java.sql.Timestamp.valueOf("2024-01-01 11:45:00"),
      1L, "click", 1.0))
    q.processAllAvailable()
    // batch 2: a straggler back in hour 10 — behind the watermark, dropped
    in.addData(ev(9, 20))
    q.processAllAvailable(); q.stop()
    val hour10 = spark.sql(
      "SELECT n FROM late_out WHERE ws = TIMESTAMP'2024-01-01 10:00:00'")
      .collect()
    assert(hour10.length == 1 && hour10.head.getLong(0) == 2,
      "late row should have been dropped by the watermark")
  }

  test("mapGroupsWithState keeps running per-user totals") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventsStreaming.runningUserTotals(spark, in.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("state_out").start()
    in.addData(ev(1, 1, user = 7, v = 2.0), ev(2, 2, user = 7, v = 3.0))
    q.processAllAvailable()
    in.addData(ev(3, 3, user = 7, v = 5.0))
    q.processAllAvailable(); q.stop()
    val last = spark.sql(
      "SELECT n_events, sum_value FROM state_out WHERE user_id = 7 " +
      "ORDER BY n_events DESC LIMIT 1").collect().head
    assert(last.getLong(0) == 3 && last.getDouble(1) == 10.0)
  }

  test("transformWithState emits only new per-user high-water marks") {
    implicit val sq = spark.sqlContext
    // v2 stateful processing requires the RocksDB state store provider;
    // scope it to this query and restore whatever was set before
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[EventRow]
      val q = EventsStreaming.highWaterMarks(spark, in.toDS())
        .toDF("user_id", "hwm")
        .writeStream.outputMode("update")
        .format("memory").queryName("hwm_out").start()
      in.addData(ev(1, 1, user = 7, v = 2.0), ev(2, 2, user = 7, v = 5.0))
      q.processAllAvailable()
      in.addData(ev(3, 3, user = 7, v = 4.0)) // below the mark -> silent
      q.processAllAvailable()
      in.addData(ev(4, 4, user = 7, v = 9.0), // new mark
                 ev(5, 4, user = 8, v = 1.0)) // first sighting of user 8
      q.processAllAvailable(); q.stop()
      val got = spark.sql("SELECT user_id, hwm FROM hwm_out")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      // batch1 emits user7's 5.0 (max over the batch), batch2 nothing,
      // batch3 user7's 9.0 and user8's 1.0 — state crossed batches
      assert(got == Seq((7L, 5.0), (7L, 9.0), (8L, 1.0)), s"got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("state schema evolution: v2 processor with an added state " +
      "variable restarts from a v1 checkpoint") {
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString
      val (cp, out1, out2) = (s"$dir/cp", s"$dir/out1", s"$dir/out2")
      val in = MemoryStream[EventRow]
      // ---- v1 deploy: hwm-only state, checkpointed (foreachBatch —
      // the sink shape that supports checkpoint recovery)
      val q1 = EventsStreaming.highWaterMarks(spark, in.toDS())
        .toDF("user_id", "hwm")
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out1); ()
        }.start()
      in.addData(ev(1, 1, user = 7, v = 5.0))
      q1.processAllAvailable(); q1.stop()
      assert(spark.read.parquet(out1).count() == 1)

      // ---- v2 deploy from the SAME checkpoint: hwm + new n_beats state
      val q2 = EventsStreaming.highWaterMarksV2(spark, in.toDS())
        .toDF("user_id", "hwm", "n_beats")
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out2); ()
        }.start()
      // below the RECOVERED mark: silence proves hwm state survived the
      // restart into the evolved processor
      in.addData(ev(2, 2, user = 7, v = 4.0))
      q2.processAllAvailable()
      // above it: emits, and the ADDED state counts from empty
      in.addData(ev(3, 3, user = 7, v = 9.0),
                 ev(4, 3, user = 8, v = 1.0))
      q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(out2)
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Double]("hwm"), r.getAs[Long]("n_beats")))
        .sorted.toSeq
      assert(got == Seq((7L, 9.0, 1L), (8L, 1.0, 1L)), s"got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventsStreaming.dedupedEvents(in.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    in.addData(ev(1, 5), ev(1, 5), ev(2, 6))
    q.processAllAvailable()
    in.addData(ev(1, 7), ev(3, 8)) // id 1 again, still within watermark
    q.processAllAvailable(); q.stop()
    val ids = spark.sql("SELECT event_id FROM dedup_out")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("foreachBatch upsert sink: partition-scoped MERGE into a table") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val (out, cp) = (s"$dir/tbl", s"$dir/cp")
    val in = MemoryStream[EventRow]
    val q = EventsStreaming.toUpsertSink(in.toDF(), out, cp,
      keys = Seq("user_id"), orderCol = "event_id", nBuckets = 64)
    // batch 1: two users
    in.addData(ev(1, 5, user = 10, v = 1.0), ev(2, 6, user = 20, v = 2.0))
    q.processAllAvailable()
    import org.apache.spark.sql.functions.input_file_name
    def fileOf(user: Long): String = spark.read.parquet(out)
      .filter($"user_id" === user)
      .select(input_file_name()).head().getString(0)
    val user20FileBefore = fileOf(20L)
    // batch 2: update user 10 (two updates in one batch — later id wins),
    // insert user 30
    in.addData(ev(3, 7, user = 10, v = 5.0), ev(4, 8, user = 10, v = 7.0),
      ev(5, 9, user = 30, v = 3.0))
    q.processAllAvailable(); q.stop()
    val state = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(state == Map(10L -> 7.0, 20L -> 2.0, 30L -> 3.0),
      s"merged state wrong: $state")
    // partition-scoped rewrite: user 20's bucket was not touched by a
    // batch whose keys (10, 30) hash elsewhere — its data file survives
    // byte-for-byte (skip the assertion in the unlucky hash-collision
    // case, which would legitimately rewrite it)
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val collides = spark.range(1).select(
      pmod(hash(lit(20L)), lit(64)).as("b20"),
      pmod(hash(lit(10L)), lit(64)).as("b10"),
      pmod(hash(lit(30L)), lit(64)).as("b30")).head()
    if (collides.getInt(0) != collides.getInt(1) &&
        collides.getInt(0) != collides.getInt(2)) {
      assert(fileOf(20L) == user20FileBefore,
        "untouched bucket must not be rewritten")
    }
  }

  test("upsert sink: layout mismatch fails fast; orphaned backups recover") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert2").toString
    val (out, cp) = (s"$dir/tbl", s"$dir/cp")
    val in = MemoryStream[EventRow]
    val q = EventsStreaming.toUpsertSink(in.toDF(), out, cp,
      keys = Seq("user_id"), orderCol = "event_id", nBuckets = 8)
    in.addData(ev(1, 5, user = 10, v = 1.0), ev(2, 6, user = 20, v = 2.0))
    q.processAllAvailable(); q.stop()

    // restart with DIFFERENT nBuckets: the _graft_bucketing metadata must
    // fail the batch instead of scattering keys across a second layout
    val in2 = MemoryStream[EventRow]
    val q2 = EventsStreaming.toUpsertSink(in2.toDF(), out, s"$dir/cp2",
      keys = Seq("user_id"), orderCol = "event_id", nBuckets = 16)
    in2.addData(ev(3, 7, user = 10, v = 9.0))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(failed.getMessage.contains("bucket layout mismatch") ||
      Option(failed.getCause).exists(_.getMessage.contains("bucket layout mismatch")))
    // target untouched by the failed batch
    val state0 = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(state0 == Map(10L -> 1.0, 20L -> 2.0))

    // simulate a crash between backup-aside and rename-in: live bucket
    // missing, backup present — the next batch's recovery sweep must
    // restore it before merging
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucket10 = spark.range(1).select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.lit(10L)),
        org.apache.spark.sql.functions.lit(8)).as("b")).head().getInt(0)
    val live = new org.apache.hadoop.fs.Path(out, s"_kb=$bucket10")
    val bakRoot = new org.apache.hadoop.fs.Path(out + "_bak")
    fs.mkdirs(bakRoot)
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(bakRoot, s"_kb=$bucket10")))
    assert(!fs.exists(live))

    val in3 = MemoryStream[EventRow]
    val q3 = EventsStreaming.toUpsertSink(in3.toDF(), out, s"$dir/cp3",
      keys = Seq("user_id"), orderCol = "event_id", nBuckets = 8)
    in3.addData(ev(4, 8, user = 10, v = 4.0))
    q3.processAllAvailable(); q3.stop()
    val state = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(state == Map(10L -> 4.0, 20L -> 2.0),
      s"recovery sweep lost pre-crash rows: $state")
    assert(!fs.exists(bakRoot), "backup root must be cleaned up")
  }

  test("upsert sink: replay of a committed batch is skipped (marker guard)") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert3").toString
    val out = s"$dir/tbl"
    val in1 = MemoryStream[EventRow]
    val q1 = EventsStreaming.toUpsertSink(in1.toDF(), out, s"$dir/cpA",
      keys = Seq("user_id"), orderCol = "event_id", nBuckets = 8)
    in1.addData(ev(1, 5, user = 10, v = 1.0))
    q1.processAllAvailable(); q1.stop()

    // forge the commit marker as if checkpoint cpB had already committed
    // batch 0: the fresh query's first batch must be SKIPPED (replay),
    // while its batch 1 must still apply
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = fs.create(
      new org.apache.hadoop.fs.Path(out, "_graft_last_batch"), true)
    try marker.write(s"$dir/cpB\n0\n".getBytes("UTF-8")) finally marker.close()

    val in2 = MemoryStream[EventRow]
    val q2 = EventsStreaming.toUpsertSink(in2.toDF(), out, s"$dir/cpB",
      keys = Seq("user_id"), orderCol = "event_id", nBuckets = 8)
    in2.addData(ev(2, 6, user = 10, v = 9.0)) // batch 0 — replayed, skipped
    q2.processAllAvailable()
    in2.addData(ev(3, 7, user = 10, v = 4.0)) // batch 1 — applied
    q2.processAllAvailable(); q2.stop()
    val state = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(state == Map(10L -> 4.0),
      s"batch 0 should be skipped as committed, batch 1 applied: $state")
  }

  test("file source -> watermark + session windows -> upsert sink, restart mid-run") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_e2e").toString
    val (src, out, cp) = (s"$dir/in", s"$dir/tbl", s"$dir/cp")
    def writeTranche(rows: EventRow*): Unit = {
      Thread.sleep(1100) // distinct mtimes → deterministic file order
      rows.toSeq.toDF().coalesce(1).write.mode("append").parquet(src)
    }
    def at(hhmm: String, id: Long, user: Long) =
      EventRow(id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"),
        user, "click", 1.0)
    // tranche 1, two files: sessions open for users 1 and 2, then a
    // watermark push to 11:00 that closes both (emission lags one batch)
    writeTranche(at("10:00", 1, user = 1), at("10:05", 2, user = 1),
      at("10:10", 3, user = 2))
    writeTranche(at("11:30", 4, user = 9))
    val schema = spark.read.parquet(src).schema
    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      // session windows are append-mode upstream: each session upserts
      // exactly once, when the watermark closes it
      EventsStreaming.toUpsertSink(
        EventsStreaming.sessionCounts(stream), out, cp,
        keys = Seq("ss", "user_id"), orderCol = "se", nBuckets = 8,
        outputMode = "append", trigger = Some(Trigger.AvailableNow()))
    }
    val q1 = startQuery()
    assert(q1.awaitTermination(120000), "first run did not drain")

    // ---- restart (same checkpoint) with new files: a late event behind
    // the recovered watermark (10:07 < 11:00) must be DROPPED, and the
    // next watermark pushes must flush the closed sessions
    writeTranche(at("10:07", 5, user = 5), at("12:30", 6, user = 9))
    writeTranche(at("13:30", 7, user = 9))
    val q2 = startQuery()
    assert(q2.awaitTermination(120000), "restarted run did not drain")

    val got = spark.read.parquet(out)
      .select(col("ss"), col("user_id"), col("n")).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(got.contains(("2024-01-01 10:00:00.0", 1L, 2L)),
      s"user 1's 2-event session missing: $got")
    assert(got.contains(("2024-01-01 10:10:00.0", 2L, 1L)),
      s"user 2's session missing: $got")
    assert(!got.exists { case (ss, u, _) => u == 5L },
      s"late event behind the watermark must not create a session: $got")
  }

  test("checkpointed file sink restarts exactly-once with recovered state") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (out, cp) = (s"$dir/out", s"$dir/cp")
    val in = MemoryStream[EventRow]
    val dedup = EventsStreaming.dedupedEvents(in.toDF())

    val q1 = EventsStreaming.toParquetSink(dedup, out, cp)
    in.addData(ev(1, 5), ev(1, 5), ev(2, 6))
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 2) // ids 1,2 committed once

    // restart from the same checkpoint: dedup state must survive (id 2
    // is a duplicate from before the restart) and committed batches must
    // not be re-emitted
    in.addData(ev(2, 9), ev(3, 10))
    val q2 = EventsStreaming.toParquetSink(dedup, out, cp)
    q2.processAllAvailable(); q2.stop()
    val ids = spark.read.parquet(out)
      .collect().map(_.getAs[Long]("event_id")).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"expected exactly-once ids 1,2,3 after restart; got $ids")
  }

  test("file-source streaming (AvailableNow) matches the batch aggregate") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_fstream").toString
    val src = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    src.write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = EventsStreaming.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("fstream_out")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not drain in time")

    val got = spark.sql("SELECT ws, event_type, n FROM fstream_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val expected = src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("session windows group events by 30-minute gaps") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventsStreaming.sessionCounts(in.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out")
      .start()
    // two bursts 40 min apart → 2 sessions for the user
    in.addData(ev(1, 0), ev(2, 5), ev(3, 45), ev(4, 50))
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT n FROM sess_out WHERE user_id = 1").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(2L, 2L))
  }

  test("left-outer stream-stream join emits null match after watermark") {
    implicit val sq = spark.sqlContext
    val views = MemoryStream[EventRow]
    val purchases = MemoryStream[EventRow]
    val q = EventsStreaming.viewPurchaseJoin(views.toDF(), purchases.toDF(),
        joinType = "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_left_out").start()
    // user 3 views at 10:05 with NO purchase; matched pair for user 1
    views.addData(ev(1, 5, user = 1), ev(2, 5, user = 3))
    purchases.addData(ev(100, 20, user = 1, typ = "purchase", v = 9.0))
    q.processAllAvailable()
    // push both watermarks far past 10:05 + 1h bound + 30m delay so the
    // unmatched view's state expires and the null row is emitted
    val far = java.sql.Timestamp.valueOf("2024-01-01 14:00:00")
    views.addData(EventRow(50, far, 9L, "click", 1.0))
    purchases.addData(EventRow(51, far, 9L, "purchase", 1.0))
    q.processAllAvailable()
    views.addData(EventRow(52, far, 9L, "click", 1.0))
    purchases.addData(EventRow(53, far, 9L, "purchase", 1.0))
    q.processAllAvailable(); q.stop()
    val got = spark.sql(
      "SELECT view_id, purchase_id FROM ss_left_out WHERE view_id IN (1, 2)")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(got == Set((1L, Some(100L)), (2L, None)))
  }

  test("stream-static join enriches each micro-batch from a broadcast dim") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = EventsStreaming.enrichWithDim(in.toDF(), dim)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    in.addData(ev(1, 5, user = 1), ev(2, 6, user = 2), ev(3, 7, user = 9))
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_id, tier FROM enrich_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // user 9 has no dim row -> dropped by the inner join
    assert(got == Set((1L, "gold"), (2L, "basic")))
  }

  test("stream-stream join attributes purchases to prior views in the hour") {
    implicit val sq = spark.sqlContext
    val views = MemoryStream[EventRow]
    val purchases = MemoryStream[EventRow]
    val q = EventsStreaming.viewPurchaseJoin(views.toDF(), purchases.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()
    // user 1: view at 10:05, purchase at 10:20 → joins;
    // purchase at 11:30 is outside the 1-hour bound → no join;
    // user 2: purchase with no view → no join
    views.addData(ev(1, 5, user = 1))
    purchases.addData(ev(100, 20, user = 1, typ = "purchase", v = 9.0))
    purchases.addData(EventRow(101,
      java.sql.Timestamp.valueOf("2024-01-01 11:30:00"), 1L, "purchase", 5.0))
    purchases.addData(ev(102, 25, user = 2, typ = "purchase", v = 7.0))
    q.processAllAvailable(); q.stop()
    val got = spark.sql(
      "SELECT view_id, purchase_id, value FROM ss_join_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 100L, 9.0)))
  }

  test("streaming ingest vs the standing near-dup index: duplicate " +
      "deliveries collapsed, exactly-once sink, answers equal the " +
      "batch serve") {
    import graft.streaming.{DocEvent, NearDupStream}
    implicit val sq = spark.sqlContext
    val root = s"${graft.sources.StandingIndex.repoRoot}/target/streamtest/neardup"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    // ground truth: the batch-mode serve of the SAME probe docs against
    // the same standing index
    val expected = SparkEntry.queries("q_dedup_incremental_near")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probes = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(probes.length >= 4, "fixture must carry a probe batch")
    def de(p: (Long, String), minute: Int) = DocEvent(p._1, p._2,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"))
    val (half1, half2) = probes.splitAt(probes.length / 2)
    val in = MemoryStream[DocEvent]
    val q = NearDupStream.start(spark, sfDir, in.toDF(),
      s"$root/out", s"$root/ckpt")
    // batch 1: first half, plus a duplicate delivery INSIDE the batch
    in.addData(half1.map(de(_, 1)) :+ de(half1.head, 2): _*)
    q.processAllAvailable()
    // batch 2: second half, plus a RE-delivery of a batch-1 doc (within
    // the watermark window — the stateful dedup must drop it, or its
    // pairs would land twice across two batch_id partitions)
    in.addData(half2.map(de(_, 3)) :+ de(half1.head, 4): _*)
    q.processAllAvailable(); q.stop()
    val sunk = spark.read.parquet(s"$root/out")
      .select("doc_id", "dup_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sunk.length == sunk.distinct.length,
      "duplicate pairs in the sink — a re-delivered doc was served twice")
    assert(sunk.toSet == expected,
      s"streaming serve diverges from the batch serve: " +
        s"extra=${sunk.toSet -- expected}, missing=${expected -- sunk.toSet}")
  }
}
