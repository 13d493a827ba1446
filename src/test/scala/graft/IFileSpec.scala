package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.io.WritableUtils
import org.apache.spark.sql.functions._

import graft.sources.ifile.VInt

/** Byte-compat gates for the `graft-ifile` source/sink (SURVEY §7.4):
  * the VInt codec is differential-tested against Hadoop's OWN
  * WritableUtils (on the Spark classpath), and whole files written by
  * one side are parsed by the other — so "same framing as the
  * reference's merge stream" is a tested property, not a comment. */
class IFileSpec extends SparkSuite {

  private def hadoopEncode(v: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    WritableUtils.writeVLong(new DataOutputStream(bos), v)
    bos.toByteArray
  }

  private def ourEncode(v: Long): Array[Byte] = {
    val buf = new Array[Byte](9)
    buf.take(VInt.write(buf, 0, v))
  }

  // every byte-length boundary of the encoding, both signs, plus the
  // one-byte literal range edges and a deterministic pseudo-random sweep
  private val boundaryValues: Seq[Long] = {
    val powers = (0 to 62).map(1L << _)
    val around = powers.flatMap(p => Seq(p - 1, p, p + 1))
    val basics = Seq(0L, 1L, -1L, 127L, 128L, -112L, -113L, 255L, 256L,
      Long.MaxValue, Long.MinValue, Long.MinValue + 1)
    val rng = new scala.util.Random(42)
    val random = Seq.fill(500)(rng.nextLong())
    (basics ++ around ++ around.map(-_) ++ random).distinct
  }

  test("VInt encode is byte-identical to Hadoop WritableUtils.writeVLong") {
    boundaryValues.foreach { v =>
      val ours = ourEncode(v)
      val hadoop = hadoopEncode(v)
      assert(ours.toSeq == hadoop.toSeq,
        s"$v: ours=${ours.mkString(",")} hadoop=${hadoop.mkString(",")}")
      assert(VInt.size(v) == ours.length, s"size($v)")
    }
  }

  test("VInt decode round-trips ours AND Hadoop's bytes") {
    boundaryValues.foreach { v =>
      assert(VInt.read(ourEncode(v), 0) == v)
      assert(WritableUtils.readVLong(new DataInputStream(
        new ByteArrayInputStream(ourEncode(v)))) == v, s"hadoop reads ours: $v")
      assert(VInt.read(hadoopEncode(v), 0) == v, s"we read hadoop's: $v")
      assert(VInt.decodeSize(hadoopEncode(v)(0)) == hadoopEncode(v).length)
    }
  }

  test("ifile write -> read round-trip preserves every (key, value) pair") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ifile_rt").toString
    // keys/values across the interesting sizes: empty, 1 byte, >127
    // bytes (2-byte VInt length), multi-KB
    val df = spark.range(0, 1000, 1, 7).select(
      when(col("id") % 100 === 0, lit(Array.empty[Byte]))
        .otherwise(unhex(lpad(hex(col("id")), 16, "0"))).as("key"),
      encode(repeat(lit("v"), (col("id") % 300).cast("int")), "utf-8").as("value"))
    df.write.format("graft-ifile").mode("overwrite").save(dir)
    val back = spark.read.format("graft-ifile").load(dir)
    assert(back.count() == 1000)
    val want = df.select(hex(col("key")), hex(col("value")))
      .as[(String, String)].collect().sorted.toSeq
    val got = back.select(hex(col("key")), hex(col("value")))
      .as[(String, String)].collect().sorted.toSeq
    assert(got == want)
    // one file per write partition, the reference's MOF shape
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".ifile"))
    assert(files.length == 7, files.map(_.getName).toSeq.toString)
  }

  test("a file we write parses with Hadoop's reader; and vice versa") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ifile_compat").toString
    val pairs = Seq(("k1", "value-one"), ("key-two", ""), ("", "v3"),
      ("k4" * 100, "v4" * 200))
    pairs.toDF("k", "v")
      .select(encode(col("k"), "utf-8").as("key"), encode(col("v"), "utf-8").as("value"))
      .coalesce(1)
      .write.format("graft-ifile").mode("overwrite").save(dir)

    // parse OUR file with Hadoop's VInt reader, raw stream
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".ifile")).head
    val in = new DataInputStream(new java.io.FileInputStream(f))
    val got = Iterator.continually {
      val kl = WritableUtils.readVInt(in)
      val vl = WritableUtils.readVInt(in)
      if (kl == -1 && vl == -1) None
      else {
        val k = new Array[Byte](kl); in.readFully(k)
        val v = new Array[Byte](vl); in.readFully(v)
        Some((new String(k, "UTF-8"), new String(v, "UTF-8")))
      }
    }.takeWhile(_.isDefined).flatten.toSeq
    in.close()
    assert(got.sorted == pairs.sorted)

    // write a file with Hadoop's VInt writer; OUR source must read it
    val dir2 = java.nio.file.Files.createTempDirectory("ifile_compat2").toString
    val out = new DataOutputStream(
      new java.io.FileOutputStream(s"$dir2/hadoop-written.ifile"))
    pairs.foreach { case (k, v) =>
      val kb = k.getBytes("UTF-8"); val vb = v.getBytes("UTF-8")
      WritableUtils.writeVInt(out, kb.length)
      WritableUtils.writeVInt(out, vb.length)
      out.write(kb); out.write(vb)
    }
    WritableUtils.writeVInt(out, -1)
    WritableUtils.writeVInt(out, -1)
    out.close()
    val back = spark.read.format("graft-ifile").load(dir2)
      .select(decode(col("key"), "utf-8"), decode(col("value"), "utf-8"))
      .as[(String, String)].collect().toSeq
    assert(back.sorted == pairs.sorted)
  }

  test("empty dataframe writes EOF-only files that read back as zero rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ifile_empty").toString
    Seq.empty[(Array[Byte], Array[Byte])].toDF("key", "value")
      .write.format("graft-ifile").mode("overwrite").save(dir)
    assert(spark.read.format("graft-ifile").load(dir).count() == 0)
    // a non-existent path also reads as empty (the empty-increment run)
    assert(spark.read.format("graft-ifile")
      .load(s"$dir/never_written").count() == 0)
  }

  private def kvDf(n: Int, parts: Int) =
    spark.range(0, n, 1, parts)
      .select(unhex(lpad(hex(col("id")), 16, "0")).as("key"),
        encode(concat(lit("payload-"), col("id")), "utf-8").as("value"))

  private def hexPairs(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    import spark.implicits._
    df.select(hex(col("key")), hex(col("value")))
      .as[(String, String)].collect().sorted.toSeq
  }

  test("compressed round-trip (snappy and zstd) matches raw, self-describes") {
    val want = hexPairs(kvDf(2000, 3))
    Seq("snappy", "zstd").foreach { c =>
      val dir = java.nio.file.Files.createTempDirectory(s"ifile_$c").toString
      kvDf(2000, 3).write.format("graft-ifile")
        .option("compression", c)
        .option("block.size.bytes", "4096")
        .mode("overwrite").save(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".ifile"))
      assert(files.nonEmpty && files.forall(_.getName.endsWith(s".$c.ifile")),
        s"codec must be in the name: ${files.map(_.getName).toSeq}")
      // compression actually happened (repetitive payloads)
      val rawDir = java.nio.file.Files.createTempDirectory("ifile_raw").toString
      kvDf(2000, 3).write.format("graft-ifile").mode("overwrite").save(rawDir)
      val rawSize = new java.io.File(rawDir).listFiles()
        .filter(_.getName.endsWith(".ifile")).map(_.length).sum
      assert(files.map(_.length).sum < rawSize,
        s"$c produced no size win over raw")
      assert(hexPairs(spark.read.format("graft-ifile").load(dir)) == want)
    }
  }

  test("a corrupt compressed block fails loudly, not with silent data loss") {
    val dir = java.nio.file.Files.createTempDirectory("ifile_corrupt").toString
    kvDf(500, 1).write.format("graft-ifile")
      .option("compression", "snappy").mode("overwrite").save(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".ifile")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-ifile").load(dir).count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("; ")
    assert(msgs.contains("corrupt") || msgs.contains("FAILED_TO_UNCOMPRESS")
      || msgs.contains("IllegalState"), msgs)
  }

  test("lzo is refused loudly by name, never misparsed as raw") {
    // write path: the codec option is rejected before any file exists
    val e1 = intercept[Throwable] {
      kvDf(10, 1).write.format("graft-ifile")
        .option("compression", "lzo").mode("overwrite")
        .save(java.nio.file.Files.createTempDirectory("ifile_lzo_w").toString)
    }
    val m1 = Iterator.iterate(e1)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(m1.contains("codec 'lzo' is not supported") &&
      m1.contains("snappy, zstd"), m1)
    // read path: a .lzo.ifile data file must fail at open with the
    // codec named - NOT fall through to the raw-VInt reader and
    // misparse compressed bytes as record frames
    val dir = java.nio.file.Files.createTempDirectory("ifile_lzo_r")
    java.nio.file.Files.write(dir.resolve("part-0.lzo.ifile"),
      Array.fill[Byte](64)(0x11))
    val e2 = intercept[Throwable] {
      spark.read.format("graft-ifile").load(dir.toString).count()
    }
    val m2 = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(m2.contains("codec 'lzo' is not supported"), m2)
  }

  test("index sidecar makes one big file read as multiple partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ifile_split").toString
    // ONE file (coalesce(1)), tiny index interval so there are many marks
    kvDf(20000, 1).write.format("graft-ifile")
      .option("index.interval.bytes", "1024")
      .mode("overwrite").save(dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".ifile.idx")) == 1, "sidecar missing")
    val whole = spark.read.format("graft-ifile").load(dir)
    val split = spark.read.format("graft-ifile")
      .option("max.split.bytes", "65536").load(dir)
    assert(whole.rdd.getNumPartitions == 1,
      s"default split bytes must not split this file")
    val nParts = split.rdd.getNumPartitions
    assert(nParts > 1, s"expected >1 partitions, got $nParts")
    assert(hexPairs(split) == hexPairs(whole))
    assert(split.count() == 20000)
  }

  test("split reads of a COMPRESSED file also agree with the whole read") {
    val dir = java.nio.file.Files.createTempDirectory("ifile_splitc").toString
    kvDf(20000, 1).write.format("graft-ifile")
      .option("compression", "zstd")
      .option("block.size.bytes", "2048")
      .option("index.interval.bytes", "1024")
      .mode("overwrite").save(dir)
    val whole = spark.read.format("graft-ifile").load(dir)
    val split = spark.read.format("graft-ifile")
      .option("max.split.bytes", "16384").load(dir)
    assert(split.rdd.getNumPartitions > 1)
    assert(hexPairs(split) == hexPairs(whole))
  }

  test("a corrupt index sidecar falls back to one correct partition") {
    val dir = java.nio.file.Files.createTempDirectory("ifile_badidx").toString
    kvDf(8000, 1).write.format("graft-ifile")
      .option("index.interval.bytes", "512")
      .mode("overwrite").save(dir)
    val want = hexPairs(spark.read.format("graft-ifile").load(dir))
    val idx = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".ifile.idx")).head
    // truncate mid-entry: length no longer a multiple of 8
    val bytes = java.nio.file.Files.readAllBytes(idx.toPath)
    java.nio.file.Files.write(idx.toPath, bytes.dropRight(3))
    val df = spark.read.format("graft-ifile")
      .option("max.split.bytes", "1000").load(dir)
    assert(df.rdd.getNumPartitions == 1,
      "corrupt sidecar must not be trusted for splitting")
    assert(hexPairs(df) == want)
    // garbage offsets (non-monotonic / past EOF) are equally rejected
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(idx))
    out.writeLong(500); out.writeLong(400); out.writeLong(1L << 40)
    out.close()
    val df2 = spark.read.format("graft-ifile")
      .option("max.split.bytes", "1000").load(dir)
    assert(df2.rdd.getNumPartitions == 1)
    assert(hexPairs(df2) == want)
  }

  test("split-size sweep: every max.split.bytes yields the same multiset") {
    // raw and compressed, several split granularities incl. pathological
    // (smaller than one record's stride): partition planning must never
    // drop, duplicate, or tear a record
    Seq(("none", "ifile_sw_raw"), ("snappy", "ifile_sw_sz")).foreach {
      case (codec, tag) =>
        val dir = java.nio.file.Files.createTempDirectory(tag).toString
        kvDf(8000, 1).write.format("graft-ifile")
          .option("compression", codec)
          .option("block.size.bytes", "1024")
          .option("index.interval.bytes", "512")
          .mode("overwrite").save(dir)
        val want = hexPairs(spark.read.format("graft-ifile").load(dir))
        Seq(100, 1000, 9999, 50000, 1 << 20).foreach { sp =>
          val df = spark.read.format("graft-ifile")
            .option("max.split.bytes", sp.toString).load(dir)
          assert(hexPairs(df) == want,
            s"codec=$codec max.split.bytes=$sp diverged " +
              s"(${df.rdd.getNumPartitions} partitions)")
        }
    }
  }

  test("commit refuses to silently drop data when rename fails") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ifile_rn").toString
    // occupy the destination NAME with a directory: local-fs rename
    // "succeeds" by moving the file INSIDE it (HDFS rename-into-dir
    // semantics) — the old commit left data invisible to readers and
    // the job "passed"; renameOrDie must refuse
    new java.io.File(dir, "part-00000.ifile").mkdirs()
    val e = intercept[Throwable] {
      Seq((Array[Byte](1), Array[Byte](2))).toDF("key", "value")
        .coalesce(1).write.format("graft-ifile").mode("append").save(dir)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("; ")
    assert(msgs.contains("refusing to drop committed data"), msgs)

    // and the raw false-return path (no clobber-check shortcut): rename
    // under a parent that is a regular FILE returns false, must throw
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val src = new org.apache.hadoop.fs.Path(dir, "src-file")
    fs.create(src, true).close()
    val parentFile = new org.apache.hadoop.fs.Path(dir, "plain-file")
    fs.create(parentFile, true).close()
    val e2 = intercept[java.io.IOException] {
      graft.sources.ifile.IFileKV.renameOrDie(fs, src,
        new org.apache.hadoop.fs.Path(parentFile, "child"))
    }
    // local fs throws its own IOException here; HDFS would return false
    // and renameOrDie raises. Either way: loud, never silent.
    assert(e2.getMessage.contains("refusing to drop committed data") ||
      e2.getMessage.contains("not a directory"), e2.getMessage)
  }

  test("commit cleans only its own staging dir, not concurrent writers'") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ifile_tmp").toString
    // a concurrent write's in-flight staging dir
    val foreign = new java.io.File(s"$dir/_temporary/other-writer-uuid")
    foreign.mkdirs()
    val marker = new java.io.File(foreign, "task-0-0")
    java.nio.file.Files.write(marker.toPath, Array[Byte](1, 2, 3))
    Seq((Array[Byte](1), Array[Byte](2))).toDF("key", "value")
      .coalesce(1).write.format("graft-ifile").mode("overwrite").save(dir)
    assert(marker.exists(),
      "commit deleted a concurrent writer's staging files")
    assert(spark.read.format("graft-ifile").load(dir).count() == 1)
  }

  test("tasks see the session Hadoop conf, not a bare new Configuration") {
    import graft.sources.ifile.{HadoopConfHolder, IFileKV}
    spark.sparkContext.hadoopConfiguration.set("graft.test.marker", "present")
    try {
      val holder = IFileKV.sessionConf()
      assert(holder.value.get("graft.test.marker") == "present")
      // and the value survives the executor-side serialize/rebuild path
      val bos = new ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(holder); oos.close()
      val back = new java.io.ObjectInputStream(
        new ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[HadoopConfHolder]
      assert(back.value.get("graft.test.marker") == "present")
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.test.marker")
  }

  // A fixed 10k-record input: keys 0-20 bytes, values 0-210 bytes (one-
  // and two-byte VInt lengths), one partition so the order is fixed.
  private def pinnedInput =
    spark.range(0, 10000, 1, 1).select(
      expr("substring(unhex(sha1(cast(id AS string))), 1, CAST(id % 21 AS int))").as("key"),
      expr("encode(concat(repeat(chr(97 + CAST(id % 26 AS int)), CAST(id % 200 AS int)), " +
        "cast(id AS string)), 'utf-8')").as("value"))

  private def crc32(f: java.io.File): Long = {
    val c = new java.util.zip.CRC32()
    c.update(java.nio.file.Files.readAllBytes(f.toPath))
    c.getValue
  }

  test("frame bytes are pinned: CRC32 of raw and snappy output for a fixed input") {
    // taken from the stream-based writer this one replaced
    Seq("none" -> (3684059063L, 2282660050L), "snappy" -> (3965138129L, 3452271999L)).foreach {
      case (codec, (wantData, wantIdx)) =>
        val dir = java.nio.file.Files.createTempDirectory(s"ifile_pin_$codec").toString
        pinnedInput.write.format("graft-ifile").option("compression", codec)
          .option("index.interval.bytes", "4096").mode("overwrite").save(dir)
        val files = new java.io.File(dir).listFiles()
        val data = files.filter(_.getName.endsWith(".ifile")).head
        val idx = files.filter(_.getName.endsWith(".ifile.idx")).head
        assert((crc32(data), crc32(idx)) == (wantData, wantIdx), codec)
    }
  }

  private def dataFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".ifile")).sortBy(_.getName)

  private def bytesDf(rows: Seq[Seq[(Array[Byte], Array[Byte])]]) = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, rows.length).flatMap(identity)
      .toDF("key", "value")
  }

  /** Cuts `f` to `n` bytes, dropping the local filesystem's checksum
    * sidecar so the frame parser, not the checksum, sees the damage. */
  private def truncateTo(f: java.io.File, n: Long): Unit = {
    val ch = java.nio.channels.FileChannel.open(f.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(n) finally ch.close()
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
  }

  private def failureText(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("; ")

  test("records straddling the reader's window edge read back intact") {
    val w = graft.sources.ifile.IFileKV.WindowBytes
    // record 2 is <2-byte keyLen><3-byte valLen><200-byte key><300-byte
    // value>; record 1's size puts the first window edge `d` bytes into
    // it: inside each header byte, inside the key, inside the value
    val key2 = Array.tabulate[Byte](200)(i => (i * 7).toByte)
    val val2 = Array.tabulate[Byte](300)(i => (i * 13 + 1).toByte)
    val ds = Seq(1, 2, 3, 4, 5, 100, 504)
    val rows = ds.map { d =>
      val v1 = Array.fill[Byte](w - d - 5)(d.toByte)
      Seq(Array[Byte](d.toByte) -> v1, key2 -> val2,
        Array[Byte](9, d.toByte) -> Array.fill[Byte](3 * w)(7))
    }
    Seq("none", "snappy").foreach { codec =>
      val dir = java.nio.file.Files.createTempDirectory(s"ifile_edge_$codec").toString
      bytesDf(rows).write.format("graft-ifile").option("compression", codec)
        .mode("overwrite").save(dir)
      if (codec == "none") dataFiles(dir).zip(ds).foreach { case (f, d) =>
        assert(f.length == (w - d) + 505 + (1 + 4 + 2 + 3 * w) + 2, s"d=$d layout")
      }
      assert(hexPairs(spark.read.format("graft-ifile").load(dir)) == hexPairs(bytesDf(rows)),
        codec)
    }
  }

  test("a record larger than the window (1 MiB value) reads back, raw and snappy") {
    val big = Array.tabulate[Byte](1 << 20)(i => (i % 251).toByte)
    val rows = Seq(Seq(Array[Byte](1) -> Array[Byte](2), Array[Byte](3) -> big,
      Array.emptyByteArray -> Array.emptyByteArray))
    Seq("none", "snappy").foreach { codec =>
      val dir = java.nio.file.Files.createTempDirectory(s"ifile_big_$codec").toString
      bytesDf(rows).write.format("graft-ifile").option("compression", codec)
        .mode("overwrite").save(dir)
      assert(hexPairs(spark.read.format("graft-ifile").load(dir)) == hexPairs(bytesDf(rows)),
        codec)
    }
  }

  test("a file truncated mid-header or mid-payload fails loudly, never returns rows") {
    // record 2 = <2-byte keyLen 200><1-byte valLen 5><200 key><5 value>
    val rows = Seq(Seq(Array[Byte](1) -> Array[Byte](2),
      Array.fill[Byte](200)(3) -> Array.fill[Byte](5)(4)))
    val dir = java.nio.file.Files.createTempDirectory("ifile_trunc").toString
    bytesDf(rows).write.format("graft-ifile").mode("overwrite").save(dir)
    val f = dataFiles(dir).head
    val whole = java.nio.file.Files.readAllBytes(f.toPath)
    assert(whole.length == 4 + 208 + 2)
    // cut after record 2's first header byte, and inside its key
    Seq(5L, 4L + 3 + 100).foreach { cut =>
      java.nio.file.Files.write(f.toPath, whole)
      truncateTo(f, cut)
      var rowsBack = -1L
      val e = intercept[org.apache.spark.SparkException] {
        rowsBack = spark.read.format("graft-ifile").load(dir).count()
      }
      assert(rowsBack == -1L)
      assert(failureText(e).contains("truncated"), s"cut=$cut: ${failureText(e)}")
    }
    // a compressed file cut inside its one block fails the same way
    val dirC = java.nio.file.Files.createTempDirectory("ifile_truncc").toString
    bytesDf(rows).write.format("graft-ifile").option("compression", "snappy")
      .mode("overwrite").save(dirC)
    val fc = dataFiles(dirC).head
    truncateTo(fc, fc.length - 3)
    val ec = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-ifile").load(dirC).count()
    }
    assert(failureText(ec).contains("truncated"), failureText(ec))
  }

  test("split reads at every sidecar mark agree with the whole read, raw and snappy") {
    Seq("none", "snappy").foreach { codec =>
      val dir = java.nio.file.Files.createTempDirectory(s"ifile_marks_$codec").toString
      kvDf(20000, 1).write.format("graft-ifile").option("compression", codec)
        .option("block.size.bytes", "1500").option("index.interval.bytes", "2000")
        .mode("overwrite").save(dir)
      val idx = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".ifile.idx")).head
      val marks = idx.length / 8
      assert(marks > 10, s"$codec: only $marks marks")
      // max.split.bytes = 1 cuts a split at every mark
      val split = spark.read.format("graft-ifile").option("max.split.bytes", "1").load(dir)
      assert(split.rdd.getNumPartitions == marks + 1, codec)
      assert(hexPairs(split) == hexPairs(spark.read.format("graft-ifile").load(dir)), codec)
      assert(split.count() == 20000, codec)
    }
  }

  test("rows that are not UnsafeRows frame to the same bytes; null keys are refused") {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.types.{BinaryType, DataType}
    import graft.sources.ifile.{IFileCodec, IFileKV, IFileKVWriter}
    val toUnsafe = UnsafeProjection.create(Array[DataType](BinaryType, BinaryType))
    val recs = (0 until 3000).map(i =>
      (Array.tabulate[Byte](i % 17)(j => (i + j).toByte), Array.fill[Byte](i % 300)(i.toByte)))
    def writeWith(codec: Option[IFileCodec], unsafe: Int => Boolean): Array[Byte] = {
      val dir = java.nio.file.Files.createTempDirectory("ifile_rows").toString
      val w = new IFileKVWriter(s"$dir/part-0.ifile", "unused", codec,
        IFileKV.sessionConf(), 4096, 4096)
      recs.zipWithIndex.foreach { case ((k, v), i) =>
        val g = new GenericInternalRow(Array[Any](k, v))
        w.write(if (unsafe(i)) toUnsafe(g) else g)
      }
      w.commit()
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/part-0.ifile"))
    }
    Seq(None, Some(IFileCodec.SnappyCodec)).foreach { codec =>
      val viaUnsafe = writeWith(codec, _ => true)
      assert(writeWith(codec, _ => false).toSeq == viaUnsafe.toSeq, s"$codec generic")
      assert(writeWith(codec, _ % 3 == 0).toSeq == viaUnsafe.toSeq, s"$codec mixed")
    }
    // Spark refuses a null in the sink's non-nullable key column before
    // the writer runs; the writer refuses it on its own too
    val e = intercept[Exception] {
      bytesDf(Seq(Seq((null: Array[Byte]) -> Array[Byte](1))))
        .write.format("graft-ifile").mode("overwrite")
        .save(java.nio.file.Files.createTempDirectory("ifile_null").toString)
    }
    assert(failureText(e).contains("NOT_NULL_ASSERT_VIOLATION"), failureText(e))
    val dir = java.nio.file.Files.createTempDirectory("ifile_nullw").toString
    val w = new IFileKVWriter(s"$dir/part-0.ifile", "unused", None,
      IFileKV.sessionConf(), 4096, 4096)
    val nullKey = new GenericInternalRow(Array[Any](null, Array[Byte](1)))
    Seq(nullKey, toUnsafe(nullKey)).foreach { r =>
      val e2 = intercept[IllegalArgumentException](w.write(r))
      assert(e2.getMessage.contains("null key/value"), e2.getMessage)
    }
    w.abort()
  }

  test("overwrite truncates previous files; binary sort order matches memcmp") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ifile_ow").toString
    def write(n: Int, parts: Int): Unit =
      spark.range(n).repartition(parts)
        .select(unhex(lpad(hex(col("id")), 16, "0")).as("key"),
          encode(col("id").cast("string"), "utf-8").as("value"))
        .write.format("graft-ifile").mode("overwrite").save(dir)
    write(100, 5)
    write(10, 2) // fewer files; old part-00002..4 must not survive
    val back = spark.read.format("graft-ifile").load(dir)
    assert(back.count() == 10)
    // Spark's BinaryType ordering is unsigned lexicographic — the same
    // contract as the reference's text_compare/bytes_compare memcmp
    // (src/Merger/CompareFunc.cc:82-91); big-endian keys sort numerically
    val sorted = back.orderBy(col("key"))
      .select(decode(col("value"), "utf-8")).as[String].collect().toSeq
    assert(sorted == (0 until 10).map(_.toString))
  }
}
