package graft.sources.ifile

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform

/** Batch source/sink for the reference's on-the-wire record format:
  * a stream of `<VInt keyLen> <VInt valLen> <key bytes> <val bytes>`
  * records terminated by a `-1/-1` EOF marker — Hadoop IFile framing
  * without the checksums (writer: src/Merger/StreamRW.cc:151-225, EOF
  * constant :20; reader: BaseSegment::nextKVInternal
  * src/Merger/StreamRW.cc:334-404). Registered as format
  * `graft-ifile`; fixed schema `(key BINARY, value BINARY)`.
  *
  * Options:
  *  - write `compression` = none (default) | snappy | zstd — block
  *    framing per [[IFileCodec]], codec self-described by file name;
  *  - write `index.interval.bytes` (default 1 MiB) — record/block
  *    boundary offsets every ~interval bytes go to a `.idx` sidecar,
  *    the analog of the reference's MOF index that makes every file
  *    range-addressable (src/MOFServer/IndexInfo.h:98-104);
  *  - read `max.split.bytes` (default 128 MiB) — files larger than
  *    this WITH a sidecar are planned as multiple range partitions, so
  *    one big file no longer pins read parallelism to 1. Files without
  *    a sidecar (or small ones) read as one partition per file, as the
  *    reference reads one segment per MOF.
  *
  * Split semantics: a record (raw) or block (compressed) belongs to
  * the split containing its first byte; sidecar offsets are boundary
  * positions, so range readers never see a torn frame.
  *
  * Commit protocol: writers stream to `_temporary/<uuid>/` names and
  * the driver renames to `part-NNNNN[.codec].ifile` (+ `.idx`) only in
  * `commit()`, so a failed/speculative task can never leave a
  * half-written file visible to readers. Every rename's return value
  * is CHECKED (HDFS reports e.g. missing parents as `false`, not an
  * exception — ignoring it is silent data loss), and cleanup removes
  * only THIS write's staging dir, never the shared `_temporary` root a
  * concurrent writer may be using. All filesystem access goes through
  * the session's Hadoop conf, serialized to the tasks — a bare
  * `new Configuration()` would drop `spark.hadoop.*` settings
  * (credentials, filesystem impls) and silently read nothing.
  */
class IFileKVSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ifile"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IFileKV.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-ifile requires a path"))
    new IFileKVTable(path)
  }
  override def supportsExternalMetadata(): Boolean = true
}

object IFileKV {
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  private[ifile] val EofMarker = -1
  private[ifile] val IdxSuffix = ".idx"
  private[ifile] val DefaultIndexInterval = 1L << 20
  private[ifile] val DefaultMaxSplitBytes = 128L << 20
  private[ifile] val DefaultBlockSize = 1 << 16
  /** The reader's byte window, and the raw writer's flush size. */
  private[graft] val WindowBytes = 1 << 16

  /** Records that a VInt length field read something other than a
    * non-negative length or the EOF pair — a truncated or foreign file. */
  private[ifile] def badFrame(what: String, v: Int, file: String): Nothing =
    throw new IllegalStateException(
      s"graft-ifile: corrupt frame ($what = $v) in $file")

  /** The source ended inside a frame: a truncated file. */
  private[ifile] def truncated(file: String): Nothing =
    throw new java.io.EOFException(
      s"graft-ifile: $file ends inside a frame (truncated file)")

  /** Reads one VInt-framed int header from `w`. */
  private[ifile] def readVInt(w: ByteWindow, file: String): Int = {
    if (!w.ensure(1)) truncated(file)
    val n = VInt.decodeSize(w.buf(w.pos))
    if (!w.ensure(n)) truncated(file)
    val v = VInt.readInt(w.buf, w.pos)
    w.pos += n
    v
  }

  private[graft] def sessionConf(): HadoopConfHolder =
    new HadoopConfHolder(SparkSession.active.sessionState.newHadoopConf())

  /** `FileSystem.rename` reports most failures (missing parent, dest
    * exists) as `false`, not an exception — ignoring it is silent data
    * loss at commit time. Worse, renaming onto an EXISTING DIRECTORY
    * "succeeds" by moving the file inside it (HDFS semantics), which
    * hides committed data from readers just as silently — so the
    * destination must not exist at all. */
  private[graft] def renameOrDie(fs: org.apache.hadoop.fs.FileSystem,
                                 from: org.apache.hadoop.fs.Path,
                                 to: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(to))
      throw new java.io.IOException(
        s"graft-ifile: commit target $to already exists — " +
          "refusing to drop committed data")
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"graft-ifile: commit rename $from -> $to failed — " +
          "refusing to drop committed data")
  }
}

private[ifile] class IFileKVTable(path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-ifile `$path`"
  override def schema(): StructType = IFileKV.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new IFileKVScan(path,
        options.getLong("max.split.bytes", IFileKV.DefaultMaxSplitBytes))
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    require(in.length == 2 && in.forall(_.dataType == BinaryType),
      s"graft-ifile writes exactly (key BINARY, value BINARY); got $in")
    val codec = Option(info.options.get("compression"))
      .filterNot(_.equalsIgnoreCase("none")).map(IFileCodec.forName)
    val interval = info.options.getLong("index.interval.bytes",
      IFileKV.DefaultIndexInterval)
    val blockSizeL = info.options.getLong("block.size.bytes",
      IFileKV.DefaultBlockSize.toLong)
    // a Long silently .toInt-wrapped could turn 4 GiB into 0 and make
    // every record its own compressed block
    require(blockSizeL > 0 && blockSizeL <= (1L << 28),
      s"graft-ifile: block.size.bytes must be in (0, 256 MiB], got $blockSizeL")
    val blockSize = blockSizeL.toInt
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new IFileKVBatchWrite(path, doTruncate, codec, interval, blockSize)
      }
    }
  }
}

// ---------------------------------------------------------------- read

private[ifile] case class IFileInputPartition(file: String, start: Long,
                                              end: Long)
    extends InputPartition

private[ifile] class IFileKVScan(path: String, maxSplitBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = IFileKV.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val conf = IFileKV.sessionConf()
    val fs = p.getFileSystem(conf.value)
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".ifile"))
      .sortBy(_.getPath.getName)
      .flatMap { s =>
        val f = s.getPath
        val len = s.getLen
        val idx = new Path(f.toString + IFileKV.IdxSuffix)
        if (len <= maxSplitBytes || !fs.exists(idx))
          Seq(IFileInputPartition(f.toString, 0L, Long.MaxValue))
        else {
          // sidecar = record/block boundary offsets; cut a split
          // whenever the accumulated range reaches maxSplitBytes.
          // The sidecar is ADVISORY: a corrupt one (truncated copy,
          // foreign file) must never be trusted as record boundaries —
          // raw framing has no sync marker, so seeking to a bogus
          // offset would VInt-decode payload bytes as frames and
          // return garbage ROWS, not an error. Validate strictly
          // (length multiple of 8, strictly increasing, within the
          // data file); on any violation fall back to the always-
          // correct single-partition read and say so.
          val idxLen = fs.getFileStatus(idx).getLen
          val marks = Array.newBuilder[Long]
          var valid = idxLen % 8 == 0
          if (valid) {
            val in = new java.io.DataInputStream(
              new java.io.BufferedInputStream(fs.open(idx)))
            try {
              var prev = 0L
              var remaining = idxLen / 8
              while (valid && remaining > 0) {
                val v = in.readLong()
                if (v <= prev || v >= len) valid = false
                else { marks += v; prev = v }
                remaining -= 1
              }
            } catch { case _: java.io.IOException => valid = false
            } finally in.close()
          }
          if (!valid) {
            System.err.println(s"[graft-ifile] ignoring invalid index " +
              s"sidecar $idx — reading $f as one partition")
            Seq(IFileInputPartition(f.toString, 0L, Long.MaxValue))
          } else {
            val splits = Array.newBuilder[IFileInputPartition]
            var cur = 0L
            marks.result().foreach { o =>
              if (o - cur >= maxSplitBytes) {
                splits += IFileInputPartition(f.toString, cur, o)
                cur = o
              }
            }
            splits += IFileInputPartition(f.toString, cur, len)
            splits.result().toSeq
          }
        }
      }
      .map(x => x: InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = IFileKV.sessionConf()
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[IFileInputPartition]
        new IFileKVReader(p.file, p.start, p.end, conf)
      }
    }
  }
}

private[ifile] class IFileKVReader(file: String, start: Long, end: Long,
                                   conf: HadoopConfHolder)
    extends PartitionReader[InternalRow] {
  private val codec = IFileCodec.fromFileName(file)
  private val fsin = {
    val p = new Path(file)
    val in = p.getFileSystem(conf.value).open(p)
    if (start > 0) in.seek(start)
    in
  }
  private val fileWindow = new StreamWindow(fsin, IFileKV.WindowBytes)
  private val in: ByteWindow = codec match {
    case None    => fileWindow
    case Some(c) => new BlockWindow(fileWindow, c, end - start, file)
  }
  private val bounded = end != Long.MaxValue
  private var row: InternalRow = _
  private var eof = false

  override def next(): Boolean = {
    if (eof) return false
    // raw files: a record starting at or past `end` belongs to the next
    // split (the window's offset is a record boundary exactly here)
    if (codec.isEmpty && bounded && start + in.offset >= end) {
      eof = true
      return false
    }
    if (!in.ensure(1)) {
      // clean stream end: expected for bounded range reads (the split
      // ends mid-file); a full-file read must end at the EOF marker
      if (!bounded) IFileKV.badFrame("truncated-eof", -1, file)
      eof = true
      return false
    }
    val keyLen = IFileKV.readVInt(in, file)
    val valLen = IFileKV.readVInt(in, file)
    if (keyLen == IFileKV.EofMarker && valLen == IFileKV.EofMarker) {
      eof = true
      return false
    }
    if (keyLen < 0) IFileKV.badFrame("keyLen", keyLen, file)
    if (valLen < 0) IFileKV.badFrame("valLen", valLen, file)
    // key and value must fit one array together
    if (valLen > Int.MaxValue - keyLen) IFileKV.badFrame("valLen", valLen, file)
    if (!in.ensure(keyLen + valLen)) IFileKV.truncated(file)
    // the scan's unsafe projection copies these arrays into its row and
    // would allocate them itself from any other row shape
    val key = java.util.Arrays.copyOfRange(in.buf, in.pos, in.pos + keyLen)
    in.pos += keyLen
    val value = java.util.Arrays.copyOfRange(in.buf, in.pos, in.pos + valLen)
    in.pos += valLen
    row = new GenericInternalRow(Array[Any](key, value))
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = fsin.close()
}

// --------------------------------------------------------------- write

private[ifile] case class IFileCommit(tempFile: String, tempIdx: String,
                                      finalName: String)
    extends WriterCommitMessage

private[ifile] class IFileKVBatchWrite(path: String, truncate: Boolean,
                                       codec: Option[IFileCodec],
                                       indexInterval: Long, blockSize: Int)
    extends BatchWrite {
  // one staging dir per WRITE (not per truncate-flag or table): cleanup
  // may remove this dir and only this dir
  private val stage = s"$path/_temporary/${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new IFileKVWriterFactory(stage, codec, IFileKV.sessionConf(),
      indexInterval, blockSize)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(IFileKV.sessionConf().value)
    if (truncate && fs.exists(dst)) {
      fs.listStatus(dst).filter(s => s.isFile &&
          (s.getPath.getName.endsWith(".ifile") ||
            s.getPath.getName.endsWith(".ifile" + IFileKV.IdxSuffix)))
        .foreach(s => fs.delete(s.getPath, false))
    }
    fs.mkdirs(dst)
    messages.foreach { case IFileCommit(temp, tempIdx, finalName) =>
      IFileKV.renameOrDie(fs, new Path(temp), new Path(dst, finalName))
      IFileKV.renameOrDie(fs, new Path(tempIdx),
        new Path(dst, finalName + IFileKV.IdxSuffix))
    }
    fs.delete(new Path(stage), true)
    gcOrphanedStaging(fs)
  }

  /** Staging dirs whose write CRASHED (driver gone before commit/abort)
    * would otherwise leak full-size data files forever: scoped cleanup
    * deletes sibling staging dirs untouched for 24 h. Age-gating keeps
    * CONCURRENT writers safe (their dirs have fresh mtimes); the old
    * delete-the-whole-_temporary-root behavior clobbered them. */
  private def gcOrphanedStaging(fs: org.apache.hadoop.fs.FileSystem): Unit =
    try {
      val root = new Path(s"$path/_temporary")
      if (fs.exists(root)) {
        val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
        fs.listStatus(root)
          .filter(s => s.isDirectory && s.getModificationTime < cutoff)
          .foreach(s => fs.delete(s.getPath, true))
      }
    } catch { case e: Exception =>
      System.err.println(s"[graft-ifile] staging GC skipped: $e")
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(IFileKV.sessionConf().value)
    fs.delete(new Path(stage), true)
  }
}

private[ifile] class IFileKVWriterFactory(stageDir: String,
                                          codec: Option[IFileCodec],
                                          conf: HadoopConfHolder,
                                          indexInterval: Long, blockSize: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val suffix = codec.map(_.fileSuffix).getOrElse(".ifile")
    new IFileKVWriter(s"$stageDir/task-$partitionId-$taskId",
      f"part-$partitionId%05d$suffix", codec, conf, indexInterval, blockSize)
  }
}

/** Frames records into one reused block buffer, copying key and value
  * bytes straight from an [[UnsafeRow]]'s memory (other rows go through
  * `getBinary`). A raw file flushes the buffer as it is once it holds
  * 64 KiB; a compressed file deflates it into a reused array once it
  * holds `blockSize` bytes, so blocks are cut only at record boundaries. */
private[graft] class IFileKVWriter(tempFile: String, finalName: String,
                                   codec: Option[IFileCodec],
                                   conf: HadoopConfHolder,
                                   indexInterval: Long, blockSize: Int)
    extends DataWriter[InternalRow] {
  private val p = new Path(tempFile)
  private val fs = p.getFileSystem(conf.value)
  private val out = fs.create(p, true)
  private val flushAt = if (codec.isEmpty) IFileKV.WindowBytes else blockSize
  private var block = new Array[Byte](flushAt + (flushAt >> 2))
  private var len = 0
  // bytes handed to `out`; written + len is the next record's offset
  private var written = 0L
  // compressed block: room for its two int VInts (at most 5 bytes
  // each), then the deflated bytes
  private val HeaderRoom = 10
  private var packed = Array.emptyByteArray
  // boundary offsets for the .idx sidecar (position 0 is implicit)
  private val marks = scala.collection.mutable.ArrayBuffer[Long]()
  private var lastMark = 0L

  private def markIfDue(pos: Long): Unit =
    if (pos - lastMark >= indexInterval) { marks += pos; lastMark = pos }

  override def write(record: InternalRow): Unit = record match {
    case u: UnsafeRow =>
      if (u.isNullAt(0) || u.isNullAt(1)) nullFrame()
      // a variable-length field's slot holds (offset << 32 | size)
      val k = u.getLong(0)
      val v = u.getLong(1)
      append(u.getBaseObject, u.getBaseOffset + (k >>> 32), k.toInt,
        u.getBaseObject, u.getBaseOffset + (v >>> 32), v.toInt)
    case r =>
      val key = r.getBinary(0)
      val value = r.getBinary(1)
      if (key == null || value == null) nullFrame()
      append(key, Platform.BYTE_ARRAY_OFFSET, key.length,
        value, Platform.BYTE_ARRAY_OFFSET, value.length)
  }

  private def nullFrame(): Nothing = throw new IllegalArgumentException(
    "graft-ifile: null key/value — frame lengths cannot encode null")

  private def append(kBase: AnyRef, kOff: Long, kLen: Int,
                     vBase: AnyRef, vOff: Long, vLen: Int): Unit = {
    if (codec.isEmpty) markIfDue(written + len) // record boundary
    reserve(VInt.size(kLen) + VInt.size(vLen) + kLen + vLen)
    len = VInt.write(block, len, kLen)
    len = VInt.write(block, len, vLen)
    Platform.copyMemory(kBase, kOff, block, Platform.BYTE_ARRAY_OFFSET + len, kLen)
    len += kLen
    Platform.copyMemory(vBase, vOff, block, Platform.BYTE_ARRAY_OFFSET + len, vLen)
    len += vLen
    if (len >= flushAt) {
      // compressed: `written` is the start offset of the block about to
      // be written — a valid seek boundary
      if (codec.nonEmpty) markIfDue(written)
      flush()
    }
  }

  private def reserve(n: Int): Unit = if (block.length - len < n)
    block = java.util.Arrays.copyOf(block, math.max(len + n, block.length * 2))

  /** Writes the buffered records: as they are (raw) or as one block
    * `<VInt rawLen> <VInt compLen> <compLen bytes>`. */
  private def flush(): Unit = if (len > 0) {
    codec match {
      case None =>
        out.write(block, 0, len)
        written += len
      case Some(c) =>
        val bound = HeaderRoom + c.maxCompressedLength(len)
        if (packed.length < bound) packed = new Array[Byte](bound)
        val n = c.compress(block, 0, len, packed, HeaderRoom)
        val h = VInt.size(len) + VInt.size(n)
        VInt.write(packed, VInt.write(packed, HeaderRoom - h, len), n)
        out.write(packed, HeaderRoom - h, h + n)
        written += h + n
    }
    len = 0
  }

  override def commit(): WriterCommitMessage = {
    reserve(2)
    len = VInt.write(block, len, IFileKV.EofMarker.toLong)
    len = VInt.write(block, len, IFileKV.EofMarker.toLong)
    flush()
    out.close()
    val ip = new Path(tempFile + IFileKV.IdxSuffix)
    val iout = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(ip, true)))
    try marks.foreach(iout.writeLong) finally iout.close()
    IFileCommit(tempFile, tempFile + IFileKV.IdxSuffix, finalName)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(p, false)
    fs.delete(new Path(tempFile + IFileKV.IdxSuffix), false)
  }

  override def close(): Unit = ()
}
