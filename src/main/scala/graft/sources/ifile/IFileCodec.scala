package graft.sources.ifile

import org.apache.hadoop.conf.Configuration

/** Block compression for `graft-ifile` streams, mirroring the
  * reference's codec-wrapped segment streams (its merge readers pull
  * records through a block decompressor that inflates one compressed
  * chunk at a time: src/Merger/SnappyDecompressor.cc:60-108, generic
  * wrapper src/Merger/DecompressorWrapper.cc:80-114): the RECORD
  * framing (VInt lengths + EOF marker) is untouched, the byte stream
  * it lives in is chopped into independently-inflatable blocks
  * `<VInt rawLen> <VInt compLen> <compLen bytes>`.
  *
  * Two invariants make compressed files splittable (see the `.idx`
  * sidecar in [[IFileKV]]):
  *  - blocks are cut at RECORD boundaries only (the writer flushes
  *    after a whole record overflows the block budget), so any block
  *    start is a valid resume point;
  *  - each block inflates with no state from previous blocks.
  *
  * Codec is carried in the file NAME (`part-N.snappy.ifile`), the same
  * self-description convention Hadoop uses — a directory may mix raw
  * and compressed files and every reader knows what it has.
  */
sealed abstract class IFileCodec(val name: String) extends Serializable {
  /** Room `compress` needs for `rawLen` input bytes. */
  def maxCompressedLength(rawLen: Int): Int
  /** Deflates `src(off until off + len)` into `dst` at `dstOff`;
    * returns the compressed length. */
  def compress(src: Array[Byte], off: Int, len: Int,
               dst: Array[Byte], dstOff: Int): Int
  /** Inflates `src(off until off + len)` into `dst` at `dstOff`, which
    * has room for `rawLen` bytes; fails unless exactly `rawLen` come out. */
  def decompress(src: Array[Byte], off: Int, len: Int,
                 dst: Array[Byte], dstOff: Int, rawLen: Int): Unit
  def fileSuffix: String = s".$name.ifile"
}

object IFileCodec {
  case object SnappyCodec extends IFileCodec("snappy") {
    import org.xerial.snappy.Snappy
    override def maxCompressedLength(rawLen: Int): Int =
      Snappy.maxCompressedLength(rawLen)
    override def compress(src: Array[Byte], off: Int, len: Int,
                          dst: Array[Byte], dstOff: Int): Int =
      Snappy.compress(src, off, len, dst, dstOff)
    override def decompress(src: Array[Byte], off: Int, len: Int,
                            dst: Array[Byte], dstOff: Int, rawLen: Int): Unit = {
      // the block's own length header is checked first, so a corrupt
      // one can never inflate past the room the frame promised
      val n = Snappy.uncompressedLength(src, off, len)
      require(n == rawLen, s"snappy block inflates to $n, frame said $rawLen")
      Snappy.uncompress(src, off, len, dst, dstOff)
    }
  }

  case object ZstdCodec extends IFileCodec("zstd") {
    import com.github.luben.zstd.Zstd
    override def maxCompressedLength(rawLen: Int): Int =
      Zstd.compressBound(rawLen.toLong).toInt
    override def compress(src: Array[Byte], off: Int, len: Int,
                          dst: Array[Byte], dstOff: Int): Int = {
      val n = Zstd.compressByteArray(dst, dstOff, dst.length - dstOff,
        src, off, len, 3)
      if (Zstd.isError(n))
        throw new IllegalStateException(s"zstd: ${Zstd.getErrorName(n)}")
      n.toInt
    }
    override def decompress(src: Array[Byte], off: Int, len: Int,
                            dst: Array[Byte], dstOff: Int, rawLen: Int): Unit = {
      val n = Zstd.decompressByteArray(dst, dstOff, rawLen, src, off, len)
      if (Zstd.isError(n))
        throw new IllegalStateException(s"zstd: ${Zstd.getErrorName(n)}")
      require(n == rawLen, s"zstd block inflated to $n, frame said $rawLen")
    }
  }

  val all: Seq[IFileCodec] = Seq(SnappyCodec, ZstdCodec)

  /** The reference supports LZO via liblzo2 (O14,
    * src/Merger/LzoDecompressor.cc:151-167). This environment has NO
    * lzo implementation to differential-test a from-scratch decoder
    * against (the bar the VInt codec met via Hadoop's WritableUtils),
    * so rather than ship an unverifiable byte-format reimplementation,
    * lzo fails DELIBERATELY and by name — the reference's own pattern
    * for unsupported variants (src/Merger/CompareFunc.cc:109-112
    * aborts with the offending type in the message). The error names
    * the codec, the reason, and the supported alternatives, and is
    * pinned by IFileSpec. */
  def unsupported(name: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-ifile: codec '$name' is not supported - no $name " +
        "implementation is available to verify a reimplementation " +
        "against; use one of: snappy, zstd, none")

  def forName(s: String): IFileCodec = s.toLowerCase match {
    case "snappy" => SnappyCodec
    case "zstd"   => ZstdCodec
    case "lzo" | "lzop" => unsupported(s.toLowerCase)
    case other => throw new IllegalArgumentException(
      s"graft-ifile: unknown compression '$other' (snappy, zstd, none)")
  }

  /** Codec implied by a data file's name; None = raw. A `.lzo.ifile`
    * file is RECOGNIZED but unsupported — it must fail loudly at open,
    * not fall through to the raw-VInt reader and misparse compressed
    * bytes as record frames. */
  def fromFileName(f: String): Option[IFileCodec] = {
    if (f.endsWith(".lzo.ifile") || f.endsWith(".lzop.ifile"))
      unsupported(if (f.endsWith(".lzop.ifile")) "lzop" else "lzo")
    all.find(c => f.endsWith(c.fileSuffix))
  }
}

/** A refillable window over a byte source, which record and block
  * frames are parsed straight out of: `buf(pos until lim)` is unread,
  * and `offset` is the source position of `buf(pos)`, counted from where
  * the window started (for a split, its seek position). */
private[ifile] abstract class ByteWindow(capacity: Int) {
  var buf: Array[Byte] = new Array[Byte](capacity)
  var pos = 0
  var lim = 0
  private var base = 0L

  def offset: Long = base + pos

  /** Appends at least one byte at `lim`, or returns false at the end of
    * the source. */
  protected def fill(): Boolean

  /** Grows `buf` so that `n` bytes fit after `lim`. */
  protected final def room(n: Int): Unit =
    if (buf.length - lim < n)
      buf = java.util.Arrays.copyOf(buf, math.max(lim + n, buf.length * 2))

  /** True once `n` unread bytes are in the window; false if the source
    * ends first. Unread bytes move to the front only when a refill is
    * due, so a frame of any size — larger than the window included —
    * ends up contiguous in `buf`. */
  final def ensure(n: Int): Boolean = {
    while (lim - pos < n) {
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        base += pos
        lim -= pos
        pos = 0
      }
      room(n - lim)
      if (!fill()) return false
    }
    true
  }
}

/** The window over an input stream (a split's file bytes). */
private[ifile] class StreamWindow(in: java.io.InputStream, capacity: Int)
    extends ByteWindow(capacity) {
  override protected def fill(): Boolean = {
    val r = in.read(buf, lim, buf.length - lim)
    if (r > 0) lim += r
    r >= 0
  }
}

/** The window over the inflated contents of `<VInt rawLen> <VInt
  * compLen> <compLen bytes>` blocks read from `file` (whose offset is 0
  * at this split's seek position). Ends — reporting a clean end of
  * source — before inflating a block whose START offset lies at or
  * beyond `limit`: that block belongs to the next split. */
private[ifile] class BlockWindow(file: StreamWindow, codec: IFileCodec,
                                 limit: Long, name: String)
    extends ByteWindow(IFileKV.DefaultBlockSize) {
  private var done = false

  private def header(): Int = IFileKV.readVInt(file, name)

  override protected def fill(): Boolean = {
    if (done || file.offset >= limit || !file.ensure(1)) {
      done = true // a split's end, or the file's
      return false
    }
    val rawLen = header()
    val compLen = header()
    if (rawLen < 0 || compLen < 0)
      IFileKV.badFrame("blockLen", math.min(rawLen, compLen), name)
    if (!file.ensure(compLen)) IFileKV.truncated(name)
    room(rawLen)
    try codec.decompress(file.buf, file.pos, compLen, buf, lim, rawLen)
    catch { case e: Exception =>
      throw new IllegalStateException(
        s"graft-ifile: corrupt ${codec.name} block in $name", e)
    }
    file.pos += compLen
    lim += rawLen
    true
  }
}

/** Hadoop `Configuration` is not serializable; this captures the
  * driver-session conf (defaults + every session override) as a map and
  * rebuilds it lazily on the executor — so `spark.hadoop.*` settings
  * reach the tasks instead of being silently dropped by a fresh
  * `new Configuration()`. */
private[graft] class HadoopConfHolder(@transient conf: Configuration)
    extends Serializable {
  private val entries: Array[(String, String)] = {
    val it = conf.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }
  @transient private lazy val rebuilt: Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }
  def value: Configuration = if (conf != null) conf else rebuilt
}
