package graft.sources.ifile

/** Hadoop zero-compressed VInt/VLong codec, re-implemented from the
  * public encoding spec so the [[IFileKV]] frames are bit-identical to
  * `org.apache.hadoop.io.WritableUtils.writeVLong` (the reference
  * serializes its merge-stream record headers with exactly this codec:
  * src/CommUtils/IOUtility.cc:208-333, size calc :367-383, first-byte
  * decode :389-396).
  *
  * Encoding: values in [-112, 127] are one literal byte. Anything else
  * is a length-prefix byte in [-113, -120] (positive, 1–8 payload
  * bytes) or [-121, -128] (negative, stored as the one's complement),
  * followed by the magnitude big-endian with leading zero bytes
  * dropped. `IFileSpec` differential-tests every boundary against
  * Hadoop's own WritableUtils on the classpath — the byte-compat
  * fixture SURVEY §7.4 calls for.
  *
  * Works on byte arrays: the graft-ifile writer frames records into one
  * reused block buffer and the reader parses frames out of a byte
  * window, so no stream sits between a record and its bytes.
  */
object VInt {

  /** Encodes `value` at `buf(pos)`, which has room for `size(value)`
    * bytes; returns the position after it. */
  def write(buf: Array[Byte], pos: Int, value: Long): Int = {
    if (value >= -112 && value <= 127) {
      buf(pos) = value.toByte
      pos + 1
    } else {
      var len = -112
      var v = value
      if (v < 0) { v ^= -1L; len = -120 }
      var tmp = v
      while (tmp != 0) { tmp >>>= 8; len -= 1 }
      buf(pos) = len.toByte
      val nBytes = if (len < -120) -(len + 120) else -(len + 112)
      var idx = nBytes - 1
      var p = pos + 1
      while (idx >= 0) {
        buf(p) = (v >>> (8 * idx)).toByte
        idx -= 1
        p += 1
      }
      p
    }
  }

  /** Bytes the encoding of `value` occupies (1–9). */
  def size(value: Long): Int = {
    if (value >= -112 && value <= 127) return 1
    var v = if (value < 0) value ^ -1L else value
    var n = 0
    while (v != 0) { v >>>= 8; n += 1 }
    n + 1
  }

  /** Decodes the VInt at `buf(pos)`; all `decodeSize(buf(pos))` of its
    * bytes must be present. */
  def read(buf: Array[Byte], pos: Int): Long = {
    val first = buf(pos)
    val len = decodeSize(first)
    if (len == 1) return first.toLong
    var v = 0L
    var i = 1
    while (i < len) {
      v = (v << 8) | (buf(pos + i) & 0xff)
      i += 1
    }
    if (isNegative(first)) v ^ -1L else v
  }

  /** Total encoded length implied by the first byte (1–9). */
  def decodeSize(first: Byte): Int =
    if (first >= -112) 1
    else if (first < -120) -119 - first
    else -111 - first

  def isNegative(first: Byte): Boolean =
    first < -120 || (first >= -112 && first < 0)

  /** `read` narrowed to Int with a range check (IFile record and block
    * headers are VInt-framed ints). */
  def readInt(buf: Array[Byte], pos: Int): Int = {
    val v = read(buf, pos)
    require(v >= Int.MinValue && v <= Int.MaxValue, s"VInt out of int range: $v")
    v.toInt
  }
}
