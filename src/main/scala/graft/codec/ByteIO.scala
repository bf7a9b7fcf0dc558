package graft.codec

import java.nio.ByteBuffer

/** Growable little binary writer with VInt/VLong (LEB128-style, same
  * information content as the reference's variable-byte encoding —
  * /root/reference/src/core/store/IndexOutput.cpp:32-51; byte layout is our
  * own, we are not a file-format port). */
final class ByteWriter(initial: Int = 256) {
  private var buf = new Array[Byte](initial)
  private var len = 0

  @inline private def ensure(extra: Int): Unit = {
    if (len + extra > buf.length) {
      // Hard 2 GiB ceiling: files are written from one int-indexed buffer
      // and read back through a single MappedByteBuffer, both int-limited.
      require(len.toLong + extra <= Int.MaxValue - 8,
        s"file buffer would exceed 2 GiB (${len.toLong + extra} bytes); " +
          "graft segment files are int-addressed — reduce docsPerSegment")
      var cap = buf.length.toLong * 2
      while (cap < len + extra) cap *= 2
      buf = java.util.Arrays.copyOf(buf, math.min(cap, Int.MaxValue - 8).toInt)
    }
  }

  def size: Int = len

  /** Truncate to empty, keeping the allocated buffer. */
  def reset(): Unit = { len = 0 }

  def writeByte(b: Byte): Unit = { ensure(1); buf(len) = b; len += 1 }

  /** Fixed-width big-endian long (random-access offset tables). */
  def writeLongBE(v: Long): Unit = {
    ensure(8)
    var i = 7
    while (i >= 0) { buf(len + (7 - i)) = ((v >>> (8 * i)) & 0xff).toByte; i -= 1 }
    len += 8
  }

  def writeBytes(bs: Array[Byte], off: Int, n: Int): Unit = {
    ensure(n); System.arraycopy(bs, off, buf, len, n); len += n
  }
  def writeBytes(bs: Array[Byte]): Unit = writeBytes(bs, 0, bs.length)

  def writeVInt(vIn: Int): Unit = {
    var v = vIn
    ensure(5)
    while ((v & ~0x7f) != 0) { buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
    buf(len) = v.toByte; len += 1
  }

  def writeVLong(vIn: Long): Unit = {
    var v = vIn
    ensure(10)
    while ((v & ~0x7fL) != 0) { buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
    buf(len) = v.toByte; len += 1
  }

  def writeString(s: String): Unit = {
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    writeVInt(bs.length); writeBytes(bs)
  }

  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

/** Positioned reader over a ByteBuffer (heap array or mmap — segment files
  * are opened via FileChannel.map at query time, SURVEY.md §4.2). */
final class ByteReader(private val bb: ByteBuffer) {
  def this(arr: Array[Byte]) = this(ByteBuffer.wrap(arr))

  def pos: Int = bb.position()
  def seek(p: Int): Unit = bb.position(p)
  def skip(n: Int): Unit = bb.position(bb.position() + n)
  def remaining: Int = bb.remaining()

  def readByte(): Byte = bb.get()

  def readLongBE(): Long = bb.getLong()

  def readBytes(n: Int): Array[Byte] = {
    val out = new Array[Byte](n); bb.get(out); out
  }

  /** Fill `dst` from index `off` to its end. */
  def readInto(dst: Array[Byte], off: Int): Unit = bb.get(dst, off, dst.length - off)

  def readVInt(): Int = {
    var b = bb.get()
    var v = b & 0x7f
    var shift = 7
    while ((b & 0x80) != 0) {
      b = bb.get()
      v |= (b & 0x7f) << shift
      shift += 7
    }
    v
  }

  def readVLong(): Long = {
    var b = bb.get()
    var v = (b & 0x7fL)
    var shift = 7
    while ((b & 0x80) != 0) {
      b = bb.get()
      v |= (b & 0x7fL) << shift
      shift += 7
    }
    v
  }

  def readString(): String = {
    val n = readVInt()
    val bs = readBytes(n)
    new String(bs, java.nio.charset.StandardCharsets.UTF_8)
  }

}
