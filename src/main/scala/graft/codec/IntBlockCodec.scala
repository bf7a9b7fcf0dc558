package graft.codec

/** Frame-of-Reference bit packing for postings blocks.
  *
  * A full block of up to [[IntBlockCodec.BlockSize]] non-negative ints is
  * packed at a single per-block bit width (max bits over the block); short
  * tail blocks fall back to VInt. This is the "variable-byte/FOR block
  * compression" demanded by the north rule; the reference encodes the same
  * information as per-posting VInt deltas
  * (/root/reference/src/core/index/FormatPostingsDocsWriter.cpp:63-88) —
  * FOR gives the same content with word-aligned bulk decode, which is the
  * right trade at 100 TB scale (decode is a tight shift/mask loop that the
  * JIT vectorizes).
  */
object IntBlockCodec {

  /** 128 postings per block — aligns block-max granularity with the term
    * index interval (SURVEY.md §7.3). */
  val BlockSize = 128

  /** Write `n` values from `vals[0..n)` at bit width `w` (1..32). Caller
    * writes `w` and `n` in its own header. */
  def pack(vals: Array[Int], n: Int, w: Int, out: ByteWriter): Unit = {
    var acc = 0L
    var accBits = 0
    var i = 0
    while (i < n) {
      acc |= (vals(i).toLong & 0xffffffffL) << accBits
      accBits += w
      while (accBits >= 8) {
        out.writeByte((acc & 0xff).toByte)
        acc >>>= 8
        accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) out.writeByte((acc & 0xff).toByte)
  }

  /** Decode `n` values of width `w` into `out[0..n)`. */
  def unpack(in: ByteReader, n: Int, w: Int, out: Array[Int]): Unit = {
    var acc = 0L
    var accBits = 0
    val mask = if (w == 32) 0xffffffffL else (1L << w) - 1
    var i = 0
    while (i < n) {
      while (accBits < w) {
        acc |= (in.readByte() & 0xffL) << accBits
        accBits += 8
      }
      out(i) = (acc & mask).toInt
      acc >>>= w
      accBits -= w
      i += 1
    }
  }

  @inline def bitsRequired(v: Int): Int =
    if (v == 0) 1 else 32 - Integer.numberOfLeadingZeros(v)

  def maxBits(vals: Array[Int], n: Int): Int = {
    var m = 0
    var i = 0
    while (i < n) { if (vals(i) > m) m = vals(i); i += 1 }
    bitsRequired(m)
  }

  /** Encode a block: [w:byte][packed payload]. Returns nothing; callers
    * prepend their own (n, byte-length) header where needed. */
  def encodeBlock(vals: Array[Int], n: Int, out: ByteWriter): Unit = {
    val w = maxBits(vals, n)
    out.writeByte(w.toByte)
    pack(vals, n, w, out)
  }

  def decodeBlock(in: ByteReader, n: Int, out: Array[Int]): Unit = {
    val w = in.readByte().toInt
    unpack(in, n, w, out)
  }
}
