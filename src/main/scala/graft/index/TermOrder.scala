package graft.index

/** The engine's single term order: Unicode CODE-POINT order, which equals
  * UTF-8 byte order — the order of every segment dictionary and term vector
  * (the build, `LocalIndex` and compaction all sort with it), the order
  * Spark's UTF8String sort and DuckDB's memcmp oracle compare in, and the
  * order the reference's TermInfosWriter comparison yields on this platform
  * (/root/reference/src/core/index/TermInfosWriter.cpp:82-104: wchar_t is
  * 32-bit on Linux, so its per-char compare IS code-point compare).
  *
  * Java's String.compareTo (UTF-16 code units) disagrees exactly when a
  * supplementary-plane character (surrogate pair, code point >= U+10000)
  * meets a BMP character in [U+E000, U+FFFF]: UTF-16 sorts the surrogate
  * (0xD800-0xDFFF) below it, code-point order above. The adjustment below
  * is the standard UTF16-in-UTF8-order fix-up. */
object TermOrder {

  def compare(a: String, b: String): Int = {
    val len = math.min(a.length, b.length)
    var i = 0
    while (i < len) {
      var ca = a.charAt(i).toInt
      var cb = b.charAt(i).toInt
      if (ca != cb) {
        if (ca >= 0xD800 && cb >= 0xD800) {
          if (ca >= 0xE000) ca -= 0x800 else ca += 0x2000
          if (cb >= 0xE000) cb -= 0x800 else cb += 0x2000
        }
        return ca - cb
      }
      i += 1
    }
    a.length - b.length
  }

  @inline def lt(a: String, b: String): Boolean = compare(a, b) < 0
  @inline def lteq(a: String, b: String): Boolean = compare(a, b) <= 0
  @inline def gt(a: String, b: String): Boolean = compare(a, b) > 0
  @inline def gteq(a: String, b: String): Boolean = compare(a, b) >= 0

  val ordering: Ordering[String] = (a: String, b: String) => compare(a, b)
}
