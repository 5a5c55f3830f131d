package graft.sources

/** The one bounds-guarded JDK inflate used by every format reader
  * (WOFF table data, git loose objects, Avro deflate blocks, PDF
  * /FlateDecode, ZIP members) — a single implementation so the stall
  * handling and bomb guard can never diverge between copies. r16
  * folded the two remaining older copies in (Pdf via [[apply]] with
  * its 64 MiB cap, Archives via [[exact]] which keeps its
  * declared-size contract); the WARC gzip-member walk reads through
  * [[member]] and PNG's IDAT stream through [[exact]]. This is the
  * only file that constructs a `java.util.zip.Inflater`.
  */
private[graft] object Inflate {

  /** Inflate `data`. `raw` = headerless deflate (ZIP members, Avro's
    * deflate codec); `cap` bounds the OUTPUT size — a stream that
    * exceeds it, stalls, or ends unfinished returns None, never junk
    * or an OOM. */
  def apply(data: Array[Byte], raw: Boolean, cap: Int)
    : Option[Array[Byte]] = member(data, 0, raw, cap).map(_._1)

  /** Inflate the one stream that starts at `data(from)`, leaving any
    * bytes after its end unread. Returns the output and the number of
    * input bytes the stream occupied — a gzip member walk needs that
    * count to find the member trailer. Same None contract as
    * [[apply]]. */
  def member(data: Array[Byte], from: Int, raw: Boolean, cap: Long)
    : Option[(Array[Byte], Int)] = {
    val inf = new java.util.zip.Inflater(raw)
    val len = data.length - from
    inf.setInput(data, from, len)
    // inflate straight into a doubling buffer of at most cap + 1 bytes,
    // first sized for a small stream, not for whatever follows it
    var out = new Array[Byte](
      math.min(cap + 1, math.min(len, 4096) * 2L + 64).toInt)
    var n = 0
    try {
      while (!inf.finished() && !inf.needsInput()) {
        if (n == out.length) {
          if (n > cap) return None // decompression bomb
          out = java.util.Arrays.copyOf(out, math.min(cap + 1, 2L * n).toInt)
        }
        val k = inf.inflate(out, n, out.length - n)
        if (k == 0 && !inf.finished()) return None // stalled stream
        n += k
      }
      if (n > cap) return None // decompression bomb
      if (!inf.finished()) return None // truncated input
      Some((java.util.Arrays.copyOf(out, n), len - inf.getRemaining))
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }

  /** Inflate into an exact `expected`-byte buffer: RAW deflate for ZIP
    * members (the central directory declares the size), zlib
    * (`raw = false`) for PNG's IDAT stream (IHDR fixes the scanline
    * bytes). Keeps the original Archives contract: output of exactly
    * `expected` bytes is accepted even with unconsumed trailing
    * compressed bytes (the member CRC gates content); shorter
    * output, stalls (a zlib stream asking for a preset dictionary
    * included) and bombs (expected > 256 MiB) return None. */
  def exact(data: Array[Byte], expected: Long, raw: Boolean = true)
    : Option[Array[Byte]] = {
    if (expected < 0 || expected > (256L << 20)) return None
    val inf = new java.util.zip.Inflater(raw)
    try {
      inf.setInput(data)
      val out = new Array[Byte](expected.toInt)
      var off = 0
      while (off < out.length && !inf.finished()) {
        val k = inf.inflate(out, off, out.length - off)
        if (k == 0 && !inf.finished()) return None // stalled/truncated
        off += k
      }
      if (off == out.length) Some(out) else None
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }
}
