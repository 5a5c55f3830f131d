package graft.sources

/** Byte order and integer encoding for every binary parser and fixture
  * builder — the one place that says how a little-endian, big-endian
  * or LEB128 integer is laid out in bytes.
  *
  *  - The value class is a positional reader over an `Array[Byte]`:
  *    `Long` offsets, primitive results. Reads up to 24 bits are `Int`;
  *    unsigned 32-bit and all 64-bit reads are `Long`. A parser writes
  *    `val r = Bytes(b); import r._` and keeps its own length guards;
  *    nothing is boxed.
  *  - [[Bytes.Cursor]] is the sequential reader: every read is
  *    bounds-checked against `end` and returns None past it, never an
  *    exception.
  *  - [[Bytes.le]], [[Bytes.be]], [[Bytes.varint]] and [[Bytes.zigzag]]
  *    are the writers the `synth*` fixture builders use.
  *
  * Offsets are `Long` (the byte-walk rule): an unsigned 32-bit size
  * added to a cursor moves it past the buffer instead of wrapping to a
  * zero or negative step.
  */
private[graft] final class Bytes(private val arr: Array[Byte])
    extends AnyVal {
  def u8(i: Long): Int = arr(i.toInt) & 0xff
  def le16(i: Long): Int = u8(i) | (u8(i + 1) << 8)
  def le24(i: Long): Int = le16(i) | (u8(i + 2) << 16)
  def le32(i: Long): Long = le16(i).toLong | (le16(i + 2).toLong << 16)
  def le64(i: Long): Long = le32(i) | (le32(i + 4) << 32)
  def be16(i: Long): Int = (u8(i) << 8) | u8(i + 1)
  def be24(i: Long): Int = (be16(i) << 8) | u8(i + 2)
  def be32(i: Long): Long = (be16(i).toLong << 16) | be16(i + 2)
  def be64(i: Long): Long = (be32(i) << 32) | be32(i + 4)
}

private[graft] object Bytes {

  def apply(b: Array[Byte]): Bytes = new Bytes(b)

  /** Sequential reader over `b[pos, end)`: every read past `end` is
    * None. Fixed-width reads, `slice` and `skip` check their width
    * first and consume nothing when it does not fit. Format cursors
    * (Thrift compact, protobuf) extend it with their own structural
    * skips. */
  class Cursor(b: Array[Byte], var pos: Long, val end: Long) {
    def this(b: Array[Byte]) = this(b, 0L, b.length.toLong)

    private def fits(n: Long): Boolean = n >= 0 && n <= end - pos

    def u8(): Option[Int] =
      if (pos >= end) None
      else { val v = b(pos.toInt) & 0xff; pos += 1; Some(v) }
    /** Big-endian unsigned `n`-byte integer, `n` ≤ 8. */
    def beN(n: Int): Option[Long] =
      if (!fits(n)) None
      else {
        var v = 0L; var k = 0
        while (k < n) { v = (v << 8) | (b((pos + k).toInt) & 0xff); k += 1 }
        pos += n; Some(v)
      }
    def le32(): Option[Long] =
      if (!fits(4)) None else { val v = Bytes(b).le32(pos); pos += 4; Some(v) }
    def le64(): Option[Long] =
      if (!fits(8)) None else { val v = Bytes(b).le64(pos); pos += 8; Some(v) }
    /** LEB128 unsigned varint, at most 10 bytes. */
    def varint(): Option[Long] = {
      var v = 0L; var shift = 0
      while (shift <= 63) {
        if (pos >= end) return None
        val byt = b(pos.toInt) & 0xff
        pos += 1
        v |= (byt & 0x7fL) << shift
        if ((byt & 0x80) == 0) return Some(v)
        shift += 7
      }
      None // an 11th byte: not a varint
    }
    /** Zigzag-decoded [[varint]] (Avro, Thrift compact). */
    def zigzag(): Option[Long] = varint().map(unzigzag)
    def slice(n: Long): Option[Array[Byte]] =
      if (!fits(n)) None
      else {
        val r = java.util.Arrays.copyOfRange(b, pos.toInt, (pos + n).toInt)
        pos += n; Some(r)
      }
    def skip(n: Long): Boolean = fits(n) && { pos += n; true }
  }

  // ---- writers (fixture builders) ---------------------------------- //

  /** The low `n` bytes of `v`, least significant first. */
  def le(v: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var k = 0
    while (k < n) { out(k) = (v >>> (8 * k)).toByte; k += 1 }
    out
  }

  /** The low `n` bytes of `v`, most significant first. */
  def be(v: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var k = 0
    while (k < n) { out(n - 1 - k) = (v >>> (8 * k)).toByte; k += 1 }
    out
  }

  /** LEB128 unsigned varint (`v` read as unsigned 64-bit). */
  def varint(v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(10)
    var n = v
    while ((n & ~0x7fL) != 0) { out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
    out.write(n.toInt)
    out.toByteArray
  }

  /** Zigzag-encoded [[varint]]: small magnitudes of either sign stay
    * short. */
  def zigzag(v: Long): Array[Byte] = varint((v << 1) ^ (v >> 63))

  /** The zigzag map back to a signed value (0, 1, 2, 3 → 0, -1, 1, -2). */
  def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)
}
