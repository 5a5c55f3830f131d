package graft

import graft.multimodal.Binary
import graft.sources.{Archives, Bytes}
import org.scalatest.funsuite.AnyFunSuite

/** The shared byte layer: writer→reader round trips, the varint length
  * cap, Cursor bounds, the crafted-size byte-walk rule — and the guard
  * that keeps every parser on it. */
class BytesSpec extends AnyFunSuite {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("le/be writers round-trip through the positional reader at every width") {
    val readers: Map[(Boolean, Int), (Bytes, Long) => Long] = Map(
      (true, 1) -> ((r, i) => r.u8(i).toLong),
      (false, 1) -> ((r, i) => r.u8(i).toLong),
      (true, 2) -> ((r, i) => r.le16(i).toLong),
      (true, 3) -> ((r, i) => r.le24(i).toLong),
      (true, 4) -> ((r, i) => r.le32(i)),
      (true, 8) -> ((r, i) => r.le64(i)),
      (false, 2) -> ((r, i) => r.be16(i).toLong),
      (false, 3) -> ((r, i) => r.be24(i).toLong),
      (false, 4) -> ((r, i) => r.be32(i)),
      (false, 8) -> ((r, i) => r.be64(i)))
    for (((little, n), read) <- readers) {
      val max = if (n == 8) -1L else (1L << (8 * n)) - 1
      for (v <- Seq(0L, 1L, 0x7fL, 0x80L, max, max - 1, 0x0123456789abcdefL & max)) {
        val w = if (little) Bytes.le(v, n) else Bytes.be(v, n)
        assert(w.length == n)
        // at offset 3 inside a larger buffer, so offsets are exercised too
        val buf = bytes(9, 9, 9) ++ w ++ bytes(9)
        assert(read(Bytes(buf), 3L) == v, s"little=$little n=$n v=$v")
      }
    }
    assert(Bytes.le(0x01020304L, 4).toSeq == bytes(4, 3, 2, 1).toSeq)
    assert(Bytes.be(0x01020304L, 4).toSeq == bytes(1, 2, 3, 4).toSeq)
    // unsigned: the high bit never sign-extends
    assert(Bytes(bytes(0xff, 0xff, 0xff, 0xff)).le32(0) == 0xffffffffL)
    assert(Bytes(bytes(0x80, 0, 0)).be24(0) == 0x800000)
  }

  test("varint and zigzag writers round-trip through the Cursor") {
    for (v <- Seq(0L, 1L, 0x7fL, 0x80L, 0x3fffL, 0x4000L, 0xffffffffL,
        Long.MaxValue, Long.MinValue, -1L)) {
      val w = Bytes.varint(v)
      val c = new Bytes.Cursor(w)
      assert(c.varint() == Some(v) && c.pos == w.length, s"varint $v")
    }
    assert(Bytes.varint(0x7f).toSeq == bytes(0x7f).toSeq)
    assert(Bytes.varint(0x80).toSeq == bytes(0x80, 0x01).toSeq)
    for (v <- Seq(0L, 1L, -1L, 63L, -64L, 64L, -65L, 0x7fffffffL,
        -0x80000000L, Long.MaxValue, Long.MinValue)) {
      val w = Bytes.zigzag(v)
      val c = new Bytes.Cursor(w)
      assert(c.zigzag() == Some(v) && c.pos == w.length, s"zigzag $v")
      assert(Bytes.unzigzag((v << 1) ^ (v >> 63)) == v)
    }
    // small magnitudes of either sign stay one byte
    assert(Bytes.zigzag(-1L).toSeq == bytes(1).toSeq)
    assert(Bytes.zigzag(-64L).toSeq == bytes(0x7f).toSeq)
  }

  test("a 10-byte varint is accepted, an 11-byte one is rejected") {
    val ten = Bytes.varint(-1L)
    assert(ten.length == 10)
    assert(new Bytes.Cursor(ten).varint() == Some(-1L))
    val eleven = Array.fill[Byte](10)(0x80.toByte) :+ 0.toByte
    assert(new Bytes.Cursor(eleven).varint().isEmpty)
    // a continuation bit on the last available byte is truncation
    assert(new Bytes.Cursor(bytes(0x80, 0x80)).varint().isEmpty)
  }

  test("every Cursor read past end gives None and consumes nothing") {
    val buf = Array.tabulate[Byte](32)(_.toByte)
    // a window [4, 7) inside a larger array: bytes past `end` exist
    // but must never be read
    def cur() = new Bytes.Cursor(buf, 4L, 7L)
    val reads: Seq[(String, Bytes.Cursor => Option[Any])] = Seq(
      "beN(4)" -> (_.beN(4)), "beN(8)" -> (_.beN(8)),
      "le32" -> (_.le32()), "le64" -> (_.le64()),
      "slice(4)" -> (_.slice(4)), "slice(-1)" -> (_.slice(-1)),
      "slice(huge)" -> (_.slice(Long.MaxValue)))
    for ((name, read) <- reads) {
      val c = cur()
      assert(read(c).isEmpty, name)
      assert(c.pos == 4L, s"$name consumed bytes")
    }
    val c = cur()
    assert(!c.skip(4) && !c.skip(-1) && !c.skip(Long.MaxValue) && c.pos == 4L)
    assert(c.beN(2) == Some(0x0405L) && c.u8() == Some(6))
    assert(c.pos == c.end)
    assert(c.u8().isEmpty && c.beN(1).isEmpty)
    assert(c.varint().isEmpty && c.zigzag().isEmpty)
    assert(c.slice(0).exists(_.isEmpty) && c.skip(0))
    // a varint whose continuation runs into `end` is None too
    assert(new Bytes.Cursor(bytes(0x81, 0x81, 0x01), 0L, 2L).varint().isEmpty)
  }

  test("a crafted 0xFFFFFFFF size walks a WAV and a ZIP out as None") {
    import Bytes.le
    val ascii = (s: String) => s.getBytes("US-ASCII")
    // a JUNK chunk claiming 4 GiB ahead of fmt/data: the Long cursor
    // steps past the buffer instead of wrapping to a zero/negative step
    val fmt = ascii("fmt ") ++ le(16, 4) ++ le(1, 2) ++ le(1, 2) ++
      le(8000, 4) ++ le(16000, 4) ++ le(2, 2) ++ le(16, 2)
    val body = ascii("WAVE") ++ ascii("JUNK") ++ le(0xffffffffL, 4) ++
      fmt ++ ascii("data") ++ le(4, 4) ++ bytes(1, 0, 2, 0)
    val wav = ascii("RIFF") ++ le(body.length, 4) ++ body
    assert(Bounded(5, "parseAudioMeta")(Binary.parseAudioMeta(wav)).isEmpty)
    assert(Bounded(5, "wavPcmDecode")(Binary.wavPcmDecode(wav)).isEmpty)
    // without the JUNK chunk the same bytes parse
    val plain = ascii("RIFF") ++ le(4 + fmt.length + 12, 4) ++ ascii("WAVE") ++
      fmt ++ ascii("data") ++ le(4, 4) ++ bytes(1, 0, 2, 0)
    assert(Binary.parseAudioMeta(plain).isDefined)
    // ZIP: the first central-directory entry's compressed size
    val zip = Archives.synthZip(1)
    val ok = Archives.parseZip(zip)
    assert(ok.isDefined)
    val cd = (0 to zip.length - 4).find(i => zip(i) == 'P' &&
      zip(i + 1) == 'K' && zip(i + 2) == 1 && zip(i + 3) == 2).get
    for (size <- Seq(0xffffffffL, 0xfffffffeL)) {
      val crafted = zip.clone()
      System.arraycopy(le(size, 4), 0, crafted, cd + 20, 4)
      assert(Bounded(5, "parseZip")(Archives.parseZip(crafted)).isEmpty,
        f"csize 0x$size%x")
    }
  }

  test("guard: byte order and inflate live only in Bytes and Inflate") {
    // The only byte-level definitions allowed outside Bytes.scala, and
    // why. Bit readers (FLAC residuals, JPEG Huffman, VP8L prefix
    // codes) read bit fields, not byte-aligned integers: they define
    // none of the names below and stay out of scope.
    val allowed: Map[String, (Set[String], String)] = Map(
      "graft/sources/Sqlite.scala" -> (Set("varint"),
        "SQLite's varint is big-endian 7-bit groups with a full 9th " +
          "byte, not LEB128; it has a single caller"))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    val reader = """\bdef\s+(u8|[lb]e\d+|\w*[vV]arint\w*|\w*[zZ]ig[zZ]ag\w*)\b""".r
    val inflater = """new\s+(java\.util\.zip\.)?Inflater\b""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val seen = scala.collection.mutable.Set[String]()
    val problems = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // comments may mention the names; code may not
      val code = src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      val defs = if (rel == "graft/sources/Bytes.scala") Nil
        else reader.findAllMatchIn(code).map(_.group(1)).toSeq.filterNot { n =>
          val ok = allowed.get(rel).exists(_._1(n))
          if (ok) seen += rel
          ok
        }.map(n => s"$rel defines its own `$n`")
      val infl = if (rel == "graft/sources/Inflate.scala") Nil
        else inflater.findAllIn(code).map(_ => s"$rel constructs an Inflater").toSeq
      defs ++ infl
    }
    assert(problems.isEmpty, problems.mkString("\n"))
    assert(seen == allowed.keySet, s"stale exceptions: ${allowed.keySet -- seen}")
  }
}
