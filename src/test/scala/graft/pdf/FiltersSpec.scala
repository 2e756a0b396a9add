package graft.pdf

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.Deflater
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

/** Direct tests of the stream decoders' edge cases (filters.go semantics);
  * the conformance fixtures reach each decoder only through a whole PDF. */
class FiltersSpec extends AnyFunSuite {

  private def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
  private def ints(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def s(a: Array[Byte]): String = new String(a, ISO_8859_1)

  private def parms(kv: (String, Int)*): PDict = {
    val d = PDict.empty
    kv.foreach { case (k, v) => d.entries(k) = PNumber(v) }
    d
  }

  test("ASCIIHex: pairs, whitespace incl. NUL, odd final digit, invalid pair, '>' EOD") {
    assert(s(Filters.asciiHexDecode(b("48 65\n6c6C6f"))) == "Hello")
    assert(s(Filters.asciiHexDecode(b("4\u00001"))) == "A") // NUL is whitespace
    assert(Filters.asciiHexDecode(b("414")).toSeq == Seq(0x41, 0x40).map(_.toByte)) // odd digit
    assert(Filters.asciiHexDecode(b("41 4>")).toSeq == Seq(0x41, 0x40).map(_.toByte))
    assert(s(Filters.asciiHexDecode(b("4G4142"))) == "AB") // the pair "4G" is dropped
    assert(s(Filters.asciiHexDecode(b("41>42"))) == "A")
  }

  test("ASCII85: groups, 'z' only at group start, one-char tail dropped, '~' EOD") {
    // a partial final group is padded with zero digits, not 'u', so a
    // standard encoder's tail decodes one lower ("d" -> "c"). This pins the
    // behaviour as it stands; whether filters.go does the same is not yet
    // checked (an open finding in CHANGES.md)
    assert(s(Filters.ascii85Decode(b("87cURD]i,\"Ebo7~>"))) == "Hello Worlc")
    assert(Filters.ascii85Decode(b("z@:E_W~>")).toSeq == (ints(0, 0, 0, 0) ++ b("abcd")).toSeq)
    assert(s(Filters.ascii85Decode(b("@:zE_W"))) == "abcd") // mid-group 'z' skipped
    assert(s(Filters.ascii85Decode(b("@:E_W@"))) == "abcd") // single leftover char dropped
    assert(s(Filters.ascii85Decode(b("@:B"))) == "aa") // 3-char tail -> 2 bytes, zero-padded
    assert(s(Filters.ascii85Decode(b("@:\u0000E_ W"))) == "abcd")
    assert(s(Filters.ascii85Decode(b("@:E_W~>@:E_W"))) == "abcd")
  }

  test("RunLength: literal and repeat runs, truncated literal and repeat, 128 EOD") {
    assert(Filters.runLengthDecode(ints(2, 'a', 'b', 'c', 254, 'x')).toSeq == b("abcxxx").toSeq)
    assert(Filters.runLengthDecode(ints(4, 'a', 'b')).toSeq == b("ab").toSeq) // truncated literal
    assert(Filters.runLengthDecode(ints(0, 'a', 255)).toSeq == b("a").toSeq) // truncated repeat
    assert(Filters.runLengthDecode(ints(0, 'a', 128, 0, 'b')).toSeq == b("a").toSeq)
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private val text = b("the quick brown fox jumps over the lazy dog " * 200)

  test("Flate: round trip; a bad header or FDICT returns the raw input; valid empty stream") {
    assert(Filters.flateDecode(deflate(text), PDict.empty).toSeq == text.toSeq)
    val badMethod = deflate(text); badMethod(0) = 0x79 // CM 9
    assert(Filters.flateDecode(badMethod, PDict.empty) eq badMethod)
    val badCheck = deflate(text); badCheck(1) = (badCheck(1) + 1).toByte // FCHECK fails
    assert(Filters.flateDecode(badCheck, PDict.empty) eq badCheck)
    val fdict = ints(0x78, 0xbb, 0, 0, 0, 1) // FDICT set, (0x78bb % 31 == 0)
    assert(Filters.flateDecode(fdict, PDict.empty) eq fdict)
    assert(Filters.flateDecode(deflate(Array.emptyByteArray), PDict.empty).isEmpty)
  }

  test("Flate: a mid-stream error keeps a prefix of the output; an error with none returns raw") {
    // zlib header, one stored block of 20000 bytes, then a block header
    // with the reserved type 3. Only a prefix is guaranteed: the bytes of
    // the inflate call that fails are lost, although flateDecode's
    // scaladoc promises the partial output (a known gap, an open finding
    // in CHANGES.md)
    val data = Array.tabulate(20000)(i => (i * 31 % 251).toByte)
    val z = ints(0x78, 0x01, 0x00, 0x20, 0x4e, 0xdf, 0xb1) ++ data ++ ints(0x07)
    val partial = Filters.flateDecode(z, PDict.empty)
    assert(partial.nonEmpty && partial.length < data.length && data.startsWith(partial))
    val none = ints(0x78, 0x01, 0x07)
    assert(Filters.flateDecode(none, PDict.empty) eq none)
    // truncated input: the inflater starves, decoded bytes so far are kept
    val full = deflate(text)
    val cut = Filters.flateDecode(full.take(full.length / 2), PDict.empty)
    assert(cut.nonEmpty && cut.length < text.length && text.startsWith(cut))
  }

  test("PNG predictors 10-15, a partial last row, modulo-256 sums") {
    // 3 columns x 8 bits: each row is a tag byte then 3 bytes
    val rows = ints(1, 10, 20, 30, 0, 1, 2, 3)
    def png(p: Int, d: Array[Byte] = rows): Seq[Int] =
      Filters.reversePredictor(d.clone, parms("Predictor" -> p, "Columns" -> 3)).toSeq.map(_ & 0xff)
    assert(png(10) == Seq(10, 20, 30, 1, 2, 3)) // None
    assert(png(11) == Seq(10, 30, 60, 1, 3, 6)) // Sub
    assert(png(12) == Seq(10, 20, 30, 11, 22, 33)) // Up
    assert(png(13) == Seq(10, 25, 42, 6, 17, 32)) // Average
    assert(png(14) == Seq(10, 30, 60, 11, 32, 63)) // Paeth
    assert(png(15) == Seq(10, 30, 60, 1, 2, 3)) // per-row tags: Sub, then None
    assert(png(12, ints(0, 10, 20, 30, 0, 1, 2)) == Seq(10, 20, 30, 11, 22)) // partial row
    assert(png(11, ints(0, 200, 100, 0)) == Seq(200, 44, 44))
  }

  test("TIFF predictor 2 at 8 and 16 bits per component; Predictor 1 is the identity") {
    val tiff8 = Filters.reversePredictor(ints(1, 2, 3, 10, 10, 10),
      parms("Predictor" -> 2, "Columns" -> 3))
    assert(tiff8.toSeq == ints(1, 3, 6, 10, 20, 30).toSeq)
    val tiff16 = Filters.reversePredictor(ints(1, 0, 0, 5),
      parms("Predictor" -> 2, "Columns" -> 2, "BitsPerComponent" -> 16))
    assert(tiff16.toSeq == ints(1, 0, 1, 5).toSeq)
    val same = ints(1, 2, 3)
    assert(Filters.reversePredictor(same, parms("Predictor" -> 1)) eq same)
  }

  /** Packs LZW codes MSB-first; `widths` gives each code's bit width. */
  private def pack(codes: Seq[Int], widths: Seq[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var bits = 0L
    var nBits = 0
    codes.zip(widths).foreach { case (c, w) =>
      bits = (bits << w) | c; nBits += w
      while (nBits >= 8) { out.write((bits >>> (nBits - 8)).toInt); nBits -= 8 }
    }
    if (nBits > 0) out.write((bits << (8 - nBits)).toInt)
    out.toByteArray
  }

  /** A minimal LZW encoder for round trips: no clear codes after the first,
    * so inputs must stay below 4096 - 258 codes. The code width grows one
    * code earlier with `earlyChange`, as the decoder expects. */
  private def lzwEncode(data: Array[Byte], earlyChange: Boolean): Array[Byte] = {
    val table = mutable.HashMap.empty[(Int, Byte), Int]
    val codes = mutable.ArrayBuffer(256)
    val widths = mutable.ArrayBuffer(9)
    var width = 9
    var next = 258
    var w = -1
    // the decoder's table grows by one per code read (the first code after
    // a clear fills no entry), and its width follows that count
    def emit(c: Int): Unit = {
      codes += c; widths += width
      next += 1
      if (next - 1 >= (1 << width) - (if (earlyChange) 1 else 0)) width += 1
    }
    data.foreach { x =>
      if (w < 0) w = x & 0xff
      else table.get((w, x)) match {
        case Some(c) => w = c
        case None =>
          table((w, x)) = next
          emit(w)
          w = x & 0xff
      }
    }
    emit(w); emit(257)
    pack(codes.toSeq, widths.toSeq)
  }

  test("LZW: the ISO 32000 example, and round trips across code widths for both EarlyChange values") {
    // ISO 32000-1 7.4.4.2: 45 45 45 45 45 65 45 45 45 66
    val example = ints(0x80, 0x0b, 0x60, 0x50, 0x22, 0x0c, 0x0c, 0x85, 0x01)
    assert(Filters.lzwDecode(example, PDict.empty).toSeq ==
      ints(45, 45, 45, 45, 45, 65, 45, 45, 45, 66).toSeq)
    val rnd = new java.util.Random(7)
    val data = Array.fill(2500)((rnd.nextInt(256)).toByte) // ~2400 codes: 9 to 12 bits
    for (early <- Seq(0, 1)) {
      val z = lzwEncode(data, early == 1)
      assert(Filters.lzwDecode(z, parms("EarlyChange" -> early)).toSeq == data.toSeq, s"EarlyChange $early")
      assert(Filters.lzwDecode(z, parms("EarlyChange" -> (1 - early))).toSeq != data.toSeq)
    }
  }

  test("LZW: an invalid code keeps the output so far; an error with no output returns raw") {
    // clear, 'A', 'B', 258 ("AB"), then 300 (beyond the table)
    val partial = pack(Seq(256, 'A', 'B', 258, 300), Seq.fill(5)(9))
    assert(s(Filters.lzwDecode(partial, PDict.empty)) == "ABAB")
    val none = pack(Seq(256, 300), Seq(9, 9))
    assert(Filters.lzwDecode(none, PDict.empty) eq none)
    // a truncated final code also keeps the output so far
    assert(s(Filters.lzwDecode(pack(Seq(256, 'A', 'B'), Seq(9, 9, 9)).take(3), PDict.empty)) == "A")
  }
}
