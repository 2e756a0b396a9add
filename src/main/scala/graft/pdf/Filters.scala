package graft.pdf

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Inflater}

/** Stream decode filters, replicating /root/reference/pdf/filters.go
  * byte-for-byte, including its tolerant/failure semantics:
  * unknown filter names pass data through unchanged (filters.go:46),
  * flate/LZW failure returns the raw input (filters.go:213-224,246-249),
  * empty data short-circuits (filters.go:16-18).
  */
object Filters {

  /** PDF whitespace (pdf/parser.go:17), shared with the lexer. */
  @inline private[pdf] def isWs(b: Int): Boolean =
    b == 0x00 || b == '\t' || b == '\n' || b == '\f' || b == '\r' || b == ' '

  /** Hex digit value, -1 for a non-hex byte (or EOF), shared with the lexer. */
  @inline private[pdf] def hexVal(b: Int): Int =
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else -1

  /** Dispatcher (filters.go:14-47). `onApplied` feeds the metrics channel. */
  def decodeStream(filter: String, data: Array[Byte], parms: PDict,
                   onApplied: String => Unit = _ => ()): Array[Byte] = {
    if (data.isEmpty) return data
    filter match {
      case "ASCIIHexDecode"  => onApplied(filter); asciiHexDecode(data)
      case "ASCII85Decode"   => onApplied(filter); ascii85Decode(data)
      case "RunLengthDecode" => onApplied(filter); runLengthDecode(data)
      case "FlateDecode"     => onApplied(filter); flateDecode(data, parms)
      case "LZWDecode"       => onApplied(filter); lzwDecode(data, parms)
      case _                 => data // unsupported filter: pass through
    }
  }

  /** filters.go:49-97: hex pairs, whitespace skipped, '>' EOD, odd final digit
    * padded with '0'; a pair containing a non-hex char is dropped entirely. */
  def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2)
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val b1 = data(i)
      if (isWs(b1)) { i += 1 }
      else if (b1 == '>') { done = true }
      else {
        var b2: Byte = '0'
        var scanning = true
        while (scanning && i + 1 < data.length) {
          if (isWs(data(i + 1))) i += 1
          else if (data(i + 1) == '>') scanning = false
          else { i += 1; b2 = data(i); scanning = false }
        }
        val hi = hexVal(b1); val lo = hexVal(b2)
        if (hi >= 0 && lo >= 0) out.write(hi * 16 + lo)
        i += 1
      }
    }
    out.toByteArray
  }

  /** filters.go:99-163: base-85; 'z' => 4 zero bytes only at group start
    * (skipped mid-group), '~' EOD, whitespace/invalid bytes skipped, partial
    * group of n>=2 chars emits n-1 bytes (a single leftover char is dropped). */
  def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length)
    var v = 0L // uint32 arithmetic, keep in Long and mask
    var n = 0
    var i = 0
    var done = false
    while (!done) {
      if (i >= data.length || data(i) == '~') {
        if (n > 1) {
          var m = n
          while (m < 5) { v = (v * 85) & 0xffffffffL; m += 1 }
          var k = 0
          while (k < n - 1) { out.write((v >>> (24 - 8 * k)).toInt); k += 1 }
        }
        done = true
      } else {
        val b = data(i); i += 1
        if (isWs(b)) {}
        else if (b == 'z') {
          if (n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
        } else if (b < '!' || b > 'u') {}
        else {
          n += 1
          v = (v * 85 + (b - 33)) & 0xffffffffL
          if (n >= 5) {
            out.write((v >>> 24).toInt)
            out.write((v >>> 16).toInt)
            out.write((v >>> 8).toInt)
            out.write(v.toInt)
            v = 0; n = 0
          }
        }
      }
    }
    out.toByteArray
  }

  /** filters.go:165-208: length byte L: 128=EOD; L<128 copy L+1 literals;
    * L>128 repeat next byte 257-L times; truncation tolerated. */
  def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length)
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val length = data(i) & 0xff
      if (length == 128) done = true
      else if (length < 128) {
        val len = length + 1
        i += 1
        if (i >= data.length) done = true
        else if (i + len > data.length) { out.write(data, i, data.length - i); done = true }
        else { out.write(data, i, len); i += len }
      } else {
        i += 1
        if (i >= data.length) done = true
        else {
          val times = 257 - length
          var t = 0
          while (t < times) { out.write(data(i)); t += 1 }
          i += 1
        }
      }
    }
    out.toByteArray
  }

  /** filters.go:210-228: zlib inflate; bad header or zero-bytes-decoded error
    * returns the raw input; partial output on mid-stream error is kept. */
  def flateDecode(data: Array[Byte], parms: PDict): Array[Byte] = {
    // Go zlib.NewReader header validation: CM==8, FCHECK, no FDICT
    if (data.length < 2) return data
    val cmf = data(0) & 0xff; val flg = data(1) & 0xff
    if ((cmf & 0x0f) != 8) return data
    if (((cmf << 8) | flg) % 31 != 0) return data
    if ((flg & 0x20) != 0) return data // FDICT unsupported without dictionary
    val inf = new Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream(math.min(data.length, 1 << 28) * 4) // no Int overflow
    val buf = new Array[Byte](8192)
    var failed = false
    try {
      var going = true
      while (going && !inf.finished()) {
        val k = inf.inflate(buf)
        if (k > 0) out.write(buf, 0, k)
        else going = false // needs more input / dictionary: treat as stream end
      }
    } catch { case _: DataFormatException => failed = true }
    inf.end()
    // Go: only a zero-bytes-decoded *error* falls back to raw input;
    // a valid empty stream decodes to empty (filters.go:221-224).
    if (out.size() == 0 && failed) return data
    reversePredictor(out.toByteArray, parms)
  }

  /** filters.go:230-253: /EarlyChange default 1 => TIFF-variant LZW;
    * 0 => standard MSB 8-bit; failure with no output returns raw input. */
  def lzwDecode(data: Array[Byte], parms: PDict): Array[Byte] = {
    val earlyChange = parms.getInt("EarlyChange").getOrElse(1)
    val out = Lzw.decode(data, earlyChange != 0)
    if (out == null) return data // error with zero bytes decoded => raw input
    reversePredictor(out, parms)
  }

  /** filters.go:255-404: Predictor 1=none; 2=TIFF (bit-granular);
    * 10-15=PNG None/Sub/Up/Avg/Paeth with per-row method tag. */
  def reversePredictor(data: Array[Byte], parms: PDict): Array[Byte] = {
    val predictor = parms.getInt("Predictor").getOrElse(1)
    val bpc = parms.getInt("BitsPerComponent").getOrElse(8)
    val colors = parms.getInt("Colors").getOrElse(1)
    val columns = parms.getInt("Columns").getOrElse(1)

    if (bpc <= 0 || bpc > 16) return data
    var rowWidth = (bpc * colors * columns) / 8
    if ((bpc * colors * columns) % 8 > 0) rowWidth += 1
    if (rowWidth <= 0) return data
    if (predictor == 1) return data

    if (predictor == 2) {
      // TIFF predictor, bit-granular exactly as the reference
      // (note row_start is in BITS: filters.go:296)
      var r = 0
      while (r.toLong * rowWidth < data.length) {
        val rowStart = r * rowWidth * 8
        var c = 1
        while (c < columns) {
          var i = 0
          while (i < colors) {
            val pos = rowStart + ((c * colors + i) * bpc)
            if (pos >= data.length * 8) return data
            val prev = getBits(data, pos - (colors * bpc), bpc)
            val value = getBits(data, pos, bpc)
            setBits(data, pos, bpc, value + prev)
            i += 1
          }
          c += 1
        }
        r += 1
      }
      return data
    }

    if (predictor >= 10 && predictor <= 15) {
      // each row reads the rows already written above it: write into a plain
      // array (at most one byte out per byte in) and trim once at the end
      val out = new Array[Byte](data.length)
      var w = 0
      val dRowWidth = rowWidth
      val pngRowWidth = rowWidth + 1
      var method = predictor - 10
      var r = 0
      while (r < data.length) {
        if (predictor == 15) method = data(r) & 0xff
        val dr = (r / pngRowWidth) * (pngRowWidth - 1)
        var c = 1
        while (c < pngRowWidth && r + c < data.length) {
          val dc = c - 1
          val cur = data(r + c) & 0xff
          val left = if (dc > 0) out(dr + dc - 1) & 0xff else 0
          val up = if (dr + dc - dRowWidth >= 0) out(dr + dc - dRowWidth) & 0xff else 0
          out(w) = method match {
            case 0 => cur.toByte
            case 1 => ((cur + left) % 256).toByte
            case 2 => ((cur + up) % 256).toByte
            case 3 => ((cur + (left + up) / 2) % 256).toByte
            case 4 =>
              val upLeft =
                if (dr + dc - dRowWidth - 1 >= 0 && dc > 0) out(dr + dc - dRowWidth - 1) & 0xff
                else 0
              val p = left + up - upLeft
              val pl = math.abs(p - left); val pu = math.abs(p - up); val pul = math.abs(p - upLeft)
              val pred =
                if (pl <= pu && pl <= pul) left
                else if (pu <= pul) up
                else upLeft
              ((cur + pred) % 256).toByte
            case _ => cur.toByte
          }
          w += 1
          c += 1
        }
        r += pngRowWidth
      }
      return java.util.Arrays.copyOf(out, w)
    }

    data
  }

  /** pdf/utility.go:34-45 */
  def getBits(d: Array[Byte], p: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 4) {
      v = (v * 256) & 0xffffffffL
      if (p / 8 + i < d.length) v += (d(p / 8 + i) & 0xff)
      i += 1
    }
    v = (v << (p % 8)) & 0xffffffffL
    v >>> (32 - n)
  }

  /** pdf/utility.go:47-57 */
  def setBits(d: Array[Byte], p: Int, n: Int, v: Long): Unit = {
    var dv = getBits(d, (p / 8) * 8, 32)
    val s = 32 - n - (p % 8)
    val max = 1L << n
    val m = (1L << n) - 1
    dv = (dv + (((v % max) << s) - (dv & (m << s)))) & 0xffffffffL
    var i = 0
    while (i < 4 && p / 8 + i < d.length) {
      d(p / 8 + i) = ((dv >>> (32 - (i + 1) * 8)) & 0xff).toByte
      i += 1
    }
  }

  /** pdf/utility.go:59-66: b[off, off + n) as a big-endian unsigned value. */
  def bytesToInt(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + n) { v = v * 256 + (b(i) & 0xff); i += 1 }
    v
  }
}

/** Hand-written LZW decoder (the JDK has none), replicating Go's
  * compress/lzw (standard, late code-width change) and
  * golang.org/x/image/tiff/lzw (early change, the TIFF variant referenced by
  * pdf/filters.go:11,230-241). MSB-first, litWidth 8, max code width 12.
  * On an invalid code or truncated input the bytes decoded so far are
  * returned (Go's bytes.Buffer.ReadFrom keeps partial output); an error with
  * zero bytes decoded returns null so the caller can fall back to raw input.
  */
object Lzw {
  private val LitWidth = 8
  private val MaxWidth = 12
  private val Invalid = -1

  def decode(data: Array[Byte], earlyChange: Boolean): Array[Byte] = {
    val clear = 1 << LitWidth // 256
    val eof = clear + 1 // 257
    val out = new ByteArrayOutputStream(math.min(data.length, 1 << 28) * 3) // no Int overflow
    val suffix = new Array[Byte](1 << MaxWidth)
    val prefix = new Array[Int](1 << MaxWidth)

    var width = LitWidth + 1
    var hi = eof
    var overflow = 1 << width
    var last = Invalid

    var bits = 0L
    var nBits = 0
    var i = 0
    // one expansion, filled back to front: every table entry's prefix is an
    // older entry, so a chain holds at most one byte per entry plus one
    val chainBuf = new Array[Byte](1 << MaxWidth)

    var done = false
    var errored = false
    while (!done) {
      // read one code, MSB-first
      while (nBits < width && i < data.length) {
        bits = (bits << 8) | (data(i) & 0xff)
        nBits += 8
        i += 1
      }
      if (nBits < width) { done = true; errored = true } // truncated final code
      else {
        val code = ((bits >>> (nBits - width)) & ((1 << width) - 1)).toInt
        nBits -= width
        if (code == clear) {
          width = LitWidth + 1
          hi = eof
          overflow = 1 << width
          last = Invalid
        } else if (code == eof) {
          done = true
        } else if (code > hi) {
          done = true; errored = true // invalid code: keep partial output
        } else {
          // a literal expands to itself, a table code to its prefix chain
          var c = code
          var p = chainBuf.length
          if (code == hi && last != Invalid) {
            // code == hi expands to last expansion + head of last expansion
            c = last
            while (c >= clear) c = prefix(c)
            p -= 1; chainBuf(p) = c.toByte
            c = last
          }
          while (c >= clear) {
            p -= 1; chainBuf(p) = suffix(c)
            c = prefix(c)
          }
          p -= 1; chainBuf(p) = c.toByte
          out.write(chainBuf, p, chainBuf.length - p)
          if (last != Invalid) {
            suffix(hi) = c.toByte
            prefix(hi) = last
          }
          last = code; hi += 1
          if (hi >= overflow - (if (earlyChange) 1 else 0)) {
            if (width == MaxWidth) {
              last = Invalid
              if (!earlyChange) hi -= 1
            } else { width += 1; overflow = overflow << 1 }
          }
        }
      }
    }
    if (out.size() == 0 && errored) null else out.toByteArray
  }
}
