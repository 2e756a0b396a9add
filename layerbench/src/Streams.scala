package layerbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.security.MessageDigest
import java.util.zip.Deflater
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Stream encoders for the synthesized PDFs, written from ISO 32000-1 §7.4
  * (the inverses of the decode filters). They share no code with the
  * program under test, so a decoder bug cannot hide behind a matching
  * encoder bug.
  */
object StreamEncoders {

  def flate(data: Array[Byte], level: Int = Deflater.DEFAULT_COMPRESSION): Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }

  def asciiHex(data: Array[Byte]): Array[Byte] = {
    val hex = "0123456789ABCDEF"
    val out = new ByteArrayOutputStream(data.length * 2 + data.length / 32 + 2)
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      out.write(hex(b >>> 4))
      out.write(hex(b & 15))
      i += 1
      if (i % 32 == 0) out.write('\n')
    }
    out.write('>')
    out.toByteArray
  }

  /** Pads to a multiple of four bytes, so that no partial final group is
    * written (decoders differ on how they round a partial group). */
  def pad4(data: Array[Byte], fill: Byte): Array[Byte] =
    if (data.length % 4 == 0) data
    else {
      val out = java.util.Arrays.copyOf(data, (data.length + 3) / 4 * 4)
      java.util.Arrays.fill(out, data.length, out.length, fill)
      out
    }

  /** ASCII base-85 with the `z` shorthand and the `~>` end marker. */
  def ascii85(data0: Array[Byte]): Array[Byte] = {
    val data = pad4(data0, ' '.toByte)
    val out = new ByteArrayOutputStream(data.length * 5 / 4 + data.length / 60 + 4)
    val digits = new Array[Byte](5)
    var i = 0
    var col = 0
    while (i < data.length) {
      val v = ((data(i) & 0xffL) << 24) | ((data(i + 1) & 0xffL) << 16) |
        ((data(i + 2) & 0xffL) << 8) | (data(i + 3) & 0xffL)
      if (v == 0L) { out.write('z'); col += 1 }
      else {
        var x = v
        var k = 4
        while (k >= 0) { digits(k) = (x % 85 + 33).toByte; x /= 85; k -= 1 }
        out.write(digits, 0, 5)
        col += 5
      }
      if (col >= 75) { out.write('\n'); col = 0 }
      i += 4
    }
    out.write('~')
    out.write('>')
    out.toByteArray
  }

  /** Runs of three or more equal bytes become repeat records; everything
    * else goes out as literal records of at most 128 bytes; 128 ends it. */
  def runLength(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 64 + 2)
    val n = data.length
    var i = 0
    while (i < n) {
      var r = 1
      while (i + r < n && r < 128 && data(i + r) == data(i)) r += 1
      if (r >= 3) { out.write(257 - r); out.write(data(i)); i += r }
      else {
        val start = i
        var len = 0
        var stop = false
        while (i < n && len < 128 && !stop) {
          if (i + 2 < n && data(i) == data(i + 1) && data(i) == data(i + 2)) stop = true
          else { i += 1; len += 1 }
        }
        out.write(len - 1)
        out.write(data, start, len)
      }
    }
    out.write(128)
    out.toByteArray
  }

  /** LZW with 9..12-bit MSB-first codes and the default /EarlyChange 1
    * (the code width grows one code early). The table is reset with a
    * clear code well before it fills. */
  def lzw(data: Array[Byte]): Array[Byte] = {
    val Clear = 256
    val Eod = 257
    val out = new ByteArrayOutputStream(data.length / 2 + 16)
    var bitBuf = 0L
    var nBits = 0
    def put(code: Int, width: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      nBits += width
      while (nBits >= 8) {
        out.write(((bitBuf >>> (nBits - 8)) & 0xff).toInt)
        nBits -= 8
      }
      bitBuf &= (1L << nBits) - 1
    }
    val dict = new java.util.HashMap[java.lang.Long, Integer]()
    var next = 258
    var width = 9
    var codesSinceClear = 0
    def emit(code: Int): Unit = {
      put(code, width)
      codesSinceClear += 1
      // early change: the reader widens once the NEXT code would need it
      if (257 + codesSinceClear >= (1 << width) - 1 && width < 12) width += 1
    }
    put(Clear, width)
    var w = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (w < 0) w = b
      else {
        val key = java.lang.Long.valueOf((w.toLong << 8) | b)
        val c = dict.get(key)
        if (c != null) w = c.intValue
        else {
          emit(w)
          dict.put(key, next)
          next += 1
          w = b
          if (next >= 3800) {
            put(Clear, width)
            dict.clear(); next = 258; width = 9; codesSinceClear = 0
          }
        }
      }
      i += 1
    }
    if (w >= 0) emit(w)
    put(Eod, width)
    if (nBits > 0) out.write(((bitBuf << (8 - nBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** PNG "Up" predictor (/Predictor 12) over rows of `columns` bytes. */
  def pngUp(data: Array[Byte], columns: Int): Array[Byte] = {
    require(data.length % columns == 0)
    val out = new ByteArrayOutputStream(data.length + data.length / columns)
    var r = 0
    while (r * columns < data.length) {
      out.write(2)
      var k = 0
      while (k < columns) {
        val cur = data(r * columns + k) & 0xff
        val up = if (r == 0) 0 else data((r - 1) * columns + k) & 0xff
        out.write((cur - up) & 0xff)
        k += 1
      }
      r += 1
    }
    out.toByteArray
  }
}

/** The standard security handler, encrypting side (ISO 32000-1 §7.6.3,
  * algorithms 2, 3 and 5), with `java.security`/`javax.crypto` only. */
final class PdfEncryptor(val aes: Boolean, id0: Array[Byte], ownerPassword: String) {
  import PdfEncryptor._

  private val keyLen = 16
  val p: Int = -3904 // print + copy + annotate; the usual web-PDF permissions
  private val pBytes = Array((p & 0xff).toByte, ((p >>> 8) & 0xff).toByte,
    ((p >>> 16) & 0xff).toByte, ((p >>> 24) & 0xff).toByte)

  /** Algorithm 3: the /O entry. */
  val o: Array[Byte] = {
    var h = md5(pad(ownerPassword.getBytes(ISO_8859_1)))
    var i = 0
    while (i < 50) { h = md5(h.take(keyLen)); i += 1 }
    val k = h.take(keyLen)
    var x = pad(Array.emptyByteArray)
    var round = 0
    while (round < 20) { x = rc4(xorKey(k, round), x); round += 1 }
    x
  }

  /** Algorithm 2 with the empty user password. */
  val key: Array[Byte] = {
    var h = md5(pad(Array.emptyByteArray), o, pBytes, id0)
    var i = 0
    while (i < 50) { h = md5(h.take(keyLen)); i += 1 }
    h.take(keyLen)
  }

  /** Algorithm 5: the /U entry (16 significant bytes + 16 bytes of fill). */
  val u: Array[Byte] = {
    var x = md5(Padding, id0)
    var round = 0
    while (round < 20) { x = rc4(xorKey(key, round), x); round += 1 }
    x ++ Padding.take(16)
  }

  def encryptDict: String = {
    val common = s"/O <${hex(o)}> /U <${hex(u)}> /P $p"
    if (aes)
      "<</Filter/Standard/V 4/R 4/Length 128" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>/StmF/StdCF/StrF/StdCF " +
        common + ">>"
    else s"<</Filter/Standard/V 2/R 3/Length 128 $common>>"
  }

  private def objectKey(n: Int): Array[Byte] = {
    val salt = Array((n & 0xff).toByte, ((n >>> 8) & 0xff).toByte, ((n >>> 16) & 0xff).toByte,
      0.toByte, 0.toByte)
    val h = if (aes) md5(key, salt, "sAlT".getBytes(ISO_8859_1)) else md5(key, salt)
    h.take(math.min(keyLen + 5, 16))
  }

  /** Encrypts the data of object `n` (generation 0). For AESV2 the
    * initialization vector is the first block of the plaintext itself: the
    * program under test keeps the IV bytes in place after decryption (as its
    * reference does), so this choice is the one under which a decrypted
    * stream still decodes to the plaintext. */
  def encrypt(n: Int, data: Array[Byte]): Array[Byte] =
    if (!aes) rc4(objectKey(n), data)
    else if (data.length <= 16) data
    else {
      val iv = data.take(16)
      val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(objectKey(n), "AES"), new IvParameterSpec(iv))
      iv ++ c.doFinal(data, 16, data.length - 16)
    }
}

object PdfEncryptor {
  val Padding: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  def pad(pw: Array[Byte]): Array[Byte] = (pw ++ Padding).take(32)

  def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("ARCFOUR")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "ARCFOUR"))
    c.doFinal(data)
  }

  def xorKey(k: Array[Byte], i: Int): Array[Byte] = k.map(b => (b ^ i).toByte)

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}
