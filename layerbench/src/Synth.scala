package layerbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** A Zipf-distributed vocabulary. The word list is fixed (built from a
  * constant seed), so every workload seed draws from the same language;
  * only the draws depend on the workload seed. */
object Vocab {
  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "w", "br", "ch", "st", "tr", "pl", "gr", "sh", "th")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
  private val Codas = Array("", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ng")

  val Size = 8000
  val words: Array[String] = {
    val rng = new SplittableRandom(0x5eed1234L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Size) {
      // frequent words are short, as in natural language
      val syllables = 1 + math.min(3, (seen.size.toDouble / Size * 3 + rng.nextDouble() * 1.5).toInt)
      val sb = new StringBuilder
      var s = 0
      while (s < syllables) {
        sb ++= Onsets(rng.nextInt(Onsets.length)) ++= Vowels(rng.nextInt(Vowels.length))
        s += 1
      }
      sb ++= Codas(rng.nextInt(Codas.length))
      seen += sb.toString
    }
    seen.toArray
  }

  /** Zipf(s = 1.07) over word rank. */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Size)(r => 1.0 / math.pow(r + 1.0, 1.07))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def word(rng: SplittableRandom): String = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = Size - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    words(lo)
  }

  /** One sentence: 6..24 words, capitalized, with a comma now and then. */
  def sentence(rng: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    val n = 6 + rng.nextInt(19)
    var i = 0
    while (i < n) {
      val w = word(rng)
      if (i == 0) sb.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length)
      else sb.append(w)
      i += 1
      if (i < n) sb.append(if (i % 7 == 0 && rng.nextInt(3) == 0) ", " else " ")
    }
    sb.append('.')
  }

  def sentence(rng: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder
    sentence(rng, sb)
    sb.toString
  }
}

/** Crawl-style HTML pages: a per-site nav/header/footer template around an
  * article drawn from [[Vocab]], with a lognormal size. */
object HtmlSynth {

  /** Site templates are fixed per (seed, site) so boilerplate repeats
    * across the pages of one site, as on a real crawl. */
  final case class Site(host: String, header: String, footer: String)

  def sites(seed: Long, n: Int): Array[Site] = Array.tabulate(n) { s =>
    val rng = new SplittableRandom(seed * 1000003L + s)
    val host = s"${Vocab.words(rng.nextInt(400))}${Vocab.words(rng.nextInt(400))}.example"
    val nav = new StringBuilder
    nav ++= "<header><div class=\"logo\"><a href=\"/\">" ++= host ++= "</a></div><nav><ul>"
    val nLinks = 10 + rng.nextInt(16)
    var i = 0
    while (i < nLinks) {
      val w = Vocab.words(rng.nextInt(600))
      nav ++= "<li><a href=\"/" ++= w ++= "/\">" ++= w ++= "</a></li>"
      i += 1
    }
    nav ++= "</ul></nav></header>"
    val foot = new StringBuilder
    foot ++= "<aside class=\"related\"><h3>Related</h3><ul>"
    i = 0
    while (i < 6) {
      val a = Vocab.words(rng.nextInt(2000)); val b = Vocab.words(rng.nextInt(2000))
      foot ++= "<li><a href=\"/" ++= a ++= "-" ++= b ++= "\">" ++= a ++= " " ++= b ++= "</a></li>"
      i += 1
    }
    foot ++= "</ul></aside><footer><p><a href=\"/about\">About</a> | <a href=\"/contact\">Contact</a>"
    foot ++= " | <a href=\"/privacy\">Privacy</a></p><p>&copy; 2020 " ++= host
    foot ++= ". All rights reserved.</p></footer>"
    Site(host, nav.toString, foot.toString)
  }

  /** Page sizes in bytes: lognormal around `medianBytes` plus a tail of a
    * few hundred KB. The sizes are quantiles, so every seed gets the same
    * multiset of sizes (and the same total); the seed decides their order. */
  def pageSizes(rng: SplittableRandom, n: Int, medianBytes: Int, tailShare: Double): Array[Int] = {
    val nTail = math.round(n * tailShare).toInt
    val normal = new org.apache.commons.math3.distribution.NormalDistribution(0, 1)
    val body = Array.tabulate(n - nTail) { i =>
      val z = normal.inverseCumulativeProbability((i + 0.5) / (n - nTail))
      math.max(2000, math.min(140000, (medianBytes * math.exp(0.6 * z)).toInt))
    }
    val tail = Array.tabulate(nTail)(i => 150000 + (250000 * (i + 0.5) / nTail).toInt)
    Shuffle(rng, body ++ tail)
  }

  /** The article alone (paragraphs of sentences). */
  def article(rng: SplittableRandom, targetBytes: Int): String = {
    val sb = new java.lang.StringBuilder(targetBytes + 512)
    sb.append("<h1>")
    Vocab.sentence(rng, sb)
    sb.append("</h1>")
    while (sb.length < targetBytes) {
      rng.nextInt(12) match {
        case 0 =>
          sb.append("<h2>"); Vocab.sentence(rng, sb); sb.append("</h2>")
        case 1 =>
          sb.append("<ul>")
          val n = 2 + rng.nextInt(5)
          var i = 0
          while (i < n) { sb.append("<li>"); Vocab.sentence(rng, sb); sb.append("</li>"); i += 1 }
          sb.append("</ul>")
        case _ =>
          sb.append("<p>")
          val n = 2 + rng.nextInt(6)
          var i = 0
          while (i < n) {
            if (i > 0) sb.append(' ')
            rng.nextInt(10) match {
              case 0 =>
                val w = Vocab.word(rng)
                sb.append("<a href=\"/").append(w).append("\">").append(w).append("</a> ")
              case 1 => sb.append("<em>").append(Vocab.word(rng)).append("</em> &amp; ")
              case 2 => sb.append("&quot;").append(Vocab.word(rng)).append("&quot; ")
              case _ =>
            }
            Vocab.sentence(rng, sb)
            i += 1
          }
          sb.append("</p>")
      }
    }
    sb.toString
  }

  def page(rng: SplittableRandom, site: Site, articleHtml: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(articleHtml.length + 4096)
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\"><title>")
    sb.append(site.host).append("</title><style>body{font:16px sans-serif}.logo{float:left}")
    sb.append("nav li{display:inline}</style><script>window.dataLayer=[];function track(e){")
    var i = 0
    val n = 4 + rng.nextInt(20)
    while (i < n) { sb.append("dataLayer.push({ev:'").append(Vocab.word(rng)).append("'});"); i += 1 }
    sb.append("}</script></head><body>").append(site.header)
    sb.append("<main><article>").append(articleHtml).append("</article></main>")
    sb.append(site.footer).append("</body></html>")
    sb.toString.getBytes(UTF_8)
  }
}

object Shuffle {
  /** Fisher-Yates with the given generator. */
  def apply[T](rng: SplittableRandom, a: Array[T]): Array[T] = {
    val out = a.clone()
    var i = out.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }
}

/** One synthesized PDF and what its content streams show.
  * @param headerClean the bytes hold the keyword `obj` only in the real
  *                    object headers and `endobj`s. When stream data holds
  *                    it too, the reference parser's repair scan (which the
  *                    program reproduces) may take it for an object header
  *                    and re-point an object there, so which text the
  *                    document yields is no longer defined by its pages. */
final case class SynthPdf(bytes: Array[Byte], shown: Array[Array[Byte]], kind: String,
                          headerClean: Boolean)

/** An encoded stream for the `pdf.filters` layer: the filter name, the
  * encoded bytes, and the decoded length the generator expects. */
final case class EncodedStream(filter: String, data: Array[Byte], decodedLength: Int)

/** Seeded PDF synthesizer: multi-page documents with Flate (and other)
  * content streams, a plain and a ToUnicode font, Tj/TJ/'/" operators,
  * classic xref tables or xref streams with /ObjStm containers, RC4 and
  * AESV2 encryption with an empty user password, and large image streams
  * for the multi-MB tail. */
object PdfSynth {

  /** Content-stream filter chains, written outermost-decoder first. */
  val Chains: Array[Array[String]] = Array(
    Array("FlateDecode"),
    Array("ASCII85Decode", "FlateDecode"),
    Array("LZWDecode"),
    Array("RunLengthDecode"),
    Array("ASCIIHexDecode", "FlateDecode"),
    Array("ASCII85Decode", "LZWDecode"),
    Array.empty[String])
  /** Flate is the common case; every other chain (and unfiltered) gets the
    * same small share, enough to be exercised in every document mix. These
    * shares are an assumption chosen for coverage, not measured traffic. */
  private val ChainWeights = Array(76, 4, 4, 4, 4, 4, 4)

  def encode(chain: Array[String], data: Array[Byte]): Array[Byte] =
    chain.reverseIterator.foldLeft(data) { (d, f) =>
      f match {
        case "FlateDecode"     => StreamEncoders.flate(d)
        case "ASCII85Decode"   => StreamEncoders.ascii85(d)
        case "LZWDecode"       => StreamEncoders.lzw(d)
        case "RunLengthDecode" => StreamEncoders.runLength(d)
        case "ASCIIHexDecode"  => StreamEncoders.asciiHex(d)
      }
    }

  private def filterEntry(chain: Array[String]): String =
    if (chain.isEmpty) ""
    else if (chain.length == 1) s"/Filter/${chain(0)}"
    else chain.map("/" + _).mkString("/Filter[", "", "]")

  private def pick(rng: SplittableRandom, weights: Array[Int]): Int = {
    var u = rng.nextInt(weights.sum)
    var i = 0
    while (u >= weights(i)) { u -= weights(i); i += 1 }
    i
  }

  /** A literal string with the three characters that need it escaped. */
  private def literal(s: String): String = {
    val sb = new StringBuilder("(")
    s.foreach { c =>
      if (c == '(' || c == ')' || c == '\\') sb += '\\'
      sb += c
    }
    sb += ')'
    sb.toString
  }

  /** ToUnicode font: character c is shown as the 2-byte code 0x0100 + c
    * and maps to its UTF-16BE value. */
  private val CodeHex: Array[String] = Array.tabulate(128)(c => f"${0x100 + c}%04X")
  private def codes(s: String): String = {
    val sb = new StringBuilder(s.length * 4 + 2)
    sb += '<'
    s.foreach(c => sb ++= CodeHex(c))
    sb += '>'
    sb.toString
  }
  private def utf16(s: String): Array[Byte] = s.getBytes("UTF-16BE")

  /** The CMap for every printable ASCII character, as single-code
    * bfranges for upper case and bfchars for the rest. */
  val ToUnicodeCMap: Array[Byte] = {
    val sb = new StringBuilder
    sb ++= "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
    sb ++= "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def\n"
    sb ++= "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
    sb ++= "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    val upper = ('A' to 'Z')
    sb ++= s"${upper.length} beginbfrange\n"
    upper.foreach(c => sb ++= f"<${0x100 + c}%04X> <${0x100 + c}%04X> <${c.toInt}%04X>\n")
    sb ++= "endbfrange\n"
    val rest = (32 to 126).map(_.toChar).filterNot(_.isUpper)
    sb ++= s"${rest.length} beginbfchar\n"
    rest.foreach(c => sb ++= f"<${0x100 + c}%04X> <${c.toInt}%04X>\n")
    sb ++= "endbfchar\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    sb.toString.getBytes(ISO_8859_1)
  }

  /** One page's content stream and the byte strings it shows, in order. */
  def pageContent(rng: SplittableRandom, lines: Int): (Array[Byte], Seq[Array[Byte]]) = {
    val sb = new StringBuilder
    val shown = ArrayBuffer.empty[Array[Byte]]
    if (rng.nextInt(3) == 0) sb ++= "q 0.94 0.94 0.94 rg 36 36 540 720 re f Q\n"
    sb ++= "BT\n/F1 11 Tf 14 TL 72 740 Td\n"
    var font = 1
    var l = 0
    while (l < lines) {
      if (rng.nextInt(8) == 0) {
        font = 3 - font
        sb ++= s"/F$font 11 Tf\n"
      }
      val text = Vocab.sentence(rng)
      val op = rng.nextInt(10)
      if (op < 3) {
        // TJ with kerning between fragments: strings at even positions
        val words = text.split(' ')
        val cut = math.max(1, words.length / 3)
        val frags = words.grouped(cut).map(_.mkString(" ")).toArray
        val parts = frags.zipWithIndex.map { case (f, i) =>
          val s = if (i < frags.length - 1) f + " " else f
          if (font == 1) literal(s) else codes(s)
        }
        sb ++= parts.mkString("[", s" ${-(rng.nextInt(200) + 10)} ", "] TJ\n")
        val joined = frags.zipWithIndex.map { case (f, i) => if (i < frags.length - 1) f + " " else f }.mkString
        shown += (if (font == 1) joined.getBytes(ISO_8859_1) else utf16(joined))
      } else {
        val s = if (font == 1) literal(text) else codes(text)
        if (op == 3) sb ++= s"$s '\n"
        else if (op == 4) sb ++= s"0 1.5 $s \"\n"
        else sb ++= s"$s Tj T*\n"
        shown += (if (font == 1) text.getBytes(ISO_8859_1) else utf16(text))
      }
      l += 1
    }
    sb ++= "ET\n"
    (sb.toString.getBytes(ISO_8859_1), shown.toSeq)
  }

  /** Greyscale image data with smooth structure plus noise, so it
    * compresses to about half its size, as scanned pages do. */
  private def imageData(rng: SplittableRandom, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    val fx = 1 + rng.nextInt(7); val fy = 1 + rng.nextInt(7)
    val col = Array.tabulate(w)(x => 60 * math.sin(x * fx * 0.01))
    val row = Array.tabulate(h)(y => math.cos(y * fy * 0.013))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(y * w + x) = (128 + col(x) * row(y) + rng.nextInt(24)).toInt.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Build one document.
    * @param pages      page count
    * @param images     number of large image XObjects (the multi-MB tail)
    * @param crypt      0 none, 1 RC4-128, 2 AESV2
    * @param xrefStream a cross-reference stream instead of a table
    * @param objStm     move the info and outline dictionaries into an /ObjStm
    */
  def document(rng: SplittableRandom, pages: Int, images: Int, crypt: Int,
               xrefStream: Boolean, objStm: Boolean): SynthPdf = {
    val out = new ByteArrayOutputStream(4096 + pages * 2500)
    def raw(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    val id0 = Array.fill(16)(rng.nextInt(256).toByte)
    val id1 = Array.fill(16)(rng.nextInt(256).toByte)
    val enc = if (crypt == 0) null else new PdfEncryptor(crypt == 2, id0, "owner" + rng.nextInt(1000000))

    def obj(n: Int, body: String): Unit = {
      offsets(n) = out.size
      raw(s"$n 0 obj\n$body\nendobj\n")
    }
    def streamObj(n: Int, dict: String, data0: Array[Byte]): Unit = {
      val data = if (enc == null) data0 else enc.encrypt(n, data0)
      offsets(n) = out.size
      raw(s"$n 0 obj\n<<$dict/Length ${data.length}>>\nstream\n")
      out.write(data)
      raw("\r\nendstream\nendobj\n")
    }

    raw("%PDF-1.7\n%âãÏÓ\n")
    // fixed numbers: 1 catalog, 2 page tree, 3 plain font, 4 Type0 font,
    // 5 its ToUnicode CMap, 6 info, 7 outlines, 8 object stream (if any),
    // then pages, content streams and images
    val infoN = 6; val outlinesN = 7; val objStmN = 8
    var next = 9
    val pageNums = Array.fill(pages) { val n = next; next += 1; n }
    val shown = ArrayBuffer.empty[Array[Byte]]
    val imageNums = Array.fill(images) { val n = next; next += 1; n }

    obj(1, s"<</Type/Catalog/Pages 2 0 R/Outlines $outlinesN 0 R/PageMode/UseNone>>")
    obj(2, pageNums.map(n => s"$n 0 R").mkString("<</Type/Pages/Kids[", " ", s"]/Count $pages>>"))
    obj(3, "<</Type/Font/Subtype/Type1/BaseFont/Helvetica/Encoding/WinAnsiEncoding>>")
    obj(4, "<</Type/Font/Subtype/Type0/BaseFont/NotoSans-Regular/Encoding/Identity-H/ToUnicode 5 0 R>>")
    streamObj(5, "/Filter/FlateDecode", StreamEncoders.flate(ToUnicodeCMap))
    val title = Vocab.sentence(rng)
    val infoBody = s"<</Producer (layerbench synth)/Title ${literal(title)}>>"
    val outlinesBody = "<</Type/Outlines/Count 0>>"
    if (!objStm) {
      obj(infoN, if (enc == null) infoBody else s"<</Producer <${PdfEncryptor.hex(enc.encrypt(infoN, "layerbench synth".getBytes(ISO_8859_1)))}>>>")
      obj(outlinesN, outlinesBody)
    }

    pageNums.zipWithIndex.foreach { case (pn, pi) =>
      val nStreams = if (rng.nextInt(6) == 0) 2 else 1
      val contentNums = Array.fill(nStreams) { val n = next; next += 1; n }
      val xobjs =
        if (images > 0 && pi < images) s"/XObject<</Im$pi ${imageNums(pi)} 0 R>>" else ""
      val contents =
        if (nStreams == 1) s"${contentNums(0)} 0 R"
        else contentNums.map(n => s"$n 0 R").mkString("[", " ", "]")
      obj(pn, s"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]" +
        s"/Resources<</Font<</F1 3 0 R/F2 4 0 R>>$xobjs/ProcSet[/PDF/Text/ImageB]>>/Contents $contents>>")
      contentNums.foreach { cn =>
        val (content, s) = pageContent(rng, 12 + rng.nextInt(30))
        shown ++= s
        val chain = Chains(pick(rng, ChainWeights))
        streamObj(cn, filterEntry(chain), encode(chain, content))
      }
    }
    imageNums.zipWithIndex.foreach { case (n, i) =>
      val w = 1000 + rng.nextInt(400); val h = 1200 + rng.nextInt(300)
      streamObj(n, s"/Type/XObject/Subtype/Image/Width $w/Height $h/ColorSpace/DeviceGray" +
        "/BitsPerComponent 8/Filter/FlateDecode", StreamEncoders.flate(imageData(rng, w, h), 1))
    }
    val encryptN = if (enc != null) { val n = next; next += 1; obj(n, enc.encryptDict); n } else 0

    val idEntry = s"/ID[<${PdfEncryptor.hex(id0)}><${PdfEncryptor.hex(id1)}>]"
    val encEntry = if (enc != null) s"/Encrypt $encryptN 0 R" else ""
    if (!xrefStream) {
      val size = next
      val xrefAt = out.size
      raw(s"xref\n0 $size\n0000000000 65535 f \n")
      (1 until size).foreach { n =>
        offsets.get(n) match {
          case Some(off) => raw(f"$off%010d 00000 n \n")
          case None      => raw("0000000000 65535 f \n")
        }
      }
      raw(s"trailer\n<</Size $size/Root 1 0 R/Info $infoN 0 R$idEntry$encEntry>>\nstartxref\n$xrefAt\n%%EOF\n")
    } else {
      val compressed = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      if (objStm) {
        val bodies = Seq(infoN -> infoBody, outlinesN -> outlinesBody)
        val objsText = new StringBuilder
        val header = new StringBuilder
        bodies.zipWithIndex.foreach { case ((n, body), i) =>
          header ++= s"$n ${objsText.length} "
          objsText ++= body ++= "\n"
          compressed(n) = i
        }
        val first = header.length + 1
        val payload = (header.toString + "\n" + objsText).getBytes(ISO_8859_1)
        streamObj(objStmN, s"/Type/ObjStm/N ${bodies.length}/First $first/Filter/FlateDecode",
          StreamEncoders.flate(payload))
      }
      val xrefN = next
      val size = next + 1
      val xrefAt = out.size.toLong
      val rows = new ByteArrayOutputStream(size * 5)
      def row(t: Int, f2: Long, f3: Int): Unit = {
        rows.write(t); rows.write(((f2 >>> 16) & 0xff).toInt); rows.write(((f2 >>> 8) & 0xff).toInt)
        rows.write((f2 & 0xff).toInt); rows.write(f3)
      }
      (0 until size).foreach { n =>
        if (n == xrefN) row(1, xrefAt, 0)
        else offsets.get(n) match {
          case Some(off) => row(1, off, 0)
          case None => compressed.get(n) match {
            case Some(idx) => row(2, objStmN, idx)
            case None      => row(0, 0, 0)
          }
        }
      }
      val data = StreamEncoders.flate(StreamEncoders.pngUp(rows.toByteArray, 5))
      raw(s"$xrefN 0 obj\n<</Type/XRef/Size $size/W[1 3 1]/Root 1 0 R/Info $infoN 0 R$idEntry$encEntry" +
        s"/Filter/FlateDecode/DecodeParms<</Columns 5/Predictor 12>>/Length ${data.length}>>\nstream\n")
      out.write(data)
      raw(s"\r\nendstream\nendobj\nstartxref\n$xrefAt\n%%EOF\n")
    }
    val kind = Seq(
      if (xrefStream) "xrefstm" else "xref",
      if (objStm) "objstm" else "",
      crypt match { case 1 => "rc4"; case 2 => "aesv2"; case _ => "" },
      if (images > 0) "big" else "").filter(_.nonEmpty).mkString("+")
    val bytes = out.toByteArray
    SynthPdf(bytes, shown.toArray, kind, countObj(bytes) == 2 * (offsets.size + (if (xrefStream) 1 else 0)))
  }

  private def countObj(b: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i + 2 < b.length) {
      if (b(i) == 'o' && b(i + 1) == 'b' && b(i + 2) == 'j') n += 1
      i += 1
    }
    n
  }

  /** Content streams for the `pdf.filters` layer, each encoded with every
    * filter the program decodes on its own. */
  def filterStreams(rng: SplittableRandom, n: Int): Seq[EncodedStream] =
    (0 until n).flatMap { _ =>
      val (content, _) = pageContent(rng, 30 + rng.nextInt(30))
      val padded = StreamEncoders.pad4(content, ' '.toByte)
      Seq(
        EncodedStream("flate", StreamEncoders.flate(content), content.length),
        EncodedStream("lzw", StreamEncoders.lzw(content), content.length),
        EncodedStream("ascii85", StreamEncoders.ascii85(content), padded.length),
        EncodedStream("asciihex", StreamEncoders.asciiHex(content), content.length),
        EncodedStream("runlength", StreamEncoders.runLength(content), content.length))
    }
}
