package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.{ExecutionException, FutureTask}
import scala.collection.mutable
import scala.util.control.NonFatal

/** ToUnicode CMap font (/root/reference/pdf/font.go).
  * Width = byte-length of the last-seen bfrange start / bfchar key; every
  * code in a bfrange maps to the SAME value bytes (no increment — the
  * reference deviates from the spec here, font.go:53-55). */
final class Font(val cmap: mutable.LongMap[Array[Byte]], var width: Int) {
  /** font.go:80-92: fixed width-byte stride, big-endian code; mapped codes
    * emit the cmap value bytes raw (UTF-16BE not transcoded); unmapped codes
    * emit the raw input bytes; a trailing partial code is dropped. */
  def decode(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i + width <= b.length) {
      cmap.get(Filters.bytesToInt(b, i, width)) match {
        case Some(v) => out.write(v, 0, v.length)
        case None    => out.write(b, i, width)
      }
      i += width
    }
    out.toByteArray
  }
}

object Font {
  def default: Font = new Font(mutable.LongMap.empty, 1)

  /** Deterministic safety cap on cmap entries per font. The reference has no
    * cap (its own bomb fixture holds 25,600 entries and must finish < 1s);
    * at corpus scale an adversarial 8-byte range would otherwise OOM an
    * executor. Divergence is logged via the metrics channel only. */
  val MaxCmapEntries: Int = 1 << 22

  /** font.go:15-78 — parse a ToUnicode stream with the same tokenizer. */
  def newFont(d: PDict): Font = {
    val cmapBytes = d.getStream("ToUnicode").getOrElse(Array.emptyByteArray)
    val font = new Font(mutable.LongMap.empty, 1)
    val parser = new PdfParser(cmapBytes, null) // nested parser: errors dropped

    var going = true
    while (going) {
      val (command, operands, err) = parser.readCommand()
      if (err == Sentinel.ReadError) going = false
      else if (command == PKeyword.BeginBfRange) {
        val count = operands.getInt(operands.length - 1).getOrElse(0)
        var i = 0
        var broke = false
        while (i < count && !broke) {
          val startB = parser.readHexString(NoDecryptor).bytes
          if (startB.isEmpty) broke = true
          else {
            font.width = startB.length
            val start = Filters.bytesToInt(startB, 0, startB.length)
            val endB = parser.readHexString(NoDecryptor).bytes
            if (endB.isEmpty) broke = true
            else {
              val end = Filters.bytesToInt(endB, 0, endB.length)
              val value = parser.readHexString(NoDecryptor).bytes
              if (value.isEmpty) broke = true
              else {
                var j = start
                while (j <= end && font.cmap.size < MaxCmapEntries) {
                  font.cmap(j) = value
                  j += 1
                }
              }
            }
          }
          i += 1
        }
      } else if (command == PKeyword.BeginBfChar) {
        val count = operands.getInt(operands.length - 1).getOrElse(0)
        var i = 0
        var broke = false
        while (i < count && !broke) {
          val keyB = parser.readHexString(NoDecryptor).bytes
          if (keyB.isEmpty) broke = true
          else {
            font.width = keyB.length
            val key = Filters.bytesToInt(keyB, 0, keyB.length)
            val value = parser.readHexString(NoDecryptor).bytes
            if (value.isEmpty) broke = true
            else font.cmap(key) = value
          }
          i += 1
        }
      }
    }
    font
  }
}

/** The recursive extraction walk and its helpers
  * (/root/reference/pdf/{object,action,file,page}.go). */
object Extractor {
  /** file.go:7 */
  val UnknownHash = "00000000000000000000000000000000"

  /** object.go:33-38 */
  def extractIndirect(obj: IndirectObject, out: DocSink): Unit =
    obj.value match {
      case d: PDict => extract(d, out)
      case _        =>
    }

  /** object.go:40-123 — recursion goes into RAW dict values and array
    * elements; references are NOT followed by the walk itself. */
  def extract(o: PdfObject, out: DocSink): Unit = o match {
    case d: PDict =>
      // actions
      d.getDictionary("A").foreach(a => actionExtract(a, out))
      d.getDictionary("OpenAction").foreach(a => actionExtract(a, out))
      d.getDictionary("AA").foreach { aa =>
        aa.entries.keysIterator.foreach { key =>
          aa.getDictionary(key).foreach(a => actionExtract(a, out))
        }
      }

      // forms (XFA)
      d.getStream("XFA") match {
        case Some(xfa) => out.dumpFile("form.xml", xfa)
        case None =>
          d.getArray("XFA").foreach { xfa =>
            val formData = new java.io.ByteArrayOutputStream()
            var i = 0
            while (i < xfa.length) {
              xfa.getStream(i).foreach(s => formData.write(s, 0, s.length))
              i += 1
            }
            out.dumpFile("form.xml", formData.toByteArray)
          }
      }

      // embedded files: name-tree values are at odd indices (object.go:75-82)
      val embeddedFiles = d.getNameTreeMap("EmbeddedFiles")
      var i = 1
      while (i < embeddedFiles.length) {
        embeddedFiles.getString(i) match {
          case Some(f) =>
            out.writeLine(out.files, (UnknownHash + ":").getBytes(ISO_8859_1) ++ f)
          case None =>
            embeddedFiles.getDictionary(i).foreach(f => fileExtract(f, out, isCommand = false))
        }
        i += 2
      }

      // javascript
      d.getString("JS") match {
        case Some(js) => out.writeLine(out.javascript, js)
        case None     => d.getStream("JS").foreach(js => out.writeLine(out.javascript, js))
      }

      // page text
      d.getPageTree("Pages").foreach(pages => pages.foreach(p => pageExtract(p, out)))

      // URIs
      d.getString("URI") match {
        case Some(url) => out.writeLine(out.urls, url)
        case None =>
          d.getDictionary("URI").foreach { u =>
            u.getString("Base").foreach(base => out.writeLine(out.urls, base))
          }
      }

      // URLS: name-tree names are at even indices (object.go:108-113)
      val urls = d.getNameTreeMap("URLS")
      var k = 0
      while (k < urls.length) {
        urls.getString(k).foreach(url => out.writeLine(out.urls, url))
        k += 2
      }

      // recurse into raw values, insertion order (canonicalizes Go map order)
      d.entries.valuesIterator.foreach(v => extract(v, out))

    case a: PArray =>
      a.items.foreach(v => extract(v, out))

    case _ =>
  }

  /** action.go:9-26 */
  def actionExtract(a: PDict, out: DocSink): Unit = {
    val isCommand = a.getName("S").contains("Launch")
    a.getString("F") match {
      case Some(f) =>
        out.writeLine(out.files, (UnknownHash + ":").getBytes(ISO_8859_1) ++ f)
      case None =>
        a.getDictionary("F").foreach(f => fileExtract(f, out, isCommand))
    }
    a.getDictionary("Win").foreach(win => fileExtract(win, out, isCommand))
  }

  /** file.go:11-43 — note the trailing space in the command line when /P is
    * absent (Go if-scope leaves p == "", file.go:39). */
  def fileExtract(file: PDict, out: DocSink, isCommand: Boolean): Unit = {
    val fs = file.getString("FS").map(new String(_, ISO_8859_1)).getOrElse("")
    if (fs == "URL") {
      file.getString("F").foreach(f => out.writeLine(out.urls, f))
    } else file.getDictionary("EF") match {
      case Some(ef) =>
        val fileData = ef.getStream("F").getOrElse(Array.emptyByteArray)
        val name = file.getString("F").map(new String(_, ISO_8859_1)).getOrElse(UnknownHash)
        out.dumpFile(name, fileData)
      case None =>
        file.getString("P") match {
          case Some(p) =>
            file.getString("F").foreach { f =>
              out.writeLine(out.files, (UnknownHash + ":").getBytes(ISO_8859_1) ++ f)
              out.writeLine(out.commands, f ++ " ".getBytes(ISO_8859_1) ++ p)
            }
          case None =>
            file.getString("F").foreach { f =>
              if (isCommand)
                out.writeLine(out.commands, f ++ " ".getBytes(ISO_8859_1)) // p == ""
              out.writeLine(out.files, (UnknownHash + ":").getBytes(ISO_8859_1) ++ f)
            }
        }
    }
  }

  /** page.go:11-33 */
  def pageExtract(page: PDict, out: DocSink): Unit = {
    val fontMap = mutable.HashMap.empty[String, Font]
    val resources = page.getDictionary("Resources").getOrElse(PDict.empty)
    val fonts = resources.getDictionary("Font").getOrElse(PDict.empty)
    fonts.entries.keysIterator.foreach { name =>
      val fontInfo = fonts.getDictionary(name).getOrElse(PDict.empty)
      fontMap(name) = Font.newFont(fontInfo)
    }

    page.getStream("Contents") match {
      case Some(contents) => pageContents(out, fontMap, contents)
      case None =>
        page.getArray("Contents").foreach { arr =>
          var i = 0
          while (i < arr.length) {
            arr.getStream(i).foreach(c => pageContents(out, fontMap, c))
            i += 1
          }
        }
    }
  }

  /** page.go:35-85: only BT..ET blocks; Tf selects the font; Tj/'/" show the
    * last string operand; TJ concatenates even indices then decodes once.
    * Positioning operators are ignored (no layout model). */
  private def pageContents(out: DocSink, fontMap: mutable.HashMap[String, Font], contents: Array[Byte]): Unit = {
    val parser = new PdfParser(contents, null) // nested parser: errors dropped
    var going = true
    while (going) {
      val (command, _, err) = parser.readCommand()
      if (err == Sentinel.ReadError) going = false
      else if (command == PKeyword.BT) {
        var currentFont = Font.default
        var inner = true
        while (inner) {
          val (cmd, operands, e) = parser.readCommand()
          if (e == Sentinel.ReadError || cmd == PKeyword.ET) inner = false
          else if (cmd == PKeyword.Tf) {
            val fontName = operands.getName(operands.length - 2).getOrElse("")
            currentFont = fontMap.getOrElse(fontName, Font.default)
          } else if (cmd == PKeyword.Tj || cmd == PKeyword.Quote || cmd == PKeyword.DQuote) {
            val s = operands.getString(operands.length - 1).getOrElse(Array.emptyByteArray)
            val decoded = currentFont.decode(s)
            out.text.write(decoded, 0, decoded.length)
            out.text.write('\n')
          } else if (cmd == PKeyword.TJ) {
            val sb = new java.io.ByteArrayOutputStream()
            val a = operands.getArray(operands.length - 1).getOrElse(PArray.empty)
            var i = 0
            while (i < a.length) {
              a.getString(i).foreach(s => sb.write(s, 0, s.length))
              i += 2
            }
            val decoded = currentFont.decode(sb.toByteArray)
            out.text.write(decoded, 0, decoded.length)
            out.text.write('\n')
          }
        }
      }
    }
  }
}

/** Per-document result mirroring the reference's seven output files plus
  * the embedded blobs and the metrics channel. */
final case class EmbeddedBlob(md5: String, name: String, data: Array[Byte])

final case class ParsedPdf(
    contents: Array[Byte],
    javascript: Array[Byte],
    urls: Array[Byte],
    files: Array[Byte],
    commands: Array[Byte],
    errors: Array[Byte],
    raw: Array[Byte],
    embedded: Seq[EmbeddedBlob],
    ok: Boolean,
    failure: String,
    nObjects: Long,
    nStreams: Long,
    filtersApplied: Map[String, Long]
)

object PdfExtract {
  /** Goroutine stacks grow on demand, so the reference parses arbitrarily
    * deep `[[[[...` / `<</A <</A ...` nestings; JVM thread stacks are fixed
    * and the default executor stack overflows near depth ~4k (a 20 KB
    * adversarial payload). Deep documents are retried once on a dedicated
    * big-stack thread — rare path, identical deterministic result, per-doc
    * isolation preserved. */
  private val BigStackBytes: Long = 512L * 1024 * 1024

  /** A fatal error of the retry thread is rethrown on the caller's. */
  private def parseOnBigStack(payload: Array[Byte], password: String,
                              objectStreams: Boolean): ParsedPdf = {
    val task = new FutureTask[ParsedPdf](() =>
      parseHere(payload, password, objectStreams, onBigStack = true))
    val t = new Thread(null, task, "graft-pdf-bigstack", BigStackBytes)
    t.setDaemon(true)
    t.start()
    try task.get()
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** The corpus-facing equivalent of `pdf.Parse(path, password, outdir)`
    * (/root/reference/pdf/pdf.go:8-43), over an in-memory payload. Objects
    * are extracted in ascending object-number order (the reference iterates
    * a Go map, i.e. nondeterministically; sorted order is our documented
    * deterministic canonicalization). Exceptions follow [[isolates]]: a
    * StackOverflowError is retried once on a big stack first.
    *
    * `objectStreams = true` opts into expanding compressed (type-2)
    * objects out of /ObjStm containers — the reference resolves them to
    * null, so this is OFF by default to keep the byte-identity gate. */
  def parse(payload: Array[Byte], password: String = "",
            objectStreams: Boolean = false): ParsedPdf = {
    try parseHere(payload, password, objectStreams, onBigStack = false)
    catch { case _: StackOverflowError => parseOnBigStack(payload, password, objectStreams) }
  }

  /** Whether a throwable ends only its own document, as a failure row:
    * a non-fatal exception; an OutOfMemoryError, because the decoders have
    * no output budget yet and a small flate or LZW bomb can make one
    * document ask for more than a byte array can hold; and a
    * StackOverflowError once it has had the big-stack retry. Anything
    * else (other VM errors, interrupts, linkage errors) fails the task. */
  private[pdf] def isolates(t: Throwable, onBigStack: Boolean): Boolean = t match {
    case NonFatal(_) | _: OutOfMemoryError => true
    case _: StackOverflowError => onBigStack
    case _ => false
  }

  private def parseHere(payload: Array[Byte], password: String,
                        objectStreams: Boolean, onBigStack: Boolean): ParsedPdf = {
    val out = new DocSink
    var ok = true
    var failure: String = null
    var parser: PdfParser = null
    try {
      parser = new PdfParser(payload, out)
      parser.expandObjectStreams = objectStreams
      val err = parser.load(password.getBytes(ISO_8859_1))
      if (err != null) { ok = false; failure = err }
      else {
        parser.xref.toSeq.sortBy(_._1).foreach { case (n, entry) =>
          if (entry.xtype == XrefType.Indirect ||
              (objectStreams && entry.xtype == XrefType.Compressed)) {
            val obj = parser.getObject(n)
            Extractor.extractIndirect(obj, out)
            out.writeLine(out.raw, obj.str.getBytes(ISO_8859_1))
          }
        }
      }
    } catch {
      case t: Throwable if isolates(t, onBigStack) =>
        ok = false
        failure = "internal: " + t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)
    }
    ParsedPdf(
      contents = out.text.toByteArray,
      javascript = out.javascript.toByteArray,
      urls = out.urls.toByteArray,
      files = out.files.toByteArray,
      commands = out.commands.toByteArray,
      errors = out.errors.toByteArray,
      raw = out.raw.toByteArray,
      embedded = out.embedded.map { case (md5, name, data) => EmbeddedBlob(md5, name, data) }.toSeq,
      ok = ok,
      failure = failure,
      nObjects = if (parser != null) parser.nObjectsFetched else 0L,
      nStreams = if (parser != null) parser.nStreamsDecoded else 0L,
      filtersApplied = if (parser != null) parser.filtersApplied.toMap else Map.empty
    )
  }
}
