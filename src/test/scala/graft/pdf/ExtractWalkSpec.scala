package graft.pdf

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Extraction-walk semantics the reference fixtures never exercise
  * (actions, file specs, embedded files, URLS trees, XFA). Inputs are our
  * own crafted PDFs; expectations are hand-derived from the reference
  * sources, cited per test (object.go / action.go / file.go). These rely on
  * the scan-repair path (no xref needed: findObjects + repair register every
  * `N 0 obj`).
  */
class ExtractWalkSpec extends AnyFunSuite {

  private def parse(body: String): ParsedPdf =
    PdfExtract.parse(body.getBytes(ISO_8859_1))

  private def s(b: Array[Byte]): String = new String(b, ISO_8859_1)

  test("Launch action via Win dict: files + command line (action.go:13-25, file.go:32-36)") {
    val r = parse(
      """1 0 obj
        |<</A <</S /Launch /Win <</F (cmd.exe) /P (/c calc)>> >> >>
        |endobj
        |""".stripMargin)
    assert(s(r.files) == "00000000000000000000000000000000:cmd.exe\n")
    assert(s(r.commands) == "cmd.exe /c calc\n")
  }

  test("Launch action, F dict without /P: trailing-space command (file.go:37-42 Go if-scope quirk)") {
    val r = parse(
      """1 0 obj
        |<</A <</S /Launch /F <</F (run.bat)>> >> >>
        |endobj
        |""".stripMargin)
    assert(s(r.commands) == "run.bat \n") // p == "" => trailing space
    assert(s(r.files) == "00000000000000000000000000000000:run.bat\n")
  }

  test("action F as string goes straight to the files manifest (action.go:18-19)") {
    val r = parse(
      """1 0 obj
        |<</A <</S /Launch /F (payload.exe)>> >>
        |endobj
        |""".stripMargin)
    assert(s(r.files) == "00000000000000000000000000000000:payload.exe\n")
    assert(s(r.commands) == "") // F-as-string branch never writes a command
  }

  test("URL file spec routes to urls (file.go:15-19)") {
    // reference quirk: GetString("FS") only matches a STRING (URL); the
    // spec-correct name /URL does not take this branch (it falls through to
    // the plain-file case) — replicated, both directions asserted
    val r = parse(
      """1 0 obj
        |<</A <</S /Launch /F <</FS (URL) /F (http://evil.example/x)>> >> >>
        |endobj
        |""".stripMargin)
    assert(s(r.urls) == "http://evil.example/x\n")
    assert(s(r.files) == "")

    val nameForm = parse(
      """1 0 obj
        |<</A <</S /Launch /F <</FS /URL /F (http://evil.example/x)>> >> >>
        |endobj
        |""".stripMargin)
    assert(s(nameForm.urls) == "") // /URL name: branch not taken, as in Go
    assert(s(nameForm.files) == "00000000000000000000000000000000:http://evil.example/x\n")
  }

  test("URI string and nested JS string (object.go:85-89,99-105)") {
    val r = parse(
      """1 0 obj
        |<</OpenAction <</S /JavaScript /JS (app.alert\(1\))>> /URI (http://example.com)>>
        |endobj
        |""".stripMargin)
    assert(s(r.urls) == "http://example.com\n")
    assert(s(r.javascript) == "app.alert(1)\n")
  }

  test("URI as dict uses /Base (object.go:101-105)") {
    val r = parse(
      """1 0 obj
        |<</URI <</Base (http://base.example/)>> >>
        |endobj
        |""".stripMargin)
    assert(s(r.urls) == "http://base.example/\n")
  }

  test("EmbeddedFiles name tree dumps blob by md5; URLS tree reads names at even indices (object.go:74-82,107-113)") {
    val r = parse(
      """1 0 obj
        |<</Names <</EmbeddedFiles <</Names [(file1.txt) 2 0 R]>> /URLS <</Names [(http://u1) (x)]>> >> >>
        |endobj
        |2 0 obj
        |<</F (file1.txt) /EF <</F 3 0 R>> >>
        |endobj
        |3 0 obj
        |<</Length 5>>
        |stream
        |hello
        |endstream
        |endobj
        |""".stripMargin)
    // md5("hello")
    assert(s(r.files) == "5d41402abc4b2a76b9719d911017c592:file1.txt\n")
    assert(r.embedded.map(e => (e.md5, e.name, s(e.data))) ==
      Seq(("5d41402abc4b2a76b9719d911017c592", "file1.txt", "hello")))
    // URLS tree: names at EVEN indices -> only "http://u1"
    assert(s(r.urls) == "http://u1\n")
  }

  test("EmbeddedFiles value that is a string goes to the manifest with the unknown hash (object.go:77-78)") {
    val r = parse(
      """1 0 obj
        |<</EmbeddedFiles <</Names [(name0) (value0)]>> >>
        |endobj
        |""".stripMargin)
    // index 1 (value position) is a string -> unknownHash:value0
    assert(s(r.files) == "00000000000000000000000000000000:value0\n")
  }

  test("XFA stream dumps as form.xml (object.go:62-64)") {
    val r = parse(
      """1 0 obj
        |<</XFA 2 0 R>>
        |endobj
        |2 0 obj
        |<</Length 6>>
        |stream
        |<xml/>
        |endstream
        |endobj
        |""".stripMargin)
    assert(r.embedded.map(_.name) == Seq("form.xml"))
    assert(s(r.embedded.head.data) == "<xml/>")
    assert(s(r.files).endsWith(":form.xml\n"))
  }

  test("XFA array concatenates its streams (object.go:64-72)") {
    val r = parse(
      """1 0 obj
        |<</XFA [(a) 2 0 R (b) 3 0 R]>>
        |endobj
        |2 0 obj
        |<</Length 3>>
        |stream
        |<x>
        |endstream
        |endobj
        |3 0 obj
        |<</Length 4>>
        |stream
        |</x>
        |endstream
        |endobj
        |""".stripMargin)
    assert(r.embedded.map(_.name) == Seq("form.xml"))
    assert(s(r.embedded.head.data) == "<x></x>")
  }

  test("AA additional actions all fire (object.go:52-59)") {
    val r = parse(
      """1 0 obj
        |<</AA <</O <</S /Launch /F (one.exe)>> /C <</S /Launch /F (two.exe)>> >> >>
        |endobj
        |""".stripMargin)
    val lines = s(r.files).split("\n").toSet
    assert(lines == Set(
      "00000000000000000000000000000000:one.exe",
      "00000000000000000000000000000000:two.exe"))
  }

  // --- nil-stream normalization: a ref to a missing or stream-less object
  // resolves to Go's nil slice, which every consumer treats as empty bytes
  // (reference.go:36-48; e.g. DumpFile writes the md5-of-empty manifest
  // line). Previously these NPE'd and aborted the document. ---

  private val Md5Empty = "d41d8cd98f00b204e9800998ecf8427e"

  test("XFA ref to a MISSING object dumps empty form.xml, document survives (nil stream == empty)") {
    val r = parse(
      """1 0 obj
        |<</XFA 5 0 R>>
        |endobj
        |""".stripMargin)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.files) == Md5Empty + ":form.xml\n")
    assert(r.embedded.map(e => (e.md5, e.name, e.data.length)) ==
      Seq((Md5Empty, "form.xml", 0)))
  }

  test("XFA ref to a stream-less object dumps empty form.xml (object.go:62-64 + nil stream)") {
    val r = parse(
      """1 0 obj
        |<</XFA 2 0 R>>
        |endobj
        |2 0 obj
        |<</Type /NotAStream>>
        |endobj
        |""".stripMargin)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.files) == Md5Empty + ":form.xml\n")
  }

  test("EF /F ref to a missing object dumps the named file with md5-of-empty (file.go:23-30)") {
    val r = parse(
      """1 0 obj
        |<</A <</S /Launch /F <</F (ghost.bin) /EF <</F 9 0 R>> >> >> >>
        |endobj
        |""".stripMargin)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.files) == Md5Empty + ":ghost.bin\n")
    assert(r.embedded.map(e => (e.md5, e.name, e.data.length)) ==
      Seq((Md5Empty, "ghost.bin", 0)))
  }

  test("JS ref to a missing object emits one empty javascript line (object.go:87-89 + nil stream)") {
    val r = parse(
      """1 0 obj
        |<</OpenAction <</JS 9 0 R>> >>
        |endobj
        |""".stripMargin)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.javascript) == "\n")
  }

  test("Contents ref to a missing object extracts no text, document survives (page.go:22-26 + nil stream)") {
    val r = parse(
      """1 0 obj
        |<</Pages 2 0 R>>
        |endobj
        |2 0 obj
        |<</Type /Pages /Contents 9 0 R>>
        |endobj
        |""".stripMargin)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.contents) == "")
  }

  test("ToUnicode ref to a missing object: empty cmap, raw-byte decode (font.go:16-19 + nil stream)") {
    val r = parse(
      """1 0 obj
        |<</Pages 2 0 R>>
        |endobj
        |2 0 obj
        |<</Type /Pages /Resources <</Font <</F1 <</ToUnicode 9 0 R>> >> >> /Contents 3 0 R>>
        |endobj
        |3 0 obj
        |<</Length 23>>
        |stream
        |BT /F1 1 Tf (Hi) Tj ET
        |endstream
        |endobj
        |""".stripMargin)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.contents) == "Hi\n")
  }

  // --- unclosed-stream error parity: Go's copy loop breaks silently when
  // EOF falls immediately after the stream keyword's EOL (zero content
  // bytes — the 9-byte window read fails before any parser read,
  // parser.go:934-975); >=1-byte truncations do log the error. ---

  test("stream with zero content bytes at EOF: NO unclosed-stream error (parser.go:937-940)") {
    val r = parse("1 0 obj\n<</Length 1>>\nstream\n")
    assert(!s(r.errors).contains("unclosed stream"))
  }

  test("stream truncated after >=1 content byte: unclosed-stream error logged (parser.go:966-971)") {
    val r = parse("1 0 obj\n<</Length 1>>\nstream\nX")
    assert(s(r.errors).linesIterator.count(_ == "unclosed stream") == 1)
  }

  test("unencrypted doc with /Crypt filter: no override, unknown-filter passthrough (parser.go:424 nil-handler gate)") {
    // Go only takes the /Crypt override when a security handler exists; an
    // unencrypted document keeps /Crypt in the filter list, where it passes
    // through as an unknown filter and FlateDecode still applies
    val deflater = new java.util.zip.Deflater()
    val cs = "BT (Hello Crypt) Tj ET".getBytes(ISO_8859_1)
    deflater.setInput(cs); deflater.finish()
    val buf = new Array[Byte](256)
    val n = deflater.deflate(buf)
    val flate = java.util.Arrays.copyOfRange(buf, 0, n)
    val pre = ("1 0 obj\n<</Pages 2 0 R>>\nendobj\n" +
      "2 0 obj\n<</Type /Pages /Contents 3 0 R>>\nendobj\n" +
      s"3 0 obj\n<</Length ${flate.length} /Filter [/Crypt /FlateDecode] " +
      "/DecodeParms [<</Name /Identity>> <<>>]>>\nstream\n").getBytes(ISO_8859_1)
    val r = PdfExtract.parse(pre ++ flate ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1))
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.contents) == "Hello Crypt\n")
  }

  test("self-referential stream metadata terminates: re-entrant fetch resolves to null (DIVERGENCES #10)") {
    // the reference recurses forever here (fetch -> readStream -> resolve
    // /Filter -> fetch the same object); found by the mutation fuzz
    for (body <- Seq(
      "1 0 obj\n<</Filter 1 0 R>>\nstream\nxyz\nendstream\nendobj\n",
      "1 0 obj\n<</Filter [1 0 R]>>\nstream\nxyz\nendstream\nendobj\n",
      "1 0 obj\n<</DecodeParms 1 0 R /Filter /FlateDecode>>\nstream\nxyz\nendstream\nendobj\n",
      // two-object fetch cycle through stream metadata
      "1 0 obj\n<</Filter 2 0 R>>\nstream\nx\nendstream\nendobj\n" +
        "2 0 obj\n<</Also 1 0 R>>\nendobj\n")) {
      val t0 = System.nanoTime()
      val r = parse(body)
      assert((System.nanoTime() - t0) / 1e6 < 1000, "must terminate fast")
      assert(r.failure == null || !r.failure.startsWith("internal:"), String.valueOf(r.failure))
    }
  }

  test("deep nesting survives via the big-stack retry (Go growable-stack parity)") {
    // default JVM thread stacks overflow near depth ~4k; Go's growable
    // stacks parse these fine — the retry thread restores parity
    val deepArray = parse("1 0 obj\n" + "[" * 20000 + "]" * 20000 + "\nendobj\n")
    assert(deepArray.ok, String.valueOf(deepArray.failure))
    val deepDict = parse("1 0 obj\n" + "<</A " * 8000 + "1" + ">>" * 8000 + "\nendobj\n")
    assert(deepDict.ok, String.valueOf(deepDict.failure))
  }

  test("exception policy: which throwables end only their document") {
    // an OOM stays a failure row until the decoders have an output budget
    // (a flate bomb can ask for more than a byte array holds)
    assert(PdfExtract.isolates(new IllegalStateException("x"), onBigStack = false))
    assert(PdfExtract.isolates(new OutOfMemoryError("Required array length too large"), onBigStack = false))
    assert(!PdfExtract.isolates(new StackOverflowError, onBigStack = false)) // retried first
    assert(PdfExtract.isolates(new StackOverflowError, onBigStack = true))
    assert(!PdfExtract.isolates(new InterruptedException, onBigStack = false))
    assert(!PdfExtract.isolates(new InternalError("vm"), onBigStack = true))
    assert(!PdfExtract.isolates(new NoClassDefFoundError("x"), onBigStack = false))
  }

  test("JS as stream reference (object.go:87-89)") {
    val r = parse(
      """1 0 obj
        |<</OpenAction <</JS 2 0 R>> >>
        |endobj
        |2 0 obj
        |<</Length 12>>
        |stream
        |alert('hi');
        |endstream
        |endobj
        |""".stripMargin)
    assert(s(r.javascript) == "alert('hi');\n")
  }
}
