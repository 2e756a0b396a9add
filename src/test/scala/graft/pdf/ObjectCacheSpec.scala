package graft.pdf

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1

/** The object-fetch cache must be observationally invisible: the reference
  * re-parses per fetch and re-logs abnormalities, so cache hits replay the
  * recorded error lines. */
class ObjectCacheSpec extends AnyFunSuite {

  private def parse(body: String): ParsedPdf =
    PdfExtract.parse(body.getBytes(ISO_8859_1))

  test("an erroring object fetched twice logs its error twice") {
    // object 2 is referenced from object 1's /URI probe AND iterated by the
    // top-level extraction loop: two fetches, two "unclosed string" lines
    val r = parse(
      """1 0 obj
        |<</URI 2 0 R>>
        |endobj
        |2 0 obj
        |(never closed""".stripMargin)
    val errors = new String(r.errors, ISO_8859_1).split("\n").toSeq
    assert(errors.count(_ == "unclosed string") == 2, errors)
  }

  test("repeated resolution returns identical bytes (fonts shared across pages)") {
    // two pages sharing one content stream: the stream resolves twice, text
    // appears twice, byte-identical
    val r = parse(
      """1 0 obj
        |<</Pages <</Kids [2 0 R 3 0 R]>> >>
        |endobj
        |2 0 obj
        |<</Contents 4 0 R>>
        |endobj
        |3 0 obj
        |<</Contents 4 0 R>>
        |endobj
        |4 0 obj
        |<</Length 22>>
        |stream
        |BT (shared) Tj ET
        |endstream
        |endobj
        |""".stripMargin)
    val text = new String(r.contents, ISO_8859_1)
    // page tree = [root, kid2, kid3]; root has no /Contents; kids share one
    assert(text == "shared\nshared\n", text)
  }

  test("ErrorSink.since returns exactly the bytes appended after the mark") {
    val sink = new ErrorSink
    sink.write("first\n".getBytes(ISO_8859_1))
    val mark = sink.size
    sink.write("second\nthird\n".getBytes(ISO_8859_1))
    assert(new String(sink.since(mark), ISO_8859_1) == "second\nthird\n")
    assert(sink.since(sink.size).isEmpty)
    assert(new String(sink.since(0), ISO_8859_1) == "first\nsecond\nthird\n")
  }

  test("error capture is linear: 40,000 erroring objects parse fast, errors intact") {
    // each fetch logs one line that the cache captures; copying the whole
    // error channel per capture would make this quadratic
    val n = 40000
    val body = (1 to n).map(i => s"$i 0 obj <<1>> endobj\n").mkString
    val t0 = System.nanoTime()
    val r = parse(body)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(r.ok && r.nObjects == n)
    // one line from the load-phase object scan, one from the fetch
    assert(new String(r.errors, ISO_8859_1) == "invalid dictionary key type\n" * (2 * n))
    assert(seconds < 2.0, f"took $seconds%.2f s")
  }
}
