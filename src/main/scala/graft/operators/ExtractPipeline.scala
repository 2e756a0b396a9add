package graft.operators

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pdf.PdfExtract
import graft.html.HtmlExtract
import graft.sources.CrawlRow

/** One extracted document: the corpus-level row equivalent of the
  * reference's per-document output directory (7 sink files,
  * /root/reference/pdf/output.go:12-21). `contents` is the byte-identical
  * extracted-text gate; a string view is derived on read with
  * decode(contents, 'UTF-8') — storing it twice would double the output
  * volume of a 100 TB run for no information.
  */
final case class ExtractedDoc(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    kind: String, // "pdf" | "html"
    contents: Array[Byte],
    javascript: Array[Byte],
    urls: Seq[String],
    files: Seq[String],
    commands: Seq[String],
    errors: Seq[String],
    embedded_md5: Seq[String],
    embedded_name: Seq[String],
    /** The embedded-file payload bytes themselves — the reference's file-dump
      * sink (it writes each embedded file's content to disk under its md5
      * name, pdf/output.go:93-104, and XFA to form.xml, pdf/object.go:62-72).
      * Index-aligned with `embedded_md5`/`embedded_name`. Opt-in (null under
      * the default `includeEmbedded = false`): embedded files are the one
      * column that can dwarf the document itself, and the md5 manifest
      * already pins their identity. Under `includeEmbedded = true` a per-doc
      * byte budget (`maxEmbeddedBytes`) nulls individual oversized entries
      * (alignment preserved) so one pathological attachment cannot blow the
      * row size — a nulled entry is detectable as md5 present, data null. */
    embedded_data: Seq[Array[Byte]],
    raw_md5: String,
    raw_size: Long,
    ok: Boolean,
    failure: String,
    n_objects: Long,
    n_streams: Long,
    n_filters: Long,
    n_errors: Long,
    /** The reference's seventh sink, raw.pdf (pdf/output.go:12-21): the
      * re-serialized object stream for PDFs, the original payload for HTML.
      * Opt-in (null under the default `includeRaw = false`) — carrying it
      * roughly doubles the output volume of a 100 TB run, and `raw_md5` /
      * `raw_size` already pin its identity. */
    raw: Array[Byte]
)

/** The corpus-level extraction pipeline: the reference's
  * `pdf.Parse(file, password, outdir)` lifted to a typed Dataset transform.
  *
  * Plan shape (see `.explain`): the whole extraction is a single map-local
  * `MapPartitionsExec` over the scan — zero shuffles. Column pruning happens
  * in the scan because the `select` runs BEFORE the opaque lambda. Shuffles
  * appear only where explicitly requested (salted url-hash repartition,
  * metrics groupBy, resume anti-join).
  */
object ExtractPipeline {

  /** Payload router: the reference parses everything as PDF; the north rule
    * adds an HTML-boilerplate-strip fallback for non-PDF payloads. A row is
    * PDF if the payload carries the PDF magic or the url says .pdf (the
    * fixture corpus includes header-less PDFs, so magic alone is wrong). */
  def isPdf(url: String, payload: Array[Byte]): Boolean = {
    val magic = payload.length >= 5 && payload(0) == '%' && payload(1) == 'P' &&
      payload(2) == 'D' && payload(3) == 'F' && payload(4) == '-'
    magic || url.toLowerCase.endsWith(".pdf")
  }

  private def splitLines(b: Array[Byte]): Seq[String] =
    if (b.isEmpty) Seq.empty
    else {
      val s = new String(b, ISO_8859_1)
      // sinks are newline-terminated line files; drop the trailing empty cell
      val parts = s.split("\n", -1)
      (if (parts.nonEmpty && parts.last.isEmpty) parts.dropRight(1) else parts).toSeq
    }

  private def md5hex(b: Array[Byte]): String =
    graft.pdf.Crypto.md5(b).map(x => f"$x%02x").mkString

  /** Extract a single row. Pure; a kernel exception that ends only its
    * document becomes a failure row (see [[PdfExtract.parse]]). */
  def extractOne(row: CrawlRow, password: String): ExtractedDoc =
    extractOne(row, password, new HtmlExtract.Scratch)

  /** Default per-document embedded-payload budget (bytes) under
    * `includeEmbedded = true`. */
  val DefaultMaxEmbeddedBytes: Long = 64L * 1024 * 1024

  def extractOne(row: CrawlRow, password: String, scratch: HtmlExtract.Scratch,
                 includeRaw: Boolean = false, objectStreams: Boolean = false,
                 includeEmbedded: Boolean = false,
                 maxEmbeddedBytes: Long = DefaultMaxEmbeddedBytes): ExtractedDoc = {
    val payload = if (row.html == null) Array.emptyByteArray else row.html
    if (isPdf(row.url, payload)) {
      val r = PdfExtract.parse(payload, password, objectStreams)
      // budget in extraction order: an entry that would push the running
      // total past the cap is nulled (md5/name stay), later small ones may
      // still fit — deterministic, index-aligned
      val embeddedData: Seq[Array[Byte]] =
        if (!includeEmbedded) null
        else {
          var budget = maxEmbeddedBytes
          r.embedded.map { e =>
            if (e.data.length <= budget) { budget -= e.data.length; e.data }
            else null
          }
        }
      val errors = splitLines(r.errors)
      ExtractedDoc(
        url = row.url, warc_ts = row.warc_ts, lang = row.lang, kind = "pdf",
        contents = r.contents,
        javascript = r.javascript,
        urls = splitLines(r.urls),
        files = splitLines(r.files),
        commands = splitLines(r.commands),
        errors = errors,
        embedded_md5 = r.embedded.map(_.md5),
        embedded_name = r.embedded.map(_.name),
        embedded_data = embeddedData,
        raw_md5 = md5hex(r.raw),
        raw_size = r.raw.length.toLong,
        ok = r.ok,
        failure = r.failure,
        n_objects = r.nObjects,
        n_streams = r.nStreams,
        n_filters = r.filtersApplied.valuesIterator.sum,
        n_errors = errors.size.toLong,
        raw = if (includeRaw) r.raw else null)
    } else {
      // per-document isolation, same contract as the pdf kernel: an
      // extractor exception costs one failure ROW, never the Spark task
      // (fuzz-clean today — FuzzSpec/HtmlExtractSpec — but at 10^12 docs
      // "never throws" must be enforced, not assumed)
      var contents = Array.emptyByteArray
      var ok = true
      var failure: String = null
      try contents = HtmlExtract.extractBytes(payload, scratch)
      catch {
        // NonFatal only: an OOM/VM error must kill the task (a corrupted
        // JVM retrying on another executor beats committing bad output)
        case scala.util.control.NonFatal(t) =>
          ok = false
          failure = "internal: " + t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)
      }
      ExtractedDoc(
        url = row.url, warc_ts = row.warc_ts, lang = row.lang, kind = "html",
        contents = contents,
        javascript = Array.emptyByteArray,
        urls = Seq.empty, files = Seq.empty, commands = Seq.empty,
        errors = Seq.empty, embedded_md5 = Seq.empty, embedded_name = Seq.empty,
        embedded_data = if (includeEmbedded) Seq.empty else null,
        raw_md5 = md5hex(payload), raw_size = payload.length.toLong,
        ok = ok, failure = failure,
        n_objects = 0L, n_streams = 0L, n_filters = 0L, n_errors = 0L,
        raw = if (includeRaw) payload else null)
    }
  }

  /** The flagship transform: one ExtractedDoc per CrawlRow, shuffle-free.
    * Equivalent of one `pdf.Parse` call per document (pdf/pdf.go:8).
    * `includeRaw = true` materializes the reference's raw.pdf sink as a
    * binary column (off by default — see ExtractedDoc.raw);
    * `objectStreams = true` opts into /ObjStm (type-2) expansion (off by
    * default: the reference resolves compressed objects to null and the
    * byte-identity gate holds to that). */
  def extractDocs(ds: Dataset[CrawlRow], password: String = "",
                  includeRaw: Boolean = false,
                  objectStreams: Boolean = false,
                  includeEmbedded: Boolean = false,
                  maxEmbeddedBytes: Long = DefaultMaxEmbeddedBytes): Dataset[ExtractedDoc] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => extractPartition(it.map(row => (row, null)), password,
      includeRaw, objectStreams, includeEmbedded, maxEmbeddedBytes))
  }

  /** Per-document password variant: the reference takes `-p` per invocation
    * (main.go:30-36); at corpus scale the password rides with the row. A
    * null password falls back to the corpus-wide default. Carries the same
    * option surface as `extractDocs` — encrypted corpora are the most
    * likely to be post-1.5 PDFs wanting /ObjStm expansion. */
  def extractDocsWithPasswords(ds: Dataset[(CrawlRow, String)],
                               defaultPassword: String = "",
                               includeRaw: Boolean = false,
                               objectStreams: Boolean = false,
                               includeEmbedded: Boolean = false,
                               maxEmbeddedBytes: Long = DefaultMaxEmbeddedBytes): Dataset[ExtractedDoc] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(extractPartition(_, defaultPassword,
      includeRaw, objectStreams, includeEmbedded, maxEmbeddedBytes))
  }

  /** The one per-partition body behind both transforms: one HTML scratch
    * per task, a null row password falls back to `defaultPassword`. */
  private def extractPartition(rows: Iterator[(CrawlRow, String)], defaultPassword: String,
                               includeRaw: Boolean, objectStreams: Boolean,
                               includeEmbedded: Boolean,
                               maxEmbeddedBytes: Long): Iterator[ExtractedDoc] = {
    val scratch = new HtmlExtract.Scratch
    rows.map { case (row, pw) =>
      extractOne(row, if (pw == null) defaultPassword else pw, scratch, includeRaw,
        objectStreams, includeEmbedded, maxEmbeddedBytes)
    }
  }

  /** Salted url-hash repartition (north rule): spreads url-clustered inputs
    * evenly before the map-local extraction. The partitioning key is the
    * full 64-bit `xxhash64(url, salt)`, which `HashPartitioning` hashes
    * again into `numPartitions` bins; reducing it modulo `numPartitions`
    * first would leave only `numPartitions` distinct keys, and their second
    * hash collides into a few bins. `salt` rotates the hash per round so
    * retries land on different executors. Any frame with a `url` column. */
  def saltedRepartitionByUrl[T](ds: Dataset[T], numPartitions: Int, salt: Int = 0): Dataset[T] =
    ds.repartition(numPartitions, xxhash64(col("url"), lit(salt)))

  /** Per-partition extraction metrics + lineage rows, appended to the
    * metrics table each batch (objects decoded, streams, filters, failures,
    * url range) — the corpus analogue of the reference's error channel. */
  def partitionMetrics(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.groupBy(spark_partition_id().as("partition_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_failed"),
        sum(col("n_objects")).as("n_objects"),
        sum(col("n_streams")).as("n_streams"),
        sum(col("n_filters")).as("n_filters"),
        sum(col("n_errors")).as("n_errors"),
        min(col("url")).as("url_min"),
        max(col("url")).as("url_max"))

  /** Corpus-level abnormality profile: exploded error-channel lines with
    * counts (the 14 exact reference message strings become group keys). */
  def errorProfile(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.select(explode(col("errors")).as("error"))
      .groupBy(col("error")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("error"))
}
