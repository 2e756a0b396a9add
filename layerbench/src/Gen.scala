package layerbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One crawl row as the generator writes it. */
final case class Page(url: String, warcTs: Timestamp, html: Array[Byte], lang: String)

/** Everything one workload needs, generated from (workload, seed).
  * @param input      the table the timed `Extract` run reads
  * @param firstBatch rows committed before every run (recrawl_curate only)
  * @param shown      per synthesized PDF url, the byte strings its content
  *                   streams show with Tj/TJ/'/", in page order (not for
  *                   documents whose stream data holds `obj`, see
  *                   [[SynthPdf.headerClean]])
  * @param eval       decontamination eval texts (recrawl_curate only)
  * @param filters    encoded streams for the `pdf.filters` layer
  * @param newUrls    urls the run must commit (its distinct pending urls)
  */
final case class Workload(
    name: String,
    input: Array[Page],
    firstBatch: Array[Page],
    shown: Map[String, Array[Array[Byte]]],
    pdfKinds: Map[String, String],
    eval: Array[String],
    filters: Seq[EncodedStream],
    newUrls: Set[String]) {
  def extractFlags(evalDir: String): Seq[String] =
    if (name == "recrawl_curate") Seq("--curate", "--strip-boilerplate", "--decontaminate", evalDir)
    else Seq.empty
}

/** The seeded workload generator.
  *
  * {{{
  * python3 layerbench/run.py generate --workload <name> --seed <n> --out <new dir>
  * }}}
  * writes `input/` (and `first_batch/`, `eval/` for recrawl_curate) as
  * parquet `(url, warc_ts, html, text, lang)` tables plus `filters.bin`.
  */
object Gen {
  val Workloads: Seq[String] = Seq("html_crawl", "pdf_crawl", "recrawl_curate")

  private val Langs = Array("en", "en", "en", "de", "es", "fr", "ja", "pt")
  private val BaseTs = 1704067200000L // 2024-01-01T00:00:00Z

  val Schema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** Size knobs: rows per table, page medians, and the most untimed
    * settling `Extract` runs after the warm-up run (none on recrawl_curate:
    * its runs are long, and its output root holds a first batch the small
    * settling table does not match). */
  final case class Shape(htmlRows: Int, htmlMedian: Int, tailShare: Double,
                         synthPdfs: Int, fixturePdfs: Int, bigPdfs: Int, maxSettle: Int = 16)

  def shape(workload: String): Shape = workload match {
    case "html_crawl"     => Shape(htmlRows = 1140, htmlMedian = 22000, tailShare = 0.03,
                               synthPdfs = 0, fixturePdfs = 60, bigPdfs = 0)
    case "pdf_crawl"      => Shape(htmlRows = 16, htmlMedian = 22000, tailShare = 0.0,
                               synthPdfs = 272, fixturePdfs = 32, bigPdfs = 2)
    case "recrawl_curate" => Shape(htmlRows = 0, htmlMedian = 5000, tailShare = 0.0,
                               synthPdfs = 0, fixturePdfs = 8, bigPdfs = 0, maxSettle = 0)
    case other => sys.error(s"unknown workload $other (known: ${Workloads.mkString(", ")})")
  }

  private def ts(rng: SplittableRandom): Timestamp =
    new Timestamp(BaseTs + rng.nextInt(30 * 86400) * 1000L)

  private def htmlPages(rng: SplittableRandom, seed: Long, n: Int, median: Int,
                        tail: Double, tag: String): Array[Page] = {
    val sites = HtmlSynth.sites(seed, 24)
    HtmlSynth.pageSizes(rng, n, median, tail).zipWithIndex.map { case (size, i) =>
      val site = sites(rng.nextInt(sites.length))
      val art = HtmlSynth.article(rng, size)
      Page(s"https://${site.host}/$tag/$i-${Vocab.word(rng)}.html", ts(rng),
        HtmlSynth.page(rng, site, art), Langs(rng.nextInt(Langs.length)))
    }
  }

  private def fixturePages(rng: SplittableRandom, n: Int, tag: String): Array[Page] = {
    val fx = graft.pdf.Fixtures.all
    Array.tabulate(n) { i =>
      val (name, bytes) = fx(i % fx.length)
      Page(s"https://files.example/$tag/$i/$name", ts(rng), bytes, "en")
    }
  }

  def generate(workload: String, seed: Long): Workload = {
    val sh = shape(workload)
    val rng = new SplittableRandom(seed * 31L + workload.hashCode)
    val filters = PdfSynth.filterStreams(rng.split(), 120)
    if (workload == "recrawl_curate") return recrawl(rng, seed, sh, filters)

    val shown = scala.collection.mutable.HashMap.empty[String, Array[Array[Byte]]]
    val kinds = scala.collection.mutable.HashMap.empty[String, String]
    val pdfs = ArrayBuffer.empty[Page]
    // Page counts are quantiles of an exponential (mean 4, capped at 25),
    // and each document shape has a fixed share (5 % RC4, 5 % AESV2; 10 %
    // with an xref stream, 10 % with an xref stream and an /ObjStm), so
    // every seed gets the same mix; the seed decides which document gets
    // what. The shares are assumptions chosen so that every shape is
    // exercised, not measured traffic (see README).
    val n = sh.synthPdfs - sh.bigPdfs
    val pageCounts = Shuffle(rng, Array.tabulate(n)(i => 1 + math.min(24, (-math.log(1 - (i + 0.5) / n) * 4).toInt)))
    val crypts = Shuffle(rng, Array.tabulate(n)(i => if (i < n / 20) 1 else if (i < n / 10) 2 else 0))
    val xrefShapes = Shuffle(rng, Array.tabulate(n)(i => if (i < n / 10) 2 else if (i < n / 5) 1 else 0))
    var i = 0
    while (i < sh.synthPdfs) {
      val big = i < sh.bigPdfs
      val k = i - sh.bigPdfs
      val crypt = if (big) 0 else crypts(k)
      val xrefShape = if (big) 2 else xrefShapes(k) // 0 table, 1 stream, 2 stream + /ObjStm
      val pages = if (big) 60 else pageCounts(k)
      val doc = PdfSynth.document(rng, pages, images = if (big) 3 else 0, crypt,
        xrefStream = xrefShape > 0, objStm = xrefShape == 2)
      // urls do not depend on the seed, so where each document lands in the
      // salted partitioning (and the skew the multi-MB tail causes) is the
      // same for every seed
      val url = if (big) s"https://docs.example/archive/scan-$i.pdf" else s"https://docs.example/d/$i.pdf"
      if (doc.headerClean) shown(url) = doc.shown
      kinds(url) = doc.kind
      pdfs += Page(url, ts(rng), doc.bytes, Langs(rng.nextInt(Langs.length)))
      i += 1
    }
    val html = htmlPages(rng, seed, sh.htmlRows, sh.htmlMedian, sh.tailShare, "p")
    val fixtures = fixturePages(rng, sh.fixturePdfs, "fx")
    val input = Shuffle(rng, pdfs.toArray ++ html ++ fixtures)
    Workload(workload, input, Array.empty, shown.toMap, kinds.toMap, Array.empty,
      filters, input.map(_.url).toSet)
  }

  /** One committed first batch; the run repeats half of it (resume must
    * drop those) and adds new pages with planted exact and near
    * duplicates, some of which overlap the eval table. */
  private def recrawl(rng: SplittableRandom, seed: Long, sh: Shape,
                      filters: Seq[EncodedStream]): Workload = {
    val nFirst = 260
    val nNew = 260
    val first = htmlPages(rng, seed, nFirst, sh.htmlMedian, 0.0, "a")
    val firstBatch = Shuffle(rng, first ++ fixturePages(rng, sh.fixturePdfs, "fa"))
    val freshPdfs = fixturePages(rng, sh.fixturePdfs, "fb")
    val sites = HtmlSynth.sites(seed, 24)
    val articles = ArrayBuffer.empty[String]
    val sizes = HtmlSynth.pageSizes(rng, nNew, sh.htmlMedian, 0.0)
    val fresh = Array.tabulate(nNew) { i =>
      val site = sites(rng.nextInt(sites.length))
      val art = rng.nextInt(10) match {
        case 0 if articles.nonEmpty => articles(rng.nextInt(articles.length)) // exact duplicate
        case 1 if articles.nonEmpty => nearDuplicate(rng, articles(rng.nextInt(articles.length)))
        case _ =>
          val a = HtmlSynth.article(rng, sizes(i))
          articles += a
          a
      }
      Page(s"https://${site.host}/b/$i-${Vocab.word(rng)}.html", ts(rng),
        HtmlSynth.page(rng, site, art), Langs(rng.nextInt(Langs.length)))
    }
    val repeats = Shuffle(rng, firstBatch).take(firstBatch.length / 2)
    val input = Shuffle(rng, repeats ++ fresh ++ freshPdfs)
    // eval texts: 40-word windows of some new articles, plus unrelated text
    val eval = ArrayBuffer.empty[String]
    fresh.indices.filter(_ => rng.nextInt(25) == 0).foreach { i =>
      val words = plainText(new String(fresh(i).html, UTF_8)).split("\\s+").filter(_.nonEmpty)
      if (words.length > 200) {
        val at = 100 + rng.nextInt(words.length - 200)
        eval += words.slice(at, at + 40).mkString(" ")
      }
    }
    (0 until 200).foreach(_ => eval += (0 until 4).map(_ => Vocab.sentence(rng)).mkString(" "))
    Workload("recrawl_curate", input, firstBatch, Map.empty, Map.empty, eval.toArray, filters,
      (fresh ++ freshPdfs).map(_.url).toSet)
  }

  /** Replaces about one word in a hundred. */
  private def nearDuplicate(rng: SplittableRandom, article: String): String = {
    val parts = article.split(" ", -1)
    var i = 0
    while (i < parts.length) {
      if (rng.nextInt(100) == 0 && parts(i).nonEmpty && parts(i).forall(_.isLetter))
        parts(i) = Vocab.word(rng)
      i += 1
    }
    parts.mkString(" ")
  }

  private def plainText(html: String): String = {
    val article = html.indexOf("<article>") match {
      case -1 => html
      case k  => html.substring(k, math.max(k, html.indexOf("</article>")))
    }
    article.replaceAll("<[^>]*>", " ").replace("&amp;", "&").replace("&quot;", "\"")
  }

  // ---- writing ----

  def writeTable(spark: SparkSession, pages: Array[Page], dir: Path, files: Int): Unit = {
    val rows = pages.toSeq.map(p => Row(p.url, p.warcTs, p.html, "", p.lang))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), Schema)
      .write.parquet(dir.toString)
  }

  /** Writes the workload's tables under `dir` (which must not exist). */
  def write(spark: SparkSession, w: Workload, dir: Path, files: Int): Unit = {
    writeTable(spark, w.input, dir.resolve("input"), files)
    if (w.firstBatch.nonEmpty) writeTable(spark, w.firstBatch, dir.resolve("first_batch"), files)
    if (w.eval.nonEmpty) {
      val rows = w.eval.toSeq.map(Row(_))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("text", StringType)))).write.parquet(dir.resolve("eval").toString)
    }
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(dir.resolve("filters.bin").toFile)))
    try w.filters.foreach { s =>
      out.writeUTF(s.filter); out.writeInt(s.decodedLength); out.writeInt(s.data.length); out.write(s.data)
    } finally out.close()
  }

  /** Standalone entry: generate one workload's tables into a directory. */
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts.getOrElse("--workload", sys.error("--workload required"))
    val seed = opts.getOrElse("--seed", "1").toLong
    val out = Paths.get(opts.getOrElse("--out", sys.error("--out required")))
    require(!Files.exists(out), s"$out exists")
    val spark = LayerBench.session(LayerBench.cpus)
    try {
      val w = generate(workload, seed)
      write(spark, w, out, LayerBench.cpus)
      println(s"""{"workload":"$workload","seed":$seed,"rows":${w.input.length},"out":"$out"}""")
    } finally spark.stop()
  }
}
