package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.html.HtmlExtract
import graft.operators.{Curate, ExtractPipeline}
import graft.pdf.{Filters, PDict, PdfExtract}
import graft.sources.{CrawlRow, ParquetManifestTable, Resume}
import LayerBench.{Harness, Prepared}

/** The traced run: per-layer metrics, each measured from outside by
  * calling the layer's public functions on the workload's inputs, plus
  * Spark job spans inside `Extract.main`. Every metric is derived from the
  * recorded spans. */
object Layers {

  type Metric = (String, Double, String)

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocatedHere(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Runs `f` over `items` in passes until `minSeconds` have passed (at
    * least one pass); returns per-item spans of the last pass. */
  private def perItem[T](h: Harness, name: String, items: Seq[T], bytes: T => Long, minSeconds: Double)
                        (f: T => Map[String, Double]): Seq[Span] = {
    val start = System.nanoTime()
    var last: Seq[Span] = Nil
    var pass = 0
    while (pass == 0 || (System.nanoTime() - start) / 1e9 < minSeconds) {
      h.tracer.run = s"$name.pass$pass"
      last = h.tracer.span(s"$name.pass") {
        items.map { it =>
          h.tracer.spanWith[Map[String, Double]](name, m => m) {
            val a0 = allocatedHere()
            val m = f(it)
            m ++ Map("bytes" -> bytes(it).toDouble, "alloc_bytes" -> (allocatedHere() - a0).toDouble)
          }._2
        }
      }
      pass += 1
    }
    last
  }

  private def docMetrics(prefix: String, spans: Seq[Span]): Seq[Metric] = {
    val secs = spans.map(_.seconds)
    val total = secs.sum
    val bytes = spans.map(_.attrs("bytes")).sum
    val us = secs.map(_ * 1e6)
    Seq(
      (s"$prefix.docs_per_s", spans.size / total, "docs/s"),
      (s"$prefix.mb_per_s", bytes / 1e6 / total, "MB/s"),
      (s"$prefix.doc_us_p50", Stats.quantile(us, 0.5), "us"),
      (s"$prefix.doc_us_p99", Stats.quantile(us, 0.99), "us"),
      (s"$prefix.alloc_kb_per_doc", spans.map(_.attrs("alloc_bytes")).sum / 1e3 / spans.size, "KB"))
  }

  def pdf(h: Harness, p: Prepared, budget: Double): Seq[Metric] = {
    val rows = p.w.input.filter(r => ExtractPipeline.isPdf(r.url, r.html)).toSeq
    val spans = perItem(h, "pdf.parse", rows, (r: Page) => r.html.length.toLong, budget) { r =>
      val d = PdfExtract.parse(r.html)
      Map("ok" -> (if (d.ok) 1.0 else 0.0), "objects" -> d.nObjects.toDouble,
        "streams" -> d.nStreams.toDouble, "filters" -> d.filtersApplied.valuesIterator.sum.toDouble)
    }
    val n = spans.size.toDouble
    val bytes = spans.map(_.attrs("bytes")).sum
    docMetrics("pdf", spans) ++ Seq(
      ("pdf.doc_us_max", spans.map(_.seconds * 1e6).max, "us"),
      ("pdf.alloc_bytes_per_input_byte", spans.map(_.attrs("alloc_bytes")).sum / bytes, "B/B"),
      ("pdf.fail_ratio", spans.count(_.attrs("ok") == 0.0) / n, "fraction"),
      ("pdf.objects_per_doc", spans.map(_.attrs("objects")).sum / n, "count"),
      ("pdf.streams_per_doc", spans.map(_.attrs("streams")).sum / n, "count"),
      ("pdf.filters_per_doc", spans.map(_.attrs("filters")).sum / n, "count"))
  }

  def filters(h: Harness, p: Prepared, budget: Double): Seq[Metric] = {
    val streams = p.w.filters
    val none = PDict.empty
    def decoder(f: String): Array[Byte] => Array[Byte] = f match {
      case "flate"     => Filters.flateDecode(_, none)
      case "lzw"       => Filters.lzwDecode(_, none)
      case "ascii85"   => Filters.ascii85Decode
      case "asciihex"  => Filters.asciiHexDecode
      case "runlength" => Filters.runLengthDecode
      case "inflater"  => inflate
    }
    val kinds = Seq("flate", "lzw", "ascii85", "asciihex", "runlength", "inflater")
    val per = budget / kinds.size
    val out = ArrayBuffer.empty[Metric]
    kinds.foreach { k =>
      val input = streams.filter(_.filter == (if (k == "inflater") "flate" else k))
      val dec = decoder(k)
      val spans = perItem(h, s"pdf.filters.$k", input, (s: EncodedStream) => s.decodedLength.toLong, per) { s =>
        val got = dec(s.data)
        Map("out_bytes" -> got.length.toDouble, "bad" -> (if (got.length != s.decodedLength) 1.0 else 0.0))
      }
      val bad = spans.count(_.attrs("bad") != 0.0)
      if (bad > 0) {
        h.failed += bad
        h.failures += s"pdf.filters.$k: $bad streams decoded to an unexpected length"
      }
      h.attempted += spans.size
      val outBytes = spans.map(_.attrs("out_bytes")).sum
      out += ((s"pdf.filters.${k}_mb_per_s", outBytes / 1e6 / spans.map(_.seconds).sum, "MB/s"))
      if (k == "flate")
        out += (("pdf.filters.flate_alloc_bytes_per_out_byte", spans.map(_.attrs("alloc_bytes")).sum / outBytes, "B/B"))
    }
    out.toSeq
  }

  /** The ceiling for `flateDecode`: a plain Inflater into a growing array. */
  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    var out = new Array[Byte](math.max(64, data.length * 4))
    var n = 0
    var going = true
    while (going && !inf.finished()) {
      if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      val k = inf.inflate(out, n, out.length - n)
      n += k
      if (k == 0 && (inf.needsInput() || inf.needsDictionary())) going = false
    }
    inf.end()
    java.util.Arrays.copyOf(out, n)
  }

  def html(h: Harness, p: Prepared, budget: Double): Seq[Metric] = {
    val rows = p.w.input.filterNot(r => ExtractPipeline.isPdf(r.url, r.html)).toSeq
    val scratch = new HtmlExtract.Scratch
    val spans = perItem(h, "html.extract", rows, (r: Page) => r.html.length.toLong, budget) { r =>
      Map("out_bytes" -> HtmlExtract.extractBytes(r.html, scratch).length.toDouble)
    }
    docMetrics("html", spans)
  }

  /** Task-metric totals of the jobs recorded since the last `clear`. */
  private final case class JobStats(jobs: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                                    shuffleBytes: Long, skew: Double)
  private def jobStats(h: Harness): JobStats = {
    h.drain()
    val jobs = h.trace.jobs.asScala.toSeq
    val stages = h.trace.stagesOf(jobs)
    val skew = stages.filter(_.taskMs.size >= 2).sortBy(-_.runMs).headOption
      .map(s => s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble)))).getOrElse(1.0)
    JobStats(jobs.size, stages.map(_.runMs).sum, stages.map(_.cpuNs).sum, stages.map(_.gcMs).sum,
      stages.map(_.shuffleWrite).sum, skew)
  }

  /** Runs `body` with Spark tracing on; returns its span and job totals,
    * and records a span per Spark job, named by its call site. */
  private def traced[T](h: Harness, name: String)(body: => T): (T, Span, JobStats) = {
    h.drain()
    h.trace.clear()
    h.trace.enabled = true
    val (r, s) = h.tracer.spanWith[T](name, _ => Map.empty)(body)
    val js = jobStats(h)
    h.trace.enabled = false
    h.trace.jobs.asScala.foreach { j =>
      h.tracer.external(s"spark.job: ${j.callSite}", j.startMs * 1000, j.endMs * 1000, Map("job_id" -> j.id.toDouble))
    }
    (r, s, js)
  }

  def extract(h: Harness, p: Prepared, budget: Double): Seq[Metric] = {
    val spark = h.spark
    import spark.implicits._
    val rows = p.w.input.toSeq
    val ds = spark.createDataset(rows.map(Checks.row)).repartition(h.n).persist(StorageLevel.MEMORY_ONLY)
    ds.count()
    val n = rows.size
    val reps = ArrayBuffer.empty[(Double, Double, JobStats)]
    val start = System.nanoTime()
    var i = 0
    while (i < 2 || ((System.nanoTime() - start) / 1e9 < budget && i < 8)) {
      h.tracer.run = s"extract.rep$i"
      val (_, full, js) = traced(h, "extract.extractDocs") {
        ExtractPipeline.extractDocs(ds).write.format("noop").mode("overwrite").save()
      }
      val (_, kernel, _) = traced(h, "extract.kernel_to_long") {
        ds.mapPartitions { it =>
          val scratch = new HtmlExtract.Scratch
          it.map(r => ExtractPipeline.extractOne(r, "", scratch).contents.length.toLong)
        }.write.format("noop").mode("overwrite").save()
      }
      reps += ((full.seconds, kernel.seconds, js))
      i += 1
    }
    ds.unpersist(blocking = true)
    val warm = reps.drop(1)
    val fullS = Stats.median(warm.map(_._1).toSeq)
    val kernelS = Stats.median(warm.map(_._2).toSeq)
    val js = warm.minBy(_._1)._3
    val docsPerS = n / fullS
    // the same extractOne calls on one thread
    val single = h.tracer.span("extract.single_thread") {
      val scratch = new HtmlExtract.Scratch
      val t0 = System.nanoTime()
      rows.foreach(r => ExtractPipeline.extractOne(Checks.row(r), "", scratch))
      (System.nanoTime() - t0) / 1e9
    }
    val singleRate = n / single
    Seq(
      ("extract.docs_per_s", docsPerS, "docs/s"),
      ("extract.cpu_s_per_1k_docs", js.cpuNs / 1e9 / n * 1000, "s"),
      ("extract.gc_share", js.gcMs.toDouble / math.max(1L, js.runMs), "fraction"),
      ("extract.parallel_eff", docsPerS / (h.n * singleRate), "fraction"),
      ("extract.row_encode_share", 1.0 - docsPerS / (n / kernelS), "fraction"),
      ("extract.task_skew", js.skew, "ratio"))
  }

  def sources(h: Harness, p: Prepared): Seq[Metric] = {
    val spark = h.spark
    import spark.implicits._
    h.tracer.run = "sources"
    val inBytes = LayerBench.dataBytes(p.input)
    val (_, scan, _) = traced(h, "sources.scan") {
      spark.read.parquet(p.input.toString).agg(sum(length(col("html")))).head()
    }
    // resume against the table the run starts from: the committed first
    // batch on recrawl_curate, a fully committed table (a re-run) otherwise
    LayerBench.reset(spark, p)
    if (p.template == null) LayerBench.runExtract(p)._3.foreach(e => throw e)
    val docsTable = new ParquetManifestTable(p.outRoot.resolve("documents").toString)
    val input = spark.read.parquet(p.input.toString)
      .select("url", "warc_ts", "html", "text", "lang").as[CrawlRow]
    val (_, resume, _) = traced(h, "sources.resume")(Resume.pending(input, docsTable).count())
    // commit of already-extracted, cached rows into a fresh table
    val docs = ExtractPipeline.extractDocs(input.repartition(h.n)).toDF().persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    val tableDir = p.outRoot.getParent.resolve("commit-probe")
    LayerBench.deleteTree(tableDir)
    val table = new ParquetManifestTable(tableDir.toString)
    val (_, commit, _) = traced(h, "sources.commit")(table.commit(docs, "probe"))
    docs.unpersist(blocking = true)
    val outBytes = LayerBench.dataBytes(tableDir.resolve("data"))
    val files = Files.list(tableDir.resolve("data/probe")).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    val (_, read, _) = traced(h, "sources.read") {
      table.read(spark).agg(count(lit(1)), sum(length(col("contents"))), countDistinct(col("url"))).head()
    }
    LayerBench.deleteTree(tableDir)
    Seq(
      ("sources.scan_s", scan.seconds, "s"),
      ("sources.resume_s", resume.seconds, "s"),
      ("sources.commit_s", commit.seconds, "s"),
      ("sources.commit_mb_per_s", outBytes / 1e6 / commit.seconds, "MB/s"),
      ("sources.read_s", read.seconds, "s"),
      ("sources.out_bytes_per_in_byte", outBytes.toDouble / inBytes, "B/B"),
      ("sources.files_per_commit", files.toDouble, "count"))
  }

  /** `Curate.curate` over the committed documents, as `Extract --curate`
    * calls it, into a noop sink: with the workload's flags on
    * recrawl_curate; with default flags over a fixed hash-sample of
    * `CurateSampleDocs` documents on the crawls that do not curate. */
  val CurateSampleDocs = 300

  def curate(h: Harness, p: Prepared): Seq[Metric] = {
    val spark = h.spark
    h.tracer.run = "curate"
    LayerBench.reset(spark, p)
    LayerBench.runExtract(p)._3.foreach(e => throw e)
    val all = Resume.currentPerUrl(new ParquetManifestTable(p.outRoot.resolve("documents").toString).read(spark))
    val curating = p.w.name == "recrawl_curate"
    val committed =
      if (curating) all
      // limit leaves one partition; spread the sample over the N task
      // threads, as the committed table is, before curating it
      else all.orderBy(xxhash64(col("url"))).limit(CurateSampleDocs).repartition(h.n).localCheckpoint()
    val rowsIn = committed.count()
    val benchmark =
      if (!curating) null
      else spark.read.parquet(p.evalDir.toString).select(xxhash64(col("text")).as("doc_id"), col("text"))
    val obs = Observation("curate")
    val (_, s, js) = traced(h, "curate.curate") {
      Curate.curate(
        committed.select(xxhash64(col("url")).as("doc_id"), decode(col("contents"), "UTF-8").as("text")),
        stripBoilerplate = curating, decontaminateAgainst = benchmark)
        .observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
    }
    val rowsOut = obs.get("rows").asInstanceOf[Long]
    Seq(
      ("curate.s", s.seconds, "s"),
      ("curate.rows_in", rowsIn.toDouble, "count"),
      ("curate.rows_out", rowsOut.toDouble, "count"),
      ("curate.keep_ratio", rowsOut.toDouble / rowsIn, "fraction"),
      ("curate.spark_jobs", js.jobs.toDouble, "count"),
      ("curate.shuffle_mb", js.shuffleBytes / 1e6, "MB"),
      ("curate.gc_share", js.gcMs.toDouble / math.max(1L, js.runMs), "fraction"))
  }

  /** Spark job spans inside `Extract.main`, by phase. A commit's jobs are
    * those of the SQL executions that write its table's staging directory.
    * Jobs before the documents commit are pending stats (resume and the
    * stats scan), jobs after the last commit are final stats, and jobs after
    * the metrics commit up to the last commit are curation. */
  final case class JobPhases(seconds: Map[String, Double], jobs: Int, shuffleMb: Double,
                             gcShare: Double, skew: Double, inputReadAmp: Double)

  def jobPhases(h: Harness, p: Prepared, inputBytes: Long): JobPhases = {
    val out = p.outRoot.toString
    val execs = h.trace.execs.asScala
    val jobs = h.trace.jobs.asScala.toSeq.sortBy(_.startMs)
    def plan(j: h.trace.Job): String = execs.get(j.execId).map(_.plan).getOrElse("")
    def writes(j: h.trace.Job, tables: String*): Boolean = tables.exists(t => plan(j).contains(s"$out/$t/_staging"))
    val docsCommit = jobs.filter(writes(_, "documents"))
    val metricsCommit = jobs.filter(writes(_, "metrics"))
    val firstCommit = docsCommit.map(_.startMs).minOption.getOrElse(Long.MaxValue)
    val lastCommitEnd = jobs.filter(writes(_, "documents", "metrics", "curated", "metrics_cc"))
      .map(_.endMs).maxOption.getOrElse(Long.MinValue)
    val metricsEnd = metricsCommit.map(_.endMs).maxOption.getOrElse(Long.MaxValue)
    val phase = jobs.map { j =>
      val name =
        if (docsCommit.contains(j)) "documents_commit"
        else if (metricsCommit.contains(j)) "metrics_commit"
        else if (writes(j, "curated", "metrics_cc")) "curate"
        else if (j.startMs < firstCommit) "pending_stats"
        else if (j.startMs >= lastCommitEnd) "final_stats"
        else if (j.startMs >= metricsEnd) "curate"
        else "metrics_commit" // reading the committed batch back for the metrics
      j -> name
    }
    phase.foreach { case (j, name) =>
      h.tracer.external(s"spark.job.$name: ${j.callSite}", j.startMs * 1000, j.endMs * 1000,
        Map("job_id" -> j.id.toDouble))
    }
    val seconds = phase.groupBy(_._2).map { case (name, js) =>
      name -> Stats.unionLength(js.map { case (j, _) => (j.startMs, j.endMs) }) / 1e3
    }
    val stages = h.trace.stagesOf(jobs)
    phase.foreach { case (j, name) =>
      h.trace.stagesOf(Seq(j)).foreach(s => h.tracer.external(s"spark.stage.$name: ${j.callSite}",
        s.startMs * 1000, s.endMs * 1000,
        Map("stage_id" -> s.id.toDouble, "run_ms" -> s.runMs.toDouble, "gc_ms" -> s.gcMs.toDouble,
          "cpu_ms" -> s.cpuNs / 1e6, "shuffle_write" -> s.shuffleWrite.toDouble, "tasks" -> s.taskMs.size.toDouble)))
    }
    val inputRead = h.trace.scans.asScala.toSeq
      .filter(_.paths.split(",").exists(_.stripSuffix("/").endsWith(p.input.toString))).map(_.filesBytes).sum
    val extraction = h.trace.stagesOf(docsCommit).filter(_.taskMs.size >= 2).sortBy(-_.runMs).headOption
    val skew = extraction.map(s => s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble))))
      .getOrElse(1.0)
    JobPhases(seconds, jobs.size, stages.map(_.shuffleWrite).sum / 1e6,
      stages.map(_.gcMs).sum.toDouble / math.max(1L, stages.map(_.runMs).sum), skew,
      inputRead.toDouble / inputBytes)
  }

  /** Interleaved untraced and traced `Extract` runs. */
  def job(h: Harness, p: Prepared, budget: Double): Seq[Metric] = {
    val inputBytes = LayerBench.dataBytes(p.input)
    val untraced = ArrayBuffer.empty[Double]
    val tracedRuns = ArrayBuffer.empty[(Double, JobPhases)]
    val start = System.nanoTime()
    var i = 0
    while (i < 1 || ((System.nanoTime() - start) / 1e9 < budget && i < 6)) {
      h.tracer.run = s"job.rep$i"
      untraced += h.tracer.span("job.extract_untraced")(h.sample(p, traced = false)).wallS
      h.trace.clear()
      val s = h.tracer.span("job.extract_traced")(h.sample(p, traced = true))
      tracedRuns += ((s.wallS, jobPhases(h, p, inputBytes)))
      i += 1
    }
    val med = tracedRuns.sortBy(_._1).apply(tracedRuns.size / 2)._2
    def ph(name: String): Double = Stats.median(tracedRuns.map(_._2.seconds.getOrElse(name, 0.0)).toSeq)
    val base = Seq(
      ("job.pending_stats_s", ph("pending_stats"), "s"),
      ("job.documents_commit_s", ph("documents_commit"), "s"),
      ("job.metrics_commit_s", ph("metrics_commit"), "s"),
      ("job.final_stats_s", ph("final_stats"), "s"),
      ("job.spark_jobs", med.jobs.toDouble, "count"),
      ("job.shuffle_mb", med.shuffleMb, "MB"),
      ("job.gc_share", med.gcShare, "fraction"),
      ("job.task_skew", med.skew, "ratio"),
      ("job.input_read_amplification", med.inputReadAmp, "ratio"),
      ("job.tracing_overhead", Stats.median(tracedRuns.map(_._1).toSeq) / Stats.median(untraced.toSeq) - 1, "fraction"))
    // only recrawl_curate runs Extract with --curate; the figure is printed
    // but kept out of the metric set every workload shares
    if (p.w.name == "recrawl_curate") System.err.println(f"[layerbench] job.curate_s=${ph("curate")}%.4f")
    else System.err.println("[layerbench] job.curate_s absent: this workload runs Extract without --curate")
    base
  }

  /** All layers, in a fixed order; `--seconds` sets the time the repeated
    * measurements take. */
  def run(h: Harness, p: Prepared): Seq[Metric] = {
    val seconds = h.args.seconds.toDouble
    val out = ArrayBuffer.empty[Metric]
    out ++= job(h, p, seconds * 0.3)
    out ++= pdf(h, p, seconds * 0.15)
    out ++= filters(h, p, seconds * 0.15)
    out ++= html(h, p, seconds * 0.1)
    out ++= extract(h, p, seconds * 0.2)
    out ++= sources(h, p)
    out ++= curate(h, p)
    out += (("host.sentinel_s", Stats.median(h.sentinels), "s"))
    out.toSeq
  }
}
