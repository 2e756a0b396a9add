package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.CrawlCorpus

/** Drives the production `graft.Extract` main end-to-end: fresh run commits
  * one batch + metrics + sinks, a re-run over the same input is a no-op
  * (exact resume), and a grown input commits only the delta. */
class ExtractMainSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("extract job: --table-format orc commits and resumes like parquet") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_job_orc_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_job_orc_out").toString
    CrawlCorpus.crawl(spark, 12, 7L).toDF().write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--table-format", "orc", "--partitions", "2"))
    val docs = new graft.sources.ParquetManifestTable(s"$outDir/documents", "orc")
    assert(docs.committedBatches.size == 1)
    assert(docs.read(spark).count() == 12)
    // exact resume holds across the format too
    Extract.main(Array(inDir, outDir, "--table-format", "orc", "--partitions", "2"))
    assert(docs.committedBatches.size == 1)
  }

  test("extract job: commit, exact resume no-op, incremental delta, sinks") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_job_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_job_out").toString

    // delivery 1: 40 urls
    CrawlCorpus.crawl(spark, 40, 42L).toDF().write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--sinks", "--partitions", "4"))

    assert(new graft.sources.ParquetManifestTable(s"$outDir/documents").committedBatches.size == 1)
    val committed1 = new graft.sources.ParquetManifestTable(s"$outDir/documents").read(spark)
    assert(committed1.count() == 40)
    assert(committed1.select("url").distinct().count() == 40)
    // metrics carry the batch id + lineage rows
    val metrics = new graft.sources.ParquetManifestTable(s"$outDir/metrics").read(spark)
    assert(metrics.count() > 0)
    assert(metrics.columns.contains("batch_id") && metrics.columns.contains("url_min"))
    // sink tables committed
    val errors = new graft.sources.ParquetManifestTable(s"$outDir/sink_errors").read(spark)
    assert(errors.count() > 0) // the malformed fixtures produce error lines

    // re-run over the SAME input: exact resume -> no new batch
    Extract.main(Array(inDir, outDir, "--sinks", "--partitions", "4"))
    assert(new graft.sources.ParquetManifestTable(s"$outDir/documents").committedBatches.size == 1)

    // delivery 2: input grows to 60 urls plus 6 English article pages (2 of
    // them exact duplicates) -> exactly the delta commits; --curate lands a
    // replace-style curated snapshot over ALL committed documents
    def article(i: Int, topic: String, variant: Int): graft.sources.CrawlRow = {
      // long varied English body: near-dup variants differ in ONE word out
      // of 200 (jaccard ~0.97 >= 0.9), same-variant copies are exact dups
      val words = (1 to 40).flatMap(k =>
        Seq("the", s"$topic$k", "and", "of", s"${topic}item$k"))
      val tweaked = words.updated(100, s"variant$variant")
      val para = "<p>" + tweaked.mkString(" ") + ".</p>"
      graft.sources.CrawlRow(f"test://en/$i%03d/article.html",
        new java.sql.Timestamp(0L),
        s"<html><head><title>t</title></head><body><article>$para</article></body></html>"
          .getBytes("UTF-8"), "", "en")
    }
    // 1~5 near-dups (one word differs), 4+6 exact dups (same text, distinct
    // urls), 2 and 3 unique -> 4 curated survivors
    val english = Seq(
      article(1, "alpha", 1), article(2, "beta", 1), article(3, "gamma", 1),
      article(4, "delta", 1), article(5, "alpha", 2), article(6, "delta", 1))
    CrawlCorpus.crawl(spark, 60, 42L).unionByName(english.toDS())
      .toDF().write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--partitions", "4", "--curate", "--sinks"))
    val table = new graft.sources.ParquetManifestTable(s"$outDir/documents")
    assert(table.committedBatches.size == 2)
    val all = table.read(spark)
    assert(all.count() == 66, "each url exactly once across batches")
    assert(all.select("url").distinct().count() == 66)

    // sink tables are append tables derived from each batch's DELTA only:
    // two --sinks runs must not duplicate batch-1 rows
    val sinkContents = new graft.sources.ParquetManifestTable(s"$outDir/sink_contents").read(spark)
    assert(sinkContents.count() == 66, "one contents row per url, no cross-batch duplication")
    assert(sinkContents.select("url").distinct().count() == 66)

    val curated = new graft.sources.ParquetManifestTable(s"$outDir/curated")
      .readLatest(spark)
    assert(curated.columns.toSet ==
      Set("doc_id", "detected_lang", "n_tokens", "cum_tokens", "pack_id"))
    // the synthetic pages have no English stopwords (langid 'und' gates
    // them); the 6 articles survive the gates and near-dup dedup keeps one
    // representative per cluster: {1,5}, {4,6}, {2}, {3}
    assert(curated.count() == 4, curated.collect().mkString(","))
    assert(curated.select("doc_id").distinct().count() == 4)
    assert(curated.select("detected_lang").distinct().collect().map(_.getString(0)).toSeq == Seq("en"))

    // --curate also lands the CC convergence profile: per-round frontier
    // sizes ending at 0 plus rounds_to_convergence, tagged with the batch
    val ccMetrics = new graft.sources.ParquetManifestTable(s"$outDir/metrics_cc")
      .readLatest(spark).orderBy("round").collect()
    assert(ccMetrics.nonEmpty, "CC round metrics must land with --curate")
    assert(ccMetrics.map(_.getAs[Int]("round")).toSeq == ccMetrics.indices.toSeq)
    assert(ccMetrics.last.getAs[Long]("frontier") == 0L, "converged runs end at frontier 0")
    assert(ccMetrics.head.getAs[Int]("rounds_to_convergence") == ccMetrics.length - 1)
    assert(ccMetrics.head.getAs[String]("batch_id").nonEmpty)

    // run 4: one new article + --strip-boilerplate --curate, exercising
    // the job-flag plumbing end to end. At the production default
    // (minDocs=30) this 7-article corpus has no template-scale lines, so
    // stripping is a no-op — the assertions pin that the strip path's
    // pre-dedup keeps the exact-dup representative and that unique docs
    // pass untouched (the strike mechanism itself is CurateSpec's job)
    (english :+ article(7, "epsilon", 1)).toDS()
      .toDF().write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--partitions", "4", "--curate", "--strip-boilerplate"))
    val curated2 = new graft.sources.ParquetManifestTable(s"$outDir/curated")
      .readLatest(spark)
    val curIds = curated2.select("doc_id").collect().map(_.getLong(0)).toSet
    def urlId(i: Int): Long = Seq(f"test://en/$i%03d/article.html").toDF("u")
      .select(xxhash64(col("u"))).head().getLong(0)
    assert(Seq(2, 3, 7).forall(i => curIds.contains(urlId(i))),
      s"unique articles must survive the stripped curation: $curIds")
    // the {4,6} exact-dup pair keeps exactly its min-doc_id representative
    // (doc_id = xxhash64(url), so which of the two wins is hash order)
    val rep = math.min(urlId(4), urlId(6))
    val loser = math.max(urlId(4), urlId(6))
    assert(curIds.contains(rep) && !curIds.contains(loser),
      "a duplicated doc's lines must not strip its own representative")
  }

  test("--partitions N sets the extraction stage: N metrics rows with and without --password-column") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_parts_in").toString
    CrawlCorpus.crawl(spark, 48, 42L).toDF().withColumn("pw", lit(null).cast("string"))
      .write.mode("overwrite").parquet(inDir)
    for (flags <- Seq(Seq.empty[String], Seq("--password-column", "pw"))) {
      val outDir = java.nio.file.Files.createTempDirectory("graft_parts_out").toString
      Extract.main((Seq(inDir, outDir, "--partitions", "3") ++ flags).toArray)
      val metrics = new graft.sources.ParquetManifestTable(s"$outDir/metrics").read(spark)
      assert(metrics.count() == 3, s"flags $flags: ${metrics.collect().mkString(",")}")
      assert(metrics.agg(sum(col("n_docs"))).head().getLong(0) == 48L)
    }
  }

  test("extract job: the documents commit scans the input once, with no Union") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    object walk extends AdaptiveSparkPlanHelper
    val inDir = java.nio.file.Files.createTempDirectory("graft_plan_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_plan_out").toString
    CrawlCorpus.crawl(spark, 24, 42L).toDF().write.mode("overwrite").parquet(inDir)
    // the final plan of the write into the documents table's staging dir
    val docsWrite = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        walk.collect(qe.executedPlan) {
          case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.toString.contains(s"$outDir/documents/") => w
        }.foreach(docsWrite.put)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Extract.main(Array(inDir, outDir, "--partitions", "3"))
    finally spark.listenerManager.unregister(listener)
    // listeners run on the asynchronous listener bus
    val plan = docsWrite.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    assert(plan != null, "no documents-commit write was observed")
    val inputScans = walk.collect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(inDir)) => s
    }
    assert(inputScans.size == 1, plan.toString)
    assert(walk.collect(plan) { case u: UnionExec => u }.isEmpty, plan.toString)
  }

  test("extract job with --password-column: each row decrypts with its own password") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_pw_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_pw_out").toString
    val enc = graft.pdf.Fixtures.bytes("encrypted.pdf")
    val ts = new java.sql.Timestamp(0L)
    Seq(
      ("test://a/encrypted.pdf", ts, enc, "", "en", null.asInstanceOf[String]), // default "" decrypts
      ("test://b/encrypted.pdf", ts, enc, "", "en", "wrong"))
      .toDF("url", "warc_ts", "html", "text", "lang", "pw")
      .write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--password-column", "pw", "--partitions", "2"))
    val docs = new graft.sources.ParquetManifestTable(s"$outDir/documents").read(spark)
      .orderBy("url").collect()
    assert(docs.length == 2)
    assert(docs(0).getAs[Boolean]("ok"), String.valueOf(docs(0).getAs[String]("failure")))
    assert(!docs(1).getAs[Boolean]("ok"))
    assert(docs(1).getAs[String]("failure") == "incorrect password")
  }

  test("--decontaminate drops curated docs overlapping the benchmark parquet") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_decon_in").toString
    val benchDir = java.nio.file.Files.createTempDirectory("graft_decon_bench").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_decon_out").toString
    def article(i: Int, topic: String): graft.sources.CrawlRow = {
      val words = (1 to 40).flatMap(k => Seq("the", s"$topic$k", "and", "of", s"${topic}item$k"))
      val para = "<p>" + words.mkString(" ") + ".</p>"
      graft.sources.CrawlRow(f"test://dc/$i%03d/article.html", new java.sql.Timestamp(0L),
        s"<html><head><title>t</title></head><body><article>$para</article></body></html>"
          .getBytes("UTF-8"), "", "en")
    }
    Seq(article(1, "alpha"), article(2, "beta"), article(3, "gamma")).toDS()
      .toDF().write.mode("overwrite").parquet(inDir)
    // benchmark = article 2's extracted text body (the eval set a crawl
    // would leak): its shingles match doc 2's curated text
    val betaWords = (1 to 40).flatMap(k => Seq("the", s"beta$k", "and", "of", s"betaitem$k"))
    Seq(betaWords.mkString(" ") + ".").toDF("text")
      .write.mode("overwrite").parquet(benchDir)
    Extract.main(Array(inDir, outDir, "--partitions", "2", "--curate",
      "--decontaminate", benchDir))
    val curated = new graft.sources.ParquetManifestTable(s"$outDir/curated")
      .readLatest(spark)
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    def urlId(i: Int): Long = Seq(f"test://dc/$i%03d/article.html").toDF("u")
      .select(xxhash64(col("u"))).head().getLong(0)
    assert(ids.contains(urlId(1)) && ids.contains(urlId(3)),
      "clean articles must survive")
    assert(!ids.contains(urlId(2)), "the benchmark-leaked article must be dropped")

    // --decontaminate-bloom: same job through the bloom-prefiltered plan
    // lands an identical curated snapshot (fresh output root so the
    // resume filter does not dedupe the input away)
    val outDir2 = java.nio.file.Files.createTempDirectory("graft_decon_out2").toString
    Extract.main(Array(inDir, outDir2, "--partitions", "2", "--curate",
      "--decontaminate", benchDir, "--decontaminate-bloom"))
    val curated2 = new graft.sources.ParquetManifestTable(s"$outDir2/curated")
      .readLatest(spark)
    assert(curated2.orderBy("doc_id").collect().map(_.toString).toSeq ==
      curated.orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("duplicate urls with different passwords: the LATEST row's password wins, deterministically") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_pwlatest_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_pwlatest_out").toString
    val enc = graft.pdf.Fixtures.bytes("encrypted.pdf")
    // older copy carries a WRONG password; the newer copy the correct one.
    // The dedup keeps the newer row AND the password pick must follow the
    // same ordering — decryption succeeds iff they agree
    Seq(
      ("test://pwl/encrypted.pdf", new java.sql.Timestamp(1000L), enc, "", "en", "wrong"),
      ("test://pwl/encrypted.pdf", new java.sql.Timestamp(2000L), enc, "", "en", ""))
      .toDF("url", "warc_ts", "html", "text", "lang", "pw")
      .write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--password-column", "pw", "--partitions", "2"))
    val docs = new graft.sources.ParquetManifestTable(s"$outDir/documents").read(spark).collect()
    assert(docs.length == 1)
    assert(docs(0).getAs[Boolean]("ok"),
      s"latest row's password must decrypt: ${docs(0).getAs[String]("failure")}")
  }

  test("null-url rows are dropped loudly, not processed or resumed forever") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_nullurl_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_nullurl_out").toString
    val ok = graft.pdf.Fixtures.bytes("xref_repair.pdf")
    val ts = new java.sql.Timestamp(0L)
    Seq(
      (null.asInstanceOf[String], ts, ok, "", "en"),
      ("test://nu/a.pdf", ts, ok, "", "en"),
      ("test://nu/b.pdf", ts, ok, "", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--partitions", "2"))
    val docs = new graft.sources.ParquetManifestTable(s"$outDir/documents").read(spark).collect()
    assert(docs.length == 2, "only the two url-keyed rows commit")
    assert(docs.forall(_.getAs[String]("url") != null))
    // all-null input: a loud no-op, never a crash or a phantom batch
    val inDir2 = java.nio.file.Files.createTempDirectory("graft_nullurl2_in").toString
    val outDir2 = java.nio.file.Files.createTempDirectory("graft_nullurl2_out").toString
    Seq((null.asInstanceOf[String], ts, ok, "", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(inDir2)
    Extract.main(Array(inDir2, outDir2, "--partitions", "2"))
    assert(new graft.sources.ParquetManifestTable(s"$outDir2/documents").committedBatches.isEmpty)
  }

  test("--password-column with duplicate input urls still commits once per url") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_pwdup_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_pwdup_out").toString
    val enc = graft.pdf.Fixtures.bytes("encrypted.pdf")
    val ts = new java.sql.Timestamp(0L)
    // three copies of the same url (one with a null pw) — the password map
    // must deduplicate, or each pending row fans out to 3 committed rows
    Seq(
      ("test://dup/encrypted.pdf", ts, enc, "", "en", null.asInstanceOf[String]),
      ("test://dup/encrypted.pdf", ts, enc, "", "en", ""),
      ("test://dup/encrypted.pdf", ts, enc, "", "en", ""))
      .toDF("url", "warc_ts", "html", "text", "lang", "pw")
      .write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--password-column", "pw", "--partitions", "2"))
    val docs = new graft.sources.ParquetManifestTable(s"$outDir/documents").read(spark).collect()
    assert(docs.length == 1, s"expected exactly one committed row, got ${docs.length}")
    assert(docs(0).getAs[Boolean]("ok"), String.valueOf(docs(0).getAs[String]("failure")))
  }

  test("--recrawl: only changed+new urls extract; currentPerUrl reads newest; re-run no-op; curate survives versions") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft_rc_base").toString
    val reDir = java.nio.file.Files.createTempDirectory("graft_rc_re").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_rc_out").toString

    // initial crawl: 12 urls, extracted normally
    val base = CrawlCorpus.crawl(spark, 12, 5L).toDF()
    base.write.mode("overwrite").parquet(baseDir)
    Extract.main(Array(baseDir, outDir, "--partitions", "2"))
    val docs = new graft.sources.ParquetManifestTable(s"$outDir/documents")
    assert(docs.committedBatches.size == 1 && docs.read(spark).count() == 12)

    // recrawl: same 12 urls one day later — 2 html pages' content edited —
    // plus 2 brand-new urls. Only those 4 may extract.
    val changed = Seq("test://crawl/1/page.html", "test://crawl/3/page.html")
    val re = CrawlCorpus.crawl(spark, 14, 5L).toDF()
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 DAY"))
      .withColumn("html",
        when(col("url").isin(changed: _*),
          concat(col("html"), lit("<p>fresh paragraph</p>".getBytes("UTF-8"))))
          .otherwise(col("html")))
    re.write.mode("overwrite").parquet(reDir)
    // --curate on the recrawl run: curation must read ONE row per url
    // through currentPerUrl despite the superseded versions
    Extract.main(Array(reDir, outDir, "--recrawl", baseDir, "--curate", "--partitions", "2"))
    assert(docs.committedBatches.size == 2)
    val all = docs.read(spark)
    assert(all.count() == 16, "12 originals + 2 changed versions + 2 new")

    // currentPerUrl: one row per url; changed urls resolve to the NEWER
    // version (bumped warc_ts), everything else keeps its original row
    val current = graft.sources.Resume.currentPerUrl(all)
    assert(current.count() == 14)
    val changedRows = current.where(col("url").isin(changed: _*))
      .select("url", "warc_ts").collect()
    val freshTs = re.where(col("url").isin(changed: _*))
      .select("url", "warc_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1))).toMap
    changedRows.foreach(r =>
      assert(r.getTimestamp(1) == freshTs(r.getString(0)),
        s"${r.getString(0)} must resolve to the recrawl version"))

    val curated = new graft.sources.ParquetManifestTable(s"$outDir/curated").readLatest(spark)
    assert(curated.select("doc_id").distinct().count() == curated.count(),
      "curate must see one row per url despite superseded versions")

    // re-running the same recrawl is a no-op: the changed urls' committed
    // versions already carry the recrawl's warc_ts, so nothing is newer
    Extract.main(Array(reDir, outDir, "--recrawl", baseDir, "--partitions", "2"))
    assert(docs.committedBatches.size == 2, "idempotent recrawl re-run")
    assert(docs.read(spark).count() == 16)
  }

  test("--recrawl tolerates duplicate-url base snapshots and skips (loudly) null-ts changed urls") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft_rcb_base").toString
    val inDir = java.nio.file.Files.createTempDirectory("graft_rcb_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_rcb_out").toString

    val crawl = CrawlCorpus.crawl(spark, 8, 3L).toDF()
    // the base is the previous run's own input — which carried a duplicate
    // url row (real crawls do); the diff must collapse it, not raise
    crawl.unionByName(
        crawl.where(col("url") === "test://crawl/1/page.html")
          .withColumn("warc_ts", col("warc_ts") - expr("INTERVAL 1 HOUR")))
      .write.mode("overwrite").parquet(baseDir)
    Extract.main(Array(baseDir, outDir, "--partitions", "2"))
    val docs = new graft.sources.ParquetManifestTable(s"$outDir/documents")
    assert(docs.committedBatches.size == 1 && docs.read(spark).count() == 8)

    // recrawl: one url's content changed but its warc_ts is NULL — it can
    // never supersede the committed capture, so the run is a no-op (and
    // warns) instead of thrashing or crashing
    crawl.withColumn("warc_ts",
        when(col("url") === "test://crawl/3/page.html", lit(null)).otherwise(col("warc_ts")))
      .withColumn("html",
        when(col("url") === "test://crawl/3/page.html",
          concat(col("html"), lit("<p>edited</p>".getBytes("UTF-8"))))
          .otherwise(col("html")))
      .write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--recrawl", baseDir, "--partitions", "2"))
    assert(docs.committedBatches.size == 1, "null-ts changed url must not commit a new batch")
    assert(docs.read(spark).count() == 8)
  }

  test("--max-mean-bits: gibberish passes the heuristic gate but drops at the LM gate") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_lm_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lm_out").toString
    def article(url: String, words: Seq[String]): graft.sources.CrawlRow = {
      val para = "<p>" + words.mkString(" ") + "</p>"
      graft.sources.CrawlRow(url, new java.sql.Timestamp(0L),
        s"<html><head><title>t</title></head><body><article>$para</article></body></html>"
          .getBytes("UTF-8"), "", "en")
    }
    // fluent: stopwords recur (low bits); gibberish: en markers up front
    // (passes langid + heuristic quality) then all-singleton tokens —
    // high mean surprisal under the self-trained model
    val fluent = (1 to 80).flatMap(k => Seq("the", s"alpha$k", "and", "of", s"item$k"))
    val gibberish = Seq("the", "and", "of") ++ (1 to 197).map(k => s"zx${k}q")
    val urlF = "test://lm/fluent.html"
    val urlG = "test://lm/gibberish.html"
    Seq(article(urlF, fluent), article(urlG, gibberish)).toDS()
      .toDF().write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--partitions", "2", "--curate",
      "--max-mean-bits", "700"))
    val curated = new graft.sources.ParquetManifestTable(s"$outDir/curated")
      .readLatest(spark)
    def urlId(u: String): Long =
      Seq(u).toDF("u").select(xxhash64(col("u"))).head().getLong(0)
    val ids = curated.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.contains(urlId(urlF)), s"the fluent page must survive: $ids")
    assert(!ids.contains(urlId(urlG)), s"the gibberish page must drop at the LM gate: $ids")
    // without the flag both survive — the drop above is the LM gate's
    val outDir2 = java.nio.file.Files.createTempDirectory("graft_lm_out2").toString
    Extract.main(Array(inDir, outDir2, "--partitions", "2", "--curate"))
    val ids2 = new graft.sources.ParquetManifestTable(s"$outDir2/curated")
      .readLatest(spark).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids2 == Set(urlId(urlF), urlId(urlG)), s"both pass the heuristic gate: $ids2")
  }

  test("--link-graph: real hyperlinks drive the committed authority snapshot") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_lg_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lg_out").toString
    def page(url: String, links: Seq[String], words: String): graft.sources.CrawlRow = {
      val as = links.map(l => s"""<a href="$l">ref</a>""").mkString(" ")
      graft.sources.CrawlRow(url, new java.sql.Timestamp(0L),
        s"<html><head><title>t</title></head><body><article><p>$words</p>$as</article></body></html>"
          .getBytes("UTF-8"), "", "en")
    }
    def u(d: String, k: Int) = s"http://$d.test/p$k.html"
    // hub domain a: links only ITSELF (keeps its mass) and is linked by
    // every b page; b has a self-edge and one c in-link; c gets nothing.
    // PageRank funnels along out-links, so a page's whole rank follows its
    // only link — a "hub" must retain mass internally to stay on top.
    // One external link (outside the corpus) must drop from the edge set.
    val crawl = Seq(
      page(u("a", 1), Seq(u("a", 2)), "alpha body one"),
      page(u("a", 2), Seq(u("a", 1)), "alpha body two"),
      page(u("b", 1), Seq(u("a", 1), "https://outside.example/x"), "beta body one"),
      page(u("b", 2), Seq(u("a", 2), "/p1.html"), "beta body two"),
      page(u("c", 1), Seq(u("b", 1)), "gamma body one"),
      page(u("c", 2), Seq(u("a", 1)), "gamma body two"))
    crawl.toDS().toDF().write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--partitions", "2", "--link-graph"))

    val links = new graft.sources.ParquetManifestTable(s"$outDir/links").read(spark)
      .collect().map(r => (r.getString(0), r.getAs[String]("dst_url"))).toSet
    // relative "/p1.html" on b2 resolves to b's own host; the external link
    // is present in the LINKS table (it is a real out-link) …
    assert(links.contains((u("b", 2), "http://b.test/p1.html")))
    assert(links.contains((u("b", 1), "https://outside.example/x")))
    assert(links.contains((u("c", 1), u("b", 1))))

    val auth = new graft.sources.ParquetManifestTable(s"$outDir/authority")
      .readLatest(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(auth.length == 6 && auth.forall(_._2 != null))
    val byDom = auth.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
    assert(byDom.keySet == Set("a.test", "b.test", "c.test"))
    // every page inherits its domain's single rank
    assert(byDom.values.forall(_.size == 1), s"$byDom")
    // the mass-retaining hub outranks b (one in-link), which outranks c (none)
    assert(byDom("a.test").head > byDom("b.test").head, s"$byDom")
    assert(byDom("b.test").head > byDom("c.test").head, s"$byDom")
    // the per-target anchor-text snapshot: every in-corpus target page
    // gets its linkers' texts ("ref" everywhere in this fixture)
    val anchors = new graft.sources.ParquetManifestTable(s"$outDir/anchor_texts")
      .readLatest(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(anchors.nonEmpty && anchors.forall(_._2 == "ref"), s"${anchors.toSeq}")
    assert(anchors.exists(a => a._1 == u("a", 1) && a._3 == 3L),
      s"a/p1 has three in-links (a2, b1, c2): ${anchors.toSeq}")
    // re-running the same input is a no-op (nothing pending, no new snapshot)
    Extract.main(Array(inDir, outDir, "--partitions", "2", "--link-graph"))
    assert(new graft.sources.ParquetManifestTable(s"$outDir/links")
      .read(spark).count() == links.size)
  }

  test("--link-graph + --recrawl: authority reads only the CURRENT version's links") {
    import spark.implicits._
    val inDir1 = java.nio.file.Files.createTempDirectory("graft_lgr_in1").toString
    val inDir2 = java.nio.file.Files.createTempDirectory("graft_lgr_in2").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lgr_out").toString
    def page(url: String, ts: Long, links: Seq[String], words: String): graft.sources.CrawlRow = {
      val as = links.map(l => s"""<a href="$l">r</a>""").mkString(" ")
      graft.sources.CrawlRow(url, new java.sql.Timestamp(ts),
        s"<html><head><title>t</title></head><body><article><p>$words</p>$as</article></body></html>"
          .getBytes("UTF-8"), "", "en")
    }
    val (x, y, z) = ("http://x.test/p1.html", "http://y.test/p1.html", "http://z.test/p1.html")
    // v1: x links y
    Seq(page(x, 1000L, Seq(y), "ex body"), page(y, 1000L, Seq.empty, "wy body"),
        page(z, 1000L, Seq.empty, "zed body"))
      .toDS().toDF().write.mode("overwrite").parquet(inDir1)
    Extract.main(Array(inDir1, outDir, "--partitions", "2", "--link-graph"))
    // v2 recrawl: x changed — now links z instead
    Seq(page(x, 2000L, Seq(z), "ex body changed"), page(y, 1000L, Seq.empty, "wy body"),
        page(z, 1000L, Seq.empty, "zed body"))
      .toDS().toDF().write.mode("overwrite").parquet(inDir2)
    Extract.main(Array(inDir2, outDir, "--recrawl", inDir1, "--partitions", "2", "--link-graph"))

    // the links TABLE keeps both versions' history…
    val allLinks = new graft.sources.ParquetManifestTable(s"$outDir/links").read(spark)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(allLinks == Set((x, y), (x, z)), s"$allLinks")
    // …but authority must see ONLY the current version's edge (x -> z):
    // z now outranks y, which holds nothing but the teleport base
    val byDom = new graft.sources.ParquetManifestTable(s"$outDir/authority")
      .readLatest(spark).collect()
      .map(r => (r.getString(1), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(byDom.values.forall(_.size == 1), s"$byDom")
    assert(byDom("z.test").head > byDom("y.test").head,
      s"stale v1 edge leaked into authority: $byDom")
  }

  test("--keep-first-spans: the later near-copy is judged on its novel remainder") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_kfs_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_kfs_out").toString
    def article(url: String, words: Seq[String]): graft.sources.CrawlRow = {
      val para = "<p>" + words.mkString(" ") + "</p>"
      graft.sources.CrawlRow(url, new java.sql.Timestamp(0L),
        s"<html><head><title>t</title></head><body><article>$para</article></body></html>"
          .getBytes("UTF-8"), "", "en")
    }
    val body = (1 to 80).flatMap(k => Seq("the", s"alpha$k", "and", "of", s"alphaitem$k"))
    val tail = (1 to 30).flatMap(k => Seq("the", s"omega$k", "and", "of", s"omegaitem$k"))
    val other = (1 to 80).flatMap(k => Seq("the", s"beta$k", "and", "of", s"betaitem$k"))
    val urlA = "test://kfs/a/article.html"
    val urlC = "test://kfs/c/article.html"
    Seq(article(urlA, body), article("test://kfs/b/article.html", other),
        article(urlC, body ++ tail)).toDS()
      .toDF().write.mode("overwrite").parquet(inDir)
    Extract.main(Array(inDir, outDir, "--partitions", "2", "--curate",
      "--keep-first-spans", "5"))
    val curated = new graft.sources.ParquetManifestTable(s"$outDir/curated")
      .readLatest(spark)
    def urlId(u: String): Long =
      Seq(u).toDF("u").select(xxhash64(col("u"))).head().getLong(0)
    val toks = curated.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Number]("n_tokens").longValue).toMap
    // the shared body's spans keep only their globally-first occurrence —
    // first = smaller doc_id (xxhash64(url)), so whichever of A/C hashes
    // lower keeps its copy and the other doc is judged on what remains:
    // for C that's the novel tail (survives, shrunk); for A that's
    // nothing (every span struck -> NULL text -> gate drop)
    val (winner, loser) = if (urlId(urlA) < urlId(urlC)) (urlId(urlA), urlId(urlC))
                          else (urlId(urlC), urlId(urlA))
    assert(toks.contains(winner), s"first occurrence must survive intact: $toks")
    if (winner == urlId(urlA)) {
      assert(toks.contains(loser) && toks(loser) < toks(winner),
        s"the later near-copy must shrink to its tail: $toks")
    } else {
      assert(!toks.contains(loser), s"the fully-covered copy must drop: $toks")
      assert(toks(winner) > 400L, s"the winning superset keeps body+tail: $toks")
    }
    assert(toks.contains(urlId("test://kfs/b/article.html")),
      "the unrelated article must survive untouched")
  }
}
