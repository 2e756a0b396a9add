package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import graft.operators.ExtractPipeline
import graft.sources.{CrawlCorpus, ParquetManifestTable, Resume}

/** End-to-end Dataset tests for the extraction pipeline: per-url goldens,
  * determinism across partitionings, exact resume, and streaming ingestion.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  def corpus(n: Long) = CrawlCorpus.crawl(spark, n, seed = 42L)

  test("extractDocs: one row per url, per-fixture golden text") {
    import spark.implicits._
    val docs = ExtractPipeline.extractDocs(corpus(72)).cache()
    assert(docs.count() == 72)
    assert(docs.select("url").distinct().count() == 72)

    // xref_repair.pdf extracts exactly "Hello World\n" (pdf/page.go:66-70 +
    // the fixture's content stream)
    val repair = docs.filter(_.url.endsWith("xref_repair.pdf")).collect()
    assert(repair.nonEmpty)
    repair.foreach { d =>
      assert(d.kind == "pdf")
      assert(new String(d.contents, ISO_8859_1) == "Hello World\n", d.url)
      assert(d.ok)
    }

    // malformed fixtures produce their exact reference error strings
    val unclosed = docs.filter(_.url.endsWith("unclosed_array.pdf")).collect()
    unclosed.foreach(d => assert(d.errors.contains("unclosed array"), d.errors))

    // html rows extract non-empty boilerplate-stripped text
    val html = docs.filter(_.kind == "html").collect()
    assert(html.nonEmpty)
    html.foreach { d =>
      assert(d.ok)
      val t = new String(d.contents, UTF_8)
      assert(t.nonEmpty)
      assert(!t.contains("not content"), "script content leaked")
    }
    docs.unpersist()
  }

  test("extractDocs: deterministic across partitionings") {
    def fingerprint(parts: Int): Seq[(String, String)] = {
      val docs = ExtractPipeline.extractDocs(corpus(60).repartition(parts))
      docs.toDF()
        .select(col("url"), md5(col("contents")).as("m"))
        .orderBy("url")
        .collect()
        .map(r => (r.getString(0), r.getString(1)))
        .toSeq
    }
    assert(fingerprint(3) == fingerprint(13))
  }

  test("salted extraction preserves the one-row-per-url contract") {
    val docs = ExtractPipeline.extractDocs(ExtractPipeline.saltedRepartitionByUrl(corpus(40), 4))
    assert(docs.count() == 40)
    assert(docs.select("url").distinct().count() == 40)
  }

  test("salted repartition spreads urls: no empty partition, largest <= 1.5x the mean") {
    import spark.implicits._
    val urls = (0 until 2000).map(i =>
      graft.sources.CrawlRow(s"test://host$i/doc$i.html", null, null, "", "en")).toDS()
    for (n <- Seq(2, 4, 8); salt <- Seq(0, 1)) {
      val sizes = ExtractPipeline.saltedRepartitionByUrl(urls, n, salt)
        .rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.length == n && sizes.sum == 2000)
      assert(sizes.forall(_ > 0), s"n=$n salt=$salt: empty partition in ${sizes.mkString("/")}")
      assert(sizes.max <= 1.5 * 2000 / n, s"n=$n salt=$salt: ${sizes.mkString("/")}")
    }
  }

  test("TableIO: atomic commit + exact resume") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl").toString
    val table = new ParquetManifestTable(root)
    val all = corpus(30)

    // commit the first batch (urls with even row ids)
    val batch1 = ExtractPipeline.extractDocs(all.filter(r => (r.url.split("/")(3).toLong % 2) == 0))
    table.commit(batch1.toDF(), "batch-001")
    assert(table.committedBatches == Seq("batch-001"))

    // resume sees exactly the other half
    val pending = Resume.pending(all, table)
    assert(pending.count() == 15)
    assert(pending.collect().forall(r => r.url.split("/")(3).toLong % 2 == 1))

    // idempotent re-commit of the same batch id is a no-op
    table.commit(batch1.toDF(), "batch-001")
    assert(table.committedBatches == Seq("batch-001"))

    // a staged-but-uncommitted batch is invisible to readers
    val staged = new java.io.File(s"$root/_staging/broken")
    staged.mkdirs()
    assert(table.committedBatches == Seq("batch-001"))

    // commit the rest: resume drains to zero
    table.commit(ExtractPipeline.extractDocs(pending).toDF(), "batch-002")
    assert(Resume.pending(all, table).count() == 0)
    assert(table.read(spark).count() == 30)
    // exactly-once per url
    assert(table.read(spark).select("url").distinct().count() == 30)
  }

  test("TableIO.readLatest follows commit TIME, not batch-name order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tio_latest").toString
    val t = new ParquetManifestTable(dir)
    // content-hash batch ids sort arbitrarily: commit a LEXICOGRAPHICALLY
    // LARGER name first, then a smaller one — latest must be the second
    t.commit(Seq(("old", 1)).toDF("v", "n"), "batch-ffff")
    Thread.sleep(20) // distinct manifest mtimes
    t.commit(Seq(("new", 2)).toDF("v", "n"), "batch-0000")
    assert(t.readLatest(spark).select("v").head().getString(0) == "new")
    assert(t.readBatch(spark, "batch-ffff").select("v").head().getString(0) == "old")
    assert(t.read(spark).count() == 2) // append view unions both
  }

  test("includeRaw materializes the reference's raw sink; md5(raw) == raw_md5") {
    import spark.implicits._
    val docs = ExtractPipeline.extractDocs(corpus(20), includeRaw = true).collect()
    assert(docs.length == 20)
    docs.foreach { d =>
      assert(d.raw != null, d.url)
      val m = graft.pdf.Crypto.md5(d.raw).map(b => f"$b%02x").mkString
      assert(m == d.raw_md5, d.url)
      assert(d.raw.length.toLong == d.raw_size, d.url)
    }
    // default stays slim: no raw payload column materialized
    val slim = ExtractPipeline.extractDocs(corpus(4)).collect()
    slim.foreach(d => assert(d.raw == null, d.url))
  }

  test("includeEmbedded persists the reference's file-dump sink: md5(embedded_data[i]) == embedded_md5[i]") {
    import spark.implicits._
    // crafted EF fixture (same shape as ExtractWalkSpec's, via scan repair):
    // one embedded file "file1.txt" whose payload is "hello"
    val pdf = ("""1 0 obj
      |<</Names <</EmbeddedFiles <</Names [(file1.txt) 2 0 R]>> >> >>
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
      |""".stripMargin).getBytes(ISO_8859_1)
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(graft.sources.CrawlRow("test://a/ef.pdf", ts, pdf, "", "en"))

    val out = ExtractPipeline.extractDocs(rows.toDS(), includeEmbedded = true).collect()
    assert(out.length == 1)
    val d = out.head
    assert(d.embedded_md5 == Seq("5d41402abc4b2a76b9719d911017c592")) // md5("hello")
    assert(d.embedded_name == Seq("file1.txt"))
    assert(d.embedded_data != null && d.embedded_data.length == 1)
    assert(new String(d.embedded_data.head, ISO_8859_1) == "hello")
    d.embedded_data.zip(d.embedded_md5).foreach { case (data, m) =>
      assert(graft.pdf.Crypto.md5(data).map(b => f"$b%02x").mkString == m)
    }

    // per-doc budget: an entry over the byte budget is nulled, md5/name and
    // index alignment stay (detectable as md5 present, data null)
    val capped = ExtractPipeline.extractDocs(rows.toDS(), includeEmbedded = true,
      maxEmbeddedBytes = 3L).collect().head
    assert(capped.embedded_md5 == Seq("5d41402abc4b2a76b9719d911017c592"))
    assert(capped.embedded_data.length == 1 && capped.embedded_data.head == null)

    // default stays slim: no payload column materialized
    val slim = ExtractPipeline.extractDocs(rows.toDS()).collect().head
    assert(slim.embedded_data == null)
    assert(slim.embedded_md5 == Seq("5d41402abc4b2a76b9719d911017c592"))

    // the sink_embedded blob table carries (url, md5, name, data)
    val sink = graft.operators.SinkTables.embedded(
      ExtractPipeline.extractDocs(rows.toDS(), includeEmbedded = true)).collect()
    assert(sink.length == 1)
    assert(sink.head.getString(1) == "5d41402abc4b2a76b9719d911017c592")
    assert(sink.head.getString(2) == "file1.txt")
    assert(new String(sink.head.getAs[Array[Byte]](3), ISO_8859_1) == "hello")
    // manifest-only mode: data column present but null
    val manifest = graft.operators.SinkTables.embedded(
      ExtractPipeline.extractDocs(rows.toDS())).collect()
    assert(manifest.length == 1 && manifest.head.isNullAt(3))
  }

  test("per-document passwords: each row decrypts (or fails) with its own password") {
    import spark.implicits._
    val enc = graft.pdf.Fixtures.bytes("encrypted.pdf")
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(
      (graft.sources.CrawlRow("test://a/encrypted.pdf", ts, enc, "", "en"), null.asInstanceOf[String]),
      (graft.sources.CrawlRow("test://b/encrypted.pdf", ts, enc, "", "en"), "wrong"))
    val out = ExtractPipeline.extractDocsWithPasswords(rows.toDS(), defaultPassword = "")
      .collect().sortBy(_.url)
    assert(out(0).ok, String.valueOf(out(0).failure)) // null password -> corpus default "" decrypts
    assert(!out(1).ok && out(1).failure == "incorrect password")
  }

  test("salted extraction extracts null-payload rows as empty, never drops them") {
    import spark.implicits._
    val withNull = corpus(10).map(r =>
      if (r.url.split("/")(3).toLong == 1L) r.copy(html = null) else r)
    val docs = ExtractPipeline.extractDocs(ExtractPipeline.saltedRepartitionByUrl(withNull, 4))
    val out = docs.collect()
    assert(out.length == 10) // the null-html row is extracted (as empty), not dropped
    assert(out.map(_.url).distinct.length == 10)
    val empty = out.filter(_.url.split("/")(3).toLong == 1L)
    assert(empty.length == 1 && empty.head.contents.isEmpty && empty.head.raw_size == 0L)
  }

  test("TableIO: a crash between data-dir move and manifest move is retryable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl2").toString
    val table = new ParquetManifestTable(root)
    val batch = ExtractPipeline.extractDocs(corpus(6)).toDF()

    // simulate the crash window: data dir present, manifest entry absent
    table.commit(batch, "batch-X")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_manifest/batch-X.committed"))
    assert(table.committedBatches.isEmpty) // uncommitted by contract

    // the retried commit must succeed (replace the orphaned data dir)
    table.commit(batch, "batch-X")
    assert(table.committedBatches == Seq("batch-X"))
    assert(table.read(spark).count() == 6)
  }

  test("streaming facade: AvailableNow ingestion commits atomic batches") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_in").toString
    val tblDir = java.nio.file.Files.createTempDirectory("graft_stbl").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    corpus(20).toDF().write.mode("overwrite").parquet(inDir)

    val q = graft.streaming.StreamingExtract.start(spark, inDir, tblDir, ckDir)
    q.awaitTermination(60000)
    val table = new ParquetManifestTable(tblDir)
    assert(table.committedBatches.nonEmpty)
    assert(table.read(spark).count() == 20)

    // restart with same checkpoint: no new data, no duplicate commits
    val q2 = graft.streaming.StreamingExtract.start(spark, inDir, tblDir, ckDir)
    q2.awaitTermination(60000)
    assert(table.read(spark).count() == 20)
  }

  test("manifest table formats: orc round-trips binary columns; text formats rejected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_orc").toString
    val t = new ParquetManifestTable(dir, "orc")
    val df = Seq((1L, "a", Array[Byte](1, 2, 3)), (2L, "b", Array[Byte](0, -1, 127)))
      .toDF("id", "s", "payload")
    t.commit(df, "b1")
    t.commit(df, "b1") // idempotent re-commit
    assert(t.committedBatches == Seq("b1"))
    val back = t.read(spark).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back(1).getAs[Array[Byte]]("payload").toSeq == Seq[Byte](0, -1, 127))
    t.commit(df.where(col("id") === 1), "b2")
    assert(t.read(spark).count() == 3)        // append union across batches
    assert(t.readLatest(spark).count() == 1)  // replace-style newest only
    // formats that cannot carry binary columns are rejected at construction
    for (bad <- Seq("csv", "json", "avro"))
      intercept[IllegalArgumentException] { new ParquetManifestTable(dir, bad) }
  }

  test("metrics + error profile") {
    val docs = ExtractPipeline.extractDocs(
      ExtractPipeline.saltedRepartitionByUrl(corpus(72), 8))
    val m = ExtractPipeline.partitionMetrics(docs).collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum == 72)
    val errs = ExtractPipeline.errorProfile(docs).collect()
    // the malformed fixtures guarantee a populated error channel
    assert(errs.nonEmpty)
    val messages = errs.map(_.getString(0)).toSet
    assert(messages.contains("unclosed array"))
  }
}
