package layerbench

import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.html.HtmlExtract
import graft.operators.ExtractPipeline
import graft.sources.{CrawlRow, ParquetManifestTable}

/** What a correct run must commit, computed once per setup by
  * single-threaded `ExtractPipeline.extractOne`. */
final case class Expected(
    digests: Map[String, String], // url -> md5 hex of contents
    count: Long,
    xor: Long,                    // bit_xor(xxhash64(url, md5(contents)))
    newUrls: Int,                 // distinct urls the run must commit
    shownChecked: Int,
    shownFailed: Seq[String])

/** Outcome of the output check of one run. */
final case class RunCheck(checked: Long, failed: Long, messages: Seq[String])

object Checks {

  def row(p: Page): CrawlRow = CrawlRow(p.url, p.warcTs, p.html, "", p.lang)

  def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** True when every shown string occurs in `contents`, in order. */
  def showsInOrder(contents: Array[Byte], shown: Array[Array[Byte]]): Boolean = {
    var from = 0
    shown.forall { s =>
      val at = indexOf(contents, s, from)
      if (at < 0) false else { from = at + s.length; true }
    }
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    if (needle.isEmpty) return from
    var i = from
    val last = hay.length - needle.length
    while (i <= last) {
      if (hay(i) == needle(0)) {
        var k = 1
        while (k < needle.length && hay(i + k) == needle(k)) k += 1
        if (k == needle.length) return i
      }
      i += 1
    }
    -1
  }

  def expected(spark: SparkSession, w: Workload): Expected = {
    val scratch = new HtmlExtract.Scratch
    val digests = scala.collection.mutable.HashMap.empty[String, String]
    var shownChecked = 0
    val shownFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    def one(p: Page): Unit = {
      val d = ExtractPipeline.extractOne(row(p), "", scratch)
      digests(p.url) = md5hex(d.contents)
      w.shown.get(p.url).foreach { shown =>
        shownChecked += 1
        if (!showsInOrder(d.contents, shown)) shownFailed += p.url
      }
    }
    w.firstBatch.foreach(one)
    w.input.foreach(one)
    val (n, xor) = aggregate(spark, digests.toMap)
    Expected(digests.toMap, n, xor, w.newUrls.size, shownChecked, shownFailed.toSeq)
  }

  /** `exp` for a run whose input is the rows of `urls` alone. */
  def restrict(spark: SparkSession, exp: Expected, urls: Set[String]): Expected = {
    val digests = exp.digests.filter { case (u, _) => urls(u) }
    val (n, xor) = aggregate(spark, digests)
    exp.copy(digests = digests, count = n, xor = xor, newUrls = urls.size)
  }

  /** Row count and `bit_xor(xxhash64(url, md5))`, as `verify` computes
    * them over the committed table. */
  private def aggregate(spark: SparkSession, digests: Map[String, String]): (Long, Long) = {
    import spark.implicits._
    val agg = digests.toSeq.toDF("url", "m")
      .agg(count(lit(1)), bit_xor(xxhash64(col("url"), col("m")))).head()
    (agg.getLong(0), agg.getLong(1))
  }

  private def field(summary: String, key: String): Option[Long] =
    s""""$key":(\\d+)""".r.findFirstMatchIn(summary).map(_.group(1).toLong)

  /** Checks one run's committed output against `exp`. */
  def verify(spark: SparkSession, outRoot: String, exp: Expected, summary: String): RunCheck = {
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0L
    val docs = new ParquetManifestTable(s"$outRoot/documents").read(spark)
    val agg = docs.agg(count(lit(1)), countDistinct(col("url")),
      bit_xor(xxhash64(col("url"), md5(col("contents"))))).head()
    if (agg.getLong(0) != exp.count || agg.getLong(1) != exp.count || agg.getLong(2) != exp.xor) {
      // per-url diff
      val got = docs.select(col("url"), md5(col("contents"))).collect()
        .groupBy(_.getString(0)).map { case (u, rs) => u -> rs.map(_.getString(1)).toSeq }
      val bad = (exp.digests.keySet ++ got.keySet).toSeq.sorted.filter { u =>
        got.get(u) match {
          case Some(Seq(m)) => !exp.digests.get(u).contains(m)
          case _            => true
        }
      }
      bad.take(20).foreach { u =>
        msgs += s"url $u: expected ${exp.digests.getOrElse(u, "<absent>")}, committed ${got.get(u).map(_.mkString(",")).getOrElse("<absent>")}"
      }
      failed += math.max(1, bad.size)
    }
    val pending = field(summary, "pending")
    val committed = field(summary, "committed_rows")
    if (!pending.contains(exp.newUrls.toLong) || !committed.contains(exp.count)) {
      msgs += s"summary: pending=$pending (expected ${exp.newUrls}), committed_rows=$committed (expected ${exp.count})"
      failed += 1
    }
    RunCheck(exp.count + 1, failed, msgs.toSeq)
  }

  /** Order-independent digest of a table: row count and the xor of a
    * 64-bit hash of every column. */
  def tableDigest(spark: SparkSession, dir: String, latest: Boolean): (Long, Long) = {
    val t = new ParquetManifestTable(dir)
    val df = if (latest) t.readLatest(spark) else t.read(spark)
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
    (r.getLong(0), r.getLong(1))
  }
}
