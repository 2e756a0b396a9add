package layerbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.LayerbenchBridge
import org.apache.spark.sql.SparkSession

/** One timed `Extract.main` run. */
final case class Sample(wallS: Double, cpuS: Double, allocBytes: Long, sentinelS: Double,
                        threw: Boolean, check: RunCheck)

/** The benchmark: `graft.Extract.main` in-process on a warm `local[N]`
  * session, over one seeded workload.
  *
  * {{{
  * python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Closed loop: one client, one `Extract` job at a time. Set-up (timed as
  * `setup_s`): generate the workload, write its tables (three times, the
  * median counts), compute the expected digests single-threaded, run
  * `Extract` once untimed. Then untimed settling runs on a small table
  * until the run time stops falling, and `Extract` back to back for
  * `--seconds` (at least `MinSamples` runs), each run on a
  * cleared output root and checked against the expected digests. With
  * `--trace 1` the timed runs are replaced by traced runs and the
  * per-layer measurements of [[Layers]].
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed`, `metrics`.
  */
object LayerBench {

  /** Timed runs per invocation, at least, so every median has as many
    * samples behind it as the window usually holds. */
  val MinSamples = 5

  /** Full runs keep getting faster for a dozen runs after the first, most
    * of it on the driver side (Spark's planner, listing, commits), which
    * the JIT compiles slowly. So untimed settling runs on a small table of
    * `SmallRows` rows, which take the same driver paths at a fraction of
    * the cost, follow the warm-up until two in a row are no faster than the
    * fastest settling run before them, within `SettleTolerance`: at least
    * `MinSettle` and at most the workload's `maxSettle` runs, all started
    * within `SettleDeadlineS` of JVM start. Then `FullSettle` untimed full
    * runs warm the executor side on the whole table. */
  val SettleTolerance = 0.03
  val MinSettle = 8
  val SettleDeadlineS = 90
  val SmallRows = 24
  val FullSettle = 3

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.trim.nonEmpty).map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed-work, single-thread, pure-ALU loop: its time tracks how much of
    * a core the host gives us at that moment. */
  @volatile private var sink = 0L
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** Bytes of the data files under `p` (not `_SUCCESS`, not `.crc`). */
  def dataBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter { f =>
      val name = f.getFileName.toString
      Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_")
    }.map(Files.size).sum
    finally walk.close()
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, corruptDigest: Boolean)

  def parseArgs(argv: Array[String]): Args = {
    var a = Args(null, 1L, 10, trace = false, Paths.get("layerbench/.work"), corruptDigest = false)
    var i = 0
    while (i < argv.length) {
      def v: String = { require(i + 1 < argv.length, s"missing value for ${argv(i)}"); argv(i + 1) }
      argv(i) match {
        case "--workload"       => a = a.copy(workload = v); i += 2
        case "--seed"           => a = a.copy(seed = v.toLong); i += 2
        case "--seconds"        => a = a.copy(seconds = v.toInt); i += 2
        case "--trace"          => a = a.copy(trace = v == "1"); i += 2
        case "--work"           => a = a.copy(work = Paths.get(v)); i += 2
        case "--corrupt-digest" => a = a.copy(corruptDigest = true); i += 1
        case other              => sys.error(s"unknown argument $other")
      }
    }
    require(Gen.Workloads.contains(a.workload),
      s"--workload must be one of ${Gen.Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  /** Everything a run needs once set-up is done. */
  final case class Prepared(w: Workload, input: Path, evalDir: Path, outRoot: Path, template: Path,
                            exp: Expected, curated: Option[(Long, Long)]) {
    def flags: Seq[String] = w.extractFlags(evalDir.toString)
  }

  /** Runs `graft.Extract.main`, capturing what it prints. */
  def runExtract(p: Prepared): (Double, String, Option[Throwable]) = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val t0 = System.nanoTime()
    val err =
      try { Console.withOut(ps) { graft.Extract.main((Seq(p.input.toString, p.outRoot.toString) ++ p.flags).toArray) }; None }
      catch { case scala.util.control.NonFatal(t) => Some(t) }
    val wall = (System.nanoTime() - t0) / 1e9
    ps.flush()
    (wall, buf.toString("UTF-8"), err)
  }

  /** Untimed: a clean output root (holding the committed first batch on
    * recrawl_curate), no cached or checkpointed blocks, a collected heap. */
  def reset(spark: SparkSession, p: Prepared): Unit = {
    deleteTree(p.outRoot)
    if (p.template != null) copyTree(p.template, p.outRoot)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  final class Harness(val spark: SparkSession, val args: Args, val n: Int) {
    val counters = new RunCounters
    spark.sparkContext.addSparkListener(counters)
    val alloc = new AllocCounter
    val trace = new SparkTrace
    spark.sparkContext.addSparkListener(trace)
    spark.listenerManager.register(trace.queryListener)
    val tracer = new Tracer
    val failures = ArrayBuffer.empty[String]
    val sentinels = ArrayBuffer.empty[Double] // one per sample
    var attempted = 0L
    var failed = 0L

    def drain(): Unit = LayerbenchBridge.drainListeners(spark.sparkContext)

    def record(check: RunCheck, threw: Option[Throwable]): Unit = {
      attempted += 1 + check.checked
      failed += check.failed + (if (threw.isDefined) 1 else 0)
      threw.foreach(t => failures += s"Extract threw: $t")
      failures ++= check.messages
    }

    /** One checked `Extract` run on a reset output root. */
    def sample(p: Prepared, traced: Boolean): Sample = {
      tracer.span("reset")(reset(spark, p))
      val sent = sentinel()
      sentinels += sent
      drain()
      trace.enabled = traced
      counters.cpuNs.set(0L)
      alloc.start()
      val (wall, out, err) = runExtract(p)
      val allocated = alloc.stop()
      drain()
      trace.enabled = false
      val cpu = counters.cpuNs.get() / 1e9
      var check = if (err.isDefined) RunCheck(0, 0, Nil) else tracer.span("verify")(Checks.verify(spark, p.outRoot.toString, p.exp, out))
      if (err.isEmpty) p.curated.foreach { want =>
        val got = Checks.tableDigest(spark, p.outRoot.resolve("curated").toString, latest = true)
        if (got != want)
          check = check.copy(failed = check.failed + 1,
            messages = check.messages :+ s"curated digest $got differs from set-up run's $want")
        check = check.copy(checked = check.checked + 1)
      }
      record(check, err)
      Sample(wall, cpu, allocated, sent, err.isDefined, check)
    }

    /** One set-up repetition: write the generated tables into a fresh
      * data directory. */
    def prepare(w: Workload): Prepared = {
      val root = args.work.resolve("data")
      deleteTree(root)
      Files.createDirectories(root)
      tracer.span("setup.write")(Gen.write(spark, w, root, n))
      Prepared(w, root.resolve("input"), root.resolve("eval"), args.work.resolve("out"), null, null, None)
    }

    /** On recrawl_curate, commits the first batch (default flags) into the
      * template every run's output root is restored from. */
    def firstBatch(p: Prepared): Prepared =
      if (p.w.firstBatch.isEmpty) p
      else tracer.span("setup.first_batch") {
        val t = p.input.resolveSibling("template")
        runExtract(p.copy(w = p.w.copy(name = "first_batch"), input = p.input.resolveSibling("first_batch"),
          outRoot = t))._3.foreach(e => throw e)
        p.copy(template = t)
      }

    /** The expected digests, computed once by single-threaded
      * `extractOne`; its checks count towards `error_ratio`. */
    def digests(p: Prepared): Prepared = {
      var exp = tracer.span("setup.digests")(Checks.expected(spark, p.w))
      attempted += exp.shownChecked
      failed += exp.shownFailed.size
      exp.shownFailed.take(20).foreach { u =>
        failures += s"url $u (${p.w.pdfKinds.getOrElse(u, "?")}): a shown string is missing from contents"
      }
      val unchecked = p.w.pdfKinds.size - p.w.shown.size
      if (unchecked > 0)
        System.err.println(s"[layerbench] shown-string check skipped for $unchecked synthesized PDFs whose stream data holds `obj`")
      if (args.corruptDigest) {
        val u = exp.digests.keys.min
        exp = exp.copy(digests = exp.digests.updated(u, "0" * 32), xor = exp.xor ^ 1L)
      }
      p.copy(exp = exp)
    }

    /** The untimed warm-up run, checked; on recrawl_curate it fixes the
      * curated snapshot every later run must reproduce. */
    def warmUp(p: Prepared): Prepared = {
      val s = tracer.span("setup.warmup")(sample(p, traced = false))
      if (p.w.name != "recrawl_curate" || s.threw) p
      else p.copy(curated = Some(Checks.tableDigest(spark, p.outRoot.resolve("curated").toString, latest = true)))
    }

    /** A small table of the workload's first rows under 1 MB. */
    def small(p: Prepared): Prepared = {
      val rows = p.w.input.filter(_.html.length < (1 << 20)).take(SmallRows)
      val dir = p.input.resolveSibling("small")
      deleteTree(dir)
      Gen.writeTable(spark, rows, dir, n)
      val w = p.w.copy(input = rows, newUrls = rows.map(_.url).toSet)
      p.copy(w = w, input = dir, outRoot = p.outRoot.resolveSibling("out-small"),
        exp = Checks.restrict(spark, p.exp, w.newUrls))
    }

    /** The untimed, checked settling runs, on [[small]] and then on the
      * whole table. */
    def settle(p: Prepared, deadlineMs: Long): Seq[(String, Sample)] = {
      val max = Gen.shape(p.w.name).maxSettle
      val runs = ArrayBuffer.empty[Sample]
      def settled: Boolean = runs.size >= MinSettle && {
        val best = runs.dropRight(2).map(_.wallS).min
        runs.takeRight(2).forall(_.wallS >= best * (1 - SettleTolerance))
      }
      if (max == 0) return Nil
      val sp = small(p)
      while (runs.size < max && !settled && System.currentTimeMillis() < deadlineMs)
        runs += tracer.span("settle.small")(sample(sp, traced = false))
      runs.map("settle_small" -> _).toSeq ++
        (1 to FullSettle).map(_ => "settle_full" -> tracer.span("settle.full")(sample(p, traced = false)))
    }
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parseArgs(argv)
    val n = cpus
    val t0 = System.nanoTime()
    val spark = session(n)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(spark, args, n)
    val deadlineMs = jvmStart + 150000L // the whole command must end within 180 s
    var exit = 0
    try {
      // generate once (a pure function of the seed), write the tables three
      // times (the median counts), then once: the first batch, the digests
      // and the warm-up run
      val tg = System.nanoTime()
      val w = h.tracer.span("setup.generate")(Gen.generate(args.workload, args.seed))
      val generateS = (System.nanoTime() - tg) / 1e9
      val writeTimes = ArrayBuffer.empty[Double]
      var prepared: Prepared = null
      (1 to 3).foreach { _ =>
        val t = System.nanoTime()
        prepared = h.prepare(w)
        writeTimes += (System.nanoTime() - t) / 1e9
      }
      val t = System.nanoTime()
      val p = h.warmUp(h.digests(h.firstBatch(prepared)))
      val onceS = (System.nanoTime() - t) / 1e9
      val setupS = sessionS + generateS + Stats.median(writeTimes) + onceS
      val settling = h.settle(p, jvmStart + SettleDeadlineS * 1000L)
      val rows = p.w.input.length
      val metrics = ArrayBuffer.empty[(String, Double, String)]
      if (!args.trace) {
        h.tracer.run = "timed"
        val samples = ArrayBuffer.empty[Sample]
        val start = System.nanoTime()
        while ((samples.size < MinSamples || System.nanoTime() - start < args.seconds * 1e9) &&
               System.currentTimeMillis() < deadlineMs)
          samples += h.sample(p, traced = false)
        val ok = samples.filterNot(_.threw)
        val wall = Stats.median(ok.map(_.wallS))
        metrics += (("docs_per_s", rows / wall, "docs/s"))
        metrics += (("cpu_s_per_1k_docs", Stats.median(ok.map(_.cpuS)) / rows * 1000, "s"))
        metrics += (("alloc_mb_per_1k_docs", Stats.median(ok.map(_.allocBytes.toDouble)) / 1e6 / rows * 1000, "MB"))
        metrics += (("setup_s", setupS, "s"))
        System.err.println(f"[layerbench] ${args.workload} seed=${args.seed} N=$n rows=$rows " +
          f"samples=${samples.size} wall_s=${samples.map(s => f"${s.wallS}%.3f").mkString(",")} " +
          f"sentinel_s=${samples.map(s => f"${s.sentinelS}%.4f").mkString(",")} " +
          f"settle_wall_s=${settling.map(s => f"${s._2.wallS}%.3f").mkString(",")} " +
          f"session_s=$sessionS%.2f generate_s=$generateS%.2f write_reps_s=${writeTimes.map(s => f"$s%.2f").mkString(",")} " +
          f"digests_warmup_s=$onceS%.2f setup_s=$setupS%.2f")
        writeSamples(args, settling ++ samples.map("timed" -> _))
      } else metrics ++= Layers.run(h, p)
      Files.createDirectories(args.work)
      Files.writeString(args.work.resolve(s"trace-${args.workload}-${args.seed}.json"), h.tracer.toJson)
      val errorRatio = h.failed.toDouble / math.max(1L, h.attempted)
      System.err.println(f"[layerbench] error_ratio=$errorRatio%.6f (failed ${h.failed} of ${h.attempted} checks)")
      h.failures.take(40).foreach(f => System.err.println(s"[layerbench] FAIL $f"))
      val m = metrics.map { case (k, v, u) => s"${Json.str(k)}:{" + s""""value":${Json.num(v)},"unit":${Json.str(u)}}""" }
      println(s"""{"correct":${h.failed == 0},"attempted":${h.attempted},"failed":${h.failed},"metrics":{${m.mkString(",")}}}""")
      if (h.failed != 0) exit = 1
    } finally {
      h.alloc.close()
      spark.stop()
    }
    sys.exit(exit)
  }

  private def writeSamples(args: Args, samples: Seq[(String, Sample)]): Unit = {
    Files.createDirectories(args.work)
    val lines = samples.map { case (phase, s) =>
      f"""{"phase":"$phase","wall_s":${s.wallS},"cpu_s":${s.cpuS},"alloc_bytes":${s.allocBytes},"host_sentinel_s":${s.sentinelS},"threw":${s.threw},"failed_checks":${s.check.failed}}"""
    }
    Files.writeString(args.work.resolve(s"samples-${args.workload}-${args.seed}.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
