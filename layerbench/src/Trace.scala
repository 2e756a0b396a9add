package layerbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Walks physical plans through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper

/** A traced interval. Times are epoch microseconds; `parent` is -1 at the
  * top; `attrs` holds the counters measured at the same boundary. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** In-memory span recorder for the benchmark's own calls into each layer.
  * Spans nest by call order on the driver thread. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var run: String = "setup"
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String)(body: => T): T = spanWith[T](name, _ => Map.empty)(body)._1

  /** Runs `body` in a span; `attrs` derives the span's counters from the
    * result. */
  def spanWith[T](name: String, attrs: T => Map[String, Double])(body: => T): (T, Span) = synchronized {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = nowUs
    val r = try body finally stack = stack.tail
    val s = Span(id, name, parent, run, t0, nowUs, attrs(r))
    spans += s
    (r, s)
  }

  /** Adds a span measured elsewhere (e.g. from Spark listener events),
    * parented to the innermost recorded span that contains it. */
  def external(name: String, startUs: Long, endUs: Long, attrs: Map[String, Double]): Span = synchronized {
    val id = nextId; nextId += 1
    val s = Span(id, name, -2, run, startUs, endUs, attrs)
    spans += s
    s
  }

  def all: Seq[Span] = synchronized {
    val own = spans.filter(_.parent != -2)
    spans.map { s =>
      if (s.parent != -2) s
      else {
        val inside = own.filter(o => o.startUs <= s.startUs && s.endUs <= o.endUs + 1000)
        s.copy(parent = if (inside.isEmpty) -1 else inside.minBy(o => o.endUs - o.startUs).id)
      }
    }.toSeq
  }

  def toJson: String = all.map { s =>
    val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${Json.str(s.run)},""" +
      s""""start_us":${s.startUs},"end_us":${s.endUs},"attrs":$attrs}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** The two counters the timed runs keep: executor CPU from task-end
  * events, and heap allocation from GC notifications. */
final class RunCounters extends SparkListener {
  val cpuNs = new AtomicLong(0L)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
}

/** Bytes allocated on the heap, counted from GC notifications: for each
  * collection, young and old occupancy before it minus occupancy after the
  * previous one; plus the growth since the last collection. Old-generation
  * growth between collections is allocation made directly there (large
  * arrays); promotion happens inside a collection and is not counted. */
final class AllocCounter {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && !p.getName.contains("Survivor"))
    .map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val seen = new AtomicLong(0L)
  @volatile private var afterPrev: Map[String, Long] = Map.empty
  private val allocated = new AtomicLong(0L)

  private def usedNow(): Map[String, Long] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => pools.contains(p.getName)).map(p => p.getName -> p.getUsage.getUsed).toMap

  private def collections(): Long = beans.map(b => math.max(0L, b.getCollectionCount)).sum

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val before = info.getGcInfo.getMemoryUsageBeforeGc.asScala
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        AllocCounter.this.synchronized {
          pools.foreach { p =>
            val b = before.get(p).map(_.getUsed).getOrElse(0L)
            allocated.addAndGet(math.max(0L, b - afterPrev.getOrElse(p, b)))
          }
          afterPrev = pools.map(p => p -> after.get(p).map(_.getUsed).getOrElse(0L)).toMap
        }
        seen.incrementAndGet()
      }
  }
  beans.foreach(b => b.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  private var startCollections = 0L
  private var startSeen = 0L

  def start(): Unit = synchronized {
    allocated.set(0L)
    afterPrev = usedNow()
    startCollections = collections()
    startSeen = seen.get()
  }

  /** Bytes allocated since `start`. Waits (briefly) for notifications of
    * collections that have already happened. */
  def stop(): Long = {
    val target = collections() - startCollections
    val deadline = System.nanoTime() + 2000000000L
    while (seen.get() - startSeen < target && System.nanoTime() < deadline) Thread.sleep(1)
    synchronized {
      val now = usedNow()
      pools.foldLeft(allocated.get()) { (acc, p) =>
        acc + math.max(0L, now.getOrElse(p, 0L) - afterPrev.getOrElse(p, 0L))
      }
    }
  }

  def close(): Unit =
    beans.foreach(b => b.asInstanceOf[NotificationEmitter].removeNotificationListener(listener))
}

/** Spark job, stage and SQL-execution spans, for the traced run only. */
final class SparkTrace extends SparkListener {
  final case class Job(id: Int, callSite: String, execId: Long, startMs: Long, var endMs: Long,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, name: String, startMs: Long, endMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long, taskMs: Seq[Long])
  final case class Exec(id: Long, description: String, plan: String)
  /** One file-source scan of a finished action: its root paths and the
    * bytes of the files it selected (Spark's "size of files read"). */
  final case class Scan(paths: String, filesBytes: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  val scans = new ConcurrentLinkedQueue[Scan]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  @volatile var enabled = false

  def clear(): Unit = { jobs.clear(); stages.clear(); execs.clear(); taskMs.clear(); scans.clear() }

  /** Collects the file scans of every finished action while enabled. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (enabled)
      PlanWalk.collect(qe.executedPlan) { case f: FileSourceScanExec => f }.foreach { f =>
        scans.add(Scan(f.relation.location.rootPaths.mkString(","),
          f.metrics.get("filesSize").map(_.value).getOrElse(0L)))
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    // the call site of the action that started the job: its SQL
    // execution's description (jobs of adaptive stages are submitted from
    // a pool thread, so their own call site names no program frame)
    val site = Option(execs.get(exec)).map(_.description)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs.add(Job(e.jobId, site, exec, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (enabled && t.taskInfo != null) {
    taskMs.computeIfAbsent(t.stageId, _ => new ConcurrentLinkedQueue[Long]()).add(t.taskInfo.duration)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val s = e.stageInfo
    val m = s.taskMetrics
    val tasks = Option(taskMs.get(s.stageId)).map(_.asScala.toSeq).getOrElse(Seq.empty)
    stages.add(Stage(s.stageId, s.name, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorRunTime, if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime, if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten, tasks))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(s.executionId, s.description, s.physicalPlanDescription))
    case _ =>
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.toSeq.filter(s => ids.contains(s.id))
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
