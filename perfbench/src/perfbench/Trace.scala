package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.fetch.{FetchedPage, Fetcher}
import graft.icelite.IceLite

/** One timed interval at a layer boundary. Times are nanoseconds since
  * the recorder's origin; `parent` is -1 for a root span. */
case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, run: String)

/** In-memory span buffer, written out once when the benchmark ends.
  * Spans nest per thread: `span` makes the innermost open span on the
  * calling thread the parent of the new one. */
final class Spans(origin: Long) {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile var run: String = "setup"

  def now: Long = System.nanoTime() - origin

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.get().headOption.getOrElse(-1L)
    open.set(id :: open.get())
    val t0 = now
    try body
    finally {
      open.set(open.get().tail)
      add(Span(id, name, t0, now, parent, run))
    }
  }

  /** Records an interval measured elsewhere (e.g. a wave segment whose
    * bounds are the return times of two calls). */
  def add(name: String, start: Long, end: Long, parent: Long): Unit =
    add(Span(ids.incrementAndGet(), name, start, end, parent, run))

  private def add(s: Span): Unit = synchronized { buf += s }

  def all: Seq[Span] = synchronized(buf.toVector)

  /** Id of the innermost open span on this thread (-1 if none). */
  def current: Long = open.get().headOption.getOrElse(-1L)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.id).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"parent":${s.parent},"run":${Json.str(s.run)}}""")
      sb.append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Fetch-layer counters, shared by every task of the JVM (local mode
  * runs all tasks in this process, so plain atomics suffice). */
object FetchCounters {
  val enabled = new AtomicBoolean(false)
  val calls = new AtomicLong
  val busyNs = new AtomicLong
  val httpErrors = new AtomicLong
}

/** Times every call into the wrapped fetcher while tracing is enabled. */
class TimingFetcher(inner: Fetcher) extends Fetcher {
  override def fetch(url: String): FetchedPage =
    if (!FetchCounters.enabled.get) inner.fetch(url)
    else {
      val t0 = System.nanoTime()
      val p = inner.fetch(url)
      FetchCounters.busyNs.addAndGet(System.nanoTime() - t0)
      FetchCounters.calls.incrementAndGet()
      if (p.status != 200) FetchCounters.httpErrors.incrementAndGet()
      p
    }
}

/** IceLite with every public entry point the crawl loop uses wrapped
  * in a span, plus byte/file accounting of what each commit wrote.
  * Records only while `enabled` is set. */
class TimingIceLite(root: String, spans: Spans) extends IceLite(root) {
  @volatile var enabled = false
  val commits = new AtomicLong
  val commitNs = new AtomicLong
  val stageNs = new AtomicLong
  val readCalls = new AtomicLong
  val statCalls = new AtomicLong
  val manifestCalls = new AtomicLong
  val bytesWritten = new AtomicLong
  val filesWritten = new AtomicLong
  val manifestBytes = new AtomicLong
  /** (table, return time) of each stage call, for wave segmentation. */
  val stageReturns = mutable.ArrayBuffer.empty[(String, Long)]
  /** (start, end) of each commit call. */
  val commitSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def stage(table: String, df: DataFrame): String = if (!enabled) super.stage(table, df) else {
    val t0 = spans.now
    val dir = spans.span(s"icelite.stage.$table")(super.stage(table, df))
    val t1 = spans.now
    stageNs.addAndGet(t1 - t0)
    stageReturns.synchronized(stageReturns += table -> t1)
    dir
  }

  override def commit(deltas: Seq[(String, DataFrame)], meta: Map[String, String],
                      staged: Seq[(String, String)]): Long = if (!enabled) super.commit(deltas, meta, staged) else {
    val t0 = spans.now
    val id = spans.span("icelite.commit")(super.commit(deltas, meta, staged))
    val t1 = spans.now
    commits.incrementAndGet()
    commitNs.addAndGet(t1 - t0)
    commitSpans.synchronized(commitSpans += t0 -> t1)
    // what this commit made visible: its own d<id> dirs plus the staged ones
    val stagedDirs = staged.map(_._2).toSet
    val sep = java.io.File.separator
    super.manifest(id).stats.values.flatten
      .filter(d => d.dir.endsWith(s"${sep}d$id") || stagedDirs(d.dir))
      .foreach { d => bytesWritten.addAndGet(math.max(d.bytes, 0L)); filesWritten.addAndGet(math.max(d.files, 0)) }
    manifestBytes.addAndGet(java.nio.file.Files.size(
      java.nio.file.Paths.get(root, "meta", s"snap-$id.manifest")))
    id
  }

  override def read(spark: SparkSession, table: String, snapshotId: Option[Long],
                    emptySchema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    if (!enabled) super.read(spark, table, snapshotId, emptySchema) else {
    readCalls.incrementAndGet()
    spans.span(s"icelite.read.$table")(super.read(spark, table, snapshotId, emptySchema))
  }

  override def tableStat(table: String, snapshotId: Option[Long]): Option[(Long, Long, Long)] =
    if (!enabled) super.tableStat(table, snapshotId) else {
    statCalls.incrementAndGet()
    spans.span(s"icelite.tableStat.$table")(super.tableStat(table, snapshotId))
  }

  override def manifest(id: Long): Manifest = if (!enabled) super.manifest(id) else {
    manifestCalls.incrementAndGet()
    spans.span("icelite.manifest")(super.manifest(id))
  }
}

/** Spark task/stage/job accounting from the listener bus. Counts only
  * while `active` is set, so untraced iterations add nothing. */
class StageTotals extends SparkListener {
  val active = new AtomicBoolean(false)
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spill = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (active.get) jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active.get) {
    val si = e.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(si.numTasks)
    Option(si.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Executed-plan SQLMetrics per query, summed over every query
  * execution that finishes while `current` names a query. */
class PlanTotals extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var current: Option[String] = None
  /** query -> metric -> value (bytes, rows, or nanoseconds for times). */
  val byQuery = mutable.Map.empty[String, mutable.Map[String, Long]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.foreach(q => record(q, qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def record(q: String, plan: SparkPlan): Unit = synchronized {
    val acc = byQuery.getOrElseUpdate(q, mutable.Map.empty[String, Long].withDefaultValue(0L))
    collectWithSubqueries(plan) { case p => p }.foreach { node =>
      node match {
        case s: ShuffleExchangeLike =>
          s.metrics.get("dataSize").foreach(m => acc("shuffle_bytes") += m.value)
        case s: DataSourceScanExec =>
          s.metrics.get("numOutputRows").foreach(m => acc("rows_scanned") += m.value)
        case _ =>
      }
      val cat = PlanTotals.category(node.nodeName)
      node.metrics.values.foreach { m =>
        val ns = m.metricType match {
          case "timing"   => m.value * 1000000L
          case "nsTiming" => m.value
          case _          => 0L
        }
        if (ns > 0) acc(s"${cat}_ns") += ns
      }
    }
  }
}

object PlanTotals {
  /** Operator families the per-operator times are grouped into. */
  val Categories: Seq[String] = Seq("scan", "exchange", "aggregate", "join", "sort", "other")

  def category(nodeName: String): String = {
    val n = nodeName.toLowerCase
    if (n.startsWith("scan") || n.contains("scan ")) "scan"
    else if (n.contains("exchange")) "exchange"
    else if (n.contains("aggregate")) "aggregate"
    else if (n.contains("join")) "join"
    else if (n.contains("sort")) "sort"
    else "other"
  }
}
