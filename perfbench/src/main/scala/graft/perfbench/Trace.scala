package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Process-level counters read from outside the engine. */
object Proc {

  /** Bytes this process has passed to write(2) so far (`wchar` in
    * /proc/self/io): parquet files, shuffle and spill files and logs alike.
    */
  def wchar(): Long = {
    val f = new java.io.File("/proc/self/io")
    if (!f.canRead) return 0L
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("wchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Total GC time of this JVM so far, seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak used bytes summed over the heap memory pools (each pool's own
    * high-water mark, so an upper bound on the true heap peak).
    */
  def heapPeakBytes(): Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum

  /** Filesystem type of the mount holding `path` (from /proc/mounts). */
  def fsType(path: String): String = {
    val p = new java.io.File(path).getCanonicalPath
    val src = scala.io.Source.fromFile("/proc/mounts")
    try src.getLines().map(_.split(" ")).filter(_.length > 2)
      .filter(f => p == f(1) || p.startsWith(f(1).stripSuffix("/") + "/"))
      .toSeq.sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
    finally src.close()
  }

  /** Bytes of regular files under `dir`. */
  def duBytes(dir: java.io.File): Long =
    if (dir.isFile) dir.length
    else Option(dir.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)
}

/** Spark work summed over one span. */
final case class SparkCost(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    taskMs: Long = 0L, gcMs: Long = 0L,
    shuffleWrite: Long = 0L, shuffleRead: Long = 0L,
    spill: Long = 0L, recordsRead: Long = 0L, recordsWritten: Long = 0L) {
  def +(o: SparkCost): SparkCost = SparkCost(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    gcMs + o.gcMs, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, recordsRead + o.recordsRead,
    recordsWritten + o.recordsWritten)
}

/** One traced interval: a setup step, a batch, a query, a check or a
  * micro-layer loop. `kind` groups spans for reporting (e.g. "sync.crawl").
  */
final class Span(val id: Int, val name: String, val kind: String,
                 val parent: Option[Span], val startMs: Long,
                 val startNs: Long, val wcharStart: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  var wcharEnd: Long = 0L
  var cost: SparkCost = SparkCost()
  var windowJobs: Int = 0
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def wcharBytes: Long = wcharEnd - wcharStart
}

/** Benchmark-side tracer: one span per public call, each tagged with a
  * Spark job group, and a listener that sums task metrics per job group.
  *
  * The benchmark has one client thread, so spans never overlap except by
  * nesting. A job is credited to the span named by its job group when that
  * span was open at the job's start; otherwise (a job submitted from an
  * engine-owned thread, which carries no group or an inherited stale one)
  * it is credited to the innermost span open at that time and counted in
  * `windowJobs`.
  *
  * With `enabled = false` no listener is registered, no job group is set
  * and [[span]] only runs its body: the untraced run pays nothing.
  */
final class Trace(sc: SparkContext, val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 0
  @volatile private var callbackNs = 0L
  private var clientNs = 0L

  private final case class JobEv(jobId: Int, timeMs: Long, group: String,
                                 stageIds: Seq[Int])
  private final case class TaskEv(stageId: Int, runMs: Long, gcMs: Long,
                                  shW: Long, shR: Long, spill: Long,
                                  recR: Long, recW: Long)
  private val jobEvs = new ConcurrentLinkedQueue[JobEv]()
  private val taskEvs = new ConcurrentLinkedQueue[TaskEv]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t0 = System.nanoTime()
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobEvs.add(JobEv(e.jobId, e.time, g, e.stageIds))
      callbackNs += System.nanoTime() - t0
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t0 = System.nanoTime()
      val m = e.taskMetrics
      if (m != null)
        taskEvs.add(TaskEv(e.stageId, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten +
            m.shuffleWriteMetrics.recordsWritten))
      callbackNs += System.nanoTime() - t0
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` inside a span named `name`; `kind` defaults to the name. */
  def span[A](name: String, kind: String = "")(f: => A): A = {
    if (!enabled) return f
    val c0 = System.nanoTime()
    val s = new Span(nextId, name, if (kind.isEmpty) name else kind,
      open.headOption, System.currentTimeMillis(), System.nanoTime(),
      Proc.wchar())
    nextId += 1
    spans += s
    open = s :: open
    sc.setJobGroup(s"$runId/${s.id}", s.kind, interruptOnCancel = false)
    clientNs += System.nanoTime() - c0
    try f
    finally {
      val c1 = System.nanoTime()
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.wcharEnd = Proc.wchar()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId/${p.id}", p.kind,
          interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      clientNs += System.nanoTime() - c1
    }
  }

  /** Record an interval that ran before this tracer existed and ends now
    * (the session start) as a top-level span with no Spark cost.
    */
  def before(name: String, startMs: Long, startNs: Long): Unit =
    if (enabled) {
      val s = new Span(nextId, name, name, None, startMs, startNs, Proc.wchar())
      nextId += 1
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.wcharEnd = s.wcharStart
      spans += s
    }

  /** Attach a numeric attribute to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) open.headOption.foreach(_.attrs(key) = v)

  /** Time spent in tracing code: client-side span bookkeeping plus
    * listener callbacks, seconds.
    */
  def overheadSeconds: Double = (clientNs + callbackNs) / 1e9

  /** Wait for the listener bus, then credit every job and task to a span.
    * Returns the finished spans in start order.
    */
  def finish(): Seq[Span] = {
    if (!enabled) return Seq.empty
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    val byId = spans.map(s => s"$runId/${s.id}" -> s).toMap
    def innermostAt(ms: Long): Option[Span] =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs)
        .sortBy(s => -s.startNs).headOption
    val stageSpan = mutable.HashMap.empty[Int, Span]
    jobEvs.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val grouped = byId.get(j.group)
        .filter(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs)
      val target = grouped.orElse(innermostAt(j.timeMs))
      target.foreach { s =>
        s.cost = s.cost + SparkCost(jobs = 1)
        if (grouped.isEmpty) s.windowJobs += 1
        j.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = s)
      }
    }
    val seenStages = mutable.HashSet.empty[Int]
    taskEvs.asScala.foreach { t =>
      stageSpan.get(t.stageId).foreach { s =>
        val newStage = seenStages.add(t.stageId)
        s.cost = s.cost + SparkCost(stages = if (newStage) 1 else 0,
          tasks = 1, taskMs = t.runMs, gcMs = t.gcMs, shuffleWrite = t.shW,
          shuffleRead = t.shR, spill = t.spill, recordsRead = t.recR,
          recordsWritten = t.recW)
      }
    }
    spans.toSeq
  }

  /** Spark cost of `s` including its descendants. */
  def inclusiveCost(s: Span, all: Seq[Span]): SparkCost = {
    val kids = all.filter(_.parent.exists(_ eq s))
    kids.foldLeft(s.cost)((c, k) => c + inclusiveCost(k, all))
  }

  /** Span time not covered by its direct children, seconds. */
  def selfSeconds(s: Span, all: Seq[Span]): Double =
    s.seconds - all.filter(_.parent.exists(_ eq s)).map(_.seconds).sum

  /** Write the spans as JSON lines: name, kind, start, end, parent, run id,
    * self time and their Spark cost.
    */
  def write(all: Seq[Span], path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    def q(x: String) = "\"" + x + "\""
    try all.foreach { s =>
      val c = s.cost
      val fields = Seq(
        "run" -> q(runId), "id" -> s.id, "name" -> q(s.name),
        "kind" -> q(s.kind), "parent" -> s.parent.map(_.id).getOrElse(-1),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.seconds,
        "self_s" -> selfSeconds(s, all), "jobs" -> c.jobs,
        "window_jobs" -> s.windowJobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_ms" -> c.taskMs, "gc_ms" -> c.gcMs,
        "shuffle_write" -> c.shuffleWrite, "shuffle_read" -> c.shuffleRead,
        "spill" -> c.spill, "records_read" -> c.recordsRead,
        "records_written" -> c.recordsWritten, "wchar" -> s.wcharBytes) ++
        s.attrs.map { case (k, v) => k -> v }
      w.println(fields.map { case (k, v) => s"${q(k)}: $v" }
        .mkString("{", ", ", "}"))
    } finally w.close()
  }

  /** Jobs credited by time window rather than by job group. */
  def windowJobs(all: Seq[Span]): Int = all.map(_.windowJobs).sum
}
