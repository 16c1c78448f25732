package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed region: a call into one layer of the program. Times are epoch
  * milliseconds with sub-millisecond resolution, on the same clock as
  * Spark's task launch and finish times. */
final case class Span(id: Int, name: String, parent: Int, start: Double,
                      end: Double, counts: Map[String, Double]) {
  def ms: Double = end - start
}

/** One Spark job and the counts of its tasks, keyed to the span that was
  * open on the submitting thread, the streaming query and batch that ran
  * it, and its SQL execution. */
final class JobRec(val span: Int, val query: String, val batch: Long,
                   val exec: Long, val start: Double) {
  var end: Double = start
  var tasks = 0
  var taskMs = 0.0
  var shuffleMb = 0.0
  var spillMb = 0.0
  var gcMs = 0.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

final case class Writes(files: Double, parts: Double, mb: Double)

/** Sums over a set of jobs. */
final case class JobStats(jobs: Int, tasks: Int, taskMs: Double, shuffleMb: Double,
                          spillMb: Double, gcMs: Double,
                          taskIntervals: Seq[(Double, Double)],
                          jobIntervals: Seq[(Double, Double)]) {
  /** Wall time in [start, end] when no task of these jobs ran: the
    * driver-side share (planning, scheduling, commits, listing). */
  def idleMs(start: Double, end: Double): Double =
    math.max(0.0, (end - start) - Trace.unionMs(taskIntervals, start, end))
  /** Wall time covered by these jobs. */
  def jobMs: Double = Trace.unionMs(jobIntervals, Double.MinValue, Double.MaxValue)
}

object JobStats {
  def of(js: Seq[JobRec]): JobStats = JobStats(js.size, js.map(_.tasks).sum,
    js.map(_.taskMs).sum, js.map(_.shuffleMb).sum, js.map(_.spillMb).sum,
    js.map(_.gcMs).sum, js.flatMap(_.taskIntervals), js.map(j => (j.start, j.end)))
}

/** Spans kept in memory while the benchmark runs, and the listener that
  * attributes Spark's job, task and SQL-execution counts to them.
  *
  * A span is opened by [[span]] on the benchmark thread; jobs submitted
  * inside it carry the span id as a local property, so the asynchronous
  * listener events find their span without timing guesses. Jobs run by a
  * streaming query carry its batch id instead.
  *
  * File counts come from the SQL executions' driver-side metrics: the
  * write command's written files, bytes and dynamic partitions, and each
  * parquet scan's files read, keyed by the scanned location. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(-1)
  private var nextId = 0
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  /** SQL execution id → its call site (the stack that started it). */
  private val execSite = mutable.Map.empty[Long, String]
  /** metric accumulator id → (execution, role); role is "files", "mb",
    * "parts" or "scan:" + scanned location */
  private val accumRole = mutable.Map.empty[Long, (Long, String)]
  private val accumValue = mutable.Map.empty[Long, Double]

  spark.sparkContext.addSparkListener(this)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  def span[T](name: String)(body: => T): T = spanWith(name)(body, (_: T) => Map.empty)

  /** Run `body` as a span; `counts` derives the span's own counts (rows
    * out, ...) from the result, after the span has closed. */
  def spanWith[T](name: String)(body: => T, counts: T => Map[String, Double]): T = {
    val sc = spark.sparkContext
    val id = synchronized { nextId += 1; nextId }
    val parent = open.head
    open = id :: open
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowMs()
    val out = try body finally {
      sc.setLocalProperty(SpanKey, prev)
      open = open.tail
    }
    val t1 = nowMs()
    synchronized { spans += Span(id, name, parent, t0, t1, counts(out)) }
    out
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Jobs started inside span `id` or its children. */
  def spanJobs(id: Int): Seq[JobRec] = synchronized {
    val ids = descendants(id)
    jobs.values.filter(j => ids(j.span)).toSeq
  }

  /** Jobs streaming query `query` ran for micro-batch `batch`. */
  def batchJobs(query: String, batch: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.query == query && j.batch == batch).toSeq
  }

  /** The jobs of `js` whose SQL execution was started from a stack that
    * mentions `frame` (e.g. "Volume$.upsertPartitioned"): attribution to a
    * call the program makes internally, where the benchmark cannot wrap it. */
  def calledFrom(js: Seq[JobRec], frame: String): Seq[JobRec] = synchronized {
    js.filter(j => execSite.get(j.exec).exists(_.contains(frame)))
  }

  private def metric(js: Seq[JobRec], role: String => Boolean): Double = synchronized {
    val execs = js.map(_.exec).filter(_ >= 0).toSet
    accumRole.collect { case (id, (e, r)) if execs(e) && role(r) => accumValue.getOrElse(id, 0.0) }.sum
  }

  /** Files, partitions and MB written by the SQL executions of `js`. */
  def writes(js: Seq[JobRec]): Writes =
    Writes(metric(js, _ == "files"), metric(js, _ == "parts"), metric(js, _ == "mb") / MB)

  /** Files read by the parquet scans of `js` under locations containing
    * `pathPart`. */
  def scannedFiles(js: Seq[JobRec], pathPart: String): Double =
    metric(js, r => r.startsWith("scan:") && r.contains(pathPart))

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Set[Int] = Set(i) ++ kids.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(id)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val job = new JobRec(
      prop(SpanKey).map(_.toInt).getOrElse(-1),
      prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.time.toDouble)
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val i = e.taskInfo
      j.tasks += 1
      j.taskIntervals += ((i.launchTime.toDouble, i.finishTime.toDouble))
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleMb += m.shuffleWriteMetrics.bytesWritten / MB
        j.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / MB
        j.gcMs += m.jvmGCTime
      }
    }
  }

  private def register(exec: Long, plan: SparkPlanInfo): Unit = {
    val write = plan.nodeName.startsWith("Execute InsertInto")
    val scan = plan.nodeName.startsWith("Scan ")
    plan.metrics.foreach { m =>
      val role = m.name match {
        case "number of written files" if write => Some("files")
        case "written output" if write => Some("mb")
        case "number of dynamic part" if write => Some("parts")
        case "number of files read" if scan => Some("scan:" + plan.metadata.getOrElse("Location", ""))
        case _ => None
      }
      role.foreach(r => accumRole(m.accumulatorId) = (exec, r))
    }
    plan.children.foreach(register(exec, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.details
      register(s.executionId, s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      register(u.executionId, u.sparkPlanInfo)
    }
    case d: SparkListenerDriverAccumUpdates => synchronized {
      d.accumUpdates.foreach { case (id, v) => accumValue(id) = v.toDouble }
    }
    case _ => ()
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val MB = 1024.0 * 1024.0

  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  def nowMs(): Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** A span's duration minus the part its child spans cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end))
    s.ms - unionMs(kids, s.start, s.end)
  }

  def spanJson(s: Span, all: Seq[Span]): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> selfMs(s, all),
    "counts" -> s.counts)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val v = xs.sorted
    val pos = q * (v.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, v.size - 1)
    v(lo) + (v(hi) - v(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
