package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as the times Spark's listener events carry.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is the id of the enclosing span ("" for
  * a benchmark-level span); `kind` is its level: a benchmark call
  * (`request`, `drain`, `query`), a `batch`, or a Spark `job` / `sql`
  * execution.
  */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** One Spark job as the listener bus reported it, with its tasks' totals. */
final class JobRec(val id: Int, val start: Long) {
  @volatile var end: Long = -1L
  val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWrite = new AtomicLong
}

/** One finished SQL execution as a [[QueryExecutionListener]] saw it. */
final case class SqlRec(funcName: String, planMs: Double, planStart: Double,
    durMs: Double, outputPath: String)

/** Everything recorded from Spark's public listener APIs: jobs and tasks
  * ([[SparkListener]]), SQL executions and their planning phases
  * ([[QueryExecutionListener]]), and micro-batch progress
  * ([[StreamingQueryListener]]). Installed by the benchmark, never by the
  * program; `full = false` keeps only the stream progress an untraced
  * run needs for the persist drain's per-batch times.
  */
final class Recorder(spark: SparkSession, full: Boolean) {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val sqls = new ConcurrentLinkedQueue[SqlRec]()
  val sqlStart = new ConcurrentHashMap[Long, Long]()
  val sqlEnd = new ConcurrentHashMap[Long, Long]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rec = new JobRec(e.jobId, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd => sqlEnd.put(s.executionId, s.time)
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) -1.0 else phases.map(_.startTimeMs).min.toDouble
      sqls.add(SqlRec(funcName, phases.map(_.durationMs).sum.toDouble, start,
        durationNs / 1e6, outputPath(qe)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def outputPath(qe: QueryExecution): String =
    try qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
      c.outputPath.toString }.getOrElse("")
    catch { case _: Exception => "" }


  private var attached = false

  /** Register the job and SQL listeners (a traced run does at start). */
  def attach(): Unit = synchronized {
    if (!attached) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      attached = true
    }
  }

  /** Unregister them again, for an untraced phase inside a traced run. */
  def detach(): Unit = synchronized {
    if (attached) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      attached = false
    }
  }

  spark.streams.addListener(streamListener)
  if (full) attach()

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)

  def clear(): Unit = {
    drain(); jobs.clear(); stageJob.clear(); sqls.clear()
    sqlStart.clear(); sqlEnd.clear(); progress.clear()
  }

  /** Micro-batch progress reports in batch order. */
  def batches: Seq[StreamingQueryProgress] = progress.asScala.toSeq.sortBy(p => (p.timestamp, p.batchId))

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.id)

  /** SQL executions as leaf spans (start and end from the listener bus). */
  def sqlIntervals: Seq[(Long, Double, Double)] =
    sqlStart.asScala.toSeq.flatMap { case (id, s) =>
      Option(sqlEnd.get(id)).map(e => (id, s.toDouble, e.toDouble)) }
}

object Trace {

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }

  /** The parent whose interval holds `t` (1 ms slack for the listener
    * bus's millisecond clock), or None.
    */
  def owner(parents: Seq[Span], t: Double): Option[Span] =
    parents.find(p => t >= p.start - 1.0 && t <= p.end + 1.0)

  /** Job and SQL-execution spans, each attributed by start time to the
    * innermost enclosing parent span and clipped to it.
    */
  def leafSpans(rec: Recorder, parents: Seq[Span]): Seq[Span] = {
    val jobSpans = rec.jobList.flatMap { j =>
      owner(parents, j.start.toDouble).map(p => Span(s"job-${j.id}", p.id, "job",
        s"job ${j.id}", math.max(j.start.toDouble, p.start), math.min(j.end.toDouble, p.end)))
    }
    val sqlSpans = rec.sqlIntervals.flatMap { case (id, s, e) =>
      owner(parents, s).map(p => Span(s"sql-$id", p.id, "sql", s"sql $id",
        math.max(s, p.start), math.min(e, p.end)))
    }
    jobSpans ++ sqlSpans
  }

  /** Jobs whose start lies inside `span`. */
  def jobsIn(rec: Recorder, span: Span): Seq[JobRec] =
    rec.jobList.filter(j => j.start >= span.start - 1.0 && j.start <= span.end + 1.0)

  /** SQL executions whose planning began inside `span`. */
  def sqlsIn(rec: Recorder, span: Span): Seq[SqlRec] =
    rec.sqls.asScala.toSeq.filter(q => q.planStart >= span.start - 1.0 && q.planStart <= span.end + 1.0)

  /** Time of `span` covered by the jobs that started inside it. */
  def jobMs(rec: Recorder, span: Span): Double =
    union(jobsIn(rec, span).map(j => (math.max(j.start.toDouble, span.start),
      math.min(j.end.toDouble, span.end))))

  /** Write spans as JSON lines. */
  def write(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
