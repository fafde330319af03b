package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for traced runs.
  *
  * Benchmark spans (catch-up, publish, pass, query-construct,
  * query-action) are opened around the benchmark's own calls into the
  * program. Spark jobs, stages, SQL executions and streaming progress (one
  * record per trigger) are recorded by listeners this recorder registers; a job names the span it
  * ran under through the `perfbench.span` local property of the thread
  * that submitted it, and its call site through the name of its result
  * stage (`callSite.short`). Everything is kept in memory and written as JSON
  * lines by [[write]], once, at the end of the run; the offline
  * aggregation (layers.py) attributes jobs to program modules by the
  * source file in their call site and computes self times.
  *
  * When tracing is off nothing is registered and [[span]] only runs its
  * body. */
final class Trace(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0L)
  private val records = new ConcurrentLinkedQueue[String]()
  private val open = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  @volatile private var spark: SparkSession = _

  private def now: Double = System.nanoTime() / 1e6
  private def wallMs: Double = System.currentTimeMillis().toDouble

  private def emit(fields: (String, Any)*): Unit =
    records.add(Json.obj(("run", runId) +: fields: _*))

  /** Run `body` as a span of `kind` named `name`; nested spans on the same
    * thread get this span as parent. */
  def span[T](kind: String, name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      val sc = Option(spark).map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty("perfbench.span"))
      open.set(id)
      sc.foreach(_.setLocalProperty("perfbench.span", id.toString))
      val t0 = now
      val w0 = wallMs
      try body
      finally {
        val t1 = now
        open.set(parent)
        sc.foreach(_.setLocalProperty("perfbench.span", prevProp.flatMap(Option(_)).orNull))
        emit(Seq("type" -> "span", "id" -> id, "parent" -> parent.toLong,
          "kind" -> kind, "name" -> name, "start_ms" -> w0,
          "dur_ms" -> (t1 - t0)) ++ attrs: _*)
      }
    }

  /** A point record (counters measured by the benchmark itself). */
  def event(kind: String, fields: (String, Any)*): Unit =
    if (enabled) emit(Seq("type" -> "event", "kind" -> kind) ++ fields: _*)

  /** Register the listeners on a session (traced runs only). */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
        emit("type" -> "job_start", "job" -> e.jobId, "time_ms" -> e.time.toDouble,
          // a job's call site is the short form its result stage is named
          // by; a job whose result stage persists its RDD materialises a
          // staged frame (engine.Staging's localCheckpoint or persist)
          "callsite" -> result.map(_.name).getOrElse(""),
          "persists" -> result.exists(_.rddInfos.exists(_.storageLevel.isValid)),
          "span" -> prop("perfbench.span"),
          "query_id" -> prop("sql.streaming.queryId"),
          "batch_id" -> prop("streaming.sql.batchId"),
          "stages" -> e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        emit("type" -> "job_end", "job" -> e.jobId, "time_ms" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = Option(i.taskMetrics)
        emit("type" -> "stage", "stage" -> i.stageId, "tasks" -> i.numTasks,
          "submit_ms" -> i.submissionTime.getOrElse(0L).toDouble,
          "end_ms" -> i.completionTime.getOrElse(0L).toDouble,
          "task_ms" -> m.map(_.executorRunTime).getOrElse(0L),
          "shuffle_read" -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
          "shuffle_write" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          "spill" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
        emit("type" -> "sql", "func" -> f, "time_ms" -> wallMs,
          "dur_ms" -> durationNs / 1e6,
          "planning_ms" -> qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
        emit("type" -> "progress", "query" -> Option(p.name).getOrElse(""),
          "query_id" -> p.id.toString, "batch_id" -> p.batchId,
          "time_ms" -> wallMs, "input_rows" -> p.numInputRows,
          "duration" -> d.toMap,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    })
  }

  /** Write every record as JSON lines (traced runs only). */
  def write(path: String): Unit = if (enabled) {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try records.asScala.foreach { r => w.write(r); w.newLine() }
    finally w.close()
  }
}

/** Minimal JSON writer for the benchmark's records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
