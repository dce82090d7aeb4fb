package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span store of the traced run, loaded into the SUT through Spark's
  * listener settings. Records stay in memory and are written as JSON
  * lines to `-Dperfbench.trace` when the JVM exits. */
object TraceLog {
  private val records = new ConcurrentLinkedQueue[Map[String, Any]]()

  def add(kind: String, fields: (String, Any)*): Unit =
    records.add(Map[String, Any]("kind" -> kind) ++ fields)

  sys.props.get("perfbench.trace").foreach { path =>
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val lines = records.asScala.map(Json.mapper.writeValueAsString)
      Files.write(Paths.get(path), lines.asJava)
      ()
    }))
  }
}

/** Job and stage spans. A job's parent trigger is its
  * `streaming.sql.batchId` property. Its call site is the innermost
  * `graft.` frame of the thread that submitted it, while that thread
  * waits for the job (in `runJob`, or for AQE's map stages, in the
  * adaptive plan's event loop). Spark's own `callSite.short` cannot
  * serve: the stream thread inherits it from `start()`, so every
  * trigger job would carry that one site. Listener events arrive after
  * the fact, so a sampler thread reads the submitting threads' stacks
  * every `SampleMs` and keeps each thread's site transitions; a job
  * takes the site that covers most of its span. */
final class JobTrace extends SparkListener {
  private val SampleMs = 5L
  private val open = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  // thread name -> (time -> site from then on, "" when not in a job)
  private val sites =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentSkipListMap[Long, String]]()

  private def streamThread(t: Thread) = t.getName.startsWith("stream execution thread")

  private def siteOf(stack: Array[StackTraceElement]): String =
    stack.find(_.getClassName.startsWith("graft."))
      .map(f => s"${f.getMethodName} at ${f.getFileName}:${f.getLineNumber}")
      .getOrElse("")

  private val sampler = new Thread(() => {
    var threads = Seq.empty[Thread]
    var refreshed = 0L
    while (true) {
      val now = System.currentTimeMillis()
      if (now - refreshed > 1000) {
        // the micro-batch thread and the window managers' poll threads
        threads = Thread.getAllStackTraces.keySet.asScala.toSeq.filter { t =>
          streamThread(t) || t.getName.startsWith("tumbling-window")
        }
        refreshed = now
      }
      threads.foreach { t =>
        val h = sites.computeIfAbsent(t.getName,
          _ => new java.util.concurrent.ConcurrentSkipListMap[Long, String]())
        val site = siteOf(t.getStackTrace)
        val last = h.lastEntry()
        if (last == null || last.getValue != site) h.put(now, site)
      }
      Thread.sleep(SampleMs)
    }
  }, "perfbench-site-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** The site covering most of [start, end] on the submitting threads. */
  private def siteFor(start: Long, end: Long, stream: Boolean): String = {
    val cover = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    sites.asScala.foreach { case (name, h) =>
      if (name.startsWith("stream execution thread") == stream) {
        val from = Option(h.floorKey(start)).getOrElse(start)
        val it = h.subMap(from, true, end + SampleMs, true).entrySet.iterator
        var prev: java.util.Map.Entry[Long, String] = null
        def add(e: java.util.Map.Entry[Long, String], until: Long): Unit =
          if (e.getValue.nonEmpty)
            cover(e.getValue) += math.max(1L, math.min(until, end) - math.max(e.getKey, start))
        while (it.hasNext) {
          val e = it.next()
          if (prev != null) add(prev, e.getKey)
          prev = e
        }
        if (prev != null) add(prev, end)
      }
    }
    if (cover.isEmpty) "" else cover.maxBy(_._2)._1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = open.put(e.jobId, e)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = open.remove(e.jobId)
    if (s != null) {
      val p = Option(s.properties).getOrElse(new java.util.Properties)
      val batch = Option(p.getProperty("streaming.sql.batchId")).map(_.toLong)
      TraceLog.add("job", "id" -> e.jobId, "start" -> s.time, "end" -> e.time,
        "batch" -> batch, "site" -> siteFor(s.time, e.time, batch.isDefined),
        "sql" -> Option(p.getProperty("spark.sql.execution.id")).map(_.toLong),
        "stages" -> s.stageIds,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    TraceLog.add("stage", "id" -> si.stageId, "tasks" -> si.numTasks,
      "start" -> si.submissionTime.getOrElse(0L),
      "end" -> si.completionTime.getOrElse(0L),
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_bytes" -> (if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
  }
}

/** Trigger spans from `StreamingQueryProgress`. */
final class ProgressTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    TraceLog.add("progress", "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start_offset" -> src.map(_.startOffset).orNull,
      "end_offset" -> src.map(_.endOffset).orNull,
      "latest_offset" -> src.map(_.latestOffset).orNull)
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * executed query, keyed by SQL execution id. */
final class PlanTrace extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Map[String, Long] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    TraceLog.add("plan", "sql" -> qe.id, "func" -> funcName,
      "end" -> System.currentTimeMillis(), "exec_ms" -> durationNs / 1e6,
      "phases" -> phases(qe))

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    TraceLog.add("plan", "sql" -> qe.id, "func" -> funcName,
      "end" -> System.currentTimeMillis(), "phases" -> phases(qe), "error" -> error.toString)
}
