package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tumbling-window manager (`sqlflow/managers/window.py:20-90`):
  * periodically collects closed windows from the state table with the
  * user's `collect_closed_windows_sql`, flushes them to the manager's
  * sink, then deletes them with `delete_closed_windows_sql`. Window
  * "close" is processing-time (`bucket < now() - INTERVAL ...`) exactly
  * as in the reference; late rows for an already-emitted bucket create
  * a fresh state row and are re-emitted at the next poll (no dropping —
  * SURVEY §2B "Late data").
  *
  * In streaming mode a daemon thread polls every `pollIntervalSeconds`;
  * `flush()` is the synchronous form used by `dev invoke` golden tests
  * and shutdown (`lifecycle.py:94-98`). */
final class TumblingWindowManager(
    spark: SparkSession,
    table: StateTable,
    conf: TumblingWindowConf,
    sink: GraftSink,
    /** Shared with the micro-batch thread's handler invoke (the
      * reference's `threading.Lock` between `lifecycle.invoke` and
      * `Tumbling.poll`): a poll must not interleave with an upsert. */
    lock: AnyRef = new Object) {

  private val deleteSpec = SqlDialect.parseDelete(conf.deleteClosedWindowsSql)
    .getOrElse(throw new IllegalArgumentException(
      s"cannot parse delete_closed_windows_sql: ${conf.deleteClosedWindowsSql}"))
  require(deleteSpec.table == table.name,
    s"delete targets ${deleteSpec.table}, manager owns ${table.name}")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  @volatile private var running = false
  private var thread: Thread = _

  /** Collect-closed → sink → delete-closed. Returns the flushed rows.
    *
    * Runs under the batch-shared lock, and `now()` is frozen to one
    * instant for BOTH the collect and the delete: re-evaluating a
    * time-dependent predicate after the collect would silently delete
    * (never sink) any bucket that crosses the close threshold between
    * the two statements. */
  def flush(): DataFrame = lock.synchronized {
    table.registerView()
    val frozen = freezeNow
    val closed = spark.sql(frozen(SqlDialect.translate(conf.collectClosedWindowsSql)))
    // materialize before the delete mutates the view underneath
    val rows = closed.localCheckpoint(true)
    if (!rows.isEmpty) {
      sink.write(rows)
      sink.flush()
    }
    table.deleteWhere(frozen(deleteSpec.whereSql))
    rows
  }

  /** Replace now()/current_timestamp() with one captured UTC instant so
    * the collect and delete predicates agree exactly. (Session TZ is
    * UTC, so the literal is interpreted in UTC.) Quote-aware: the
    * substitution never fires inside string literals, and the
    * current_timestamp form requires a word boundary so columns like
    * `current_timestamp_utc` survive. */
  private def freezeNow: String => String = {
    val lit = "TIMESTAMP '" + java.time.LocalDateTime
      .ofInstant(java.time.Instant.now(), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")) + "'"
    val rep = java.util.regex.Matcher.quoteReplacement(lit)
    def subst(segment: String): String = segment
      .replaceAll("(?i)\\bnow\\s*\\(\\s*\\)", rep)
      .replaceAll("(?i)\\bcurrent_timestamp\\b\\s*(\\(\\s*\\))?", rep)
    sql => {
      // split on single-quoted literals, substitute only outside them
      val out = new StringBuilder
      var i = 0; var start = 0; var inQuote = false
      while (i < sql.length) {
        if (sql.charAt(i) == '\'') {
          if (inQuote) { out.append(sql.substring(start, i + 1)); start = i + 1 }
          else { out.append(subst(sql.substring(start, i))); start = i }
          inQuote = !inQuote
        }
        i += 1
      }
      out.append(
        if (inQuote) sql.substring(start) else subst(sql.substring(start)))
      out.toString
    }
  }

  /** Polls until [[stop]]. A failed poll is logged, counted in
    * `metrics` and retried at the next interval; `stop()`'s interrupt,
    * in the sleep or in a poll it cuts short, ends the thread cleanly.
    * A cut-short poll may surface as any exception with the interrupt
    * flag cleared, so the loop skips the sleep once `running` is false. */
  def start(metrics: GraftMetrics): Unit = {
    running = true
    thread = new Thread(() => {
      try {
        while (running) {
          try flush()
          catch { case NonFatal(e) =>
            if (running) {
              metrics.recordWindowManagerError()
              log.warn(s"window-manager poll of ${table.name} failed", e)
            }
          }
          if (running) Thread.sleep(conf.pollIntervalSeconds * 1000L)
        }
      } catch { case _: InterruptedException => () }
    }, s"tumbling-window-${table.name}")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running = false
    if (thread != null) {
      thread.interrupt()
      thread.join()
    }
  }
}
