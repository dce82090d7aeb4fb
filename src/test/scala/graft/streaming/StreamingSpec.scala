package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.SparkTestBase
import graft.engine._

class StreamingSpec extends SparkTestBase {

  private def confFromString(yaml: String): Conf = Config.fromString(yaml)

  test("file-source pipeline: JSONL files stream through handler to sink") {
    val inDir = Files.createTempDirectory("graft_stream_in")
    val sink = new MemorySink
    val conf = confFromString(
      s"""pipeline:
         |  batch_size: 1000
         |  source:
         |    type: file
         |    file: {path: '$inDir', format: json}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: |
         |      SELECT properties.city as city, count(*) as city_count
         |      FROM batch GROUP BY city ORDER BY city DESC
         |  sink: {type: memory}
         |""".stripMargin)
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      Files.writeString(inDir.resolve("b1.jsonl"),
        """{"event":"search","properties":{"city":"New York"}}
          |{"event":"search","properties":{"city":"Baltimore"}}
          |""".stripMargin)
      running.processAllAvailable()
      assert(sink.allRows.toSet == Set(
        """{"city":"New York","city_count":1}""",
        """{"city":"Baltimore","city_count":1}"""))
      // second file → second, independent micro-batch
      Files.writeString(inDir.resolve("b2.jsonl"),
        """{"event":"search","properties":{"city":"Baltimore"}}
          |""".stripMargin)
      running.processAllAvailable()
      assert(sink.allRows.count(_.contains("Baltimore")) == 2)
    } finally running.stop()
  }

  test("webhook source: POST /events flows through the pipeline; HMAC matrix") {
    val sink = new MemorySink
    val secret = "s3cr3t"
    val conf = confFromString(
      s"""pipeline:
         |  batch_size: 10
         |  source:
         |    type: webhook
         |    webhook: {port: 0, signing_secret: $secret}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: |
         |      SELECT upper(name) as shout FROM batch
         |  sink: {type: memory}
         |""".stripMargin)
    // build the server directly to grab the bound port
    val session = Invoke.buildSession(spark, conf, Some(sink))
    val server = new WebhookServer(spark, conf.pipeline.source.webhook.get)
    server.start()
    val q = server.stream.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_wh_ckpt").toString)
      .foreachBatch { (raw: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        StreamingPipeline.processBatch(spark, session, conf.pipeline.onError, raw)
        ()
      }.start()
    try {
      val client = HttpClient.newHttpClient()
      val url = s"http://localhost:${server.port}/events"
      val body = """{"name": "ada"}"""
      def post(sig: Option[String]): Int = {
        val b = HttpRequest.newBuilder(URI.create(url))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        sig.foreach(s => b.header("X-Hub-Signature-256", s))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(post(None) == 400) // missing signature
      assert(post(Some("sha256=deadbeef")) == 403) // invalid signature
      val good = server.expectedSignature(secret, body.getBytes("UTF-8"))
      assert(post(Some(good)) == 200)
      q.processAllAvailable()
      assert(sink.allRows == Seq("""{"shout":"ADA"}"""))
    } finally {
      q.stop()
      server.stop()
    }
  }

  test("websocket source: text frames flow into the stream") {
    // minimal RFC-6455 server: one client, handshake + N unmasked text
    // frames (enough to drive the JDK WebSocket client the source uses)
    val server = new java.net.ServerSocket(0)
    val frames = Seq("""{"x":1}""", """{"x":2}""")
    val serverThread = new Thread(() => {
      val sock = server.accept()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      var key: String = null
      var line = in.readLine()
      while (line != null && line.nonEmpty) {
        if (line.toLowerCase.startsWith("sec-websocket-key:"))
          key = line.split(":", 2)(1).trim
        line = in.readLine()
      }
      val accept = java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-1").digest(
          (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes("UTF-8")))
      val out = sock.getOutputStream
      out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes("UTF-8"))
      frames.foreach { f =>
        val payload = f.getBytes("UTF-8")
        out.write(0x81); out.write(payload.length) // FIN+text, len < 126
        out.write(payload)
      }
      out.flush()
      Thread.sleep(2000) // keep open until the client has consumed
      sock.close()
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val sink = new MemorySink
    val conf = confFromString(
      s"""pipeline:
         |  batch_size: 10
         |  source:
         |    type: websocket
         |    websocket: {uri: 'ws://localhost:${server.getLocalPort}/feed'}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: SELECT x FROM batch ORDER BY x
         |  sink: {type: memory}
         |""".stripMargin)
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (sink.allRows.size < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        running.processAllAvailable()
      }
      assert(sink.allRows.toSet == Set("""{"x":1}""", """{"x":2}"""))
    } finally { running.stop(); server.close() }
  }

  test("window manager poll thread drains closed windows without manual flush") {
    val inDir = Files.createTempDirectory("graft_stream_poll")
    val managerSink = new MemorySink
    val conf = confFromString(
      s"""tables:
         |  sql:
         |    - name: poll_counts
         |      sql: |
         |        CREATE TABLE poll_counts (bucket TIMESTAMPTZ, city VARCHAR, count INT);
         |        CREATE UNIQUE INDEX pc_idx ON poll_counts (bucket, city);
         |      manager:
         |        tumbling_window:
         |          poll_interval_seconds: 1
         |          collect_closed_windows_sql: |
         |            SELECT strftime(date_trunc('hour', bucket), '%Y-%m-%dT%H:%M:%S') AS bucket, city, count
         |            FROM poll_counts
         |            WHERE bucket < (now()::timestamptz - INTERVAL '60' SECOND)
         |          delete_closed_windows_sql: |
         |            DELETE FROM poll_counts WHERE bucket < (now()::timestamptz - INTERVAL '60' SECOND)
         |        sink: {type: noop}
         |pipeline:
         |  batch_size: 1000
         |  source:
         |    type: file
         |    file: {path: '$inDir', format: json}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: |
         |      INSERT INTO poll_counts BY NAME
         |      SELECT date_trunc('hour', CAST(timestamp as TIMESTAMP)) as bucket,
         |             properties.city as city, count(*) as count
         |      FROM batch GROUP BY bucket, city
         |      ON CONFLICT (bucket, city) DO UPDATE SET count = count + EXCLUDED.count
         |  sink: {type: noop}
         |""".stripMargin)
    val running = StreamingPipeline.start(spark, conf,
      managerSinkOverride = Some(managerSink))
    try {
      Files.writeString(inDir.resolve("b1.jsonl"),
        """{"timestamp":"2015-12-12T19:11:01.249Z","event":"search","properties":{"city":"Austin"}}""" + "\n")
      running.processAllAvailable()
      // the 2015 bucket is long closed — the poll thread alone must
      // collect → sink → delete it (ADVICE r1: managers were built but
      // never started)
      val deadline = System.currentTimeMillis() + 15000
      while (managerSink.allRows.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(managerSink.allRows == Seq(
        """{"bucket":"2015-12-12T19:00:00","city":"Austin","count":1}"""))
      // and the state row is gone (manual flush now finds nothing)
      assert(running.session.managers.head.flush().isEmpty)
    } finally running.stop()
  }

  test("kafka_* metadata columns stay attached to decoded rows for handler SQL") {
    import spark.implicits._
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 10
        |  source:
        |    type: file
        |    file: {path: '/nonexistent', format: json}
        |  handler:
        |    type: 'handlers.InferredMemBatch'
        |    sql: |
        |      SELECT event, kafka_offset, kafka_partition, kafka_topic
        |      FROM batch ORDER BY kafka_offset
        |  sink: {type: memory}
        |""".stripMargin)
    val session = Invoke.buildSession(spark, conf, Some(sink))
    // a kafka-shaped raw micro-batch: value bytes + kafka_* metadata
    val raw = Seq(
      ("""{"event":"search"}""", 7L, 0, "clicks"),
      ("""{"event":"click"}""", 8L, 1, "clicks"))
      .toDF("value", "kafka_offset", "kafka_partition", "kafka_topic")
    StreamingPipeline.processBatch(spark, session, conf.pipeline.onError, raw)
    assert(sink.allRows == Seq(
      """{"event":"search","kafka_offset":7,"kafka_partition":0,"kafka_topic":"clicks"}""",
      """{"event":"click","kafka_offset":8,"kafka_partition":1,"kafka_topic":"clicks"}"""))
  }

  test("concurrent manager polls never lose rows (flush race fix)") {
    // The r1 advisor flagged: a poll re-evaluating `now()` after its
    // collect could delete a bucket that crossed the close threshold
    // mid-flush — silent data loss. With the shared lock + frozen
    // timestamp, every upserted count must end up EITHER sinked or
    // still in the table. Hammer upserts while a 1-ms-ish poll loop
    // runs, with buckets engineered to close DURING the run.
    import org.apache.spark.sql.functions._
    val managerSink = new MemorySink
    val conf = confFromString(
      """tables:
        |  sql:
        |    - name: race_counts
        |      sql: |
        |        CREATE TABLE race_counts (bucket TIMESTAMPTZ, city VARCHAR, count INT);
        |        CREATE UNIQUE INDEX rc_idx ON race_counts (bucket, city);
        |      manager:
        |        tumbling_window:
        |          poll_interval_seconds: 3600
        |          collect_closed_windows_sql: |
        |            SELECT strftime(bucket, '%Y-%m-%dT%H:%M:%S') AS bucket, city, count
        |            FROM race_counts
        |            WHERE bucket < (now()::timestamptz - INTERVAL '2' SECOND)
        |          delete_closed_windows_sql: |
        |            DELETE FROM race_counts WHERE bucket < (now()::timestamptz - INTERVAL '2' SECOND)
        |        sink: {type: noop}
        |pipeline:
        |  batch_size: 1000
        |  source: {type: kafka, kafka: {brokers: [b:9092], group_id: t, topics: [in]}}
        |  handler:
        |    type: 'handlers.InferredMemBatch'
        |    sql: |
        |      INSERT INTO race_counts BY NAME
        |      SELECT CAST(ts as TIMESTAMP) as bucket, city, count(*) as count
        |      FROM batch GROUP BY bucket, city
        |      ON CONFLICT (bucket, city) DO UPDATE SET count = count + EXCLUDED.count
        |  sink: {type: noop}
        |""".stripMargin)
    val session = Invoke.buildSession(spark, conf,
      managerSinkOverride = Some(managerSink))
    val manager = session.managers.head

    // poll concurrently (throttled — each flush is several Spark jobs)
    @volatile var polling = true
    val poller = new Thread(() => while (polling) {
      manager.flush(); Thread.sleep(150)
    })
    poller.start()
    val total = 15
    try {
      import spark.implicits._
      (1 to total).foreach { i =>
        // buckets stamped "now": they close (cross the 2s threshold)
        // while later upserts and polls are still running
        val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        val batch = Seq((ts, s"city$i")).toDF("ts", "city")
        session.lock.synchronized {
          session.handler.invoke(spark, batch)
        }
        Thread.sleep(100)
      }
      // let everything close, then drain
      Thread.sleep(2500)
      manager.flush()
    } finally { polling = false; poller.join() }

    val sinked = managerSink.allRows.size
    val remaining = session.tables("race_counts").df.count()
    assert(sinked + remaining == total,
      s"lost rows: sinked=$sinked remaining=$remaining (expected $total total)")
  }

  test("streaming tumbling window: upsert accumulates across micro-batches, manager drains") {
    val inDir = Files.createTempDirectory("graft_stream_win")
    val managerSink = new MemorySink
    val conf = confFromString(
      s"""tables:
         |  sql:
         |    - name: win_counts
         |      sql: |
         |        CREATE TABLE win_counts (bucket TIMESTAMPTZ, city VARCHAR, count INT);
         |        CREATE UNIQUE INDEX wc_idx ON win_counts (bucket, city);
         |      manager:
         |        tumbling_window:
         |          poll_interval_seconds: 3600
         |          collect_closed_windows_sql: |
         |            SELECT strftime(date_trunc('hour', bucket), '%Y-%m-%dT%H:%M:%S') AS bucket, city, count
         |            FROM win_counts
         |            WHERE bucket < (now()::timestamptz - INTERVAL '60' SECOND) ORDER BY city
         |          delete_closed_windows_sql: |
         |            DELETE FROM win_counts WHERE bucket < (now()::timestamptz - INTERVAL '60' SECOND)
         |        sink: {type: noop}
         |pipeline:
         |  batch_size: 1000
         |  source:
         |    type: file
         |    file: {path: '$inDir', format: json}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: |
         |      INSERT INTO win_counts BY NAME
         |      SELECT date_trunc('hour', CAST(timestamp as TIMESTAMP)) as bucket,
         |             properties.city as city, count(*) as count
         |      FROM batch GROUP BY bucket, city
         |      ON CONFLICT (bucket, city) DO UPDATE SET count = count + EXCLUDED.count
         |  sink: {type: noop}
         |""".stripMargin)
    val running = StreamingPipeline.start(spark, conf,
      managerSinkOverride = Some(managerSink))
    try {
      val row =
        """{"timestamp":"2015-12-12T19:11:01.249Z","event":"search","properties":{"city":"Austin"}}"""
      Files.writeString(inDir.resolve("b1.jsonl"), row + "\n")
      running.processAllAvailable()
      Files.writeString(inDir.resolve("b2.jsonl"), row + "\n" + row + "\n")
      running.processAllAvailable()
      // state: one open (2015) window row with count 3, closed (> 60s old)
      val flushed = running.session.managers.head.flush()
        .toJSON.collect().toSeq
      assert(flushed == Seq(
        """{"bucket":"2015-12-12T19:00:00","city":"Austin","count":3}"""))
      // drained: second flush is empty
      assert(running.session.managers.head.flush().isEmpty)
    } finally running.stop()
  }

  test("native-window handler: YAML-declared watermarked aggregation emits on close") {
    val inDir = Files.createTempDirectory("graft_nw_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      time_column: ts
        |      keys: [city]
        |      duration: '1 hour'
        |      watermark: '10 minutes'
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 19:11:01","city":"Austin"}
          |{"ts":"2015-12-12 19:20:02","city":"Austin"}
          |{"ts":"2015-12-12 19:40:03","city":"Boston"}
          |""".stripMargin)
      running.processAllAvailable()
      // 19:00 window still open (watermark 19:30 < 20:00): nothing emitted
      assert(sink.allRows.isEmpty, sink.allRows.toString)

      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 21:00:00","city":"Austin"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable() // watermark propagates on the next trigger
      val rows = sink.allRows.sorted
      assert(rows == Seq(
        """{"bucket":"2015-12-12T19:00:00.000Z","city":"Austin","count":2}""",
        """{"bucket":"2015-12-12T19:00:00.000Z","city":"Boston","count":1}"""),
        rows.toString)
    } finally running.stop()
  }

  test("native session windows: gap-separated bursts close on watermark with both bounds") {
    val inDir = Files.createTempDirectory("graft_ns_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      kind: session
        |      time_column: ts
        |      keys: [user]
        |      duration: '30 minutes'
        |      watermark: '10 minutes'
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      // one burst for A, one for B; batch-1 watermark stays at
      // 19:10:02 - 10min = 19:00:02 < every session end, so NOTHING
      // may emit yet regardless of how many empty emission batches
      // processAllAvailable squeezes in
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 19:00:01","user":"A"}
          |{"ts":"2015-12-12 19:10:02","user":"A"}
          |{"ts":"2015-12-12 19:05:00","user":"B"}
          |""".stripMargin)
      running.processAllAvailable()
      assert(sink.allRows.isEmpty, s"nothing may close early: ${sink.allRows}")

      // A's SECOND burst (gap > 30 min after the first) rides in with
      // the watermark-advancing C event: 23:00 - 10min = 22:50 passes
      // every A/B session end
      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 20:30:03","user":"A"}
          |{"ts":"2015-12-12 23:00:00","user":"C"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable()
      val rows = sink.allRows.sorted
      // session end = last event + gap; the two A events 10 min apart
      // MERGED into one session
      assert(rows == Seq(
        """{"session_start":"2015-12-12T19:00:01.000Z","session_end":"2015-12-12T19:40:02.000Z","user":"A","count":2}""",
        """{"session_start":"2015-12-12T19:05:00.000Z","session_end":"2015-12-12T19:35:00.000Z","user":"B","count":1}""",
        """{"session_start":"2015-12-12T20:30:03.000Z","session_end":"2015-12-12T21:00:03.000Z","user":"A","count":1}"""),
        rows.toString)
    } finally running.stop()
  }

  test("native sliding windows: overlapping hops each close independently on watermark") {
    val inDir = Files.createTempDirectory("graft_nsl_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      kind: sliding
        |      time_column: ts
        |      keys: [user]
        |      duration: '1 hour'
        |      slide: '30 minutes'
        |      watermark: '30 minutes'
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 19:10:00","user":"A"}
          |{"ts":"2015-12-12 19:40:00","user":"A"}
          |{"ts":"2015-12-12 19:10:00","user":"B"}
          |""".stripMargin)
      running.processAllAvailable()
      // watermark 19:40-30m = 19:10 < earliest window end 19:30
      assert(sink.allRows.isEmpty, s"nothing may close early: ${sink.allRows}")

      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 23:00:00","user":"C"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable()
      // each event fans out into duration/slide = 2 hops; A@19:10 and
      // A@19:40 SHARE the [19:00,20:00) hop (count 2); C's hops are
      // still open at watermark 22:30
      val rows = sink.allRows.sorted
      assert(rows == Seq(
        """{"bucket":"2015-12-12T18:30:00.000Z","user":"A","count":1}""",
        """{"bucket":"2015-12-12T18:30:00.000Z","user":"B","count":1}""",
        """{"bucket":"2015-12-12T19:00:00.000Z","user":"A","count":2}""",
        """{"bucket":"2015-12-12T19:00:00.000Z","user":"B","count":1}""",
        """{"bucket":"2015-12-12T19:30:00.000Z","user":"A","count":1}"""),
        rows.toString)
    } finally running.stop()
  }

  test("session windows compose with dedup_keys: replays collapse before session merge") {
    val inDir = Files.createTempDirectory("graft_nsd_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      kind: session
        |      time_column: ts
        |      keys: [user]
        |      duration: '30 minutes'
        |      watermark: '10 minutes'
        |      dedup_keys: [eid]
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      // e1 delivered THREE times (at-least-once replay) — must count once
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 19:00:01","user":"A","eid":"e1"}
          |{"ts":"2015-12-12 19:00:01","user":"A","eid":"e1"}
          |{"ts":"2015-12-12 19:00:01","user":"A","eid":"e1"}
          |{"ts":"2015-12-12 19:10:02","user":"A","eid":"e2"}
          |""".stripMargin)
      running.processAllAvailable()
      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 23:00:00","user":"C","eid":"e9"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable()
      val rows = sink.allRows.sorted
      assert(rows == Seq(
        """{"session_start":"2015-12-12T19:00:01.000Z","session_end":"2015-12-12T19:40:02.000Z","user":"A","count":2}"""),
        rows.toString)
    } finally running.stop()
  }

  test("streaming metrics expose state size, watermark, and late-row drops") {
    val inDir = Files.createTempDirectory("graft_met_in")
    val sink = new MemorySink
    val metrics = new graft.engine.GraftMetrics
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      time_column: ts
        |      keys: [user]
        |      duration: '1 hour'
        |      watermark: '10 minutes'
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    // the daemon (StreamingPipeline.run) registers this listener; tests
    // drive start() directly, so mirror the wiring
    val listener = metrics.listener
    spark.streams.addListener(listener)
    val running = StreamingPipeline.start(spark, conf,
      sinkOverride = Some(sink), metrics = metrics)
    try {
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 20:00:00","user":"A"}
          |""".stripMargin)
      running.processAllAvailable()
      // watermark is now 19:50; this event is over an hour late
      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 18:00:00","user":"A"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable()
      // listener delivery is async — bounded wait on the bus
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.lateRowsDropped.get < 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(metrics.lateRowsDropped.get >= 1, "late row not counted")
      assert(metrics.stateRows.get >= 1, "open-window state not reported")
      assert(metrics.watermarkEpochMs.get > 0, "watermark not reported")
      val body = metrics.render
      assert(body.contains("sqlflow_state_rows") &&
        body.contains("sqlflow_late_rows_dropped") &&
        body.contains("sqlflow_watermark_epoch_ms"), body)
    } finally {
      running.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("native-window update mode re-emits a window's running aggregate per trigger") {
    val inDir = Files.createTempDirectory("graft_nwu_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      time_column: ts
        |      keys: [city]
        |      duration: '1 hour'
        |      watermark: '10 minutes'
        |      mode: update
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 19:11:01","city":"Austin"}
          |""".stripMargin)
      running.processAllAvailable()
      // update mode: the OPEN 19:00 window is emitted immediately
      assert(sink.allRows ==
        Seq("""{"bucket":"2015-12-12T19:00:00.000Z","city":"Austin","count":1}"""),
        sink.allRows.toString)

      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 19:20:02","city":"Austin"}
          |""".stripMargin)
      running.processAllAvailable()
      // the changed window re-emits with its refreshed aggregate
      assert(sink.allRows.last ==
        """{"bucket":"2015-12-12T19:00:00.000Z","city":"Austin","count":2}""",
        sink.allRows.toString)
    } finally running.stop()
  }

  test("native-window dedup_keys: replayed events count once (exactly-once effect)") {
    val inDir = Files.createTempDirectory("graft_nwd_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      time_column: ts
        |      keys: [city]
        |      duration: '1 hour'
        |      watermark: '10 minutes'
        |      dedup_keys: [event_id]
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"event_id":"e1","ts":"2015-12-12 19:11:01","city":"Austin"}
          |{"event_id":"e2","ts":"2015-12-12 19:12:01","city":"Austin"}
          |""".stripMargin)
      running.processAllAvailable()
      // at-least-once source replays e2 (and a genuinely new e3 arrives)
      Files.writeString(inDir.resolve("b.jsonl"),
        """{"event_id":"e2","ts":"2015-12-12 19:12:01","city":"Austin"}
          |{"event_id":"e3","ts":"2015-12-12 19:13:01","city":"Austin"}
          |""".stripMargin)
      running.processAllAvailable()
      Files.writeString(inDir.resolve("c.jsonl"),
        """{"event_id":"e9","ts":"2015-12-12 21:00:00","city":"Austin"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable()
      // e2's replay must not double-count: 3 distinct events, not 4
      assert(sink.allRows.contains(
        """{"bucket":"2015-12-12T19:00:00.000Z","city":"Austin","count":3}"""),
        sink.allRows.toString)
    } finally running.stop()
  }

  test("checkpoint recovery: restart resumes after committed offsets, no reprocessing") {
    val inDir = Files.createTempDirectory("graft_ckpt_in")
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val yaml =
      s"""pipeline:
         |  batch_size: 1000
         |  source:
         |    type: file
         |    file: {path: '$inDir', format: json}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: |
         |      SELECT event, count(*) as n FROM batch GROUP BY event ORDER BY event
         |  sink: {type: memory}
         |""".stripMargin

    val sink1 = new MemorySink
    val r1 = StreamingPipeline.start(spark, confFromString(yaml),
      sinkOverride = Some(sink1), checkpointDir = Some(ckpt))
    try {
      Files.writeString(inDir.resolve("a.jsonl"), """{"event":"one"}""" + "\n")
      r1.processAllAvailable()
      assert(sink1.allRows == Seq("""{"event":"one","n":1}"""))
    } finally r1.stop()

    // new data lands while the daemon is down
    Files.writeString(inDir.resolve("b.jsonl"), """{"event":"two"}""" + "\n")

    val sink2 = new MemorySink
    val r2 = StreamingPipeline.start(spark, confFromString(yaml),
      sinkOverride = Some(sink2), checkpointDir = Some(ckpt))
    try {
      r2.processAllAvailable()
      // the committed first file is NOT reprocessed (checkpoint ≈ the
      // reference's post-flush source.commit); only the new file flows
      assert(sink2.allRows == Seq("""{"event":"two","n":1}"""), sink2.allRows.toString)
    } finally r2.stop()
  }

  test("stream-static join re-resolves the dimension per micro-batch (slowly-changing dim)") {
    // the reference's ATTACH-ed lookup tables are re-queried per batch;
    // the Spark port's equivalent contract: a handler-SQL join against
    // a CSV-backed view observes dimension-file changes at the NEXT
    // trigger (views re-resolve per query execution — no stale cache)
    val inDir = Files.createTempDirectory("graft_dim_in")
    val dimDir = Files.createTempDirectory("graft_dim")
    Files.writeString(dimDir.resolve("dim.csv"), "code,name\n1,alpha\n")
    val yaml =
      s"""commands:
         |  - sql: CREATE VIEW dim AS SELECT * FROM read_csv_auto('$dimDir/dim.csv')
         |pipeline:
         |  batch_size: 1000
         |  source:
         |    type: file
         |    file: {path: '$inDir', format: json}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: |
         |      SELECT b.code, d.name FROM batch b LEFT JOIN dim d ON b.code = d.code ORDER BY b.code
         |  sink: {type: memory}
         |""".stripMargin
    val sink = new MemorySink
    val run = StreamingPipeline.start(spark, confFromString(yaml),
      sinkOverride = Some(sink))
    try {
      Files.writeString(inDir.resolve("a.jsonl"), """{"code":1}""" + "\n")
      run.processAllAvailable()
      assert(sink.allRows == Seq("""{"code":1,"name":"alpha"}"""))
      // dimension updated between triggers: code 1 renamed, code 2 added
      Files.writeString(dimDir.resolve("dim.csv"),
        "code,name\n1,alpha2\n2,beta\n")
      Files.writeString(inDir.resolve("b.jsonl"),
        """{"code":1}""" + "\n" + """{"code":2}""" + "\n")
      run.processAllAvailable()
      assert(sink.allRows.drop(1) ==
        Seq("""{"code":1,"name":"alpha2"}""", """{"code":2,"name":"beta"}"""),
        sink.allRows.toString)
    } finally run.stop()
  }

  test("state_store: rocksdb — tumbling window state survives the RocksDB provider") {
    // same scenario as the YAML-declared aggregation test, but with
    // window state held by RocksDBStateStoreProvider: state crosses
    // micro-batches (accumulate then emit-on-close) identically. The
    // provider is snapshotted into the query's own cloned session at
    // start and the shared conf restores IMMEDIATELY (StateStores) —
    // a co-hosted batch caller never observes the daemon's provider,
    // even while the daemon runs
    val inDir = Files.createTempDirectory("graft_rdb_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      time_column: ts
        |      keys: [city]
        |      duration: '1 hour'
        |      watermark: '10 minutes'
        |      state_partitions: 4
        |      state_store: rocksdb
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      assert(spark.conf.getOption(key) == before,
        "provider conf must restore at start, not at stop")
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 19:11:01","city":"Austin"}
          |{"ts":"2015-12-12 19:20:02","city":"Austin"}
          |{"ts":"2015-12-12 19:40:03","city":"Boston"}
          |""".stripMargin)
      running.processAllAvailable()
      assert(sink.allRows.isEmpty, sink.allRows.toString)
      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 21:00:00","city":"Austin"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable()
      val rows = sink.allRows.sorted
      assert(rows == Seq(
        """{"bucket":"2015-12-12T19:00:00.000Z","city":"Austin","count":2}""",
        """{"bucket":"2015-12-12T19:00:00.000Z","city":"Boston","count":1}"""),
        rows.toString)
      // the query really ran on RocksDB despite the restored session
      // conf: the provider surfaces rocksdb* custom state metrics
      import scala.jdk.CollectionConverters._
      val lp = running.query.lastProgress
      assert(lp != null && lp.stateOperators.nonEmpty &&
        lp.stateOperators.exists(_.customMetrics.keySet.asScala
          .exists(_.startsWith("rocksdb"))),
        s"expected rocksdb state metrics, got: $lp")
    } finally running.stop()
    assert(spark.conf.getOption(key) == before,
      "provider conf must restore on stop")
  }

  test("state_store: rocksdb — dedup + session-window state under RocksDB") {
    // the two OTHER stateful operators the daemon runs —
    // dropDuplicatesWithinWatermark and session_window merge — on the
    // RocksDB backend: replayed events collapse once, gap-separated
    // bursts still close correctly on watermark
    val inDir = Files.createTempDirectory("graft_rdb2_in")
    val sink = new MemorySink
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '%DIR%', format: json}
        |  handler:
        |    type: 'handlers.NativeWindow'
        |    window:
        |      kind: session
        |      time_column: ts
        |      keys: [user]
        |      duration: '10 minutes'
        |      watermark: '5 minutes'
        |      dedup_keys: [eid]
        |      state_partitions: 4
        |      state_store: rocksdb
        |  sink: {type: memory}
        |""".stripMargin.replace("%DIR%", inDir.toString))
    val running = StreamingPipeline.start(spark, conf, sinkOverride = Some(sink))
    try {
      Files.writeString(inDir.resolve("a.jsonl"),
        """{"ts":"2015-12-12 19:00:00","user":"u1","eid":"e1"}
          |{"ts":"2015-12-12 19:05:00","user":"u1","eid":"e2"}
          |{"ts":"2015-12-12 19:05:00","user":"u1","eid":"e2"}
          |""".stripMargin)
      running.processAllAvailable()
      Files.writeString(inDir.resolve("b.jsonl"),
        """{"ts":"2015-12-12 21:00:00","user":"u1","eid":"e9"}
          |""".stripMargin)
      running.processAllAvailable()
      running.processAllAvailable()
      val rows = sink.allRows.filter(_.contains("19:00"))
      // replayed e2 counted once: session 19:00–19:15 has count 2
      assert(rows.size == 1 && rows.head.contains("\"count\":2"), sink.allRows.toString)
    } finally running.stop()
  }

  // ---- processBatch decode: both paths, every error policy ----------

  // one message corpus for every decode case: a type-widened field
  // (amount 1 → 2.5), a field present in one message only (extra), an
  // explicit null, arrays, and one truncated message
  private val decodeMsgs = Seq(
    """{"id":1,"city":"Austin","amount":1,"tags":["a"]}""",
    """{"id":2,"city":"Boston","amount":2.5,"extra":{"k":"v"}}""",
    """{"id":3,"city":"Austin","amount":null}""",
    """{"id":4,"city":"Denver","amount":4,"tags":[]}""")
  private val truncated = """{"id":5,"city":"""
  private val rowsSql = "SELECT id, city, amount, tags, extra FROM batch ORDER BY id"

  /** Runs one processBatch over `values`, as a kafka_*-carrying batch
    * when `withMeta` (the source's metadata-bridge path) or as a bare
    * `value` column; returns the sink rows and the DLQ records without
    * their wall-clock timestamp. */
  private def decodeRun(values: Seq[String], withMeta: Boolean,
      policy: String = "RAISE", sql: String = rowsSql)
      : (Seq[String], Seq[(String, String, String)]) = {
    import spark.implicits._
    val sink = new MemorySink
    val dlq = new MemorySink
    val conf = confFromString(
      s"""pipeline:
         |  batch_size: 10
         |  source:
         |    type: file
         |    file: {path: '/nonexistent', format: json}
         |  handler:
         |    type: 'handlers.InferredMemBatch'
         |    sql: $sql
         |  sink: {type: memory}
         |""".stripMargin)
    val session = Invoke.buildSession(spark, conf, Some(sink))
      .copy(dlq = Some(dlq))
    val raw =
      if (withMeta) values.zipWithIndex
        .map { case (v, i) => (v, i.toLong, i % 2, "clicks") }
        .toDF("value", "kafka_offset", "kafka_partition", "kafka_topic")
      else values.toDF("value")
    StreamingPipeline.processBatch(spark, session,
      ErrorPolicyConf(policy, None), raw)
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val fmts: Formats = DefaultFormats
    val dead = dlq.allRows.map { r =>
      val j = parse(r)
      ((j \ "error").extract[String], (j \ "message").extract[String],
        (j \ "phase").extract[String])
    }
    (sink.allRows, dead)
  }

  private def bothPaths(values: Seq[String], policy: String = "RAISE",
      sql: String = rowsSql) =
    Seq(false, true).map(m => decodeRun(values, m, policy, sql))

  private val cleanRows = Seq(
    """{"id":1,"city":"Austin","amount":1.0,"tags":["a"]}""",
    """{"id":2,"city":"Boston","amount":2.5,"extra":{"k":"v"}}""",
    """{"id":3,"city":"Austin"}""",
    """{"id":4,"city":"Denver","amount":4.0,"tags":[]}""")

  private val deadLetter = ("malformed JSON", truncated, "handler.write")

  test("decode: clean batch decodes identically with and without kafka_* columns") {
    assert(bothPaths(decodeMsgs) == Seq.fill(2)((cleanRows, Nil)))
  }

  test("decode: RAISE fails the batch on one malformed message") {
    Seq(false, true).foreach { m =>
      val e = intercept[IllegalArgumentException](
        decodeRun(decodeMsgs :+ truncated, m))
      assert(e.getMessage == "malformed JSON message in batch")
    }
  }

  test("decode: IGNORE drops the malformed message and keeps the rest") {
    assert(bothPaths(decodeMsgs :+ truncated, "IGNORE") ==
      Seq.fill(2)((cleanRows, Nil)))
  }

  test("decode: DLQ routes the malformed message and sinks the rest") {
    assert(bothPaths(decodeMsgs :+ truncated, "DLQ") ==
      Seq.fill(2)((cleanRows, Seq(deadLetter))))
  }

  test("decode: an empty batch returns before the handler runs") {
    assert(bothPaths(Nil) == Seq.fill(2)((Seq.empty[String], Nil)))
  }

  test("decode: a batch of blank values") {
    // no message parses to a field: the bare path's reader yields no
    // rows, the kafka_* path keeps one metadata-only row per message
    assert(bothPaths(Seq("", "   "), "IGNORE",
      "SELECT count(*) AS n FROM batch") ==
      Seq((Seq("""{"n":0}"""), Nil), (Seq("""{"n":2}"""), Nil)))
  }

  test("decode: a handler that self-joins batch sees the same rows on both sides") {
    val sql = "SELECT a.id, b.id AS peer FROM batch a JOIN batch b " +
      "ON a.city = b.city AND a.id < b.id ORDER BY a.id, peer"
    assert(bothPaths(decodeMsgs :+ truncated, "DLQ", sql) ==
      Seq.fill(2)((Seq("""{"id":1,"peer":3}"""), Seq(deadLetter))))
  }

  test("decode job budget: one Spark job decodes a 1,000-message kafka_* batch") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.graftx.Listeners
    val sc = spark.sparkContext
    // count only this thread's jobs: a tag in the submitting thread's
    // local properties rides on every job it starts
    val tag = "graft.spec.decodeBudget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.incrementAndGet()
    }
    // the handler's SELECT is lazy, so every job started before the
    // sink's write belongs to the decode
    var decodeJobs = -1
    val memory = new MemorySink
    val sink = new GraftSink {
      override def write(df: org.apache.spark.sql.DataFrame): Long = {
        Listeners.waitUntilListenerBusEmpty(sc)
        decodeJobs = jobs.get
        memory.write(df)
      }
    }
    val conf = confFromString(
      """pipeline:
        |  batch_size: 1000
        |  source:
        |    type: file
        |    file: {path: '/nonexistent', format: json}
        |  handler:
        |    type: 'handlers.InferredMemBatch'
        |    sql: SELECT city, count(*) AS n FROM batch GROUP BY city ORDER BY city
        |  sink: {type: memory}
        |""".stripMargin)
    val session = Invoke.buildSession(spark, conf, Some(sink))
    val cities = Seq("Austin", "Boston", "Denver", "Miami", "Seattle")
    val raw = (0 until 1000).map { i =>
      (s"""{"seq":$i,"city":"${cities(i % 5)}","event":"click"}""",
        i.toLong, 0, "clicks")
    }.toDF("value", "kafka_offset", "kafka_partition", "kafka_topic")
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try StreamingPipeline.processBatch(spark, session, conf.pipeline.onError, raw)
    finally {
      sc.setLocalProperty(tag, null)
      Listeners.waitUntilListenerBusEmpty(sc)
      sc.removeSparkListener(listener)
    }
    assert(memory.allRows == cities.map(c => s"""{"city":"$c","n":200}"""))
    // the decode's one job is schema inference, which also fills the
    // batch's cache; the rest belong to the GROUP BY ... ORDER BY
    assert(decodeJobs == 1, "decode jobs")
    assert(jobs.get == 5, "jobs per batch")
  }

  test("decode cache hygiene: 20 batches, one failing under RAISE and one empty, leave no cache") {
    // baseline an empty cache so the assertion sees only processBatch
    // (the session is shared across suites)
    spark.sharedState.cacheManager.clearCache()
    (0 until 20).foreach { i =>
      val meta = i % 2 == 0
      i match {
        case 7 => decodeRun(Nil, meta)
        case 12 => intercept[IllegalArgumentException](
          decodeRun(decodeMsgs :+ truncated, meta))
        case _ => decodeRun(decodeMsgs, meta)
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "processBatch leaked a cached micro-batch")
  }
}
