package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.streaming.{GraftQueueBroker, GraftQueueClient}

/** The load process. It hosts the program's queue broker, launches the
  * system under test (`graft.engine.SqlFlowCli run`) in its own JVM,
  * sends seeded events on a fixed open-loop schedule and then as a
  * burst backlog, and times results as they arrive on the output
  * topics. Raw samples go to a JSON file; `perfbench/run.py` turns them
  * into metrics.
  *
  * Usage: Load --workload W --seed N --seconds S --trace 0|1
  *             --classpath FILE --out DIR */
object Load {
  import Json.mapper

  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()

  /** Wall-clock ms with sub-ms resolution, for arrival stamps. */
  def nowMs(): Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def log(msg: String): Unit = System.err.println(s"[load] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spec = Workload.byName(opt("workload"))
    val out = Paths.get(opt("out")).toAbsolutePath
    Files.createDirectories(out)
    val run = new Run(spec, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Files.readString(Paths.get(opt("classpath"))).trim, out)
    val result = run.execute()
    Files.writeString(out.resolve("result.json"), mapper.writeValueAsString(result))
  }

  /** JDK 17 module opens Spark needs outside spark-submit. */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** SUTs still running; a terminated load process stops them. */
  val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Sut]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => live.forEach(_.stop())))

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** One SUT JVM running a pipeline config. */
final class Sut(cp: String, dir: Path, yaml: String, cpus: Int, trace: Boolean) {
  Files.createDirectories(dir.resolve("tmp"))
  private val cfg = dir.resolve("pipeline.yml")
  Files.writeString(cfg, yaml)
  val metricsPort: Int = Load.freePort()
  val traceFile: Path = dir.resolve("trace.jsonl")
  private val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
  private val traceProps =
    if (!trace) Seq()
    else Seq(
      "-Dspark.extraListeners=perfbench.JobTrace",
      "-Dspark.sql.streaming.streamingQueryListeners=perfbench.ProgressTrace",
      "-Dspark.sql.queryExecutionListeners=perfbench.PlanTrace",
      s"-Dperfbench.trace=$traceFile")
  private val cmd = Seq(javaBin) ++ Load.addOpens ++ Seq("-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
    s"-Djava.io.tmpdir=${dir.resolve("tmp")}",
    s"-Dspark.local.dir=${dir.resolve("tmp")}",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
    traceProps ++ Seq("-cp", cp, "graft.engine.SqlFlowCli", "run", cfg.toString,
      "--metrics-port", metricsPort.toString)
  private val pb = new ProcessBuilder(cmd: _*).directory(dir.toFile)
    .redirectOutput(dir.resolve("sut.out").toFile)
    .redirectError(dir.resolve("sut.err").toFile)
  pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
  val launchedNs: Long = System.nanoTime()
  private val proc = pb.start()
  Load.live.add(this)

  def alive: Boolean = proc.isAlive

  private def status(field: String): Long =
    Files.readAllLines(Paths.get(s"/proc/${proc.pid}/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Peak resident set (VmHWM), MB. */
  def peakRssMb: Double = status("VmHWM") / 1024.0

  /** Process CPU seconds so far (utime + stime). */
  def cpuSeconds: Double = {
    val stat = Files.readString(Paths.get(s"/proc/${proc.pid}/stat"))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  /** `/metrics` counters, scraped over HTTP. */
  def scrape(): Map[String, Double] = try {
    val conn = new java.net.URL(s"http://localhost:$metricsPort/metrics")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(2000); conn.setReadTimeout(5000)
    val body = new String(conn.getInputStream.readAllBytes(), UTF_8)
    conn.disconnect()
    body.linesIterator.filterNot(_.startsWith("#")).flatMap { l =>
      l.split(" ") match {
        case Array(k, v) => v.toDoubleOption.map(k -> _)
        case _ => None
      }
    }.toMap
  } catch { case _: Exception => Map.empty }

  /** SIGTERM (or SIGKILL), then wait; on SIGTERM the JVM's shutdown
    * hooks write the trace. */
  def stop(kill: Boolean = false): Unit = {
    Load.live.remove(this)
    if (kill) proc.destroyForcibly() else proc.destroy()
    if (!proc.waitFor(60, TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}

/** Polls one output topic and queues (arrival ms, row) pairs. End
  * offsets are read in-process (the load process hosts the broker);
  * records are fetched over the socket only when there are new ones. */
final class Consumer(broker: GraftQueueBroker, topic: String) extends Thread(s"consume-$topic") {
  val rows = new ConcurrentLinkedQueue[(Double, JsonNode)]()
  @volatile var running = true
  private val offsets = mutable.Map[Int, Long]().withDefaultValue(0L)
  setDaemon(true)

  override def run(): Unit = while (running) {
    var got = false
    try {
      broker.endOffsets(topic).foreach { case (p, end) =>
        while (offsets(p) < end) {
          val chunk = GraftQueueClient.fetch(broker.address, topic, p, offsets(p), 4096)
          val now = Load.nowMs()
          chunk.foreach(b => rows.add(now -> Json.mapper.readTree(b)))
          offsets(p) += chunk.length
          got = true
        }
      }
    } catch { case e: Exception => Load.log(s"consume $topic: $e") }
    if (!got) Thread.sleep(2)
  }
}

/** One benchmark run: SUT lifetimes one after another. Each is timed
  * from launch to its warm-up slice's results (set-up), warmed with an
  * unmeasured burst and a short open loop, then measured in an open
  * loop at the fixed rate and in one burst drain. A fresh JVM's figures
  * differ from the last one's about as much as another run's do (JIT,
  * heap layout), so an untraced run reports medians over `Lives`
  * lifetimes; a traced run has one. */
final class Run(spec: Workload.Spec, seed: Long, seconds: Double, trace: Boolean,
    cp: String, out: Path) {
  import Workload._

  private val clicks = new Gen.Clicks(seed, spec.users, spec.zipf)
  // Spark cores of the SUT; the fourth is left to the load process
  private val cpus = 3
  private val lives = if (trace) 1 else Lives
  private val opened = mutable.ArrayBuffer[Rep]()

  /** One SUT life on a broker of its own: its topics, outputs, and
    * what was sent to it. */
  private final class Rep(name: String, sutCpus: Int, traced: Boolean) {
    opened += this
    val broker = new GraftQueueBroker()
    broker.start()
    val (in, outTopic, win) = ("in", "out", "win")
    Seq(in, outTopic, win).foreach(broker.createTopic(_, 4))
    val sut = new Sut(cp, out.resolve(name),
      Workload.config(spec, broker.address, in, outTopic, win), sutCpus, traced)
    val results = new Consumer(broker, outTopic)
    val windows = new Consumer(broker, win)
    results.start(); if (spec.kind == Window) windows.start()

    // what was sent: scheduled send time per event id
    val created = new mutable.ArrayBuffer[Long]()
    def sent: Long = created.length
    // (ms, events sent so far) after every send, for source lag
    val sentSeries = new mutable.ArrayBuffer[(Double, Long)]()

    /** Generates events [sent, sent+n) stamped `stamp(i)`; they count
      * as sent from here on, so `publish` them before waiting. */
    def generate(n: Int, stamp: Long => Long): Seq[String] = {
      val from = sent
      (from until from + n).map { i =>
        val t = stamp(i); created += t; clicks.json(i, t)
      }
    }

    /** Appends generated messages to the input topic, round-robin. */
    def publish(msgs: Seq[String]): Unit = {
      broker.publish(in, msgs, 4)
      sentSeries += ((Load.nowMs(), sent))
    }

    def send(n: Int, stamp: Long => Long): Unit = publish(generate(n, stamp))

    // --- output bookkeeping (main thread only) ---
    var coveredEvents = 0L                 // Σ n over result rows
    var lastArrival = 0.0
    var windowEvents = 0L                  // Σ n over emitted windows
    // per result: (arrival, scheduled send of its newest event, events covered, newest id)
    val outs = new mutable.ArrayBuffer[(Double, Long, Long, Long)]()
    val cityGot = new Array[Long](Gen.Cities.length)
    val deltaGot = mutable.HashMap[(Long, Int), Long]()
    val emitted = mutable.ArrayBuffer[(Double, Long, Int, Long)]() // (arrival, bucket, user, n)
    val open = mutable.HashSet[(Long, Int)]()
    var peakOpen = 0
    var malformed = 0L

    private def bucketMs(n: JsonNode): Long = {
      val b = n.get("bucket")
      if (b.isNumber) b.asLong else java.time.OffsetDateTime.parse(b.asText).toInstant.toEpochMilli
    }
    private def user(n: JsonNode): Int = n.get("user_id").asText.stripPrefix("u").toInt

    def drainOutputs(): Unit = {
      var r = results.rows.poll()
      while (r != null) {
        val (at, n) = r
        try {
          val w = n.get("n").asLong
          outs += ((at, n.get("last_ms").asLong, w, n.get("last_seq").asLong))
          coveredEvents += w
          lastArrival = math.max(lastArrival, at)
          spec.kind match {
            case Agg => cityGot(Gen.Cities.indexOf(n.get("city").asText)) += w
            case Window =>
              val k = (bucketMs(n), user(n))
              deltaGot(k) = deltaGot.getOrElse(k, 0L) + w
              open += k
              peakOpen = math.max(peakOpen, open.size)
          }
        } catch { case _: Exception => malformed += 1 }
        r = results.rows.poll()
      }
      var e = windows.rows.poll()
      while (e != null) {
        val (at, n) = e
        try {
          val k = (bucketMs(n), user(n))
          val c = n.get("n").asLong
          emitted += (((at, k._1, k._2, c)))
          windowEvents += c
          open -= k
        } catch { case _: Exception => malformed += 1 }
        e = windows.rows.poll()
      }
    }

    /** Waits until outputs cover every event sent; false on timeout. */
    def awaitCovered(timeoutMs: Long): Boolean = {
      val want = sent
      val deadline = System.currentTimeMillis() + timeoutMs
      drainOutputs()
      while (coveredEvents < want && System.currentTimeMillis() < deadline && sut.alive) {
        Thread.sleep(2)
        drainOutputs()
      }
      coveredEvents >= want
    }

    /** Waits until the emitted windows cover every event sent, at most
      * `graceMs` after the last bucket sent to has become closable;
      * false on timeout. A window that closes while its events are
      * still arriving is emitted in parts (late rows are re-emitted at
      * the next poll), so only the totals are final. */
    def awaitWindows(graceMs: Long): Boolean = {
      val lastBucket = Math.floorDiv(created.max, BucketMs) * BucketMs
      val deadline = lastBucket + CloseAfterMs + graceMs
      drainOutputs()
      while (windowEvents < sent && Load.nowMs() < deadline && sut.alive) {
        Thread.sleep(5)
        drainOutputs()
      }
      windowEvents >= sent
    }

    private var closed = false

    /** Stops the SUT and the broker; `kill` skips the SUT's shutdown
      * hooks (no trace to write, nothing left to measure). */
    def close(kill: Boolean = false): Unit = if (!closed) {
      closed = true
      results.running = false; windows.running = false
      sut.stop(kill)
      results.join(5000); windows.join(5000)
      broker.stop()
    }
  }

  private def setupTimeoutMs = 150000L
  // how long after the last bucket became closable its windows may take
  private val WindowGraceMs = 15000L

  /** Launch, send the warm-up slice, wait for its results. */
  private def setUp(name: String, sutCpus: Int, traced: Boolean): (Rep, Double) = {
    val rep = new Rep(name, sutCpus, traced)
    val now = math.round(Load.nowMs())
    rep.send(WarmSlice, _ => now)
    val ok = rep.awaitCovered(setupTimeoutMs)
    val s = (System.nanoTime() - rep.sut.launchedNs) / 1e9
    if (!ok) throw new IllegalStateException(
      s"$name: warm-up results incomplete after ${setupTimeoutMs / 1000}s " +
        s"(covered ${rep.coveredEvents}/${rep.sent}; SUT alive=${rep.sut.alive}); see ${out.resolve(name)}/sut.err")
    Load.log(f"$name: set-up $s%.2fs")
    (rep, s)
  }

  /** Open loop at `spec.rate` for `durationS`; returns generator
    * lateness (ms): how far behind its schedule any send ran. */
  private def openLoop(rep: Rep, durationS: Double): Double = {
    val total = math.round(spec.rate * durationS)
    val first = rep.sent
    val t0 = System.nanoTime(); val epoch0 = Load.nowMs()
    def due(i: Long): Double = (i - first) * 1000.0 / spec.rate
    var k = 0L; var late = 0.0
    while (k < total) {
      val elapsed = (System.nanoTime() - t0) / 1e6
      val ready = math.min(total, (elapsed * spec.rate / 1000.0).toLong + 1)
      // whole rounds of 4 keep the broker's round-robin balanced
      val n = if (ready == total) ready - k else (ready - k) / 4 * 4
      if (n > 0) {
        late = math.max(late, elapsed - due(first + k))
        rep.send(n.toInt, i => math.round(epoch0 + due(i)))
        k += n
      } else java.util.concurrent.locks.LockSupport.parkNanos(200000)
      rep.drainOutputs()
    }
    late
  }

  /** Sends one burst backlog of `n` events, all stamped with one time,
    * and waits for its results: (covered, seconds from publish to the
    * last result). The backlog is generated before the clock starts so
    * that only the system's work is timed. */
  private def drain(rep: Rep, n: Int): (Boolean, Double) = {
    val genAt = math.round(Load.nowMs())
    val backlog = rep.generate(n, _ => genAt)
    val burstAt = Load.nowMs()
    rep.publish(backlog)
    val covered = rep.awaitCovered(120000)
    (covered, (rep.lastArrival - burstAt) / 1000.0)
  }

  def execute(): Map[String, Any] =
    try body() finally opened.foreach(_.close(kill = true))

  private def body(): Map[String, Any] = {
    val measured = (1 to lives).map(r => life(s"sut$r", seconds / lives, last = r == lives))
    // single-core baseline of the same drain (traced runs only)
    val drain1cpu =
      if (!trace) -1.0
      else {
        val (one, _) = setUp("cpu1", 1, traced = false)
        val (ok, secs) = drain(one, spec.backlog)
        one.close(kill = true)
        if (ok) spec.backlog / secs else -1.0
      }
    Map(
      "workload" -> spec.name, "seed" -> seed, "seconds" -> seconds,
      "rate" -> spec.rate, "backlog" -> spec.backlog, "late_limit_ms" -> spec.lateMs,
      "close_after_ms" -> CloseAfterMs, "bucket_ms" -> BucketMs,
      "lives" -> measured, "drain_eps_1cpu" -> drain1cpu)
  }

  /** One SUT lifetime; `openS` seconds of measured open loop. The last
    * lifetime also waits for the window manager to emit every window,
    * so its emitted totals can be checked exactly. */
  private def life(name: String, openS: Double, last: Boolean): Map[String, Any] = {
    val (rep, setupS) = setUp(name, cpus, trace)
    val warmStart = Load.nowMs()
    drain(rep, spec.backlog / 2)
    openLoop(rep, WarmupS)

    val cpu0 = rep.sut.cpuSeconds; val wall0 = System.nanoTime()
    val openFrom = rep.sent
    val openStart = Load.nowMs()
    val genLate = openLoop(rep, openS)
    val openTo = rep.sent
    val openEnd = Load.nowMs()
    val openCovered = rep.awaitCovered(spec.lateMs + 30000)

    val drainStart = Load.nowMs()
    val (drainCovered, drainS) = drain(rep, spec.backlog)
    val drainEnd = Load.nowMs()
    val cpuS = rep.sut.cpuSeconds - cpu0
    val wallS = (System.nanoTime() - wall0) / 1e9
    val rss = rep.sut.peakRssMb
    val scraped = rep.sut.scrape()
    val windowsCovered = spec.kind != Window || !last || rep.awaitWindows(WindowGraceMs)
    Load.log(f"$name: warm-up ${(openStart - warmStart) / 1000}%.1fs, open loop " +
      f"${(openEnd - openStart) / 1000}%.1fs (+${(drainStart - openEnd) / 1000}%.1fs), " +
      f"drain ${(drainEnd - drainStart) / 1000}%.1fs, windows ${(Load.nowMs() - drainEnd) / 1000}%.1fs")
    if (trace) Thread.sleep(1000) // let the listener bus catch up
    rep.close(kill = !trace)
    rep.drainOutputs()

    val openSamples = rep.outs.filter { case (_, _, _, seq) =>
      seq >= openFrom && seq < openTo }
    Map(
      "setup_s" -> setupS,
      "open" -> Map(
        "sent" -> (openTo - openFrom),
        "covered" -> openCovered,
        "start_ms" -> openStart, "end_ms" -> openEnd, "gen_late_ms" -> genLate,
        "results" -> openSamples.map { case (at, sched, w, _) => Seq(at, sched, w) }.toSeq),
      "drain" -> Map("events" -> spec.backlog, "seconds" -> drainS,
        "covered" -> drainCovered, "start_ms" -> drainStart, "end_ms" -> drainEnd),
      "peak_rss_mb" -> rss, "cpu_s" -> cpuS, "wall_s" -> wallS,
      "metrics" -> scraped,
      "window" -> Map(
        "emitted" -> rep.emitted.map { case (at, b, _, n) => Seq(at, b, n) }.toSeq,
        "peak_open_keys" -> rep.peakOpen),
      "sent_series" -> (if (trace) rep.sentSeries.map { case (t, n) => Seq(t, n) }.toSeq
        else Seq()),
      "trace_file" -> (if (trace) rep.sut.traceFile.toString else ""),
      "checks" -> correctness(rep, windowsCovered, last))
  }

  /** Output correctness against the generator; failures are counted in
    * events the outputs get wrong. */
  private def correctness(rep: Rep, windowsCovered: Boolean, complete: Boolean): Map[String, Any] = {
    val problems = mutable.ArrayBuffer[String]()
    var failed = 0L
    val n = rep.sent
    spec.kind match {
      case Agg =>
        val want = new Array[Long](Gen.Cities.length)
        (0L until n).foreach(i => want(clicks.city(i)) += 1)
        Gen.Cities.indices.foreach { c =>
          if (want(c) != rep.cityGot(c)) {
            failed += math.abs(want(c) - rep.cityGot(c))
            problems += s"${Gen.Cities(c)}: sent ${want(c)}, counted ${rep.cityGot(c)}"
          }
        }
      case Window =>
        val want = mutable.HashMap[(Long, Int), Long]()
        (0L until n).foreach { i =>
          val k = (Math.floorDiv(rep.created(i.toInt), BucketMs) * BucketMs, clicks.user(i))
          want(k) = want.getOrElse(k, 0L) + 1
        }
        (want.keySet ++ rep.deltaGot.keySet).foreach { k =>
          val (a, b) = (want.getOrElse(k, 0L), rep.deltaGot.getOrElse(k, 0L))
          if (a != b) {
            failed += math.abs(a - b)
            if (problems.size < 5) problems += s"delta $k: sent $a, upserted $b"
          }
        }
        // windows close by processing time and late rows are re-emitted,
        // so a key may be emitted in parts: their sum may not exceed the
        // generator's count, and equals it once every bucket has closed
        // and been waited for (`complete`)
        val got = mutable.HashMap[(Long, Int), Long]()
        rep.emitted.foreach { case (_, b, u, c) => got((b, u)) = got.getOrElse((b, u), 0L) + c }
        if (!windowsCovered)
          problems += s"windows cover ${rep.windowEvents}/$n events ${WindowGraceMs / 1000}s after the last bucket closed"
        (want.keySet ++ got.keySet).foreach { k =>
          val (a, b) = (want.getOrElse(k, 0L), got.getOrElse(k, 0L))
          if (b > a || (complete && a != b)) {
            failed += math.abs(a - b)
            if (problems.size < 10) problems += s"window $k: sent $a, emitted $b"
          }
        }
    }
    if (rep.malformed > 0) {
      failed += rep.malformed; problems += s"${rep.malformed} malformed output rows"
    }
    Map("attempted" -> n, "failed" -> failed, "problems" -> problems.toSeq)
  }
}
