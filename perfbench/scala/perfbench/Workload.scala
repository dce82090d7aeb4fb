package perfbench

/** The benchmark's workloads: one pipeline config each, driven by the
  * load process through `graft.engine.SqlFlowCli run`. */
object Workload {
  sealed trait Kind
  case object Agg extends Kind
  case object Window extends Kind

  /** @param rate     open-loop send rate, events per second
    * @param backlog  burst size of the drain phase; an unmeasured burst
    *                 of half this size starts the warm-up
    * @param lateMs   latency limit counted by `late_frac`
    * @param users    user-id cardinality
    * @param zipf     Zipf(1.1)-skewed user ids instead of uniform */
  final case class Spec(
      name: String, kind: Kind, rate: Int, backlog: Int,
      lateMs: Long, users: Int, zipf: Boolean)

  val all: Seq[Spec] = Seq(
    Spec("clickstream_agg", Agg, rate = 20000, backlog = 400000,
      lateMs = 5000, users = 1000, zipf = false),
    Spec("window_upsert", Window, rate = 10000, backlog = 300000,
      lateMs = 8000, users = 50000, zipf = true))

  /** The pipelines' `batch_size`. */
  val BatchSize = 50000

  /** Unmeasured open-loop seconds after the warm-up burst, so the
    * measured loop starts at its steady trigger cadence. */
  val WarmupS = 1.0

  /** SUT lifetimes per untraced run; each is set up and measured, and
    * the end-to-end metrics are medians over them. */
  val Lives = 3

  /** Events in the warm-up slice whose results end a set-up. */
  val WarmSlice = 2000

  def byName(n: String): Spec = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (${all.map(_.name).mkString(", ")})"))

  /** Tumbling bucket and close margin of `window_upsert` (ms): a
    * bucket closes 10 s after it opens, well above the open loop's
    * latency, so an open-loop window is normally emitted once; one
    * that closes before all its events are in is emitted in parts. */
  val BucketMs = 2000L
  val CloseAfterMs = 10000L

  /** Pipeline config. `in`/`out`/`win` are queue topics on `brokers`. */
  def config(s: Spec, brokers: String, in: String, out: String, win: String): String = {
    val source =
      s"""  batch_size: $BatchSize
         |  source:
         |    type: queue
         |    queue: {brokers: "$brokers", topic: $in, auto_offset_reset: earliest}
         |  sink:
         |    type: queue
         |    queue: {brokers: "$brokers", topic: $out}
         |""".stripMargin
    s.kind match {
      case Window =>
        val closeS = CloseAfterMs / 1000
        s"""tables:
           |  sql:
           |    - name: win
           |      sql: |
           |        CREATE TABLE win (bucket TIMESTAMPTZ, user_id STRING, n BIGINT, last_ms BIGINT, last_seq BIGINT);
           |        CREATE UNIQUE INDEX win_idx ON win (bucket, user_id);
           |      manager:
           |        tumbling_window:
           |          poll_interval_seconds: 1
           |          collect_closed_windows_sql: |
           |            SELECT bucket, user_id, n FROM win
           |            WHERE bucket < (now()::timestamptz - INTERVAL '$closeS' SECOND)
           |          delete_closed_windows_sql: |
           |            DELETE FROM win WHERE bucket < (now()::timestamptz - INTERVAL '$closeS' SECOND)
           |        sink:
           |          type: queue
           |          queue: {brokers: "$brokers", topic: $win}
           |pipeline:
           |$source  handler:
           |    type: 'handlers.InferredMemBatch'
           |    sql: |
           |      INSERT INTO win BY NAME
           |      SELECT time_bucket(INTERVAL '${BucketMs / 1000} seconds', timestamp_millis(created_ms)) AS bucket,
           |             userId AS user_id, count(*) AS n,
           |             max(created_ms) AS last_ms, max(seq) AS last_seq
           |      FROM batch GROUP BY 1, 2
           |      ON CONFLICT (bucket, user_id) DO UPDATE SET n = n + EXCLUDED.n, last_ms = EXCLUDED.last_ms, last_seq = EXCLUDED.last_seq
           |""".stripMargin
      case Agg =>
        s"""pipeline:
           |$source  handler:
           |    type: 'handlers.InferredMemBatch'
           |    sql: |
           |      SELECT properties.city AS city, count(*) AS n,
           |             max(created_ms) AS last_ms, max(seq) AS last_seq
           |      FROM batch GROUP BY properties.city
           |""".stripMargin
    }
  }
}
