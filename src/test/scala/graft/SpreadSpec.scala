package graft

import org.apache.spark.sql.functions._

import graft.queries.Tables

/** Tables.spread sizing law (round 14): size-derived count, floored at
  * `graft.spread.minPartitions` only when the input carries ≥2
  * task-quanta of bytes, floored at defaultParallelism for
  * computeBound callers, capped at defaultParallelism — and the
  * current-partition guard must not repartition an already-wide frame.
  * The probe side is covered implicitly: every case here runs through
  * staticPartitions/.rdd and must agree with the executed counts. */
class SpreadSpec extends SparkTestBase {

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def parts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("sub-quantum inputs are never repartitioned (daemon per-trigger frames keep their 1-task shape)") {
    import spark.implicits._
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("id", "t").coalesce(1)
    // bytes << targetBytesPerTask → sized == 1 → no floor, no shuffle
    assert(parts(Tables.spread(tiny)) == 1)
  }

  test("multi-quantum inputs floor at min(minPartitions, defaultParallelism)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, "x" * 50)).toDF("id", "t").coalesce(1)
    // force sized ≥ 2 with a tiny quantum; local[4] → floor = min(8, 4) = 4
    withConf("graft.spread.targetBytesPerTask" -> "1024") {
      val p = parts(Tables.spread(df))
      assert(p == 4, s"expected the core-count floor 4, got $p")
    }
    // explicit minPartitions below the core count wins
    withConf("graft.spread.targetBytesPerTask" -> "4096",
        "graft.spread.minPartitions" -> "2") {
      val p = parts(Tables.spread(df))
      assert(p >= 2 && p <= 4, s"got $p")
    }
  }

  test("computeBound floors at defaultParallelism (the v02 crossJoin regression)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, "x" * 50)).toDF("id", "t").coalesce(1)
    withConf("graft.spread.targetBytesPerTask" -> "1024") {
      // local[4]: byte-derived would stop at the 8-cap/minParts floor;
      // computeBound must use every core
      assert(parts(Tables.spread(df, computeBound = true)) == 4)
    }
  }

  test("a coalesce below an exchange narrows the frame: repartition(n).coalesce(1) widens") {
    import spark.implicits._
    val narrowed = (1 to 500).map(i => (i.toLong, "x" * 50)).toDF("id", "t")
      .repartition(4).coalesce(1)
    assert(parts(narrowed) == 1)
    withConf("graft.spread.targetBytesPerTask" -> "1024") {
      // the exchange declares 4, but the frame runs as one task: the
      // guard must read the coalesce, not look through it
      val p = parts(Tables.spread(narrowed))
      assert(p == 4, s"expected the core-count floor 4, got $p")
    }
  }

  test("already-wide frames pass through without a new exchange") {
    import spark.implicits._
    val wide = (1 to 500).map(i => (i.toLong, "x" * 50)).toDF("id", "t")
      .repartition(4)
    withConf("graft.spread.targetBytesPerTask" -> "1024") {
      val out = Tables.spread(wide)
      // want = cap = 4 = current → same frame, no extra repartition
      assert(out eq wide)
    }
  }
}
