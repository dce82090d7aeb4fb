package perfbench

/** Seeded input generators. Every attribute of event `i` is a pure
  * function of (seed, i), so a run's inputs depend only on the seed and
  * the event count, never on thread timing. The only run-dependent
  * field is `created_ms`, the event's scheduled send time, which the
  * caller stamps. */
object Gen {
  val Cities: Array[String] =
    Array("New York", "Baltimore", "San Francisco", "Austin", "Seattle")

  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform double in [0, 1) for stream `salt` of the seed. */
  def unit(seed: Long, salt: Long, i: Long): Double =
    (mix64(mix64(seed * 0x5851F42D4C957F2DL + salt) ^ i) >>> 11) * (1.0 / (1L << 53))

  /** Click events in the reference fixture shape (~250 bytes, five
    * uniform cities). `users` user ids, Zipf(1.1)-skewed when `zipf`,
    * uniform otherwise. */
  final class Clicks(seed: Long, users: Int, zipf: Boolean) {
    private val cdf: Array[Double] =
      if (!zipf) null
      else {
        val w = Array.tabulate(users)(r => 1.0 / math.pow(r + 1.0, 1.1))
        val total = w.sum
        var acc = 0.0
        w.map { x => acc += x; acc / total }
      }

    def city(i: Long): Int = (unit(seed, 1, i) * Cities.length).toInt

    def user(i: Long): Int = {
      val u = unit(seed, 2, i)
      if (cdf == null) (u * users).toInt
      else {
        val j = java.util.Arrays.binarySearch(cdf, u)
        math.min(users - 1, if (j >= 0) j else -j - 1)
      }
    }

    def json(i: Long, createdMs: Long): String = {
      val h = mix64(seed ^ (i * 31 + 7))
      s"""{"ip":"10.${(h & 255)}.${(h >>> 8) & 255}.${(h >>> 16) & 255}",""" +
        s""""event":"search_event","properties":{"city":"${Cities(city(i))}",""" +
        s""""country":"USA"},"timestamp":"2015-12-12T19:11:01.249Z",""" +
        s""""type":"track","userId":"u${user(i)}","seq":$i,"created_ms":$createdMs}"""
    }
  }

  /** Prints the first `n` generated inputs of a workload with a fixed
    * `created_ms`, one per line: `Gen <workload> <seed> <n>`. */
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, n) = args
    val w = Workload.byName(workload)
    val c = new Clicks(seed.toLong, w.users, w.zipf)
    (0L until n.toLong).foreach(i => println(c.json(i, 0L)))
  }
}
