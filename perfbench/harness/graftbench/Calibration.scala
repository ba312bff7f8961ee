package graftbench

import org.apache.spark.SparkContext

/** A fixed reference job that does not touch graft: it measures how fast
  * the host runs Spark work at the moment. On a shared host that speed
  * drifts over minutes by a third or more, and every time of a run drifts
  * with it. `job_chains` reports its times scaled by the reference job's
  * median over the run (`host_scale` in metrics.py, README.md).
  *
  * The job is plain RDD code, so that no graft rule or Catalyst plan can
  * change its cost: two jobs of `4 × cores` tasks and a shuffle each,
  * about 0.3 s on 4 cores. */
object Calibration {
  private val words = 1 << 15 // 256 KB per task: past L1, within L2
  private val steps = 1 << 21

  /** Task `p`'s share: a chain of xorshift steps, each loading and
    * updating a random word of its table. It allocates only the table,
    * so that a collection rarely falls inside a sample. Returns
    * (key, checksum) for 64 keys. */
  private def work(p: Int): Iterator[(Int, Long)] = {
    val a = new Array[Long](words)
    var x = p * 0x9E3779B97F4A7C15L | 1L
    var s = 0L
    var i = 0
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = ((x ^ s) & (words - 1)).toInt
      s += a(j) + x
      a(j) = s
      i += 1
    }
    Iterator.tabulate(64)(k => (k, s >>> k))
  }

  /** Runs the reference job once; returns the process CPU seconds and
    * wall seconds it took. */
  def measure(sc: SparkContext, cores: Int): (Double, Double) = {
    val a = Proc.mark()
    val parts = cores * 4
    val sum = (0 until 2).map { j =>
      sc.parallelize(0 until parts, parts).flatMap(p => work(j * parts + p))
        .reduceByKey(_ ^ _, cores).map(_._2 & 0xffff).sum()
    }.sum
    require(sum >= 0)
    val iv = Proc.interval(a, Proc.mark())
    (iv("cpu_s"), iv("wall_s"))
  }
}
