package perfbench

/** The benchmark's arithmetic: quantiles, the tail-percentile rule, exact
  * neighbours, recall and interval coverage. Pure functions, unit-checked
  * by [[SelfTest]]. */
object Stats {

  /** Linear-interpolation quantile (numpy's default) of unsorted samples. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** How many of `n` samples lie beyond the `p` quantile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  /** A percentile may be reported only with at least ten samples beyond it. */
  def tailOk(n: Int, p: Double): Boolean = beyond(n, p) >= 10

  /** The smallest sample count that lets `p` be reported. */
  def minSamples(p: Double): Int = Iterator.from(1).find(tailOk(_, p)).get

  private val Ladder = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** The highest percentile of the ladder that `n` samples support. */
  def highestTail(n: Int): Option[Double] = Ladder.filter(tailOk(n, _)).lastOption

  /** Squared L2 accumulated in double — the engine's distance. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Exact k nearest (id, squared distance), ties broken by id. */
  def exactTopK(q: Array[Float], vecs: Iterable[(String, Array[Float])], k: Int): Seq[(String, Double)] =
    vecs.iterator.map { case (id, v) => (id, l2sq(q, v)) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** Share of the exact top-k ids that the answer returned. */
  def recall(answer: Seq[String], exact: Seq[String]): Double =
    if (exact.isEmpty) 1.0 else exact.count(answer.toSet).toDouble / exact.size

  /** Milliseconds of [start, end) covered by the union of `intervals`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)

  /** Wall time of a call not covered by its own Spark jobs. */
  def driverTime(wallMs: Double, start: Long, end: Long, jobs: Seq[(Long, Long)]): Double =
    math.max(0.0, wallMs - covered(start, end, jobs))

  /** True when two distances agree to float-accumulation precision. */
  def sameDistance(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
}
