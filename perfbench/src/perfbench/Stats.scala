package perfbench

/** Order statistics over a run's samples. Every sample is kept: there is no
  * minimum over passes.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 1)
    val s = xs.sorted
    s(math.ceil(p * s.size).toInt - 1)
  }

  /** Samples strictly above the nearest-rank `p` percentile's rank. */
  def above(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** The highest of `candidates` that leaves at least `minAbove` samples
    * above it, if any does.
    */
  def highestPercentile(n: Int, candidates: Seq[Double], minAbove: Int): Option[Double] =
    candidates.sorted.reverse.find(p => above(n, p) >= minAbove)

  /** Tracing overhead samples from a run of untraced (`u`) and traced (`t`)
    * walls in the order u0 t0 u1 t1 ... un: each traced wall minus the mean
    * of the untraced walls either side of it. t0 is left out because its
    * left neighbour u0 is the first timed iteration, which is still warming.
    */
  def pairedOverheads(u: Seq[Double], t: Seq[Double]): Seq[Double] = {
    require(u.size == t.size + 1, "untraced walls must bracket the traced ones")
    t.indices.drop(1).map(j => t(j) - (u(j) + u(j + 1)) / 2)
  }
}

/** JSON for the result lines, with the jackson Spark ships. Numbers keep
  * all their digits; maps keep their insertion order.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
