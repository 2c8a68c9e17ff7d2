package perfbench

/** Summary statistics the benchmark reports. Pure functions, no Spark. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Wall time of a typical pass: each operation's median over the passes,
    * summed. A stall in one operation of one pass moves it less than it
    * moves the median of whole-pass times. Every pass runs the same
    * operations in the same order.
    */
  def typicalPass(passes: Seq[Seq[Double]]): Double = {
    require(passes.nonEmpty && passes.forall(_.size == passes.head.size), "passes of unequal length")
    passes.transpose.map(median).sum
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    // The epsilon keeps float error in p * n from skipping a rank.
    val rank = math.ceil(p * s.length / 100.0 - 1e-9).toInt.max(1)
    s(rank - 1)
  }

  /** Percentiles the tail rule may choose from, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail the sample count supports.
    *
    * @param pct    the chosen percentile
    * @param value  the latency at that percentile
    * @param beyond how many samples lie strictly above `value`
    */
  final case class Tail(pct: Double, value: Double, beyond: Int)

  /** Samples a tail percentile needs strictly above it. */
  val MinBeyond = 10

  /** The highest percentile of [[TailLadder]] with at least [[MinBeyond]]
    * samples strictly above it. When no rung has that many (fewer than
    * about 20 samples), the median is returned with whatever count lies
    * above it, so the record says how thin the tail is.
    */
  def tail(xs: Seq[Double]): Tail = {
    def at(p: Double): Tail = {
      val v = percentile(xs, p)
      Tail(p, v, xs.count(_ > v))
    }
    TailLadder.iterator.map(at).find(_.beyond >= MinBeyond).getOrElse(at(50.0))
  }
}
