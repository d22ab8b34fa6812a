package layerbench

/** Order statistics for latency samples. */
object Stats {

  /** Samples that must lie strictly above the reported tail value. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The median latency of a mix of request kinds: each kind's median,
    * combined as a geometric mean weighted by the kind's share of the
    * mix, so that a change of x% on any one kind moves it by the same
    * share. A plain median over the pooled samples would sit on the one
    * kind in the middle of the latency order and move with that kind's
    * few samples. Kinds with no sample or no weight are left out. */
  def mixP50(xs: Seq[(String, Double)], weights: Map[String, Int]): Double = {
    val meds = xs.groupBy(_._1).toSeq.collect {
      case (k, v) if weights.getOrElse(k, 0) > 0 => (weights(k).toDouble, median(v.map(_._2)))
    }
    val w = meds.map(_._1).sum
    if (w == 0) 0.0 else math.exp(meds.map { case (wk, m) => wk * math.log(m) }.sum / w)
  }

  /** The highest percentile with at least [[TailBeyond]] samples beyond
    * it: the value at ascending rank n - 1 - TailBeyond. With fewer than
    * TailBeyond + 1 samples no such percentile exists, and the maximum
    * is reported instead (the run is then too short for a tail). */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(if (s.length > TailBeyond) s.length - 1 - TailBeyond else s.length - 1)
    }

  /** The percentile [[tail]] reports, for labelling: 100·rank/(n-1). */
  def tailPercentile(n: Int): Double =
    if (n <= TailBeyond) 100.0 else 100.0 * (n - 1 - TailBeyond) / (n - 1)
}
