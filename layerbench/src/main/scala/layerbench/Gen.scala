package layerbench

import java.security.MessageDigest

/** Seeded random streams. Every input of every workload is drawn from
  * one of these, so a seed fixes the inputs byte for byte. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo) // [lo, hi)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian before JDK 17's
    // RandomGenerator default, whose algorithm is not pinned
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def bool(p: Double): Boolean = r.nextDouble() < p
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
  /** An independent stream derived from this one. */
  def fork(): Rng = new Rng(r.nextLong())
}

/** Zipf(s) over `items`: rank r has weight 1/r^s. The ranks are
  * shuffled once so that the hot items are spread over the id range. */
final class Zipf[T](items: IndexedSeq[T], s: Double, rng: Rng) {
  private val order = rng.shuffle(items)
  private val cdf = {
    val w = (1 to items.length).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(): T = {
    val u = rng.double()
    val i = java.util.Arrays.binarySearch(cdf, u)
    order(math.min(items.length - 1, if (i >= 0) i else -i - 1))
  }
}

object Zipf {
  /** The skew of every Zipf draw in the benchmark: YCSB's default
    * request distribution, Zipfian with constant 0.99 (Cooper et al.,
    * "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010). No
    * traffic data of the reference app exists to fit a skew to. */
  val Theta = 0.99
}

/** Draws items so that every `deck` of draws holds each item exactly its
  * weight's number of times, in seeded order: a run of a few decks sees
  * the mix in its exact proportions, whatever the seed. */
final class Deck[T](weights: Seq[(T, Int)], rng: Rng) {
  private val cards = weights.flatMap { case (t, w) => Seq.fill(w)(t) }.toIndexedSeq
  private var left: List[T] = Nil
  def next(): T = {
    if (left.isEmpty) left = rng.shuffle(cards).toList
    val t = left.head; left = left.tail; t
  }
}

object Fingerprint {
  /** SHA-256 of the rendering of every generated record, in order. */
  def of(records: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    records.foreach { r =>
      md.update(render(r).getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
  private def render(r: Any): String = r match {
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(render).mkString("(", ",", ")")
    case x => String.valueOf(x)
  }
}
