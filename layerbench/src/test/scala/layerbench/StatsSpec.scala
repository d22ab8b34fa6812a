package layerbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest value with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == 90.0)
    assert(xs.count(_ > Stats.tail(xs)) == Stats.TailBeyond)
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == 90.0)
  }

  test("tail of exactly eleven samples is the smallest, of fewer the maximum") {
    assert(Stats.tail((1 to 11).map(_.toDouble)) == 1.0)
    assert(Stats.tail((1 to 10).map(_.toDouble)) == 10.0)
    assert(Stats.tail(Seq(5.0)) == 5.0)
    assert(Stats.tail(Nil) == 0.0)
    assert(Stats.tailPercentile(11) == 0.0)
    assert(Stats.tailPercentile(101) == 90.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("mixP50 is the weighted geometric mean of each kind's median") {
    val xs = Seq("a" -> 10.0, "a" -> 30.0, "a" -> 20.0, "b" -> 80.0, "c" -> 5.0)
    // a: median 20, weight 3; b: 80, weight 1; c has no weight
    val want = math.exp((3 * math.log(20.0) + math.log(80.0)) / 4)
    assert(math.abs(Stats.mixP50(xs, Map("a" -> 3, "b" -> 1)) - want) < 1e-9)
    // a kind with one median only is that median
    assert(math.abs(Stats.mixP50(xs.filter(_._1 == "a"), Map("a" -> 1)) - 20.0) < 1e-9)
    assert(Stats.mixP50(Nil, Map("a" -> 1)) == 0.0)
  }
}
