package layerbench

import org.scalatest.funsuite.AnyFunSuite

class HalfSamplerSpec extends AnyFunSuite {
  test("on a lifecycle stream both halves hold the same count of every op kind, give or take one") {
    val g = new Lifecycle.Gen(5)
    var s = g.base.foldLeft(Map.empty: Lifecycle.State)((m, t) => Lifecycle(m, Lifecycle.Append(Seq(t))))
    for (len <- Seq(17, 40, 123)) {
      val sampler = new HalfSampler
      val ops = Seq.fill(len) { val op = g.next(s); s = Lifecycle(s, op); op }
      val picked = ops.map(op => op.name -> sampler.take(op.name))
      for ((name, xs) <- picked.groupBy(_._1)) {
        val traced = xs.count(_._2)
        assert(traced - (xs.size - traced) <= 1 && traced >= xs.size - traced, s"$name at length $len")
      }
    }
  }

  test("overhead compares traced and untraced ops of the same name") {
    def op(name: String, ms: Long, traced: Boolean) = OpRec(0, "read", name, 0, ms * 1000, ok = true, traced)
    // reads cost 10 ms and writes 100 ms; tracing adds 2 ms to each
    val ops = Seq(op("read", 12, true), op("read", 10, false), op("read", 12, true), op("read", 10, false),
      op("write", 102, true), op("write", 100, false))
    assert(math.abs(HalfSampler.overheadMs(ops) - 2.0) < 1e-9)
    // a name with ops in one half only is left out
    assert(math.abs(HalfSampler.overheadMs(ops :+ op("compact", 500, true)) - 2.0) < 1e-9)
    assert(HalfSampler.overheadMs(Nil) == 0.0)
  }
}
