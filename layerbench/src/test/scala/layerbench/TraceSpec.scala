package layerbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def sp(id: Long, parent: Long, layer: String, s: Long, e: Long) = Span(id, parent, layer, s"s$id", s, e)

  test("covered counts overlapping intervals once") {
    assert(SelfTime.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(SelfTime.covered(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(SelfTime.covered(Nil) == 0)
  }

  test("self time subtracts the union of the children, clipped to the parent") {
    val spans = Seq(
      sp(1, 0, "op", 0, 100),
      sp(2, 1, "api", 10, 40),     // overlaps its sibling by 10
      sp(3, 1, "plans", 30, 60),
      sp(4, 1, "sched", 90, 130),  // runs past the parent's end
      sp(5, 2, "exec", 15, 25))
    val self = SelfTime.of(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 10)
    assert(self(3) == 30)
    assert(self(4) == 40)
    assert(self(5) == 10)
    val byLayer = SelfTime.byLayer(spans)
    assert(byLayer("op") == 40 && byLayer("api") == 20 && byLayer("exec") == 10)
  }

  test("the tracer nests spans by call structure") {
    val t = new Tracer(new Clock)
    t.span("op", "root", 100L) { t.span("api", "call")(()); t.span("plans", "plan")(()) }
    val spans = t.all
    assert(spans.find(_.name == "root").get.parent == 0)
    assert(spans.filter(_.layer != "op").forall(_.parent == 100L))
  }
}
