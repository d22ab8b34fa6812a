package layerbench

import org.scalatest.funsuite.AnyFunSuite
import Lifecycle._

class LifecycleSpec extends AnyFunSuite {
  private val t1 = Tick("A", 10, 1.0, 1)
  private val t2 = Tick("A", 20, 2.0, 2)
  private val t3 = Tick("B", 15, 3.0, 3)
  private val s0: State = Lifecycle(Map.empty, Append(Seq(t1, t2, t3)))

  test("append adds rows") {
    assert(s0.size == 3)
    assert(rowsOf(s0, "A") == Seq(t1, t2))
  }

  test("upsert replaces existing keys and inserts new ones") {
    val s = Lifecycle(s0, Upsert(Seq(Tick("A", 10, 9.0, 9), Tick("C", 1, 4.0, 4))))
    assert(rowsOf(s, "A") == Seq(Tick("A", 10, 9.0, 9), t2))
    assert(rowsOf(s, "C") == Seq(Tick("C", 1, 4.0, 4)))
    assert(s.size == 4)
  }

  test("delete removes one symbol's rows in an inclusive ts range") {
    val s = Lifecycle(s0, Delete("A", 10, 15))
    assert(rowsOf(s, "A") == Seq(t2))
    assert(rowsOf(s, "B") == Seq(t3))
    assert(Lifecycle(s0, Delete("A", 10, 20)).size == 1)
  }

  test("expire removes every row older than the cutoff") {
    val s = Lifecycle(s0, Expire(15))
    assert(s.values.toSet == Set((2.0, 2L), (3.0, 3L)))
  }

  test("reads and maintenance leave the rows unchanged") {
    for (op <- Seq(Read("A"), Count, ReadAsOf("A", 1), Compact, Vacuum))
      assert(Lifecycle(s0, op) == s0, op)
  }

  test("the op stream covers every kind and runs maintenance every MaintEvery writes") {
    val g = new Gen(3)
    var s = g.base.foldLeft(Map.empty: State)((m, t) => Lifecycle(m, Append(Seq(t))))
    val ops = Seq.fill(60) { val op = g.next(s); s = Lifecycle(s, op); op }
    assert(ops.map(_.name).toSet ==
      Set("read", "count", "read_asof", "append", "delete", "upsert", "compact", "expire", "vacuum"))
    val writesBeforeCompact = ops.takeWhile(_ != Compact).count(_.cls == "write")
    assert(writesBeforeCompact == MaintEvery)
    assert(g.everyKind(s).map(_.name).distinct.size == 9)
  }
}
