package layerbench

import org.scalatest.funsuite.AnyFunSuite
import Attribution._

class AttributionSpec extends AnyFunSuite {
  private val ops = Seq(OpWindow(1, 0, 100), OpWindow(2, 150, 300))

  test("a tagged job belongs to the op its tag names") {
    assert(opOf(Some(2L), 50, ops).contains(2L))
  }

  test("an untagged job belongs to the op in flight when it started") {
    assert(opOf(None, 50, ops).contains(1L))
    assert(opOf(None, 150, ops).contains(2L))
    assert(opOf(None, 120, ops).isEmpty) // between ops: no op in flight
  }

  test("a job hangs under the innermost span open at its start") {
    val spans = Seq(
      Span(1, 0, "op", "op", 0, 100),
      Span(2, 1, "api", "history", 0, 20),
      Span(3, 1, "sched", "collect", 30, 100),
      Span(4, 3, "plans", "inner", 40, 50))
    assert(parentAt(1, 35, spans) == 3)
    assert(parentAt(1, 45, spans) == 4)
    assert(parentAt(1, 25, spans) == 1)
  }

  test("the listener attributes jobs by the op tag and skips the drain marker") {
    import org.apache.spark.scheduler._
    val ev = new SparkEvents(new Clock)
    def props(tag: String) = { val p = new java.util.Properties; if (tag != null) p.setProperty(SparkEvents.OpKey, tag); p }
    val now = System.currentTimeMillis()
    ev.onJobStart(SparkListenerJobStart(7, now, Nil, props("42")))
    ev.onJobEnd(SparkListenerJobEnd(7, now + 5, JobSucceeded))
    ev.onJobStart(SparkListenerJobStart(8, now, Nil, props(null)))
    ev.onJobEnd(SparkListenerJobEnd(8, now + 5, JobSucceeded))
    ev.onJobStart(SparkListenerJobStart(9, now, Nil, props(SparkEvents.DrainTag.toString)))
    ev.onJobEnd(SparkListenerJobEnd(9, now + 5, JobSucceeded))
    assert(ev.jobList.map(j => j.id -> j.tag) == Seq(7 -> Some(42L), 8 -> None))
  }
}
