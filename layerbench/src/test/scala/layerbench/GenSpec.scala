package layerbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of the seed alone. */
class GenSpec extends AnyFunSuite {
  private def lifecycle(seed: Long): Iterator[Any] = {
    val g = new Lifecycle.Gen(seed)
    var s = g.base.foldLeft(Map.empty: Lifecycle.State)((m, t) => Lifecycle(m, Lifecycle.Append(Seq(t))))
    g.base.iterator ++ Iterator.fill(60) { val op = g.next(s); s = Lifecycle(s, op); op }
  }
  private def traffic(seed: Long): Iterator[Any] = {
    val t = new Traffic(PortfolioData.generate(7), new Rng(seed))
    Iterator.fill(200)(t.next())
  }

  private val inputs: Seq[(String, Long => Iterator[Any])] = Seq(
    "portfolio_api database" -> (s => PortfolioData.generate(s).records),
    "portfolio_api traffic" -> traffic,
    "table_lifecycle base and ops" -> lifecycle,
    "llm_batch corpus and queries" -> (s => LlmData.generate(s).records))

  for ((name, gen) <- inputs) test(s"$name: same seed, same bytes; other seed, other bytes") {
    val a = Fingerprint.of(gen(7))
    assert(a == Fingerprint.of(gen(7)))
    assert(a != Fingerprint.of(gen(8)))
  }

  test("the generated database has the sizes the workload documents") {
    val d = PortfolioData.generate(1)
    assert(d.symbols.size == PortfolioData.Symbols)
    assert(d.bars.values.map(_.size).sum > PortfolioData.Symbols * 700)
    assert(d.holdings.groupBy(_.portfolio).values.forall(h => h.map(_.symbol).distinct.size == h.size))
  }

  test("a deck holds every item its weight's number of times") {
    val d = new Deck(Seq("a" -> 3, "b" -> 1, "c" -> 0), new Rng(1))
    val draws = Seq.fill(8)(d.next())
    assert(draws.grouped(4).forall(g => g.count(_ == "a") == 3 && g.count(_ == "b") == 1))
  }
}
