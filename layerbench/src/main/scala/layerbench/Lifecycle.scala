package layerbench

/** The in-memory model of the price-tick table that `table_lifecycle`
  * drives through graft.catalog.Layout: every op kind, applied to an
  * immutable map from key (symbol, ts) to (price, qty). */
object Lifecycle {
  final case class Tick(symbol: String, ts: Long, price: Double, qty: Long)

  sealed trait Op { def name: String; def cls: String }
  final case class Append(rows: Seq[Tick]) extends Op { def name = "append"; def cls = "write" }
  final case class Delete(symbol: String, lo: Long, hi: Long) extends Op { def name = "delete"; def cls = "write" }
  final case class Upsert(rows: Seq[Tick]) extends Op { def name = "upsert"; def cls = "write" }
  final case class Read(symbol: String) extends Op { def name = "read"; def cls = "read" }
  case object Count extends Op { def name = "count"; def cls = "read" }
  /** Read `symbol` as of the `back`-th most recent earlier snapshot
    * still retained (counted from the newest; 1 = the previous one). */
  final case class ReadAsOf(symbol: String, back: Int) extends Op { def name = "read_asof"; def cls = "read" }
  case object Compact extends Op { def name = "compact"; def cls = "maint" }
  final case class Expire(cutoff: Long) extends Op { def name = "expire"; def cls = "maint" }
  case object Vacuum extends Op { def name = "vacuum"; def cls = "maint" }

  type State = Map[(String, Long), (Double, Long)]

  /** Bytes a user submits per written row: an 8-byte symbol plus three
    * 8-byte fields. The denominator of write amplification. */
  val RowBytes = 32

  def apply(s: State, op: Op): State = op match {
    case Append(rows) => s ++ rows.map(t => (t.symbol, t.ts) -> ((t.price, t.qty)))
    case Upsert(rows) => s ++ rows.map(t => (t.symbol, t.ts) -> ((t.price, t.qty)))
    case Delete(sym, lo, hi) => s.filterNot { case ((k, ts), _) => k == sym && ts >= lo && ts <= hi }
    case Expire(cutoff) => s.filterNot(_._1._2 < cutoff)
    case _ => s
  }

  /** Rows of `symbol`, ascending by ts. */
  def rowsOf(s: State, symbol: String): Seq[Tick] =
    s.iterator.collect { case ((k, ts), (p, q)) if k == symbol => Tick(k, ts, p, q) }.toSeq.sortBy(_.ts)

  val Symbols = 40
  val BaseTicks = 250
  /** Maintenance (compact, expire, vacuum) runs after every this many writes. */
  val MaintEvery = 10

  /** Reads and writes alternate; each side draws its kind from a deck of
    * 10 (see [[Deck]]), so a run of about 20 ops holds each kind in its
    * exact share and the table ages the same way whatever the seed. */
  val Reads: Seq[(String, Int)] = Seq("read" -> 5, "count" -> 2, "read_asof" -> 3)
  val Writes: Seq[(String, Int)] = Seq("append" -> 4, "delete" -> 3, "upsert" -> 3)

  /** The seeded base table and op stream. Ops are drawn against the
    * model, so upserts and deletes hit keys that exist. */
  final class Gen(seed: Long) {
    private val rng = new Rng(seed)
    val symbols: IndexedSeq[String] = (0 until Symbols).map(i => f"T$i%03d")
    private val hot = new Zipf(symbols, Zipf.Theta, rng.fork())
    private val reads = new Deck(Reads, rng.fork())
    private val writes = new Deck(Writes, rng.fork())
    private var now = 1000000L
    private def price() = math.round(rng.double() * 1e6) / 100.0
    private def tick(sym: String) = { now += 1 + rng.int(5); Tick(sym, now, price(), 1L + rng.int(1000)) }

    val base: Seq[Tick] = (0 until Symbols * BaseTicks).map(_ => tick(symbols(rng.int(Symbols))))

    private var written = 0
    private var readNext = true
    private var pending: List[Op] = Nil

    /** One op of every kind, maintenance included: the warm-up. */
    def everyKind(s: State): Seq[Op] =
      (Reads ++ Writes).map(k => make(k._1, s)) ++ Seq(Compact, expire(s), Vacuum)

    def next(s: State): Op = pending match {
      case op :: rest => pending = rest; op
      case Nil =>
        val op = make(if (readNext) reads.next() else writes.next(), s)
        readNext = !readNext
        if (op.cls == "write") {
          written += 1
          if (written % MaintEvery == 0) pending = List(Compact, expire(s), Vacuum)
        }
        op
    }

    /** Expire the oldest twentieth of the table's time range. */
    private def expire(s: State): Op = {
      val minTs = s.keysIterator.map(_._2).min
      Expire(minTs + (now - minTs) / 20)
    }

    private def make(kind: String, s: State): Op = kind match {
      case "read" => Read(hot.sample())
      case "count" => Count
      case "read_asof" => ReadAsOf(hot.sample(), 1 + rng.int(2))
      case "append" => Append((0 until rng.between(100, 300)).map(_ => tick(hot.sample())))
      case "delete" =>
        val sym = hot.sample()
        val ts = rowsOf(s, sym).map(_.ts)
        if (ts.isEmpty) Count
        else {
          val i = rng.int(ts.size)
          Delete(sym, ts(i), ts(math.min(ts.size - 1, i + rng.between(5, 30))))
        }
      case "upsert" =>
        val keys = s.keysIterator.take(4000).toIndexedSeq
        val old = (0 until 30).map { _ =>
          val (k, ts) = keys(rng.int(keys.size)); Tick(k, ts, price(), 1L + rng.int(1000))
        }
        Upsert((old ++ (0 until 30).map(_ => tick(hot.sample()))).groupBy(t => (t.symbol, t.ts))
          .values.map(_.head).toSeq.sortBy(t => (t.symbol, t.ts)))
    }
  }
}
