package layerbench

import java.time.{DayOfWeek, LocalDate}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.schema.Schemas

/** A reference-schema database (graft.schema.Schemas) generated from a
  * seed: daily OHLCV bars for every symbol over three years of trading
  * days, plus users, portfolios, holdings, transactions and stock lists.
  * Money is held as exact scaled integers. */
object PortfolioData {
  val Symbols = 500
  val Users = 2000
  val Portfolios = 3000
  val Lists = 1000
  val FirstDay: LocalDate = LocalDate.of(2022, 1, 3)
  val LastDay: LocalDate = LocalDate.of(2024, 12, 31)
  /** Timestamps of users, transactions and reviews fall in this span. */
  val EpochUs0: Long = FirstDay.toEpochDay * 86400L * 1000000L

  /** Prices in cents. */
  final case class Bar(day: Int, open: Long, high: Long, low: Long, close: Long, volume: Long)
  final case class User(id: Long, fullname: String, email: String, createdUs: Long)
  final case class Friend(u1: Long, u2: Long, createdUs: Long)
  final case class Request(id: Long, from: Long, to: Long, status: String, createdUs: Long)
  final case class StockList(id: Long, owner: Long, name: String, isPublic: Boolean)
  final case class Review(id: Long, list: Long, user: Long, content: String, createdUs: Long)
  final case class Share(list: Long, user: Long)
  /** shares in hundredths */
  final case class StockIn(list: Long, symbol: String, shares: Long)
  /** cash in cents */
  final case class Portfolio(id: Long, user: Long, name: String, cash: Long)
  /** amount in cents */
  final case class Txn(id: Long, portfolio: Long, amount: Long, detail: String, createdUs: Long)
  /** avg cost basis in 1/10000 */
  final case class Holding(portfolio: Long, symbol: String, shares: Int, avgCost: Long)

  final case class Data(symbols: IndexedSeq[String], bars: Map[String, IndexedSeq[Bar]],
                        users: IndexedSeq[User], friends: IndexedSeq[Friend],
                        requests: IndexedSeq[Request], lists: IndexedSeq[StockList],
                        reviews: IndexedSeq[Review], shares: IndexedSeq[Share],
                        stockin: IndexedSeq[StockIn], portfolios: IndexedSeq[Portfolio],
                        txns: IndexedSeq[Txn], holdings: IndexedSeq[Holding]) {
    def rowCount: Long = bars.values.map(_.size.toLong).sum + Seq(users, friends, requests,
      lists, reviews, shares, stockin, portfolios, txns, holdings).map(_.size).sum

    def records: Iterator[Any] = symbols.iterator.flatMap(s => Iterator(s) ++ bars(s).iterator) ++
      Iterator(users, friends, requests, lists, reviews, shares, stockin, portfolios, txns,
        holdings).flatMap(_.iterator)
  }

  val tradingDays: IndexedSeq[Int] =
    Iterator.iterate(FirstDay)(_.plusDays(1)).takeWhile(!_.isAfter(LastDay))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .map(_.toEpochDay.toInt).toIndexedSeq

  def generate(seed: Long): Data = {
    val rng = new Rng(seed)
    val letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val symbols = Iterator.continually {
      val n = rng.between(3, 5)
      (0 until n).map(_ => letters(rng.int(26))).mkString
    }.distinct.take(Symbols).toIndexedSeq.sorted
    val bars = symbols.map { s =>
      val from = rng.int(40)
      val sigma = 0.01 + 0.02 * rng.double()
      var close = 1000L + rng.int(29000)
      s -> tradingDays.drop(from).map { d =>
        val open = close
        close = math.max(100L, math.round(open * math.exp(sigma * rng.gaussian())))
        val high = math.round(math.max(open, close) * (1 + 0.01 * rng.double()))
        val low = math.round(math.min(open, close) * (1 - 0.01 * rng.double()))
        Bar(d, open, high, low, close, 10000L + rng.int(990000))
      }
    }.toMap
    val spanUs = (LastDay.toEpochDay - FirstDay.toEpochDay) * 86400L * 1000000L
    def ts(): Long = EpochUs0 + (rng.double() * spanUs).toLong / 1000000L * 1000000L
    val users = (1 to Users).map(i => User(i, s"User $i", s"user$i@example.com", ts()))
    val friends = Iterator.continually {
      val a = 1L + rng.int(Users); val b = 1L + rng.int(Users)
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.take(3000).map(p => Friend(p._1, p._2, ts())).toIndexedSeq
    val statuses = IndexedSeq("PENDING", "ACCEPTED", "REJECTED")
    val requests = (1 to 1000).map(i =>
      Request(i, 1L + rng.int(Users), 1L + rng.int(Users), statuses(rng.int(3)), ts()))
    val hotSymbol = new Zipf(symbols, Zipf.Theta, rng.fork())
    val lists = (1 to Lists).map(i => StockList(i, 1L + rng.int(Users), s"list $i", rng.bool(0.3)))
    val shares = Iterator.continually(Share(1L + rng.int(Lists), 1L + rng.int(Users)))
      .distinct.take(1500).toIndexedSeq
    val stockin = lists.flatMap { l =>
      Iterator.continually(hotSymbol.sample()).distinct.take(rng.between(3, 16)).toSeq.sorted
        .map(s => StockIn(l.id, s, 100L * rng.between(1, 1000)))
    }
    val reviews = Iterator.continually((1L + rng.int(Lists), 1L + rng.int(Users))).distinct
      .take(3000).zipWithIndex.map { case ((l, u), i) =>
        Review(i + 1L, l, u, s"review ${i + 1} of list $l", ts())
      }.toIndexedSeq
    val portfolios = (1 to Portfolios).map(i =>
      Portfolio(i, 1L + rng.int(Users), s"portfolio $i", 100L * rng.int(1000000)))
    val holdings = portfolios.flatMap { p =>
      Iterator.continually(hotSymbol.sample()).distinct.take(rng.between(2, 13)).toSeq.sorted
        .map(s => Holding(p.id, s, rng.between(1, 500), 10000L + rng.int(3000000)))
    }
    var txnId = 0L
    val txns = portfolios.flatMap { p =>
      (0 until rng.between(5, 41)).map { _ =>
        txnId += 1
        val amt = (if (rng.bool(0.4)) -1 else 1) * (100L + rng.int(500000))
        Txn(txnId, p.id, amt, if (amt < 0) "Withdrew" else "Deposited", ts())
      }
    }
    Data(symbols, bars, users, friends, requests, lists, reviews, shares, stockin,
      portfolios, txns, holdings)
  }

  private def dec(unscaled: Long, scale: Int) = java.math.BigDecimal.valueOf(unscaled, scale)
  private def tsOf(us: Long) = {
    val t = new java.sql.Timestamp(us / 1000); t.setNanos(((us % 1000000) * 1000).toInt); t
  }
  private def dateOf(day: Int) = java.sql.Date.valueOf(LocalDate.ofEpochDay(day))

  /** Every table as rows of its reference schema. */
  def tables(d: Data): Seq[(String, StructType, Seq[Row])] = Seq(
    ("stocks", Schemas.stocks, d.symbols.flatMap(s => d.bars(s).map(b =>
      Row(s, dateOf(b.day), dec(b.open, 2), dec(b.high, 2), dec(b.low, 2), dec(b.close, 2), b.volume)))),
    ("users", Schemas.users, d.users.map(u => Row(u.id, u.fullname, u.email, "x", tsOf(u.createdUs)))),
    ("friend", Schemas.friend, d.friends.map(f => Row(f.u1, f.u2, tsOf(f.createdUs)))),
    ("request", Schemas.request, d.requests.map(r => Row(r.id, r.from, r.to, r.status, tsOf(r.createdUs)))),
    ("stocklist", Schemas.stocklist, d.lists.map(l => Row(l.id, l.owner, l.name, l.isPublic))),
    ("review", Schemas.review, d.reviews.map(r => Row(r.id, r.list, r.user, r.content, tsOf(r.createdUs), null))),
    ("stocklist_shared_with", Schemas.sharedWith, d.shares.map(s => Row(s.list, s.user))),
    ("stockin", Schemas.stockin, d.stockin.map(s => Row(s.list, s.symbol, dec(s.shares, 2)))),
    ("portfolio", Schemas.portfolio, d.portfolios.map(p => Row(p.id, p.user, p.name, dec(p.cash, 2)))),
    ("transaction", Schemas.transaction, d.txns.map(t => Row(t.id, t.portfolio, dec(t.amount, 2), t.detail, tsOf(t.createdUs)))),
    ("holdings", Schemas.holdings, d.holdings.map(h => Row(h.portfolio, h.symbol, h.shares, dec(h.avgCost, 4)))))

  /** Write every table once as parquet under `dir`, the tables in
    * parallel; returns bytes on disk. */
  def write(spark: SparkSession, d: Data, dir: String): Long = {
    import scala.concurrent.{Await, Future, duration}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tables(d).map { case (name, schema, rows) => Future {
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }}
    writes.foreach(Await.result(_, duration.Duration.Inf))
    Disk.bytesUnder(java.nio.file.Paths.get(dir))
  }
}

object Disk {
  /** Total bytes of the regular files under `root`. */
  def bytesUnder(root: java.nio.file.Path): Long = sizes(root).values.sum

  /** Size of every regular file under `root`, by path relative to it. */
  def sizes(root: java.nio.file.Path): Map[String, Long] =
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
}
