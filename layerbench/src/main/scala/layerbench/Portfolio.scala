package layerbench

import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import graft.api.{Db, Facade}
import graft.schema.Schemas
import PortfolioData._

/** One read request of the portfolio app's REST API. */
sealed trait Req { def endpoint: String }
object Req {
  final case class History(symbol: String) extends Req { def endpoint = "history" }
  final case class HistoryRange(symbol: String, start: Int, end: Int) extends Req { def endpoint = "historyRange" }
  final case class SymbolStats(symbol: String) extends Req { def endpoint = "symbolStats" }
  final case class PortfolioValue(pid: Long) extends Req { def endpoint = "portfolioValue" }
  final case class HoldingsValued(pid: Long) extends Req { def endpoint = "holdingsValued" }
  final case class Statement(pid: Long) extends Req { def endpoint = "statement" }
  final case class Statistics(pid: Long, start: Int, end: Int) extends Req { def endpoint = "statistics" }
  final case class Correlation(pid: Long, start: Int, end: Int) extends Req { def endpoint = "correlationMatrix" }
  final case class Predict(symbol: String) extends Req { def endpoint = "predict" }
  final case class Lists(uid: Long) extends Req { def endpoint = "lists" }
  final case class ListStocks(lid: Long) extends Req { def endpoint = "listStocks" }
  final case class Reviews(lid: Long, uid: Long) extends Req { def endpoint = "reviews" }

  /** Requests of each endpoint per deck (see [[Deck]]): one each, a
    * uniform mix, because no traffic data of the reference app exists to
    * weight the endpoints by. `reviews` has weight 0: on a users table
    * with the reference schema's created_at column, Facade.reviews fails
    * with AMBIGUOUS_REFERENCE (review.created_at vs users.created_at), so
    * every reviews request would fail. [[PortfolioApi.probeExcluded]]
    * calls it once per run and the report says whether it still fails;
    * give it weight 1 once the endpoint is fixed. */
  val Mix: Seq[(String, Int)] = Seq("history", "historyRange", "symbolStats", "portfolioValue",
    "holdingsValued", "statement", "statistics", "correlationMatrix", "predict", "lists",
    "listStocks").map(_ -> 1) :+ ("reviews" -> 0)
  val Endpoints: Seq[String] = Mix.map(_._1)
  val DeckSize: Int = Mix.map(_._2).sum
}

/** A seeded stream of requests with Zipf-skewed symbol, portfolio, user
  * and list ids, so some requests repeat earlier ones. */
final class Traffic(d: Data, rng: Rng) {
  import Req._
  private val sym = new Zipf(d.symbols, Zipf.Theta, rng.fork())
  private val pid = new Zipf(d.portfolios.map(_.id), Zipf.Theta, rng.fork())
  private val uid = new Zipf(d.users.map(_.id), Zipf.Theta, rng.fork())
  private val lid = new Zipf(d.lists.map(_.id), Zipf.Theta, rng.fork())
  private val deck = new Deck(Mix, rng.fork())
  private val days = tradingDays

  /** A range of 20 to 120 trading days, as epoch days. */
  private def range(): (Int, Int) = {
    val len = rng.between(20, 121)
    val s = rng.int(days.length - len)
    (days(s), days(s + len - 1))
  }

  def next(): Req = {
    deck.next() match {
      case "history" => History(sym.sample())
      case "historyRange" => val (s, e) = range(); HistoryRange(sym.sample(), s, e)
      case "symbolStats" => SymbolStats(sym.sample())
      case "portfolioValue" => PortfolioValue(pid.sample())
      case "holdingsValued" => HoldingsValued(pid.sample())
      case "statement" => Statement(pid.sample())
      case "statistics" => val (s, e) = range(); Statistics(pid.sample(), s, e)
      case "correlationMatrix" => val (s, e) = range(); Correlation(pid.sample(), s, e)
      case "predict" => Predict(sym.sample())
      case "lists" => Lists(uid.sample())
      case "listStocks" => ListStocks(lid.sample())
      case "reviews" => Reviews(lid.sample(), uid.sample())
    }
  }
}

/** Workload `portfolio_api`: one client sending the traffic mix to
  * graft.api.Facade over the generated database, one request at a time. */
final class PortfolioApi(h: Harness, seed: Long, work: String) extends Workload {
  import Req._
  private val spark = h.spark
  private var data: Data = _
  private var api: Facade = _
  private var traffic: Traffic = _
  private var diskBytes = 0L
  private val results = mutable.ArrayBuffer.empty[(Req, Array[Row])]

  private val dir = s"$work/portfolio"

  def prepare(): Unit = {
    data = generate(seed)
    diskBytes = write(spark, data, dir)
  }

  /** Bind the tables to a fresh Facade, as a server does at start. */
  def setup(round: Int): Unit = {
    def t(name: String) =
      spark.read.schema(Schemas.all(name)).parquet(s"$dir/$name.parquet")
    api = new Facade(Db(t("stocks"), t("users"), t("friend"), t("request"), t("stocklist"),
      t("review"), t("stocklist_shared_with"), t("stockin"), t("portfolio"), t("transaction"),
      t("holdings")))
    traffic = new Traffic(data, new Rng(seed))
  }

  /** One deck on parameters of its own stream. */
  def warmUp(): Unit = {
    val warm = new Traffic(data, new Rng(seed ^ 0x5eedL))
    for (_ <- 1 to DeckSize) send(warm.next())
  }

  private def query(r: Req): DataFrame = {
    def day(d: Int) = LocalDate.ofEpochDay(d).toString
    r match {
      case History(s) => api.history(s)
      case HistoryRange(s, a, b) => api.historyRange(s, day(a), day(b))
      case SymbolStats(s) => api.symbolStats(Some(s))
      case PortfolioValue(p) => api.portfolioValue(p)
      case HoldingsValued(p) => api.holdingsValued(p)
      case Statement(p) => api.statement(p)
      case Statistics(p, a, b) => api.statistics(p, day(a), day(b))
      case Correlation(p, a, b) => api.correlationMatrix(p, day(a), day(b))
      case Predict(s) => api.predict(s)
      case Lists(u) => api.lists(u)
      case ListStocks(l) => api.listStocks(l)
      case Reviews(l, u) => api.reviews(l, u)
    }
  }

  private def send(r: Req): Option[Array[Row]] =
    h.op("read", r.endpoint) {
      val df = h.call("api", r.endpoint)(query(r))
      h.collect(df)
    }

  /** One whole deck, so that every run holds each endpoint in the same
    * share and the median of the mix does not move with where the timed
    * phase happens to end. */
  def step(): Unit =
    for (_ <- 1 to DeckSize) {
      val r = traffic.next()
      send(r).foreach(rows => results += ((r, rows)))
    }

  /** Endpoints with weight 0 in [[Req.Mix]], each called once outside
    * the timed phase: "ok", or the error it still fails with. */
  private def probeExcluded(): Map[String, String] = {
    val l = data.lists.head
    Seq(Reviews(l.id, l.owner)).filter(r => Mix.contains(r.endpoint -> 0)).map { r =>
      r.endpoint -> (try { query(r).collect(); "ok" }
                     catch { case e: Exception => s"fails: ${String.valueOf(e.getMessage).take(160)}" })
    }.toMap
  }

  def finish(layers: Option[Layers]): Outcome = {
    val notes = probeExcluded()
    val expect = new PortfolioModel(data)
    val memo = mutable.Map.empty[Req, (Seq[String], Seq[Seq[Any]], Boolean)]
    var bad = 0
    for ((r, rows) <- results) {
      val (cols, want, ordered) = memo.getOrElseUpdate(r, expect(r))
      val got = rows.toSeq.map(row => cols.map(c => Canon(row.get(row.fieldIndex(c)))))
      if (!Canon.sameRows(got, want, ordered)) {
        bad += 1
        if (bad <= 3) System.err.println(s"layerbench: check failed for $r:\n  got  ${got.take(3)}\n  want ${want.take(3)}")
      }
    }
    val reads = h.ops.filter(_.cls == "read")
    val seen = mutable.Set.empty[Req]
    val repeats = results.count(x => !seen.add(x._1))
    val perEndpoint = Endpoints.map { ep =>
      s"api.${ep}_p50_ms" -> M(Stats.median(reads.filter(_.name == ep).map(_.ms).toSeq), "ms")
    }
    Outcome(
      attempted = reads.size,
      failed = reads.count(!_.ok) + bad,
      reads = reads.filter(_.ok).map(o => o.name -> o.ms).toSeq,
      readMix = Mix.toMap,
      writes = Nil,
      metrics = perEndpoint.toMap ++ Map(
        "api.repeat_share" -> M(if (results.isEmpty) 0.0 else repeats.toDouble / results.size, "ratio")),
      sizes = Map("rows" -> data.rowCount.toDouble, "bytes_on_disk" -> diskBytes.toDouble,
        "distinct_requests" -> seen.size.toDouble),
      notes = notes.map { case (ep, r) => s"excluded.$ep" -> r })
  }
}

/** Independent computation of each endpoint's answer in plain Scala
  * over the generated rows, following the Postgres reference's
  * semantics (sample stddev, population covariance, NULL on a zero
  * divisor). Returns (columns, rows, ordered). */
final class PortfolioModel(d: Data) {
  import Req._
  private def date(day: Int) = LocalDate.ofEpochDay(day).toString
  private def cents(c: Long) = c / 100.0
  private def ts(us: Long) = us.toDouble
  private val bySym = d.bars
  private val latest: Map[String, Bar] = bySym.map { case (s, b) => s -> b.last }
  private val holdingsOf = d.holdings.groupBy(_.portfolio)
  private val portfolioOf = d.portfolios.map(p => p.id -> p).toMap
  private val txnsOf = d.txns.groupBy(_.portfolio)
  private val listOf = d.lists.map(l => l.id -> l).toMap
  private val sharedLists = d.shares.map(_.list).toSet
  private val userOf = d.users.map(u => u.id -> u).toMap
  private val marketMemo = mutable.Map.empty[(Int, Int), Map[Int, Double]]

  private def nullDiv(a: Double, b: Double): Any = if (b == 0.0) null else a / b
  private def mean(xs: Seq[Double]) = xs.sum / xs.size
  private def covPop(xs: Seq[Double], ys: Seq[Double]) = {
    val mx = mean(xs); val my = mean(ys)
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / xs.size
  }

  /** Close-to-close returns inside [a, b]; the first day has none. */
  private def returns(s: String, a: Int, b: Int): Seq[(Int, Double)] = {
    val in = bySym(s).filter(x => x.day >= a && x.day <= b)
    in.zip(in.drop(1)).map { case (p, c) => c.day -> (cents(c.close) - cents(p.close)) / cents(p.close) }
  }

  private def market(a: Int, b: Int): Map[Int, Double] = marketMemo.getOrElseUpdate((a, b),
    d.symbols.flatMap(returns(_, a, b)).groupBy(_._1).map { case (day, rs) => day -> mean(rs.map(_._2)) })

  def apply(r: Req): (Seq[String], Seq[Seq[Any]], Boolean) = r match {
    case History(s) =>
      (Seq("symbol", "timestamp", "open", "high", "low", "close", "volume"),
        bySym(s).reverse.take(100).map(barRow(s, _)), true)
    case HistoryRange(s, a, b) =>
      (Seq("symbol", "timestamp", "open", "high", "low", "close", "volume"),
        bySym(s).filter(x => x.day >= a && x.day <= b).map(barRow(s, _)), true)
    case SymbolStats(s) =>
      val bs = bySym(s)
      (Seq("symbol", "bars", "first_day", "last_day", "avg_close", "max_high", "min_low", "total_volume"),
        Seq(Seq(s, bs.size.toDouble, date(bs.head.day), date(bs.last.day), mean(bs.map(b => cents(b.close))),
          cents(bs.map(_.high).max), cents(bs.map(_.low).min), bs.map(_.volume).sum.toDouble)), true)
    case PortfolioValue(p) =>
      val stock = holdingsOf.getOrElse(p, Nil).map(x => cents(latest(x.symbol).close) * x.shares).sum
      val cash = cents(portfolioOf(p).cash)
      (Seq("portfolioid", "cashbalance", "stock_value", "total_value"),
        Seq(Seq(p.toDouble, cash, stock, cash + stock)), true)
    case HoldingsValued(p) =>
      (Seq("symbol", "portfolioid", "shares", "avgcostbasis", "close", "as_of", "market_value"),
        holdingsOf.getOrElse(p, Nil).sortBy(_.symbol).map { x =>
          val l = latest(x.symbol)
          Seq(x.symbol, p.toDouble, x.shares.toDouble, x.avgCost / 10000.0, cents(l.close), date(l.day),
            cents(l.close) * x.shares)
        }, true)
    case Statement(p) =>
      val asc = txnsOf.getOrElse(p, Nil).sortBy(t => (t.createdUs, t.id))
      val bal = asc.scanLeft(0L)(_ + _.amount).tail
      (Seq("transactionid", "portfolioid", "amount", "detail", "createdat", "running_balance"),
        asc.zip(bal).reverse.map { case (t, b) =>
          Seq(t.id.toDouble, p.toDouble, cents(t.amount), t.detail, ts(t.createdUs), cents(b))
        }, true)
    case Statistics(p, a, b) =>
      val mk = market(a, b)
      val rows = holdingsOf.getOrElse(p, Nil).map(_.symbol).distinct.sorted.flatMap { s =>
        val rs = returns(s, a, b)
        if (rs.isEmpty) None
        else {
          val xs = rs.map(_._2)
          val sd = if (xs.size < 2) None
            else Some(math.sqrt(xs.map(x => (x - mean(xs)) * (x - mean(xs))).sum / (xs.size - 1)))
          val cov = sd.map(nullDiv(_, mean(xs))).orNull
          val ms = rs.map(x => mk(x._1))
          val beta = nullDiv(covPop(xs, ms), covPop(ms, ms))
          Some(Seq(s, cov, beta))
        }
      }
      (Seq("symbol", "cov", "beta"), rows, true)
    case Correlation(p, a, b) =>
      val held = holdingsOf.getOrElse(p, Nil).map(_.symbol).distinct.sorted
      val rets = held.map(s => s -> returns(s, a, b).toMap).toMap
      val rows = for (k1 <- held; k2 <- held if k1 <= k2;
                      days = rets(k1).keySet.intersect(rets(k2).keySet).toSeq.sorted if days.nonEmpty) yield {
        val x = days.map(rets(k1)); val y = days.map(rets(k2))
        val c = covPop(x, y)
        Seq(k1, k2, nullDiv(c, math.sqrt(covPop(x, x)) * math.sqrt(covPop(y, y))), c, days.size.toDouble)
      }
      (Seq("k1", "k2", "correlation", "covariance", "n_days"), rows, false)
    case Predict(s) =>
      val last = bySym(s).takeRight(50)
      val n = last.size
      val xs = (1 to n).map(_.toDouble); val ys = last.map(b => cents(b.close))
      val slope = covPop(ys, xs) / covPop(xs, xs)
      val icpt = mean(ys) - slope * mean(xs)
      val trend = if (slope > 0) "UP" else if (slope < 0) "DOWN" else "FLAT"
      (Seq("symbol", "slope", "n", "trend", "step", "pred_date", "predicted"),
        (1 to 30).map(st => Seq(s, slope, n.toDouble, trend, st.toDouble, date(last.last.day + st),
          icpt + slope * (n + st))), false)
    case Lists(u) =>
      val mine = d.lists.filter(l => l.owner == u || l.isPublic).map(_.id).toSet ++
        d.shares.filter(_.user == u).map(_.list)
      (Seq("listid", "ownerid", "name", "is_public", "visibility"),
        mine.toSeq.sorted.map { id =>
          val l = listOf(id)
          Seq(id.toDouble, l.owner.toDouble, l.name, l.isPublic,
            if (l.isPublic) "public" else if (sharedLists(id)) "shared" else "private")
        }, true)
    case ListStocks(l) =>
      (Seq("symbol", "listid", "shares", "close", "as_of"),
        d.stockin.filter(_.list == l).sortBy(_.symbol).map { x =>
          val b = latest(x.symbol)
          Seq(x.symbol, l.toDouble, x.shares / 100.0, cents(b.close), date(b.day))
        }, true)
    case Reviews(l, u) =>
      val list = listOf(l)
      (Seq("reviewid", "listid", "userid", "email", "content", "created_at"),
        d.reviews.filter(r => r.list == l && (list.isPublic || r.user == u || list.owner == u))
          .sortBy(r => (-r.createdUs, -r.id))
          .map(r => Seq(r.id.toDouble, l.toDouble, r.user.toDouble, userOf(r.user).email, r.content,
            ts(r.createdUs))), true)
  }

  private def barRow(s: String, b: Bar): Seq[Any] =
    Seq(s, date(b.day), cents(b.open), cents(b.high), cents(b.low), cents(b.close), b.volume.toDouble)
}

/** Canonical cell values for comparing Spark rows with model rows:
  * numbers as Double, dates as ISO strings, timestamps as epoch µs. */
object Canon {
  def apply(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case n: java.lang.Number => n.doubleValue
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toDouble
    case x => x
  }

  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 + 1e-6 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]], ordered: Boolean): Boolean = {
    def key(r: Seq[Any]) = r.map(String.valueOf).mkString("\u0001")
    val (g, w) = if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
    g.size == w.size && g.zip(w).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall { case (a, b) => close(a, b) }
    }
  }
}
