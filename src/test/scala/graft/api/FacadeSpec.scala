package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.{Date, Timestamp}

/** End-to-end parity of the REST-read façade over hand-built fixture
  * tables (SURVEY §5.2 semantic-parity fixtures). */
class FacadeSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)
  private def t(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private lazy val db = Db(
    stocks = Seq(
      ("AAA", d("2024-01-01"), 10.0, 11.0, 9.0, 10.5, 100L),
      ("AAA", d("2024-01-02"), 10.5, 12.0, 10.0, 11.5, 110L),
      ("AAA", d("2024-01-04"), 11.0, 12.5, 10.5, 12.0, 115L),
      ("AAA", d("2024-01-05"), 11.8, 12.8, 11.2, 12.2, 118L),
      ("AAA", d("2024-01-03"), 11.5, 13.0, 11.0, 12.5, 120L),
      ("BBB", d("2024-01-01"), 20.0, 21.0, 19.0, 20.5, 200L),
      ("BBB", d("2024-01-02"), 20.5, 22.0, 20.0, 19.5, 210L))
      .toDF("symbol", "timestamp", "open", "high", "low", "close", "volume"),
    users = Seq((1L, "Ada", "ada@x.io"), (2L, "Bo", "bo@y.io"), (3L, "Cy", "cy@z.io"))
      .toDF("userid", "fullname", "email"),
    friend = Seq((1L, 2L)).toDF("userid1", "userid2"),
    request = Seq((10L, 3L, 1L, "PENDING"), (11L, 1L, 3L, "REJECTED"))
      .toDF("requestid", "fromuserid", "touserid", "status"),
    stocklist = Seq((100L, 1L, "tech", false), (101L, 2L, "pub", true),
        (102L, 3L, "hidden", false))
      .toDF("listid", "ownerid", "name", "is_public"),
    review = Seq(
        (1000L, 101L, 1L, "nice", t("2024-01-05"), None: Option[Timestamp]),
        (1001L, 100L, 2L, "meh", t("2024-01-06"), None: Option[Timestamp]))
      .toDF("reviewid", "listid", "userid", "content", "created_at",
        "updated_at"),
    sharedWith = Seq((102L, 1L)).toDF("listid", "userid"),
    stockin = Seq((100L, "AAA", 2.0)).toDF("listid", "symbol", "shares"),
    portfolio = Seq((7L, 1L, "main", 1000.0))
      .toDF("portfolioid", "userid", "name", "cashbalance"),
    transaction = Seq((1L, 7L, 1000.0, "Deposited", t("2024-01-01")),
        (2L, 7L, -210.0, "Bought", t("2024-01-02")))
      .toDF("transactionid", "portfolioid", "amount", "detail", "createdat"),
    holdings = Seq((7L, "AAA", 4, 10.0), (7L, "BBB", 2, 20.0))
      .toDF("portfolioid", "symbol", "shares", "avgcostbasis"))

  private lazy val api = new Facade(db)

  test("listSymbols / latestCloses (S1, J11)") {
    assert(api.listSymbols().as[String].collect().toSeq == Seq("AAA", "BBB"))
    val closes = api.latestCloses().orderBy("symbol")
      .select("symbol", "close").as[(String, Double)].collect().toSeq
    assert(closes == Seq(("AAA", 12.2), ("BBB", 19.5)))
  }

  test("latestCloses plans a hash aggregation over Schemas-typed stocks, same rows as latestPerKey") {
    val stocks = db.stocks.select(graft.schema.Schemas.stocks.fields.map(f =>
      $"${f.name}".cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val closes = new Facade(db.copy(stocks = stocks)).latestCloses()
    val got = closes.collect().toSet
    val nodes = allNodes(closes.queryExecution.executedPlan)
    assert(!nodes.exists(_.nodeName.contains("SortAggregate")),
      closes.queryExecution.executedPlan.toString)
    assert(nodes.exists(_.nodeName == "HashAggregate"))
    // the row-struct kernel it replaced, as the reference answer
    val ref = graft.ops.Kernels.latestPerKey(
        stocks.select("symbol", "timestamp", "close"), Seq("symbol"),
        Seq($"timestamp"))
      .select($"symbol", $"close", $"timestamp".as("as_of"))
    assert(closes.columns.toSeq == ref.columns.toSeq)
    assert(got == ref.collect().toSet)
    assert(got.size == 2)
  }

  test("history pages newest-first by default (O2/O3)") {
    val got = api.history("AAA", asc = false, limit = 2)
      .select("timestamp").as[Date].collect().toSeq
    assert(got == Seq(d("2024-01-05"), d("2024-01-04")))
  }

  test("portfolioValue = Σ latest close × shares + cash (A7/J11)") {
    val row = api.portfolioValue(7L).head()
    // 4×12.2 + 2×19.5 = 87.8; + 1000 cash
    assert(math.abs(row.getAs[Double]("stock_value") - 87.8) < 1e-9)
    assert(math.abs(row.getAs[Double]("total_value") - 1087.8) < 1e-9)
  }

  test("statement carries running balance, newest first (U5)") {
    val got = api.statement(7L)
      .select(col("transactionid"), col("running_balance").cast("double"))
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 790.0), (1L, 1000.0)))
  }

  test("statistics: one pass yields cov+beta for held symbols only (M4)") {
    val got = api.statistics(7L, "2024-01-01", "2024-01-03")
    assert(got.columns.toSet == Set("symbol", "cov", "beta"))
    assert(got.select("symbol").as[String].collect().toSet == Set("AAA", "BBB"))
  }

  test("friends resolves both edge directions (J7)") {
    assert(api.friends(2L).select("userid").as[Long].collect().toSeq == Seq(1L))
    assert(api.friends(1L).select("userid").as[Long].collect().toSeq == Seq(2L))
  }

  test("incoming requests are PENDING-only with requester enrichment (J4/M5)") {
    val got = api.incomingRequests(1L)
      .select("requestid", "email").as[(Long, String)].collect().toSeq
    assert(got == Seq((10L, "cy@z.io")))
    assert(api.incomingRequests(3L).isEmpty) // 11 is REJECTED
  }

  test("lists: owned ∪ public ∪ shared-with-me with visibility (trace 3)") {
    val got = api.lists(1L).select("listid", "visibility")
      .as[(Long, String)].collect().toMap
    assert(got == Map(100L -> "private", 101L -> "public", 102L -> "shared"))
  }

  test("reviews respect row-level visibility (M3)") {
    // list 100 is private, owned by user 1: user 3 sees nothing
    assert(new Facade(db).reviews(100L, 3L).isEmpty)
    // owner sees the review
    assert(api.reviews(100L, 1L).count() == 1)
    // public list: anyone sees
    assert(api.reviews(101L, 3L).count() == 1)
  }

  test("reviews over Schemas-shaped users: created_at is the review's (M3)") {
    // Schemas.users carries its own created_at, which must not collide
    // with review.created_at in the joined frame
    val users = db.users.withColumn("passwordhash", lit("h"))
      .withColumn("created_at", lit(t("2023-06-01")))
    val api2 = new Facade(db.copy(users = users))
    val got = api2.reviews(101L, 3L)
      .select("reviewid", "email", "created_at")
      .as[(Long, String, Timestamp)].collect().toSeq
    assert(got == Seq((1000L, "ada@x.io", t("2024-01-05"))))
  }

  test("predict emits horizon rows per symbol with trend (M1)") {
    val got = api.predict("AAA", horizon = 5)
    assert(got.count() == 5)
    assert(got.select("trend").distinct().as[String].head() == "UP")
  }

  test("searchUsers is case-insensitive substring (P5)") {
    assert(api.searchUsers("ADA").count() == 1)
  }

  test("cashMovement: deposits format detail; overdrafts rejected (U5)") {
    val (v1, e1) = api.cashMovement(7L, BigDecimal(250))
    assert(v1.select("verdict").as[String].head() == "ACCEPT")
    assert(e1.select("detail").as[String].head() == "Deposited $250.00.")
    // balance is 790 (1000 - 210): withdrawing 800 must reject
    val (v2, e2) = api.cashMovement(7L, BigDecimal(-800))
    assert(v2.select("verdict").as[String].head() == "REJECT_INSUFFICIENT_FUNDS")
    assert(e2.isEmpty)
    val (v3, e3) = api.cashMovement(7L, BigDecimal(-700))
    assert(v3.select("verdict").as[String].head() == "ACCEPT")
    assert(e3.select("detail").as[String].head() == "Withdrew $700.00.")
  }

  test("upsertReview: one review per (list, user) — re-review updates (U3)") {
    val after = api.upsertReview(2000L, 101L, 1L, "updated!")
    // user 1 already reviewed list 101 → content replaced, count flat
    val edited = after.filter($"listid" === 101L && $"userid" === 1L)
    assert(edited.count() == 1)
    val row = edited.head()
    assert(row.getAs[String]("content") == "updated!")
    // reviews.js:126-134: UPDATE preserves reviewid and created_at and
    // stamps updated_at — the caller-supplied 2000L must NOT replace
    // the primary key
    assert(row.getAs[Long]("reviewid") == 1000L)
    assert(row.getAs[Timestamp]("created_at") == t("2024-01-05"))
    assert(row.getAs[Timestamp]("updated_at") != null)
    val fresh = api.upsertReview(2001L, 100L, 3L, "new pair")
    assert(fresh.count() == db.review.count() + 1)
    val ins = fresh.filter($"listid" === 100L && $"userid" === 3L).head()
    // reviews.js:140-148: INSERT takes the new id, NULL updated_at
    assert(ins.getAs[Long]("reviewid") == 2001L)
    assert(ins.getAs[Timestamp]("updated_at") == null)
  }

  test("buy folds avg cost, debits cash, emits ledger row (trace 2)") {
    // portfolio 7 (user 1): 4 AAA @ avg 10.0, cash 1000
    val r = api.buy(1L, 7L, "AAA", 2, Some(13.0))
    assert(r.verdict.select("verdict").as[String].head() == "ACCEPT")
    val h = r.holdings.filter($"symbol" === "AAA")
      .select($"shares", $"avgcostbasis".cast("double"))
      .as[(Int, Double)].head()
    assert(h._1 == 6 && math.abs(h._2 - (4 * 10.0 + 2 * 13.0) / 6) < 1e-9)
    assert(r.portfolio.select($"cashbalance".cast("double")).as[Double].head() == 974.0)
    assert(r.ledger.select($"amount".cast("double"), $"detail")
      .as[(Double, String)].head() == (-26.0, "Bought 2 shares of AAA at $13.00 each."))
    // first buy of an UNHELD symbol takes the insert branch: drop BBB
    // from the fixture holdings so buying it must create the row
    val apiNoBbb = new Facade(db.copy(
      holdings = db.holdings.filter($"symbol" =!= "BBB")))
    val r2 = apiNoBbb.buy(1L, 7L, "BBB", 3, Some(19.0))
    assert(r2.verdict.select("verdict").as[String].head() == "ACCEPT")
    assert(r2.holdings.count() == 2)
    val ins = r2.holdings.filter($"symbol" === "BBB")
      .select($"shares", $"avgcostbasis".cast("double")).as[(Int, Double)].head()
    assert(ins == ((3, 19.0))) // inserted at cost (trading.js:93-99)
  }

  test("buy guards mirror the reference's order and reject reasons") {
    assert(api.buy(2L, 7L, "AAA", 1, Some(1.0)) // not user 2's portfolio
      .verdict.select("verdict").as[String].head() == "REJECT_NOT_OWNER")
    assert(api.buy(1L, 7L, "ZZZ", 1) // no price data for unknown symbol
      .verdict.select("verdict").as[String].head() == "REJECT_NO_PRICE_DATA")
    assert(api.buy(1L, 7L, "AAA", 0, Some(1.0))
      .verdict.select("verdict").as[String].head() == "REJECT_NONPOSITIVE")
    assert(api.buy(1L, 7L, "AAA", 99999, Some(100.0))
      .verdict.select("verdict").as[String].head() == "REJECT_INSUFFICIENT_CASH")
    // price defaults to the latest close (12.2 for AAA)
    val r = api.buy(1L, 7L, "AAA", 1)
    assert(r.verdict.select("price").as[Double].head() == 12.2)
  }

  test("sell partial keeps avg cost; sell ALL deletes the holding row") {
    val part = api.sell(1L, 7L, "AAA", 3, Some(15.0))
    assert(part.verdict.select("verdict").as[String].head() == "ACCEPT")
    val h = part.holdings.filter($"symbol" === "AAA")
      .select($"shares", $"avgcostbasis".cast("double")).as[(Int, Double)].head()
    assert(h == ((1, 10.0))) // avg unchanged (trading.js:186-195)
    assert(part.portfolio.select($"cashbalance".cast("double")).as[Double].head() == 1045.0)
    val all = api.sell(1L, 7L, "AAA", 4, Some(15.0))
    assert(all.holdings.filter($"symbol" === "AAA").isEmpty) // row deleted
    assert(all.ledger.select($"detail").as[String].head()
      == "Sold 4 shares of AAA at $15.00 each.")
    assert(api.sell(1L, 7L, "AAA", 5, Some(15.0)).verdict
      .select("verdict").as[String].head() == "REJECT_INSUFFICIENT_SHARES")
    assert(api.sell(1L, 7L, "CCC", 1, Some(15.0)).verdict
      .select("verdict").as[String].head() == "REJECT_UNKNOWN_SYMBOL")
  }

  test("historyChart renders the series to a real PNG (S8)") {
    val dir = scratchDir("charts")
    val path = api.historyChart("aaa", "2024-01-01", "2024-01-05", dir)
    assert(path == s"$dir/AAA_2024-01-01_2024-01-05.png")
    val img = javax.imageio.ImageIO.read(new java.io.File(path))
    assert(img.getWidth == 800 && img.getHeight == 400)
    // the blue series must actually be drawn
    val pixels = for (x <- 0 until 800; y <- 0 until 400) yield img.getRGB(x, y)
    assert(pixels.contains(java.awt.Color.BLUE.getRGB))
    // null closes are skipped, not crashed on (Schemas allows them)
    val withNull = Seq(("d1", Some(1.0)), ("d2", None: Option[Double]), ("d3", Some(3.0)))
      .toDF("day", "close")
    val p2 = ChartSink.linePng(withNull, "day", "close", "n", s"$dir/n.png")
    assert(javax.imageio.ImageIO.read(new java.io.File(p2)).getWidth == 800)
  }

  test("share is idempotent; unshare removes the grant (U2/S5)") {
    assert(api.share(102L, 1L).count() == 1) // already shared: no dup
    assert(api.share(102L, 2L).count() == 2)
    assert(api.unshare(102L, 1L).count() == 0)
  }

  test("createList / deleteList: owner-only cascade across 4 tables (U8)") {
    assert(api.createList(103L, 1L, "new", false).count() == 4)
    assert(api.createList(100L, 2L, "dup", true).count() == 3) // id taken: no-op
    // non-owner delete is refused: Db unchanged
    assert(api.deleteList(2L, 100L).stocklist.count() == 3)
    // owner delete cascades: list 100 holds 1 review + 1 stockin row
    val after = api.deleteList(1L, 100L)
    assert(after.stocklist.count() == 2)
    assert(after.review.filter($"listid" === 100L).isEmpty)
    assert(after.stockin.filter($"listid" === 100L).isEmpty)
  }

  test("setListStocks replaces shares (EXCLUDED semantics); removeListStock owner-only") {
    // list 100 owned by 1, has (AAA, 2.0)
    val got = api.setListStocks(1L, 100L,
      Seq(("AAA", 5.0), ("BBB", 1.0), ("", 3.0), ("CCC", -1.0)))
    assert(got.count() == 2) // blank + negative skipped; AAA replaced
    val m = got.select($"symbol", $"shares").as[(String, Double)].collect().toMap
    assert(m == Map("AAA" -> 5.0, "BBB" -> 1.0))
    assert(api.setListStocks(2L, 100L, Seq(("ZZZ", 9.0))).count() == 1) // not owner: unchanged
    assert(api.removeListStock(1L, 100L, "AAA").isEmpty)
    assert(api.removeListStock(2L, 100L, "AAA").count() == 1) // refused
  }

  test("portfolio create / COALESCE update / cascade delete") {
    assert(api.createPortfolio(8L, 2L, "second", 50.0).count() == 2)
    // partial update: only the name changes, cash COALESCEs to stored
    val upd = api.updatePortfolio(1L, 7L, name = Some("renamed"))
    val row = upd.filter($"portfolioid" === 7L).head()
    assert(row.getAs[String]("name") == "renamed")
    assert(row.getAs[Double]("cashbalance") == 1000.0)
    // wrong owner: predicate never matches, nothing changes
    assert(api.updatePortfolio(2L, 7L, name = Some("hax"))
      .filter($"name" === "hax").isEmpty)
    val after = api.deletePortfolio(1L, 7L)
    assert(after.portfolio.isEmpty)
    assert(after.transaction.isEmpty && after.holdings.isEmpty) // cascades
    assert(api.deletePortfolio(2L, 7L).portfolio.count() == 1) // refused
  }

  test("deleteReview: reviewer or list owner only (RLS write-side)") {
    // review 1000 on list 101 (owner 2) written by user 1
    assert(api.deleteReview(3L, 101L, 1000L).count() == 2) // stranger refused
    assert(api.deleteReview(1L, 101L, 1000L).count() == 1) // reviewer may
    assert(api.deleteReview(2L, 101L, 1000L).count() == 1) // list owner may
  }

  test("unfriend drops the edge in either stored direction (P7)") {
    assert(api.unfriend(2L, 1L).isEmpty) // stored as (1,2)
    assert(api.unfriend(1L, 3L).count() == 1) // no such edge: unchanged
  }

  test("friend requests: guarded send, accept creates the normalized edge (M5)") {
    val (v1, _) = api.sendFriendRequest(12L, 1L, 1L)
    assert(v1.select("verdict").as[String].head() == "REJECT_SELF")
    val (v2, _) = api.sendFriendRequest(12L, 2L, 1L)
    assert(v2.select("verdict").as[String].head() == "REJECT_ALREADY_FRIENDS")
    val (v3, _) = api.sendFriendRequest(12L, 1L, 3L) // 3→1 already PENDING (req 10)
    assert(v3.select("verdict").as[String].head() == "REJECT_DUPLICATE_PENDING")
    val (v4, reqs) = api.sendFriendRequest(12L, 2L, 3L)
    assert(v4.select("verdict").as[String].head() == "ACCEPT")
    assert(reqs.count() == db.request.count() + 1)
    // only the RECIPIENT (request 10 is 3→1, so user 1) may respond
    val (updX, friendsX) = api.respondFriendRequest(2L, 10L, accept = true)
    assert(updX.filter($"requestid" === 10L).select("status")
      .as[String].head() == "PENDING")
    assert(friendsX.count() == db.friend.count())
    // accept pending request 10 (3→1): edge (1,3) appears normalized
    val (upd, friends) = api.respondFriendRequest(1L, 10L, accept = true)
    assert(upd.filter($"requestid" === 10L).select("status")
      .as[String].head() == "ACCEPTED")
    assert(friends.filter($"userid1" === 1L && $"userid2" === 3L).count() == 1)
    // reject path: status flips, no edge
    val (upd2, friends2) = api.respondFriendRequest(1L, 10L, accept = false)
    assert(upd2.filter($"requestid" === 10L).select("status")
      .as[String].head() == "REJECTED")
    assert(friends2.count() == db.friend.count())
  }

  test("write endpoints conform sources to schema-conformant tables (DECIMAL money, audit columns)") {
    // a Schemas-style Db slice: DECIMAL cashbalance + created_at audit
    // columns the facade caller never supplies
    val db2 = db.copy(
      portfolio = db.portfolio.select($"portfolioid", $"userid", $"name",
        $"cashbalance".cast("decimal(38,18)").as("cashbalance")),
      request = db.request.withColumn("created_at", lit(t("2024-01-01"))),
      friend = db.friend.withColumn("created_at", lit(t("2024-01-01"))))
    val api2 = new Facade(db2)
    val p2 = api2.createPortfolio(9L, 2L, "dec", 12.5)
    // money column keeps its DECIMAL type through the insert union
    assert(p2.schema("cashbalance").dataType.typeName == "decimal(38,18)")
    assert(p2.count() == 2)
    val (v, reqs) = api2.sendFriendRequest(13L, 2L, 3L)
    assert(v.select("verdict").as[String].head() == "ACCEPT")
    val ins = reqs.filter($"requestid" === 13L).head()
    assert(ins.getAs[Timestamp]("created_at") != null) // NOW() default
    val (_, friends) = api2.respondFriendRequest(1L, 10L, accept = true)
    assert(friends.filter($"userid1" === 1L && $"userid2" === 3L).count() == 1)
  }
}
