package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Kernels
import graft.analytics.TimeSeries
import graft.domain.{Acl, Ledger, Social}

/** The reference tables as one bundle — what a deployment would bind
  * to its catalog (parquet/Iceberg tables conforming to
  * graft.schema.Schemas). */
case class Db(stocks: DataFrame, users: DataFrame, friend: DataFrame,
              request: DataFrame, stocklist: DataFrame, review: DataFrame,
              sharedWith: DataFrame, stockin: DataFrame, portfolio: DataFrame,
              transaction: DataFrame, holdings: DataFrame)

/** Result of a single interactive trade: the verdict row, the updated
  * holdings and portfolio tables (unchanged originals on reject), and
  * the ledger entry (empty on reject). */
case class TradeOutcome(verdict: DataFrame, holdings: DataFrame,
                        portfolio: DataFrame, ledger: DataFrame)

/** API-surface parity layer: every read endpoint of the reference's
  * REST API as a DataFrame-returning function, one Spark job each —
  * the per-row loops and N+1 query patterns of the original collapse
  * into the §2 kernels. File:line citations give the endpoint each
  * function re-expresses.
  */
class Facade(db: Db) {

  // ---- stocks.js ----

  /** GET /api/stocks — distinct symbols (stocks.js:9-11, S1). */
  def listSymbols(): DataFrame =
    db.stocks.select(col("symbol")).distinct().orderBy("symbol")

  /** GET /api/stocks/latest — latest 15 bars (stocks.js:21-26, O2). */
  def latestBars(n: Int = 15): DataFrame =
    db.stocks.orderBy(col("timestamp").desc, col("symbol")).limit(n)

  /** GET /api/stocks/:symbol — history page with direction + limit
    * (stocks.js:39-47, O3). */
  def history(symbol: String, asc: Boolean = false, limit: Int = 100): DataFrame = {
    val ord = if (asc) col("timestamp").asc else col("timestamp").desc
    db.stocks.filter(col("symbol") === symbol).orderBy(ord).limit(limit)
  }

  /** GET /api/stocks/:symbol/range (stocks.js:110-116, P3). */
  def historyRange(symbol: String, start: String, end: String): DataFrame =
    db.stocks.filter(col("symbol") === symbol &&
        col("timestamp").between(start, end))
      .orderBy("timestamp")

  /** GET /api/stocks/:symbol/stats — the per-symbol stats bundle
    * (stocks.js:208-222, A1); symbol = None gives all symbols in one
    * pass (the N+1 collapse). */
  def symbolStats(symbol: Option[String] = None): DataFrame = {
    val base = symbol.fold(db.stocks)(s => db.stocks.filter(col("symbol") === s))
    base.groupBy(col("symbol")).agg(
      count(lit(1)).as("bars"),
      min(col("timestamp")).as("first_day"),
      max(col("timestamp")).as("last_day"),
      avg(col("close")).as("avg_close"),
      max(col("high")).as("max_high"),
      min(col("low")).as("min_low"),
      sum(col("volume")).as("total_volume"))
  }

  /** Latest close per symbol (the J11 rewrite used by valuation,
    * trading defaults, holdings enrichment). `max_by` over the bare
    * close, not [[Kernels.latestPerKey]]'s row struct: the buffers are
    * fixed-width, so this plans a hash aggregation instead of a sort
    * aggregate over all of Stocks. */
  def latestCloses(): DataFrame =
    db.stocks.groupBy(col("symbol")).agg(
      max_by(col("close"), col("timestamp")).as("close"),
      max(col("timestamp")).as("as_of"))

  // ---- portfolio.js ----

  /** GET /api/portfolio — user's portfolios (portfolio.js:19-22). */
  def portfolios(userId: Long): DataFrame =
    db.portfolio.filter(col("userid") === userId).orderBy("portfolioid")

  /** GET /api/portfolio/:id/transactions — statement, newest first
    * (portfolio.js:253-257), with running balance. */
  def statement(portfolioId: Long): DataFrame =
    Ledger.statement(db.transaction.filter(col("portfolioid") === portfolioId),
        "portfolioid", col("amount"),
        Seq(col("createdat"), col("transactionid")))
      .orderBy(col("createdat").desc, col("transactionid").desc)

  /** GET /api/portfolio/:id/value — Σ latest close × shares + cash
    * (portfolio.js:282-311, A7/J11): one join, no per-holding loop. */
  def portfolioValue(portfolioId: Long): DataFrame = {
    val h = db.holdings.filter(col("portfolioid") === portfolioId)
    val priced = h.join(broadcast(latestCloses()), Seq("symbol"), "left")
    val stockVal = priced.agg(
      coalesce(sum(col("close") * col("shares")), lit(0)).as("stock_value"))
    val cash = db.portfolio.filter(col("portfolioid") === portfolioId)
      .select(col("portfolioid"), col("cashbalance"))
    cash.crossJoin(stockVal)
      .withColumn("total_value", col("cashbalance") + col("stock_value"))
  }

  /** GET /api/portfolio/:id/statistics/:start/:end — COV + Beta for
    * every held symbol in ONE pass over the range (portfolio.js:
    * 319-445, SURVEY §3 trace 1; the reference runs 2 queries per
    * symbol). Returns (symbol, cov, beta). */
  def statistics(portfolioId: Long, start: String, end: String): DataFrame = {
    val held = db.holdings.filter(col("portfolioid") === portfolioId)
      .select(col("symbol")).distinct()
    val rets = TimeSeries.returns(
      db.stocks.filter(col("timestamp").between(start, end))
        .select(col("symbol"), col("timestamp"), col("close").cast("double").as("close")),
      "symbol", "timestamp", "close")
    val mine = rets.join(broadcast(held), Seq("symbol"), "left_semi")
    val cov = TimeSeries.coefficientOfVariation(mine, "symbol")
    val beta = TimeSeries.beta(rets, "symbol", "timestamp")
      .join(broadcast(held), Seq("symbol"), "left_semi")
    cov.join(beta, Seq("symbol"), "outer").orderBy("symbol")
  }

  /** Correlation matrix over held symbols (portfolio.js:449-477, J8/A5). */
  def correlationMatrix(portfolioId: Long, start: String, end: String): DataFrame = {
    val held = db.holdings.filter(col("portfolioid") === portfolioId)
      .select(col("symbol")).distinct()
    val rets = TimeSeries.returns(
      db.stocks.filter(col("timestamp").between(start, end))
        .join(broadcast(held), Seq("symbol"), "left_semi")
        .select(col("symbol"), col("timestamp"), col("close").cast("double").as("close")),
      "symbol", "timestamp", "close")
    TimeSeries.corrMatrix(rets, "symbol", "timestamp")
  }

  /** GET /api/chart/:symbol/:start/:end — render the price history as
    * a PNG line chart (chart.js:9-64, S8): last 60 (day, close)
    * points, 800×400, blue series, written to
    * `<dir>/<SYMBOL>_<start>_<end>.png`. Returns the file path. */
  def historyChart(symbol: String, start: String, end: String,
                   dir: String = "charts"): String = {
    val series = historyRange(symbol.toUpperCase, start, end)
      .select(col("timestamp").cast("date").cast("string").as("day"),
        col("close").cast("double"))
    ChartSink.linePng(series, "day", "close",
      s"${symbol.toUpperCase} Price",
      s"$dir/${symbol.toUpperCase}_${start}_$end.png")
  }

  /** GET /api/chart/predict/:symbol — 50-bar linear regression, 30-day
    * horizon (chart.js:67-158 / portfolio.js:491-559, M1). */
  def predict(symbol: String, horizon: Int = 30): DataFrame =
    TimeSeries.forecast(
      db.stocks.filter(col("symbol") === symbol)
        .select(col("symbol"), col("timestamp"), col("close").cast("double").as("close")),
      "symbol", "timestamp", "close", trainN = 50, horizon = horizon, minRows = 5)

  // ---- holdings.js ----

  /** GET /api/holdings/:portfolioId — holdings with market value
    * (holdings.js:24-76; the N+1 latest-price loop becomes one
    * broadcast join). */
  def holdingsValued(portfolioId: Long): DataFrame =
    db.holdings.filter(col("portfolioid") === portfolioId)
      .join(broadcast(latestCloses()), Seq("symbol"), "left")
      .withColumn("market_value", col("close") * col("shares"))
      .orderBy("symbol")

  // ---- users.js ----

  /** GET /api/users/search?q= (users.js:50-53, P5). */
  def searchUsers(q: String, limit: Int = 20): DataFrame =
    db.users.filter(col("email").ilike(s"%$q%"))
      .select(col("userid"), col("email"), col("fullname"))
      .orderBy("userid").limit(limit)

  /** GET /api/users/friends (users.js:68-77, J7 union-of-equijoins). */
  def friends(userId: Long): DataFrame =
    Social.friendsOf(
      db.friend.select(col("userid1").as("u1"), col("userid2").as("u2")),
      db.users, "userid", lit(userId)).orderBy("userid")

  /** GET /api/users/requests/incoming|outgoing (users.js:117-144, J4). */
  def incomingRequests(userId: Long): DataFrame =
    db.request.filter(col("status") === Social.Pending &&
        col("touserid") === userId)
      .join(broadcast(db.users), col("fromuserid") === col("userid"))
      .select(col("requestid"), col("fromuserid"), col("email"), col("fullname"))
      .orderBy("requestid")

  def outgoingRequests(userId: Long): DataFrame =
    db.request.filter(col("status") === Social.Pending &&
        col("fromuserid") === userId)
      .join(broadcast(db.users), col("touserid") === col("userid"))
      .select(col("requestid"), col("touserid"), col("email"), col("fullname"))
      .orderBy("requestid")

  // ---- write-side flows (event-sourced) ----

  /** POST /api/portfolio/:id/deposit|withdraw (portfolio.js:155-221):
    * validate (withdrawals must not exceed the ledger-derived
    * balance), emit the Transaction row with the formatted Detail.
    * Returns (verdict row, ledger row for accepted ops). */
  def cashMovement(portfolioId: Long, amount: BigDecimal): (DataFrame, DataFrame) = {
    val spark = db.transaction.sparkSession
    import spark.implicits._
    val bal = Ledger.balances(
        db.transaction.filter(col("portfolioid") === portfolioId),
        "portfolioid", col("amount"))
      .select(col("balance")).as[java.math.BigDecimal].collect()
      .headOption.map(BigDecimal(_)).getOrElse(BigDecimal(0))
    val ok = amount >= 0 || bal + amount >= 0
    val verdict = Seq((portfolioId, amount.toDouble,
        if (ok) "ACCEPT" else "REJECT_INSUFFICIENT_FUNDS"))
      .toDF("portfolioid", "amount", "verdict")
    val entry =
      if (!ok) verdict.limit(0).select(col("portfolioid"),
        col("amount").cast("decimal(12,2)").as("amount"),
        lit("").as("detail"))
      else Seq((portfolioId, amount.toDouble)).toDF("portfolioid", "amount")
        .select(col("portfolioid"),
          col("amount").cast("decimal(12,2)").as("amount"),
          format_string("%s $%.2f.",
            when(col("amount") >= 0, "Deposited").otherwise("Withdrew"),
            abs(col("amount"))).as("detail"))
    (verdict, entry)
  }

  /** POST /api/trading/buy (trading.js:16-116): the single-trade
    * interactive path. Guards run in the reference's order — price
    * default from latest close (:22-35), ownership (:44-50), symbol
    * known (:52-59), positive qty/price (:60-63), sufficient cash
    * (:65-74) — then the holding is created or its shares/avg-cost
    * folded (:76-103), cash debited, and the ledger row emitted
    * (:104-110). Point lookups are single-scalar collects (the
    * cashMovement shape); state updates are §2 kernels. */
  def buy(userId: Long, portfolioId: Long, symbol: String, qty: Int,
          price: Option[Double] = None): TradeOutcome =
    trade(userId, portfolioId, symbol, qty, price, buying = true)

  /** POST /api/trading/sell (trading.js:118-230): positive-check runs
    * before ownership (mirroring :144-147), a missing holding or
    * short position rejects (:167-180), selling ALL shares deletes
    * the holding row while a partial sale keeps avg-cost unchanged
    * (:186-202), cash credited, ledger row emitted (:204-221). */
  def sell(userId: Long, portfolioId: Long, symbol: String, qty: Int,
           price: Option[Double] = None): TradeOutcome =
    trade(userId, portfolioId, symbol, qty, price, buying = false)

  private def trade(userId: Long, portfolioId: Long, symbol: String,
                    qty: Int, price0: Option[Double],
                    buying: Boolean): TradeOutcome = {
    val spark = db.portfolio.sparkSession
    import spark.implicits._
    // point probes — single-scalar collects, one job each
    val latestClose = db.stocks.filter(col("symbol") === symbol)
      .orderBy(col("timestamp").desc).limit(1)
      .select(col("close").cast("double")).as[Double].collect().headOption
    val symbolKnown = latestClose.nonEmpty
    val price = price0.orElse(latestClose)
    val port = db.portfolio.filter(col("portfolioid") === portfolioId)
      .select(col("userid"), col("cashbalance").cast("double"))
      .as[(Long, Double)].collect().headOption
    val held = db.holdings.filter(col("portfolioid") === portfolioId &&
        col("symbol") === symbol)
      .select(col("shares").cast("int"),
        coalesce(col("avgcostbasis").cast("double"), lit(0.0)))
      .as[(Int, Double)].collect().headOption

    val verdict: String =
      if (price.isEmpty) "REJECT_NO_PRICE_DATA"
      else if (!buying && (qty <= 0 || price.get <= 0)) "REJECT_NONPOSITIVE"
      else if (!port.exists(_._1 == userId)) "REJECT_NOT_OWNER"
      else if (!symbolKnown) "REJECT_UNKNOWN_SYMBOL"
      else if (buying && (qty <= 0 || price.get <= 0)) "REJECT_NONPOSITIVE"
      else if (buying && qty * price.get > port.get._2) "REJECT_INSUFFICIENT_CASH"
      else if (!buying && held.isEmpty) "REJECT_NO_HOLDING"
      else if (!buying && held.get._1 < qty) "REJECT_INSUFFICIENT_SHARES"
      else "ACCEPT"

    val verdictDf = Seq((portfolioId, symbol, if (buying) "BUY" else "SELL",
        qty, price.getOrElse(0.0), verdict))
      .toDF("portfolioid", "symbol", "side", "qty", "price", "verdict")
    if (verdict != "ACCEPT")
      return TradeOutcome(verdictDf, db.holdings, db.portfolio,
        verdictDf.limit(0).select(col("portfolioid"),
          col("price").cast("decimal(12,2)").as("amount"),
          lit("").as("detail")))

    val px = price.get
    val gross = qty * px
    val keyPred = col("portfolioid") === portfolioId && col("symbol") === symbol
    val avgType = db.holdings.schema("avgcostbasis").dataType
    val holdings2 =
      if (buying) held match {
        case Some((oldShares, oldAvg)) =>
          // weighted avg-cost fold (trading.js:84-92)
          val newAvg = (oldAvg * oldShares + px * qty) / (oldShares + qty)
          Kernels.cowUpdate(db.holdings, keyPred, Map(
            "shares" -> lit(oldShares + qty),
            "avgcostbasis" -> lit(newAvg).cast(avgType)))
        case None =>
          Kernels.insertIfAbsent(db.holdings,
            Seq((portfolioId, symbol, qty, px))
              .toDF("portfolioid", "symbol", "shares", "avgcostbasis")
              .withColumn("avgcostbasis", col("avgcostbasis").cast(avgType)),
            Seq("portfolioid", "symbol"))
      } else {
        val remaining = held.get._1 - qty
        if (remaining > 0)
          Kernels.cowUpdate(db.holdings, keyPred, Map("shares" -> lit(remaining)))
        else
          Kernels.cowDelete(db.holdings,
            Seq((portfolioId, symbol)).toDF("portfolioid", "symbol"),
            Seq("portfolioid", "symbol"))
      }
    val newBalance = if (buying) port.get._2 - gross else port.get._2 + gross
    val portfolio2 = Kernels.cowUpdate(db.portfolio,
      col("portfolioid") === portfolioId,
      Map("cashbalance" -> lit(newBalance)
        .cast(db.portfolio.schema("cashbalance").dataType)))
    val ledger = Seq((portfolioId, if (buying) -gross else gross))
      .toDF("portfolioid", "amount")
      .select(col("portfolioid"),
        col("amount").cast("decimal(12,2)").as("amount"),
        format_string("%s %d shares of %s at $%.2f each.",
          lit(if (buying) "Bought" else "Sold"), lit(qty), lit(symbol),
          lit(px)).as("detail"))
    TradeOutcome(verdictDf, holdings2, portfolio2, ledger)
  }

  /** POST /api/reviews (reviews.js:113-152): one review per
    * (listid, userid) — UNIQUE schema.sql:48 — so a re-review is an
    * UPDATE in place: the existing row keeps its reviewid and
    * created_at, only content and updated_at change (reviews.js:
    * 126-134); a brand-new pair INSERTs with the caller's reviewid,
    * a fresh created_at, and NULL updated_at (reviews.js:140-148).
    * Returns the updated review table. */
  def upsertReview(reviewId: Long, listId: Long, userId: Long,
                   content: String): DataFrame = {
    val spark = db.review.sparkSession
    import spark.implicits._
    val now = current_timestamp()
    val src = Seq((reviewId, listId, userId, content))
      .toDF("reviewid", "listid", "userid", "content")
    // coalesce the surviving identity columns from the existing row —
    // reassigning the primary key on edit would break anything
    // referencing reviewid
    val existing = db.review.select(col("listid"), col("userid"),
      col("reviewid").as("__rid"), col("created_at").as("__created"))
    val resolved = src.join(existing, Seq("listid", "userid"), "left")
      .select(
        coalesce(col("__rid"), col("reviewid")).as("reviewid"),
        col("listid"), col("userid"), col("content"),
        coalesce(col("__created"), now).as("created_at"),
        when(col("__rid").isNotNull, now)
          .otherwise(lit(null).cast("timestamp")).as("updated_at"))
    Kernels.upsert(db.review, resolved, Seq("listid", "userid"))
  }

  /** POST/DELETE /api/lists/:id/share (lists.js:388-395 grant is
    * ON CONFLICT DO NOTHING; revoke is a key delete). */
  def share(listId: Long, userId: Long): DataFrame = {
    val spark = db.sharedWith.sparkSession
    import spark.implicits._
    Kernels.insertIfAbsent(db.sharedWith,
      Seq((listId, userId)).toDF("listid", "userid"), Seq("listid", "userid"))
  }

  def unshare(listId: Long, userId: Long): DataFrame = {
    val spark = db.sharedWith.sparkSession
    import spark.implicits._
    Kernels.cowDelete(db.sharedWith,
      Seq((listId, userId)).toDF("listid", "userid"), Seq("listid", "userid"))
  }

  // ---- lists.js / portfolio.js / reviews.js / users.js write surface ----

  /** POST /api/lists (lists.js:64-100): create a stock list. */
  def createList(listId: Long, ownerId: Long, name: String,
                 isPublic: Boolean): DataFrame = {
    val spark = db.stocklist.sparkSession
    import spark.implicits._
    Kernels.insertIfAbsent(db.stocklist,
      conformed(Seq((listId, ownerId, name, isPublic))
        .toDF("listid", "ownerid", "name", "is_public"), db.stocklist),
      Seq("listid"))
  }

  /** Conform a write-source frame to the target table's schema:
    * missing columns get defaults (created-at columns get NOW(),
    * mirroring the reference's column defaults; anything else NULL)
    * and every column is cast to the target's type — so a Double
    * source never silently widens a DECIMAL money column through the
    * union, and schema-conformant tables (Schemas.*) with audit
    * columns the caller didn't supply still work. */
  private def conformed(src: DataFrame, target: DataFrame): DataFrame = {
    val withAll = target.columns.foldLeft(src) { (d, c) =>
      if (d.columns.contains(c)) d
      else if (c == "created_at" || c == "createdat")
        d.withColumn(c, current_timestamp())
      else d.withColumn(c, lit(null)) // e.g. updated_at: NULL until edited
    }
    withAll.select(target.columns.map(c =>
      col(c).cast(target.schema(c).dataType).as(c)): _*)
  }

  /** Owner probe shared by the list write endpoints (single scalar,
    * the cashMovement shape). */
  private def listOwner(listId: Long): Option[Long] = {
    val spark = db.stocklist.sparkSession
    import spark.implicits._
    db.stocklist.filter(col("listid") === listId)
      .select(col("ownerid")).as[Long].collect().headOption
  }

  /** DELETE /api/lists/:id (lists.js:102-151): owner-only; the FK
    * cascades (schema.sql:43,53,59) take stockin, shared_with and
    * review rows with the list. Returns the updated Db (unchanged when
    * the caller is not the owner). */
  def deleteList(userId: Long, listId: Long): Db =
    if (!listOwner(listId).contains(userId)) db
    else {
      val spark = db.stocklist.sparkSession
      import spark.implicits._
      val doomed = Seq(listId).toDF("listid")
      db.copy(
        stocklist = Kernels.cowDelete(db.stocklist, doomed, Seq("listid")),
        review = Kernels.cowDelete(db.review, doomed, Seq("listid")),
        sharedWith = Kernels.cowDelete(db.sharedWith, doomed, Seq("listid")),
        stockin = Kernels.cowDelete(db.stockin, doomed, Seq("listid")))
    }

  /** POST /api/lists/:id/stocks (lists.js:420-510): owner-only batch
    * upsert; source shares REPLACE the stored value (`ON CONFLICT DO
    * UPDATE SET shares = EXCLUDED.shares`); blank symbols and negative
    * shares are skipped, mirroring the reference's per-item guards. */
  def setListStocks(userId: Long, listId: Long,
                    stocks: Seq[(String, Double)]): DataFrame = {
    val spark = db.stockin.sparkSession
    import spark.implicits._
    if (!listOwner(listId).contains(userId)) db.stockin
    else {
      val src = stocks.map { case (s, n) => (listId, s.trim, n) }
        .filter { case (_, s, n) => s.nonEmpty && n >= 0 }
        .toDF("listid", "symbol", "shares")
      Kernels.upsert(db.stockin, conformed(src, db.stockin),
        Seq("listid", "symbol"))
    }
  }

  /** DELETE /api/lists/:id/stocks/:symbol (lists.js:610-691):
    * owner-only key delete. */
  def removeListStock(userId: Long, listId: Long, symbol: String): DataFrame = {
    val spark = db.stockin.sparkSession
    import spark.implicits._
    if (!listOwner(listId).contains(userId)) db.stockin
    else Kernels.cowDelete(db.stockin,
      Seq((listId, symbol)).toDF("listid", "symbol"), Seq("listid", "symbol"))
  }

  /** POST /api/portfolio/add (portfolio.js:32-63). */
  def createPortfolio(portfolioId: Long, userId: Long, name: String,
                      cashBalance: Double = 0.0): DataFrame = {
    val spark = db.portfolio.sparkSession
    import spark.implicits._
    Kernels.insertIfAbsent(db.portfolio,
      conformed(Seq((portfolioId, userId, name, cashBalance))
        .toDF("portfolioid", "userid", "name", "cashbalance"), db.portfolio),
      Seq("portfolioid"))
  }

  /** PUT /api/portfolio/:id (portfolio.js:96-127): COALESCE-defaulted
    * partial update scoped to the owner (the P9/U4 shape — None leaves
    * the stored value in place). */
  def updatePortfolio(userId: Long, portfolioId: Long,
                      name: Option[String] = None,
                      cashBalance: Option[Double] = None): DataFrame = {
    val pred = col("portfolioid") === portfolioId && col("userid") === userId
    val cashType = db.portfolio.schema("cashbalance").dataType
    Kernels.cowUpdate(db.portfolio, pred, Map(
      "name" -> coalesce(
        name.map(lit(_)).getOrElse(lit(null).cast("string")), col("name")),
      "cashbalance" -> coalesce(
        cashBalance.map(lit(_)).getOrElse(lit(null)).cast(cashType),
        col("cashbalance"))))
  }

  /** DELETE /api/portfolio/:id (portfolio.js:130-151): owner-scoped;
    * the FK cascades (schema.sql:77,93) take the portfolio's
    * transactions and holdings with it. */
  def deletePortfolio(userId: Long, portfolioId: Long): Db = {
    val spark = db.portfolio.sparkSession
    import spark.implicits._
    val owned = !db.portfolio.filter(col("portfolioid") === portfolioId &&
      col("userid") === userId).isEmpty
    if (!owned) db
    else {
      val doomed = Seq(portfolioId).toDF("portfolioid")
      db.copy(
        portfolio = Kernels.cowDelete(db.portfolio, doomed, Seq("portfolioid")),
        transaction = Kernels.cowDelete(db.transaction, doomed, Seq("portfolioid")),
        holdings = Kernels.cowDelete(db.holdings, doomed, Seq("portfolioid")))
    }
  }

  /** DELETE /api/lists/:id/reviews/:rid (reviews.js:267-330): only the
    * reviewer or the list owner may delete; anyone else gets the table
    * back unchanged. */
  def deleteReview(userId: Long, listId: Long, reviewId: Long): DataFrame = {
    val allowed = !db.review
      .filter(col("reviewid") === reviewId && col("listid") === listId)
      .join(broadcast(db.stocklist.select(col("listid"), col("ownerid"))),
        Seq("listid"))
      .filter(col("userid") === userId || col("ownerid") === userId)
      .isEmpty
    if (!allowed) db.review
    else Kernels.cowDeleteWhere(db.review,
      col("reviewid") === reviewId && col("listid") === listId)
  }

  /** DELETE /api/users/me/friends/:id (users.js:89-106): drop the
    * undirected edge whichever way it is stored. */
  def unfriend(userId: Long, friendId: Long): DataFrame =
    Kernels.cowDeleteWhere(db.friend,
      (col("userid1") === userId && col("userid2") === friendId) ||
        (col("userid1") === friendId && col("userid2") === userId))

  /** POST /api/users/:id/friend-requests (users.js:291-350): guarded
    * PENDING insert — no self-request, no duplicate pending (either
    * direction), not already friends (Social.validateRequests).
    * Returns (verdict row, updated request table — unchanged on
    * reject). */
  def sendFriendRequest(requestId: Long, fromUserId: Long,
                        toUserId: Long): (DataFrame, DataFrame) = {
    val spark = db.request.sparkSession
    import spark.implicits._
    val req = Seq((requestId, fromUserId, toUserId, Social.Pending))
      .toDF("requestid", "fromuserid", "touserid", "status")
    val verdict = Social.validateRequests(req, db.request,
      db.friend.select(col("userid1").as("u1"), col("userid2").as("u2")))
    val accepted = conformed(
      verdict.filter(col("verdict") === "ACCEPT")
        .select(col("requestid"), col("fromuserid"), col("touserid"),
          col("status")),
      db.request)
    (verdict.select(col("requestid"), col("fromuserid"), col("touserid"),
        col("verdict")),
      Kernels.insertIfAbsent(db.request, accepted, Seq("requestid")))
  }

  /** POST /api/users/me/friend-requests/:id/accept|reject
    * (users.js:160-227 accept, :229-269 reject): recipient-only —
    * the reference scopes the route to `me` = touserid — PENDING-only
    * status transition; accept also inserts the normalized friend
    * edge ON CONFLICT DO NOTHING (users.js:205-213). Returns
    * (updated request table, updated friend table) — both unchanged
    * when the caller is not the recipient. */
  def respondFriendRequest(userId: Long, requestId: Long,
                           accept: Boolean): (DataFrame, DataFrame) = {
    val spark = db.request.sparkSession
    import spark.implicits._
    val isRecipient = !db.request.filter(col("requestid") === requestId &&
      col("touserid") === userId).isEmpty
    if (!isRecipient) return (db.request, db.friend)
    val dec = Seq((requestId, if (accept) Social.Accepted else Social.Rejected))
      .toDF("requestid", "decision")
    val (updated, newEdges) = Social.transition(db.request, dec)
    val friends2 = Kernels.insertIfAbsent(db.friend,
      conformed(newEdges.select(col("u1").as("userid1"),
        col("u2").as("userid2")), db.friend),
      Seq("userid1", "userid2"))
    (updated, friends2)
  }

  // ---- lists.js / reviews.js ----

  /** GET /api/lists — owned ∪ public ∪ shared-with-me with visibility
    * tags (lists.js:155-233, SURVEY §3 trace 3). */
  def lists(userId: Long): DataFrame =
    Acl.withVisibility(
        Acl.accessibleLists(db.stocklist, db.sharedWith, lit(userId)),
        db.sharedWith)
      .orderBy("listid")

  /** GET /api/lists/:id/stocks (lists.js:262-296). */
  def listStocks(listId: Long): DataFrame =
    db.stockin.filter(col("listid") === listId)
      .join(broadcast(latestCloses()), Seq("symbol"), "left")
      .orderBy("symbol")

  /** GET /api/reviews/list/:listid — reviews visible to the caller
    * (reviews.js:204-260, M3 in-plan). */
  def reviews(listId: Long, userId: Long): DataFrame =
    Acl.visibleReviews(db.review.filter(col("listid") === listId),
        db.stocklist, lit(userId))
      .join(broadcast(db.users.select(col("userid"), col("email"))),
        Seq("userid"))
      .select(col("reviewid"), col("listid"), col("userid"), col("email"),
        col("content"), col("created_at"))
      .orderBy(col("created_at").desc, col("reviewid").desc)
}
