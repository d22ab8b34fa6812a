package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.ops.Kernels
import graft.analytics.TimeSeries

/** One entry per operator from SURVEY.md §2: a Spark-first
  * implementation plus (where SQL-expressible) the equivalent ANSI SQL
  * the driver runs in DuckDB over the same parquet tables.
  *
  * Conventions for exact oracle parity (driver hash-compares values):
  *   - every aggregate / computed column is aliased identically on
  *     both sides;
  *   - monetary sums go through DECIMAL(18,2) (exact in both engines,
  *     independent of summation order) and are surfaced as DOUBLE;
  *   - statistical aggregates are rounded (float algorithms differ in
  *     accumulation order between engines);
  *   - every query has a total deterministic ORDER BY;
  *   - intermediate "close" series use max() (order-independent,
  *     bit-exact) rather than avg().
  */
case class Q(name: String,
             run: (SparkSession, String) => DataFrame,
             oracle: Option[String])

object QueryCatalog {
  /** The gates' one table loader. */
  private[api] def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The scratch directory of gate `tag` over the tables in `dir`:
    * `<tmpdir>/graft_gates_<applicationId>/graft_<tag>_<hash of dir>`.
    * The per-application parent is created, then registered with
    * `FileSystem.deleteOnExit` (which ignores a path that does not
    * exist yet; registering again is a no-op), so a normal JVM exit
    * removes every gate's scratch at once; a killed run leaves one
    * directory.
    *
    * Two disciplines:
    *   - `fresh = true` deletes the child first — for a gate that
    *     rebuilds on every call, where a previous call's files (other
    *     buckets or schema, a dir-hash collision) would poison the
    *     read-back;
    *   - `fresh = false` returns the child as it is — for a gate that
    *     builds once behind its own guard (a registry entry,
    *     `currentSnap`, `termIndexExists`, a `_SUCCESS` marker) and
    *     calls again with `fresh = true` inside the guard to start
    *     empty. The reuse is what keeps Bench's min-of-2 second pass
    *     and every later suite in the one forked test JVM off the
    *     build. */
  private[api] def scratch(s: SparkSession, dir: String, tag: String,
                           fresh: Boolean = true): String = {
    val parent = new Path(System.getProperty("java.io.tmpdir"),
      "graft_gates_" + s.sparkContext.applicationId)
    val fs = parent.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(parent)
    fs.deleteOnExit(parent)
    val child = new Path(parent, s"graft_${tag}_" + Integer.toHexString(dir.hashCode))
    if (fresh) fs.delete(child, true)
    child.toString
  }

  /** Daily close series per returnflag — the `Stocks` OHLCV analog on
    * the harness schema; shared by the window/statistics queries.
    * max() is order-independent → bit-exact across engines. */
  private def dailyCloses(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("day"))
      .agg(max(col("l_extendedprice")).as("close"))

  private val dailySql =
    "daily AS (SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day, " +
      "max(l_extendedprice) AS close FROM lineitem GROUP BY 1, 2)"

  /** Returns CTE on top of dailySql (ret NULL on first row of each key). */
  private val retSql =
    dailySql + ", rr AS (SELECT l_returnflag, day, close, " +
      "(close - lag(close) OVER (PARTITION BY l_returnflag ORDER BY day)) / " +
      "lag(close) OVER (PARTITION BY l_returnflag ORDER BY day) AS ret FROM daily), " +
      "rets AS (SELECT * FROM rr WHERE ret IS NOT NULL)"

  private def retFrame(s: SparkSession, dir: String): DataFrame =
    TimeSeries.returns(dailyCloses(t(s, dir, "lineitem")),
      "l_returnflag", "day", "close")

  lazy val entries: Seq[Q] =
    core ++ DomainQueries.entries ++ PipelineQueries.entries ++
      StreamingQueries.entries ++ AnalyticsQueries.entries ++
      MvQueries.entries ++ FuzzQueries.entries

  private val core: Seq[Q] = Seq(

    // ---- S: scans / sources (SURVEY §2.1) ----

    Q("s1_distinct_projection",
      // SELECT DISTINCT symbol FROM Stocks ORDER BY symbol (stocks.js:9-11)
      (s, dir) => t(s, dir, "part")
        .select(col("p_brand").as("brand")).distinct().orderBy("brand"),
      Some("SELECT DISTINCT p_brand AS brand FROM part ORDER BY brand")),

    // ---- P: filters / predicates (SURVEY §2.2) ----

    Q("p3_range_scan",
      // per-symbol history page: WHERE symbol=$1 AND ts BETWEEN $2 AND $3
      // ORDER BY ts (stocks.js:110-116)
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_suppkey") === 7 &&
          to_date(col("l_shipdate")).between("1996-01-01", "1997-12-31"))
        .select(col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("ship_day"),
          col("l_extendedprice").as("price"), col("l_quantity").as("qty"))
        .orderBy("ship_day", "l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_day, " +
        "l_extendedprice AS price, l_quantity AS qty FROM lineitem " +
        "WHERE l_suppkey = 7 AND CAST(l_shipdate AS DATE) " +
        "BETWEEN DATE '1996-01-01' AND DATE '1997-12-31' " +
        "ORDER BY ship_day, l_orderkey, l_linenumber")),

    // ---- J: joins (SURVEY §2.3) ----

    Q("j1_dim_join",
      // stocklist ⋈ users owner-email enrichment (lists.js:24-37) →
      // fact ⋈ broadcast dimension
      (s, dir) => t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("c_name"), col("c_mktsegment"),
          to_date(col("o_orderdate")).as("order_day"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_totalprice, c_name, c_mktsegment, " +
        "CAST(o_orderdate AS DATE) AS order_day " +
        "FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),

    Q("j5_semi_access",
      // correlated EXISTS access filter (lists.js:190-194) → left_semi
      (s, dir) => Kernels.accessibleBy(
          t(s, dir, "customer"),
          t(s, dir, "orders").filter(col("o_totalprice") > 200000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name")).orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 200000) ORDER BY c_custkey")),

    Q("j6_exists_flags",
      // scalar EXISTS flags in SELECT list (lists.js:167-179) →
      // one agg over the grants side + broadcast left join
      (s, dir) => Kernels.existsFlags(
          t(s, dir, "customer"),
          t(s, dir, "orders").select(col("o_custkey").as("c_custkey"),
            col("o_orderpriority")),
          Seq("c_custkey"),
          Map("has_orders" -> max(lit(true)),
              "has_urgent" -> max(col("o_orderpriority") === "1-URGENT")))
        .select(col("c_custkey"), col("c_name"),
          col("has_orders"), col("has_urgent"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name, " +
        "EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_orders, " +
        "EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderpriority = '1-URGENT') AS has_urgent " +
        "FROM customer c ORDER BY c_custkey")),

    Q("j11_latest_per_key",
      // the N+1 latest-close rewrite (portfolio.js:289-302 et al.) →
      // single max_by hash agg; pre-projected so the scan reads only
      // the 5 needed columns (the max_by payload defeats pruning)
      (s, dir) => Kernels.latestPerKey(
          t(s, dir, "lineitem").select("l_suppkey", "l_orderkey",
            "l_linenumber", "l_shipdate", "l_extendedprice"),
          Seq("l_suppkey"),
          Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("ship_day"),
          col("l_extendedprice").as("close"))
        .orderBy("l_suppkey"),
      Some("SELECT l_suppkey, l_orderkey, l_linenumber, " +
        "CAST(l_shipdate AS DATE) AS ship_day, l_extendedprice AS close FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY l_suppkey ORDER BY " +
        "l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn FROM lineitem) " +
        "WHERE rn = 1 ORDER BY l_suppkey")),

    // ---- A: aggregations (SURVEY §2.4) ----

    Q("a1_stats_bundle",
      // per-symbol stats bundle (stocks.js:208-222): COUNT/MIN/MAX/AVG/SUM
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val sumPrice = sum(col("l_extendedprice").cast("decimal(18,2)"))
        li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_bars"),
            min(to_date(col("l_shipdate"))).as("first_day"),
            max(to_date(col("l_shipdate"))).as("last_day"),
            sumPrice.cast("double").as("sum_price"),
            round(sumPrice.cast("double") / count(lit(1)), 4).as("avg_price"),
            max(col("l_extendedprice")).as("max_price"),
            min(col("l_extendedprice")).as("min_price"),
            sum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, count(*) AS n_bars, " +
        "CAST(min(l_shipdate) AS DATE) AS first_day, " +
        "CAST(max(l_shipdate) AS DATE) AS last_day, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, " +
        "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price, " +
        "max(l_extendedprice) AS max_price, min(l_extendedprice) AS min_price, " +
        "sum(l_quantity) AS sum_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    Q("u5_ledger_balance",
      // event-sourced cash balance: ledger Σ per portfolio
      // (portfolio.js:162-174 deposit/withdraw + Transaction append)
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(12,2)")).cast("double").as("balance"),
          count(lit(1)).as("n_tx"))
        .orderBy("user_id"),
      Some("SELECT user_id, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS balance, " +
        "count(*) AS n_tx FROM events GROUP BY user_id ORDER BY user_id")),

    Q("a16_pivot",
      // PIVOT — priority-count matrix per market segment: Spark's
      // relational pivot (groupBy.pivot with an EXPLICIT value list —
      // an implicit list is a discovery pass over the data at scale)
      // vs the oracle's FILTER-ed conditional aggregation, the
      // engine-portable spelling of the same operator. coalesce
      // restores 0 for empty cells (pivot yields NULL, FILTER 0).
      (s, dir) => {
        val p = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .withColumn("prio",
            concat(lit("p"), substring(col("o_orderpriority"), 1, 1)))
          .groupBy(col("c_mktsegment"))
          .pivot("prio", Seq("p1", "p2", "p3", "p4", "p5"))
          .agg(count(lit(1)))
        p.select(col("c_mktsegment") +:
            Seq("p1", "p2", "p3", "p4", "p5")
              .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
          .orderBy("c_mktsegment")
      },
      Some("SELECT c_mktsegment, " +
        "count(*) FILTER (WHERE o_orderpriority LIKE '1%') AS p1, " +
        "count(*) FILTER (WHERE o_orderpriority LIKE '2%') AS p2, " +
        "count(*) FILTER (WHERE o_orderpriority LIKE '3%') AS p3, " +
        "count(*) FILTER (WHERE o_orderpriority LIKE '4%') AS p4, " +
        "count(*) FILTER (WHERE o_orderpriority LIKE '5%') AS p5 " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    // ---- W: windows (SURVEY §2.5) ----

    Q("w1_lag_returns",
      // daily returns via LAG (portfolio.js:366-373, partitioned form
      // portfolio.js:395-400)
      (s, dir) => retFrame(s, dir)
        .select(col("l_returnflag"), col("day"), col("close"),
          round(col("ret"), 6).as("ret"))
        .orderBy("l_returnflag", "day"),
      Some("WITH " + dailySql +
        " SELECT l_returnflag, day, close, round((close - " +
        "lag(close) OVER (PARTITION BY l_returnflag ORDER BY day)) / " +
        "lag(close) OVER (PARTITION BY l_returnflag ORDER BY day), 6) AS ret " +
        "FROM daily ORDER BY l_returnflag, day")),

    Q("a23_grouping_sets",
      // arbitrary GROUPING SETS (the general form behind a10's ROLLUP
      // and a22's CUBE — here an asymmetric set list no ROLLUP/CUBE
      // can express), driven through the spark.sql surface with the
      // LITERALLY identical statement as the oracle: one aggregation
      // pass, grouping-null keys coalesced to a marker (the grouped
      // columns are never null in the data).
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("a23_li")
        s.sql("SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
          "coalesce(l_linestatus, 'ALL') AS ls, " +
          "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
          "count(*) AS n FROM a23_li GROUP BY GROUPING SETS " +
          "((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus)) " +
          "ORDER BY rf, ls")
      },
      Some("SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
        "coalesce(l_linestatus, 'ALL') AS ls, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "count(*) AS n FROM lineitem GROUP BY GROUPING SETS " +
        "((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus)) " +
        "ORDER BY rf, ls")),

    Q("w5_ntile",
      // rank-family window surface: ntile quartiles + percent_rank +
      // cume_dist over the daily series. The window orders by (close,
      // day) — a TOTAL order per key ((key, day) is unique), so every
      // rank function is deterministic. ntile cast to BIGINT (Spark
      // emits INT, DuckDB BIGINT); percent_rank/cume_dist are exact
      // integer-ratio divisions, rounded only for belt-and-braces.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("close"), col("day"))
        dailyCloses(t(s, dir, "lineitem"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .orderBy("l_returnflag", "day")
      },
      Some("WITH " + dailySql +
        " SELECT l_returnflag, day, close, " +
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile, " +
        "round(percent_rank() OVER w, 6) AS pr, " +
        "round(cume_dist() OVER w, 6) AS cd FROM daily " +
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY close, day) " +
        "ORDER BY l_returnflag, day")),

    Q("w9_rank_family",
      // rank vs dense_rank under REAL ties (ordering by the coarse
      // month key, so whole months tie), plus row_number over the
      // fully tie-broken (month, day) order — the remaining §2.5
      // rank-family members w5 doesn't cover.
      (s, dir) => {
        val wTies = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("mon"))
        val wTotal = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("mon"), col("day"))
        dailyCloses(t(s, dir, "lineitem"))
          .withColumn("mon", date_trunc("month", col("day")).cast("date"))
          .withColumn("rk", rank().over(wTies).cast("long"))
          .withColumn("drk", dense_rank().over(wTies).cast("long"))
          .withColumn("rn", row_number().over(wTotal).cast("long"))
          .orderBy("l_returnflag", "day")
      },
      Some("WITH " + dailySql +
        ", d2 AS (SELECT l_returnflag, day, close, " +
        "CAST(date_trunc('month', day) AS DATE) AS mon FROM daily) " +
        "SELECT l_returnflag, day, close, mon, " +
        "CAST(rank() OVER wt AS BIGINT) AS rk, " +
        "CAST(dense_rank() OVER wt AS BIGINT) AS drk, " +
        "CAST(row_number() OVER wn AS BIGINT) AS rn FROM d2 " +
        "WINDOW wt AS (PARTITION BY l_returnflag ORDER BY mon), " +
        "wn AS (PARTITION BY l_returnflag ORDER BY mon, day) " +
        "ORDER BY l_returnflag, day")),

    Q("w7_value_windows",
      // value-picking window functions (first/last/nth over an
      // explicit frame): the month's opening close, running latest
      // close, and second-lowest close per (key, month) — all over
      // ONE (key, day) sort. last_value needs the full-partition
      // frame spelled out (the default frame ends at CURRENT ROW);
      // nth_value(2) is NULL for 1-row frames in both engines.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag"), trunc(col("day"), "month"))
          .orderBy(col("close"), col("day"))
        val full = w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        dailyCloses(t(s, dir, "lineitem"))
          .withColumn("lo1", first_value(col("close")).over(full))
          .withColumn("lo2", nth_value(col("close"), 2).over(full))
          .withColumn("hi", last_value(col("close")).over(full))
          .select(col("l_returnflag"), col("day"), col("close"),
            col("lo1"), col("lo2"), col("hi"))
          .orderBy("l_returnflag", "day")
      },
      Some("WITH " + dailySql +
        " SELECT l_returnflag, day, close, " +
        "first_value(close) OVER w AS lo1, " +
        "nth_value(close, 2) OVER w AS lo2, " +
        "last_value(close) OVER w AS hi FROM daily " +
        "WINDOW w AS (PARTITION BY l_returnflag, date_trunc('month', day) " +
        "ORDER BY close, day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY l_returnflag, day")),

    Q("w8_gap_fill",
      // calendar gap-fill + forward fill — the resample/asfreq shape
      // every time-series store needs: each key's daily series is
      // densified to its full min..max calendar (sequence + explode,
      // per-key — never a global calendar cross join) and missing
      // days carry the last observation forward (last(ignoreNulls)
      // over a running frame; one window pass per key). is_gap marks
      // synthesized rows. Scale shape: the calendar explode is
      // O(days-per-key), the join is keyed, the fill is the same
      // single-shuffle window discipline as w1.
      (s, dir) => {
        val daily = dailyCloses(t(s, dir, "lineitem"))
        val cal = daily.groupBy(col("l_returnflag"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("l_returnflag"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("day"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        cal.join(daily, Seq("l_returnflag", "day"), "left")
          .withColumn("filled", last(col("close"), ignoreNulls = true).over(w))
          .withColumn("is_gap", col("close").isNull)
          .select(col("l_returnflag"), col("day"), col("filled"),
            col("is_gap"))
          .orderBy("l_returnflag", "day")
      },
      Some("WITH " + dailySql +
        ", b AS (SELECT l_returnflag, min(day) AS d0, max(day) AS d1 " +
        "FROM daily GROUP BY 1), " +
        "cal AS (SELECT l_returnflag, CAST(unnest(generate_series(d0, d1, " +
        "INTERVAL 1 DAY)) AS DATE) AS day FROM b), " +
        "j AS (SELECT c.l_returnflag, c.day, d.close FROM cal c " +
        "LEFT JOIN daily d USING (l_returnflag, day)) " +
        "SELECT l_returnflag, day, " +
        "last_value(close IGNORE NULLS) OVER (PARTITION BY l_returnflag " +
        "ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS filled, close IS NULL AS is_gap FROM j " +
        "ORDER BY l_returnflag, day")),

    Q("w10_ema",
      // exponential moving average — the RECURSIVE window (ema_t =
      // α·x_t + (1−α)·ema_{t−1}) no SQL frame expresses: the oracle
      // needs a recursive CTE, the engine streams each key's series
      // once with O(1) state after a single hash repartition
      // (TimeSeries.ema scaladoc). α = 0.25 is an exact binary
      // fraction and the per-row arithmetic order is fixed, so both
      // engines produce bit-identical doubles; the tiebreak column
      // pins duplicate order dates to one deterministic sequence.
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey"),
          col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
        graft.analytics.TimeSeries.ema(o, "o_custkey", "o_orderdate",
            "o_totalprice", alpha = 0.25, tiebreak = Seq("o_orderkey"))
          // RAW doubles, deliberately un-rounded: the recurrence is
          // bit-identical across engines (fixed op order, α an exact
          // binary fraction), while round-at-k-digits is exactly where
          // engines disagree on halfway doubles
          .select(col("o_custkey"), col("o_orderkey"), col("ema"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("WITH RECURSIVE t AS (SELECT o_custkey, o_orderkey, " +
        "CAST(o_totalprice AS DOUBLE) AS x, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn " +
        "FROM orders), " +
        "r AS (SELECT o_custkey, o_orderkey, rn, x AS ema FROM t WHERE rn = 1 " +
        "UNION ALL SELECT t.o_custkey, t.o_orderkey, t.rn, " +
        "0.25 * t.x + 0.75 * r.ema FROM t JOIN r " +
        "ON t.o_custkey = r.o_custkey AND t.rn = r.rn + 1) " +
        "SELECT o_custkey, o_orderkey, ema FROM r " +
        "ORDER BY o_custkey, o_orderkey")),

    Q("w12_holt",
      // Holt's double exponential smoothing (TimeSeries.holtLinear):
      // level + trend per customer spend series — the recursive
      // TWO-state window (w10's EMA adds a trend term), same keyed
      // streaming scan, oracle = recursive CTE carrying both
      // accumulators. α=0.5, β=0.25 are exact binary fractions and
      // the op order is fixed, so raw doubles match bit-for-bit
      // (the w10 parity argument; rounding is where engines differ).
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey"),
          col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
        graft.analytics.TimeSeries.holtLinear(o, "o_custkey",
            "o_orderdate", "o_totalprice", alpha = 0.5, beta = 0.25,
            tiebreak = Seq("o_orderkey"))
          .select(col("o_custkey"), col("o_orderkey"),
            col("level"), col("trend"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("WITH RECURSIVE t AS (SELECT o_custkey, o_orderkey, " +
        "CAST(o_totalprice AS DOUBLE) AS x, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn " +
        "FROM orders), " +
        "r AS (SELECT o_custkey, o_orderkey, rn, x AS level, " +
        "CAST(0 AS DOUBLE) AS trend FROM t WHERE rn = 1 " +
        "UNION ALL SELECT t.o_custkey, t.o_orderkey, t.rn, " +
        "0.5 * t.x + 0.5 * (r.level + r.trend), " +
        "0.25 * ((0.5 * t.x + 0.5 * (r.level + r.trend)) - r.level) " +
        "+ 0.75 * r.trend " +
        "FROM t JOIN r ON t.o_custkey = r.o_custkey AND t.rn = r.rn + 1) " +
        "SELECT o_custkey, o_orderkey, level, trend FROM r " +
        "ORDER BY o_custkey, o_orderkey")),

    // ---- statistics (SURVEY §2.4 A2-A5, §3 trace 1) ----

    Q("a2_cov",
      // coefficient of variation STDDEV(r)/AVG(r) (portfolio.js:366-377)
      (s, dir) => TimeSeries.coefficientOfVariation(retFrame(s, dir), "l_returnflag")
        .select(col("l_returnflag"), round(col("cov"), 6).as("cov"))
        .orderBy("l_returnflag"),
      Some("WITH " + retSql +
        " SELECT l_returnflag, round(stddev_samp(ret) / avg(ret), 6) AS cov " +
        "FROM rets GROUP BY l_returnflag ORDER BY l_returnflag")),

    Q("a4_beta",
      // beta = COVAR_POP(r, mr)/VAR_POP(mr) vs equal-weighted market
      // (portfolio.js:386-416)
      (s, dir) => TimeSeries.beta(retFrame(s, dir), "l_returnflag", "day")
        .select(col("l_returnflag"), round(col("beta"), 6).as("beta"))
        .orderBy("l_returnflag"),
      Some("WITH " + retSql +
        ", m AS (SELECT day, avg(ret) AS mret FROM rets GROUP BY day) " +
        "SELECT l_returnflag, round(covar_pop(ret, mret) / var_pop(mret), 6) AS beta " +
        "FROM rets JOIN m USING (day) GROUP BY l_returnflag ORDER BY l_returnflag")),

    Q("a13_ohlc_bars",
      // monthly OHLC resampling of the daily series (TimeSeries
      // .ohlcBars): one map-side-combined agg, min_by/max_by pick
      // open/close deterministically off the unique (key, day) grid.
      // Raw price values pass through unreduced — hash-exact doubles.
      (s, dir) => TimeSeries.ohlcBars(
          dailyCloses(t(s, dir, "lineitem")), "l_returnflag", "day", "close")
        .orderBy("l_returnflag", "bar"),
      Some("WITH " + dailySql +
        " SELECT l_returnflag, CAST(date_trunc('month', day) AS DATE) AS bar, " +
        "arg_min(close, day) AS open, max(close) AS high, min(close) AS low, " +
        "arg_max(close, day) AS close, count(*) AS n FROM daily " +
        "GROUP BY 1, 2 ORDER BY l_returnflag, bar")),

    Q("a14_rolling_indicators",
      // rolling SMA / volatility / RSI (TimeSeries.rollingIndicators):
      // row-bounded frames over ONE (key, time) sort. Stat columns are
      // rounded — sliding-frame accumulation order differs between
      // engines (Spark re-evaluates the frame buffer ascending, DuckDB
      // combines segment-tree nodes) — counts are exact.
      (s, dir) => TimeSeries.rollingIndicators(
          dailyCloses(t(s, dir, "lineitem")), "l_returnflag", "day", "close")
        .select(col("l_returnflag"), col("day"), col("close"),
          round(col("sma"), 4).as("sma"), round(col("vol"), 4).as("vol"),
          round(col("rsi"), 4).as("rsi"), col("n_win"))
        .orderBy("l_returnflag", "day"),
      Some("WITH " + dailySql + ", " +
        "ind AS (SELECT l_returnflag, day, close, avg(close) OVER w20 AS sma, " +
        "stddev_samp(close) OVER w20 AS vol, count(*) OVER w20 AS n_win, " +
        "close - lag(close) OVER wo AS diff FROM daily " +
        "WINDOW wo AS (PARTITION BY l_returnflag ORDER BY day), " +
        "w20 AS (PARTITION BY l_returnflag ORDER BY day " +
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
        "g AS (SELECT *, CASE WHEN diff > 0 THEN diff ELSE 0 END AS gain, " +
        "CASE WHEN diff < 0 THEN -diff ELSE 0 END AS loss FROM ind), " +
        "r AS (SELECT *, avg(gain) OVER w14 AS ag, avg(loss) OVER w14 AS al FROM g " +
        "WINDOW w14 AS (PARTITION BY l_returnflag ORDER BY day " +
        "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
        "SELECT l_returnflag, day, close, round(sma, 4) AS sma, " +
        "round(vol, 4) AS vol, round(100 * ag / nullif(ag + al, 0), 4) AS rsi, " +
        "n_win FROM r ORDER BY l_returnflag, day")),

    Q("a15_drawdown",
      // per-row running-peak drawdown (TimeSeries.drawdown): the
      // running max is exact and the division is IEEE 754 on raw
      // unreduced values — emitted unrounded (hash-exact doubles,
      // same convention as st3's pass-through columns).
      (s, dir) => TimeSeries.drawdown(
          dailyCloses(t(s, dir, "lineitem")), "l_returnflag", "day", "close")
        .select(col("l_returnflag"), col("day"), col("close"),
          col("peak"), col("dd"))
        .orderBy("l_returnflag", "day"),
      Some("WITH " + dailySql +
        " SELECT l_returnflag, day, close, max(close) OVER w AS peak, " +
        "close / max(close) OVER w - 1 AS dd FROM daily " +
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY l_returnflag, day")),

    Q("a22_cube",
      // CUBE grouping sets (a10's ROLLUP sibling — all 2^n subtotal
      // combinations); grouping-null keys coalesced to a marker so
      // cross-engine null ordering never matters.
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls"),
      Some("SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
        "coalesce(l_linestatus, 'ALL') AS ls, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "count(*) AS n FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY rf, ls")),

    Q("w11_rolling_median",
      // ORDER-STATISTIC window — exact interpolated median over a
      // trailing 7-ROW frame, the robust-statistics complement of
      // w6's rolling SUM (a median shrugs off the price spike that
      // drags a mean): Spark `percentile` ≡ DuckDB `quantile_cont`
      // (the a9 equivalence), here as a WINDOW aggregate. The frame
      // re-sorts 7 values per row — the bounded-frame cost every
      // engine pays for exact order statistics; unbounded-history
      // medians go through the a12 mergeable sketch instead.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("day"))
          .rowsBetween(-6, 0)
        dailyCloses(t(s, dir, "lineitem"))
          .withColumn("med_7",
            round(percentile(col("close"), lit(0.5)).over(w), 6))
          .withColumn("n_7", count(lit(1)).over(w))
          .select(col("l_returnflag"), col("day"), col("close"),
            col("med_7"), col("n_7"))
          .orderBy("l_returnflag", "day")
      },
      Some("WITH " + dailySql +
        " SELECT l_returnflag, day, close, " +
        "round(quantile_cont(close, 0.5) OVER w, 6) AS med_7, " +
        "count(*) OVER w AS n_7 FROM daily " +
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "ORDER BY l_returnflag, day")),

    Q("w14_session_window",
      // the NATIVE session_window aggregation (batch form) — gap-based
      // sessions as ONE groupBy over Spark's built-in merging session
      // windows, the third sessionization execution path next to
      // st2's flatMapGroupsWithState (streaming state machine) and
      // its window-SQL oracle twin. Boundary semantics: a session's
      // window is [start, last_event + gap), so an event arriving
      // EXACTLY gap after the previous one starts a NEW session —
      // mirrored by the oracle's `>= INTERVAL` islands break. µs-exact
      // timestamps on both engines, so the boundary comparisons agree.
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("session_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n"), col("session_value"))
        .orderBy("user_id", "session_start"),
      Some("WITH o AS (SELECT user_id, ts, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR " +
        "ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "g AS (SELECT user_id, ts, value, sum(brk) OVER (" +
        "PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o) " +
        "SELECT user_id, min(ts) AS session_start, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value " +
        "FROM g GROUP BY user_id, sid " +
        "ORDER BY user_id, session_start")),

    Q("w13_interpolate",
      // calendar gap-fill with LINEAR INTERPOLATION — the resample
      // mode w8's carry-forward doesn't cover (LOCF steps, interp
      // ramps): each key's daily series densifies to its full
      // calendar, and a missing day takes
      // prev + (next − prev)·(day − prevDay)/(nextDay − prevDay)
      // from the nearest real observations on each side (edges fall
      // back to the one neighbor that exists). Two window passes per
      // key — one running-backward, one running-forward, both over
      // the single per-key shuffle; the day offsets are exact
      // integers so the ramp arithmetic is engine-identical.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = dailyCloses(t(s, dir, "lineitem"))
        val cal = daily.groupBy(col("l_returnflag"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("l_returnflag"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        val base = Window.partitionBy(col("l_returnflag")).orderBy(col("day"))
        val back = base.rowsBetween(Window.unboundedPreceding, 0)
        val fwd = base.rowsBetween(0, Window.unboundedFollowing)
        val j = cal.join(daily, Seq("l_returnflag", "day"), "left")
          .withColumn("pv", last(col("close"), ignoreNulls = true).over(back))
          .withColumn("pd", last(when(col("close").isNotNull, col("day")),
            ignoreNulls = true).over(back))
          .withColumn("nv", first(col("close"), ignoreNulls = true).over(fwd))
          .withColumn("nd", first(when(col("close").isNotNull, col("day")),
            ignoreNulls = true).over(fwd))
        j.withColumn("filled", round(
            when(col("close").isNotNull, col("close"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                datediff(col("day"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("double")), 6))
          .withColumn("is_gap", col("close").isNull)
          .select(col("l_returnflag"), col("day"), col("filled"),
            col("is_gap"))
          .orderBy("l_returnflag", "day")
      },
      Some("WITH " + dailySql +
        ", b AS (SELECT l_returnflag, min(day) AS d0, max(day) AS d1 " +
        "FROM daily GROUP BY 1), " +
        "cal AS (SELECT l_returnflag, CAST(unnest(generate_series(d0, d1, " +
        "INTERVAL 1 DAY)) AS DATE) AS day FROM b), " +
        "j AS (SELECT c.l_returnflag, c.day, d.close FROM cal c " +
        "LEFT JOIN daily d USING (l_returnflag, day)), " +
        "f AS (SELECT l_returnflag, day, close, " +
        "last_value(close IGNORE NULLS) OVER wb AS pv, " +
        "last_value(CASE WHEN close IS NOT NULL THEN day END IGNORE NULLS) " +
        "OVER wb AS pd, " +
        "first_value(close IGNORE NULLS) OVER wf AS nv, " +
        "first_value(CASE WHEN close IS NOT NULL THEN day END IGNORE NULLS) " +
        "OVER wf AS nd FROM j " +
        "WINDOW wb AS (PARTITION BY l_returnflag ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY l_returnflag ORDER BY day " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT l_returnflag, day, round(CASE " +
        "WHEN close IS NOT NULL THEN close " +
        "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv " +
        "ELSE pv + (nv - pv) * CAST(day - pd AS DOUBLE) / " +
        "CAST(nd - pd AS DOUBLE) END, 6) AS filled, " +
        "close IS NULL AS is_gap FROM f " +
        "ORDER BY l_returnflag, day")),

    Q("w6_range_rolling",
      // time-RANGE window frame (vs a14's row-counted frames): 7-day
      // rolling totals per key — the frame is defined by the ORDER-BY
      // VALUE interval, so gap days widen nothing and dense days
      // aren't truncated. Both engines get the identical integer
      // day-offset ordering; sums in exact DECIMAL.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag"))
          .orderBy(unix_date(col("day")))
          .rangeBetween(-6, 0)
        dailyCloses(t(s, dir, "lineitem"))
          .withColumn("close_7d",
            sum(col("close").cast("decimal(18,2)")).over(w)
              .cast("double"))
          .withColumn("n_7d", count(lit(1)).over(w))
          .select(col("l_returnflag"), col("day"), col("close"),
            col("close_7d"), col("n_7d"))
          .orderBy("l_returnflag", "day")
      },
      Some("WITH " + dailySql +
        " SELECT l_returnflag, day, close, " +
        "CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w AS DOUBLE) AS close_7d, " +
        "count(*) OVER w AS n_7d FROM daily " +
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY " +
        "datediff('day', DATE '1970-01-01', day) " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "ORDER BY l_returnflag, day")),

    Q("a5_corr_matrix",
      // pairwise corr/covar matrix, upper triangle (portfolio.js:449-477)
      (s, dir) => TimeSeries.corrMatrix(retFrame(s, dir), "l_returnflag", "day")
        .select(col("k1"), col("k2"),
          round(col("correlation"), 6).as("correlation"),
          round(col("covariance"), 8).as("covariance"), col("n_days"))
        .orderBy("k1", "k2"),
      Some("WITH " + retSql +
        " SELECT r1.l_returnflag AS k1, r2.l_returnflag AS k2, " +
        "round(corr(r1.ret, r2.ret), 6) AS correlation, " +
        "round(covar_pop(r1.ret, r2.ret), 8) AS covariance, " +
        "count(*) AS n_days " +
        "FROM rets r1 JOIN rets r2 ON r1.day = r2.day " +
        "AND r1.l_returnflag <= r2.l_returnflag " +
        "GROUP BY 1, 2 ORDER BY k1, k2")),

    Q("m1_forecast",
      // linear-regression forecast: last-50 closes, 30-day horizon,
      // trend by slope sign (chart.js:67-158, portfolio.js:491-559)
      (s, dir) => TimeSeries.forecast(dailyCloses(t(s, dir, "lineitem")),
          "l_returnflag", "day", "close", trainN = 50, horizon = 30, minRows = 5)
        .select(col("l_returnflag"), round(col("slope"), 6).as("slope"),
          col("n"), col("trend"), col("step"), col("pred_date"),
          round(col("predicted"), 4).as("predicted"))
        .orderBy("l_returnflag", "step"),
      Some("WITH " + dailySql + ", " +
        "last50 AS (SELECT * FROM (SELECT l_returnflag, day, close, " +
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY day DESC) AS rd " +
        "FROM daily) WHERE rd <= 50), " +
        "tr AS (SELECT l_returnflag, day, close, " +
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY day) AS x FROM last50), " +
        "fit AS (SELECT l_returnflag, regr_slope(close, x) AS slope, " +
        "regr_intercept(close, x) AS intercept, count(*) AS n, max(day) AS last_day " +
        "FROM tr GROUP BY 1), " +
        "steps AS (SELECT unnest(generate_series(1, 30)) AS step) " +
        "SELECT l_returnflag, round(slope, 6) AS slope, n, " +
        "CASE WHEN slope > 0 THEN 'UP' WHEN slope < 0 THEN 'DOWN' ELSE 'FLAT' END AS trend, " +
        "step, last_day + CAST(step AS INTEGER) AS pred_date, " +
        "round(intercept + slope * (n + step), 4) AS predicted " +
        "FROM fit CROSS JOIN steps WHERE n >= 5 ORDER BY l_returnflag, step")),

    // ---- O: sorts / limits / top-k (SURVEY §2.6) ----

    Q("o2_topk",
      // ORDER BY … DESC LIMIT k (stocks.js:21-26, chart.js:74-80)
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20),
      Some("SELECT l_orderkey, l_linenumber, l_extendedprice AS price " +
        "FROM lineitem ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 20")),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(q => q.name -> q.run).toMap

  lazy val oracles: Map[String, String] =
    entries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
