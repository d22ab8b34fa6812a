package graft.api

import org.apache.spark.sql.functions._
import graft.analytics.Behavior
import graft.catalog.Tables
import graft.pipeline.Similarity
import QueryCatalog.scratch

/** Analytics extensions beyond the reference's own surface (SURVEY
  * §2.4 notes GROUPING SETS / percentiles are absent there — an
  * engine replacing it should still have them). */
object AnalyticsQueries {

  val entries: Seq[Q] = Seq(

    Q("a9_percentiles",
      // exact interpolated percentiles per group (Spark `percentile`
      // ≡ DuckDB quantile_cont)
      (s, dir) => Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.95)), 6).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.95), 6) AS p95, count(*) AS n " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    Q("a12_quantile_sketch",
      // single-pass MERGEABLE quantiles via the custom GK sketch
      // aggregate — the percentile path that survives 100 TB groups
      // (bounded O((1/ε)·log εn) state, map-side partial merge) where
      // a9's exact per-group sort cannot. The gate runs the sketch in
      // its exact-at-capacity regime (n ≤ 1/ε ⟹ every value retained,
      // query = exact rank-⌈qn⌉ element, deterministic under any merge
      // order), so the explicit rank-selection SQL is a true oracle;
      // the ε-bound beyond capacity is pinned by QuantileSketchSpec.
      (s, dir) => {
        import graft.functions.QuantileSketchAgg.quantile_sketch
        Tables.load(s, dir, "events")
          .filter(pmod(col("event_id"), lit(20)) === 0)
          .groupBy(col("event_type"))
          .agg(quantile_sketch(col("value"), Seq(0.25, 0.5, 0.9), 1e-4)
            .as("qs"), count(lit(1)).as("n"))
          // no rounding: the sketch returns exact stored values, and the
          // oracle selects the SAME parquet doubles — bit-identical
          .select(col("event_type"),
            element_at(col("qs"), 1).as("p25"),
            element_at(col("qs"), 2).as("p50"),
            element_at(col("qs"), 3).as("p90"),
            col("n"))
          .orderBy("event_type")
      },
      Some("WITH o AS (SELECT event_type, value FROM events " +
        "WHERE event_id % 20 = 0), " +
        "r AS (SELECT event_type, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM o) " +
        "SELECT event_type, " +
        "max(CASE WHEN rk = GREATEST(1, CAST(ceil(0.25 * n) AS BIGINT)) " +
        "THEN value END) AS p25, " +
        "max(CASE WHEN rk = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)) " +
        "THEN value END) AS p50, " +
        "max(CASE WHEN rk = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT)) " +
        "THEN value END) AS p90, max(n) AS n " +
        "FROM r GROUP BY event_type ORDER BY event_type")),

    Q("a10_rollup",
      // ROLLUP hierarchy totals; grouping-null keys coalesced to a
      // marker so cross-engine null ordering never matters
      (s, dir) => Tables.load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_price"), col("n"))
        .orderBy("rf", "ls"),
      Some("SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
        "coalesce(l_linestatus, 'ALL') AS ls, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, " +
        "count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY rf, ls")),

    Q("a41_cube",
      // CUBE totals over (returnflag, linestatus) with grouping_id —
      // the full 2^k subset lattice where a10's ROLLUP covers only
      // hierarchy prefixes. Planned as ONE Expand + partial aggregate
      // over a single scan (never 2^k unioned re-scans, the 100 TB
      // trap of hand-written subtotal queries); grouping_id
      // disambiguates a REAL null key from a grouping null, which
      // coalesce alone cannot (both engines follow the SQL-standard
      // bitmask: first listed column = most significant bit).
      (s, dir) => Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity").cast("bigint")).as("qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("qty"), col("n"))
        .orderBy("gid", "rf", "ls"),
      Some("SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
        "coalesce(l_linestatus, 'ALL') AS ls, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, " +
        "count(*) AS n FROM lineitem " +
        "GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY gid, rf, ls")),

    Q("a17_funnel",
      // ordered 3-step funnel (Behavior.funnelSteps): signup → first
      // view strictly after it → first purchase strictly after that.
      // Timestamps are µs-exact in both engines (Tables.load truncates
      // the parquet nanos; the generator emits µs precision), so the
      // strict comparisons agree.
      (s, dir) => Behavior.funnelSteps(Tables.load(s, dir, "events"),
          "user_id", "ts", "event_type", Seq("signup", "view", "purchase"))
        .orderBy("step"),
      Some("WITH s1 AS (SELECT user_id, min(ts) AS t FROM events " +
        "WHERE event_type = 'signup' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t " +
        "WHERE e.event_type = 'view' GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t " +
        "WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type, " +
        "count(*) AS users FROM s1 " +
        "UNION ALL SELECT 2, 'view', count(*) FROM s2 " +
        "UNION ALL SELECT 3, 'purchase', count(*) FROM s3 ORDER BY step")),

    Q("a18_cohort_retention",
      // weekly cohort retention triangle (Behavior.cohortRetention):
      // cohort = Monday-aligned week of first activity; offsets are
      // exact integer arithmetic on epoch seconds (both engines
      // truncate weeks to Monday; sessions are UTC-pinned).
      (s, dir) => Behavior.cohortRetention(
          Tables.load(s, dir, "events"), "user_id", "ts")
        .select(to_date(col("cohort_week")).as("cohort_week"),
          col("week_offset"), col("users"))
        .orderBy("cohort_week", "week_offset"),
      Some("WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) " +
        "AS week FROM events), " +
        "c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1) " +
        "SELECT CAST(c.cohort_week AS DATE) AS cohort_week, " +
        "CAST((epoch(a.week) - epoch(c.cohort_week)) / 604800 AS BIGINT) " +
        "AS week_offset, count(*) AS users FROM a JOIN c USING (user_id) " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    Q("a19_approx_distinct",
      // HyperLogLog++ approximate distinct — THE cardinality operator
      // at 100 TB (fixed 2^p-register state, mergeable, one pass,
      // where exact distinct shuffles every key). DuckDB's approx HLL
      // is a different implementation, so the gate is a PROPERTY
      // oracle: the estimate's accuracy band (rsd = 0.02, fixed
      // deterministic hash) is emitted as a boolean the oracle pins
      // to TRUE; the exact counts anchor the rows. The band is ±10%
      // — 5σ at rsd 0.02 — so it holds by the sketch's own contract
      // with real slack, not just for the current data+seed (a data
      // refresh inside HLL's guarantee can't flip the gate).
      (s, dir) => Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("__approx"),
          countDistinct(col("l_partkey")).as("exact"))
        .select(col("l_returnflag"), col("exact"),
          (col("__approx") >= col("exact") * 0.90 &&
            col("__approx") <= col("exact") * 1.10).as("ok"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, count(DISTINCT l_partkey) AS exact, " +
        "true AS ok FROM lineitem GROUP BY 1 ORDER BY 1")),

    Q("a20_cms_counts",
      // count-min sketch frequency estimates (mergeable counter
      // matrix — the heavy-key frequency primitive that pairs with
      // t12's Misra-Gries top-k). Property oracle like a19: the CMS
      // guarantees est ≥ exact ALWAYS (over-count only), and the
      // over-count budget is pinned at DOUBLE the eps·N contract —
      // per-row Markov overshoot of 2⌈eps·N⌉ is ≤ 1/(2e), so across
      // the sketch's d = ⌈ln(1/0.001)⌉ = 7 rows the per-key failure
      // odds are ~7e-6: the boolean holds with real slack under any
      // data refresh, not just the current seed+data. The 20-key
      // estimate read is a driver-side probe of a kilobyte sketch,
      // not a data scan.
      (s, dir) => {
        val keys = Tables.load(s, dir, "lineitem").select(col("l_suppkey"))
        val cms = keys.stat.countMinSketch(col("l_suppkey"), eps = 1e-4,
          confidence = 0.999, seed = 42)
        val slack = 2L * math.ceil(1e-4 * cms.totalCount()).toLong
        val est = s.createDataFrame(
          (0L to 20L).map(k => (k, cms.estimateCount(k))))
          .toDF("l_suppkey", "__est")
        keys.filter(col("l_suppkey") <= 20)
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("exact"))
          .join(broadcast(est), "l_suppkey")
          .select(col("l_suppkey"), col("exact"),
            (col("__est") >= col("exact") &&
              col("__est") <= col("exact") + lit(slack)).as("ok"))
          .orderBy("l_suppkey")
      },
      Some("SELECT l_suppkey, count(*) AS exact, true AS ok FROM lineitem " +
        "WHERE l_suppkey <= 20 GROUP BY 1 ORDER BY 1")),

    Q("a21_pagerank",
      // fixed-iteration PageRank (Graph.pageRank, 3 rounds, d=0.85)
      // over the j16 friend graph; the oracle is the SAME recurrence
      // unrolled as chained CTEs — both engines evaluate identical
      // IEEE expression trees, contribution sums sit behind a
      // 6-decimal round.
      (s, dir) => {
        val edges = graft.ops.Kernels.normalizeEdge(
          Tables.load(s, dir, "lineitem").filter(col("l_suppkey") <= 100)
            .select(col("l_suppkey").as("a"),
              pmod(col("l_partkey"), lit(100)).as("b")),
          "a", "b").filter(col("u1") =!= col("u2")).distinct()
        graft.analytics.Graph.pageRank(edges, "u1", "u2", iters = 3, d = 0.85)
          .select(col("node"), round(col("pr"), 6).as("pr"))
          .orderBy("node")
      },
      Some("WITH edges AS (SELECT DISTINCT least(l_suppkey, l_partkey % 100) AS u1, " +
        "greatest(l_suppkey, l_partkey % 100) AS u2 FROM lineitem " +
        "WHERE l_suppkey <= 100 AND l_suppkey <> l_partkey % 100), " +
        "adj AS (SELECT u1 AS src, u2 AS dst FROM edges " +
        "UNION ALL SELECT u2, u1 FROM edges), " +
        "deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY 1), " +
        "nodes AS (SELECT DISTINCT src AS node FROM adj), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
        "p0 AS (SELECT node, 1.0 / st.n AS pr FROM nodes CROSS JOIN st), " +
        "c1 AS (SELECT a.dst AS node, sum(p.pr / d.deg) AS ip FROM adj a " +
        "JOIN p0 p ON a.src = p.node JOIN deg d ON a.src = d.src GROUP BY 1), " +
        "p1 AS (SELECT nd.node, (1.0 - 0.85) / st.n + 0.85 * coalesce(c1.ip, 0.0) AS pr " +
        "FROM nodes nd CROSS JOIN st LEFT JOIN c1 ON nd.node = c1.node), " +
        "c2 AS (SELECT a.dst AS node, sum(p.pr / d.deg) AS ip FROM adj a " +
        "JOIN p1 p ON a.src = p.node JOIN deg d ON a.src = d.src GROUP BY 1), " +
        "p2 AS (SELECT nd.node, (1.0 - 0.85) / st.n + 0.85 * coalesce(c2.ip, 0.0) AS pr " +
        "FROM nodes nd CROSS JOIN st LEFT JOIN c2 ON nd.node = c2.node), " +
        "c3 AS (SELECT a.dst AS node, sum(p.pr / d.deg) AS ip FROM adj a " +
        "JOIN p2 p ON a.src = p.node JOIN deg d ON a.src = d.src GROUP BY 1), " +
        "p3 AS (SELECT nd.node, (1.0 - 0.85) / st.n + 0.85 * coalesce(c3.ip, 0.0) AS pr " +
        "FROM nodes nd CROSS JOIN st LEFT JOIN c3 ON nd.node = c3.node) " +
        "SELECT node, round(pr, 6) AS pr FROM p3 ORDER BY node")),

    Q("a24_pagerank_directed",
      // DIRECTED PageRank with the dangling-mass term
      // (Graph.pageRankDirected, 3 fixed rounds via tol=0, d=0.85):
      // edges point supplier → part-bucket WITHOUT symmetrization, so
      // the graph has genuine sinks (bucket 0 never supplies) and the
      // sink mass must be redistributed each round for Σpr = 1 —
      // convergence behavior itself is pinned by GraphSpec against an
      // independent power iteration. Oracle = the same recurrence
      // unrolled as chained CTEs, a21's convention (identical IEEE
      // expression trees, 6-decimal round at the end).
      (s, dir) => {
        val edges = Tables.load(s, dir, "lineitem")
          .filter(col("l_suppkey") <= 100)
          .select(col("l_suppkey").as("s"),
            pmod(col("l_partkey"), lit(100)).as("t"))
          .filter(col("s") =!= col("t")).distinct()
        graft.analytics.Graph.pageRankDirected(edges, "s", "t",
            maxIters = 3, d = 0.85, tol = 0.0)._1
          .select(col("node"), round(col("pr"), 6).as("pr"))
          .orderBy("node")
      },
      Some("WITH edges AS (SELECT DISTINCT l_suppkey AS src, " +
        "l_partkey % 100 AS dst FROM lineitem " +
        "WHERE l_suppkey <= 100 AND l_suppkey <> l_partkey % 100), " +
        "odeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1), " +
        "nodes AS (SELECT src AS node FROM edges " +
        "UNION SELECT dst FROM edges), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
        "p0 AS (SELECT node, 1.0 / st.n AS pr FROM nodes CROSS JOIN st), " +
        "d1 AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM p0 " +
        "WHERE node NOT IN (SELECT src FROM odeg)), " +
        "c1 AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS ip FROM edges e " +
        "JOIN p0 p ON e.src = p.node JOIN odeg d ON e.src = d.src GROUP BY 1), " +
        "p1 AS (SELECT nd.node, (1.0 - 0.85) / st.n + 0.85 * d1.dm / st.n + " +
        "0.85 * coalesce(c1.ip, 0.0) AS pr FROM nodes nd CROSS JOIN st " +
        "CROSS JOIN d1 LEFT JOIN c1 ON nd.node = c1.node), " +
        "d2 AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM p1 " +
        "WHERE node NOT IN (SELECT src FROM odeg)), " +
        "c2 AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS ip FROM edges e " +
        "JOIN p1 p ON e.src = p.node JOIN odeg d ON e.src = d.src GROUP BY 1), " +
        "p2 AS (SELECT nd.node, (1.0 - 0.85) / st.n + 0.85 * d2.dm / st.n + " +
        "0.85 * coalesce(c2.ip, 0.0) AS pr FROM nodes nd CROSS JOIN st " +
        "CROSS JOIN d2 LEFT JOIN c2 ON nd.node = c2.node), " +
        "d3 AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM p2 " +
        "WHERE node NOT IN (SELECT src FROM odeg)), " +
        "c3 AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS ip FROM edges e " +
        "JOIN p2 p ON e.src = p.node JOIN odeg d ON e.src = d.src GROUP BY 1), " +
        "p3 AS (SELECT nd.node, (1.0 - 0.85) / st.n + 0.85 * d3.dm / st.n + " +
        "0.85 * coalesce(c3.ip, 0.0) AS pr FROM nodes nd CROSS JOIN st " +
        "CROSS JOIN d3 LEFT JOIN c3 ON nd.node = c3.node) " +
        "SELECT node, round(pr, 6) AS pr FROM p3 ORDER BY node")),

    Q("a25_personalized_pagerank",
      // PERSONALIZED PageRank (Graph.personalizedPageRank, 3 fixed
      // rounds via tol=0, sources = suppliers {1,2,3}): teleport and
      // dangling mass return to the source set, so rank measures
      // proximity to the sources and nodes unreachable from them hold
      // exactly 0 — same directed sink-bearing graph as a24. Oracle =
      // the recurrence unrolled as chained CTEs with the teleport
      // vector as a CASE expression, IEEE tree mirrored, 6-decimal
      // round at the end.
      (s, dir) => {
        val edges = Tables.load(s, dir, "lineitem")
          .filter(col("l_suppkey") <= 100)
          .select(col("l_suppkey").as("s"),
            pmod(col("l_partkey"), lit(100)).as("t"))
          .filter(col("s") =!= col("t")).distinct()
        graft.analytics.Graph.personalizedPageRank(edges, "s", "t",
            sources = Seq(1L, 2L, 3L), maxIters = 3, d = 0.85, tol = 0.0)._1
          .select(col("node"), round(col("pr"), 6).as("pr"))
          .orderBy("node")
      },
      Some("WITH edges AS (SELECT DISTINCT l_suppkey AS src, " +
        "l_partkey % 100 AS dst FROM lineitem " +
        "WHERE l_suppkey <= 100 AND l_suppkey <> l_partkey % 100), " +
        "odeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1), " +
        "nodes AS (SELECT src AS node FROM edges " +
        "UNION SELECT dst FROM edges), " +
        "tp AS (SELECT node, CASE WHEN node IN (1, 2, 3) " +
        "THEN CAST(1.0 AS DOUBLE) / 3 ELSE 0.0 END AS p FROM nodes), " +
        "p0 AS (SELECT node, p AS pr FROM tp), " +
        "d1 AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM p0 " +
        "WHERE node NOT IN (SELECT src FROM odeg)), " +
        "c1 AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS ip FROM edges e " +
        "JOIN p0 p ON e.src = p.node JOIN odeg d ON e.src = d.src GROUP BY 1), " +
        "p1 AS (SELECT t.node, ((1.0 - 0.85) + 0.85 * d1.dm) * t.p + " +
        "0.85 * coalesce(c1.ip, 0.0) AS pr FROM tp t CROSS JOIN d1 " +
        "LEFT JOIN c1 ON t.node = c1.node), " +
        "d2 AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM p1 " +
        "WHERE node NOT IN (SELECT src FROM odeg)), " +
        "c2 AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS ip FROM edges e " +
        "JOIN p1 p ON e.src = p.node JOIN odeg d ON e.src = d.src GROUP BY 1), " +
        "p2 AS (SELECT t.node, ((1.0 - 0.85) + 0.85 * d2.dm) * t.p + " +
        "0.85 * coalesce(c2.ip, 0.0) AS pr FROM tp t CROSS JOIN d2 " +
        "LEFT JOIN c2 ON t.node = c2.node), " +
        "d3 AS (SELECT coalesce(sum(pr), 0.0) AS dm FROM p2 " +
        "WHERE node NOT IN (SELECT src FROM odeg)), " +
        "c3 AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS ip FROM edges e " +
        "JOIN p2 p ON e.src = p.node JOIN odeg d ON e.src = d.src GROUP BY 1), " +
        "p3 AS (SELECT t.node, ((1.0 - 0.85) + 0.85 * d3.dm) * t.p + " +
        "0.85 * coalesce(c3.ip, 0.0) AS pr FROM tp t CROSS JOIN d3 " +
        "LEFT JOIN c3 ON t.node = c3.node) " +
        "SELECT node, round(pr, 6) AS pr FROM p3 ORDER BY node")),

    Q("a26_hits",
      // HITS hubs & authorities (Graph.hits, 2 rounds) on the same
      // directed supplier→part-bucket graph as a24/a25 — the natural
      // bipartite-ish hub/authority shape (suppliers point, buckets
      // receive). Oracle = the half-step recurrence unrolled as
      // chained CTEs with L1 normalizers as scalar subqueries, IEEE
      // trees mirrored, 6-decimal round.
      (s, dir) => {
        val edges = Tables.load(s, dir, "lineitem")
          .filter(col("l_suppkey") <= 100)
          .select(col("l_suppkey").as("s"),
            pmod(col("l_partkey"), lit(100)).as("t"))
          .filter(col("s") =!= col("t")).distinct()
        graft.analytics.Graph.hits(edges, "s", "t", iters = 2)
          .select(col("node"), round(col("hub"), 6).as("hub"),
            round(col("auth"), 6).as("auth"))
          .orderBy("node")
      },
      Some("WITH edges AS (SELECT DISTINCT l_suppkey AS src, " +
        "l_partkey % 100 AS dst FROM lineitem " +
        "WHERE l_suppkey <= 100 AND l_suppkey <> l_partkey % 100), " +
        "nodes AS (SELECT src AS node FROM edges " +
        "UNION SELECT dst FROM edges), " +
        "h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes), " +
        "a1r AS (SELECT e.dst AS node, sum(h.hub) AS raw FROM edges e " +
        "JOIN h0 h ON e.src = h.node GROUP BY 1), " +
        "a1s AS (SELECT sum(raw) AS t FROM a1r), " +
        "a1 AS (SELECT nd.node, coalesce(r.raw, 0.0) / s.t AS auth " +
        "FROM nodes nd CROSS JOIN a1s s LEFT JOIN a1r r ON nd.node = r.node), " +
        "h1r AS (SELECT e.src AS node, sum(a.auth) AS raw FROM edges e " +
        "JOIN a1 a ON e.dst = a.node GROUP BY 1), " +
        "h1s AS (SELECT sum(raw) AS t FROM h1r), " +
        "h1 AS (SELECT nd.node, coalesce(r.raw, 0.0) / s.t AS hub " +
        "FROM nodes nd CROSS JOIN h1s s LEFT JOIN h1r r ON nd.node = r.node), " +
        "a2r AS (SELECT e.dst AS node, sum(h.hub) AS raw FROM edges e " +
        "JOIN h1 h ON e.src = h.node GROUP BY 1), " +
        "a2s AS (SELECT sum(raw) AS t FROM a2r), " +
        "a2 AS (SELECT nd.node, coalesce(r.raw, 0.0) / s.t AS auth " +
        "FROM nodes nd CROSS JOIN a2s s LEFT JOIN a2r r ON nd.node = r.node), " +
        "h2r AS (SELECT e.src AS node, sum(a.auth) AS raw FROM edges e " +
        "JOIN a2 a ON e.dst = a.node GROUP BY 1), " +
        "h2s AS (SELECT sum(raw) AS t FROM h2r), " +
        "h2 AS (SELECT nd.node, coalesce(r.raw, 0.0) / s.t AS hub " +
        "FROM nodes nd CROSS JOIN h2s s LEFT JOIN h2r r ON nd.node = r.node) " +
        "SELECT h2.node, round(h2.hub, 6) AS hub, round(a2.auth, 6) AS auth " +
        "FROM h2 JOIN a2 ON h2.node = a2.node ORDER BY h2.node")),

    Q("a27_triangles",
      // exact triangle count (Graph.triangleCount, degree-ordered
      // orientation → O(m^1.5) wedges) over the undirected
      // supplier/part-bucket graph. The oracle counts by an
      // INDEPENDENT formulation — canonical a<b<c triple join — so
      // agreement validates the orientation algebra end-to-end; the
      // result is an exact integer, no float parity needed.
      (s, dir) => {
        val edges = Tables.load(s, dir, "lineitem")
          .filter(col("l_suppkey") <= 100)
          .select(col("l_suppkey").as("s"),
            pmod(col("l_partkey"), lit(100)).as("t"))
          .filter(col("s") =!= col("t"))
        graft.analytics.Graph.triangleCount(edges, "s", "t")
      },
      Some("WITH und AS (SELECT DISTINCT " +
        "least(l_suppkey, l_partkey % 100) AS a, " +
        "greatest(l_suppkey, l_partkey % 100) AS b FROM lineitem " +
        "WHERE l_suppkey <= 100 AND l_suppkey <> l_partkey % 100) " +
        "SELECT count(*) AS triangles FROM und x " +
        "JOIN und y ON x.b = y.a JOIN und z ON z.a = x.a AND z.b = y.b")),

    Q("a28_bfs_hops",
      // BFS hop distances from node 1 over the a21 friend graph
      // (Graph.bfsHops, frontier expansion, ≤ 4 hops). The oracle is
      // an INDEPENDENT formulation — DuckDB's recursive CTE
      // enumerates (node, hop) reachability rows and takes min(hop)
      // — so agreement validates the frontier/anti-join algebra, not
      // just a mirrored computation. Exact integers, no float parity.
      (s, dir) => {
        val edges = graft.ops.Kernels.normalizeEdge(
          Tables.load(s, dir, "lineitem").filter(col("l_suppkey") <= 100)
            .select(col("l_suppkey").as("a"),
              pmod(col("l_partkey"), lit(100)).as("b")),
          "a", "b").filter(col("u1") =!= col("u2")).distinct()
        graft.analytics.Graph.bfsHops(edges, "u1", "u2",
            sources = Seq(1L), maxHops = 4)
          .orderBy("node")
      },
      Some("WITH RECURSIVE edges AS (SELECT DISTINCT " +
        "least(l_suppkey, l_partkey % 100) AS u1, " +
        "greatest(l_suppkey, l_partkey % 100) AS u2 FROM lineitem " +
        "WHERE l_suppkey <= 100 AND l_suppkey <> l_partkey % 100), " +
        "adj AS (SELECT u1 AS src, u2 AS dst FROM edges " +
        "UNION ALL SELECT u2, u1 FROM edges), " +
        "reach(node, hop) AS (" +
        "SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop " +
        "UNION " +
        "SELECT a.dst, r.hop + 1 FROM reach r JOIN adj a ON r.node = a.src " +
        "WHERE r.hop < 4) " +
        "SELECT node, min(hop) AS hop FROM reach GROUP BY 1 ORDER BY 1")),

    Q("a31_shortest_paths",
      // weighted shortest paths from node 1 (Graph.shortestPaths,
      // Bellman-Ford, 6 relaxation rounds) over the DIRECTED
      // supplier→bucket graph with the co-occurrence count as the
      // edge weight. Capped rounds = hop-bounded cheapest paths, a
      // deterministic semantic at any scale; the oracle unrolls the
      // same 6 relax-and-fold rounds as chained CTEs. Exact integer
      // costs end to end.
      (s, dir) => {
        val edges = Tables.load(s, dir, "lineitem")
          .filter(col("l_suppkey") <= 100)
          .select(col("l_suppkey").as("s"),
            pmod(col("l_partkey"), lit(100)).as("t"))
          .filter(col("s") =!= col("t"))
          .groupBy(col("s"), col("t")).agg(count(lit(1)).as("w"))
        graft.analytics.Graph.shortestPaths(edges, "s", "t", "w",
            sources = Seq(1L), maxRounds = 6)._1
          .orderBy("node")
      },
      Some {
        val base = "SELECT l_suppkey AS src, l_partkey % 100 AS dst, " +
          "count(*) AS w FROM lineitem WHERE l_suppkey <= 100 AND " +
          "l_suppkey <> l_partkey % 100 GROUP BY 1, 2"
        def relax(i: Int) = s"d${i + 1} AS (SELECT node, min(cost) AS cost " +
          s"FROM (SELECT node, cost FROM d$i UNION ALL SELECT e.dst, " +
          s"d$i.cost + e.w FROM d$i JOIN e ON d$i.node = e.src) GROUP BY 1)"
        "WITH e AS (" + base + "), " +
          "d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost), " +
          (0 until 6).map(relax).mkString(", ") +
          " SELECT node, cost FROM d6 ORDER BY node"
      }),

    Q("a30_kcore",
      // k-core by iterative peeling (Graph.kCore, k=16, round cap 5)
      // over the THINNED co-occurrence graph (pairs co-occurring ≥ 15
      // times — the full graph is complete and peel-trivial). At this
      // SF peeling converges in 3 rounds (93 survivors); the oracle
      // unrolls exactly 5 peel rounds as chained CTEs — no-ops after
      // the fixpoint — so the capped operator matches at any scale.
      // Exact integers end to end.
      (s, dir) => {
        val edges = Tables.load(s, dir, "lineitem")
          .filter(col("l_suppkey") <= 100)
          .select(col("l_suppkey").as("a"),
            pmod(col("l_partkey"), lit(100)).as("b"))
          .filter(col("a") =!= col("b"))
          .groupBy(least(col("a"), col("b")).as("u1"),
            greatest(col("a"), col("b")).as("u2"))
          .agg(count(lit(1)).as("w")).filter(col("w") >= 15)
        graft.analytics.Graph.kCore(edges, "u1", "u2", k = 16,
            maxRounds = 5)._1
          .orderBy("node")
      },
      Some {
        val und = "SELECT least(l_suppkey, l_partkey % 100) AS u1, " +
          "greatest(l_suppkey, l_partkey % 100) AS u2 FROM lineitem " +
          "WHERE l_suppkey <= 100 AND l_suppkey <> l_partkey % 100 " +
          "GROUP BY 1, 2 HAVING count(*) >= 15"
        // AS MATERIALIZED: each peel level references the previous one
        // 5x (two NOT INs over d_i, which reads e_i twice, plus e_i
        // itself); DuckDB's default CTE inlining re-evaluates e0
        // ~5^5 times — 338 s at sf0.01, 0.1 s materialized (measured,
        // hash-identical: materialization is semantics-preserving).
        def deg(i: Int) = s"d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM " +
          s"(SELECT u1 AS node FROM e$i UNION ALL SELECT u2 FROM e$i) GROUP BY 1)"
        def peel(i: Int) = s"e${i + 1} AS MATERIALIZED (SELECT * FROM e$i WHERE " +
          s"u1 NOT IN (SELECT node FROM d$i WHERE deg < 16) AND " +
          s"u2 NOT IN (SELECT node FROM d$i WHERE deg < 16))"
        "WITH e0 AS MATERIALIZED (" + und + "), " +
          (0 until 5).map(i => deg(i) + ", " + peel(i)).mkString(", ") +
          ", " + deg(5) + " SELECT node, deg FROM d5 ORDER BY node"
      }),

    Q("a29_sessions",
      // BATCH gap sessionization (Behavior.sessionize, 30-min gap)
      // over the event log — the historical complement of the st2
      // streaming sessionizer. Both engines break sessions on the
      // same µs-exact gap predicate; the RANGE-framed running sum
      // keeps duplicate-timestamp rows in one deterministic session,
      // so no tie-break column is needed for hash parity.
      (s, dir) => graft.analytics.Behavior.sessionize(
          Tables.load(s, dir, "events"), "user_id", "ts", gapMinutes = 30)
        .orderBy("user_id", "session_id"),
      // session_id: DuckDB sum(int) over a window returns HUGEINT
      // (int128); the driver stringifies int128 unlike BIGINT while the
      // local replica hides it (st2's r1-r3 failure, documented at
      // StreamingQueries.scala:66-71). CAST AS BIGINT — the Spark side
      // is already LongType.
      Some("WITH l AS (SELECT user_id, ts, lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts) AS pts FROM events), " +
        "f AS (SELECT user_id, ts, CASE WHEN pts IS NULL OR " +
        "epoch_us(ts) - epoch_us(pts) > 30*60*1000000 THEN 1 ELSE 0 END " +
        "AS nf FROM l), " +
        "s AS (SELECT user_id, ts, CAST(sum(nf) OVER " +
        "(PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_id FROM f) " +
        "SELECT user_id, session_id, min(ts) AS session_start, " +
        "max(ts) AS session_end, count(*) AS n_events FROM s " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    Q("a32_basket_pairs",
      // a-priori frequent-pair mining over order baskets: which parts
      // co-occur in the same order, with confidence. Item-frequency
      // prune BEFORE the pair self-join (Baskets scaladoc) — the long
      // tail never enters pair generation; basket-size cap guards
      // degenerate fanout. Counts are exact BIGINT both sides; conf
      // is an exact small-integer ratio rounded for parity.
      (s, dir) => graft.analytics.Baskets.frequentPairs(
          Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minItemSupport = 40, minPairSupport = 2, maxBasketSize = 32)
        .orderBy("p1", "p2"),
      Some("WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem), " +
        "sized AS (SELECT ok FROM items GROUP BY ok HAVING count(*) <= 32), " +
        "base AS (SELECT i.ok, i.pk FROM items i " +
        "WHERE EXISTS (SELECT 1 FROM sized s WHERE s.ok = i.ok)), " +
        "freq AS (SELECT pk, count(*) AS sup FROM base GROUP BY pk " +
        "HAVING count(*) >= 40), " +
        "fb AS (SELECT b.ok, b.pk FROM base b " +
        "WHERE EXISTS (SELECT 1 FROM freq f WHERE f.pk = b.pk)), " +
        "pairs AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS pair_sup " +
        "FROM fb a JOIN fb b ON a.ok = b.ok AND a.pk < b.pk " +
        "GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT p1, p2, pair_sup, " +
        "round(CAST(pair_sup AS DOUBLE) / f.sup, 6) AS conf " +
        "FROM pairs JOIN freq f ON pairs.p1 = f.pk ORDER BY p1, p2")),

    Q("a33_bitmap_distinct",
      // EXACT distinct users per segment via the mergeable chunked
      // bitmap aggregate (BitmapAgg scaladoc) — the exact counterpart
      // of a19's HLL++: same one-pass map-side-combined shape, but the
      // per-group state is an exact id bitmap, so the count is exact
      // and the bitmaps themselves compose (a34). The oracle is the
      // definitionally-equal COUNT(DISTINCT).
      (s, dir) => {
        import graft.functions.BitmapAgg.{bitmap_agg, bitmap_card}
        Tables.load(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(bitmap_card(bitmap_agg(col("user_id"))).as("n_users"),
            count(lit(1)).as("n_events"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, count(DISTINCT user_id) AS n_users, " +
        "count(*) AS n_events FROM events GROUP BY 1 ORDER BY 1")),

    Q("a34_segment_overlap",
      // audience overlap: exact |A ∩ B| for every segment pair from
      // the PRE-AGGREGATED bitmaps — one scan of the fact builds k
      // audience bitmaps; the pairwise stage touches only those k
      // rows (bitmap_and_card never re-reads the fact). This is the
      // query HLL sketches cannot answer (no intersection); the exact
      // fact-side oracle is the distinct-pair self-join. The k×k
      // pairing is a deliberate tiny broadcast-nested-loop over
      // aggregate rows, k = |segments| — allowlisted in
      // PlanQualitySpec with the other 1-row-side crosses.
      (s, dir) => {
        import graft.functions.BitmapAgg.{bitmap_agg, bitmap_and_card}
        val bm = Tables.load(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(bitmap_agg(col("user_id")).as("bm"))
        bm.as("a").join(bm.as("b"),
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("t1"), col("b.event_type").as("t2"),
            bitmap_and_card(col("a.bm"), col("b.bm")).as("overlap"))
          .filter(col("overlap") > 0)
          .orderBy("t1", "t2")
      },
      Some("WITH au AS (SELECT DISTINCT event_type, user_id FROM events) " +
        "SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS overlap " +
        "FROM au a JOIN au b ON a.user_id = b.user_id " +
        "AND a.event_type < b.event_type GROUP BY 1, 2 ORDER BY 1, 2")),

    Q("a37_rolling_distinct",
      // EXACT rolling 7-day distinct users per day — the windowed
      // COUNT(DISTINCT) SQL windows can't express and HLL can only
      // approximate. Two-level bitmap shape: one scan builds a bitmap
      // per DAY (the only fact-sized agg); each daily bitmap then
      // replicates to the ≤7 window anchors it feeds (constant
      // fanout, the grid-join discipline) and OR-merges per anchor —
      // re-aggregation cost ∝ days×7 bitmaps, never the fact. The
      // oracle is the definitional day-grid join with
      // count(DISTINCT).
      (s, dir) => {
        import graft.functions.BitmapAgg.{bitmap_agg, bitmap_card, bitmap_or_agg}
        val daily = Tables.load(s, dir, "events")
          .select(to_date(col("ts")).as("d"), col("user_id"))
          .groupBy(col("d")).agg(bitmap_agg(col("user_id")).as("bm"))
        val anchors = daily.select(col("d").as("day"))
        daily
          .withColumn("off", explode(array((0 to 6).map(lit): _*)))
          .select(date_add(col("d"), col("off")).as("day"), col("bm"))
          .join(anchors, Seq("day"), "left_semi")
          .groupBy(col("day"))
          .agg(bitmap_card(bitmap_or_agg(col("bm"))).as("users_7d"))
          .orderBy("day")
      },
      Some("WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events), " +
        "du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events) " +
        "SELECT w.day, count(DISTINCT du.user_id) AS users_7d " +
        "FROM days w JOIN du ON du.d BETWEEN w.day - 6 AND w.day " +
        "GROUP BY 1 ORDER BY 1")),

    Q("a36_connected_components",
      // connected components (public Graph surface) over the
      // functional graph u → 7u mod 300 on event users — long cycles
      // and multi-hop chains that only true transitive closure labels
      // correctly (the d7 kernel, exposed for arbitrary edge lists).
      // Oracle: DuckDB recursive-CTE reachability min, the d7 form.
      (s, dir) => {
        val u = Tables.load(s, dir, "events")
          .select(col("user_id")).filter(col("user_id") < 300).distinct()
        val edges = u.select(col("user_id").as("a"),
            pmod(col("user_id") * 7, lit(300)).as("b"))
          .filter(col("a") =!= col("b"))
        graft.analytics.Graph.connectedComponents(edges, "a", "b")
          .orderBy("node")
      },
      Some("WITH RECURSIVE " +
        "u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 300), " +
        "e0 AS (SELECT user_id AS src, (user_id * 7) % 300 AS dst FROM u " +
        "WHERE user_id <> (user_id * 7) % 300), " +
        "edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0), " +
        "reach AS (SELECT src AS id, dst AS r FROM edges " +
        "UNION SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src) " +
        "SELECT id AS node, least(id, min(r)) AS component FROM reach " +
        "GROUP BY id ORDER BY node")),

    Q("j21_nullsafe_join",
      // null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the open
      // orders collapse to a NULL key, and the join must still match
      // them to the NULL dimension row — a plain equi-join silently
      // drops every NULL-keyed fact. n_joined ≡ n_in_class per class
      // pins that no key class (NULL included) leaked.
      (s, dir) => {
        val keyed = Tables.load(s, dir, "orders").select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("k"))
        val dim = keyed.groupBy(col("k")).agg(count(lit(1)).as("n_in_class"))
        keyed.as("f").join(dim.as("d"), col("f.k") <=> col("d.k"))
          .groupBy(coalesce(col("f.k"), lit("OPEN")).as("class"),
            col("n_in_class"))
          .agg(count(lit(1)).as("n_joined"))
          .orderBy("class")
      },
      Some("WITH keyed AS (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS k " +
        "FROM orders), " +
        "dim AS (SELECT k, count(*) AS n_in_class FROM keyed GROUP BY k) " +
        "SELECT coalesce(keyed.k, 'OPEN') AS class, n_in_class, " +
        "count(*) AS n_joined FROM keyed JOIN dim " +
        "ON keyed.k IS NOT DISTINCT FROM dim.k " +
        "GROUP BY 1, 2 ORDER BY 1")),

    Q("j19_skyline",
      // Pareto frontier over the part catalog (maximize size, minimize
      // price) via the agg-reduce + bounded-sweep shape (Skyline
      // scaladoc) — never the O(n²) dominance anti-join the oracle
      // spells out. The two formulations are definitionally equal.
      (s, dir) => graft.ops.Skyline.skyline2d(
          Tables.load(s, dir, "part"), "p_size", "p_retailprice")
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, p_size, p_retailprice FROM part p " +
        "WHERE NOT EXISTS (SELECT 1 FROM part q " +
        "WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice " +
        "AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)) " +
        "ORDER BY p_partkey")),

    Q("j20_grid_join",
      // spatial distance self-join, grid-equi-ized (SpatialJoin
      // scaladoc): customers placed on a 1000×1000 plane by md5-mixed
      // deterministic coordinates (portable integer arithmetic — the
      // t7 hashSplit convention; a linear-hash placement would
      // lattice-align and produce zero close pairs). The oracle is
      // the exact all-pairs formulation; the engine plan is the 9×
      // neighbor-replicated equi-join, never a cartesian.
      (s, dir) => {
        def axis(salt: String) =
          (conv(substring(md5(concat(lit(salt + "|"),
            col("c_custkey").cast("string"))), 1, 6), 16, 10)
            .cast("long") % 1000000).cast("double") / 1000.0
        val pts = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("id"),
            axis("gx").as("x"), axis("gy").as("y"))
        graft.ops.SpatialJoin.distanceJoin(pts, "id", "x", "y", 5.0)
          .orderBy("id1", "id2")
      },
      Some("WITH pts AS (SELECT c_custkey AS id, " +
        "CAST(CAST(concat('0x', substr(md5('gx|' || CAST(c_custkey AS VARCHAR)), 1, 6)) " +
        "AS BIGINT) % 1000000 AS DOUBLE)/1000.0 AS x, " +
        "CAST(CAST(concat('0x', substr(md5('gy|' || CAST(c_custkey AS VARCHAR)), 1, 6)) " +
        "AS BIGINT) % 1000000 AS DOUBLE)/1000.0 AS y FROM customer) " +
        "SELECT a.id AS id1, b.id AS id2, " +
        "round(sqrt((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)), 6) AS dist " +
        "FROM pts a JOIN pts b ON a.id < b.id " +
        "WHERE (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 25.0 " +
        "ORDER BY id1, id2")),

    Q("e4_centroids",
      // per-label mean embedding (class centroids) — elementwise
      // array aggregation via posexplode, flat output shape
      (s, dir) => Tables.load(s, dir, "embeddings")
        .select(col("label"),
          posexplode(Similarity.vecD(col("embedding"))).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).as("dim"))
        .agg(round(avg(col("v")), 6).as("centroid_v"), count(lit(1)).as("n_vecs"))
        .orderBy("label", "dim"),
      Some("SELECT label, dim, round(avg(v), 6) AS centroid_v, count(*) AS n_vecs " +
        "FROM (SELECT label, generate_subscripts(embedding, 1) AS dim, " +
        "unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings) " +
        "GROUP BY label, dim ORDER BY label, dim")),

    Q("a38_histogram",
      // one-pass equi-width histogram (Profile.histogram, 24 bins over
      // [0, 600k)) — exact bin counts with per-bin observed min/max;
      // out-of-range values clamp into the edge bins rather than drop.
      // The profiling complement of a9's percentiles and a12's sketch:
      // a groupBy on the bin id, map-side combined, 24 rows out of any
      // corpus. Bin arithmetic is the same IEEE double floor both
      // engines compute bit-identically.
      (s, dir) => graft.analytics.Profile.histogram(
          Tables.load(s, dir, "orders"), "o_totalprice",
          lo = 0.0, hi = 600000.0, bins = 24)
        .orderBy("bin"),
      Some("SELECT CAST(least(greatest(floor(o_totalprice / 25000.0), 0), 23) " +
        "AS INT) AS bin, count(*) AS n, min(o_totalprice) AS lo_v, " +
        "max(o_totalprice) AS hi_v FROM orders " +
        "WHERE o_totalprice IS NOT NULL GROUP BY 1 ORDER BY 1")),

    Q("a40_event_transitions",
      // first-order Markov transition matrix (Behavior.transitions):
      // per-user adjacent event pairs → (from, to) counts + row-
      // normalized probabilities — the "what happens after X" model
      // behind next-action analytics. One lead() window per user
      // (same single-shuffle discipline as a29's sessionize) + one
      // pair aggregation; event_id pins same-timestamp adjacency to
      // one deterministic order. The probability is an exact small-
      // integer ratio in IEEE double — identical both engines.
      (s, dir) => {
        val tr = Behavior.transitions(Tables.load(s, dir, "events"),
          "user_id", "ts", "event_type", tiebreak = Seq("event_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("from_state"))
        tr.withColumn("p", round(col("n") / sum(col("n")).over(w), 6))
          .orderBy("from_state", "to_state")
      },
      Some("WITH o AS (SELECT user_id, event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS nxt FROM events), " +
        "c AS (SELECT event_type AS from_state, nxt AS to_state, " +
        "count(*) AS n FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2) " +
        "SELECT from_state, to_state, n, " +
        "round(n / sum(n) OVER (PARTITION BY from_state), 6) AS p " +
        "FROM c ORDER BY from_state, to_state")),

    Q("v4_outliers",
      // per-group z-score anomaly screen (Profile.outliers, |z| > 3
      // sample-stddev): one stats aggregation + a broadcast join back
      // — the pre-training data-quality sweep. The 3σ boundary sits
      // 1.6e-3 from the nearest event score (measured), far above
      // cross-engine float-sum noise, so membership is stable; the
      // reported score rounds to 6dp for hash parity.
      (s, dir) => graft.analytics.Profile.outliers(
          Tables.load(s, dir, "events")
            .select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), "value", z = 3.0)
        .select(col("event_id"), col("event_type"),
          round(col("z_score"), 6).as("z_score"))
        .orderBy("event_id"),
      Some("WITH e AS (SELECT event_id, event_type, value FROM events " +
        "WHERE value IS NOT NULL), " +
        "s AS (SELECT event_type, avg(value) AS m, " +
        "stddev_samp(value) AS sd FROM e GROUP BY 1) " +
        "SELECT event_id, event_type, " +
        "round((value - m) / sd, 6) AS z_score " +
        "FROM e JOIN s USING (event_type) " +
        "WHERE sd > 0 AND abs((value - m) / sd) > 3.0 " +
        "ORDER BY event_id")),

    Q("m6_result_cache",
      // QUERY RESULT REUSE, planner-probed: ResultCacheRule is
      // installed on the session and the SAME DataFrame query runs
      // twice with NO explicit cache routing anywhere — the first run
      // populates the persisted entry from inside the optimizer, the
      // second is served from it, scanning ONLY the cache directory
      // (hard-asserted: the orders table is not touched). The key
      // digests the LOSSLESS canonical plan + scan roots + every
      // input's TableState fingerprint, so any commit to any input
      // re-keys and recomputes. The oracle recomputes the aggregate
      // from the raw table — a stale or torn cache entry cannot
      // hash-match.
      (s, dir) => {
        val cacheRoot = scratch(s, dir, "rescache", fresh = false)
        graft.analytics.ResultCache.install(s)
        graft.ops.ConfScope.withScopedConf(s,
            Seq("graft.resultcache.dir" -> cacheRoot)) {
          def q = Tables.load(s, dir, "orders")
            .groupBy(col("o_orderstatus").as("status"))
            .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("revenue"),
              count(lit(1)).as("n"))
            .orderBy("status")
          q.collect() // first run: the rule populates the entry
          val served = q
          val scans = MvQueries.scanRoots(served)
          require(scans.nonEmpty &&
            scans.forall(_.contains("graft_rescache_")),
            s"result cache was not served from the entry; scans = $scans")
          served
        }
      },
      Some("SELECT o_orderstatus AS status, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "count(*) AS n FROM orders GROUP BY status ORDER BY status")),
  )
}
