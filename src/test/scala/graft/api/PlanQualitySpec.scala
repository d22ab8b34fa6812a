package graft.api

import graft.SparkSpec

/** Physical-plan guards for the 100 TB posture: these assert the plan
  * SHAPE (broadcast strategy, parquet filter pushdown, partial
  * aggregation, codegen) rather than results — a correct-but-
  * quadratic plan fails here before it fails a scale run. */
class PlanQualitySpec extends SparkSpec {

  private val cache = scala.collection.mutable.Map.empty[String, String]

  /** Final (post-AQE) physical plan — execute first so adaptive
    * re-planning and codegen collapsing have happened. */
  private def plan(name: String): String = cache.getOrElseUpdate(name, {
    val df = QueryCatalog.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  })

  /** The FINAL plan section: AQE's toString repeats the tree under
    * "== Initial Plan ==", which double-counts nodes and shows
    * pre-reuse shapes. */
  private def finalSection(p: String): String =
    p.split("== Initial Plan ==").head

  /** Count of SURVIVING (executed, non-reused) subqueries. Spark
    * prints one as "Subquery subquery#N"; a ReusedSubquery reference
    * prints "ReusedSubquery Subquery subquery#N" and must NOT count —
    * nor should dynamic-pruning references ("dynamicpruning#N"), which
    * are the DESIRED shape for partition-pruned scans. */
  private def survivingSubqueries(p: String): Int =
    "(?<!ReusedSubquery )Subquery subquery#".r.findAllIn(p).length

  test("j1_dim_join broadcasts the dimension side") {
    assert(plan("j1_dim_join").contains("BroadcastHashJoin"))
  }

  test("j2_multihop_join broadcasts both dims — no shuffle join") {
    val p = plan("j2_multihop_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("j5 semi and j12 anti run as broadcast joins, not nested loops") {
    assert(plan("j5_semi_access").contains("LeftSemi"))
    assert(!plan("j5_semi_access").contains("BroadcastNestedLoopJoin"))
    assert(plan("j12_anti_probe").contains("LeftAnti"))
    assert(!plan("j12_anti_probe").contains("BroadcastNestedLoopJoin"))
  }

  test("p3_range_scan pushes key + range predicates into the parquet scan") {
    val p = plan("p3_range_scan")
    assert(p.contains("PushedFilters") && p.contains("IsNotNull(l_suppkey)"))
    assert(p.contains("EqualTo(l_suppkey,7)"))
  }

  test("scans prune columns: a1 reads only the 4 needed lineitem columns") {
    val p = plan("a1_stats_bundle")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_orderkey"))
  }

  test("a1_stats_bundle uses partial (map-side) hash aggregation") {
    val p = plan("a1_stats_bundle")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"))
  }

  test("j11 latest-per-key is a partial-combined max_by agg, not a window sort") {
    // struct-payload max_by buffers are immutable → SortAggregate, but
    // the partial (map-side) combine still collapses each partition to
    // one row per key before the single shuffle — the property that
    // matters at scale. No Window/global sort.
    val p = plan("j11_latest_per_key")
    assert(p.contains("partial_max_by"))
    assert(!p.contains("Window"))
    // the scan must be pruned to the 5 projected columns — a
    // full-width max_by payload would read the whole table schema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_discount"),
      readSchema)
  }

  test("o2_topk plans TakeOrderedAndProject, not a global sort") {
    assert(plan("o2_topk").contains("TakeOrderedAndProject"))
  }

  test("w1 lag window shuffles on the series key only (single exchange before window)") {
    val p = plan("w1_lag_returns")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(l_returnflag"))
  }

  test("headline queries run under whole-stage codegen") {
    // codegen stages appear as "*(n) Operator" in the plan tree
    Seq("a1_stats_bundle", "j1_dim_join", "w1_lag_returns", "a7_sum_product")
      .foreach(n => assert(plan(n).contains("*("), n))
  }

  test("e1 brute-force ANN broadcasts the query set") {
    assert(plan("e1_cosine_topk").contains("Broadcast"))
  }

  test("a5 corr matrix self-join is an equi join on the day, never cartesian") {
    val p = plan("a5_corr_matrix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("j9 portfolio valuation broadcasts the latest-price side") {
    assert(plan("j9_portfolio_value").contains("Broadcast"))
  }

  test("st2 sessionization is one window pass over the user key") {
    val p = plan("st2_sessionize_batch")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(user_id"))
  }

  test("d1 exact-dedup probe side prunes to the id column — no text through the join") {
    // the survivor semi-join must let Catalyst prune the probe-side
    // scan to doc_id only; the fingerprint side reads (doc_id, text)
    val p = plan("d1_exact_dedup")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(s => s.contains("doc_id") && !s.contains("text")),
      schemas.mkString("\n"))
  }

  test("d3 minhash pipeline: partial-combined signature agg, no window, hash joins only") {
    val p = plan("d3_minhash_lsh")
    assert(p.contains("partial_min"), "signature agg must map-side combine")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("e3 IVF probe broadcasts the query side against the cells") {
    assert(plan("e3_ivf_topk").contains("Broadcast"))
  }

  test("ANN candidate selection is the mergeable heap, never a window sort") {
    // the window form shuffles + per-key sorts EVERY scored candidate
    // row; topk_rows ships at most partitions × k rows per query and
    // derives rank from the heap's array position — so no Window node
    // may appear anywhere in an ANN plan
    for (q <- Seq("e1_cosine_topk", "e3_ivf_topk", "e6_pq_topk",
        "e9_sq8_topk", "e10_ann_join", "e14_progressive_topk")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q still plans a Window:\n$p")
      assert(p.contains("topk_rows"), s"$q lacks the bounded-heap agg")
    }
  }

  test("st1/st2 totals: exact DECIMAL sum inside, DOUBLE surfaced") {
    // gate-output convention (empirically pinned by CORRECTNESS_r01 vs
    // r02): the sum itself must be DECIMAL(18,2) — order-independent
    // under any shuffle/partitioning — but the SURFACED column must be
    // DOUBLE; raw DECIMAL gate columns are not hash-portable against
    // the driver's normalizer.
    Seq("st1_windowed_agg", "st2_sessionize_batch").foreach { n =>
      val df = QueryCatalog.queries(n)(spark, sf)
      assert(df.schema("total").dataType.typeName == "double", n)
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("sum(cast(") && p.contains("decimal(18,2)"),
        s"$n must sum in exact decimal internally:\n$p")
    }
  }

  test("t6 packing scan is sharded — no global single-partition window") {
    val p = plan("t6_sequence_pack")
    assert(p.contains("hashpartitioning(__shard"), p)
  }

  test("a11 salted agg really partials on (key, salt)") {
    assert(plan("a11_salted_agg").contains("__salt"))
  }

  test("j15 bloom semi join scans the build side once: join reads the cached key set") {
    val p = plan("j15_bloom_semi")
    assert(p.contains("might_contain"))
    // the distinct build-key set is cached by the bloom build and the
    // exact semi join reuses it — the join side must be an in-memory
    // scan, not a second FileScan+Exchange over orders
    assert(p.contains("InMemoryTableScan"), p)
    val fileScanIdx = p.linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains("FileScan") && l.contains("orders") => i
    }.toSeq
    val memIdx = p.linesIterator.indexWhere(_.contains("InMemoryRelation"))
    // any orders FileScan line may appear only INSIDE the cached
    // relation's printed subtree (below InMemoryRelation), never as a
    // live join input
    assert(fileScanIdx.forall(i => memIdx >= 0 && i > memIdx),
      s"live orders scan in join plan:\n$p")
  }

  test("rolling/rank/range windows shuffle on the series key only") {
    Seq("a14_rolling_indicators", "w5_ntile", "w6_range_rolling",
        "w7_value_windows").foreach { n =>
      val p = plan(n)
      assert(p.contains("Window"), n)
      assert(p.contains("hashpartitioning(l_returnflag"), n)
    }
  }

  test("a17 funnel is frontier joins + aggs — never a per-user window sort") {
    val p = plan("a17_funnel")
    assert(!p.contains("Window"), p.take(1500))
    assert(p.contains("HashAggregate"))
  }

  test("a18 cohort retention: two aggs + one equi join, no window") {
    val p = plan("a18_cohort_retention")
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("stored term index: a 2-term query scans at most 2 bucket directories") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = scratchDir("graft_tidx") + "/idx"
    val docs = (1 to 400).map(i =>
      (i.toLong, s"word$i alpha ${if (i % 3 == 0) "beta" else "gamma"} tail$i"))
      .toDF("doc_id", "text")
    graft.pipeline.TextAnalysis.saveTermIndex(docs, "doc_id", "text",
      root, nBuckets = 16)
    val postings = graft.pipeline.TextAnalysis.loadTermPostings(spark, root,
      Seq("alpha", "beta"))
    postings.collect()
    val exec = postings.queryExecution.executedPlan
    val p = exec.toString
    // the bucket cut happens at PLAN time (PartitionFilters), so only
    // the matching term_bucket directories are ever listed/opened
    assert(p.contains("PartitionFilters") && p.contains("term_bucket"), p)
    val scan = exec.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val nPart = scan.selectedPartitions.partitionCount
    assert(nPart >= 1 && nPart <= 2, s"expected ≤2 pruned buckets, got $nPart")
    // pruned postings ≡ the unpruned in-memory index filtered to the terms
    val exp = graft.pipeline.TextAnalysis.termIndex(docs, "doc_id", "text")
      .filter(col("term").isin("alpha", "beta"))
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    val got = postings.select("term", "doc_id", "tf")
      .as[(String, Long, Long)].collect().toSet
    assert(got == exp)
  }

  test("positional index: a phrase query scans at most its distinct terms' bucket directories") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = scratchDir("graft_pidx") + "/idx"
    // "alpha beta" occurs in every 3rd doc (once), "beta beta" never;
    // overlap case: doc 0 holds "beta beta beta" = 2 overlapping starts
    val docs = ((1 to 400).map(i =>
      (i.toLong, s"word$i alpha ${if (i % 3 == 0) "beta" else "gamma"} tail$i")) :+
      (0L, "beta beta beta")).toDF("doc_id", "text")
    graft.pipeline.TextAnalysis.saveTermIndex(docs, "doc_id", "text",
      root, nBuckets = 16, withPositions = true)
    val postings = graft.pipeline.TextAnalysis.loadTermPostings(spark, root,
      Seq("alpha", "beta"))
    val res = graft.pipeline.TextAnalysis.searchPhrase(
      postings, "doc_id", Seq("alpha", "beta"), k = 500)
    val got = res.select("doc_id", "n_matches").as[(Long, Long)].collect().toSet
    val exp = (1 to 400).filter(_ % 3 == 0).map(i => (i.toLong, 1L)).toSet
    assert(got == exp)
    // repeated-word phrase: ordinals demand two DISTINCT shifted hits,
    // and both overlapping starts in "beta beta beta" count
    val rep = graft.pipeline.TextAnalysis.searchPhrase(
      graft.pipeline.TextAnalysis.loadTermPostings(spark, root, Seq("beta")),
      "doc_id", Seq("beta", "beta"), k = 500)
      .select("doc_id", "n_matches").as[(Long, Long)].collect().toSet
    assert(rep == Set((0L, 2L)), rep)
    // the bucket cut happens at PLAN time: <=2 directories listed
    postings.collect()
    val exec = postings.queryExecution.executedPlan
    assert(exec.toString.contains("PartitionFilters") &&
      exec.toString.contains("term_bucket"))
    val scan = exec.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val nPart = scan.selectedPartitions.partitionCount
    assert(nPart >= 1 && nPart <= 2, s"expected <=2 pruned buckets, got $nPart")
    // append inherits the positional posting schema (meta flag), and
    // compact carries it — phrase search sees old + new docs alike
    graft.pipeline.TextAnalysis.appendTermIndex(
      Seq((500L, "alpha beta alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", root)
    def phrase() = graft.pipeline.TextAnalysis.searchPhrase(
      graft.pipeline.TextAnalysis.loadTermPostings(spark, root,
        Seq("alpha", "beta")), "doc_id", Seq("alpha", "beta"), k = 500)
      .select("doc_id", "n_matches").as[(Long, Long)].collect().toSet
    val expApp = exp + ((500L, 2L))
    assert(phrase() == expApp)
    assert(graft.pipeline.TextAnalysis.compactTermIndex(spark, root) == 2)
    assert(phrase() == expApp)
  }

  test("appended term index: every chain link prunes to the query buckets; compact folds to one link") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = scratchDir("graft_tidx2") + "/idx"
    def mk(r: Range) = r.map(i =>
      (i.toLong, s"word$i alpha ${if (i % 3 == 0) "beta" else "gamma"} tail$i"))
      .toDF("doc_id", "text")
    graft.pipeline.TextAnalysis.saveTermIndex(mk(1 to 200), "doc_id", "text",
      root, nBuckets = 16)
    graft.pipeline.TextAnalysis.appendTermIndex(mk(201 to 400),
      "doc_id", "text", root)
    def postings = graft.pipeline.TextAnalysis.loadTermPostings(spark, root,
      Seq("alpha", "beta"))
    val exec = { val df = postings; df.collect(); df.queryExecution.executedPlan }
    val scans = exec.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"two chain links expected: ${scans.size}")
    scans.foreach { scan =>
      val nPart = scan.selectedPartitions.partitionCount
      assert(nPart >= 1 && nPart <= 2,
        s"each link must prune to ≤2 buckets, got $nPart")
    }
    // the chained read ≡ the from-scratch index over all 400 docs
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    val exp = rows(graft.pipeline.TextAnalysis.termIndex(mk(1 to 400),
      "doc_id", "text").filter(col("term").isin("alpha", "beta")))
    assert(rows(postings) == exp)
    // compaction folds the chain to ONE link, vacuum reclaims the rest
    assert(graft.pipeline.TextAnalysis.compactTermIndex(spark, root) == 2)
    assert(graft.pipeline.TextAnalysis.vacuumTermIndex(spark, root) == 2)
    val exec2 = { val df = postings; df.collect(); df.queryExecution.executedPlan }
    val scans2 = exec2.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans2.size == 1, s"one folded link expected: ${scans2.size}")
    assert(rows(postings) == exp, "compaction must preserve the postings")
  }

  test("d12 corpus probe broadcasts the batch side — the persisted bucket log never shuffles") {
    val p = plan("d12_incremental_dedup")
    // the probe batch is broadcast into the corpus bucket scan; a
    // shuffle on (band, bucket) would re-partition the WHOLE corpus
    // log per nightly probe
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("Exchange hashpartitioning(band"),
      "corpus bucket log must not shuffle on the band join:\n" + p.take(1500))
    // the fingerprint VERIFY join is candidate-side broadcast too: a
    // shuffle on corpus_id would re-partition the whole corpus fp log
    // per probe (O(corpus), defeating the O(batch) contract)
    assert(!p.contains("Exchange hashpartitioning(corpus_id"),
      "corpus fp log must not shuffle on the verify join:\n" + p.take(2000))
  }

  test("s24 point probe: bloom-pruned file list AND parquet pushdown compose") {
    // the bloom index shrinks the task list (pinned by LayoutSpec);
    // the re-applied equality must ALSO reach the parquet reader so
    // row groups inside the surviving file(s) still prune
    val p = plan("s24_point_skip")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_orderkey"))
  }

  test("no query ever plans a cartesian product or nested-loop join") {
    QueryCatalog.entries.map(_.name).foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), n)
      // BroadcastNestedLoopJoin is acceptable ONLY for deliberate
      // tiny-side cross joins: e1's exact baseline and the e6/e9
      // quantized scans (query set × encoded corpus — the broadcast
      // cross IS the designed scan shape), and the 1-ROW stats
      // broadcasts (corpus N/avgdl, vocabulary size, node count)
      // t16/t17/t18/a21 attach per row (t22 fuses t16's BM25 list, so
      // it carries the same 1-row stats cross); a34's k×k pairing of
      // per-segment AGGREGATE rows (k = |segments|, never the fact);
      // v2's cross of its two 1-ROW agg results (the non-distinct ×
      // distinct stats split — see Profile.profile)
      // e14 joins e1's exemption: its stage-1 prefix scan is the same
      // deliberate broadcast cross of the tiny query set × corpus
      if (!Set("e1_cosine_topk", "e6_pq_topk", "e9_sq8_topk",
          "e14_progressive_topk",
          "t16_bm25_search", "t17_lm_score", "t18_tfidf", "t22_hybrid_rrf",
          "t25_bm25_append", // t16's BM25 kernel — same 1-row stats cross
          "a21_pagerank", "a34_segment_overlap",
          "v2_profile").contains(n))
        assert(!p.contains("BroadcastNestedLoopJoin"), n)
    }
  }

  // ---- composed-plan gates: the rewrites must fire TOGETHER ----
  // (each gate body hard-requires the optimized-plan shape — MV-only
  //  scans, no surviving Join/Aggregate, cache-entry serve — so these
  //  tests drive the gates and pin the post-AQE physical plan too)

  test("c1 composite: star MV + outer-join elim + result cache leave a cache-entry scan, no join") {
    val p = plan("c1_composite_star_topk")
    assert(!p.contains("Join"), p)
    assert(p.contains("rescache"), "repeat must read the cache entry\n" + p)
  }

  test("c2 composite: semi-probe elim exposes the star pattern — MV scan, no join") {
    val p = plan("c2_composite_semi_star")
    assert(!p.contains("Join"), p)
    assert(p.contains("/mv"), "must answer from the star summary\n" + p)
  }

  test("c3 composite: join + aggregate elimination stack to a bare projection") {
    val p = plan("c3_composite_elim_stack")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("c4 Q5 join chain: every dim broadcasts, date range pushed into the orders scan, no cartesian") {
    val p = plan("c4_q5_join_chain")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // customer/supplier/nation/region all ride broadcasts; only the
    // lineitem ⋈ orders spine may shuffle. Count in the final AQE
    // section only — the Initial Plan repeat would double-count.
    assert(finalSection(p).sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3, p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
  }

  test("c5 Q17 correlated scalar subquery decorrelates to an aggregate + join — never per-row") {
    val p = plan("c5_q17_decorrelated")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the per-part average runs ONCE as a grouped aggregate feeding a
    // join; a SURVIVING subquery would print as "Subquery subquery#N"
    // in the executed plan (the fully-decorrelated plan has none —
    // earlier revisions grepped "scalar-subquery", a string Spark's
    // PHYSICAL plans never print, so the guard was vacuous)
    assert(survivingSubqueries(p) == 0, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("c7 Q21 correlated EXISTS + NOT EXISTS plan as one semi + one anti self-join — never per-row") {
    val p = plan("c7_q21_exists_anti")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the EXISTS becomes one LeftSemi, the NOT EXISTS one LeftAnti —
    // each executed ONCE over the self-joined lineitem (a surviving
    // correlated subquery would re-scan lineitem per outer row)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(survivingSubqueries(p) == 0, p)
    // exactly three lineitem scans: l1 + the semi probe + the anti
    // probe — per-row re-execution would not even be countable here,
    // but a decorrelation that DUPLICATES the spine would show up as
    // extra scans. Count in the FINAL plan section only: AQE's
    // toString sometimes repeats the tree under "== Initial Plan =="
    val fin = p.split("== Initial Plan ==").head
    val scans = "lineitem\\.parquet".r.findAllIn(fin).length
    assert(scans == 3, s"expected 3 lineitem scans, got $scans:\n$p")
  }

  test("c8 Q15 max-of-view reuses ONE lineitem scan for both aggregate consumers") {
    val p = plan("c8_q15_maxview")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the textbook scalar-subquery form scans the fact twice (once
    // for the view, once for its max); the equality-join form must
    // let exchange reuse serve both consumers from one scan. Count in
    // the FINAL plan section only — AQE's toString repeats the tree
    // under "== Initial Plan ==" where reuse has not happened yet.
    val fin = p.split("== Initial Plan ==").head
    val scans = "lineitem\\.parquet".r.findAllIn(fin).length
    assert(scans == 1, s"expected 1 lineitem scan (exchange reuse), got $scans:\n$p")
    assert(fin.contains("ReusedExchange"), fin)
  }

  test("c9 Q13 keeps the ON-predicate inside the outer join — zero-order customers survive") {
    val p = plan("c9_q13_custdist")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftOuter"), p)
    // two aggregation levels (per-customer count, then the histogram),
    // each with a partial (map-side) phase. Count in the FINAL plan
    // section only — AQE's toString repeats the tree under
    // "== Initial Plan ==", which would mask a collapsed level
    val fin = p.split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(fin).length >= 4, p)
  }

  test("c10 Q16 NOT IN plans as one null-aware anti hash join — never a nested loop") {
    val p = plan("c10_q16_notin")
    // NOT IN's three-valued NULL semantics are the classic nested-loop
    // trap; the exclusion set must ride ONE broadcast anti hash join
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
    assert(survivingSubqueries(p) == 0, p)
  }

  test("c6 Q20 nested IN-subqueries plan as semi joins around one aggregate — never per-row") {
    val p = plan("c6_q20_nested_semi")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // both IN predicates become semi joins; the HAVING is one grouped
    // aggregate between them
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("HashAggregate"), p)
    assert(survivingSubqueries(p) == 0, p)
  }

  test("c15 DPP: the fact scan carries a dynamicpruning filter and reads 12 of ~83 partitions") {
    val df = QueryCatalog.queries("c15_dpp")(spark, sf)
    df.collect()
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    // the PartitionPruning rule must inject the runtime subquery into
    // the month-partitioned fact scan's partition filters
    assert(p.contains("dynamicpruning"), p)
    val scan = allNodes(exec).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.getOrElse("Location", "").contains("graft_dpp") => f
    }.getOrElse(fail(s"no partitioned fact scan in:\n$exec"))
    // runtime-pruned partition count, from the scan's own metric: the
    // dim filter (year 1996) selects 12 months of the ~83 on disk —
    // a scan that read them all would still be CORRECT, which is why
    // this pin exists
    val read = scan.metrics("numPartitions").value
    assert(read == 12, s"expected 12 partitions read, got $read")
  }

  test("c16 planner-injected runtime bloom filter reaches the fact leg of the shuffle join") {
    val df = QueryCatalog.queries("c16_runtime_filter")(spark, sf)
    // the gate forces planning inside its scoped thresholds, so the
    // memoized plan is inspectable here: bloom_filter_agg built once
    // over the filtered dim keys, might_contain pushed onto the fact
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("bloom_filter_agg"), opt)
    assert(opt.contains("might_contain"), opt)
    df.collect()
    // pin the FINAL adaptive section: AQE's DynamicJoinSelection can
    // demote a shuffle join to broadcast at runtime (the scoped conf
    // is restored before execution — only the merge HINT holds the
    // shape), and the Initial Plan repeat would mask exactly that
    val fin = finalSection(df.queryExecution.executedPlan.toString)
    assert(fin.contains("might_contain"), fin)
    assert(fin.contains("SortMergeJoin") || fin.contains("ShuffledHashJoin"),
      fin)
    assert(!fin.contains("BroadcastHashJoin"), fin)
  }

  test("a41 CUBE is one Expand + partial agg over a single scan — never 2^k re-scans") {
    val p = plan("a41_cube")
    val fin = p.split("== Initial Plan ==").head
    assert(fin.contains("Expand"), p)
    assert(p.contains("partial_"), p)
    val scans = "lineitem\\.parquet".r.findAllIn(fin).length
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$p")
  }

  test("w14 session_window shuffles once on the user key") {
    val p = plan("w14_session_window")
    assert(p.contains("SessionWindow") || p.contains("session_window"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c11 Q2 correlated scalar-min WITH an inner join chain decorrelates — never per-row") {
    val p = plan("c11_q2_min_supply")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the inner min-over-joined-suppliers must run ONCE as a grouped
    // aggregate equi-joined back on the correlation key; a surviving
    // subquery ("Subquery subquery#N" in the executed plan) would
    // re-run a 4-table join per part
    assert(survivingSubqueries(p) == 0, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("c12 Q22 plans the NOT EXISTS as one anti hash join; the scalar threshold runs once") {
    val p = plan("c12_q22_anti_scalar")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the correlated NOT EXISTS is one LeftAnti hash join (never a
    // per-customer probe); the UNCORRELATED average stays a scalar
    // subquery by design — executed once ("Subquery subquery#N" in
    // the plan), its repeats served by ReusedSubquery
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Subquery"), p)
  }

  test("c13 Q11 computes the global-sum HAVING threshold once — not per group") {
    val p = plan("c13_q11_having_scalar")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // grouped aggregate with partial phase + a separate one-row global
    // aggregate feeding the filter; never a join of the fact to itself
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), p)
    val fin = p.split("== Initial Plan ==").head
    assert(!fin.contains("SortMergeJoin"), p)
    // the global sum survives as the once-executed scalar
    assert(p.contains("Subquery"), p)
  }

  test("c14 Q8 market share: dims broadcast, CASE folds into ONE partial-agg rollup") {
    val p = plan("c14_q8_market_share")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // part/supplier/nation ride broadcasts; the ratio's two sums fold
    // into a single grouped aggregate (map-side partial) — never a
    // self-join of per-year totals against per-year-per-nation totals
    // count in the FINAL section only: AQE's toString repeats the tree
    // under "== Initial Plan ==", so 2 real broadcasts printed twice
    // would satisfy >= 3 and mask a dropped broadcast
    val fin = finalSection(p)
    assert(fin.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3, p)
    assert(p.contains("partial_"), p)
    val scans = "lineitem\\.parquet".r.findAllIn(fin).length
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$p")
  }
}
