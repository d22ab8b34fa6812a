package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational kernels — the engine's equivalents of the
  * reference's recurring SQL idioms (SURVEY.md §2 / §7.1 `ops/`).
  *
  * Scale notes apply to every kernel: all of these are single-shuffle
  * (or shuffle-free given pre-partitioned input) and rely only on
  * hash-partitionable operations — no global sorts, no driver-side
  * loops, no correlated per-row subqueries.
  */
object Kernels {

  /** Spread a narrow source across the cluster before compute-heavy
    * per-row work (regex shingling, hashing, vector math). Small
    * dimension files arrive as 1-2 parquet partitions — fine for
    * scans, serial for expensive projections; one cheap round-robin
    * shuffle of the raw bytes buys full parallelism. No-op when the
    * input is already wide (the 100 TB case). */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // queryExecution.toRdd reuses the frame's own (cached) plan —
    // unlike df.rdd, which builds a SECOND QueryExecution around a
    // row-deserializer and re-runs analysis/optimization per call
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Latest-row-per-key — the rewrite of the reference's N+1
    * "latest close" loops (reference `portfolio.js:289-302`,
    * `holdings.js:46-65`, `trading.js:22-35`: per-key
    * `ORDER BY timestamp DESC LIMIT 1` issued once per holding).
    *
    * One aggregation with partial (map-side) combine: `max_by` of the
    * row struct over a deterministic ordering struct. No window, no
    * global sort, one shuffle on the key — this survives 100 TB where
    * a global window-sort would not. The struct buffers are not
    * fixed-width, so Spark plans a SortAggregate (a per-partition sort
    * on the key each side of the shuffle), not a HashAggregate. For a
    * single fixed-width value, `max_by(value, ord)` over a fixed-width
    * `ord` hashes instead — see [[graft.api.Facade.latestCloses]].
    *
    * @param ord ordering columns, most-significant first; MUST be a
    *            total order within each key group for determinism.
    *
    * Project the input to the columns you need FIRST: the max_by
    * payload references every input column, so Catalyst cannot prune
    * the scan through it — a full-width frame here reads the whole
    * table schema off disk.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(ord: _*)).as("__row"))
      .select(col("__row.*"))
  }

  /** Top-k rows per key by the given ordering (reference
    * `stocks.js:21-26` latest-15 bars, `chart.js:74-80` last-50
    * closes — per-symbol DESC+LIMIT queries).
    *
    * Window `row_number` over (key, ord desc) — a per-key sort, not a
    * global one; shuffle on key only. For k=1 prefer [[latestPerKey]].
    */
  def topKPerKey(df: DataFrame, keys: Seq[String], ord: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** [[topKPerKey]] without the per-key sort: the bounded-heap
    * aggregate [[graft.functions.TopKAgg.topk_rows]] carries at most
    * k rows per group through a partial/final combine, so the map
    * side discards everything below each partition's local top-k and
    * the shuffle moves O(keys · k) rows regardless of group size —
    * use this form when groups are large or skewed (a window sort
    * moves and sorts EVERY group row; at 100 TB that is the fact
    * table). Same result as [[topKPerKey]] given the same total
    * `ord` (largest-first on each ord column; add tie-breaks for a
    * total order, exactly as a window needs) — with ONE deliberate
    * delta: rows carrying a NULL in any ord key are SKIPPED (SQL
    * top-k over non-null ranks), where the window form ranks them
    * nulls-last. Keep every ord expression non-null-producing: in
    * particular a `-id` tie-break requires a NUMERIC id (unary minus
    * on a string id is a failed cast — null, or an error under ANSI);
    * hash or cast non-numeric ids to a non-null orderable first.
    *
    * The heap carries the non-key columns only; the key columns come
    * out of the grouping itself, so the result stays hash-partitioned
    * on `keys` and a following per-key operator on the same keys (a
    * re-rank heap, say) plans no second exchange. `perKey` names
    * columns that are constant within a key (a query's vector beside
    * its id): they ride once per group, through `first`, instead of in
    * every heap row or in the grouping key. */
  def topKPerKeyAgg(df: DataFrame, keys: Seq[String], ord: Seq[Column],
                    k: Int, perKey: Seq[String] = Nil): DataFrame =
    heapPerKey(df, keys, perKey, ord, k, explode(col("__top")).as("__row"))

  /** The shared body of [[topKPerKeyAgg]] and [[topKPerKeyRanked]]:
    * one heap per key over the columns that are neither keys nor
    * `perKey`, unpacked by `unpack` (an explode of `__top` into
    * `__row`), with the columns back in `df`'s order, then `extra`. */
  private def heapPerKey(df: DataFrame, keys: Seq[String], perKey: Seq[String],
                         ord: Seq[Column], k: Int, unpack: Column,
                         extra: Seq[Column] = Nil): DataFrame = {
    val grouped = keys ++ perKey
    val payload = struct(df.columns.filterNot(grouped.contains).map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.TopKAgg.topk_rows(payload, ord, k).as("__top"),
        perKey.map(c => first(col(c)).as(c)): _*)
      .select(grouped.map(col) :+ unpack: _*)
      .select(df.columns.toSeq.map(c =>
        if (grouped.contains(c)) col(c) else col("__row").getField(c).as(c)) ++
        extra: _*)
  }

  /** [[topKPerKeyAgg]] plus a 1-based `rank` column, derived from the
    * heap's sorted output order via `posexplode` — no Window operator
    * anywhere in the plan, not even over the k-row result. The ANN
    * selection kernels use this instead of
    * `topKPerKey(...).withColumn("rank", row_number().over(...))`:
    * the window form shuffles and per-key SORTS every scored
    * candidate row; this ships at most partitions × k rows per key
    * through a map-side-combined heap and reads rank off the array
    * position. `ord` must be a total order (tie-break columns) for a
    * deterministic rank, exactly as row_number needs; the
    * [[topKPerKeyAgg]] null-ord contract applies (null-ord rows are
    * skipped — keep ord expressions non-null, numeric-id tie-breaks). */
  def topKPerKeyRanked(df: DataFrame, keys: Seq[String], ord: Seq[Column],
                       k: Int): DataFrame =
    heapPerKey(df, keys, Nil, ord, k,
      posexplode(col("__top")).as(Seq("__pos", "__row")),
      Seq((col("__pos") + 1).cast("int").as("rank")))

  /** MERGE/upsert semantics — the reference's `INSERT … ON CONFLICT DO
    * UPDATE` (`lists.js:483-491` stockin shares, `portfolio.js:427-445`
    * statistics_cache write-back).
    *
    * Source rows win on key collision: keep target rows with no source
    * match (left_anti) and union the source. Both sides shuffle on the
    * key once; with bucketed storage the anti-join is shuffle-free.
    * Requires `src` to be key-unique (enforce upstream with
    * [[dedupExactKeys]]).
    */
  def upsert(target: DataFrame, src: DataFrame, keys: Seq[String]): DataFrame = {
    val srcAligned = src.select(target.columns.map(col): _*)
    // USING-style joins move the key columns to the front — restore
    // the target order and union BY NAME (a positional union would
    // silently misalign rows whenever keys aren't a schema prefix)
    target.join(src.select(keys.map(col): _*), keys, "left_anti")
      .select(target.columns.map(col): _*)
      .unionByName(srcAligned)
  }

  /** Full three-clause ANSI MERGE — the general form of [[upsert]]
    * (the reference only ever needs ON CONFLICT DO UPDATE/NOTHING;
    * a warehouse CDC-applies changelogs with all three clauses):
    *
    *   MERGE INTO target t USING src s ON keys
    *     WHEN MATCHED AND deleteWhen THEN DELETE
    *     WHEN MATCHED [AND updateWhen] THEN UPDATE SET * (source wins)
    *     WHEN NOT MATCHED [AND insertWhen] THEN INSERT *
    *
    * Clause conditions are Columns over the ALIASED sides — reference
    * target columns as `col("t.x")`, source as `col("s.x")` (clause
    * order is the ANSI one: delete is tested before update; a matched
    * row failing both conditions is kept unchanged).
    *
    * ONE full-outer shuffle join on the keys (each side scanned
    * once); with both sides bucketed on the key it is shuffle-free.
    * Matching is plain equality (ANSI): null keys never match — a
    * null-keyed target row survives, a null-keyed source row inserts.
    * Presence is tracked with literal flags, not key nullability, so
    * nullable keys don't corrupt clause routing. Requires `src`
    * key-unique ([[dedupExactKeys]] upstream), else matched rows fan
    * out — same contract as [[upsert]].
    */
  def merge3(target: DataFrame, src: DataFrame, keys: Seq[String],
             deleteWhen: Option[Column] = None,
             updateWhen: Option[Column] = None,
             insertWhen: Option[Column] = None): DataFrame = {
    val cols = target.columns.toSeq
    val t = target.withColumn("__te", lit(1)).as("t")
    val s = src.select(cols.map(col): _*).withColumn("__se", lit(1)).as("s")
    val joinCond = keys.map(k => col(s"t.$k") === col(s"s.$k"))
      .reduce(_ && _)
    val matched = col("t.__te").isNotNull && col("s.__se").isNotNull
    val srcOnly = col("t.__te").isNull
    val doDelete = deleteWhen.fold(lit(false))(matched && _)
    val doUpdate = updateWhen.fold(matched)(matched && _) && !doDelete
    val doInsert = insertWhen.fold(srcOnly)(srcOnly && _)
    t.join(s, joinCond, "full_outer")
      .filter((matched && !doDelete) || col("s.__se").isNull || doInsert)
      .select(cols.map(c =>
        when(doUpdate || srcOnly, col(s"s.$c"))
          .otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** Insert-if-absent — `ON CONFLICT DO NOTHING` (reference
    * `users.js:208-213` friend edge, `stocks.js:137-142` symbol dim,
    * `lists.js:388-395` share grant). Existing target rows win.
    */
  def insertIfAbsent(target: DataFrame, src: DataFrame, keys: Seq[String]): DataFrame = {
    val srcAligned = src.select(target.columns.map(col): _*)
    target.unionByName(
      srcAligned.join(target.select(keys.map(col): _*), keys, "left_anti")
        .select(target.columns.map(col): _*))
  }

  /** Copy-on-write point/predicate UPDATE (reference `stocks.js:163-169`
    * bar update, `portfolio.js:110-114` COALESCE-defaulted update,
    * `users.js:199-203` status transition).
    *
    * Pure projection — no shuffle at all: every row flows through a
    * `when(pred, new).otherwise(old)` per updated column.
    */
  def cowUpdate(df: DataFrame, pred: Column, sets: Map[String, Column]): DataFrame =
    sets.foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(c, when(pred, v).otherwise(col(c)))
    }

  /** Copy-on-write DELETE by key rows (reference `stocks.js:187-189`
    * bar delete) — anti-join against the doomed key set.
    */
  def cowDelete(df: DataFrame, doomedKeys: DataFrame, keys: Seq[String]): DataFrame =
    df.join(broadcast(doomedKeys.select(keys.map(col): _*)), keys, "left_anti")

  /** Copy-on-write DELETE by predicate. */
  def cowDeleteWhere(df: DataFrame, pred: Column): DataFrame = df.filter(!pred)

  /** Exact dedup keeping the minimum of `tiebreak` per key — a
    * deterministic `dropDuplicates` (Spark's own keeps an arbitrary
    * row). One `min_by` hash agg, partial-combine friendly.
    */
  def dedupExactKeys(df: DataFrame, keys: Seq[String], tiebreak: Column): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(payload, tiebreak).as("__row"))
      .select(col("__row.*"))
  }

  /** Normalize an undirected edge to (least, greatest) — the invariant
    * the reference maintains in app code on friend-edge insert
    * (`users.js:205-206`, `users.js:317` via Math.min/max).
    */
  def normalizeEdge(df: DataFrame, a: String, b: String,
                    outA: String = "u1", outB: String = "u2"): DataFrame =
    df.withColumn(outA, least(col(a), col(b)))
      .withColumn(outB, greatest(col(a), col(b)))
      .drop(Seq(a, b).filterNot(Set(outA, outB)): _*)

  /** Neighbors-of-v over normalized undirected edges — the rewrite of
    * the reference's disjunctive join (`users.js:68-77`:
    * `ON (u=f.u1 AND f.u2=$1) OR (u=f.u2 AND f.u1=$1)`), which Spark
    * would execute as a broadcast-nested-loop. Two filtered
    * projections + union keeps every join downstream hash-joinable.
    */
  def neighborsOf(edges: DataFrame, u1: String, u2: String, v: Column): DataFrame =
    edges.filter(col(u1) === v).select(col(u2).as("neighbor"))
      .union(edges.filter(col(u2) === v).select(col(u1).as("neighbor")))

  /** Mutual-neighbor counts over normalized undirected edges — the
    * "people you may know" generalization of the reference's friend
    * graph (`users.js:68-77` reads one user's neighbors; ranking
    * candidate friends needs the mutual count for EVERY pair at
    * once). Classic two-hop self-join: expand edges to both directed
    * adjacencies, equi-join on the shared neighbor `w`, count per
    * ordered pair (x < y — each unordered pair once).
    *
    * Scale shape: the join is equi (hash/sort-merge, never a nested
    * loop) and cost is Σ_w deg(w)² — the algorithm's candidate space,
    * not a plan artifact. On power-law graphs that sum is dominated
    * by a few hub vertices: `maxDegree` drops hubs above the cap
    * from the SHARED-NEIGHBOR role (they still appear as pair
    * endpoints via their other neighbors), bounding the candidate
    * space at deg·cap per vertex — the same df-cap discipline as
    * [[graft.pipeline.Dedup]]'s hot-shingle cap, and like there the
    * cap is part of the operator's declared contract, not a silent
    * approximation. */
  def mutualNeighborCounts(edges: DataFrame, u1: String, u2: String,
                           maxDegree: Option[Int] = None): DataFrame = {
    val adj = edges.select(col(u1).as("u"), col(u2).as("w"))
      .union(edges.select(col(u2).as("u"), col(u1).as("w")))
    val capped = maxDegree.fold(adj) { cap =>
      val hubs = adj.groupBy(col("w")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") > cap).select(col("w"))
      adj.join(hubs, Seq("w"), "left_anti")
    }
    capped.select(col("u").as("x"), col("w"))
      .join(capped.select(col("u").as("y"), col("w")), Seq("w"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("mutuals"))
  }

  /** Access-control semi-join — correlated `EXISTS(SELECT 1 …)` in
    * WHERE (reference `lists.js:190-194`, `reviews.js:46-53`).
    */
  def accessibleBy(rows: DataFrame, grants: DataFrame, keys: Seq[String]): DataFrame =
    rows.join(grants.select(keys.map(col): _*).distinct(), keys, "left_semi")

  /** Boolean-projection flags — scalar `EXISTS(...)` in the SELECT list
    * (reference `lists.js:167-179`: has_shares / shared_with_me).
    * One aggregation over the grants side, then a broadcastable left
    * join; `coalesce(flag, false)` restores EXISTS semantics for rows
    * with no grants at all.
    *
    * @param flags map of output column name -> aggregate over grants
    *              (e.g. `lit(true)`, `max(col("userid") === uid)`).
    */
  def existsFlags(rows: DataFrame, grants: DataFrame, keys: Seq[String],
                  flags: Map[String, Column]): DataFrame = {
    val aggd = grants.groupBy(keys.map(col): _*)
      .agg(flags.head._2.as(flags.head._1),
           flags.tail.map { case (n, c) => c.as(n) }.toSeq: _*)
    val joined = rows.join(aggd, keys, "left")
    flags.keys.foldLeft(joined)((d, n) =>
      d.withColumn(n, coalesce(col(n), lit(false))))
  }
}
