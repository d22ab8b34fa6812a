package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.plans.PlanMatch.{conjuncts, rootsOf, stripToScan}
import org.apache.spark.sql.functions.{col, concat, count, lit, max, min, raise_error, sum, when}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** A registered materialized view: a pre-aggregated parquet summary of
  * a file-backed base table, plus the metadata the rewrite rule needs
  * to recognize queries it can answer.
  *
  * Column-naming contract (fixed by [[Mv.buildStar]]): for each measure
  * column `m` the MV stores `sum_m` and `cnt_m` (non-null count);
  * optionally `min_m` / `max_m`; for each `distincts` column an exact
  * value bitmap `bm_m` ([[graft.functions.BitmapAgg]] over the long
  * cast — COUNT(DISTINCT m) then re-aggregates as
  * `bitmap_card(bitmap_or_agg(bm_m))`, exact at any rollup, where
  * counts cannot sum and HLL only approximates); and one `cnt` =
  * COUNT(*). Dims keep their base names. The rewrite re-aggregates
  * those partials, which is exact because SUM/COUNT/MIN/MAX are
  * self-decomposable and bitmaps OR-merge.
  *
  * STALENESS is ENFORCED: the view answers for the base table as of
  * its build/refresh, and the [[MvDef.fp]] fingerprint check in
  * [[MvRewriteRule]] refuses the rewrite once the base moves — the
  * query falls back to the base scan until a refresh re-stamps. At
  * 100 TB the MV lives beside the base in the Layout catalog and is
  * refreshed incrementally from the snapshot change feed (the
  * `u13`/`st9` incremental-aggregation kernels); rebuilding here is
  * one grouped pass — O(|base|) once, amortized over every rewritten
  * query.
  *
  * `joins`: present on star-schema MVs — ONE entry per dimension: the
  * summary was built over `fact INNER JOIN dim_i ON factKeys_i =
  * dimKeys_i` for every entry; [[MvJoin.dimPaths]] is that dim side's
  * root-path identity (`basePaths` stays the fact's).
  *
  * `preserving`: the join is AUDITED fact-multiplicity-preserving —
  * at the stamped state every fact row joined EXACTLY ONE dim row
  * (fact keys all non-null, all matched, dim keys unique): the
  * classic lossless-FK join. A query that omits this join entirely
  * (joins only a subset of the star's dims, or none) is then still
  * answerable from the summary by rolling the omitted dim's columns
  * up — [[Mv.buildStar]] runs the audit, and the log refreshes
  * DOWNGRADE the flag when a window breaks it (never upgrade —
  * re-earning it costs a full audit, i.e. a rebuild). */
case class MvJoin(dimPaths: Set[String],
                  factKeys: Seq[String],
                  dimKeys: Seq[String],
                  preserving: Boolean = false)

/** `fp`: [[TableState]] fingerprint of the base (and join dim) at
  * build/refresh time — stamped by [[Mv.build]], [[Mv.buildJoin]],
  * [[Mv.buildStar]], [[Mv.refreshAppend]], [[Mv.refreshChanges]] and
  * [[Mv.refreshFromLog]], and CHECKED by
  * [[MvRewriteRule]] before every rewrite: a summary whose base has
  * since moved is refused, turning the documented staleness contract
  * into an enforced one (the query falls back to the base scan,
  * correct and merely slower; refresh to restore the rewrite).
  * Pinned by MvRewriteSpec's base-append test. Empty = unstamped:
  * caller owns freshness (direct `MvCatalog.register` writes). */
case class MvDef(name: String,
                 basePaths: Set[String],
                 mvPath: String,
                 dims: Seq[String],
                 measures: Set[String],
                 mins: Set[String],
                 maxs: Set[String],
                 joins: Seq[MvJoin] = Nil,
                 fp: String = "",
                 distincts: Set[String] = Set.empty,
                 where: Option[String] = None) {
  def allBasePaths: Set[String] =
    basePaths ++ joins.flatMap(_.dimPaths)
}

/** The MV [[Registry]]. A def covers its base and dim root paths —
  * the same identity the rewrite rule recovers from a candidate
  * plan's leaf [[HadoopFsRelation]] ([[PlanMatch.leafRoots]]), so
  * registration and lookup can never disagree on path spelling. */
object MvCatalog extends Registry[MvDef]("MV", _.name, _.allBasePaths) {

  /** Memoized resolved relation per summary directory: binding an MV
    * costs a file listing + parquet footer schema read, and the
    * rewrite rule would otherwise pay it PER CANDIDATE AGGREGATE per
    * planning pass. Keyed by mvPath — every refresh lands in a fresh
    * `_v*` directory, so a re-point naturally misses the cache and the
    * superseded entry is dropped on [[register]]. Consumers must wrap
    * the cached relation with `newInstance()` per binding site —
    * attribute ids must stay fresh across rewrite sites
    * ([[MvRewriteRule.bind]] does). */
  private val relCache =
    TrieMap.empty[String, org.apache.spark.sql.execution.datasources.LogicalRelation]
  /** Count of actual listing+schema loads — pinned by MvRewriteSpec's
    * bindLoads test (one per registered version, not one per planning
    * pass). */
  private[graft] val bindLoads = new java.util.concurrent.atomic.AtomicLong

  /** Drop BOTH the superseded path's entries and the new path's: a
    * rebuild-in-place ([[Mv.build]], mode overwrite, same mvPath — the
    * documented recovery for MIN/MAX-carrying views) deletes the part
    * files a cached relation's file index still lists; binding it
    * would fail at execution with FileNotFoundException. A
    * (re-)declaration is also the documented recovery from an
    * in-place base schema change: drop the bases' memoized footer
    * schemas so the NEXT predicate resolution reads fresh — without
    * this a re-declared filtered MV would resolve against the stale
    * memo and park on Literal(false) for the process lifetime. */
  override protected def evict(old: Option[MvDef], cur: Option[MvDef]): Unit = {
    (cur ++ old).foreach { d =>
      relCache.remove(d.mvPath); predCache.remove(d.mvPath)
    }
    cur.orElse(old).foreach(_.allBasePaths.foreach(schemaCache.remove))
  }
  override def clear(): Unit = {
    super.clear(); relCache.clear(); predCache.clear(); schemaCache.clear()
  }

  private[plans] def resolvedRelation(spark: SparkSession, mvPath: String)
      : Option[org.apache.spark.sql.execution.datasources.LogicalRelation] =
    relCache.get(mvPath).orElse {
      bindLoads.incrementAndGet()
      spark.read.parquet(mvPath).queryExecution.analyzed match {
        case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          relCache.put(mvPath, rel); Some(rel)
        case Project(_, rel:
            org.apache.spark.sql.execution.datasources.LogicalRelation) =>
          relCache.put(mvPath, rel); Some(rel)
        case _ => None
      }
    }

  /** Memoized parquet footer schema per BASE PATH: filtered-MV
    * predicate resolution otherwise re-reads every base's footer per
    * registered MV version — one footer read per base per
    * REGISTRATION EPOCH instead, however many filtered MVs share the
    * base. [[register]]/[[unregister]] drop the def's base entries:
    * a (re-)declaration is the documented recovery from an in-place
    * base schema change, so the next resolution after it must read
    * the footer fresh — a permanently stale memo would fail the new
    * predicate's analysis and park the view on Literal(false) for
    * the process lifetime. Between declarations the memo is safe: a
    * schema change moves the table and the fp stamp already suspends
    * the rewrite until re-declaration. */
  private val schemaCache =
    TrieMap.empty[String, org.apache.spark.sql.types.StructType]
  /** Count of actual footer reads — pinned by MvRewriteSpec. */
  private[graft] val schemaLoads = new java.util.concurrent.atomic.AtomicLong
  private def schemaOf(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate(path, {
      schemaLoads.incrementAndGet()
      spark.read.parquet(path).schema
    })

  /** Resolved conjuncts of a filtered MV's predicate, memoized per
    * summary version ([[relCache]] discipline): the `where` text is
    * re-analyzed against the base schema and run through the SAME
    * optimizer pipeline a candidate query's filters pass through, so
    * the two sides canonicalize identically (and literal types line
    * up for [[PlanMatch.implies]]). Empty for unfiltered MVs; base
    * footers come from [[schemaOf]]'s per-process memo. */
  private val predCache = TrieMap.empty[String, Seq[Expression]]
  private[plans] def predConjuncts(spark: SparkSession,
                                   d: MvDef): Seq[Expression] =
    d.where match {
      case None => Seq.empty
      case Some(w) => predCache.getOrElseUpdate(d.mvPath,
        try {
          // a STAR MV's predicate may reference DIM columns
          // ([[Mv.buildStar]] filters the JOINED star): resolve against
          // the UNION SCHEMA of every base table, bound over the fact
          // root — buildStar's ambiguity check made names unique
          // across tables, and the frame is only ANALYZED, never run,
          // so binding dim columns onto the fact scan is safe (a
          // multi-path read would trip on the Layout roots' differing
          // bucket-dir structures). Fact-only resolution would park a
          // dim-side where on Literal(false) forever.
          val factPaths = d.basePaths.toSeq.sorted
          val paths = if (d.joins.isEmpty) factPaths
            else factPaths ++ d.joins.flatMap(_.dimPaths.toSeq.sorted)
          val fields = scala.collection.mutable.LinkedHashMap
            .empty[String, org.apache.spark.sql.types.StructField]
          paths.foreach(p => schemaOf(spark, p).foreach(f =>
            if (!fields.contains(f.name)) fields += f.name -> f))
          val base = spark.read
            .schema(org.apache.spark.sql.types.StructType(
              fields.values.toSeq))
            .parquet(factPaths: _*)
          base.filter(org.apache.spark.sql.functions.expr(w))
            .queryExecution.optimizedPlan.collect {
              case Filter(c, _) => PlanMatch.conjuncts(c)
            }.flatten
        } catch {
          // un-analyzable predicate (schema drift, vanished base):
          // planning must not crash — park the view on a conjunct no
          // query can carry or imply, so the rewrite never fires
          case scala.util.control.NonFatal(_) => Seq(Literal(false))
        })
    }

  /** Single-table MVs whose base is exactly this scan's root-path set. */
  def forPaths(paths: Set[String]): Seq[MvDef] =
    all.filter(d => d.joins.isEmpty && d.basePaths == paths)

  /** Star MVs answerable for this bag of join-tree leaves, in any
    * orientation/order: one leaf must be the fact's `basePaths`, the
    * rest a SUB-multiset of the joins' `dimPaths` — a registered dim
    * may be absent from the query ONLY if its join is audited
    * [[MvJoin.preserving]] (the summary then rolls its columns up
    * without changing fact multiplicity). A single fact-only leaf
    * matches when EVERY join is preserving. For a dim path registered
    * under several joins (role-playing), all of its joins must be
    * present — the key equalities cannot be attributed otherwise.
    * Returns (def, present joins, omitted joins). */
  def forLeaves(leaves: Seq[Set[String]])
      : Seq[(MvDef, Seq[MvJoin], Seq[MvJoin])] = {
    def key(s: Set[String]): String = s.toSeq.sorted.mkString("|")
    all.flatMap { d =>
      if (d.joins.isEmpty || leaves.size > d.joins.size + 1) None
      else {
        val bag = leaves.map(key)
        val fk = key(d.basePaths)
        if (!bag.contains(fk)) None
        else {
          val dimBag = bag.diff(Seq(fk))
          val byPath = d.joins.groupBy(j => key(j.dimPaths))
          val counts = dimBag.groupBy(identity).map {
            case (p, os) => p -> os.size
          }
          if (!counts.forall { case (p, n) =>
              byPath.get(p).exists(_.size == n) }) None
          else {
            val (present, omitted) =
              d.joins.partition(j => counts.contains(key(j.dimPaths)))
            if (omitted.forall(_.preserving)) Some((d, present, omitted))
            else None
          }
        }
      }
    }
  }
}

/** AGGREGATE-NAVIGATION MATERIALIZED VIEWS — the classic summary-table
  * rewrite (Gupta & Mumick's MV survey; same shape as Hive/Calcite's
  * `AggregateProjectMergeRule`-based MV matching): queries that
  * aggregate the BASE fact table are transparently re-pointed at a
  * tiny pre-aggregated parquet summary, including
  *
  *   - ROLLUPS to any SUBSET of the MV's group-by dims (partials
  *     re-aggregate: sum of sums, sum of counts, min of mins …),
  *   - dim-only residual filters (σ over group-by columns commutes
  *     with the aggregation, so they evaluate against the MV),
  *   - SUM / COUNT(*) / COUNT(col) / MIN / MAX / AVG (avg splits into
  *     sum_m / cnt_m — exact, not an approximation).
  *
  * This is the scan-side complement of the incremental-maintenance
  * kernels: at 100 TB the summary is GBs where the fact is TBs, so a
  * rewritten dashboard query reads ~1000× less. The rewrite runs as a
  * normal Catalyst [[Rule]] — plans stay declarative, Catalyst still
  * prunes/pushes on the MV scan it substitutes.
  *
  * Safety: the rule rewrites ONLY when every piece of the query is
  * provably answerable — every grouping expression is a bare dim
  * column, every residual filter references dims only, every aggregate
  * call is one of the decomposable five over a registered measure,
  * nothing is DISTINCT or FILTERed. Anything else leaves the plan
  * untouched. Output attribute ids/names/types are preserved
  * exactly (aliases re-use the original `exprId`s; re-aggregated
  * types are cast back where widening differs, e.g. decimal sums). */
object Mv {

  /** Root paths of the file-backed leaves of `df`'s plan — the base
    * identity MVs are registered under. */
  def basePathsOf(df: DataFrame): Set[String] = {
    val paths = PlanMatch.leafRoots(df.queryExecution.analyzed).flatten.toSet
    require(paths.nonEmpty, "MV base must be a file-backed scan")
    paths
  }

  /** The MV's partial-aggregate shape over any slice of base rows —
    * [[buildStar]] summarizes the whole (joined) base with it and
    * [[refreshAppend]] an insert batch, so the two can never disagree
    * on the column contract. `distincts` columns additionally store a
    * `bm_m` EXACT value bitmap ([[graft.functions.BitmapAgg]]) per
    * group — the mergeable partial that lets COUNT(DISTINCT m)
    * re-aggregate across any dim rollup (bitmaps OR; counts cannot
    * sum). Refreshes merge these partials in [[publish]]. */
  private def summarize(df: DataFrame, dims: Seq[String],
                        measures: Seq[String], mins: Seq[String],
                        maxs: Seq[String],
                        distincts: Seq[String] = Nil): DataFrame = {
    val aggs =
      measures.flatMap(m => Seq(sum(col(m)).as(s"sum_$m"),
        count(col(m)).as(s"cnt_$m"))) ++
        mins.map(m => min(col(m)).as(s"min_$m")) ++
        maxs.map(m => max(col(m)).as(s"max_$m")) ++
        distincts.map(m => graft.functions.BitmapAgg
          .bitmap_agg(col(m).cast(LongType)).as(s"bm_$m")) :+
        count(lit(1)).as("cnt")
    df.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The σ(where) slice of `df` — a filtered MV's rows (`df` itself
    * when unfiltered). */
  private def sliceOf(df: DataFrame, where: Option[String]): DataFrame =
    where.fold(df)(w => df.filter(org.apache.spark.sql.functions.expr(w)))

  /** Column names a filtered MV's predicate references (empty when
    * unfiltered) — the log refresh must carry them through its feed
    * projection so the scoping filter can still evaluate. */
  private def whereRefs(d: MvDef): Seq[String] =
    d.where.toSeq.flatMap(w =>
      // parse the text directly: `functions.expr` is a LAZY SqlExpression
      // node in Spark 4 — its attribute refs are not walkable
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(w).collect {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            u.name
        })

  /** Distinct-tracked columns must be integral: the bitmap partial is
    * keyed on the value AS A LONG, and only an injective cast keeps
    * `COUNT(DISTINCT m) == |bitmap|` exact. */
  private def requireIntegral(df: DataFrame, distincts: Seq[String],
                              name: String): Unit =
    distincts.foreach { m =>
      val dt = df.schema(m).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, LongType).contains(dt),
        s"MV $name: COUNT(DISTINCT $m) tracking needs an integral " +
          s"column (got $dt) — the exact bitmap partial is keyed on the " +
          "long value; hash or dictionary-encode other types first")
    }

  /** Build the summary parquet for `base` grouped by `dims` and
    * register it — a single-table summary is [[buildStar]] with no
    * dims. One distributed grouped pass over the base (partial
    * hash-agg, map-side combined); the MV's row count is the dim-combo
    * cardinality — the whole point is that it is ≪ |base|. */
  def build(base: DataFrame, name: String, dims: Seq[String],
            measures: Seq[String], mvPath: String,
            mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
            distincts: Seq[String] = Nil,
            where: Option[String] = None): MvDef =
    buildStar(base, Nil, name, dims, measures, mvPath, mins, maxs,
      distincts, where)

  /** STAR-SCHEMA MV — the summary is built over `fact INNER JOIN dim`
    * and registered with its join pedigree, so queries that re-join
    * the same two tables and aggregate get re-pointed at the summary:
    * at 100 TB this means dashboard rollups never pay the fact×dim
    * shuffle OR the fact scan again. Dim attributes are ordinary MV
    * dims (group-bys and residual filters on them rewrite as usual).
    * `dims` / `measures` names must be unambiguous across the two
    * inputs (checked). Inner-join semantics are preserved exactly:
    * the MV and any matched query drop the same unmatched/null-key
    * rows, which is also why the rule may discard the optimizer's
    * IsNotNull(join key) filters when matching. */
  def buildJoin(fact: DataFrame, dim: DataFrame, name: String,
                on: Seq[(String, String)], dims: Seq[String],
                measures: Seq[String], mvPath: String,
                mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
                distincts: Seq[String] = Nil,
                where: Option[String] = None): MvDef =
    buildStar(fact, Seq(dim -> on), name, dims, measures, mvPath,
      mins, maxs, distincts, where)

  /** [[buildJoin]] generalized to a k-DIM STAR (or snowflake whose
    * dims each join the fact directly): the summary is built over
    * `fact ⋈ dim₁ ⋈ … ⋈ dimₖ`, each `dimTables` entry carrying its
    * own `(factKey, dimKey)*` equi-condition against the fact; k = 0
    * is the single-table summary of [[build]]. Column names must be
    * GLOBALLY disjoint across all k+1 frames — that is what lets the
    * rewrite rule and the log refresh match and route columns by name
    * alone. One joined pass, O(|join|) once; every matching k-way
    * aggregate query then answers from the summary with zero joins. */
  def buildStar(fact: DataFrame,
                dimTables: Seq[(DataFrame, Seq[(String, String)])],
                name: String, dims: Seq[String], measures: Seq[String],
                mvPath: String, mins: Seq[String] = Nil,
                maxs: Seq[String] = Nil,
                distincts: Seq[String] = Nil,
                where: Option[String] = None): MvDef = {
    val frames = fact +: dimTables.map(_._1)
    frames.combinations(2).foreach { case Seq(a, b) =>
      val dup = a.columns.toSet.intersect(b.columns.toSet)
      require(dup.isEmpty,
        s"MV $name: ambiguous columns across base tables: $dup")
    }
    val joined = dimTables.foldLeft(fact) { case (acc, (dm, on)) =>
      val cond = on.map { case (f, d) => acc(f) === dm(d) }.reduce(_ && _)
      acc.join(dm, cond, "inner")
    }
    requireIntegral(joined, distincts, name)
    val (fp, fpaths +: dpaths) = TableState.stamp(s"MV $name",
      (fact -> (if (dimTables.isEmpty) "" else " (fact)")) +:
        dimTables.zipWithIndex.map { case ((dm, _), i) =>
          dm -> s" (dim $i)" }: _*)
    // FILTERED (partial) MV: the predicate is part of the view
    // DEFINITION — the summary holds only the σ(where) slice (of the
    // join, for a star), and the rewrite fires only for queries whose
    // filters SUBSUME it (the predicate's canonical conjuncts are a
    // subset of the query's). Much smaller than a full summary when
    // the hot slice is small — the Oracle/Calcite partial-MV class.
    summarize(sliceOf(joined, where), dims, measures, mins, maxs,
      distincts).write.mode("overwrite").parquet(mvPath)
    // LOSSLESS AUDIT, per dim: the join preserves fact multiplicity
    // iff (a) every fact key is non-null, (b) every fact key row
    // matches the dim (left-semi count = fact count), (c) the dim key
    // is unique. Keys-only column scans — cheap next to the joined
    // summarize pass above; earns the subset-join rewrite (a query
    // omitting a preserving dim still answers from the summary). Lazy:
    // a single-table summary has no join to audit and pays no count.
    lazy val nFact = fact.count()
    def preservingAudit(dm: DataFrame, on: Seq[(String, String)]): Boolean = {
      val fKeys = fact.select(on.map(p => col(p._1)): _*)
      val noNulls = fKeys.filter(
        on.map(p => col(p._1).isNull).reduce(_ || _)).isEmpty
      lazy val allMatch = fKeys.join(dm,
        on.map { case (f, d) => fKeys(f) === dm(d) }.reduce(_ && _),
        "left_semi").count() == nFact
      lazy val dimUnique = dm
        .groupBy(on.map(p => col(p._2)): _*)
        .count().filter(col("count") > 1L).isEmpty
      noNulls && allMatch && dimUnique
    }
    MvCatalog.commit(fact.sparkSession, MvDef(name, fpaths, mvPath, dims,
      measures.toSet, mins.toSet, maxs.toSet,
      joins = dimTables.zipWithIndex.map { case ((dm, on), i) =>
        MvJoin(dpaths(i), on.map(_._1), on.map(_._2),
          preserving = preservingAudit(dm, on))
      }, fp = fp, distincts = distincts.toSet, where = where))
  }

  /** INCREMENTAL APPEND-REFRESH — fold a batch of new base rows into
    * the summary WITHOUT touching the base: [[summarize]] the batch
    * with the identical partial shape, then merge and publish through
    * the one refresh tail, [[publish]]. O(|batch| + |MV|) — never
    * O(|base|), which is the whole point at 100 TB where the nightly
    * batch is GBs against a TB-scale fact.
    *
    * DELETES are deliberately not folded here: SUM/COUNT retract, but
    * MIN/MAX do not (dropping the current minimum forces a rescan of
    * its group). A deleting refresh either rebuilds ([[build]], one
    * grouped pass), folds a change feed ([[refreshChanges]]) or
    * recomputes just the delete-touched groups — the retractable-fold
    * kernels in `ops/IncrementalAgg` cover the min/max-free case. */
  def refreshAppend(spark: SparkSession, name: String,
                    batch: DataFrame): MvDef =
    refreshAppendStamped(spark, MvCatalog.lookup(spark, name), batch,
      fpOverride = None)

  /** [[refreshAppend]] with the stamp supplied by the caller —
    * [[refreshFromLog]] pins it to the snapshot its window actually
    * covers, so the registered/persisted def can never carry a stamp
    * newer than the folded rows, not even transiently. */
  private def refreshAppendStamped(spark: SparkSession, d: MvDef,
                                   batch: DataFrame,
                                   fpOverride: Option[String]): MvDef = {
    // re-stamp against the base state the refreshed summary reflects:
    // the caller's contract is base-advance THEN refresh-with-batch,
    // so at refresh entry the base already holds the batch's rows
    val fp = fpOverride.getOrElse {
      val cur = TableState.fingerprint(spark, d.allBasePaths)
      // GAP-PINNING GUARD (snapshot-logged single-root base): when the
      // base MOVED since the stamp, the snapshot log knows the exact
      // gap — a batch that does not cover it would still earn a green
      // stamp over a summary missing rows, the silently-wrong-MV
      // class. Refuse when the chain crosses a rewrite (the batch
      // cannot express retractions) or when the batch's row count
      // differs from the window's appended rows (footer-only counts,
      // O(batch) — a cheap necessary condition; [[refreshFromLog]]
      // folds the exact gap and needs no batch at all). An UNMOVED
      // base skips the guard: the build-over-subset + fold-remainder
      // pattern legitimately folds rows the stamp already covers.
      if (d.joins.isEmpty && d.basePaths.size == 1 &&
          d.fp.startsWith("snap:") && cur != d.fp) {
        val root = d.basePaths.head
        val what = s"MV ${d.name}"
        TableState.movedHops(spark, d.fp, d.basePaths, what).foreach {
          case (_, moved) =>
            val rc = moved(root)
            require(rc.rewriteHops.isEmpty && rc.shrinkHops.isEmpty,
              s"$what: the base was compacted or expired since the " +
                "stamp — a batch cannot express the removed rows; use " +
                "refreshFromLog (folds the rw_* retractions) or rebuild")
            val windowRows = rc.appendHops.map(h =>
              TableState.hopRows(spark, root, h, what).count()).sum
            val batchRows = batch.count()
            require(windowRows == batchRows,
              s"$what: the snapshot log shows $windowRows rows appended " +
                s"since the stamped snapshot but the supplied batch has " +
                s"$batchRows — folding it would stamp a summary that " +
                "does not match the base; fold the exact gap " +
                "(refreshFromLog does so from the log) or rebuild")
        }
      }
      cur
    }
    // filtered MV: only the batch's σ(where) slice belongs to the view
    // (the guard above counted the RAW batch — the gap is in base rows)
    val delta = summarize(sliceOf(batch, d.where), d.dims,
      d.measures.toSeq.sorted, d.mins.toSeq.sorted, d.maxs.toSeq.sorted,
      d.distincts.toSeq.sorted)
    publish(spark, d, spark.read.parquet(d.mvPath), delta, signed = false,
      fp, audited = fpOverride.nonEmpty)
  }

  /** RETRACTABLE CDC REFRESH — fold a row-level change feed (rows
    * tagged `_change_type` ∈ insert/delete, the exact shape
    * [[graft.catalog.Layout.changes]] emits) into the summary:
    * inserts contribute with weight +1, deletes with −1, in ONE
    * delta-sized signed aggregation merged and published through
    * [[publish]] — O(|feed| + |MV|), the base fact is never re-read.
    * This closes the loop [[refreshAppend]] can't: storage-level
    * deletes (deletion vectors → change feed) now drive the
    * REWRITE-facing summary through row removals, not just appends
    * (the same counting/retraction idea as
    * `ops/IncrementalAgg.applyChangeFeed`, here with the MV column
    * contract: per-measure `cnt_m` partials retract too).
    *
    * MIN/MAX-carrying views fold under the EXTREMAL-TIE GUARD: a
    * deleted row strictly inside its group's stored extremes cannot
    * move MIN or MAX, so such feeds proceed (inserts extend the
    * extremes as usual); a delete that ties or beats a stored extreme
    * refuses with rebuild guidance — the extreme may have been the
    * deleted row, and recovering it would force a group rescan. The
    * guard is one batch-sized deletes ⋈ MV probe.
    * Exactness matches the kernel contract: integral and decimal
    * measures fold exactly; float measures fold to within
    * re-association rounding, as in any counting-algorithm view.
    * `refreshChanges(build(T₀), changes(T₀→T₁)) ≡ build(T₁)` for a
    * net feed. */
  def refreshChanges(spark: SparkSession, name: String,
                     feed: DataFrame): MvDef =
    refreshChangesStamped(spark, MvCatalog.lookup(spark, name), feed,
      fpOverride = None)

  /** [[refreshChanges]] with the stamp supplied by the caller —
    * [[refreshFromLog]] pins it to the snapshot its hop chain actually
    * covers (the [[refreshAppendStamped]] discipline: never postdate
    * the folded rows). */
  private def refreshChangesStamped(spark: SparkSession, d: MvDef,
                                    feed: DataFrame,
                                    fpOverride: Option[String],
                                    extremesGuard: Boolean = true): MvDef = {
    // distinct bitmaps do not retract: clearing a bit needs proof the
    // deleted row was the value's LAST occurrence in its group, which
    // only a group rescan can give (the MIN/MAX problem, per value) —
    // and even the append-only star fold routes here with same-feed
    // cancellation deletes the bitmap could not honor. Rebuild.
    require(d.distincts.isEmpty,
      s"MV ${d.name} tracks COUNT(DISTINCT ${d.distincts.mkString(",")}) " +
        "via exact bitmaps, which cannot fold a retracting/signed " +
        "feed; rebuild instead (Mv.build / Mv.buildStar is one " +
        "grouped pass)")
    // re-stamp at entry: the base has already advanced to the state
    // the feed's net application reflects (see [[refreshAppend]])
    val fp = fpOverride.getOrElse(
      TableState.fingerprint(spark, d.allBasePaths))
    val cur = spark.read.parquet(d.mvPath)
    val ms = d.measures.toSeq.sorted
    val mns = d.mins.toSeq.sorted
    val mxs = d.maxs.toSeq.sorted
    // filtered MV: rows outside σ(where) were never in the view —
    // their inserts don't belong and their deletes retract nothing
    // (nor did they ever hold its extremes)
    val scoped = sliceOf(feed, d.where)
    // MIN/MAX survive a retraction iff every deleted row sits STRICTLY
    // inside its group's stored extremes — deleting a non-extremal row
    // cannot move MIN or MAX, while a tie means the extreme may have
    // BEEN the deleted row (indistinguishable from a surviving
    // duplicate without a recount) and only a rebuild is sound.
    // O(deletes ⋈ MV) — batch-sized probe, never a base rescan. A
    // caller folding a feed whose delete tags only cancel same-feed
    // inserts (the star fold's inclusion–exclusion term in append-only
    // windows) passes extremesGuard = false: such deletes retract
    // nothing from the stored state.
    if (extremesGuard && (mns.nonEmpty || mxs.nonEmpty)) {
      val dels = scoped.filter(col("_change_type") === "delete")
      val hits = mns.map(m => col(m) <= col(s"min_$m")) ++
        mxs.map(m => col(m) >= col(s"max_$m"))
      require(dels.join(cur, d.dims).filter(hits.reduce(_ || _)).isEmpty,
        s"MV ${d.name}: a retracted row ties or beats its group's " +
          "stored MIN/MAX partial — the extreme may have been the " +
          "deleted row and MIN/MAX do not retract; rebuild instead " +
          "(Mv.build / Mv.buildStar is one grouped pass)")
    }
    // an unknown tag would silently corrupt counts — fail loudly,
    // in-pass (raise_error costs nothing on valid rows)
    val w = when(col("_change_type") === "insert", lit(1L))
      .when(col("_change_type") === "delete", lit(-1L))
      .otherwise(raise_error(concat(
        lit("refreshChanges: _change_type must be insert/delete, got "),
        col("_change_type"))).cast("long"))
    val signed = scoped.withColumn("__w", w)
    val deltaAggs = ms.flatMap(m => Seq(
      sum(col(m) * col("__w")).cast(cur.schema(s"sum_$m").dataType)
        .as(s"sum_$m"),
      sum(when(col(m).isNotNull, col("__w")).otherwise(0L)).cast("long")
        .as(s"cnt_$m"))) ++
      // extremes fold over INSERT rows only: inserts can extend a
      // group's MIN/MAX; guarded deletes (above) provably cannot
      mns.map(m => min(when(col("__w") === 1L, col(m)))
        .cast(cur.schema(s"min_$m").dataType).as(s"min_$m")) ++
      mxs.map(m => max(when(col("__w") === 1L, col(m)))
        .cast(cur.schema(s"max_$m").dataType).as(s"max_$m")) :+
      sum(col("__w")).cast("long").as("cnt")
    val delta = signed.groupBy(d.dims.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    publish(spark, d, cur, delta, signed = true, fp,
      audited = fpOverride.nonEmpty)
  }

  /** THE REFRESH TAIL — every fold ([[refreshAppend]]'s insert
    * batches, [[refreshChanges]]' signed feeds, and through them every
    * [[refreshFromLog]] window) ends here, in this order:
    *
    *   1. re-aggregate the stored summary `cur` ∪ `delta` partials
    *      group-wise (sum-of-sums, sum-of-counts, min-of-mins,
    *      max-of-maxs, bitmap OR), re-summed partials cast back to the
    *      stored column's type so the schema is stable across any
    *      number of refreshes (decimal sums widen per level otherwise);
    *   2. `signed` feeds only: fail on an over-retracting count, drop
    *      groups whose COUNT(*) reached zero, and null each SUM whose
    *      non-null count reached zero (SUM over no rows is NULL);
    *   3. write the next `_v<nanos>` version COPY-ON-WRITE: in-flight
    *      readers of the previous summary never observe a half-written
    *      view and a crashed refresh leaves the registered MV untouched
    *      (the snapshot-then-flip discipline of
    *      [[graft.catalog.SnapshotManifest]]; the pointer here is the
    *      [[MvCatalog]] entry, persisted through [[RegistryStore]]);
    *   4. clear the [[MvJoin.preserving]] flags unless `audited` (a
    *      caller-supplied batch or feed carries no lossless
    *      attestation — downgrade-only; the log refresh audits its own
    *      windows and keeps them);
    *   5. re-point the registry entry at the new version with stamp
    *      `fp` ([[MvCatalog]] `commit`). */
  private def publish(spark: SparkSession, d: MvDef, cur: DataFrame,
                      delta: DataFrame, signed: Boolean, fp: String,
                      audited: Boolean): MvDef = {
    val ms = d.measures.toSeq.sorted
    def sumType(m: String) = cur.schema(s"sum_$m").dataType
    val mergeAggs = ms.flatMap(m => Seq(
      sum(col(s"sum_$m")).cast(sumType(m)).as(s"sum_$m"),
      sum(col(s"cnt_$m")).cast("long").as(s"cnt_$m"))) ++
      d.mins.toSeq.sorted.map(m => min(col(s"min_$m")).as(s"min_$m")) ++
      d.maxs.toSeq.sorted.map(m => max(col(s"max_$m")).as(s"max_$m")) ++
      // distinct bitmaps OR-merge: a batch value already present in
      // the group's bitmap stays one bit — re-inserted ids can never
      // inflate the distinct count the way a summed partial would
      d.distincts.toSeq.sorted.map(m => graft.functions.BitmapAgg
        .bitmap_or_agg(col(s"bm_$m")).as(s"bm_$m")) :+
      sum(col("cnt")).cast("long").as("cnt")
    val merged = cur.unionByName(delta).groupBy(d.dims.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
    val out = if (!signed) merged else {
      // an OVER-RETRACTING feed (deletes of rows the view never held)
      // drives a count partial negative; silently dropping such a
      // group at the cnt>0 filter would make a corrupt feed
      // indistinguishable from a clean full retraction — fail loudly
      // instead, in-pass (raise_error costs nothing on valid rows)
      val guarded = (ms.map(m => s"cnt_$m") :+ "cnt").foldLeft(merged) {
        (df, c) => df.withColumn(c, when(col(c) < 0L,
          raise_error(concat(
            lit(s"refreshChanges(${d.name}): over-retracting feed — $c " +
              "went negative ("), col(c).cast("string"),
            lit("); the feed deleted rows the view never held")))
            .cast("long")).otherwise(col(c)))
      }
      // fully-retracted groups leave the view; a surviving group whose
      // non-null count hit zero must read SUM(m) = NULL, not the
      // cancelled-out 0
      ms.foldLeft(guarded.filter(col("cnt") > 0)) { (df, m) =>
        df.withColumn(s"sum_$m", when(col(s"cnt_$m") === 0L, lit(null))
          .otherwise(col(s"sum_$m")).cast(sumType(m)))
      }
    }
    val next = d.mvPath.replaceAll("_v\\d+$", "") + "_v" + System.nanoTime()
    out.write.mode("errorifexists").parquet(next)
    val joins = if (audited) d.joins
      else d.joins.map(_.copy(preserving = false))
    MvCatalog.commit(spark, d.copy(mvPath = next, joins = joins, fp = fp))
  }

  /** SELF-REFRESH FROM THE SNAPSHOT LOG — the MV leg of the
    * incremental staleness loop ([[JoinElim.reverifyAppended]] /
    * [[DistinctElim.reverifyAppended]] are the constraint legs): when
    * a summary's fact and dims are snapshot-logged, the gap between
    * the stamped and current fingerprints IS the
    * [[TableState.movedHops]] hop chain per table, so the summary
    * heals itself — no caller-assembled batch, no base rescan. The
    * rewrite answers for PLAIN directory reads of the bases, and each
    * chain classifies exactly what each commit did to that read:
    *
    *   - [[TableState.AppendHop]]s contribute their fresh files' raw
    *     rows as inserts ([[TableState.hopRows]], O(batch));
    *   - [[TableState.NoRowChangeHop]]s (dv-only commits) contribute
    *     nothing — the plain read did not move;
    *   - [[TableState.RewriteHop]]s (compact + full vacuum)
    *     materialized rows OUT of the plain read; their `rw_*`
    *     provenance rows ([[TableState.removedRows]]) fold in as
    *     retractions via the [[refreshChanges]] counting machinery.
    *
    * A single-table summary is the star with no dims (k = 0). For a
    * star over `T₀ ⋈ T₁ ⋈ … ⋈ Tₖ` (T₀ the fact) the k+1 chains fold
    * through the counting join-delta identity (the
    * [[graft.ops.IncrementalJoin]] algebra, folded through the MV
    * partials instead of a materialized join), in the SIGNED multiset
    * algebra — with Tᵢ₂ the new states and ΔTᵢ signed deltas
    * (append-hop rows weigh +1, rewrite-hop provenance rows −1):
    *
    * {{{ Δ(⋈ᵢTᵢ) = Σ over nonempty S ⊆ moved: (−1)^(|S|+1) ·
    *               ⋈_{i∈S} ΔTᵢ ⋈ ⋈_{i∉S} Tᵢ₂ }}}
    *
    * (expand `⋈ᵢ(Tᵢ₂ − ΔTᵢ)`; each joined row's weight is the product
    * of its components' weights times the subset parity). The Tᵢ₂
    * probe sides are the audited snapshots' PINNED reads
    * ([[TableState.pinnedRead]] — manifest file lists, immune to a
    * racing writer's in-flight files) and every term is
    * Δ-PROBE-SIDED: at least one side is batch-sized and broadcasts;
    * the fact is only ever a probe side, never shuffled against a
    * dim. The weighted feed folds through the [[refreshChanges]]
    * counting machinery (±1 per row maps to insert/delete), so the
    * result equals `summarize(⋈ᵢTᵢ₂)` exactly — counts cannot go
    * transiently negative because the fold is ONE grouped pass whose
    * per-group totals are the final state's. The common nightly shape
    * needs no signed fold at all: ONE table moved append-only folds
    * `ΔTᵢ ⋈ (others pinned)` as a plain insert batch (MIN/MAX
    * partials fine), and dv-only windows restamp without touching the
    * summary. The term count is 2^m − 1 for m MOVED tables (nightly
    * m ≤ 2), never 2^(k+1); with no dims the one term is the fact's
    * own signed delta and no pinned scan is opened.
    *
    * MIN/MAX partials fold through any APPEND-ONLY window. A
    * single-table retraction window folds under [[refreshChanges]]'
    * extremal-tie guard (a removed row that ties or beats a stored
    * extreme refuses with rebuild guidance); a STAR retraction window
    * with MIN/MAX refuses outright — its mixed cross terms can tag
    * phantom rows as inserts, corrupting a folded extreme
    * undetectably. A time-retention EXPIRY refuses on any base (it
    * removes rows without materialized provenance, by contract).
    *
    * The fold needs every append hop's fresh files READABLE: a window
    * whose appended files were themselves later compacted away
    * (appended, dv-deleted, compacted, vacuumed before any re-verify)
    * dead-ends LOUDLY in [[TableState.hopRows]]' vacuumed-files
    * refusal — only a rebuild/re-declare is sound. Re-verify after
    * each maintenance op to keep windows single-hop and avoid that.
    * O(changed rows + MV); the base fact is never re-read. A no-op
    * (same stamp) returns the registered def untouched. */
  def refreshFromLog(spark: SparkSession, name: String): MvDef = {
    val d = MvCatalog.lookup(spark, name)
    val what = s"MV $name"
    require(d.basePaths.size == 1 && d.joins.forall(_.dimPaths.size == 1),
      s"$what: log-driven refresh needs a single-root fact and dims")
    val roots = d.basePaths.head +: d.joins.map(_.dimPaths.head)
    require(roots.distinct.size == roots.size,
      s"$what: role-playing dims over one physical table cannot " +
        "log-refresh (their columns are indistinguishable in the plain " +
        "read); rebuild with Mv.buildStar")
    val (newFp, moved) = TableState.movedHops(spark, d.fp,
      d.allBasePaths, what).getOrElse(return d) // nothing moved
    // per table: (append-hop inserts, rewrite-hop provenance removals)
    def delta(root: String): (Option[DataFrame], Option[DataFrame]) =
      moved.get(root).map { rc =>
        // a time-retention EXPIRY removed rows without materializing
        // them (O(expired data) provenance would defeat expiry's
        // metadata-only contract)
        require(rc.shrinkHops.isEmpty,
          s"$what: $root rows were expired (time retention) without " +
            "materialized provenance — the summary cannot retract what " +
            "was never recorded; rebuild (Mv.build / Mv.buildStar is " +
            "one grouped pass), or make the expiry cutoff a summary dim " +
            "and filter instead")
        (TableState.appendedRows(spark, rc, what),
          TableState.retractedRows(spark, rc))
      }.getOrElse((None, None))
    val deltas = roots.map(delta)
    // the probe sides T₂ are PINNED to the audited snapshots (the
    // chain's end = the segments of newFp), never plain directory
    // reads: an append racing this refresh renames its data files into
    // the live dirs BEFORE its snapshot flip, so a directory listing
    // here could fold rows the restamped fingerprint does not cover —
    // the next refresh's hop chain would fold them AGAIN (silent
    // double-count). Memoized + lazy: the dv-only restamp path below
    // never pays these scans or the contract checks — metadata-only.
    lazy val audited = TableState.segments(newFp, d.allBasePaths).get
    val scanMemo = scala.collection.mutable.HashMap.empty[String, DataFrame]
    def scan(root: String): DataFrame =
      scanMemo.getOrElseUpdate(root, audited(root) match {
        case s if s.startsWith("snap:") =>
          TableState.pinnedRead(spark, root, s.stripPrefix("snap:"), what)
        case _ => spark.read.parquet(root) // legacy un-logged root
      })
    // THE contract columns: every column a fold reads — dims, SUM and
    // MIN/MAX measures, distinct-tracked columns, and a filtered MV's
    // predicate columns (the fold scopes its feed with them). Each
    // table is projected to ITS OWN contract columns before joining —
    // plain reads of Layout tables share bookkeeping columns
    // (sym_bucket) the declared frames never exposed; anything outside
    // keys ∪ contract is dropped so the joins can never turn
    // ambiguous. Contract columns must live on exactly one table; with
    // no dims they are all the fact's, and no scan is opened to say so.
    val contract = (d.dims ++ Seq(d.measures, d.mins, d.maxs, d.distincts)
      .flatMap(_.toSeq.sorted) ++ whereRefs(d)).distinct
    lazy val own: Map[String, Seq[String]] =
      if (d.joins.isEmpty) Map(roots.head -> contract) else {
        val m = roots.map(r =>
          r -> contract.filter(scan(r).columns.contains)).toMap
        roots.combinations(2).foreach { case Seq(a, b) =>
          val dup = m(a).intersect(m(b))
          require(dup.isEmpty,
            s"$what: columns ${dup.mkString(",")} exist on more than " +
              "one base table; the summary contract is ambiguous — rebuild")
        }
        require(m.values.flatten.toSet == contract.toSet,
          s"$what: contract columns " +
            s"${contract.diff(m.values.flatten.toSeq).mkString(",")} " +
            "missing from every base table; re-declare")
        m
      }
    // role r's projection: its join keys + its contract columns.
    // Role 0 is the fact (carries EVERY join's fact keys).
    def side(r: Int)(df: DataFrame): DataFrame = {
      val keys = if (r == 0) d.joins.flatMap(_.factKeys)
        else d.joins(r - 1).dimKeys
      df.select((keys ++ own(roots(r))).distinct.map(col): _*)
    }
    def joinAll(frames: Seq[DataFrame]): DataFrame =
      d.joins.zipWithIndex.foldLeft(frames.head) { case (acc, (jn, i)) =>
        val dm = frames(i + 1)
        val cond = jn.factKeys.zip(jn.dimKeys)
          .map { case (fk, dk) => acc(fk) === dm(dk) }.reduce(_ && _)
        acc.join(dm, cond, "inner")
      }
    val movedRoles = roots.indices
      .filter(i => deltas(i)._1.nonEmpty || deltas(i)._2.nonEmpty)
    // LOSSLESS-FLAG MAINTENANCE (downgrade-only): a window can break a
    // join's audited fact-multiplicity preservation — appended fact
    // rows with null/unmatched keys, appended dim rows duplicating a
    // key, removed dim rows orphaning fact keys. Each audit is
    // keys-only and delta-probe-sided except the orphan check's one
    // fact key scan (paid only on a preserving dim's retraction). A
    // failed audit CLEARS the flag — the subset rewrite stops firing —
    // instead of refusing the refresh: the summary itself stays exact.
    import org.apache.spark.sql.functions.broadcast
    val dd = d.copy(joins = d.joins.zipWithIndex.map { case (jn, i) =>
      val r = i + 1
      lazy val dm = scan(roots(r))
      def factDeltaOk: Boolean = deltas(0)._1.forall { df =>
        val keys = df.select(jn.factKeys.map(col): _*)
        keys.filter(jn.factKeys.map(col(_).isNull).reduce(_ || _))
          .isEmpty &&
        keys.join(dm, jn.factKeys.zip(jn.dimKeys)
            .map { case (fk, dk) => keys(fk) === dm(dk) }.reduce(_ && _),
          "left_anti").isEmpty
      }
      def dimAppendOk: Boolean = deltas(r)._1.forall { df =>
        val fresh = df.select(jn.dimKeys.map(col): _*).distinct()
        dm.join(broadcast(fresh), jn.dimKeys, "left_semi")
          .groupBy(jn.dimKeys.map(col): _*).count()
          .filter(col("count") > 1L).isEmpty
      }
      def dimRemoveOk: Boolean = deltas(r)._2.forall { df =>
        val rmKeys = df.select(jn.dimKeys.map(col): _*).distinct()
        // fact rows referencing a removed key, checked against the
        // NEW dim state (the key may have been re-added in-window)
        val candidates = scan(roots(0)).select(jn.factKeys.map(col): _*)
          .join(broadcast(rmKeys), jn.factKeys.zip(jn.dimKeys)
              .map { case (fk, dk) => col(fk) === rmKeys(dk) }
              .reduce(_ && _),
            "left_semi")
        val dmRestr = dm.select(jn.dimKeys.map(col): _*)
          .join(broadcast(rmKeys), jn.dimKeys, "left_semi")
        candidates.join(broadcast(dmRestr),
          jn.factKeys.zip(jn.dimKeys)
            .map { case (fk, dk) => candidates(fk) === dmRestr(dk) }
            .reduce(_ && _),
          "left_anti").isEmpty
      }
      if (!jn.preserving) jn
      else if (factDeltaOk && dimAppendOk && dimRemoveOk) jn
      else jn.copy(preserving = false)
    })
    if (movedRoles.isEmpty) {
      // dv-only / zero-provenance chains: every plain read is
      // bit-identical — a pure restamp, no fold, no new version
      MvCatalog.commit(spark, dd.copy(fp = newFp))
    } else if (movedRoles.size == 1 && deltas(movedRoles.head)._2.isEmpty) {
      // ONE table moved, append-only — the nightly shape: Δᵢ joined
      // against every other table's pinned read, a pure insert batch
      // (MIN/MAX partials fine). The delta is batch-sized and
      // broadcasts; each pinned table is scanned once, no shuffle of
      // the fact against a dim. With no dims: the fact's own batch.
      val i = movedRoles.head
      val frames = roots.indices.map(r =>
        if (r == i) side(r)(deltas(r)._1.get) else side(r)(scan(roots(r))))
      refreshAppendStamped(spark, dd, joinAll(frames),
        fpOverride = Some(newFp))
    } else {
      // retractions and/or several tables moved: the full signed
      // inclusion–exclusion fold over every nonempty subset S of the
      // moved roles — 2^m − 1 terms (m = moved tables; nightly m ≤ 2).
      // With no dims the one term has no cross terms, so its deletes
      // are genuine retractions and MIN/MAX fold under the extremal-tie
      // guard. A star's pure multi-APPEND window folds MIN/MAX fine
      // with the guard off (every insert-tagged row is net-present; the
      // delete-tagged inclusion–exclusion rows only cancel same-feed
      // duplicate inserts, retracting nothing from the stored state). A
      // star's GENUINE retraction (rw provenance) with MIN/MAX refuses:
      // its mixed-window cross terms can tag never-present phantom rows
      // as inserts, which would corrupt a folded extreme undetectably.
      val anyRetraction = deltas.exists(_._2.nonEmpty)
      require(d.joins.isEmpty || !anyRetraction ||
        (d.mins.isEmpty && d.maxs.isEmpty),
        s"$what: the window retracts join rows (compact) and the view " +
          "keeps MIN/MAX partials, which do not retract through the " +
          "signed join-delta fold; rebuild with Mv.buildStar")
      // signed per-role deltas, weight columns role-local so the
      // Δ⋈Δ joins never turn ambiguous
      val sd: Map[Int, DataFrame] = movedRoles.map { i =>
        val (ins, rm) = deltas(i)
        val w = s"__w$i"
        i -> (ins.map(side(i)(_).withColumn(w, lit(1L))) ++
          rm.map(side(i)(_).withColumn(w, lit(-1L))))
          .reduce(_ unionByName _)
      }.toMap
      def term(s: Set[Int]): DataFrame = {
        val frames = roots.indices.map(r =>
          if (s(r)) sd(r) else side(r)(scan(roots(r))))
        val parity: org.apache.spark.sql.Column =
          lit(if (s.size % 2 == 1) 1L else -1L)
        val w = s.toSeq.map(i => col(s"__w$i")).foldLeft(parity)(_ * _)
        joinAll(frames)
          .select(contract.map(col) :+ w.as("__w"): _*)
          .withColumn("_change_type",
            when(col("__w") === 1L, lit("insert")).otherwise(lit("delete")))
          .drop("__w")
      }
      val feed = movedRoles.toSet.subsets().filter(_.nonEmpty).toSeq
        .map(term).reduce(_ unionByName _)
      refreshChangesStamped(spark, dd, feed, fpOverride = Some(newFp),
        extremesGuard = d.joins.isEmpty)
    }
  }

  /** Drop superseded summary directories — the `_v*` siblings
    * [[refreshAppend]] left behind, minus the currently registered
    * one. Writer-side only, after a grace period covering the longest
    * in-flight read of the previous version (the contract of
    * [[graft.catalog.SnapshotManifest.vacuumSnapDirs]]).
    * Returns the number of directories reclaimed. */
  def vacuum(spark: SparkSession, name: String): Int = {
    val d = MvCatalog.lookup(spark, name)
    val cur = new org.apache.hadoop.fs.Path(d.mvPath)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = cur.getName.replaceAll("_v\\d+$", "")
    // EXACT version-suffix match: a prefix test (`startsWith(base+"_v")`)
    // would reclaim a SIBLING MV whose name merely extends this one's
    // prefix (e.g. `mv` vacuuming away `mv_v2special`) — only
    // `<base>` itself and `<base>_v<digits>` are superseded versions
    val versioned = (java.util.regex.Pattern.quote(base) + "_v\\d+").r
    fs.listStatus(cur.getParent).count { st =>
      val n = st.getPath.getName
      val stale = n != cur.getName &&
        (n == base || versioned.matches(n))
      if (stale) fs.delete(st.getPath, true)
      stale
    }
  }

  /** Durable revocation — see [[Registry.revoke]]. The summary parquet
    * stays on disk (reclaim with a manual delete or [[vacuum]] before
    * revoking); only the registration — and therefore the rewrite —
    * is withdrawn, everywhere. */
  def revoke(spark: SparkSession, name: String): Unit =
    MvCatalog.revoke(spark, name)

  def install(spark: SparkSession): Unit =
    graft.GraftExtensions.install(spark, MvRewriteRule(spark))
}

case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!Registry.gate(spark, plan, "graft.mv.rewrite.enabled", MvCatalog))
      plan
    else {
      // one fingerprint probe per base path per PASS, however many
      // candidate Aggregates match a registered table
      val fpc = new FpCache(spark)
      plan.transformDown {
        case agg: Aggregate =>
          // try every MV registered for this source; first one that can
          // answer the query wins (they differ in dims/measures, so
          // "can answer" is the selection criterion that matters)
          sources(agg).view.flatMap(src => tryRewrite(agg, src, fpc))
            .headOption
            .orElse(tryRewriteExpand(agg, fpc))
            .getOrElse(agg)
      }
    }
  }

  /** A matched query source: the scans' combined output attributes,
    * the residual filter conditions collected on the way down, and the
    * MV that claims to answer for this source. */
  private case class Source(baseAttrs: Seq[Attribute],
                            conds: Seq[Expression], mv: MvDef)

  private def sources(agg: Aggregate): Seq[Source] = {
    val single = stripToScan(agg.child).toSeq.flatMap {
      case (lr, fs, conds) =>
        val roots = rootsOf(fs)
        // single-table MVs, plus star MVs ALL of whose joins are
        // audited preserving (a fact-only aggregate then answers from
        // the join summary — every omitted dim rolls up losslessly)
        MvCatalog.forPaths(roots).map(Source(lr.output, conds, _)) ++
          MvCatalog.forLeaves(Seq(roots)).map {
            case (mv, _, _) => Source(lr.output, conds, mv)
          }
    }
    single ++ joinSources(agg.child)
  }

  /** Match `Aggregate → (Project/Filter)* → Join(Inner)-tree → k+1
    * scans` against registered star MVs: the leaf scans' path
    * identities must equal a registered fact + dims bag (any tree
    * shape / orientation / order — join reorder can't break the
    * match), and the tree's combined join condition must decompose
    * into exactly the union of the registered per-dim key equalities.
    * IsNotNull(join key) residuals are discarded — the inner joins
    * already drop those rows on both representations. */
  private def joinSources(p: LogicalPlan): Seq[Source] = {
    def stripAbove(p: LogicalPlan, conds: Seq[Expression])
    : Option[(Join, Seq[Expression])] = p match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        stripAbove(child, conds)
      case Filter(c, child) => stripAbove(child, conds :+ c)
      case j: Join => Some((j, conds))
      case _ => None
    }
    val (j0, outer) = stripAbove(p, Nil).getOrElse(return Nil)
    // collect the inner-join tree's leaves (scan + its pushed-down
    // conds), the per-node equality pairs, and mid-tree residual
    // Filters (attribute-only Projects between joins — the column
    // pruner inserts them — are transparent)
    type Leaf = (LogicalRelation, HadoopFsRelation, Seq[Expression])
    def collect(p: LogicalPlan)
        : Option[(Seq[Leaf], Seq[(String, String)], Seq[Expression])] =
      p match {
        case Project(pl, child)
            if pl.forall(_.isInstanceOf[AttributeReference]) =>
          collect(child)
        case Filter(c, child) =>
          collect(child).map { case (l, pr, cs) => (l, pr, cs :+ c) }
        case j: Join if j.joinType == Inner =>
          for {
            cond <- j.condition
            pairs <- conjuncts(cond).foldLeft(
              Option(Seq.empty[(String, String)])) {
                case (acc, EqualTo(a: AttributeReference,
                                   b: AttributeReference)) =>
                  acc.map(_ :+ (a.name, b.name))
                case _ => None
              }
            (ll, lp, lc) <- collect(j.left)
            (rl, rp, rc) <- collect(j.right)
          } yield (ll ++ rl, lp ++ rp ++ pairs, lc ++ rc)
        case other =>
          stripToScan(other).map(leaf => (Seq(leaf), Nil, Nil))
      }
    val (leaves, pairs, mid) = collect(j0).getOrElse(return Nil)
    if (leaves.size < 2) return Nil
    val cands = MvCatalog.forLeaves(leaves.map(l => rootsOf(l._2)))
    if (cands.isEmpty) return Nil
    // split fused filters so per-conjunct checks (IsNotNull-on-key
    // dropping, dims-only references) see each predicate alone
    val allConds = (outer ++ mid ++ leaves.flatMap(_._3)).flatMap(conjuncts)
    cands.flatMap { case (mv, present, _) =>
      // the query's equalities must be exactly the PRESENT joins'
      // registered keys; omitted (preserving) joins contribute none
      val want = present.flatMap(jn => jn.factKeys.zip(jn.dimKeys)).toSet
      val got = pairs.map { case (a, b) =>
        if (want.contains((a, b))) (a, b) else (b, a)
      }.toSet
      if (got != want) None
      else {
        // IsNotNull on ANY registered key is redundant: present-join
        // keys are non-null via the inner join itself; an omitted
        // PRESERVING join's fact key is audited never-null
        val keyNames =
          mv.joins.flatMap(jn => jn.factKeys ++ jn.dimKeys).toSet
        val kept = allConds.filter {
          case IsNotNull(a: AttributeReference) if keyNames.contains(a.name) =>
            false
          case _ => true
        }
        Some(Source(leaves.flatMap(_._1.output), kept, mv))
      }
    }
  }

  /** An MV bound to a FRESH scan of its summary (fresh attr ids per
    * rewrite site, so two rewrites in one tree can never collide),
    * with the name→attr map and the shared aggregate-call mapper. */
  private class Binding(val mv: MvDef, val mvRel: LogicalRelation,
                        tz: Option[String]) {
    private val mvAttr: Map[String, AttributeReference] =
      mvRel.output.map(a => a.name -> a).toMap

    def m(n: String): AttributeReference =
      mvAttr.getOrElse(n, throw new IllegalStateException(s"MV ${mv.name} lacks $n"))

    private def resum(mvCol: String,
                      want: org.apache.spark.sql.types.DataType): Expression = {
      val s = Sum(m(mvCol)).toAggregateExpression()
      if (s.dataType == want) s else Cast(s, want, tz)
    }

    /** One decomposable aggregate call → its partial re-aggregation. */
    def mapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.isDefined) return None
      if (ae.isDistinct) return ae.aggregateFunction match {
        // COUNT(DISTINCT m) over a bitmap-tracked measure: every
        // group row carries an EXACT value bitmap (`bm_m`); OR-merge
        // the bitmaps across the rolled-up dims and read cardinality
        // off the union — exact at any rollup level, O(|MV|), where
        // summed counts would double-count values shared across
        // groups and HLL would approximate
        case Count(Seq(a: AttributeReference))
            if mv.distincts.contains(a.name) =>
          Some(graft.functions.BitmapCard(
            graft.functions.BitmapOrAgg(m(s"bm_${a.name}"))
              .toAggregateExpression()))
        // COUNT(DISTINCT dims): the summary preserves distinct dim
        // combinations EXACTLY (one row per live combo), so the
        // distinct count re-evaluates over the tiny MV instead of the
        // fact — still a distinct aggregate, but over ~nothing
        case Count(cs) if cs.nonEmpty && cs.forall {
          case a: AttributeReference => mv.dims.contains(a.name)
          case _ => false
        } =>
          Some(AggregateExpression(
            Count(cs.map { case a: AttributeReference => m(a.name) }),
            ae.mode, isDistinct = true, None, NamedExpression.newExprId))
        case _ => None
      }
      ae.aggregateFunction match {
        case Sum(a: AttributeReference, _) if mv.measures.contains(a.name) =>
          Some(resum(s"sum_${a.name}", ae.dataType))
        case Count(Seq(l: Literal)) if l.value != null =>
          Some(Coalesce(Seq(Sum(m("cnt")).toAggregateExpression(),
            Literal(0L, LongType))))
        case Count(Seq()) =>
          Some(Coalesce(Seq(Sum(m("cnt")).toAggregateExpression(),
            Literal(0L, LongType))))
        case Count(Seq(a: AttributeReference)) if mv.measures.contains(a.name) =>
          Some(Coalesce(Seq(Sum(m(s"cnt_${a.name}")).toAggregateExpression(),
            Literal(0L, LongType))))
        case Min(a: AttributeReference) if mv.mins.contains(a.name) =>
          Some(Min(m(s"min_${a.name}")).toAggregateExpression())
        case Max(a: AttributeReference) if mv.maxs.contains(a.name) =>
          Some(Max(m(s"max_${a.name}")).toAggregateExpression())
        case Average(a: AttributeReference, _)
          if mv.measures.contains(a.name) && ae.dataType == DoubleType &&
            !a.dataType.isInstanceOf[DecimalType] =>
          // exact: Σ partial sums / Σ partial non-null counts
          Some(Divide(
            Cast(Sum(m(s"sum_${a.name}")).toAggregateExpression(), DoubleType, tz),
            Cast(Sum(m(s"cnt_${a.name}")).toAggregateExpression(), DoubleType, tz)))
        case _ => None
      }
    }
  }

  /** Bind through [[MvCatalog.resolvedRelation]] (the listing +
    * footer-schema read happens once per registered summary version,
    * not per candidate per pass — pinned by MvRewriteSpec's bindLoads
    * test), re-instanced per binding site so attribute ids stay fresh
    * when one tree carries two rewrites of the same MV. */
  private def bind(mv: MvDef): Option[Binding] =
    MvCatalog.resolvedRelation(spark, mv.mvPath).map(rel =>
      new Binding(mv, rel.newInstance(), Some(conf.sessionLocalTimeZone)))

  private def tryRewrite(agg: Aggregate, src: Source,
                         fpc: FpCache): Option[LogicalPlan] = {
    val Source(baseAttrs, conds, mv) = src

    // staleness guard: the base (or join dim) moved since the summary
    // was built/refreshed → the summary no longer answers for it →
    // keep the base plan (correct, merely slower; refresh to restore)
    if (!fpc.matches(mv.fp, mv.allBasePaths)) return None

    // grouping: bare dim columns only
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if mv.dims.contains(a.name) => a
      case _ => return None
    }
    val dimNames = mv.dims.toSet

    // FILTERED MV: every predicate conjunct of the view must be
    // SUBSUMED by the query — exactly present (canonical match) or
    // implied by a query conjunct (range implication: `a = 7` answers
    // from a `where a > 5` view). Exactly-matched conjuncts are
    // DROPPED (already applied at build); everything else — including
    // the stricter implying conjuncts — stays as a residual, which
    // must touch dims only (σ over group-bys commutes with the
    // aggregation, so it evaluates unchanged against the MV).
    val mvPred = MvCatalog.predConjuncts(spark, mv)
    val parts = conds.flatMap(PlanMatch.conjuncts)
    val partCanon = parts.map(PlanMatch.canon).toSet
    if (!mvPred.forall(p => partCanon.contains(PlanMatch.canon(p)) ||
        parts.exists(c => PlanMatch.implies(c, p)))) return None
    val mvCanon = mvPred.map(PlanMatch.canon).toSet
    val rest = parts.filterNot(c => mvCanon.contains(PlanMatch.canon(c)))
    if (!rest.forall(_.references.forall(a => dimNames.contains(a.name))))
      return None

    val b = bind(mv).getOrElse(return None)
    import b.{m, mapAgg, mvRel}

    val baseAttrIds = baseAttrs.map(_.exprId).toSet
    def remapDims(e: Expression): Option[Expression] = {
      var ok = true
      val out = e.transformUp {
        case a: AttributeReference if baseAttrIds.contains(a.exprId) =>
          if (dimNames.contains(a.name)) m(a.name) else { ok = false; a }
      }
      if (ok) Some(out) else None
    }

    // result expressions: swap every aggregate call and every dim ref,
    // preserving the original output names and exprIds exactly
    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if dimNames.contains(a.name) =>
        Alias(m(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case al @ Alias(child, aname) =>
        var ok = true
        val step1 = child.transformUp {
          case ae: AggregateExpression =>
            mapAgg(ae) match { case Some(e) => e; case None => ok = false; ae }
        }
        if (!ok) return None
        val step2 = remapDims(step1).getOrElse(return None)
        Alias(step2, aname)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None
    }

    val newGroup = groupAttrs.map(a => m(a.name))
    val newCond = rest.map(c => remapDims(c).getOrElse(return None))
    val filtered: LogicalPlan =
      newCond.reduceOption(And).map(Filter(_, mvRel)).getOrElse(mvRel)
    val needed = (newResult.flatMap(_.references) ++ newGroup).distinct
    Some(Aggregate(newGroup, newResult, Project(needed, filtered)))
  }

  /** ROLLUP / CUBE / GROUPING SETS over the base — the plan is
    * `Aggregate → Expand → scan`, where Expand replicates each row per
    * grouping set with non-set dims nulled and a literal grouping id.
    * The MV answers these too: rebuild the Expand OVER THE SUMMARY
    * (partial columns pass through every set row; dim slots mirror the
    * original attr-or-null pattern; gid literals copy verbatim) and
    * re-aggregate partials on top. Correct because every base row
    * lands in exactly one summary row and Expand replicates both
    * identically per set — so Σ per set over partials equals the
    * original per-set aggregate. Dim output attrs and the gid keep
    * their ORIGINAL exprIds, so the Aggregate's groupings, GROUPING()
    * projections, and every downstream reference stay valid. */
  private def tryRewriteExpand(agg: Aggregate,
                               fpc: FpCache): Option[LogicalPlan] = {
    val ex = agg.child match {
      case e: Expand => e
      case _ => return None
    }
    // candidates below the Expand: a single scan (plain MVs, plus
    // all-preserving star MVs answering a fact-only ROLLUP), or the
    // star join tree — the same source discovery as plain aggregates,
    // so ROLLUP/CUBE/GROUPING SETS over fact ⋈ dims rewrite too
    val cands: Seq[Source] = stripToScan(ex.child).toSeq.flatMap {
      case (lr, fs, conds) =>
        val roots = rootsOf(fs)
        (MvCatalog.forPaths(roots) ++
          MvCatalog.forLeaves(Seq(roots)).map(_._1))
          .map(Source(lr.output, conds, _))
    } ++ joinSources(ex.child)
    // iterate EVERY candidate for this base, staleness-filtered first
    // (same discipline as tryRewrite's sources loop): a stale
    // first-by-name def must not veto a fresh sibling that can answer
    cands.view
      .filter(src => fpc.matches(src.mv.fp, src.mv.allBasePaths))
      .flatMap(src => tryExpandWith(agg, ex,
        src.baseAttrs.map(_.exprId).toSet, src.conds, src.mv))
      .headOption
  }

  private def tryExpandWith(agg: Aggregate, ex: Expand,
                            scanIds: Set[ExprId], conds: Seq[Expression],
                            mv: MvDef): Option[LogicalPlan] = {
    val b = bind(mv).getOrElse(return None)
    val dimNames = mv.dims.toSet

    // classify each Expand output position
    sealed trait Slot
    case class Passthrough(scanAttr: AttributeReference) extends Slot
    case class DimSlot(scanAttr: AttributeReference) extends Slot
    case object LiteralSlot extends Slot
    val slots: Seq[Slot] = ex.output.indices.map { i =>
      val cells = ex.projections.map(_(i))
      val out = ex.output(i)
      cells.distinct match {
        case Seq(a: AttributeReference) if a.exprId == out.exprId =>
          Passthrough(a) // same attr in every set row, flows through
        case ds if ds.forall {
          case _: AttributeReference => true
          case l: Literal => l.value == null
          case _ => false
        } && ds.collect { case a: AttributeReference => a }.distinct.size == 1 =>
          DimSlot(ds.collectFirst { case a: AttributeReference => a }.get)
        case ls if ls.forall(_.isInstanceOf[Literal]) => LiteralSlot
        case _ => return None
      }
    }

    // dims must be registered dims; the MV's own predicate conjuncts
    // must be subsumed (then dropped — already applied at build) and
    // the rest dim-only, exactly as in [[tryRewrite]]
    val dimSlots = slots.collect { case d: DimSlot => d }
    if (!dimSlots.forall(d => dimNames.contains(d.scanAttr.name))) return None
    val mvPred = MvCatalog.predConjuncts(spark, mv)
    val parts = conds.flatMap(PlanMatch.conjuncts)
    val partCanon = parts.map(PlanMatch.canon).toSet
    if (!mvPred.forall(p => partCanon.contains(PlanMatch.canon(p)) ||
        parts.exists(c => PlanMatch.implies(c, p)))) return None
    val mvCanon = mvPred.map(PlanMatch.canon).toSet
    val rest = parts.filterNot(c => mvCanon.contains(PlanMatch.canon(c)))
    if (!rest.forall(
      _.references.forall(a => dimNames.contains(a.name)))) return None

    // groupings must be bare dim/gid Expand outputs (a grouping on a
    // pass-through measure would lose its attr in the rebuilt Expand)
    val keptIdx = ex.output.indices.filterNot(i => slots(i).isInstanceOf[Passthrough])
    if (!agg.groupingExpressions.forall {
      case a: AttributeReference =>
        keptIdx.exists(i => ex.output(i).exprId == a.exprId)
      case _ => false
    }) return None

    // rebuild the Expand over the summary: all MV columns pass
    // through; dim/gid slots mirror the original pattern
    def remap(e: Expression): Option[Expression] = {
      var ok = true
      val out = e.transformUp {
        case a: AttributeReference if scanIds.contains(a.exprId) =>
          if (dimNames.contains(a.name)) b.m(a.name) else { ok = false; a }
      }
      if (ok) Some(out) else None
    }
    val newCond = rest.map(c => remap(c).getOrElse(return None))
    val filtered: LogicalPlan = newCond.reduceOption(And)
      .map(Filter(_, b.mvRel)).getOrElse(b.mvRel)

    val keptOut = ex.output.indices.collect {
      case i if !slots(i).isInstanceOf[Passthrough] => ex.output(i)
    }
    val newOutput: Seq[Attribute] = b.mvRel.output ++ keptOut
    val newProjections: Seq[Seq[Expression]] = ex.projections.map { row =>
      val kept = ex.output.indices.collect {
        case i if !slots(i).isInstanceOf[Passthrough] =>
          row(i) match {
            case a: AttributeReference => b.m(a.name)
            case l: Literal => l
            case _ => return None
          }
      }
      b.mvRel.output ++ kept
    }
    val newExpand = Expand(newProjections, newOutput, filtered)

    // result expressions: aggregate calls re-aggregate partials; dim
    // and gid refs flow through untouched (same exprIds); any leftover
    // reference to a pass-through scan attr means an unmappable shape
    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if keptOut.exists(_.exprId == a.exprId) => a
      case al @ Alias(child, aname) =>
        var ok = true
        val step1 = child.transformUp {
          case ae: AggregateExpression =>
            b.mapAgg(ae) match { case Some(e) => e; case None => ok = false; ae }
        }
        if (!ok) return None
        if (step1.references.exists(a => scanIds.contains(a.exprId)))
          return None
        Alias(step1, aname)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None
    }
    Some(Aggregate(agg.groupingExpressions, newResult, newExpand))
  }
}
