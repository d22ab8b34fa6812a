package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.plans.PlanMatch.{conjuncts, rootsOf, stripToScan}

/** A VERIFIED foreign-key edge between two file-backed tables:
  * every non-null `childKeys` tuple in the child has exactly one
  * matching `parentKeys` tuple in the parent (existence by the FK
  * audit, uniqueness + non-null by the PK audit — both actually run at
  * declaration, see [[JoinElim.declareVerified]]). */
/** `fp`: [[TableState]] fingerprint of child ∪ parent at audit time —
  * the rule refuses the rewrite when either table has since moved
  * (an appended orphan row would otherwise be silently ADDED to
  * results: the real join drops it, the substituted IsNotNull keeps
  * it). Empty = unstamped, caller owns freshness. */
case class FkDef(name: String,
                 childPaths: Set[String], childKeys: Seq[String],
                 parentPaths: Set[String], parentKeys: Seq[String],
                 fp: String = "")

object FkCatalog extends Registry[FkDef]("FK", _.name,
    d => d.childPaths ++ d.parentPaths) {
  def forPair(childPaths: Set[String], parentPaths: Set[String]): Seq[FkDef] =
    all.filter(d => d.childPaths == childPaths && d.parentPaths == parentPaths)
}

/** FK-BASED JOIN ELIMINATION — the classic referential-integrity
  * rewrite (every serious optimizer ships it; Spark itself cannot,
  * because it has no constraint metadata): an INNER join from a fact
  * to a dimension on a VERIFIED foreign key, where the query consumes
  * no dimension column, is replaced by
  *
  *   `Filter(childKey IS NOT NULL, child)`
  *
  * which is exactly equivalent: the FK audit proves every non-null key
  * matches (no rows added or dropped by the join), the PK audit proves
  * the parent key unique (no row duplication), and the IsNotNull
  * filter reproduces the inner join's null-key drop. At 100 TB this
  * deletes the dimension scan AND the join (broadcast build or
  * shuffle) from every BI-tool-generated query that joins by rote and
  * then only aggregates fact columns.
  *
  * Trust is earned, not assumed: [[JoinElim.declareVerified]] RUNS the
  * `ops/Validate` PK + FK audits at declaration time and refuses to
  * register a violated edge. At scale the audits run per-snapshot on
  * the changed slice (the Layout change feed makes that O(batch));
  * [[FkCatalog]] is one [[Registry]], like [[MvCatalog]].
  *
  * Safety guards (all must hold or the plan is untouched):
  *   - inner join whose condition decomposes into exactly the
  *     registered key equalities;
  *   - the parent side strips to a bare scan with no residual filter
  *     beyond IsNotNull(parent key) — a real dim filter changes which
  *     child rows survive and must keep the join;
  *   - the node above the join (Project or Aggregate) references no
  *     parent-side attribute.
  *
  * The same rule also eliminates LEFT/RIGHT OUTER joins against a
  * VERIFIED UNIQUE key ([[PkCatalog]] — the [[DistinctElim]]
  * declarations), which needs no FK at all: see
  * [[JoinElimRule.tryOuter]]. */
object JoinElim {

  /** Run the PK audit on the parent and the FK audit child→parent
    * (`ops/Validate`); register the edge only if both are clean. */
  def declareVerified(name: String, child: DataFrame, childKeys: Seq[String],
                      parent: DataFrame, parentKeys: Seq[String]): FkDef = {
    val (fp, Seq(cp, pp)) = TableState.stamp(s"FK $name",
      child -> " (child)", parent -> " (parent)")
    val pkViolations = graft.ops.Validate.primaryKey(parent, parentKeys)
    require(pkViolations.isEmpty,
      s"FK $name: parent keys ${parentKeys.mkString(",")} are not a primary key")
    // NULL child keys are exempt (SQL MATCH SIMPLE): the inner join
    // and the substituted IsNotNull filter drop such rows IDENTICALLY,
    // so they can never make the rewrite wrong — refusing them would
    // permanently bar legitimately-nullable FK columns
    val nonNull = {
      import org.apache.spark.sql.functions.col
      child.filter(childKeys.map(col(_).isNotNull).reduce(_ && _))
    }
    val fkViolations = graft.ops.Validate.foreignKey(
      nonNull, parent, childKeys, parentKeys)
    require(fkViolations.isEmpty,
      s"FK $name: child has orphaned ${childKeys.mkString(",")} values")
    FkCatalog.commit(child.sparkSession,
      FkDef(name, cp, childKeys, pp, parentKeys, fp = fp))
  }

  /** INCREMENTAL RE-VERIFICATION — restore a staleness-suspended edge
    * from the change window instead of a full [[declareVerified]]
    * re-audit. Once either table moves, the plan-time fingerprint
    * check suspends the rewrite; the full re-audit pays a global
    * key aggregation over the parent AND a full child⋈parent
    * anti-join — at 100 TB, exactly the job you don't want after
    * every nightly append. When the stamped fingerprint recorded
    * SNAPSHOT identities, the audit gap is precisely the
    * [[graft.catalog.Layout.changes]] window between the stamped and
    * current snapshots, and APPEND-ONLY windows re-verify from the
    * batch:
    *
    *   - appended CHILD rows (the fact side — where the data is):
    *     their non-null key tuples must exist in the current parent —
    *     the FK audit on the batch alone, O(batch + dim); the fact
    *     table is NEVER rescanned;
    *   - appended PARENT rows: their keys must be unique among
    *     themselves and against the existing parent — the PK audit on
    *     the parent restricted (null-safe semi-join) to the batch's
    *     keys: batch-sized join/aggregate state, one pass of
    *     key-column I/O over the dim (no global dim aggregation).
    *
    * The window is the [[TableState.movedHops]] hop chain over the
    * PLAIN READ this registry audits (a dv-only commit is a
    * [[TableState.NoRowChangeHop]] — bit-identical read, restamp with
    * no audit). A [[TableState.RewriteHop]] (compact + full vacuum)
    * makes the rows a SUBSET of the audited rows, which is
    * ASYMMETRIC here: a shrunken CHILD stays orphan-free (subset of
    * orphan-free rows), but removed PARENT rows can orphan existing
    * children — the audit semi-joins the current child to the
    * compact's own `rw_*` removed-parent keys
    * ([[TableState.removedRows]], batch-sized) and re-checks just
    * those children against the current parent. Never a blanket
    * restamp across a parent rewrite.
    *
    * On success the edge is re-stamped at the snapshots that were
    * audited and the rewrite resumes. Unchanged roots (fingerprint
    * segment identical) need no window at all, so a plain-directory
    * parent that never moves composes fine with a snapshot-logged
    * child. */
  def reverifyAppended(spark: SparkSession, name: String): FkDef = {
    val d = FkCatalog.lookup(spark, name)
    require(d.childPaths.size == 1 && d.parentPaths.size == 1,
      s"FK $name: incremental re-verification needs single-root tables")
    val (childRoot, parentRoot) = (d.childPaths.head, d.parentPaths.head)
    val what = s"FK $name"
    val (newFp, moved) = TableState.movedHops(spark, d.fp,
      d.childPaths ++ d.parentPaths, what)
      .getOrElse(return d) // nothing moved
    import org.apache.spark.sql.functions.col
    moved.get(parentRoot).foreach { rc =>
      // a parent EXPIRY removed rows without materialized provenance —
      // there is nothing to orphan-audit the children against. The
      // child side is exempt (subset-safe) below.
      require(rc.shrinkHops.isEmpty,
        s"$what: parent at $parentRoot expired rows (time retention) " +
          "and the removed keys are not recorded; existing children " +
          "may be orphaned — re-declare against the current state")
      TableState.appendedRows(spark, rc, what).foreach { rows =>
        val ins = rows.select(d.parentKeys.map(col): _*)
        // uniqueness can only break AT the inserted keys: audit the
        // current parent restricted (null-safe) to them — batch-sized
        // join state, one dim scan
        require(graft.ops.Validate.primaryKey(
          TableState.restrictToKeys(spark.read.parquet(parentRoot),
            ins, d.parentKeys), d.parentKeys).isEmpty,
          s"$what: appended parent rows duplicate existing keys")
      }
      // a parent rewrite REMOVED rows from the plain read — existing
      // children referencing them are now orphans. Audit only the
      // children AT the removed keys (rw_* part is batch-sized)
      // against the current parent; everything else kept its parent.
      TableState.retractedRows(spark, rc).foreach { removed =>
        val rmKeys = removed
          .select(d.parentKeys.zip(d.childKeys).map {
            case (p, c) => col(p).as(c) }: _*)
        val child = spark.read.parquet(childRoot)
          .filter(d.childKeys.map(col(_).isNotNull).reduce(_ && _))
        val touched = TableState.restrictToKeys(child, rmKeys, d.childKeys)
        require(graft.ops.Validate.foreignKey(touched,
          spark.read.parquet(parentRoot), d.childKeys,
          d.parentKeys).isEmpty,
          s"$what: parent compaction removed keys still referenced " +
            "by child rows")
      }
    }
    moved.get(childRoot).foreach { rc =>
      // child removals (dv commits are NoRowChange on the plain read;
      // rewrites shrink it) are existence-safe; audit only the
      // appended rows, and only their NON-NULL key tuples — SQL FK
      // semantics exempt NULL keys, and the rewrite's IsNotNull
      // filter drops such rows exactly as the real inner join does
      TableState.appendedRows(spark, rc, what).foreach { rows =>
        val ins = rows
          .filter(d.childKeys.map(col(_).isNotNull).reduce(_ && _))
        require(graft.ops.Validate.foreignKey(ins,
          spark.read.parquet(parentRoot), d.childKeys, d.parentKeys).isEmpty,
          s"$what: appended child rows are orphaned")
      }
    }
    FkCatalog.commit(spark, d.copy(fp = newFp))
  }

  /** Durable revocation — see [[Registry.revoke]]. */
  def revoke(spark: SparkSession, name: String): Unit =
    FkCatalog.revoke(spark, name)

  def install(spark: SparkSession): Unit =
    graft.GraftExtensions.install(spark, JoinElimRule(spark))
}

case class JoinElimRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // PkCatalog counts too: the OUTER elimination needs no FK edge
    if (!Registry.gate(spark, plan, "graft.joinelim.enabled",
        FkCatalog, PkCatalog)) plan
    else {
      // one fingerprint probe per table per PASS (FpCache), however
      // many joins in the tree match a registered edge
      val fpc = new FpCache(spark)
      // hook at the consuming node (its references define "unused");
      // eliminateTree walks any Filter/Project/Join shape below and
      // no-ops (None) when nothing eliminates
      plan.transformDown {
        case p @ Project(pl, child) if child.isInstanceOf[Join] ||
            child.isInstanceOf[Filter] =>
          eliminateTree(child, pl.flatMap(_.references), fpc) match {
            case Some(nc) => Project(pl, nc)
            case None => p
          }
        case a: Aggregate if a.child.isInstanceOf[Join] ||
            a.child.isInstanceOf[Filter] || a.child.isInstanceOf[Project] =>
          eliminateTree(a.child,
            (a.groupingExpressions ++ a.aggregateExpressions)
              .flatMap(_.references), fpc) match {
            case Some(nc) => a.copy(child = nc)
            case None => a
          }
      }
    }
  }

  /** Recursive elimination over a JOIN TREE (the BI-generated shape:
    * `fact LEFT dim₁ INNER dim₂ …` with several unused dims): try the
    * node itself, then recurse into both sides with `needed` extended
    * by this node's condition refs (a nested dim consumed only by an
    * ENCLOSING join's keys is still consumed); a mid-tree Project
    * RESETS `needed` to its own references (it prunes everything
    * else); a Filter adds its condition. After a side collapses,
    * re-attempt the node — an inner FK elimination may only match
    * once its child side has stripped to the bare fact scan. Returns
    * None when nothing anywhere in the tree eliminated. */
  private def eliminateTree(p: LogicalPlan, needed: Seq[Attribute],
                            fpc: FpCache): Option[LogicalPlan] = p match {
    case j: Join =>
      eliminate(j, needed, fpc) match {
        case Some(repl) =>
          Some(eliminateTree(repl, needed, fpc).getOrElse(repl))
        case None =>
          val condRefs = j.condition.toSeq.flatMap(_.references)
          val deeper = needed ++ condRefs
          val nl = eliminateTree(j.left, deeper, fpc)
          val nr = eliminateTree(j.right, deeper, fpc)
          if (nl.isEmpty && nr.isEmpty) None
          else {
            val nj = j.copy(left = nl.getOrElse(j.left),
              right = nr.getOrElse(j.right))
            Some(eliminate(nj, needed, fpc).map(repl =>
              eliminateTree(repl, needed, fpc).getOrElse(repl))
              .getOrElse(nj))
          }
      }
    case pr: Project =>
      eliminateTree(pr.child, pr.projectList.flatMap(_.references), fpc)
        .map(nc => pr.copy(child = nc))
    case f: Filter =>
      eliminateTree(f.child, needed ++ f.condition.references, fpc)
        .map(nc => f.copy(child = nc))
    case _ => None
  }

  /** If `j` is a verified-FK inner join — or a LEFT/RIGHT OUTER join
    * to a verified-unique key — whose parent side contributes nothing
    * to `needed`, return the replacement child subtree. */
  private def eliminate(j: Join, needed: Seq[Attribute],
                        fpc: FpCache): Option[LogicalPlan] = {
    val cond = j.condition.getOrElse(return None)

    j.joinType match {
      case Inner =>
        // try both orientations: (child=left, parent=right) and flipped
        Seq((j.left, j.right), (j.right, j.left)).view.flatMap {
          case (childPlan, parentPlan) =>
            tryOne(childPlan, parentPlan, cond, needed, fpc)
        }.headOption
      case LeftOuter => tryOuter(j.left, j.right, cond, needed, fpc)
      case RightOuter => tryOuter(j.right, j.left, cond, needed, fpc)
      case LeftSemi => trySemiAnti(j.left, j.right, cond, anti = false, fpc)
      case LeftAnti => trySemiAnti(j.left, j.right, cond, anti = true, fpc)
      case _ => None
    }
  }

  /** SEMI/ANTI ELIMINATION ON A VERIFIED FK — `EXISTS (SELECT 1 FROM
    * parent WHERE pk = fk)` plans as a LEFT SEMI join; the FK audit
    * proves every NON-NULL key tuple matches, so the whole probe — the
    * parent scan, its broadcast, the join — reduces to
    * `Filter(fk IS NOT NULL, child)`, and the NOT EXISTS (LEFT ANTI)
    * dual to `Filter(ANY fk IS NULL, child)` (a row escapes the semi
    * iff some key is NULL: NULL keys never match, non-NULL tuples
    * always do). Semi/anti output is the child's alone, so there is
    * no column-use guard to check; the parent must be an UNFILTERED
    * bare scan (a real parent filter changes which keys exist) and
    * both stamps must be fresh — an appended orphan child row would
    * otherwise pass the substituted IsNotNull while the real semi
    * drops it. */
  private def trySemiAnti(childPlan: LogicalPlan, parentPlan: LogicalPlan,
                          cond: Expression, anti: Boolean,
                          fpc: FpCache): Option[LogicalPlan] = {
    val pairs = sidedPairs(cond, childPlan, parentPlan).getOrElse(return None)
    val (_, cfs, _) = stripToScan(childPlan).getOrElse(return None)
    val (_, pfs, pconds) = stripToScan(parentPlan).getOrElse(return None)
    val fk = FkCatalog.forPair(rootsOf(cfs), rootsOf(pfs))
      .headOption.getOrElse(return None)
    if (!fpc.matches(fk.fp, fk.childPaths ++ fk.parentPaths)) return None

    // condition must be exactly the registered key pairs
    if (pairs.toSet != fk.childKeys.zip(fk.parentKeys).toSet) return None

    // parent must be unfiltered beyond IsNotNull(parent key)
    val parentKeySet = fk.parentKeys.toSet
    val realParentFilters = pconds.flatMap(conjuncts).exists {
      case IsNotNull(a: AttributeReference) => !parentKeySet.contains(a.name)
      case _ => true
    }
    if (realParentFilters) return None

    val childAttrByName = childPlan.output.map(a => a.name -> a).toMap
    val keys = fk.childKeys.map(k => childAttrByName.getOrElse(k, return None))
    val pred =
      if (anti) keys.map(IsNull(_): Expression).reduce(Or)
      else keys.map(IsNotNull(_): Expression).reduce[Expression](And)
    Some(Filter(pred, childPlan))
  }

  /** OUTER-JOIN ELIMINATION ON A VERIFIED UNIQUE KEY — the PK-only
    * sibling of the FK rewrite: `fact LEFT JOIN dim ON fk = pk` where
    * the query consumes no dim column is the identity on the fact
    * WHENEVER `pk` is verified unique — every fact row emits exactly
    * once (matched: the unique key caps matches at one; unmatched or
    * null-keyed: null-padded, still one row). No FK existence audit,
    * no IsNotNull filter, and — unlike the inner case — CHILD
    * staleness is irrelevant: only the parent's uniqueness stamp
    * gates the rewrite, so fact appends never suspend it. Residual
    * parent-side filters are fine too (uniqueness survives any row
    * subset; a filtered-out match just becomes a null-pad the query
    * never looks at). At 100 TB this deletes the dim scan + broadcast
    * from every LEFT-joined lookup a query generator bolts on "just
    * in case". */
  private def tryOuter(childPlan: LogicalPlan, parentPlan: LogicalPlan,
                       cond: Expression, needed: Seq[Attribute],
                       fpc: FpCache): Option[LogicalPlan] = {
    val (prl, pfs, _) = stripToScan(parentPlan).getOrElse(return None)

    // nothing above the join may consume a parent-side column
    val parentIds = prl.output.map(_.exprId).toSet
    if (needed.exists(a => parentIds.contains(a.exprId))) return None

    // attribute each equality's parent side by exprId (names can
    // repeat across sides; ids cannot)
    val pIds = parentPlan.output.map(_.exprId).toSet
    val cIds = childPlan.output.map(_.exprId).toSet
    val parentKeys = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if pIds.contains(a.exprId) && cIds.contains(b.exprId) => a.name
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if cIds.contains(a.exprId) && pIds.contains(b.exprId) => b.name
      case _ => return None // non-equi or one-sided conjunct
    }.toSet

    // a verified unique key of the parent scan must be covered by the
    // equality columns: per fact row the match set is then a subset of
    // one unique-key group — at most one row
    val ok = PkCatalog.forPaths(rootsOf(pfs)).exists(d =>
      d.keys.forall(parentKeys.contains) &&
        // staleness guard: the parent moved since the PK audit → an
        // appended duplicate could fan the fact out — keep the join
        fpc.matches(d.fp, d.paths))
    if (ok) Some(childPlan) else None
  }

  /** Decompose `cond` into (childKey, parentKey) NAME pairs,
    * attributing each equality's sides by exprId (names can repeat
    * across sides — e.g. a child carrying columns named like BOTH
    * registered keys; ids cannot). None when any conjunct is
    * non-equi, non-attribute, or does not span both sides — a
    * same-side equality (child.ck = child.ck2) must NOT pass as the
    * registered key condition. */
  private def sidedPairs(cond: Expression, childPlan: LogicalPlan,
                         parentPlan: LogicalPlan)
      : Option[Seq[(String, String)]] = {
    val cIds = childPlan.output.map(_.exprId).toSet
    val pIds = parentPlan.output.map(_.exprId).toSet
    Some(conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if cIds.contains(a.exprId) && pIds.contains(b.exprId) =>
        (a.name, b.name)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if pIds.contains(a.exprId) && cIds.contains(b.exprId) =>
        (b.name, a.name)
      case _ => return None
    })
  }

  private def tryOne(childPlan: LogicalPlan, parentPlan: LogicalPlan,
                     cond: Expression,
                     needed: Seq[Attribute],
                     fpc: FpCache): Option[LogicalPlan] = {
    val pairs = sidedPairs(cond, childPlan, parentPlan).getOrElse(return None)
    val (_, cfs, _) = stripToScan(childPlan).getOrElse(return None)
    val (prl, pfs, pconds) = stripToScan(parentPlan).getOrElse(return None)
    val fk = FkCatalog.forPair(rootsOf(cfs), rootsOf(pfs))
      .headOption.getOrElse(return None)

    // staleness guard: either table moved since the audit → the edge
    // is no longer VERIFIED → keep the real join (fall through);
    // pinned by JoinElimSpec's violating-append test
    if (!fpc.matches(fk.fp, fk.childPaths ++ fk.parentPaths))
      return None

    // condition must be exactly the registered key pairs, each
    // equality side-attributed by exprId
    if (pairs.toSet != fk.childKeys.zip(fk.parentKeys).toSet) return None

    // the parent must be unfiltered (IsNotNull on its key is the only
    // residual the optimizer adds that the FK makes redundant)
    val parentKeySet = fk.parentKeys.toSet
    val realParentFilters = pconds.flatMap(conjuncts).exists {
      case IsNotNull(a: AttributeReference) => !parentKeySet.contains(a.name)
      case _ => true
    }
    if (realParentFilters) return None

    // nothing above the join may consume a parent-side column
    val parentIds = prl.output.map(_.exprId).toSet
    if (needed.exists(a => parentIds.contains(a.exprId))) return None

    // child keys must be non-null to mimic the inner join's drop;
    // resolve them on the child subtree's OUTPUT (post-pruning)
    val childAttrByName = childPlan.output.map(a => a.name -> a).toMap
    val notNulls = fk.childKeys.map { k =>
      IsNotNull(childAttrByName.getOrElse(k, return None))
    }
    Some(Filter(notNulls.reduce[Expression](And), childPlan))
  }
}
