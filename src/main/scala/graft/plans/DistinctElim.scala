package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, First, Last, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.plans.PlanMatch.{rootsOf, stripToScan}

/** A VERIFIED unique key on a file-backed table (the PK audit actually
  * ran at declaration — see [[DistinctElim.declareUniqueKey]]).
  * `fp`: [[TableState]] fingerprint at audit time — the rule refuses
  * the rewrite when the table has since moved (an appended duplicate
  * would otherwise survive a DISTINCT). Empty = unstamped. */
case class UniqueKeyDef(name: String, paths: Set[String],
                        keys: Seq[String], fp: String = "")

object PkCatalog extends Registry[UniqueKeyDef]("unique key", _.name, _.paths) {
  def forPaths(paths: Set[String]): Seq[UniqueKeyDef] = all.filter(_.paths == paths)
}

/** PK-BASED DISTINCT ELIMINATION — when a column set is verified
  * unique, deduplicating by a superset of it is a per-row no-op, yet
  * Spark (with no constraint metadata) plans a full hash-aggregate
  * SHUFFLE for it. This rule removes that shuffle:
  *
  *   - `DISTINCT` / `dropDuplicates` whose keys ⊇ a verified unique
  *     key of the underlying scan → plain Project (zero exchanges);
  *   - AGGREGATE ELIMINATION: `GROUP BY k ⊇ unique key` makes every
  *     group one row, so sum/avg/min/max/first/last/count calls
  *     replace with per-row expressions and the aggregate (plus its
  *     shuffle) disappears entirely — the SQL-Server/Oracle
  *     "GROUP BY on a key" rewrite;
  *   - `COUNT(DISTINCT k)` with k ⊇ a unique key → `COUNT(k)` —
  *     dropping the Expand + extra shuffle Spark plans for distinct
  *     aggregates.
  *
  * Uniqueness survives Filter and Project (a subset of unique rows is
  * still unique), so the scan may carry residual filters; it does NOT
  * survive joins or unions, so only direct scans match. Trust is
  * earned as in [[JoinElim]]: [[DistinctElim.declareUniqueKey]] RUNS
  * the PK audit and refuses a violated declaration. At 100 TB this is
  * the difference between a metadata no-op and reshuffling terabytes
  * because a query generator bolted DISTINCT onto a primary key. */
object DistinctElim {

  /** Run the `ops/Validate` PK audit; register only if unique. */
  def declareUniqueKey(name: String, df: DataFrame,
                       keys: Seq[String]): UniqueKeyDef = {
    val (fp, Seq(paths)) = TableState.stamp(s"unique key $name", df -> "")
    require(graft.ops.Validate.primaryKey(df, keys).isEmpty,
      s"unique key $name: ${keys.mkString(",")} has duplicate tuples")
    PkCatalog.commit(df.sparkSession, UniqueKeyDef(name, paths, keys, fp = fp))
  }

  /** INCREMENTAL RE-VERIFICATION — restore a staleness-suspended key
    * from the change window instead of a full [[declareUniqueKey]]
    * re-audit (the [[JoinElim.reverifyAppended]] idea, single-table):
    * when the stamped fingerprint recorded a snapshot identity, the
    * audit gap is the [[graft.catalog.Layout.changes]] window, and an
    * APPEND-ONLY window re-verifies from the batch — uniqueness can
    * only break AT the appended keys, so the PK audit runs on the
    * current table restricted (null-safe semi-join) to the batch's
    * key tuples: batch-sized join/aggregate state and NO global key
    * aggregation, at the cost of one pass of key-column I/O over the
    * table (the full re-audit shuffles and aggregates every key;
    * layout metadata — bloom/zone indexes — can prune the restriction
    * scan further at deployment). The audit walks the
    * [[TableState.movedHops]] hop chain — the classification of what
    * each commit did to the PLAIN READ this registry audits:
    *
    *   - [[TableState.AppendHop]]: the fresh files' raw rows
    *     ([[TableState.hopRows]]) are the audit batch — raw, not the
    *     netted `changes()` feed, so a same-window
    *     duplicate-insert+delete the plain read still contains cannot
    *     hide from the audit;
    *   - [[TableState.NoRowChangeHop]] (dv-only/bloom-only commit):
    *     the plain read is bit-identical — nothing to audit;
    *   - [[TableState.RewriteHop]] (compact + full vacuum): the plain
    *     rows became a SUBSET of the audited rows, and uniqueness is
    *     preserved on any row subset — restamp without an audit.
    *
    * Re-stamps and resumes the rewrite on success. */
  def reverifyAppended(spark: SparkSession, name: String): UniqueKeyDef = {
    val d = PkCatalog.lookup(spark, name)
    require(d.paths.size == 1,
      s"unique key $name: incremental re-verification needs a single root")
    val root = d.paths.head
    val what = s"unique key $name"
    val (newFp, moved) = TableState.movedHops(spark, d.fp, d.paths, what)
      .getOrElse(return d) // nothing moved
    import org.apache.spark.sql.functions.col
    TableState.appendedRows(spark, moved(root), what).foreach { appended =>
      val insKeys = appended.select(d.keys.map(col): _*)
      // uniqueness can only break AT the appended keys: PK-audit the
      // current table restricted (NULL-SAFE — a NULL-keyed duplicate
      // counts, exactly as SQL grouping does) to them
      require(graft.ops.Validate.primaryKey(
        TableState.restrictToKeys(spark.read.parquet(root), insKeys,
          d.keys), d.keys).isEmpty,
        s"$what: appended rows duplicate existing key tuples")
    }
    PkCatalog.commit(spark, d.copy(fp = newFp))
  }

  /** Durable revocation — see [[Registry.revoke]]. */
  def revoke(spark: SparkSession, name: String): Unit =
    PkCatalog.revoke(spark, name)

  def install(spark: SparkSession): Unit =
    graft.GraftExtensions.install(spark, DistinctElimRule(spark))
}

case class DistinctElimRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!Registry.gate(spark, plan, "graft.distinctelim.enabled", PkCatalog))
      return plan
    // one fingerprint probe per table per PASS (FpCache), however
    // many dedup sites in the tree match a registered key
    val fpc = new FpCache(spark)
    plan.transformDown {
      case d @ Deduplicate(keys, child) =>
        if (coversUniqueKey(child, keys, fpc)) child else d

      case agg: Aggregate =>
        // GROUP BY ⊇ a verified unique key makes every group EXACTLY
        // ONE ROW, so the whole hash aggregate (and its shuffle)
        // collapses to a Project with each call replaced by its
        // single-row value: first/last/min/max(a) → a, sum/avg(a) →
        // cast(a) (exact on one row; the cast restores the widened
        // result type), count(*) → 1, count(a…) → non-null test.
        // DISTINCT and dropDuplicates (group-by-keys + first) are the
        // degenerate cases of the same rewrite. FILTER clauses bail.
        val groupAttrs = agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference])
        def singleRow(ae: AggregateExpression): Option[Expression] = {
          if (ae.filter.isDefined) return None
          ae.aggregateFunction match {
            case First(a: AttributeReference, _) => Some(a)
            case Last(a: AttributeReference, _) => Some(a)
            case Min(a: AttributeReference) => Some(a)
            case Max(a: AttributeReference) => Some(a)
            case Sum(a: AttributeReference, _) =>
              Some(Cast(a, ae.dataType, Some(conf.sessionLocalTimeZone)))
            case Average(a: AttributeReference, _) =>
              Some(Cast(a, ae.dataType, Some(conf.sessionLocalTimeZone)))
            case Count(cs) if cs.forall {
              case _: AttributeReference => true
              case l: Literal => l.value != null
              case _ => false
            } =>
              val attrs = cs.collect { case a: AttributeReference => a }
              if (attrs.isEmpty) Some(Literal(1L))
              else Some(If(
                attrs.map(IsNotNull(_): Expression).reduce(And),
                Literal(1L), Literal(0L)))
            case _ => None
          }
        }
        val collapsed: Option[Seq[NamedExpression]] =
          if (!groupAttrs || agg.groupingExpressions.isEmpty) None
          else {
            val out = agg.aggregateExpressions.map {
              case a: AttributeReference
                if agg.groupingExpressions.exists(_.semanticEquals(a)) => a
              case al @ Alias(child, nm) =>
                var ok = true
                val step = child.transformUp {
                  case ae: AggregateExpression => singleRow(ae) match {
                    case Some(e) => e
                    case None => ok = false; ae
                  }
                }
                if (!ok) null
                else Alias(step, nm)(exprId = al.exprId,
                  qualifier = al.qualifier)
              case _ => null
            }
            if (out.contains(null)) None else Some(out)
          }
        if (collapsed.isDefined &&
          coversUniqueKey(agg.child,
            agg.groupingExpressions.map(_.asInstanceOf[Attribute]), fpc))
          Project(collapsed.get, agg.child)
        else {
          // COUNT(DISTINCT k ⊇ unique key) → COUNT(k)
          val newAggs = agg.aggregateExpressions.map(_.transformUp {
            case ae @ AggregateExpression(Count(cs), _, true, None, _)
              if cs.forall(_.isInstanceOf[AttributeReference]) &&
                coversUniqueKey(agg.child,
                  cs.map(_.asInstanceOf[Attribute]), fpc) =>
              ae.copy(isDistinct = false)
          }.asInstanceOf[NamedExpression])
          if (newAggs == agg.aggregateExpressions) agg
          else agg.copy(aggregateExpressions = newAggs)
        }
    }
  }

  /** Does `attrs` contain a verified unique key of the scan `p` strips
    * to? Residual Filters/Projects are fine — uniqueness is preserved
    * on any row subset. */
  private def coversUniqueKey(p: LogicalPlan, attrs: Seq[Attribute],
                              fpc: FpCache): Boolean =
    stripToScan(p).exists { case (_, fs, _) =>
      val names = attrs.map(_.name).toSet
      PkCatalog.forPaths(rootsOf(fs)).exists(d =>
        d.keys.forall(names.contains) &&
          // staleness guard: the table moved since the audit → the key
          // is no longer VERIFIED unique → keep the real aggregate;
          // pinned by DistinctElimSpec's violating-append test
          fpc.matches(d.fp, d.paths))
    }
}
