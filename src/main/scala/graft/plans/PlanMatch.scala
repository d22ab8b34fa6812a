package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Shared structural matchers for the optimizer rules in this package
  * ([[MvRewriteRule]], [[JoinElimRule]]): strip the column-pruning /
  * residual-filter shell the optimizer leaves around a file scan, and
  * decompose conjunctions/equi-conditions by column NAME — the rules'
  * registries are name-and-path keyed, so matching must be too. */
private[graft] object PlanMatch {

  /** A table's identity: the root-path set of its file scan — what
    * the registries key defs by and what the result cache keys on. */
  def rootsOf(fs: HadoopFsRelation): Set[String] = pathsOf(fs).toSet

  /** The root paths of every file-scan leaf of `plan`, one entry per
    * relation in PREORDER (non-file relations give an empty entry):
    * the one scan-identity walk. Callers wanting a table set flatten
    * it; [[graft.analytics.ResultCache]] keys on the per-leaf order. */
  def leafRoots(plan: LogicalPlan): Seq[Seq[String]] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => pathsOf(fs)
        case _ => Seq.empty[String]
      }
    }

  private def pathsOf(fs: HadoopFsRelation): Seq[String] =
    fs.location.rootPaths.map(_.toString).toSeq

  /** Cheap PRE-CHECK for the rewrite rules: does any file-scan leaf of
    * `plan` sit on one of `paths`? The rules' registries hold a handful
    * of tables; every OTHER query in a shared session (a bench suite,
    * a Thrift server) would still pay each rule's full transformDown —
    * pattern-matching, stripToScan, catalog probes — on every plan
    * compile, multiplied by the optimizer's fixed-point iterations and
    * by however many Spark actions the query runs. One leaf walk
    * (no filesystem access, no allocation beyond the iterator) gates
    * all of that: no registered path in the scan roots → the rule
    * cannot possibly fire → return the plan untouched. */
  def touchesAny(plan: LogicalPlan, paths: Set[String]): Boolean =
    paths.nonEmpty && plan.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(p => paths.contains(p.toString))
        case _ => false
      }
      case _ => false
    }

  /** Strip pruning Projects and Filters down to the leaf file scan;
    * collect the filter conditions on the way. None on any node that
    * could change per-row semantics. */
  def stripToScan(p: LogicalPlan, conds: Seq[Expression] = Nil)
  : Option[(LogicalRelation, HadoopFsRelation, Seq[Expression])] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripToScan(child, conds)
    case Filter(c, child) => stripToScan(child, conds :+ c)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => Some((lr, fs, conds))
      case _ => None
    }
    case _ => None
  }

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Canonical string form of a predicate conjunct, for the filtered-MV
    * subsumption test: attribute refs lose their qualifier (exprIds
    * never print in `.sql`), and symmetric equalities sort their
    * operands — so the SAME source predicate canonicalizes identically
    * whether it arrived through the MV declaration's re-analysis or
    * the candidate query's optimized plan. Purely syntactic: two
    * semantically equal but differently-written predicates may not
    * match, which only costs the rewrite, never correctness. */
  def canon(e: Expression): String =
    e.transformUp {
      case a: AttributeReference => a.withQualifier(Nil)
      case eq @ EqualTo(l, r) if l.sql > r.sql => EqualTo(r, l)
      case eq @ EqualNullSafe(l, r) if l.sql > r.sql => EqualNullSafe(r, l)
    }.sql

  /** Does conjunct `c` (from the query) IMPLY conjunct `p` (from a
    * filtered MV's predicate)? Sound-but-incomplete range implication
    * over single-attribute comparison atoms with non-null literals —
    * `a = 7` or `a > 10` implies `a > 5`; any comparison atom on `a`
    * implies `IsNotNull(a)` (comparisons are null-rejecting). No
    * integer-specific tightening (`a > 5` does NOT claim `a >= 6`),
    * so the rules hold for every ordered type. False = "unknown",
    * which only costs the rewrite. */
  def implies(c: Expression, p: Expression): Boolean = {
    // (attr, op, literal) with the attribute normalized to the left
    def atom(e: Expression): Option[(String, String, Literal)] = e match {
      case EqualTo(a: AttributeReference, l: Literal) => Some((a.name, "=", l))
      case EqualTo(l: Literal, a: AttributeReference) => Some((a.name, "=", l))
      case GreaterThan(a: AttributeReference, l: Literal) => Some((a.name, ">", l))
      case GreaterThan(l: Literal, a: AttributeReference) => Some((a.name, "<", l))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => Some((a.name, ">=", l))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => Some((a.name, "<=", l))
      case LessThan(a: AttributeReference, l: Literal) => Some((a.name, "<", l))
      case LessThan(l: Literal, a: AttributeReference) => Some((a.name, ">", l))
      case LessThanOrEqual(a: AttributeReference, l: Literal) => Some((a.name, "<=", l))
      case LessThanOrEqual(l: Literal, a: AttributeReference) => Some((a.name, ">=", l))
      case _ => None
    }
    val ca = atom(c).filter(_._3.value != null)
    p match {
      case IsNotNull(pa: AttributeReference) =>
        return ca.exists(_._1 == pa.name)
      case _ => ()
    }
    (ca, atom(p)) match {
      case (Some((cn, cop, cl)), Some((pn, pop, pl)))
          if cn == pn && cl.dataType == pl.dataType && pl.value != null =>
        val cmp = // sign of (query literal − MV literal)
          try org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(cl.dataType).compare(cl.value, pl.value)
          catch { case scala.util.control.NonFatal(_) => return false }
        (cop, pop) match {
          case ("=", "=")   => cmp == 0
          case ("=", ">")   => cmp > 0
          case ("=", ">=")  => cmp >= 0
          case ("=", "<")   => cmp < 0
          case ("=", "<=")  => cmp <= 0
          case (">", ">")   => cmp >= 0
          case (">", ">=")  => cmp >= 0
          case (">=", ">")  => cmp > 0
          case (">=", ">=") => cmp >= 0
          case ("<", "<")   => cmp <= 0
          case ("<", "<=")  => cmp <= 0
          case ("<=", "<")  => cmp < 0
          case ("<=", "<=") => cmp <= 0
          case _ => false
        }
      case _ => false
    }
  }
}
