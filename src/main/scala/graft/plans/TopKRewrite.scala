package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.TopKPerKeyPlan
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite the declarative group-wise top-k idiom
  *
  * {{{ Project(cols, Filter(rank <= k, Window(row_number() as rank
  *     over (partition by keys order by score [desc|asc], tie asc)))) }}}
  *
  * into the engine's bounded-heap [[TopKPerKeyPlan]] operator — the (c)
  * path of the build brief completed end to end: logical node + planner
  * strategy + physical operator + THIS rule, so a user who writes the
  * idiomatic window-rank formulation gets the O(n log k) heap operator
  * (partial + final pair, exchange carries ≤ k rows per key per input
  * partition) without knowing it exists. Spark's own InferWindowGroupLimit
  * already prunes rows BELOW the window for this pattern but still pays
  * the per-group sort inside WindowExec; the heap operator skips the
  * sort entirely.
  *
  * The rewrite only fires when it is provably semantics-preserving:
  *  - the Window computes EXACTLY ONE expression: a `row_number()` over
  *    a (UnboundedPreceding, CurrentRow) row frame;
  *  - the filter is a bare `rank <= lit` / `rank < lit` / `lit >= rank`
  *    / `lit > rank` on that attribute;
  *  - the Project above discards the rank attribute (the operator does
  *    not emit one) and references only child columns;
  *  - the ORDER BY is `score [desc|asc]` with a NON-NULLABLE integral
  *    ASCENDING tie-break as the last key (without a total order,
  *    row_number ties are engine-arbitrary; with one, the heap's
  *    keep-smallest-tie contract reproduces the window's row set
  *    exactly; null ties would sort first in the window but last in
  *    the heap);
  *  - the score is non-nullable and a no-NaN type (integral / decimal):
  *    the heap operator DROPS null/NaN scores, while row_number ranks
  *    them, so floating or nullable scores must keep the window path.
  *
  * Installed by [[TopKRewrite.install]], and from then on part of every
  * plan the session optimizes. Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite` switches
  * it off.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  private def noNaNNumeric(dt: DataType): Boolean = dt match {
    case _ if integral(dt) => true
    case _: DecimalType    => true
    case _                 => false
  }

  /** rank-bound filters: rank <= k, rank < k, k >= rank, k > rank. */
  private def rankLimit(cond: Expression, rank: Attribute): Option[Int] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType)   => Some(v)
      case _                            => None
    }
    cond match {
      case LessThanOrEqual(a: Attribute, l) if a.semanticEquals(rank) => lit(l)
      case LessThan(a: Attribute, l) if a.semanticEquals(rank)        => lit(l).map(_ - 1)
      case GreaterThanOrEqual(l, a: Attribute) if a.semanticEquals(rank) => lit(l)
      case GreaterThan(l, a: Attribute) if a.semanticEquals(rank)     => lit(l).map(_ - 1)
      case _ => None
    }
  }.filter(k => k >= 1 && k <= Int.MaxValue).map(_.toInt)

  private def isRowNumberOverRowFrame(e: Expression): Boolean = e match {
    case WindowExpression(RowNumber(),
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))) => true
    case _ => false
  }

  /** `rank()` over the same frame. rank == row_number exactly when the
    * ORDER BY is tie-free within every partition, so the rewrite may
    * treat a provably tie-free rank like row_number; with a possible
    * tie, `rank <= k` keeps MORE than k rows at the boundary and the
    * heap operator (exactly k) would drop rows.
    */
  private def isRankOverRowFrame(e: Expression): Boolean = e match {
    case WindowExpression(Rank(_),
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))) => true
    case _ => false
  }

  /** True when `plan`'s output rows are PROVABLY distinct on `cols`,
    * i.e. no two output rows agree on all of them — the tie-freeness
    * witness for the rank() rewrite (cols = partition keys + tie-break).
    * Conservative structural walk:
    *  - Aggregate: rows are unique on the grouping keys, hence on any
    *    superset; require every grouping expression to surface in the
    *    output as one of `cols` (a global aggregate is a single row —
    *    trivially distinct);
    *  - Project: map `cols` through pass-through attributes / direct
    *    aliases and recurse (any computed column breaks the proof);
    *  - Filter / WindowGroupLimit: row subsets preserve distinctness.
    * Anything else returns false — the rule then leaves rank() on the
    * window path, which is always sound.
    */
  private def provablyDistinctOn(plan: LogicalPlan, cols: AttributeSet): Boolean =
    plan match {
      case Filter(_, child) => provablyDistinctOn(child, cols)
      case WindowGroupLimit(_, _, _, _, child) => provablyDistinctOn(child, cols)
      case Project(pl, child) =>
        val mapped = cols.toSeq.map { a =>
          pl.collectFirst {
            case al @ Alias(ref: Attribute, _)
              if al.toAttribute.semanticEquals(a) => ref
            case ref: Attribute if ref.semanticEquals(a) => ref
          }
        }
        mapped.forall(_.isDefined) &&
          provablyDistinctOn(child, AttributeSet(mapped.flatten))
      case Aggregate(groupingExprs, aggExprs, _, _) =>
        groupingExprs.forall { g =>
          aggExprs.exists {
            case al @ Alias(ac, _) =>
              ac.semanticEquals(g) && cols.contains(al.toAttribute)
            case ref: Attribute => ref.semanticEquals(g) && cols.contains(ref)
            case _ => false
          }
        }
      case _ => false
    }

  /** Split `cond` into (tightest rank bound, residual conjuncts). The
    * split is sound when at least one conjunct is a rank bound and the
    * residual references only child columns (never the rank) and is
    * deterministic: the window ranks ALL rows, so
    * `Filter(rank<=k AND p)` == `Filter(p, TopK(k))` — p prunes the
    * already-selected top-k set either way, and AND's null semantics
    * survive sequential filtering (null conjunct -> row dropped in
    * both shapes).
    */
  private def splitRankFilter(cond: Expression, rank: Attribute)
      : Option[(Int, Seq[Expression])] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    val conjuncts = split(cond)
    val (bounds, residual) =
      conjuncts.partition(c => rankLimit(c, rank).isDefined)
    if (bounds.isEmpty) None
    else if (!residual.forall(r =>
        r.deterministic && !r.references.contains(rank))) None
    else Some((bounds.flatMap(rankLimit(_, rank)).min, residual))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case Project(projectList,
          Filter(cond,
            Window(Seq(alias @ Alias(we, _)), partitionSpec, orderSpec, wchild0, _)))
          if (isRowNumberOverRowFrame(we) ||
              (isRankOverRowFrame(we) && provablyDistinctOn(wchild0,
                AttributeSet(partitionSpec.flatMap(_.references) ++
                  orderSpec.last.child.references)))) &&
            // score [desc|asc] + integral ascending tie-break = total order
            orderSpec.length == 2 &&
            orderSpec.last.direction == Ascending &&
            orderSpec.last.child.isInstanceOf[Attribute] &&
            integral(orderSpec.last.child.dataType) &&
            // null ties sort FIRST in an ascending window order but the
            // heap treats them as Long.MaxValue (last) — require
            // non-nullable so the contract cannot diverge
            !orderSpec.last.child.nullable &&
            orderSpec.head.child.isInstanceOf[Attribute] &&
            noNaNNumeric(orderSpec.head.child.dataType) &&
            !orderSpec.head.child.nullable &&
            partitionSpec.forall(_.isInstanceOf[Attribute]) &&
            // the Project must DROP the rank (the operator emits none)
            projectList.forall(ne =>
              ne.references.subsetOf(AttributeSet(wchild0.output))) &&
            splitRankFilter(cond, alias.toAttribute).isDefined =>
        val (k, residual) = splitRankFilter(cond, alias.toAttribute).get
        // InferWindowGroupLimit may already have inserted its pre-filter
        // below the window; the heap operator subsumes it — unwrap
        val wchild = wchild0 match {
          case WindowGroupLimit(_, _, _, _, inner) => inner
          case other                               => other
        }
        val smallest = orderSpec.head.direction == Ascending
        val topk = TopKPerKeyPlan(partitionSpec, orderSpec.head.child, k,
          smallest, Some(orderSpec.last.child), 4 << 20, wchild)
        val filtered =
          if (residual.isEmpty) topk
          else Filter(residual.reduceLeft(And), topk)
        Project(projectList, filtered)
    }

  /** Install rule + strategy on a running session (idempotent). */
  def install(spark: SparkSession): Unit = {
    org.apache.spark.sql.graftbridge.TopKPerKey.install(spark)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cur = classic.experimental.extraOptimizations
    if (!cur.contains(TopKRewrite)) {
      classic.experimental.extraOptimizations = cur :+ TopKRewrite
    }
  }
}
