package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, Cast, EqualTo, Expression, IsNotNull,
  NamedExpression
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Sum
}
import org.apache.spark.sql.types.{
  ByteType, DataType, DecimalType, IntegerType, LongType, ShortType
}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, Join, LeafNode, LogicalPlan, Project
}
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Aggregate reuse across an IN-over-HAVING subquery and its outer
 * re-aggregation — the reference's q18 shape
 * (`benchmark/tpch/sf=1/q18`):
 *
 * {{{
 *   SELECT ..., sum(l_quantity)
 *   FROM customer, orders, lineitem
 *   WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
 *                        GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
 *     AND ... AND o_orderkey = l_orderkey
 *   GROUP BY ..., o_orderkey, ...
 * }}}
 *
 * The subquery aggregates the ENTIRE fact by the join key, and the outer
 * query then scans and joins the same fact again only to recompute the
 * same per-key sum. When (a) the outer aggregation's group set contains
 * the probe-side join key, (b) its aggregate functions are sums of fact
 * columns the subquery also sums (same leaf relation, same column
 * ordinals), and (c) both fact subtrees are unfiltered scans (key
 * IsNotNull only), the second scan+join is redundant:
 *
 *   - the semi join becomes an INNER join against the HAVING-filtered
 *     aggregate (sound unconditionally: the build's group-by key is
 *     unique by construction, so inner ≡ semi plus the carried columns);
 *   - the outer join to the fact is dropped, and each outer `sum(x)`
 *     becomes `cast(sum(s) AS <original type>)` over the carried
 *     subquery sum (the cast undoes Spark's sum-of-decimal widening);
 *   - everything else (grouping, HAVING, ORDER BY/LIMIT above) is
 *     untouched.
 *
 * SOUNDNESS (no uniqueness assumption). The outer grouping pins the
 * probe key, so a group with `n` probe rows sharing key `k` originally
 * joins each of them to ALL fact rows with key `k`: its `sum(x)` is
 * `n * S_k` where `S_k` is the per-key fact sum. After the rewrite the
 * same group has exactly `n` rows (the build's group-by key is unique,
 * so the inner join matches each probe row once), each carrying `S_k`,
 * and `sum(carried)` is again `n * S_k` — exact for ANY probe-key
 * multiplicity, nulls included (`S_k` is null iff every `x` under `k`
 * is null, exactly when the original group sum is null). An earlier
 * revision used `min(carried)`, exact only for unique probe keys; `sum`
 * removes that assumption at the price of a result-type cast, which is
 * why the rewrite is restricted to EXACT numeric sums (integral /
 * decimal — the cast back is value-preserving and both sides null out
 * on overflow under LEGACY eval; float/double sums are refused so the
 * rewrite can never change FP association). The rule remains
 * perf-targeted (registered in [[graft.BenchSession.session]], verified
 * against the DuckDB oracle via `SPARK_GRAFT_TUNED=1` Verify runs).
 *
 * Measured at sf10 (shared JVM, alternating): original 25.2/24.7 s,
 * rewritten 14.9/15.2 s, identical rows — a 40% cut on the suite's
 * largest absolute entry (isolated r10 artifact: 36.8 s, 4.3x the DuckDB
 * proxy).
 *
 * Runs from `experimental.extraOptimizations` because the semi join only
 * exists after the final RewriteSubquery batch; ordered BEFORE
 * [[InjectLateBlooms]] so fact subtrees are still bloom-free when their
 * row-set equality is checked.
 */
object ReuseSemiAggregate extends Rule[LogicalPlan] {

  /** Integral or decimal: sums are exact and the widening cast back is
    * value-preserving, so the rewrite can never perturb a result the way
    * reassociated float/double addition could. */
  private def exactNumeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
    case _ => false
  }

  /** Projects and key-IsNotNull Filters over exactly one leaf; returns the
    * leaf. The key-nullability filter does not change any non-null key
    * group's row set, which is all the equality argument needs. */
  private def bareFact(p: LogicalPlan, keyId: Long): Option[LeafNode] = p match {
    case Project(l, child) if l.forall(_.isInstanceOf[AttributeReference]) =>
      bareFact(child, keyId)
    case Filter(cond, child) =>
      val ok = splitConjuncts(cond).forall {
        case IsNotNull(a: AttributeReference) => a.exprId.id == keyId
        case _ => false
      }
      if (ok) bareFact(child, keyId) else None
    case l: LeafNode => Some(l)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Ordinal of an attribute in its leaf's output — the cross-scan column
    * identity (two scans of the same file have distinct exprIds). */
  private def ordinalIn(leaf: LeafNode, a: Attribute): Option[Int] = {
    val i = leaf.output.indexWhere(_.exprId == a.exprId)
    if (i >= 0) Some(i) else None
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groups, aggExprs, aggChild, _) =>
      rewrite(agg, groups, aggExprs, aggChild).getOrElse(agg)
  }

  /** Two-sided EqualTo normalization. */
  private def sidesOf(cond: Option[Expression], l: LogicalPlan, r: LogicalPlan)
      : Option[(AttributeReference, AttributeReference)] = cond match {
    case Some(EqualTo(a: AttributeReference, b: AttributeReference)) =>
      if (l.outputSet.contains(a) && r.outputSet.contains(b)) Some((a, b))
      else if (l.outputSet.contains(b) && r.outputSet.contains(a)) Some((b, a))
      else None
    case _ => None
  }

  private def rewrite(
      agg: Aggregate, groups: Seq[Expression], aggExprs: Seq[NamedExpression],
      aggChild: LogicalPlan): Option[LogicalPlan] = {
    // Observed post-RewriteSubquery shape (constraint propagation clones
    // the IN onto BOTH join inputs, each becoming a semi):
    //   Aggregate [Project] Join(Inner, P, F, pk = fk)
    //     P: ... Join(LeftSemi, X, B, ok = bk) ...   with ok ≡ pk
    //     F: [Projects/IsNotNull] (Join(LeftSemi, core, B', fk = bk'))? core
    // where B/B' are the same HAVING-filtered aggregate of the same fact
    // source. F's own semi is pass-through for every group the probe semi
    // keeps, so dropping F drops it too.
    val (proj, join) = aggChild match {
      case p @ Project(l, j @ Join(_, _, Inner, _, _))
          if l.forall(_.isInstanceOf[AttributeReference]) => (Some(p), j)
      case j @ Join(_, _, Inner, _, _) => (None, j)
      case _ => return None
    }
    sidesOf(join.condition, join.left, join.right).flatMap { case (a, b) =>
      tryOrientation(groups, aggExprs, proj, join.left, join.right, a, b)
        .orElse(tryOrientation(groups, aggExprs, proj, join.right, join.left, b, a))
    }
  }

  private def tryOrientation(
      groups: Seq[Expression], aggExprs: Seq[NamedExpression],
      proj: Option[Project], probe: LogicalPlan, fact: LogicalPlan,
      pk: AttributeReference, fk: AttributeReference): Option[LogicalPlan] = {
    // The outer grouping must PIN the probe key: otherwise a group spans
    // several keys and min(one key's sum) is not the group total.
    if (!groups.exists {
      case g: AttributeReference => g.exprId == pk.exprId
      case _ => false
    }) return None

    // 1. Locate the probe's semi join on the SAME attribute.
    def findSemi(p: LogicalPlan): Option[(Join, LogicalPlan, AttributeReference)] =
      p match {
        case sj @ Join(o, b, LeftSemi, cond, _) =>
          sidesOf(cond, o, b).collect {
            case (ok, bk) if ok.exprId == pk.exprId => (sj, b, bk)
          }
        case Project(_, child) => findSemi(child)
        case Join(l, r, Inner, _, _) => findSemi(l).orElse(findSemi(r))
        case _ => None
      }
    val (semi, build, bk) = findSemi(probe).getOrElse(return None)

    // 2. Fact side: bare scan, modulo one redundant semi against the same
    // build keyed on the fact key.
    def factCore(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Project(l, child) if l.forall(_.isInstanceOf[AttributeReference]) =>
        factCore(child)
      case Filter(cond, child) =>
        val ok = splitConjuncts(cond).forall {
          case IsNotNull(x: AttributeReference) => x.exprId == fk.exprId
          case _ => false
        }
        if (ok) factCore(child) else None
      case Join(core, b2, LeftSemi, cond, _)
          if b2.canonicalized == build.canonicalized &&
            sidesOf(cond, core, b2).exists(_._1.exprId == fk.exprId) =>
        factCore(core)
      case l: LeafNode => Some(l)
      case _ => None
    }
    val factLeaf = factCore(fact).collect { case l: LeafNode => l }
      .getOrElse(return None)
    val fkOrd = ordinalIn(factLeaf, fk).getOrElse(return None)

    // 3. Outer aggregates: every AggregateExpression must be a plain
    // sum(fact column) of an EXACT numeric type (see soundness note);
    // nothing else may reference the fact side.
    val sums = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    val sumCols = sums.map {
      case AggregateExpression(Sum(x: AttributeReference, _), _, false, None, _)
          if fact.outputSet.contains(x) && exactNumeric(x.dataType) => x
      case _ => return None
    }
    val nonAggRefs = aggExprs.flatMap(e =>
      e.transform { case _: AggregateExpression => Alias(pk, "_g")() }.references)
    if (nonAggRefs.exists(fact.outputSet.contains)) return None
    if (groups.exists(_.references.exists(fact.outputSet.contains))) return None

    // 4. Rewrite the build to carry the sums, swap the probe's semi for an
    // inner join against it, drop the fact join entirely.
    buildSide(build, bk, fkOrd, factLeaf, sumCols).map { case (newBuild, sumByOrd) =>
      val sumAttrs = sumByOrd.values.toSeq.distinct
      def patch(p: LogicalPlan): LogicalPlan = p match {
        case sj: Join if sj eq semi =>
          Join(sj.left, newBuild, Inner, sj.condition, sj.hint)
        case pr @ Project(list, child) if findSemi(pr).isDefined =>
          Project(list ++ sumAttrs, patch(child))
        case j @ Join(l, r, Inner, _, _) if findSemi(l).isDefined =>
          j.copy(left = patch(l))
        case j @ Join(l, r, Inner, _, _) if findSemi(r).isDefined =>
          j.copy(right = patch(r))
        case other => other
      }
      val newProbe = patch(probe)
      def substAttr(x: Attribute): Attribute =
        ordinalIn(factLeaf, x).flatMap(sumByOrd.get).getOrElse(x)
      val newChild = proj match {
        case Some(p) =>
          val kept = p.projectList.collect {
            case x: AttributeReference if !fact.outputSet.contains(x) => x
          }
          Project((kept ++ sumAttrs).distinct, newProbe)
        case None => newProbe
      }
      // sum(x) -> cast(sum(s), original type): each probe row in the
      // group carries the per-key fact sum once, so re-summing yields the
      // original n-duplicates-times-S_k total exactly (scaladoc proof);
      // the cast undoes sum's decimal widening so the aggregate output
      // attribute keeps its analyzed type for every parent operator.
      val newAggExprs = aggExprs.map(_.transform {
        case ae @ AggregateExpression(s @ Sum(x: AttributeReference, _), mode, false, None, _)
            if fact.outputSet.contains(x) =>
          val resummed =
            AggregateExpression(s.copy(child = substAttr(x)), mode, isDistinct = false)
          if (resummed.dataType == ae.dataType) resummed
          else Cast(resummed, ae.dataType)
      }.asInstanceOf[NamedExpression])
      Aggregate(groups, newAggExprs, newChild)
    }
  }

  /** The semi build must be [Projects] Filter(having) Aggregate(gb) over
    * the same fact source. Returns the build rewritten to carry one sum
    * attribute per needed fact-column ordinal (reusing aliases the inner
    * aggregate already computes; appending new ones otherwise). */
  private def buildSide(
      b: LogicalPlan, bk: AttributeReference, fkOrd: Int, factLeaf: LeafNode,
      sumCols: Seq[AttributeReference]): Option[(LogicalPlan, Map[Int, Attribute])] = {
    // Unwrap attribute-only Projects above the filter.
    val filtered = b match {
      case Project(l, f: Filter) if l.forall(_.isInstanceOf[AttributeReference]) => f
      case f: Filter => f
      case _ => return None
    }
    val inner = filtered.child match {
      case a: Aggregate => a
      case _ => return None
    }
    val gb = inner.groupingExpressions match {
      case Seq(g: AttributeReference) => g
      case _ => return None
    }
    if (!inner.aggregateExpressions.exists(_.exprId == bk.exprId)) return None
    val innerLeaf = bareFact(inner.child, gb.exprId.id).getOrElse(return None)
    if (innerLeaf.canonicalized != factLeaf.canonicalized) return None
    if (!ordinalIn(innerLeaf, gb).contains(fkOrd)) return None
    // For every outer sum column, find or add the inner sum of the
    // same-ordinal column.
    val neededOrds = sumCols.flatMap(ordinalIn(factLeaf, _))
    if (neededOrds.size != sumCols.size) return None
    var added = Vector.empty[NamedExpression]
    val byOrd = neededOrds.distinct.map { ord =>
      val existing = inner.aggregateExpressions.collectFirst {
        case al @ Alias(AggregateExpression(Sum(y: AttributeReference, _), _, false, None, _), _)
            if ordinalIn(innerLeaf, y).contains(ord) => al.toAttribute
      }
      val attr = existing.getOrElse {
        val y = innerLeaf.output(ord)
        val al = Alias(
          AggregateExpression(Sum(y), org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
            isDistinct = false), s"graft_reuse_sum_$ord")()
        added :+= al
        al.toAttribute
      }
      ord -> attr
    }.toMap
    val innerExtended =
      if (added.isEmpty) inner
      else inner.copy(aggregateExpressions = inner.aggregateExpressions ++ added)
    val newBuild = Project(Seq(bk) ++ byOrd.values.toSeq.distinct,
      Filter(filtered.condition, innerExtended))
    Some((newBuild, byOrd))
  }
}
