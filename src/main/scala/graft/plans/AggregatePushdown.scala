package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, Cast, Coalesce, EqualTo, Expression,
  Literal, NamedExpression
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count, Max, Min, Sum
}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, Join, LeafNode, LogicalPlan, Project
}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{
  ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType,
  LongType, ShortType
}

/**
 * Eager aggregation below a left-outer join (Yan & Larson, "Eager
 * Aggregation and Lazy Aggregation", VLDB 1995) — the reference's q13
 * shape (`benchmark/tpch/sf=1`, custdist):
 *
 * {{{
 *   SELECT c_custkey, count(o_orderkey) AS c_count
 *   FROM customer LEFT OUTER JOIN orders
 *     ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
 *   GROUP BY c_custkey
 * }}}
 *
 * Spark shuffles the FULL orders row stream into the join only for the
 * aggregate above it to collapse everything per customer. When every
 * aggregate function reads only right-side columns and the grouping reads
 * only left-side columns, the aggregation can run below the join instead:
 *
 *   - the right side becomes `Aggregate(r.k)(partials)` over the
 *     right-only join conjuncts (map-side partial combine shrinks the
 *     shuffle to one row per key, and the aggregated side is usually
 *     small enough for AQE to broadcast — removing the probe-side
 *     shuffle too);
 *   - the join keeps only the equality conjunct;
 *   - each outer aggregate recombines the carried partial.
 *
 * SOUNDNESS (unconditional — no key-uniqueness assumption on either
 * side). Fix an output group G (grouping reads only the left side) and a
 * left row ℓ in it with join key k matching m_ℓ right rows after the
 * right-only conjuncts (m_ℓ = 0 → one null-extended row). Per function:
 *
 *   - `count(r.x)`: original contributes Σ_ℓ c_k(x) where c_k is the
 *     per-key non-null count (0 when unmatched). Rewritten, ℓ carries
 *     `cnt = c_k` (null when unmatched) and the outer
 *     `sum(coalesce(cnt, 0))` restores exactly Σ_ℓ c_k. Groups are never
 *     empty, so the coalesced sum is never null — matching count's
 *     non-null contract.
 *   - `count(*)`: unmatched ℓ contributes its null-extended row, so the
 *     outer side is `sum(coalesce(cnt, 1))`.
 *   - `sum(r.x)`: per-key sum S_k carried; `cast(sum(S_k) AS <orig>)`
 *     re-adds one S_k per left duplicate — the same multiset total the
 *     raw join produced. Null-complete: S_k is null iff every matched x
 *     is null, exactly when those rows contribute nothing originally;
 *     an all-unmatched group yields null on both sides. Restricted to
 *     EXACT numeric types (integral/decimal) so the regrouped addition
 *     can never perturb a float result; the cast undoes sum's decimal
 *     widening so the output attribute keeps its analyzed type.
 *   - `min/max(r.x)`: min of per-key mins over the group's keys equals
 *     the min over the raw multiset; null-extended rows carry null,
 *     which min/max ignore — as they ignored the absence of rows.
 *
 * Right rows with a NULL join key collapse into the pre-aggregate's null
 * group, which the equality join never matches — exactly the rows the
 * original join never matched. Conjuncts referencing only the LEFT side
 * stay in the join condition (left rows failing them null-extend, before
 * and after). Any other conjunct shape (non-equi cross-side) refuses.
 *
 * Perf-targeted like the other late rules: registered in
 * [[graft.BenchSession.session]] (oracled there via `SPARK_GRAFT_TUNED=1`
 * Verify runs). Measured at sf10: tq13 4.9 s → see BASELINE.md A/B.
 */
object PushAggThroughOuterJoin extends Rule[LogicalPlan] {

  private def exactNumeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
    case _ => false
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groups, aggExprs, child, _) =>
      rewrite(groups, aggExprs, child).getOrElse(agg)
  }

  private def rewrite(groups: Seq[Expression], aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    // Optionally one attribute-only Project (column pruning) above the join.
    val (proj, join) = child match {
      case p @ Project(l, j: Join) if l.forall(_.isInstanceOf[AttributeReference]) =>
        (Some(p), j)
      case j: Join => (None, j)
      case _ => return None
    }
    if (join.joinType != LeftOuter) return None
    val conjuncts = join.condition.map(splitConjuncts).getOrElse(return None)

    // Exactly one cross-side equality; all other conjuncts single-sided.
    val (equis, rest) = conjuncts.partition {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (join.left.outputSet.contains(a) && join.right.outputSet.contains(b)) ||
          (join.left.outputSet.contains(b) && join.right.outputSet.contains(a))
      case _ => false
    }
    val (lk, rk) = equis match {
      case Seq(EqualTo(a: AttributeReference, b: AttributeReference)) =>
        if (join.left.outputSet.contains(a)) (a, b) else (b, a)
      case _ => return None
    }
    // Idempotence: the rule's own output (or an equivalent pre-grouped
    // input) has the right side already aggregated by the join key —
    // re-firing in the fixed-point batch would nest one aggregate per
    // iteration (and drop the count fallback on the way).
    join.right match {
      case Aggregate(Seq(g: AttributeReference), _, _, _) if g.exprId == rk.exprId =>
        return None
      case _ => ()
    }

    val (rightOnly, leftOnly) = rest.partition(_.references.subsetOf(join.right.outputSet))
    if (!leftOnly.forall(_.references.subsetOf(join.left.outputSet))) return None
    if (rest.exists(!_.deterministic)) return None

    // Grouping and non-aggregate output read only the left side; every
    // aggregate function reads only the right side.
    if (groups.exists(_.references.exists(join.right.outputSet.contains))) return None
    val aggFns = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggFns.isEmpty) return None
    val marker = AttributeReference("_graft_marker", LongType)()
    val nonAggRefs = aggExprs.flatMap(e =>
      e.transform { case _: AggregateExpression => marker }.references)
    if (nonAggRefs.exists(join.right.outputSet.contains)) return None

    // One carried partial per distinct supported aggregate; anything
    // unsupported refuses the whole rewrite.
    val partials = scala.collection.mutable.LinkedHashMap.empty[Expression, Alias]
    def partialFor(ae: AggregateExpression): Option[Alias] = {
      val supported = ae match {
        case AggregateExpression(fn, _, false, None, _) => fn match {
          case Count(Seq(x)) =>
            x.references.isEmpty || x.references.subsetOf(join.right.outputSet)
          case Sum(x, _) =>
            x.references.nonEmpty && x.references.subsetOf(join.right.outputSet) &&
              exactNumeric(x.dataType)
          case Min(x) => x.references.nonEmpty && x.references.subsetOf(join.right.outputSet)
          case Max(x) => x.references.nonEmpty && x.references.subsetOf(join.right.outputSet)
          case _ => false
        }
        case _ => false
      }
      if (!supported) None
      else Some(partials.getOrElseUpdate(ae.aggregateFunction.canonicalized, {
        Alias(AggregateExpression(ae.aggregateFunction, Complete, isDistinct = false),
          s"graft_push_${partials.size}")()
      }))
    }
    val byFn: Map[AggregateExpression, Alias] =
      aggFns.map(ae => ae -> (partialFor(ae).getOrElse(return None))).toMap

    // Pre-aggregate the right side under its own conjuncts, keyed on rk.
    val preChild = rightOnly match {
      case Seq() => join.right
      case cs => Filter(cs.reduce(And), join.right)
    }
    val preAgg = Aggregate(Seq(rk), Seq(rk) ++ partials.values.toSeq, preChild)
    val newCond = (Seq(EqualTo(lk, rk)) ++ leftOnly).reduce(And)
    val newJoin = Join(join.left, preAgg, LeftOuter, Some(newCond), join.hint)
    // The left-outer join null-extends the carried partials: reference
    // them as nullable above it (a stale non-nullable attribute would let
    // codegen skip the null check on an actually-null slot).
    val carried = partials.values.map(_.toAttribute.withNullability(true)).toSeq
    val newChild = proj match {
      case Some(p) =>
        val kept = p.projectList.collect {
          case x: AttributeReference if !join.right.outputSet.contains(x) => x
        }
        Project((kept ++ carried).distinct, newJoin)
      case None => newJoin
    }

    // Recombine each aggregate over its carried partial.
    // Guard on byFn membership: the replacement itself contains a fresh
    // AggregateExpression (inside Coalesce) which transform re-visits.
    val newAggExprs = aggExprs.map(_.transform {
      case ae: AggregateExpression if byFn.contains(ae) =>
        val c = byFn(ae).toAttribute.withNullability(true)
        ae.aggregateFunction match {
          case Count(Seq(x)) =>
            // Inner Coalesce: a null-extended slot means "left row with no
            // match" — counts 1 for count(*), 0 for count(col). Outer
            // Coalesce: a GLOBAL aggregate over an empty preserved side
            // sums zero rows to NULL where count's contract is 0 (it also
            // restores count's non-nullable long output type).
            val fallback = Literal(if (x.references.isEmpty) 1L else 0L)
            Coalesce(Seq(
              AggregateExpression(Sum(Coalesce(Seq(c, fallback))), ae.mode,
                isDistinct = false),
              Literal(0L)))
          case s: Sum =>
            val resummed = AggregateExpression(s.copy(child = c), ae.mode, isDistinct = false)
            if (resummed.dataType == ae.dataType) resummed else Cast(resummed, ae.dataType)
          case _: Min => AggregateExpression(Min(c), ae.mode, isDistinct = false)
          case _: Max => AggregateExpression(Max(c), ae.mode, isDistinct = false)
        }
    }.asInstanceOf[NamedExpression])
    Some(Aggregate(groups, newAggExprs, newChild))
  }
}

/**
 * Eager aggregation below an INNER join (Yan & Larson, VLDB 1995 —
 * generalizing [[PushAggThroughOuterJoin]] to the q3/q10 star shapes the
 * reference executes as scan→hash-join→hash-agg pipelines,
 * `benchmark/tpch/sf=1`):
 *
 * {{{
 *   SELECT l_orderkey, o_orderdate, sum(l_extendedprice * (1 - l_discount))
 *   FROM customer JOIN orders ON ... JOIN lineitem ON l_orderkey = o_orderkey
 *   GROUP BY l_orderkey, o_orderdate
 * }}}
 *
 * Spark shuffles every surviving fact row into the join only for the
 * aggregate above to collapse them. When every aggregate function reads
 * only the FACT side and every grouping expression is either a bare
 * fact-side attribute or reads only the other side, the fact side can be
 * pre-aggregated below the join, keyed on its join keys plus its grouping
 * attributes: map-side partial combine shrinks the shuffle to one row per
 * key group, and the join probes pre-collapsed rows.
 *
 * SOUNDNESS. Fix an output group G. Under the rewrite each dim row d in G
 * joins exactly one pre-aggregate row per matching key k (inner join, the
 * pre-aggregate is keyed on ALL fact attributes the query can observe), in
 * place of the m_k raw fact rows the original join produced. Per function:
 *
 *   - `count(*)`: original contributes Σ_d m_{k(d)}; rewritten, d carries
 *     `cnt_k = m_k` and the outer `sum(cnt)` restores the same total.
 *     `count(fact.x)` identically with the per-key non-null count.
 *   - `sum(fact.x)`: per-key sum S_k carried; the outer sum re-adds one
 *     S_k per dim duplicate of k — the same multiset total. S_k is null
 *     iff every matched x was null, exactly when those rows contributed
 *     nothing originally.
 *   - `min/max(fact.x)`: min over per-key mins = min over the raw
 *     multiset (inner join: no null-extension to consider).
 *
 * Fact rows with NULL join keys collapse into the pre-aggregate's null
 * group, which the equality join never matches — exactly the rows the
 * original join never matched. Fact-only join conjuncts move below the
 * pre-aggregate (inner join: filter placement is free); dim-only
 * conjuncts stay in the join; any cross-side non-equality refuses.
 *
 * FLOATING-POINT sums (q3/q5/q10 revenue is DOUBLE) are admitted here,
 * unlike the outer-join rule — declared loudly: the rewrite regroups a
 * float addition, which can move low-order bits. Spark's OWN partial
 * aggregation already sums floats in arbitrary per-partition order (any
 * shuffle repartition reassociates the same addition), so this rule
 * changes WHERE that nondeterminism happens, not whether it exists; a
 * query that needs bit-stable float sums is wrong before this rule
 * touches it (the fixture oracles project through round(_, 2), and the
 * exact-revenue queries compute in DECIMAL, which the rewrite re-adds
 * losslessly).
 *
 * BENEFIT GATE (scale-invariant, mirrors InjectLateBlooms' relative
 * carrier gate): fire only when the fact side's largest leaf is at least
 * `LeafFactor` (2) times the dim side's largest leaf. Pre-aggregating the
 * SMALL side of a join (tq12's shape: orders aggregated against a
 * filtered lineitem probe) adds a hash-agg pass over rows whose shuffle
 * was never the dominant cost — and with a unique key it reduces nothing;
 * the relative gate refuses exactly those.
 * Registered in [[graft.BenchSession.lateRules]] (oracled by the
 * SPARK_GRAFT_TUNED Verify mode and the TunedParitySpec random-shape
 * net).
 */
object PushAggThroughInnerJoin extends Rule[LogicalPlan] {

  /** Minimum fact-leaf / dim-leaf size ratio (see BENEFIT GATE). */
  private val LeafFactor = 2L

  /** Largest leaf an extra fact grouping attribute may be read from. */
  private val GroupLeafMaxBytes = 64L << 10

  private def refuse(why: => String): None.type = {
    logDebug(s"refuse: $why")
    None
  }

  private def summable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType |
         FloatType | DoubleType => true
    case _ => false
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def maxLeafSize(p: LogicalPlan): Option[BigInt] = {
    val sizes = p.collect { case l: LeafNode => l.stats.sizeInBytes }
    val unknown = BigInt(SQLConf.get.defaultSizeInBytes)
    // Unknown-size sentinels (un-substituted DSv2 wrappers) make the
    // relative gate meaningless — report None and let the caller refuse;
    // the fixed-point batch re-runs after substitution with real sizes.
    if (sizes.isEmpty || sizes.exists(_ >= unknown)) None else Some(sizes.max)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groups, aggExprs, child, _) =>
      rewrite(groups, aggExprs, child).getOrElse(agg)
  }

  private def rewrite(groups: Seq[Expression], aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (proj, join) = child match {
      case p @ Project(l, j: Join) if l.forall(_.isInstanceOf[AttributeReference]) =>
        (Some(p), j)
      case j: Join => (None, j)
      case _ => return refuse("child not [Project over] Join")
    }
    if (join.joinType != Inner) return refuse(s"joinType ${join.joinType}")
    val conjuncts = join.condition.map(splitConjuncts).getOrElse(return refuse("no condition"))
    if (conjuncts.exists(!_.deterministic)) return refuse("nondeterministic conjunct")

    // Cross-side equality conjuncts become the key pairs; every other
    // conjunct must be single-sided.
    val sides = Seq(join.left, join.right)
    def sideOf(a: AttributeReference): Option[Int] =
      sides.indexWhere(_.outputSet.contains(a)) match { case -1 => None; case i => Some(i) }
    val (equis, rest) = conjuncts.partition {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (for (sa <- sideOf(a); sb <- sideOf(b)) yield sa != sb).getOrElse(false)
      case _ => false
    }
    if (equis.isEmpty) return refuse("no cross-side equality")

    // The fact side is the one every aggregate function reads.
    val aggFns = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggFns.isEmpty) return refuse("no aggregate functions")
    val aggRefs = aggFns.flatMap(_.references)
    val factIdx =
      if (aggRefs.isEmpty) return refuse("pure count(*)") // no side to prefer
      else if (aggRefs.forall(join.left.outputSet.contains)) 0
      else if (aggRefs.forall(join.right.outputSet.contains)) 1
      else return refuse("aggregates read both sides")
    val (fact, dim) = (sides(factIdx), sides(1 - factIdx))

    // Relative benefit gate (see scaladoc).
    (maxLeafSize(fact), maxLeafSize(dim)) match {
      case (Some(f), Some(d)) => if (f < d * LeafFactor) return refuse(s"leaf gate $f < $d*$LeafFactor")
      case other => return refuse(s"leaf sizes unknown $other")
    }
    // Broadcast gate: when the dim side fits under the PLAN-TIME broadcast
    // threshold (the same stats-vs-threshold test JoinSelection applies),
    // the join has no exchange for the pre-aggregate to shrink — the
    // fact-side partial already collapses map-side ABOVE a broadcast join,
    // so firing only adds a hash-agg pass plus its exchange below it.
    // Measured on q5/sf10 (supplier broadcast): identical 236 MB shuffle
    // volume on/off, +0.8 s wall on. At sf100 supplier (17 MB parquet)
    // crosses the 16m threshold, the join shuffles, and the rewrite is
    // admitted again — the gate is scale-adaptive by construction.
    val bc = SQLConf.get.getConf(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD)
    if (bc >= 0 && dim.stats.sizeInBytes <= BigInt(bc))
      return refuse(s"dim broadcastable (${dim.stats.sizeInBytes} B <= $bc)")

    val factKeys = equis.map { case EqualTo(a: AttributeReference, b: AttributeReference) =>
      if (sideOf(a).contains(factIdx)) a else b
    }
    val (factOnly, dimOnly) = rest.partition(_.references.subsetOf(fact.outputSet))
    if (!dimOnly.forall(_.references.subsetOf(dim.outputSet))) return refuse("cross-side non-equi conjunct")

    // Grouping: bare fact attributes join the pre-aggregate keys;
    // anything else must read only the dim side.
    val factGroupAttrs = scala.collection.mutable.LinkedHashMap.empty[Long, AttributeReference]
    groups.foreach {
      case a: AttributeReference if fact.outputSet.contains(a) =>
        factGroupAttrs.getOrElseUpdate(a.exprId.id, a)
      case g if g.references.subsetOf(dim.outputSet) => ()
      case g => return refuse(s"grouping expr not pushable: $g")
    }
    // Grouping attrs beyond the join keys multiply the pre-aggregate's
    // key space (join-key NDV x extra-attr NDV) and the reduction
    // evaporates — measured at sf10: tq10's 7-attr key (c_custkey + 5
    // dependents + c_nationkey) INCREASED shuffle volume 14%, while q3's
    // grouping key == join key halved it. An extra grouping attr is
    // admitted only when its NDV is provably bounded: it is read straight
    // off a leaf in the fact subtree whose TOTAL size is tiny (NDV ≤ leaf
    // row count), e.g. q5's n_name sourced from the 25-row nation table —
    // key space grows ≤ 25x while the fact collapses by its key
    // multiplicity. Anything sourced from a big leaf (tq10's customer
    // attrs) still refuses.
    val extraGroups = factGroupAttrs.values.toSeq
      .filterNot(g => factKeys.exists(_.exprId == g.exprId))
    if (extraGroups.nonEmpty) {
      if (extraGroups.length > 2)
        return refuse(s"${extraGroups.length} extra grouping attrs (NDV product unbounded)")
      val factLeaves = fact.collect { case l: LeafNode => l }
      extraGroups.foreach { g =>
        val src = factLeaves.find(_.outputSet.exists(_.exprId == g.exprId))
        src match {
          case Some(l) if l.stats.sizeInBytes <= GroupLeafMaxBytes => ()
          case Some(l) =>
            return refuse(s"extra grouping attr $g from big leaf (${l.stats.sizeInBytes} B)")
          case None =>
            return refuse(s"extra grouping attr $g not a leaf column")
        }
      }
    }
    val preKeys = (factKeys ++ extraGroups).foldLeft(
      scala.collection.mutable.LinkedHashMap.empty[Long, AttributeReference]) {
      (m, a) => m.getOrElseUpdate(a.exprId.id, a); m
    }.values.toSeq

    // Idempotence: the rule's own output has the fact side pre-aggregated
    // on exactly these keys; re-firing would nest one aggregate per
    // fixed-point iteration.
    fact match {
      case Aggregate(gs, _, _, _)
          if gs.forall(_.isInstanceOf[AttributeReference]) &&
            gs.map(_.asInstanceOf[AttributeReference].exprId.id).toSet ==
              preKeys.map(_.exprId.id).toSet => return None
      case _ => ()
    }

    // Non-aggregate output may reference the fact side only through the
    // carried grouping attributes.
    val marker = AttributeReference("_graft_marker", LongType)()
    val nonAggRefs = aggExprs.flatMap(e =>
      e.transform { case _: AggregateExpression => marker }.references)
      .filterNot(_.exprId == marker.exprId)
    val carriedOk = dim.outputSet ++ preKeys
    if (nonAggRefs.exists(r => !carriedOk.exists(_.exprId == r.exprId)))
      return refuse("non-agg output reads uncarried fact column: " +
        nonAggRefs.filter(r => !carriedOk.exists(_.exprId == r.exprId)).mkString(","))

    // One carried partial per distinct supported aggregate.
    val partials = scala.collection.mutable.LinkedHashMap.empty[Expression, Alias]
    def partialFor(ae: AggregateExpression): Option[Alias] = {
      val supported = ae match {
        case AggregateExpression(fn, _, false, None, _) => fn match {
          case Count(xs) =>
            xs.forall(x => x.references.isEmpty || x.references.subsetOf(fact.outputSet))
          case Sum(x, _) =>
            x.references.nonEmpty && x.references.subsetOf(fact.outputSet) &&
              summable(x.dataType)
          case Min(x) => x.references.nonEmpty && x.references.subsetOf(fact.outputSet)
          case Max(x) => x.references.nonEmpty && x.references.subsetOf(fact.outputSet)
          case _ => false
        }
        case _ => false
      }
      if (!supported) None
      else Some(partials.getOrElseUpdate(ae.aggregateFunction.canonicalized, {
        Alias(AggregateExpression(ae.aggregateFunction, Complete, isDistinct = false),
          s"graft_eager_${partials.size}")()
      }))
    }
    val byFn: Map[AggregateExpression, Alias] =
      aggFns.map(ae => ae -> (partialFor(ae).getOrElse(return refuse(s"unsupported aggregate $ae")))).toMap

    val preChild = factOnly match {
      case Seq() => fact
      case cs => Filter(cs.reduce(And), fact)
    }
    val preAgg = Aggregate(preKeys, preKeys ++ partials.values.toSeq, preChild)
    val newCondParts = equis ++ dimOnly
    val newJoin =
      if (factIdx == 0) Join(preAgg, dim, Inner, Some(newCondParts.reduce(And)), join.hint)
      else Join(dim, preAgg, Inner, Some(newCondParts.reduce(And)), join.hint)
    val carried = partials.values.map(_.toAttribute).toSeq
    val newChild = proj match {
      case Some(p) =>
        val kept = p.projectList.collect {
          case x: AttributeReference
              if !fact.outputSet.contains(x) || preKeys.exists(_.exprId == x.exprId) => x
        }
        Project((kept ++ carried).distinct, newJoin)
      case None => newJoin
    }

    // Guard on byFn membership: the replacement itself contains a fresh
    // AggregateExpression (inside Coalesce) which transform re-visits.
    val newAggExprs = aggExprs.map(_.transform {
      case ae: AggregateExpression if byFn.contains(ae) =>
        val c = byFn(ae).toAttribute
        ae.aggregateFunction match {
          case _: Count =>
            // Inner join: every joined row carries a genuine per-key count
            // (never a null-extended slot), so a plain re-sum suffices per
            // group. The OUTER Coalesce covers the one case a group can be
            // empty — a GLOBAL aggregate over a join that produced zero
            // rows, where sum yields NULL but count's contract is 0 — and
            // restores count's non-nullable long output type.
            Coalesce(Seq(
              AggregateExpression(Sum(c), ae.mode, isDistinct = false),
              Literal(0L)))
          case s: Sum =>
            val resummed = AggregateExpression(s.copy(child = c), ae.mode, isDistinct = false)
            if (resummed.dataType == ae.dataType) resummed else Cast(resummed, ae.dataType)
          case _: Min => AggregateExpression(Min(c), ae.mode, isDistinct = false)
          case _: Max => AggregateExpression(Max(c), ae.mode, isDistinct = false)
        }
    }.asInstanceOf[NamedExpression])
    Some(Aggregate(groups, newAggExprs, newChild))
  }
}
