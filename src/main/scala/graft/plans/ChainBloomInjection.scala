package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, BloomFilterMightContain, EqualTo,
  Expression, IsNotNull, Literal, ScalarSubquery, XxHash64
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, BloomFilterAggregate, Complete
}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, Join, LeafNode, LogicalPlan, Project
}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/**
 * Runtime bloom injection beyond Spark's own `InjectRuntimeFilter` — the
 * engine's sideways-information-passing layer (the reference pushes
 * build-side join filters into probe scans unconditionally; Trino calls
 * this dynamic filtering).
 *
 * Spark's rule has two structural blind spots this pair of rules covers:
 *
 *  1. JOIN-SHAPED creation sides ([[InjectChainBlooms]]): the creation gate
 *     is `stats.sizeInBytes < creationSideThreshold`, and the stats-only
 *     size visitor MULTIPLIES child sizes at every join — a star chain like
 *     q5's `customer ⋈ nation ⋈ region(ASIA)` is estimated at petabytes and
 *     rejected even though its OUTPUT is a fifth of customer. The result at
 *     sf30: a 180M-row lineitem scan shuffles 4-6GB into a join whose other
 *     side was already reduced 80-95% by dimension filters.
 *  2. ABSOLUTE-threshold creation gating ([[InjectLateBlooms]]): scan
 *     estimates grow linearly with data while `creationSideThreshold` is a
 *     constant, so the same orders-side bloom that Spark injects at sf10
 *     (tq4 14.3→4.7s, tq10 10.3→5.5s) is silently rejected at sf30 — r10
 *     papered over this by scaling the conf from the benchmarked file size,
 *     an env-var hack a real deployment does not have. The engine-side
 *     replacement is a RELATIVE gate: the creation key's carrier LEAF must
 *     be ≤ fact-leaf / 2 (`CarrierFactor`). The leaf that CARRIES the key
 *     bounds the bloom's distinct-item count (joins only ever remove its
 *     keys), and leaf-to-leaf ratios are SF-invariant — orders:lineitem
 *     is ~1:6 at every scale, which admits every measured win while
 *     rejecting the fact-keyed creations a measured sf10 A/B put at
 *     +27..59% cost (BASELINE.md round-10 table).
 *
 * Injection wraps the fact side in
 *   `Filter(might_contain(scalar-subquery(bloom_agg(xxhash64(chainKey))
 *     over chain), xxhash64(factKey)), fact)`.
 * The subquery's plan is the creation side VERBATIM, so under AQE its
 * shuffle stages canonicalize identically to the main plan's and the stage
 * cache executes them once — the marginal cost is the bloom aggregate over
 * the creation side's (already reduced) output.
 *
 * Both rules are inert outside tuned sessions: with Spark's default
 * `applicationSideScanSizeThreshold` (10GB) nothing qualifies, so Verify /
 * driver correctness runs plan exactly as stock Spark.
 */
private[plans] abstract class BloomInjectionRule extends Rule[LogicalPlan] {

  /** Late instance: runs post-`RewriteSubquery`/post-`InjectRuntimeFilter`
    * (registered via `experimental.extraOptimizations`, the one optimizer
    * position after both), so it sees semi/anti joins and every bloom
    * Spark's own rule injected — it only ever ADDS a bloom Spark declined. */
  protected def late: Boolean

  /** The carrier leaf may be at most 1 / CarrierFactor of the fact leaf. */
  private val CarrierFactor = 2L

  private def enabled: Boolean = SQLConf.get.runtimeFilterBloomFilterEnabled

  private def bytesConf(key: String, default: Long): Long =
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      SQLConf.get.getConfString(key, default.toString + "b"))
    catch { case _: Exception => default }

  private def broadcastable(p: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    val thr = math.max(
      conf.autoBroadcastJoinThreshold,
      conf.getConf(SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD).getOrElse(-1L))
    thr > 0 && p.stats.sizeInBytes <= BigInt(thr)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Conjuncts that carry no selectivity evidence. */
  private def boilerplate(c: Expression): Boolean =
    c.isInstanceOf[IsNotNull] || c.isInstanceOf[BloomFilterMightContain]

  /** Fact shape: Projects and Filters over ONE leaf. The operator-batch
    * instance admits boilerplate-only Filters (a data-filtered fact is
    * left to Spark's own rule at that stage); the late instance admits data
    * filters too — a filtered fact that is still scan-threshold big
    * benefits identically, and Spark's rule applies blooms to filtered
    * scans as well. */
  private def factShape(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => factShape(child)
    case Filter(cond, child) =>
      (late || splitConjuncts(cond).forall(boilerplate)) && factShape(child)
    case _: LeafNode => true
    case _ => false
  }

  /** A literal-bearing data predicate somewhere in the creation side — the
    * same selectivity evidence Spark's own injection requires. */
  private def hasSelectiveFilter(p: LogicalPlan): Boolean =
    p.exists {
      case Filter(cond, _) => splitConjuncts(cond).exists(c =>
        !c.isInstanceOf[IsNotNull] && c.exists(_.isInstanceOf[Literal]))
      case _ => false
    }

  /** The leaf relation whose output carries the attribute, following
    * attribute RENAMES down aliasing Projects: the DSv2 substitution
    * ([[graft.sources.GraftScanStatistics]]) grafts the assembled read
    * under a `Project(inner AS outer)` layer, so the outer key's exprId
    * does not exist below it — without the rename hop no bloom ever fired
    * on a substituted scan (caught as the dsv2-route tq4 regression). */
  @annotation.tailrec
  private def carrierLeaf(p: LogicalPlan, a: AttributeReference): Option[LeafNode] =
    p match {
      case l: LeafNode => if (l.outputSet.contains(a)) Some(l) else None
      case Project(list, child) =>
        val below = list.collectFirst {
          case al: Alias if al.exprId == a.exprId => al.child
          case ar: AttributeReference if ar.exprId == a.exprId => ar
        }
        below match {
          case Some(ar: AttributeReference) => carrierLeaf(child, ar)
          case _ => None
        }
      case _ => p.children.find(_.outputSet.contains(a)) match {
        case Some(c) => carrierLeaf(c, a)
        case None => None
      }
    }

  private def existingBloomKeys(p: LogicalPlan): Set[Long] =
    p.collect { case Filter(cond, _) => splitConjuncts(cond) }.flatten
      .collect { case m: BloomFilterMightContain =>
        m.valueExpression.references.map(_.exprId.id).toSeq }
      .flatten.toSet

  /** Count of graft-injected blooms already in the subtree. The injected
    * subquery copies the creation side VERBATIM (that identity is what lets
    * AQE reuse its stages), so every nested injection doubles the plan-tree
    * walk; unbounded, a deep join chain goes exponential. Two levels cover
    * the star shapes (q5: customer-chain bloom nested inside the
    * orders-chain bloom); deeper nesting is refused. */
  private def graftBloomCount(p: LogicalPlan): Int =
    p.collect { case Filter(cond, _) => splitConjuncts(cond) }.flatten
      .count {
        case m: BloomFilterMightContain => m.bloomFilterExpression match {
          case s: ScalarSubquery => s.plan.output.exists(_.name == "graft_chain_bloom")
          case _ => false
        }
        case _ => false
      }

  /** Smallest creation subtree that still carries the key AND selectivity
    * evidence — late instance only. A bloom over the whole chain side is a
    * SUBSET of one over the key's filtered carrier (joins only remove
    * keys, so either is sound), but it cannot start until every chain
    * stage finishes; a bloom over the filter-over-scan carrier needs only
    * that scan (the shape Spark's own rule builds, and the measured-fast
    * one: sf30 tq10 15.5 s whole-chain vs 13.1 s carrier-only). Descend
    * through joins toward the carrier while the kept child still has a
    * selective filter. */
  @annotation.tailrec
  private def minimalCreation(p: LogicalPlan, ck: AttributeReference): LogicalPlan =
    p match {
      case j: Join =>
        j.children.find(c => c.outputSet.contains(ck) && hasSelectiveFilter(c)) match {
          case Some(c) => minimalCreation(c, ck)
          case None => p
        }
      case _ => p
    }

  /** Every usable (factKey, chainKey) equi pair — iterated, not
    * first-only: a fact key that already carries a bloom must not abandon
    * the injection when a second pair on a different key qualifies. */
  private def equiPairs(
      cond: Expression, left: LogicalPlan, right: LogicalPlan,
      factLeft: Boolean): Seq[(AttributeReference, AttributeReference)] = {
    val (fact, chain) = if (factLeft) (left, right) else (right, left)
    val factIds = fact.outputSet
    val chainIds = chain.outputSet
    splitConjuncts(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if factIds.contains(a) && chainIds.contains(b) => (a, b)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if factIds.contains(b) && chainIds.contains(a) => (b, a)
    }
  }

  /** Orientation soundness. The bloom keeps fact rows whose key is in the
    * creation side's key set (plus false positives); removed rows
    * equi-match NO creation-side row, so:
    *   - Inner: removed rows produce no output — either side may be fact.
    *   - LeftSemi: a probe row with no build match emits nothing (fact =
    *     probe ok); a build row matching no probe key flips no existence
    *     answer (fact = build ok).
    *   - LeftAnti: pruning the BUILD by probe keys removes only rows that
    *     matched nothing (ok); pruning the PROBE would delete exactly the
    *     non-matching rows anti-join must KEEP — forbidden. */
  private def orientationOk(jt: JoinType, factLeft: Boolean): Boolean = jt match {
    case Inner => true
    case LeftSemi => late
    case LeftAnti => late && !factLeft
    case _ => false
  }

  def apply(plan: LogicalPlan): LogicalPlan = if (!enabled) plan else {
    val appThreshold = bytesConf(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      10L * 1024 * 1024 * 1024)
    val items = SQLConf.get.getConfString(
      "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "1000000").toLong
    val bits = SQLConf.get.getConfString(
      "spark.sql.optimizer.runtime.bloomFilter.numBits", "8388608").toLong
    // Size each injected filter from ITS carrier leaf's row estimate
    // instead of the fixed conf pair — 8 bits/key at the estimate, floored
    // at the conf and capped at 64M bits (8 MB) so the filter stays
    // cache-resident. The r10 sf30 A/B showed an fpp-exact 12.5 MB filter
    // LOSING 40-50% to a saturated 4 MB one (180M per-row probes that miss
    // L2 cost more than the false positives they admit), so the cap is the
    // design point and sizing only ever doubles the 4 MB default for
    // carriers the estimate says saturate it (q3's ~9M BUILDING-filtered
    // orderkeys at sf30). With 8 bits/item in the conf pair (BenchSession,
    // Spark's defaults) sizing is a no-op for carriers whose estimate stays
    // under expectedNumItems, so small-SF plans keep the conf pair.
    // Measured (r15 sf30 interleaved A/B, 3 reps/arm, isolated JVMs):
    // q3_shipping 75.5 s -> 62.2 s median, q5_region_revenue at noise.
    // Row estimate: catalog rowCount when ANALYZEd, else leaf bytes over
    // the schema's estimated row width.
    def sizedParams(leaf: LeafNode): (Long, Long) = {
      val estRows: BigInt = leaf.stats.rowCount.getOrElse {
        val w = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
          .EstimationUtils.getSizePerRow(leaf.output)
        leaf.stats.sizeInBytes / w.max(1)
      }
      // BloomFilterAggregate silently Math.min-caps its numItems/numBits
      // arguments at the session maxNumItems/maxNumBits confs (defaults 4M
      // items / 64M bits). Clamp to those caps HERE so the hash-function
      // count k = m/n·ln2 is computed from the values the filter will
      // actually be built with — passing 9M items against a 4M cap would
      // build a filter whose k was chosen for n=4M while we believed
      // n=9M. To size beyond the caps, raise the two Spark confs.
      val itemsCap = SQLConf.get.getConfString(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
      val bitsCap = SQLConf.get.getConfString(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
      val keys = estRows.min(BigInt(Long.MaxValue)).toLong.min(itemsCap)
      val wantBits = math.min(math.min(67108864L, bitsCap), math.max(bits, 8L * keys))
      (math.max(items, keys), wantBits)
    }

    plan.transformUp {
      case j @ Join(left, right, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), _) =>
        def qualifies(factLeft: Boolean): Option[Join] = {
          if (!orientationOk(jt, factLeft)) return None
          val (fact, chain) = if (factLeft) (left, right) else (right, left)
          logDebug(s"factLeft=$factLeft factShape=${factShape(fact)} " +
            s"bcastFact=${broadcastable(fact)} factStats=${fact.stats.sizeInBytes} app=$appThreshold " +
            s"bcastChain=${broadcastable(chain)} sel=${hasSelectiveFilter(chain)} cnt=${graftBloomCount(chain)} " +
            s"det=${!chain.exists(_.expressions.exists(!_.deterministic))}")
          if (!factShape(fact) || broadcastable(fact) ||
              fact.stats.sizeInBytes < BigInt(appThreshold) ||
              broadcastable(chain) ||
              (!late && !chain.exists(_.isInstanceOf[Join])) ||
              !hasSelectiveFilter(chain) || graftBloomCount(chain) >= 2 ||
              // The creation subquery copies the chain VERBATIM; a
              // nondeterministic expression anywhere in it (rand, sample,
              // nondeterministic UDF) would compute a DIFFERENT key set
              // than the join's actual chain side and prune matching rows.
              // Spark's InjectRuntimeFilter gates on the same condition.
              chain.exists(_.expressions.exists(!_.deterministic))) None
          else {
            val bloomed = existingBloomKeys(fact)
            val factLeafSize = fact.collectFirst { case l: LeafNode => l }
              .map(_.stats.sizeInBytes).getOrElse(BigInt(0))
            // The relative gate is meaningless while either leaf still
            // reports the "unknown size" sentinel (a DSv2 V1ScanWrapper
            // before GraftScanStatistics substitutes it reports
            // defaultSizeInBytes = 2^63-1): carrier*factor <= 2^63 passes
            // for ANY carrier, which injected a fact-keyed bloom the gate
            // exists to refuse (tq12 dsv2 route, +~80%). Refuse now; the
            // fixed-point batch re-runs this rule after substitution with
            // real sizes and injects only what then qualifies.
            val unknown = BigInt(SQLConf.get.defaultSizeInBytes)
            logDebug(s"  pairs=${equiPairs(cond, left, right, factLeft)} factLeaf=$factLeafSize")
            equiPairs(cond, left, right, factLeft).collectFirst(Function.unlift {
              case (fk, ck) =>
                logDebug(s"  fk=$fk ck=$ck bloomed=${bloomed.contains(fk.exprId.id)} leaf=${carrierLeaf(chain, ck).map(_.stats.sizeInBytes)}")
                if (bloomed.contains(fk.exprId.id)) None
                else carrierLeaf(chain, ck) match {
                  case Some(leaf)
                      if factLeafSize < unknown && leaf.stats.sizeInBytes < unknown &&
                        leaf.stats.sizeInBytes * CarrierFactor <= factLeafSize =>
                    val creation = if (late) minimalCreation(chain, ck) else chain
                    val (useItems, useBits) = sizedParams(leaf)
                    val bloomAgg = Alias(
                      AggregateExpression(
                        new BloomFilterAggregate(new XxHash64(Seq(ck)),
                          Literal(useItems), Literal(useBits)),
                        Complete, isDistinct = false), "graft_chain_bloom")()
                    val sub = Aggregate(Nil, Seq(bloomAgg), Project(Seq(ck), creation))
                    val might = BloomFilterMightContain(
                      ScalarSubquery(sub), new XxHash64(Seq(fk)))
                    val newFact = Filter(might, fact)
                    Some(if (factLeft) j.copy(left = newFact)
                         else j.copy(right = newFact))
                  case _ => None
                }
            })
          }
        }
        (qualifies(factLeft = true) orElse qualifies(factLeft = false)).getOrElse(j)
    }
  }
}

/** Operator-batch instance (registered via `injectOptimizerRule`): Inner
  * joins whose creation side CONTAINS a join — the shape Spark's own rule
  * structurally cannot accept (multiplied size estimate). Scan-shaped
  * creation sides are deliberately left to Spark's rule at this stage.
  * Measured same-epoch at sf10 (isolated, interleaved ×2): q3 15.3/14.6 →
  * 10.0/9.0 s, q5 16.5/19.1 → 10.8/11.3 s. */
object InjectChainBlooms extends BloomInjectionRule {
  override protected val late = false
}

/** Late instance (registered via `experimental.extraOptimizations`, which
  * runs after `RewriteSubquery` and `InjectRuntimeFilter`): sees semi/anti
  * joins (EXISTS/IN shapes only become joins in the final rewrite batch,
  * after every extension-injectable position) and every bloom Spark already
  * injected. It fires only where Spark's rule declined — in practice the
  * big-SF regime where the absolute `creationSideThreshold` rejects the
  * same creation side it accepted at sf10 — restoring tq4/tq10-class wins
  * without any benchmark-harness threshold scaling. */
object InjectLateBlooms extends BloomInjectionRule {
  override protected val late = true
}
