package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{
  HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec
}
import org.apache.spark.sql.execution.joins.{
  BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec
}

/**
 * [[graft.plans.PushAggThroughInnerJoin]]: eager aggregation below an
 * inner join (reference q3/q10 star shapes). Contract: identical rows to
 * the unrewritten plan — duplicate keys on both sides, null join keys,
 * all-null aggregate inputs, fact-only and dim-only join conjuncts — with
 * the pre-aggregate visible below the join, and refusals on every shape
 * the scaladoc says refuses (both-side aggregates, non-attribute fact
 * grouping, cross-side non-equi, the small-fact leaf gate, an extra fact
 * grouping attribute from a big leaf, a broadcastable dim).
 */
class InnerAggPushdownSpec extends SparkSpec {

  import spark.implicits._

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.PushAggThroughInnerJoin
    // The fixtures are KB-sized, so every dim would trip the broadcast
    // gate (dim under the plan-time threshold -> join has no exchange to
    // shrink); disable plan-time broadcast so the fire-shapes exercise the
    // rewrite. The gate itself is pinned by its own test below.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq graft.plans.PushAggThroughInnerJoin)
    }
  }

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def hasAggBelowJoin(p: SparkPlan): Boolean = {
    def walk(x: SparkPlan, underJoin: Boolean): Boolean = {
      val isJoin = x.isInstanceOf[BroadcastHashJoinExec] ||
        x.isInstanceOf[ShuffledHashJoinExec] || x.isInstanceOf[SortMergeJoinExec]
      val isAgg = x.isInstanceOf[HashAggregateExec] ||
        x.isInstanceOf[ObjectHashAggregateExec] || x.isInstanceOf[SortAggregateExec]
      if (underJoin && isAgg) true
      else {
        val under = underJoin || isJoin
        val kids = x match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        kids.exists(walk(_, under))
      }
    }
    walk(p, underJoin = false)
  }

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("graft_eager_")

  // fact: ~60 KB parquet at the default 6000 rows, 3-5 rows per key (more
  // with factRows), null keys, null measures; dim: ~3 KB, 1-2 rows per key
  // (dup dim keys multiply fact groups), plus a null-key row. The >=2x
  // leaf-size gate passes (fact >> dim).
  private def fixtures(dir: String, factRows: Int = 6000): Unit = {
    val fact = (0 until factRows).map { i =>
      val k = if (i % 97 == 0) None else Some((i % 300).toLong)
      val v = if (i % 41 == 0) None else Some((i % 89).toLong)
      (k, v, (i % 1000) * 0.25, s"m${i % 7}")
    }
    val dim = (0 until 400).map { j =>
      val k = if (j == 399) None else Some((j % 250).toLong)
      (k, j % 5, s"g${j % 11}")
    }
    fact.toDF("f_k", "f_v", "f_d", "f_m").write.mode("overwrite").parquet(s"$dir/fact")
    dim.toDF("d_k", "d_a", "d_g").write.mode("overwrite").parquet(s"$dir/dim")
    spark.read.parquet(s"$dir/fact").createOrReplaceTempView("ia_fact")
    spark.read.parquet(s"$dir/dim").createOrReplaceTempView("ia_dim")
  }

  test("q3 shape: rows exact, pre-aggregate below the join, kill switch") {
    fixtures(tmpDir("inneragg"))
    val q =
      """SELECT f_k, d_g, CAST(sum(f_v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |FROM ia_fact JOIN ia_dim ON f_k = d_k
        |GROUP BY f_k, d_g""".stripMargin
    val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val (pushed, wasFired, got) = withRule {
      val df = spark.sql(q)
      (hasAggBelowJoin(finalPlan(df)), fired(df), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == plain, "eager-aggregate rows differ")
    assert(wasFired && pushed, "rule did not fire / no aggregate below the join")
    withRule {
      spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.PushAggThroughInnerJoin")
      try {
        val off = spark.sql(q)
        assert(off.collect().map(_.toString).sorted.toSeq == plain)
        assert(!fired(off), "excludedRules ignored")
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("count/count(x)/sum/min/max recombine exactly over dup and null keys") {
    fixtures(tmpDir("inneraggfn"))
    val q =
      """SELECT d_a, CAST(count(*) AS BIGINT) AS n, CAST(count(f_v) AS BIGINT) AS nv,
        |       CAST(sum(f_v) AS BIGINT) AS s, min(f_m) AS lo, max(f_m) AS hi
        |FROM ia_fact JOIN ia_dim ON f_k = d_k
        |GROUP BY d_a""".stripMargin
    val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val (wasFired, got) = withRule {
      val df = spark.sql(q)
      (fired(df), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == plain)
    assert(wasFired)
  }

  test("fact-only and dim-only conjuncts: fact filter moves below the pre-agg") {
    fixtures(tmpDir("inneraggconj"))
    val q =
      """SELECT f_k, CAST(sum(f_v) AS BIGINT) AS s
        |FROM ia_fact JOIN ia_dim ON f_k = d_k AND f_v > 10 AND d_a >= 2
        |GROUP BY f_k""".stripMargin
    val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val (wasFired, got) = withRule {
      val df = spark.sql(q)
      (fired(df), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == plain)
    assert(wasFired)
  }

  test("double sums: admitted with parity under rounding") {
    fixtures(tmpDir("inneraggflt"))
    // round(_, 4): the rewrite regroups a float addition (documented), so
    // parity is asserted at the precision the fixture oracles use.
    val q =
      """SELECT f_k, round(sum(f_d), 4) AS s
        |FROM ia_fact JOIN ia_dim ON f_k = d_k
        |GROUP BY f_k""".stripMargin
    val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val (wasFired, got) = withRule {
      val df = spark.sql(q)
      (fired(df), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == plain, "double-sum parity at 4 decimal places failed")
    assert(wasFired, "double sum did not fire")
  }

  test("idempotence: exactly one pre-aggregate after the fixed-point batch") {
    fixtures(tmpDir("inneraggidem"))
    val q =
      """SELECT f_k, CAST(sum(f_v) AS BIGINT) AS s
        |FROM ia_fact JOIN ia_dim ON f_k = d_k GROUP BY f_k""".stripMargin
    withRule {
      val plan = spark.sql(q).queryExecution.optimizedPlan.toString
      val fires = "graft_eager_0".r.findAllIn(plan).size
      // One definition in the pre-agg + one reference in the outer agg.
      assert(plan.contains("graft_eager_0"), "did not fire")
      assert(!plan.contains("graft_eager_1") || fires <= 3,
        s"nested re-fire suspected:\n$plan")
      assert(!plan.matches("(?s).*Aggregate.*Aggregate.*Aggregate.*Join.*"),
        s"nested pre-aggregates below the join:\n$plan")
    }
  }

  test("refusals: both-side aggs, fact grouping expr, cross-side non-equi, avg, small fact") {
    fixtures(tmpDir("inneragggate"))
    val gated = Seq(
      // Aggregate reads both sides.
      """SELECT f_k, CAST(sum(f_v + d_a) AS BIGINT) AS s FROM ia_fact
        |JOIN ia_dim ON f_k = d_k GROUP BY f_k""".stripMargin,
      // Grouping expression (not a bare attribute) on the fact side.
      """SELECT f_k % 2 AS fk2, CAST(sum(f_v) AS BIGINT) AS s FROM ia_fact
        |JOIN ia_dim ON f_k = d_k GROUP BY f_k % 2""".stripMargin,
      // Cross-side non-equality conjunct.
      """SELECT f_k, CAST(sum(f_v) AS BIGINT) AS s FROM ia_fact
        |JOIN ia_dim ON f_k = d_k AND f_v > d_a GROUP BY f_k""".stripMargin,
      // avg has no supported recombination.
      """SELECT f_k, round(avg(f_v), 2) AS a FROM ia_fact
        |JOIN ia_dim ON f_k = d_k GROUP BY f_k""".stripMargin)
    for (q <- gated) withRule {
      val df = spark.sql(q)
      assert(!fired(df), s"must refuse:\n$q")
      // And rows stay correct regardless.
      val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
      assert(df.collect().map(_.toString).sorted.toSeq == plain)
    }
    // Small fact vs big dim (tq12's shape): the relative leaf gate refuses
    // aggregating the small side.
    withRule {
      val q =
        """SELECT d_k, CAST(sum(d_a) AS BIGINT) AS s
          |FROM ia_fact JOIN ia_dim ON f_k = d_k GROUP BY d_k""".stripMargin
      assert(!fired(spark.sql(q)), "leaf gate must refuse aggregating the small side")
    }
    // Fact grouping attr beyond the join keys sourced from a BIG leaf
    // (tq10's shape): the key-space gate refuses — the pre-aggregate key
    // would multiply NDVs and the reduction evaporates (measured +14%
    // shuffle volume at sf10). Rebuild the fact above the 64 KB bound.
    fixtures(tmpDir("inneragggatebig"), factRows = 30000)
    val factBytes = spark.table("ia_fact").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(factBytes > (64 << 10), s"fact leaf ($factBytes B) must exceed the 64 KB bound")
    withRule {
      val byKey =
        """SELECT f_k, CAST(sum(f_v) AS BIGINT) AS s
          |FROM ia_fact JOIN ia_dim ON f_k = d_k GROUP BY f_k""".stripMargin
      assert(fired(spark.sql(byKey)), "join-key grouping must still fire on the big fact")
      val q =
        """SELECT f_k, f_m, CAST(sum(f_v) AS BIGINT) AS s
          |FROM ia_fact JOIN ia_dim ON f_k = d_k GROUP BY f_k, f_m""".stripMargin
      val df = spark.sql(q)
      assert(!fired(df), "must refuse fact grouping attrs beyond the join keys")
      val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
      assert(df.collect().map(_.toString).sorted.toSeq == plain)
    }
  }

  test("broadcast gate: dim under the plan-time threshold refuses") {
    fixtures(tmpDir("inneraggbc"))
    val q =
      """SELECT f_k, CAST(sum(f_v) AS BIGINT) AS s
        |FROM ia_fact JOIN ia_dim ON f_k = d_k GROUP BY f_k""".stripMargin
    // Same shape that fires under withRule (threshold -1): with the ~3 KB
    // dim under a plan-time broadcast threshold, the join carries no
    // exchange for the pre-aggregate to shrink -> refuse.
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.PushAggThroughInnerJoin
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      val df = spark.sql(q)
      assert(!fired(df), "broadcast gate must refuse a broadcastable dim")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq graft.plans.PushAggThroughInnerJoin)
    }
  }

  test("q5 shape: extra grouping attr from a tiny leaf admitted, rows exact") {
    val dir = tmpDir("inneraggq5")
    fixtures(dir)
    // A nation-like tiny enriching table joined INTO the fact side; the
    // grouping attr nn_name reads straight off its ~3 KB leaf, so the
    // pre-aggregate key space grows by at most its row count while the
    // fact still collapses by key multiplicity — the q5 star shape.
    (0 until 25).map(i => (i.toLong, s"n$i"))
      .toDF("nn_id", "nn_name").write.mode("overwrite").parquet(s"$dir/nn")
    spark.read.parquet(s"$dir/nn").createOrReplaceTempView("ia_nn")
    val q =
      """SELECT nn_name, CAST(sum(f_v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |FROM ia_fact JOIN ia_nn ON f_k % 25 = nn_id JOIN ia_dim ON f_k = d_k
        |GROUP BY nn_name""".stripMargin
    val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val (wasFired, got) = withRule {
      val df = spark.sql(q)
      (fired(df), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == plain, "q5-shape eager-aggregate rows differ")
    assert(wasFired, "rule did not fire on the q5 shape")
  }
}
