package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{
  HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec
}
import org.apache.spark.sql.execution.joins.{
  BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec
}

/**
 * [[graft.plans.PushAggThroughOuterJoin]]: eager aggregation below a
 * left-outer join (reference q13 custdist shape). Contract: identical
 * rows to the unrewritten plan — including duplicate left keys, unmatched
 * left rows, null join keys, and all-null aggregate inputs — with an
 * aggregate running BELOW the join in the executed plan.
 */
class AggregatePushdownSpec extends SparkSpec {

  import spark.implicits._

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.PushAggThroughOuterJoin
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq graft.plans.PushAggThroughOuterJoin)
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** True when some aggregate sits beneath some join (the pushed shape). */
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

  // customer: keys 0..199, each 1-2 rows (dup left keys), plus one NULL-key
  // row; orders: 0-10 rows per custkey over keys 0..149, some null o_k
  // (count(o_k) must skip), some null keys.
  private def fixtures(dir: String): Unit = {
    val cust = (0L until 200L).flatMap(k =>
      (0 to (k % 2).toInt).map(i => (Some(k), s"seg${k % 5}"))) :+ ((None: Option[Long], "segX"))
    val ords = (0 until 900).map { i =>
      val ck = if (i % 90 == 89) None else Some((i % 150).toLong)
      val ok = if (i % 7 == 0) None else Some(i.toLong)
      (ck, ok, s"P${i % 3}", (i % 13 + 1).toLong)
    }
    cust.toDF("c_k", "c_seg").write.parquet(s"$dir/cust")
    ords.toDF("o_ck", "o_k", "o_prio", "o_amt").write.parquet(s"$dir/ord")
    spark.read.parquet(s"$dir/cust").createOrReplaceTempView("ap_cust")
    spark.read.parquet(s"$dir/ord").createOrReplaceTempView("ap_ord")
  }

  test("q13 shape: rows exact, aggregate pushed below the join") {
    fixtures(tmpDir("aggpush"))
    val q =
      """SELECT c_k, CAST(count(o_k) AS BIGINT) AS c_count
        |FROM ap_cust LEFT OUTER JOIN ap_ord ON c_k = o_ck AND o_prio <> 'P0'
        |GROUP BY c_k""".stripMargin
    val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val (pushed, got) = withRule {
      val df = spark.sql(q)
      (hasAggBelowJoin(finalPlan(df)), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == plain, "pushed-aggregate rows differ")
    assert(pushed, "no aggregate below the join: rule did not fire")
    // Excluding the rule restores the stock plan.
    withRule {
      spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.PushAggThroughOuterJoin")
      try {
        val off = spark.sql(q)
        assert(off.collect().map(_.toString).sorted.toSeq == plain)
        assert(!hasAggBelowJoin(finalPlan(off)), "excludedRules ignored")
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("count(*), sum, min, max recombine exactly (nulls + unmatched rows)") {
    fixtures(tmpDir("aggpushfn"))
    val q =
      """SELECT c_seg, c_k, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(o_k) AS BIGINT) AS n_ok,
        |       CAST(sum(o_amt) AS BIGINT) AS amt, min(o_prio) AS lo, max(o_prio) AS hi
        |FROM ap_cust LEFT OUTER JOIN ap_ord ON c_k = o_ck AND o_prio <> 'P0'
        |GROUP BY c_seg, c_k""".stripMargin
    val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
    val (pushed, got) = withRule {
      val df = spark.sql(q)
      (hasAggBelowJoin(finalPlan(df)), df.collect().map(_.toString).sorted.toSeq)
    }
    assert(got == plain)
    assert(pushed)
  }

  test("gates: right-side grouping, left-side agg, non-equi cross conjunct, avg") {
    fixtures(tmpDir("aggpushgate"))
    val gated = Seq(
      // Grouping reads the right side.
      """SELECT o_prio, CAST(count(o_k) AS BIGINT) AS n FROM ap_cust
        |LEFT OUTER JOIN ap_ord ON c_k = o_ck GROUP BY o_prio""".stripMargin,
      // Aggregate reads the left side.
      """SELECT c_seg, CAST(count(c_k) AS BIGINT) AS n FROM ap_cust
        |LEFT OUTER JOIN ap_ord ON c_k = o_ck GROUP BY c_seg""".stripMargin,
      // Cross-side non-equi conjunct.
      """SELECT c_k, CAST(count(o_k) AS BIGINT) AS n FROM ap_cust
        |LEFT OUTER JOIN ap_ord ON c_k = o_ck AND o_amt > c_k GROUP BY c_k""".stripMargin,
      // avg is not a supported recombination.
      """SELECT c_k, round(avg(o_amt), 2) AS a FROM ap_cust
        |LEFT OUTER JOIN ap_ord ON c_k = o_ck GROUP BY c_k""".stripMargin)
    for (q <- gated) {
      val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
      val got = withRule(spark.sql(q).collect().map(_.toString).sorted.toSeq)
      assert(got == plain, s"gated shape changed rows:\n$q")
    }
  }
}
