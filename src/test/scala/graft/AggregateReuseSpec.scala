package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/**
 * [[graft.plans.ReuseSemiAggregate]]: the IN-over-HAVING aggregate-reuse
 * rewrite (reference q18 shape). The rewrite's contract: identical rows
 * to the unrewritten plan on probe-key-unique data, and exactly ONE scan
 * of the fact table in the executed plan (the redundant join is gone).
 */
class AggregateReuseSpec extends SparkSpec {

  import spark.implicits._

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.ReuseSemiAggregate
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq graft.plans.ReuseSemiAggregate)
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def countScansOf(p: SparkPlan, pathPart: String): Int = {
    def walk(x: SparkPlan): Int = {
      val here = x match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(pathPart)) => 1
        case _ => 0
      }
      val below = x match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case o => o.children.map(walk).sum
      }
      // Subquery plans hang off expressions, not children.
      val inSubs = x.expressions.flatMap(_.collect {
        case s: org.apache.spark.sql.execution.ScalarSubquery => walk(s.plan)
      }).sum
      here + below + inSubs
    }
    walk(p)
  }

  // orders: unique okey; lineitem: several rows per okey.
  private def fixtures(dir: String): (Seq[(Long, Long, Long)], Seq[(Long, Long)]) = {
    val orders = (0L until 500L).map(k => (k, k % 37, k % 11)) // okey, cust, prio
    val lineitem = (0 until 6000).map { i =>
      ((i % 500).toLong, (i % 13 + 1).toLong) // okey, qty
    }
    orders.toDF("o_k", "o_c", "o_p").write.parquet(s"$dir/ord")
    lineitem.toDF("l_k", "l_q").write.parquet(s"$dir/li")
    (orders, lineitem)
  }

  private val sql =
    """SELECT o_k, o_p, CAST(sum(l_q) AS BIGINT) AS tq
      |FROM ar_ord, ar_li
      |WHERE o_k IN (SELECT l_k FROM ar_li GROUP BY l_k HAVING sum(l_q) > 80)
      |  AND o_k = l_k
      |GROUP BY o_k, o_p""".stripMargin

  test("q18 shape: one fact scan, rows identical to the unrewritten plan") {
    val dir = tmpDir("aggreuse")
    val (orders, lineitem) = fixtures(dir)
    spark.read.parquet(s"$dir/ord").createOrReplaceTempView("ar_ord")
    spark.read.parquet(s"$dir/li").createOrReplaceTempView("ar_li")
    val want = {
      val byK = lineitem.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).sum }
      orders.filter(o => byK.get(o._1).exists(_ > 80))
        .map(o => (o._1, o._3, byK(o._1))).sorted
    }
    // Unrewritten reference first.
    val plain = spark.sql(sql).as[(Long, Long, Long)].collect().toSeq.sorted
    assert(plain == want, "unrewritten plan disagrees with ground truth")
    val (scans, got) = withRule {
      val df = spark.sql(sql)
      val plan = finalPlan(df)
      (countScansOf(plan, "/li"), df.as[(Long, Long, Long)].collect().toSeq.sorted)
    }
    assert(got == want, "rewritten rows differ")
    assert(scans == 1, s"expected exactly one fact scan after reuse, got $scans")
    // Excluding the rule restores the stock plan.
    withRule {
      spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.ReuseSemiAggregate")
      try {
        val off = spark.sql(sql)
        assert(countScansOf(finalPlan(off), "/li") == 2, "excludedRules ignored")
        assert(off.as[(Long, Long, Long)].collect().toSeq.sorted == want)
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("duplicate probe keys: rewrite still fires and stays exact") {
    // The r11 revision (sum -> min(carried)) was exact only for unique
    // probe keys; the sum(carried)+cast form must reproduce the
    // n-duplicates-times-per-key-sum total of the original plan.
    val dir = tmpDir("aggreusedup")
    // Every probe key appears 1-3 times (k % 3 + 1 copies).
    val orders = (0L until 500L).flatMap(k =>
      (0 to (k % 3).toInt).map(_ => (k, k % 37, k % 11)))
    val lineitem = (0 until 6000).map { i =>
      ((i % 500).toLong, (i % 13 + 1).toLong)
    }
    orders.toDF("o_k", "o_c", "o_p").write.parquet(s"$dir/ord")
    lineitem.toDF("l_k", "l_q").write.parquet(s"$dir/li")
    spark.read.parquet(s"$dir/ord").createOrReplaceTempView("ard_ord")
    spark.read.parquet(s"$dir/li").createOrReplaceTempView("ard_li")
    val q =
      """SELECT o_k, o_p, CAST(sum(l_q) AS BIGINT) AS tq
        |FROM ard_ord, ard_li
        |WHERE o_k IN (SELECT l_k FROM ard_li GROUP BY l_k HAVING sum(l_q) > 80)
        |  AND o_k = l_k
        |GROUP BY o_k, o_p""".stripMargin
    val byK = lineitem.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).sum }
    val want = orders.filter(o => byK.get(o._1).exists(_ > 80))
      .groupBy(o => (o._1, o._3))
      .map { case ((k, p), rs) => (k, p, rs.size * byK(k)) }.toSeq.sorted
    val plain = spark.sql(q).as[(Long, Long, Long)].collect().toSeq.sorted
    assert(plain == want, "unrewritten plan disagrees with ground truth")
    val (scans, got) = withRule {
      val df = spark.sql(q)
      (countScansOf(finalPlan(df), "/li"), df.as[(Long, Long, Long)].collect().toSeq.sorted)
    }
    assert(scans == 1, s"expected one fact scan with duplicate probe keys, got $scans")
    assert(got == want, "rewrite is not exact under duplicate probe keys")
  }

  test("gates: filtered fact, missing key in GROUP BY, non-sum agg stay stock") {
    val dir = tmpDir("aggreusegate")
    fixtures(dir)
    spark.read.parquet(s"$dir/ord").createOrReplaceTempView("arg_ord")
    spark.read.parquet(s"$dir/li").createOrReplaceTempView("arg_li")
    val gated = Seq(
      // Fact carries a data filter: row sets differ from the subquery's.
      """SELECT o_k, CAST(sum(l_q) AS BIGINT) AS tq FROM arg_ord, arg_li
        |WHERE o_k IN (SELECT l_k FROM arg_li GROUP BY l_k HAVING sum(l_q) > 80)
        |  AND o_k = l_k AND l_q > 2 GROUP BY o_k""".stripMargin,
      // Probe key absent from GROUP BY: groups span keys.
      """SELECT o_p, CAST(sum(l_q) AS BIGINT) AS tq FROM arg_ord, arg_li
        |WHERE o_k IN (SELECT l_k FROM arg_li GROUP BY l_k HAVING sum(l_q) > 80)
        |  AND o_k = l_k GROUP BY o_p""".stripMargin,
      // max() is not the reused statistic.
      """SELECT o_k, CAST(max(l_q) AS BIGINT) AS tq FROM arg_ord, arg_li
        |WHERE o_k IN (SELECT l_k FROM arg_li GROUP BY l_k HAVING sum(l_q) > 80)
        |  AND o_k = l_k GROUP BY o_k""".stripMargin)
    for (q <- gated) {
      val plain = spark.sql(q).collect().map(_.toString).sorted.toSeq
      val (scans, got) = withRule {
        val df = spark.sql(q)
        (countScansOf(finalPlan(df), "/li"),
          df.collect().map(_.toString).sorted.toSeq)
      }
      assert(scans == 2, s"gate failed to hold for:\n$q")
      assert(got == plain)
    }
  }
}
