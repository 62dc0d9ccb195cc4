package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/**
 * [[graft.plans.InjectLateBlooms]]: the post-RewriteSubquery bloom
 * injection instance, registered via `experimental.extraOptimizations`
 * (the only optimizer position that sees semi/anti joins and Spark's own
 * injections). Covers the big-SF regime where Spark's absolute
 * creation-threshold declines (simulated here by setting that threshold
 * to 0) — the engine-side replacement for r10's env-var threshold scaling.
 */
class LateBloomSpec extends SparkSpec {

  import spark.implicits._

  private val confs = Map(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    // Disable Spark's own injection so what fires is unambiguously ours.
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1")

  private def withLateRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.InjectLateBlooms
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq graft.plans.InjectLateBlooms)
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def collectAll[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] = {
    val here = Seq(p).collect(f)
    val below = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => collectAll(q.plan)(f)
      case other => other.children.flatMap(collectAll(_)(f))
    }
    here ++ below
  }

  private def graftBlooms(p: SparkPlan): Seq[org.apache.spark.sql.execution.FilterExec] =
    collectAll(p) {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) &&
            f.toString.contains("graft_chain_bloom") => f
    }

  test("EXISTS: probe-side filter blooms the semi build (tq4 shape)") {
    // Probe = date-filtered mid table; build = big bare fact. EXISTS only
    // becomes a LeftSemi join in the final RewriteSubquery batch — this
    // test therefore also pins that extraOptimizations runs after it.
    val probeRows = (0 until 2000).map(i => ((i % 500).toLong, i % 4))
    val buildRows = (0 until 40000).map(i => ((i % 1000).toLong, (i % 7).toLong))
    val dir = tmpDir("latebloom")
    probeRows.toDF("ok", "q").write.parquet(s"$dir/probe")
    buildRows.toDF("lk", "d").write.parquet(s"$dir/build")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.read.parquet(s"$dir/probe").createOrReplaceTempView("lb_probe")
      spark.read.parquet(s"$dir/build").createOrReplaceTempView("lb_build")
      val sql =
        """SELECT ok, CAST(count(*) AS BIGINT) AS n FROM lb_probe
          |WHERE q = 0 AND EXISTS (SELECT 1 FROM lb_build WHERE lk = ok AND d > 2)
          |GROUP BY ok""".stripMargin
      val want = probeRows.filter(_._2 == 0)
        .filter { case (k, _) => buildRows.exists(b => b._1 == k && b._2 > 2) }
        .groupBy(_._1).map { case (k, rs) => (k, rs.size.toLong) }.toSeq.sorted
      val (withBloom, without) = withLateRule {
        val df = spark.sql(sql)
        val plan = finalPlan(df)
        (graftBlooms(plan), df.as[(Long, Long)].collect().toSeq.sorted)
      }
      assert(withBloom.exists(_.condition.references.exists(_.name == "lk")),
        "late rule did not bloom the semi build side")
      assert(without == want, s"results differ with late bloom")
      // Same query, rule registered but excluded: no graft bloom, same
      // results.
      spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.InjectLateBlooms")
      val (offBlooms, offRows) = withLateRule {
        val off = spark.sql(sql)
        (graftBlooms(finalPlan(off)), off.as[(Long, Long)].collect().toSeq.sorted)
      }
      assert(offBlooms.isEmpty, "excludedRules ignored")
      assert(offRows == want)
    } finally (confs.keys ++ Seq("spark.sql.optimizer.excludedRules")).foreach(spark.conf.unset)
  }

  test("Inner: data-filtered fact still accepts a late bloom; results exact") {
    val dimRows = (0 until 400).map(i => (i.toLong, i % 8))
    val factRows = (0 until 40000).map(i => ((i % 800).toLong, (i % 13).toLong))
    val dir = tmpDir("latebloominner")
    dimRows.toDF("dk", "flag").write.parquet(s"$dir/dim")
    factRows.toDF("fk", "v").write.parquet(s"$dir/fact")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.read.parquet(s"$dir/dim").createOrReplaceTempView("lbi_dim")
      spark.read.parquet(s"$dir/fact").createOrReplaceTempView("lbi_fact")
      val sql =
        """SELECT fk, CAST(count(*) AS BIGINT) AS n
          |FROM lbi_fact JOIN lbi_dim ON fk = dk AND flag = 0
          |WHERE v > 3 GROUP BY fk""".stripMargin
      val want = factRows.filter(_._2 > 3)
        .filter { case (k, _) => dimRows.exists(d => d._1 == k && d._2 == 0) }
        .groupBy(_._1).map { case (k, rs) => (k, rs.size.toLong) }.toSeq.sorted
      val (blooms, got) = withLateRule {
        val df = spark.sql(sql)
        val plan = finalPlan(df)
        (graftBlooms(plan), df.as[(Long, Long)].collect().toSeq.sorted)
      }
      assert(blooms.exists(_.condition.references.exists(_.name == "fk")),
        "late rule did not bloom the filtered fact")
      assert(got == want)
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("NOT EXISTS: the anti PROBE is never bloomed (would delete keepers)") {
    // Build carries the selective filter; the probe is the big bare side.
    // Pruning the probe by build keys would remove exactly the rows the
    // anti join must keep — the orientation gate must refuse.
    val probeRows = (0 until 40000).map(i => ((i % 1000).toLong, (i % 9).toLong))
    val buildRows = (0 until 2000).map(i => ((i % 300).toLong, i % 5))
    val dir = tmpDir("latebloomanti")
    probeRows.toDF("pk", "v").write.parquet(s"$dir/probe")
    buildRows.toDF("bk", "flag").write.parquet(s"$dir/build")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.read.parquet(s"$dir/probe").createOrReplaceTempView("lba_probe")
      spark.read.parquet(s"$dir/build").createOrReplaceTempView("lba_build")
      val sql =
        """SELECT pk, CAST(count(*) AS BIGINT) AS n FROM lba_probe
          |WHERE NOT EXISTS (SELECT 1 FROM lba_build WHERE bk = pk AND flag = 0)
          |GROUP BY pk""".stripMargin
      val want = probeRows
        .filterNot { case (k, _) => buildRows.exists(b => b._1 == k && b._2 == 0) }
        .groupBy(_._1).map { case (k, rs) => (k, rs.size.toLong) }.toSeq.sorted
      val (blooms, got) = withLateRule {
        val df = spark.sql(sql)
        val plan = finalPlan(df)
        (graftBlooms(plan), df.as[(Long, Long)].collect().toSeq.sorted)
      }
      assert(!blooms.exists(_.condition.references.exists(_.name == "pk")),
        "anti probe was bloomed — wrong-results hazard")
      assert(got == want)
    } finally confs.keys.foreach(spark.conf.unset)
  }
}
