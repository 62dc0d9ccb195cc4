package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/**
 * [[graft.plans.InjectChainBlooms]]: an Inner equi-join whose chain side
 * carries a selective filter gets a runtime bloom injected on the bare fact
 * side — the join-shaped-creation case Spark's own InjectRuntimeFilter
 * size-estimates to death. Results must be EXACTLY those of the unfiltered
 * plan (a bloom admits false positives, never false negatives).
 */
class ChainBloomSpec extends SparkSpec {

  import spark.implicits._

  private val confs = Map(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
    "spark.sql.autoBroadcastJoinThreshold" -> "1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1")

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

  private def bloomFilters(p: SparkPlan): Seq[org.apache.spark.sql.execution.FilterExec] =
    collectAll(p) {
      case f: org.apache.spark.sql.execution.FilterExec if f.condition.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
    }

  test("join-shaped chain injects a bloom on the bare fact side; results exact") {
    // dim(filtered, selective) ⋈ mid(key-carrier) forms the chain; fact is a
    // bare scan. Spark's own injection can't see through the chain join.
    val dimRows = (0 until 50).map(i => (i.toLong, i % 5))
    val midRows = (0 until 2000).map(i => ((i % 50).toLong, i.toLong))
    val factRows = (0 until 20000).map(i => ((i % 4000).toLong, (i % 97).toLong))
    val dir = tmpDir("chainbloom")
    dimRows.toDF("dk", "flag").write.parquet(s"$dir/dim")
    midRows.toDF("mdk", "mk").write.parquet(s"$dir/mid")
    factRows.toDF("fk", "v").write.parquet(s"$dir/fact")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.read.parquet(s"$dir/dim").createOrReplaceTempView("cb_dim")
      spark.read.parquet(s"$dir/mid").createOrReplaceTempView("cb_mid")
      spark.read.parquet(s"$dir/fact").createOrReplaceTempView("cb_fact")
      // Ground truth in plain Scala.
      val dimOk = dimRows.filter(_._2 == 0).map(_._1).toSet
      val midOk = midRows.filter(r => dimOk.contains(r._1)).map(_._2).toSet
      val want = factRows.filter(r => midOk.contains(r._1))
        .groupBy(_._1).map { case (k, rs) => (k, rs.size.toLong, rs.map(_._2).sum) }
        .toSeq.sorted
      // Star order: the chain (dim ⋈ mid) carries the literal filter. (A
      // fact-first FROM order joins fact⋈mid first, whose chain has no
      // literal filter at optimization time — deliberately out of scope;
      // Spark's own injection covers the filter-over-scan side there.)
      val sqls = Seq(
        """SELECT fk, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
          |FROM cb_dim JOIN cb_mid ON mdk = dk AND flag = 0 JOIN cb_fact ON fk = mk
          |GROUP BY fk""".stripMargin)
      for (sql <- sqls) {
        val df = spark.sql(sql)
        val plan = finalPlan(df)
        val blooms = bloomFilters(plan)
        assert(blooms.exists(_.condition.references.exists(_.name == "fk")),
          s"no chain bloom on the fact side:\n$plan")
        val got = df.as[(Long, Long, Long)].collect().toSeq.sorted
        assert(got == want, s"got ${got.take(5)}...\nwant ${want.take(5)}...")
      }
      val sql = sqls.head

      // Excluding both bloom rules: no GRAFT bloom (Spark's own
      // filter-over-scan injection is independent and may still fire),
      // same results. The late rule is registered so that excluding only
      // the chain rule visibly hands the shape to it.
      def graftBlooms(df: org.apache.spark.sql.DataFrame) =
        bloomFilters(finalPlan(df)).filter(_.toString.contains("graft_chain_bloom"))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.InjectLateBlooms
      spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.InjectChainBlooms")
      assert(graftBlooms(spark.sql(sql)).nonEmpty, "late rule did not take over the shape")
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "graft.plans.InjectChainBlooms,graft.plans.InjectLateBlooms")
      val off = spark.sql(sql)
      assert(graftBlooms(off).isEmpty, "excludedRules ignored")
      assert(off.as[(Long, Long, Long)].collect().toSeq.sorted == want)
    } finally {
      (confs.keys ++ Seq("spark.sql.optimizer.excludedRules")).foreach(spark.conf.unset)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq graft.plans.InjectLateBlooms)
    }
  }

  test("gates: broadcastable chain, leaf chain, fact-keyed carrier are left alone") {
    val dimRows = (0 until 50).map(i => (i.toLong, i % 5))
    val factRows = (0 until 20000).map(i => ((i % 50).toLong, i.toLong))
    val dir = tmpDir("chainbloomgate")
    dimRows.toDF("dk", "flag").write.parquet(s"$dir/dim")
    factRows.toDF("fk", "v").write.parquet(s"$dir/fact")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.read.parquet(s"$dir/dim").createOrReplaceTempView("cbg_dim")
      spark.read.parquet(s"$dir/fact").createOrReplaceTempView("cbg_fact")
      // Chain is a bare filtered LEAF — Spark's own injection territory;
      // the strategy must not claim the join (Spark's rule is disabled here
      // by its own gates only when sizes say so; what we assert is OURS
      // does not fire on a leaf chain).
      val df = spark.sql(
        """SELECT fk, CAST(count(*) AS BIGINT) AS n
          |FROM cbg_fact JOIN cbg_dim ON fk = dk AND flag = 0
          |GROUP BY fk""".stripMargin)
      val plan = finalPlan(df)
      val mine = bloomFilters(plan).filter(
        _.condition.toString.contains("graft_chain_bloom"))
      assert(mine.isEmpty, s"fired on a leaf chain:\n$plan")
      val dimOk = dimRows.filter(_._2 == 0).map(_._1).toSet
      val want = factRows.filter(r => dimOk.contains(r._1))
        .groupBy(_._1).map { case (k, rs) => (k, rs.size.toLong) }.toSeq.sorted
      assert(df.as[(Long, Long)].collect().toSeq.sorted == want)
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("sized blooms: bits scale with the carrier leaf estimate, capped at 64M") {
    val dimRows = (0 until 50).map(i => (i.toLong, i % 5))
    val midRows = (0 until 2000).map(i => ((i % 50).toLong, i.toLong))
    val factRows = (0 until 20000).map(i => ((i % 4000).toLong, (i % 97).toLong))
    val dir = tmpDir("chainbloomsized")
    dimRows.toDF("dk", "flag").write.parquet(s"$dir/dim")
    midRows.toDF("mdk", "mk").write.parquet(s"$dir/mid")
    factRows.toDF("fk", "v").write.parquet(s"$dir/fact")
    // Floor the conf pair LOW so the estimate visibly takes over: the mid
    // carrier leaf estimates O(1000) rows, so sized bits = 8/key lands
    // well above 1024 and far below the 64M cap.
    val sized = confs ++ Map(
      "spark.sql.optimizer.runtime.bloomFilter.numBits" -> "1024",
      "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems" -> "100")
    // Spark's own injection may coexist in the same plan with the conf
    // (items=100, bits=1024) pair — only the graft-aliased agg is ours.
    def bloomParams(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
      val re = "bloom_filter_agg\\([^)]*\\), (\\d+), (\\d+)[^\\n]*graft_chain_bloom".r
      re.findAllMatchIn(df.queryExecution.optimizedPlan.toString)
        .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    }
    try {
      sized.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.read.parquet(s"$dir/dim").createOrReplaceTempView("cbs_dim")
      spark.read.parquet(s"$dir/mid").createOrReplaceTempView("cbs_mid")
      spark.read.parquet(s"$dir/fact").createOrReplaceTempView("cbs_fact")
      val sql =
        """SELECT fk, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
          |FROM cbs_dim JOIN cbs_mid ON mdk = dk AND flag = 0 JOIN cbs_fact ON fk = mk
          |GROUP BY fk""".stripMargin
      val on = spark.sql(sql)
      val onParams = bloomParams(on)
      assert(onParams.nonEmpty, "no graft bloom injected")
      assert(onParams.forall { case (items, bits) =>
        bits > 1024L && bits <= 67108864L && items >= 100L },
        s"sized params out of band: $onParams")
      // Exactness unchanged.
      val dimOk = dimRows.filter(_._2 == 0).map(_._1).toSet
      val midOk = midRows.filter(r => dimOk.contains(r._1)).map(_._2).toSet
      val want = factRows.filter(r => midOk.contains(r._1))
        .groupBy(_._1).map { case (k, rs) => (k, rs.size.toLong, rs.map(_._2).sum) }
        .toSeq.sorted
      assert(on.as[(Long, Long, Long)].collect().toSeq.sorted == want)
      // Sized params must respect BloomFilterAggregate's silent caps: with
      // maxNumItems forced below the carrier estimate, the computed items
      // value clamps to the cap (so the hash count k is derived from the n
      // the filter is actually built with, not a wished-for larger one).
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "500")
      val capped = bloomParams(spark.sql(sql))
      assert(capped.nonEmpty && capped.forall(_._1 <= 500L),
        s"items must clamp to maxNumItems: $capped")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
    } finally sized.keys.foreach(spark.conf.unset)
  }
}
