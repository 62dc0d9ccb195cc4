package graft

import graft.read.ReadOptions
import org.apache.spark.sql.functions._

/**
 * Physical-plan assertions: the properties that matter at 100 TB must be
 * visible in the plan, not assumed — parquet row-group pushdown beneath our
 * file-level pruning, broadcast joins for small dimensions, position deletes
 * applied inside the scan without a join, and whole-stage codegen on the
 * scan path.
 */
class PlanQualitySpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("iceberg scan pushes filters into the parquet reader (row-group level)") {
    val path = Fixtures.lineitemPlain(spark, sfDir)
    val df = IcebergTable.load(spark, path, ReadOptions(filterSql = Some("l_orderkey = 42")))
    val plan = formatted(df)
    assert(plan.contains("PushedFilters") &&
      (plan.contains("IsNotNull(l_orderkey)") || plan.contains("EqualTo(l_orderkey,42)")),
      s"expected parquet pushdown in plan:\n$plan")
    assert(plan.contains("WholeStageCodegen") || plan.contains("codegen id"),
      "scan path should be codegen'd")
  }

  test("DSv2 front-end: format(\"graft\") reads, pushes filters, prunes files") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = Fixtures.iceberg(spark, sfDir, "dsv2_orders") { dir =>
      IcebergTable.write(src, dir, graft.write.TableWriteOptions(
        partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity))))
    }
    val df = spark.read.format("graft").load(path).where("o_orderstatus = 'F'")
    // Catalyst pushed the filter into the scan: the physical plan holds one
    // graft batch scan, with the predicate in its description, and no
    // parquet file scan or V1 bridge.
    val plan = formatted(df)
    assert(plan.contains("BatchScan") && plan.contains("(`o_orderstatus` = 'F')"),
      s"expected pushed filter in the graft batch scan:\n${plan.take(2000)}")
    assert(!plan.contains("Scan parquet") && !plan.contains("Scan ExistingRDD"),
      s"expected no inner scan:\n${plan.take(2000)}")
    // ... and the filter pruned partitions at the metadata level.
    assertSameResult(src.filter("o_orderstatus = 'F'"), df)
    val m = graftScanMetrics(df)
    assert(m("dataFiles") < m("dataFilesTotal"),
      s"expected partition pruning via DSv2 path: kept ${m("dataFiles")} of ${m("dataFilesTotal")}")
    // Column pruning flows through too.
    val narrow = spark.read.format("graft").load(path).select("o_orderkey")
    assert(narrow.columns.toSeq == Seq("o_orderkey"))
    assert(narrow.count() == src.count())
  }

  test("a V1 scan is substituted, and bridged when the substitution rule is excluded") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // Equality deletes keep a format("graft") read on the V1 scan.
    val path = tmpDir("graft_v1_exclusion")
    val rows = (0 until 1000).map(i => (i.toLong, i % 4)).toDF("id", "k").repartition(3)
    IcebergTable.write(rows, path, graft.write.TableWriteOptions(formatVersion = 2))
    IcebergTable.deleteEquality(spark, path, Seq(3L, 5L, 701L).toDF("id"))
    val expected = rows.where("id NOT IN (3, 5, 701) AND k = 1")
    def read() = spark.read.format("graft").load(path).where("k = 1")
    def scans(df: org.apache.spark.sql.DataFrame): Set[String] =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case _: RowDataSourceScanExec => "bridge"
        case _: FileSourceScanExec => "parquet"
        case _: BatchScanExec => "batch"
      }.toSet
    // The substitution splices in the assembled read's parquet scans.
    val substituted = read()
    assert(scans(substituted) == Set("parquet"), formatted(substituted))
    assertSameResult(expected, substituted)
    // Spark's rule exclusion turns the substitution off: the V1 bridge
    // scan stays in the plan, with the same rows.
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.sources.GraftScanStatistics")
    try {
      val bridged = read()
      assert(scans(bridged) == Set("bridge"), s"excludedRules ignored:\n${formatted(bridged)}")
      assertSameResult(expected, bridged)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("two reads of the same table share one exchange, on both read APIs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val path = tmpDir("graft_reuse")
    val rows = (0 until 2000).map(i => (i.toLong, i % 10)).toDF("id", "k").repartition(4)
    IcebergTable.write(rows, path, graft.write.TableWriteOptions(formatVersion = 3))
    IcebergTable.delete(spark, path, "id % 7 = 0")
    val reads = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "format(graft)" -> (() => spark.read.format("graft").load(path)),
      "IcebergTable.load" -> (() => IcebergTable.load(spark, path)))
    for ((api, read) <- reads) {
      def sums(df: org.apache.spark.sql.DataFrame) = df.groupBy("k").agg(sum("id").as("s"))
      def joined(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        sums(a).join(sums(b).withColumnRenamed("s", "s2"), "k")
      val df = joined(read(), read())
      df.collect()
      val reused = collectWithSubqueries(df.queryExecution.executedPlan) { case r: ReusedExchangeExec => r }
      assert(reused.nonEmpty, s"$api: no reused exchange in\n${df.queryExecution.executedPlan}")
      val live = rows.where("id % 7 <> 0")
      assertSameResult(joined(live, live), df)
    }
  }

  test("IcebergTable.load over 40 files starts no Spark job before its action") {
    import spark.implicits._
    val path = tmpDir("graft_no_listing")
    val rows = (0 until 4000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(40)
    IcebergTable.write(rows, path)
    assert(IcebergTable.plan(spark, path).dataFiles.size == 40)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = IcebergTable.load(spark, path)
      df.queryExecution.executedPlan
      org.apache.spark.graft.BusDrain.drain(spark.sparkContext, 10000)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran while planning the read")
      assertSameResult(rows, df)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("DSv2 scan reports manifest-derived statistics; pruning shrinks them") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_stats_dsv2")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(partitionBy = Seq(
      ("o_orderdate", graft.core.Transforms.Month))))
    // The DSv2 stats surface (rowCount + column stats) is what CBO
    // estimation consumes; with CBO off the scan is substituted by its
    // inner plan (which carries the same post-pruning sizeInBytes).
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val full = spark.read.format("graft").load(path)
      val fullStats = full.queryExecution.optimizedPlan.stats
      val expectBytes = IcebergTable.plan(spark, path).dataFiles.map(_.info.fileSizeInBytes).sum
      assert(fullStats.sizeInBytes == BigInt(expectBytes),
        s"scan stats ${fullStats.sizeInBytes} != manifest file bytes $expectBytes")
      assert(fullStats.rowCount.contains(BigInt(src.count())),
        s"scan stats rowCount ${fullStats.rowCount} != ${src.count()}")
      // A month-pruning filter shrinks the ESTIMATE, not just the execution:
      // join planning on a filtered fact sees the filtered size.
      val bound = src.agg(min("o_orderdate")).collect()(0).getAs[java.time.LocalDateTime](0)
      val pruned = spark.read.format("graft").load(path)
        .filter(col("o_orderdate") < lit(bound).cast("timestamp_ntz"))
      val prunedStats = pruned.queryExecution.optimizedPlan.stats
      assert(prunedStats.sizeInBytes < fullStats.sizeInBytes,
        s"pruned estimate ${prunedStats.sizeInBytes} should be < ${fullStats.sizeInBytes}")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    // With CBO off, the substituted plan's estimate still reflects pruning.
    val substStats = spark.read.format("graft").load(path)
      .queryExecution.optimizedPlan.stats
    assert(substStats.sizeInBytes > 0)
  }

  test("cardinality estimate under MoR deletes: data rows minus delete rows " +
      "(iceberg_cardinality_estimates.test parity)") {
    import spark.implicits._
    val path = tmpDir("graft_stats_deletes")
    IcebergTable.write((0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "v"), path)
    IcebergTable.delete(spark, path, "id < 40") // 40 positional-delete rows
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.read.format("graft").load(path).queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(60)),
        s"estimate should be 100 data - 40 delete rows = 60, got ${stats.rowCount}")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("plan-time broadcast fires from reported stats alone (no AQE, no threshold bump)") {
    // A small dimension read through the DSv2 path must broadcast at PLAN
    // time purely because its reported size is under the threshold —
    // before stats reporting, unknown-size DSv2 relations defaulted to
    // "huge" and only AQE could rescue the join.
    val dimPath = tmpDir("graft_stats_dim")
    IcebergTable.write(spark.read.parquet(s"$sfDir/region.parquet"), dimPath)
    val factPath = tmpDir("graft_stats_fact")
    IcebergTable.write(spark.read.parquet(s"$sfDir/customer.parquet")
      .withColumn("c_regionkey", col("c_nationkey") % 5), factPath)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val dim = spark.read.format("graft").load(dimPath)
      val fact = spark.read.format("graft").load(factPath)
      val plan = formatted(fact.join(dim, col("c_regionkey") === col("r_regionkey")))
      assert(plan.contains("BroadcastHashJoin"),
        s"expected plan-time broadcast from reported stats:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("join of iceberg scan with small dimension broadcasts") {
    val nationPath = Fixtures.iceberg(spark, sfDir, "nation_plain") { dir =>
      IcebergTable.write(Fixtures.parquet(spark, sfDir, "nation"), dir)
    }
    val n = IcebergTable.load(spark, nationPath)
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    val joined = c.join(n, c("c_nationkey") === n("n_nationkey")).groupBy("n_name").count()
    joined.collect() // let AQE finalize
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n${plan.take(2000)}")
  }

  test("positional deletes are a scan filter, not a join or a shuffle") {
    val path = Fixtures.ordersDeleted(spark, sfDir)
    val df = IcebergTable.load(spark, path)
    val plan = formatted(df)
    assert(plan.contains("not_deleted") && !plan.contains("Join") && !plan.contains("Exchange"),
      s"expected the delete filter on the scan and no join:\n${plan.take(3000)}")
  }

  test("fact-fact join under bench tuning is a shuffled hash join, not sort-merge") {
    // The Bench session sets preferSortMergeJoin=false (BASELINE.md): on
    // fact⋈fact shapes SMJ pays two full sorts that a hash join skips —
    // at sf1 this single default cut dedup_minhash 452s → 27s and every
    // tq* multi-join 2–5×. This test pins the resulting plan shape.
    val before = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try {
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .hint("shuffle_hash") // pin vs broadcast so the asserted shape is deterministic
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus").count()
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"),
        s"expected shuffled hash join:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.join.preferSortMergeJoin", before)
  }

  test("column pruning reaches the parquet scan (ReadSchema is narrow)") {
    val path = Fixtures.lineitemPlain(spark, sfDir)
    val df = IcebergTable.load(spark, path).select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity") &&
      !readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"expected 2-column ReadSchema, got: $readSchema")
  }

  test("metadata aggregate pushdown: count/min/max answer from manifests, no data read") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = Fixtures.iceberg(spark, sfDir, "agg_pushdown_orders") { dir =>
      IcebergTable.write(src, dir)
    }
    val t = spark.read.format("graft").load(path)
    // Integer min/max: bounds are exact. (Float/double min/max stay on the
    // normal scan unless NaN counts prove zero — our writer does not emit
    // nan_value_counts, and NaN sits outside parquet bounds.)
    val q = t.agg(count(lit(1)).as("n"), min("o_custkey").as("mn"),
      max("o_custkey").as("mx"), count("o_custkey").as("nc"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"expected metadata-answered aggregate (LocalTableScan):\n${plan.take(1500)}")
    assert(!plan.contains("Scan parquet"), "no data file may be opened for a metadata aggregate")
    val row = q.collect()(0)
    val exp = src.agg(count(lit(1)), min("o_custkey"), max("o_custkey"), count("o_custkey")).collect()(0)
    assert(row == exp, s"metadata aggregate $row != scan aggregate $exp")
    // Doubles fall back (NaN-unsafe without nan_value_counts).
    assert(!t.agg(min("o_totalprice")).queryExecution.executedPlan.toString.contains("LocalTableScan"))

    // A filter disables the fast path (residual filters must re-apply).
    val filtered = t.where(col("o_orderstatus") === "F").agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(filtered.collect()(0).getLong(0) == src.filter("o_orderstatus = 'F'").count())

    // Deletes disable it too: counts from manifests would overcount.
    val delPath = Fixtures.ordersDeleted(spark, sfDir)
    val afterDelete = spark.read.format("graft").load(delPath).agg(count(lit(1)).as("n"))
    assert(!afterDelete.queryExecution.executedPlan.toString.contains("LocalTableScan"))

    // String min/max must NOT be answered from (possibly truncated) bounds.
    val strAgg = t.agg(min("o_orderstatus").as("m"))
    assert(!strAgg.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("aggregate pushdown fuzz: metadata answers always equal scan answers") {
    // Seeded random tables: nulls at random rates (including all-null
    // columns in some files), several files, int/long/date columns. The
    // pushed COUNT/MIN/MAX must equal the computed aggregate every time.
    import spark.implicits._
    val rng = new scala.util.Random(20260814L)
    for (round <- 1 to 5) {
      val n = 200 + rng.nextInt(800)
      val nullRate = rng.nextDouble() * 0.5
      val rows = (1 to n).map { i =>
        (i.toLong,
          if (rng.nextDouble() < nullRate) None else Some(rng.nextInt(10000) - 5000),
          if (round == 3) None else Some(rng.nextLong() % 1000000L),
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rng.nextInt(20000).toLong)))
      }
      val df = rows.toDF("id", "a", "b", "d").repartition(1 + rng.nextInt(5))
      val path = tmpDir(s"graft_aggfuzz_$round")
      IcebergTable.write(df, path)
      val t = spark.read.format("graft").load(path)
      val agg = t.agg(count(lit(1)).as("n"), count(col("a")).as("na"),
        min(col("a")).as("mna"), max(col("a")).as("mxa"),
        min(col("b")).as("mnb"), max(col("b")).as("mxb"),
        min(col("d")).as("mnd"), max(col("d")).as("mxd"))
      assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"round $round: aggregate should push to metadata")
      val got = agg.collect()(0)
      val exp = df.agg(count(lit(1)), count(col("a")), min(col("a")), max(col("a")),
        min(col("b")), max(col("b")), min(col("d")), max(col("d"))).collect()(0)
      assert(got == exp, s"round $round: pushed $got != computed $exp")
    }
  }

  test("IVF probe pushes the _ivf_cell IN predicate to the scan (no k-means in the query)") {
    import graft.pipeline.Similarity
    val idxDir = Fixtures.embeddingsIvfIndexed(spark, sfDir)
    val idx = Similarity.loadIvfIndex(spark, idxDir)
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 1).select("embedding").collect()(0).getSeq[Float](0)
    val cand = Similarity.ivfCandidates(idx, q, nprobe = 4)
    val plan = formatted(cand)
    assert(plan.contains("PushedFilters") && plan.contains("In(_ivf_cell"),
      s"expected _ivf_cell IN pushed to the parquet scan:\n$plan")
    // The probe reads a strict subset of cells (4 of 16).
    val total = idx.cells.count()
    val probed = cand.count()
    assert(probed > 0 && probed < total,
      s"probe should scan a subset: $probed of $total")
  }
}
