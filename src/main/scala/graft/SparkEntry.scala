package graft

import graft.pipeline.{Decontamination, Dedup, Sampling, Similarity, TextAnalysis}
import graft.read.ReadOptions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises an implemented operator; `oracleSql` holds
  * the equivalent DuckDB SQL over the raw parquet tables (same sfDir).
  * Iceberg-path queries write the parquet through the REAL engine write path
  * into a temp Iceberg table (cached per JVM) and read it back through the
  * REAL scan — so a hash match proves the full metadata/manifest/parquet/
  * pruning pipeline, not just Catalyst.
  */
object SparkEntry {

  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicInteger()

  private def pq(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H q1 core over an Iceberg roundtrip of lineitem. */
  def entry(spark: SparkSession): DataFrame = {
    val path = Fixtures.lineitemPlain(spark, "/root/testdata/sf0.001")
    q1Shape(IcebergTable.load(spark, path))
  }

  private def q1Shape(df: DataFrame): DataFrame = df
    .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
    .groupBy("l_returnflag", "l_linestatus")
    .agg(
      round(sum("l_quantity"), 2).as("sum_qty"),
      round(sum("l_extendedprice"), 2).as("sum_base_price"),
      round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
      round(avg("l_quantity"), 2).as("avg_qty"),
      round(avg("l_discount"), 4).as("avg_disc"),
      count(lit(1)).cast("long").as("count_order"))

  private val q1OracleShape =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 2) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * adapted TPC-H q2/q4/q7–q22 regression net (TpchExtra). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = TpchExtra.queries ++ Map(
    // ---- §2.10 delegated engine capabilities (joins/aggs/windows/setops) ----
    "q1_pricing" -> ((s, dir) => q1Shape(pq(s, dir, "lineitem"))),

    "q3_shipping" -> ((s, dir) => {
      val c = pq(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = pq(s, dir, "orders")
      val l = pq(s, dir, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    "q5_region_revenue" -> ((s, dir) => {
      val r = pq(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = pq(s, dir, "nation")
      val c = pq(s, dir, "customer")
      val o = pq(s, dir, "orders")
      val l = pq(s, dir, "lineitem")
      val sup = pq(s, dir, "supplier")
      r.join(n, col("n_regionkey") === col("r_regionkey"))
        .join(c, col("c_nationkey") === col("n_nationkey"))
        .join(o, col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),

    "q6_revenue" -> ((s, dir) =>
      pq(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).cast("long").as("n"))),

    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      pq(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    }),

    "q_except_setop" -> ((s, dir) =>
      pq(s, dir, "customer").select("c_custkey")
        .except(pq(s, dir, "orders").select(col("o_custkey").as("c_custkey")))),

    "q_distinct_agg" -> ((s, dir) =>
      pq(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").cast("long").as("distinct_parts"),
          countDistinct("l_suppkey").cast("long").as("distinct_supps"))),

    "q_rollup" -> ((s, dir) =>
      pq(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum("l_quantity"), 2).as("qty"))),

    "q_semi_join" -> ((s, dir) => {
      val o = pq(s, dir, "orders")
      val l = pq(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).cast("long").as("n"))
    }),

    "q_anti_join" -> ((s, dir) => {
      val p = pq(s, dir, "part")
      val l = pq(s, dir, "lineitem")
      p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
        .select("p_partkey", "p_brand")
    }),

    // The two graft planner rewrites (plans/SemiJoinPlacement,
    // plans/SemiJoinDistinctify) are gated on NON-broadcastable build sides
    // and so are inert at sf0.01 under normal thresholds — these entries run
    // in a CLONED session (own SQLConf, shared context) with a 16 KB
    // threshold (below lineitem's COLUMN-PRUNED estimate, ~90 KB at sf0.01)
    // so lineitem is shuffle-sized, supplier/nation broadcast, and
    // BOTH rules fire (verified by SemiJoinPlacementSpec/DistinctifySpec at
    // the plan level); DuckDB then hash-verifies the rewritten semantics.
    "q_rewrite_semi_neq" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "16384")
      Seq("lineitem", "supplier", "nation").foreach(t =>
        pq(s2, dir, t).createOrReplaceTempView(s"rw_$t"))
      // tq21 core: EXISTS with the <> correlation -> min/max build rewrite,
      // pulled above the broadcast supplier x nation dimension join.
      s2.sql("""
        SELECT s_name, CAST(count(*) AS BIGINT) AS waiting
        FROM rw_lineitem l1, rw_supplier, rw_nation
        WHERE s_suppkey = l1.l_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_3'
          AND EXISTS (SELECT 1 FROM rw_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name""")
    }),

    "q_rewrite_anti_distinct" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "16384")
      Seq("customer", "events").foreach(t =>
        pq(s2, dir, t).createOrReplaceTempView(s"rwa_$t"))
      // Bare NOT-EXISTS build -> distinct-key aggregate under the anti join
      // (customers with no events: non-empty at every driver SF).
      s2.sql("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
        FROM rwa_customer
        WHERE NOT EXISTS (SELECT 1 FROM rwa_events WHERE user_id = c_custkey)
        GROUP BY c_mktsegment""")
    }),

    "q_rewrite_anti_neq" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "16384")
      Seq("orders", "lineitem").foreach(t =>
        pq(s2, dir, t).createOrReplaceTempView(s"rwn_$t"))
      // NOT EXISTS with the <> correlation: the min/max build rewrite on
      // the ANTI side (orders whose every lineitem has suppkey = custkey).
      s2.sql("""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        FROM rwn_orders
        WHERE NOT EXISTS (SELECT 1 FROM rwn_lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_suppkey <> o_custkey)
        GROUP BY o_orderstatus""")
    }),

    "q_rewrite_semi_range" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "16384")
      Seq("orders", "lineitem").foreach(t =>
        pq(s2, dir, t).createOrReplaceTempView(s"rwr_$t"))
      // tq4 core: EXISTS with a range correlation -> per-key max(l_shipdate)
      // build reduction (DistinctifySemiAntiBuilds shape 3).
      s2.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM rwr_orders
        WHERE EXISTS (SELECT 1 FROM rwr_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority""")
    }),

    "q_rewrite_anti_neq_range" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "16384")
      Seq("orders", "lineitem").foreach(t =>
        pq(s2, dir, t).createOrReplaceTempView(s"rwq_$t"))
      // tq21 NOT-EXISTS core: <> plus range correlation -> the
      // top_two_distinct_extreme build reduction (shape 4).
      s2.sql("""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        FROM rwq_orders
        WHERE NOT EXISTS (SELECT 1 FROM rwq_lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_suppkey <> o_custkey
                            AND l_shipdate > o_orderdate)
        GROUP BY o_orderstatus""")
    }),

    "q_case_projection" -> ((s, dir) =>
      pq(s, dir, "orders")
        .withColumn("price_band",
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high"))
        .groupBy("price_band")
        .agg(count(lit(1)).cast("long").as("n"),
          round(avg("o_totalprice"), 2).as("avg_price"))),

    "q_intersect" -> ((s, dir) => {
      val o = pq(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
        .intersect(o.filter(year(col("o_orderdate")) === 1997).select("o_custkey"))
    }),

    // adj_total computes as DECIMAL on both sides (a double sum over ~45k
    // values per group is association-ordered; decimal arithmetic is
    // order-exact) but is EMITTED as exact integer ten-thousandths
    // (BIGINT). Three driver rounds (r11-r13) proved every
    // CAST(sum(...) AS DECIMAL(38,s)) emission hash-fails the driver
    // comparator while rows+schema match and the local DuckDB oracle
    // agrees — a max-precision (HUGEINT-backed) decimal representation
    // divergence in the driver's fetch path, not a value error. The
    // per-row product has exact scale 4, so the *10^4 shift is lossless
    // and int64 renders one way everywhere (sf1 group magnitude ~2e14,
    // 4 orders of headroom).
    "q_date_string_fns" -> ((s, dir) =>
      pq(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          substring(col("o_orderpriority"), 1, 1).as("prio"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum((col("o_totalprice").cast("decimal(18,2)") * expr("CAST(1.05 AS DECIMAL(4,2))"))
            .cast("decimal(28,4)").multiply(lit(10000).cast("decimal(5,0)")).cast("long"))
            .cast("long").as("adj_total_e4"))),

    // ---- Decimal wire-format probes ----
    // The r14 deliberately-red bisection probes (dec18/dec28/dec38, the
    // trailing-zero constant 321.0000 at three precisions) did their job:
    // they pinned the driver comparator divergence to trailing-zero
    // decimal RENDERING at ANY precision (all three hash-failed while
    // dec38_nz and str passed) — the fetch asymmetry str(321.0) !=
    // str(Decimal('321.0000')). They are retired to side_* no-oracle
    // dumps below so CORRECTNESS_r15+ carries zero by-design reds; the
    // two GREEN canaries stay oracled to catch a comparator regression:
    //   - probe_wire_str: max-precision decimal rendered to STRING.
    //   - probe_wire_dec38_nz: DECIMAL(38,4) whose constant value
    //     (7 * 1.0101 = 7.0707) has a NON-zero last scale digit.
    // Wire rule (SURVEY §2.10): aggregate results cross the oracle wire as
    // BIGINT integer units, STRING, or rounded DOUBLE — never a
    // fixed-scale DECIMAL of any precision.
    "probe_wire_str" -> ((s, dir) =>
      pq(s, dir, "nation")
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.07 AS DECIMAL(3,2))"))
          .cast("decimal(38,4)").cast("string").as("v"))),
    "probe_wire_dec38_nz" -> ((s, dir) =>
      pq(s, dir, "nation").filter(col("n_nationkey") === 7)
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.0101 AS DECIMAL(5,4))"))
          .cast("decimal(38,4)").as("v"))),
    // Wire-safe re-coverage of the retired precisions (r15 verdict item 1):
    // the same sum(n_nationkey * 1.07) aggregate is computed AT each target
    // precision (the cast to DECIMAL(p,4) happens before any shift), then
    // crosses the wire as BIGINT e4 units per the wire rule. dec38 narrows
    // losslessly to (18,4) after the 38-wide roundtrip because a direct
    // (38,4)x(5,0) product needs width 43, which DuckDB cannot represent.
    "probe_wire_dec18_units" -> ((s, dir) =>
      pq(s, dir, "nation")
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.07 AS DECIMAL(3,2))"))
          .cast("decimal(18,4)").multiply(lit(10000).cast("decimal(5,0)")).cast("long").as("v_e4"))),
    "probe_wire_dec28_units" -> ((s, dir) =>
      pq(s, dir, "nation")
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.07 AS DECIMAL(3,2))"))
          .cast("decimal(28,4)").multiply(lit(10000).cast("decimal(5,0)")).cast("long").as("v_e4"))),
    "probe_wire_dec38_units" -> ((s, dir) =>
      pq(s, dir, "nation")
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.07 AS DECIMAL(3,2))"))
          .cast("decimal(38,4)").cast("decimal(18,4)")
          .multiply(lit(10000).cast("decimal(5,0)")).cast("long").as("v_e4"))),
    // Retired bisection probes — self-describing dumps only (no oracle):
    // kept so the artifact still RECORDS the failing wire shapes next to
    // the green canaries without training readers to ignore red rows.
    "side_probe_dec18" -> ((s, dir) =>
      pq(s, dir, "nation")
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.07 AS DECIMAL(3,2))"))
          .cast("decimal(18,4)").as("v"))),
    "side_probe_dec28" -> ((s, dir) =>
      pq(s, dir, "nation")
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.07 AS DECIMAL(3,2))"))
          .cast("decimal(28,4)").as("v"))),
    "side_probe_dec38" -> ((s, dir) =>
      pq(s, dir, "nation")
        .agg(sum(col("n_nationkey").cast("decimal(9,2)") * expr("CAST(1.07 AS DECIMAL(3,2))"))
          .cast("decimal(38,4)").as("v"))),

    // ---- §2.1/2.4 Iceberg write + scan roundtrips ----
    "ice_q1_roundtrip" -> ((s, dir) =>
      q1Shape(IcebergTable.load(s, Fixtures.lineitemPlain(s, dir)))),

    "ice_month_prune" -> ((s, dir) =>
      // Via the DSv2 front-end: Catalyst pushes the filter into the scan
      // builder, which drives month-transform partition pruning.
      s.read.format("graft").load(Fixtures.ordersByMonth(s, dir))
        .where(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum("o_totalprice"), 2).as("total"))),

    "ice_bucket_prune" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.lineitemBucketed(s, dir),
          ReadOptions(filterSql = Some("l_orderkey = 42")))
        .agg(round(sum("l_quantity"), 2).as("qty"),
          count(lit(1)).cast("long").as("n"))),

    // `<table>.partitions` metadata table: per-partition row counts must
    // equal a plain GROUP BY over the source (value-exact oracle; file
    // counts/bytes are engine-internal and verified in the SQL spec).
    "meta_partitions" -> ((s, dir) =>
      IcebergTable.partitions(s, Fixtures.ordersPartitionAnalyzed(s, dir))
        .select(col("partition"), col("record_count"))),

    // Geometry bbox scan: WKB points with Appendix-D bounds; the bbox
    // predicate prunes files and filters rows. Point coordinates are
    // key-derived so DuckDB can oracle it with two BETWEENs.
    "ice_geometry_bbox" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.supplierGeo(s, dir),
          ReadOptions(filterSql = Some("st_intersects_bbox(geom, 10.0D, 20.0D, 30.0D, 40.0D)")))
        .select(col("s_suppkey"))),

    "ice_time_travel" -> ((s, dir) => {
      val (path, firstSnap) = Fixtures.ordersTwoSnapshots(s, dir)
      IcebergTable.load(s, path, ReadOptions(snapshotId = Some(firstSnap)))
    }),

    "ice_sorted_write" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.lineitemSorted(s, dir))),

    "ice_partition_evolution" -> ((s, dir) =>
      // Mixed-spec read: unpartitioned old files + month-partitioned new
      // files in one table (Fixtures.ordersPartitionEvolved).
      IcebergTable.load(s, Fixtures.ordersPartitionEvolved(s, dir))),

    "ice_branch_wap" -> ((s, dir) =>
      // Write-audit-publish via a branch: append to 'audit', verify main
      // isolation, fast-forward main (Fixtures.ordersWap).
      IcebergTable.load(s, Fixtures.ordersWap(s, dir))),

    "ice_rollback" -> ((s, dir) =>
      // DELETE then rollback_to_snapshot over it: final state = original.
      IcebergTable.load(s, Fixtures.ordersRolledBack(s, dir))),

    // ---- §2.4 row-level DML (merge-on-read) ----
    "ice_delete_mor" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.ordersDeleted(s, dir))),

    "ice_update_mor" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.ordersUpdated(s, dir))),

    "ice_merge_into" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.customerMerged(s, dir))),

    "sql_update_mor" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.sqlOrdersUpdated(s, dir))),

    "sql_merge_into" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.sqlCustomerMerged(s, dir))),

    "ice_rewrite_compact" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.lineitemRewritten(s, dir))),

    "sql_rewrite_compact" -> ((s, dir) => {
      // Compaction driven entirely from SQL: CALL system.rewrite_data_files
      // through the catalog, then read the compacted table back via SQL.
      val path = Fixtures.sqlOrdersRewritten(s, dir)
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftSparkCatalog")
      s.sql(s"SELECT * FROM graft.`$path`")
    }),

    "ice_schema_evolution" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.ordersEvolved(s, dir))),

    "ice_dv_delete" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.ordersDvDeleted(s, dir))),

    "ice_eq_delete" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.customerEqDeleted(s, dir))),

    // WRITE path for equality deletes: the SQL DELETE routed through the
    // equality-delete writer (not the direct deleteEquality API), read back.
    "ice_eq_delete_write" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.ordersEqDeleteWrite(s, dir))),

    // VARIANT column written through the graft writer (v3) and read back:
    // variant_get extracts typed fields; the predicate exercises the
    // variant filter intake end-to-end on a graft-WRITTEN table.
    "ice_variant" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.ordersVariantWritten(s, dir),
          ReadOptions(filterSql = Some("variant_get(payload, '$.total', 'double') > 450000.0D")))
        .selectExpr("o_orderkey",
          "variant_get(payload, '$.status', 'string') AS status",
          "variant_get(payload, '$.total', 'double') AS total")),

    "ice_topk_scan_order" -> ((s, dir) =>
      IcebergTable.topK(s, Fixtures.ordersMultiFile(s, dir), "o_orderkey", 10, descending = true)
        .select("o_orderkey", "o_totalprice")),

    // ---- §2.8 scalar functions ----
    "fn_truncate" -> ((s, dir) => {
      graft.functions.IcebergFunctions.register(s)
      pq(s, dir, "lineitem").filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"),
          call_function("iceberg_truncate", lit(100), col("l_orderkey")).as("trunc_100"))
        .distinct()
    }),

    "fn_bucket" -> ((s, dir) => {
      graft.functions.IcebergFunctions.register(s)
      pq(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"),
          call_function("iceberg_bucket", lit(16), col("l_orderkey")).as("bucket"))
        .distinct()
    }),

    // ---- §2.1 metadata table functions ----
    // Each projects the independently-derivable columns so the driver can
    // VALUE-check them (vs a side dataset computed through a different code
    // path, or pure SQL over the source data); the full-width tables stay
    // value-pinned against reference expectations in
    // MetadataTablesGoldenSpec.
    "meta_snapshots" -> ((s, dir) =>
      IcebergTable.snapshots(s, Fixtures.ordersTwoSnapshots(s, dir)._1)),
    "meta_manifest_entries" -> ((s, dir) =>
      // Key on partition-dir/leaf: Spark's writer reuses the same part-file
      // NAME across partition directories, so the bare leaf is not unique.
      IcebergTable.manifestEntries(s, Fixtures.ordersByMonth(s, dir))
        .select(regexp_extract(col("file_path"), "([^/]+/[^/]+)$", 1).as("file_name"),
          col("status"), col("content"), col("file_format"),
          col("record_count"), col("file_size_in_bytes"),
          col("data_sequence_number"))),
    "meta_column_stats" -> ((s, dir) =>
      IcebergTable.columnStats(s, Fixtures.lineitemPlain(s, dir))
        .filter(col("content") === "DATA" && col("column_name").isin(MetaStatCols: _*))
        .select(regexp_extract(col("file_path"), "([^/]+)$", 1).as("file_name"),
          col("column_name"), col("lower_bound"), col("upper_bound"),
          col("value_count"), col("null_value_count"))),
    "meta_partition_stats" -> ((s, dir) =>
      IcebergTable.partitionStats(s, Fixtures.ordersByMonth(s, dir))
        .select(col("manifest_content"), col("partition_field_name"),
          col("contains_null"), col("lower_bound"), col("upper_bound"))),

    // ANALYZE: compute_table_stats writes a Puffin NDV statistics file; the
    // query surfaces the registered NDV for two small-cardinality columns,
    // where HyperLogLog++ is exact — so the DuckDB oracle can compare
    // against exact COUNT(DISTINCT ...) values.
    "meta_ndv_stats" -> ((s, dir) => {
      val path = Fixtures.ordersAnalyzed(s, dir)
      val conf = s.sessionState.newHadoopConf()
      val meta = graft.core.TableMetadata.load(path, conf)
      val ndv = meta.ndvFor(meta.currentSnapshot.get.snapshotId)
      val byName = meta.currentSchema.fields.map(f => f.name -> f.id).toMap
      import s.implicits._
      Seq("o_orderpriority", "o_orderstatus")
        .map(c => (c, ndv(byName(c)))).toDF("column_name", "ndv")
    }),

    // Partition-statistics FILE (Iceberg spec schema, written by
    // compute_partition_stats): per-partition record counts come straight
    // from the registered parquet file, no manifest walk.
    "meta_partition_stats_file" -> ((s, dir) => {
      val path = Fixtures.ordersPartitionAnalyzed(s, dir)
      val conf = s.sessionState.newHadoopConf()
      val meta = graft.core.TableMetadata.load(path, conf)
      s.read.parquet(meta.partitionStatistics.head.path)
        .selectExpr("partition.o_orderstatus AS o_orderstatus",
          "data_record_count AS n_rows")
    }),

    // Nested-collection schema evolution: one scan over pre- and
    // post-evolution files of a list<struct> column whose element struct
    // was widened, extended, renamed, and shrunk — reference expectations
    // are fixed values (schema_evolve_struct_in_list.test:17-21), so the
    // oracle is a VALUES literal.
    "ice_nested_evolution" -> ((s, dir) =>
      IcebergTable.load(s, Fixtures.nestedEvolved(s, dir))
        .selectExpr("explode(tags) AS t")
        .selectExpr("t.given_name AS given_name", "t.age AS age")),

    // Metadata-only aggregate pushdown (DSv2): COUNT(*)/COUNT/MIN/MAX
    // answered from manifest counts and bounds — no data file opened.
    "ice_agg_pushdown" -> ((s, dir) =>
      s.read.format("graft").load(Fixtures.plain(s, dir, "orders"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust"),
          count(col("o_orderkey")).cast("long").as("n_orders"))),

    // ---- pipeline: dedup ----
    "dedup_exact" -> ((s, dir) => {
      val d = pq(s, dir, "documents").select("doc_id", "text")
      val dup = d.union(d.select(col("doc_id") + 1000000, col("text")))
      Dedup.exactGroups(dup, "text", "doc_id")
    }),

    "dedup_minhash" -> ((s, dir) => {
      val d = pq(s, dir, "documents").select("doc_id", "text")
      // Mutated copy guarantees near-dup (not exact-dup) pairs.
      val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended-tail-token")).as("text"))
      val all = d.union(mutated)
      // MinHash-LSH banding candidates (a pair with exact-J >= 0.9 shares a
      // band with probability 1 - ~4e-8), re-scored with EXACT 3-shingle
      // Jaccard — deterministic, so the quadratic DuckDB oracle computes
      // the identical pair set. The corpus is scanned, never shuffled; the
      // candidates' shingle sets broadcast below
      // Dedup.broadcastCandidateLimit rows, past it the re-score joins
      // shuffle instead.
      Dedup.minhashNearDuplicatesExact(all, "text", "doc_id", threshold = 0.9)
    }),

    // Cluster resolution over the near-dup pair set: connected components
    // (pointer-jumping min-label propagation) assign every doc its
    // cluster's minimum id — one canonical doc per near-dup FAMILY, not
    // per pair.
    "dedup_clusters" -> ((s, dir) => {
      val d = pq(s, dir, "documents").select("doc_id", "text")
      val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended-tail-token")).as("text"))
      val all = d.union(mutated)
      val pairs = Dedup.minhashNearDuplicatesExact(all, "text", "doc_id", threshold = 0.9)
      Dedup.resolveClusters(all, "doc_id", pairs)
    }),

    // Planted-truth variant: cluster verification at ANY SF for an O(n)
    // oracle. The quadratic exact-Jaccard oracle above costs ~80 min of
    // DuckDB at sf1 (the one tuned-oracle exclusion through r14); here the
    // corpus is GENERATED from doc ids with pairwise-disjoint token sets
    // across families — family i = base (80 unique tokens "w<i>a<j>") plus
    // 3 near-dup variants (two appended tail tokens each, pairwise Jaccard
    // 78/82 ≈ 0.951 ≥ 0.9), families i % 7 == 0 planted as singletons to
    // cover the unlabeled-coalesce path. Cross-family shingle sets are
    // disjoint, so any LSH band collision is killed by the exact re-score
    // and TRUE membership (cluster = min id of the family) is known by
    // construction: the oracle checks the full minhash → banded LSH →
    // exact re-score → connected-components path without a similarity
    // join. Same pipeline code as dedup_clusters; only the corpus is
    // synthetic.
    "dedup_clusters_planted" -> ((s, dir) => {
      val ids = pq(s, dir, "documents").select(col("doc_id").as("i"))
      // Repartition the 16-byte (id, variant) rows BEFORE the text
      // generation expressions (guide §8: move the lightweight proxy, not
      // the payload): the documents fixture is one scan split, so the
      // ~80-token concat_ws generation otherwise runs single-threaded —
      // twice, once per corpus consumer (observed: 2 x ~6.8 s one-task
      // stages at sf1) — and any later repartition ships the generated
      // text. Hash-partitioned id rows make both generation passes
      // core-parallel for a ~1 MB shuffle.
      val fam = ids.select(col("i"), explode(
        when(col("i") % 7 === 0, array(lit(0)))
          .otherwise(array(lit(0), lit(1), lit(2), lit(3)))).as("k"))
        .repartition(s.sparkContext.defaultParallelism, col("i"), col("k"))
      val corpus = fam.select(
        (col("i") * 10 + col("k")).cast("long").as("doc_id"),
        concat(
          concat_ws(" ", transform(sequence(lit(1), lit(80)),
            j => concat(lit("w"), col("i"), lit("a"), j))),
          when(col("k") === 0, lit("")).otherwise(
            concat(lit(" tail"), col("k"), lit("a tail"), col("k"), lit("b"))))
          .as("text"))
      val pairs = Dedup.minhashNearDuplicatesExact(corpus, "text", "doc_id", threshold = 0.9)
      Dedup.resolveClusters(corpus, "doc_id", pairs)
    }),

    "dedup_simhash" -> ((s, dir) => {
      val d = pq(s, dir, "documents").select("doc_id", "text")
      val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      Dedup.simhashNearDuplicates(d.union(mutated), "text", "doc_id", maxHamming = 3)
        .select("id_a", "id_b", "hamming")
    }),

    // ---- pipeline: similarity search ----
    "ann_topk_bruteforce" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 1).select("embedding").collect()(0)
        .getSeq[Float](0)
      Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 1), "embedding", "vec_id", q, 20)
        .select("rank", "vec_id")
    }),

    "ann_topk_lsh" -> ((s, dir) => {
      // Probes a PRE-BUILT signature index (stored `_sig` column, built once
      // per corpus) — candidate selection is a codegen'd bit test, no UDF at
      // query time.
      val idx = s.read.parquet(s"${Fixtures.embeddingsSigIndexed(s, dir)}/indexed")
      val q = pq(s, dir, "embeddings").filter(col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.lshTopKIndexed(idx.filter(col("vec_id") =!= 1), "embedding", "vec_id", q, 20)
        .select("rank", "vec_id")
    }),

    "ann_topk_ivf" -> ((s, dir) => {
      // IVF: probes a PRE-BUILT index (k-means trained once at ingest, cell
      // id a stored INT column) — the partition-prunable ANN path. The
      // timed query is centroid ranking (driver, 16 dot products) + a
      // cell-IN-filtered scan; the k-means fit never runs here.
      val idx = Similarity.loadIvfIndex(s, Fixtures.embeddingsIvfIndexed(s, dir))
      val q = pq(s, dir, "embeddings").filter(col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.ivfTopKIndexed(
        idx.copy(cells = idx.cells.filter(col("vec_id") =!= 1)),
        "embedding", "vec_id", q, 20, nprobe = 4)
        .select("rank", "vec_id")
    }),

    // ---- SQL catalog front-end (CatalogPlugin) ----
    "sql_catalog_q6" -> ((s, dir) => {
      // Pure SQL through spark.sql.catalog.graft over an Iceberg roundtrip:
      // filter pushdown + pruning run inside the catalog-resolved DSv2 scan.
      val path = Fixtures.lineitemPlain(s, dir)
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftSparkCatalog")
      s.sql(
        s"""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM graft.`$path`
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)
    }),

    "sql_time_travel" -> ((s, dir) => {
      // `VERSION AS OF` via a warehouse-backed catalog name (Spark only
      // applies SQL time travel to catalog-resolved relations).
      val (path, firstSnap) = Fixtures.ordersTwoSnapshots(s, dir)
      val p = java.nio.file.Paths.get(path)
      s.conf.set("spark.sql.catalog.graft_wh", "graft.catalog.GraftSparkCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.warehouse", p.getParent.toString)
      s.sql(s"SELECT * FROM graft_wh.`${p.getFileName}` VERSION AS OF $firstSnap")
    }),

    // ---- streaming / incremental ----
    "stream_incremental" -> ((s, dir) => {
      val (path, firstSnap) = Fixtures.ordersTwoSnapshots(s, dir)
      graft.streaming.Streams.appendsSince(s, path, firstSnap)
    }),

    "stream_changelog" -> ((s, dir) => {
      // CDC read over open orders + a priority-purge DELETE: inserts from
      // the initial write, deletes for the purged rows (snapshot ids are
      // run-dependent, so only change type + row content are projected).
      val path = Fixtures.ordersChangelog(s, dir)
      val head = graft.core.TableMetadata
        .load(path, s.sessionState.newHadoopConf()).currentSnapshotId.get
      IcebergTable.changesBetween(s, path, None, head)
        .drop("_commit_snapshot_id", "_change_ordinal")
    }),

    "stream_microbatch" -> ((s, dir) => {
      // readStream.format("graft"): one AvailableNow-style pass over the
      // table delivers every snapshot's files through the micro-batch path.
      // The sink is parquet, not memory: a memory sink collects every row
      // to the driver (at sf1 that is 3M rows and was the dominant, noisy
      // cost of this entry), while the parquet sink keeps the row traffic
      // executor-side — the shape a real stream-to-table pipeline has.
      val (path, _) = Fixtures.ordersTwoSnapshots(s, dir)
      val out = java.nio.file.Files
        .createTempDirectory(s"graft_stream_sink_${streamSinkSeq.incrementAndGet()}_")
      val q = s.readStream.format("graft").load(path)
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination()
      s.read.parquet(s"$out/data")
    }),

    "stream_to_table" -> ((s, dir) => {
      // The full streaming loop: readStream.format("graft") from one Iceberg
      // table -> writeStream.format("graft") into another. Each micro-batch
      // commits one APPEND snapshot with an exactly-once watermark in the
      // snapshot summary; rows never touch the driver.
      val (src, _) = Fixtures.ordersTwoSnapshots(s, dir)
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_stream_tbl_${streamSinkSeq.incrementAndGet()}_")
      val dst = s"$tmp/dst"
      graft.write.IcebergWrite.createTable(s, dst,
        s.read.format("graft").load(src).schema)
      val q = s.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination()
      IcebergTable.load(s, dst)
    }),

    "stream_dedup" -> ((s, dir) => {
      // Stateful streaming deduplication — the training-ingest pattern: a
      // stream that re-delivers rows (source retries, at-least-once
      // upstreams) deduped on a key as it lands. The two-snapshot fixture
      // appends the full orders table twice, so every key arrives twice
      // (possibly across micro-batches); dropDuplicates holds the seen-key
      // set in the state store, which persists across batches. The
      // duplicate copies are byte-identical, so which copy survives is
      // immaterial and the result is deterministic: orders, once.
      // At 100 TB the unbounded seen-set is the hazard — production
      // ingest bounds it with dropDuplicatesWithinWatermark (keys expire
      // after the lateness horizon); the fixture has no event-time skew to
      // exercise that, so this pins the exact-state path.
      val (src, _) = Fixtures.ordersTwoSnapshots(s, dir)
      val out = java.nio.file.Files
        .createTempDirectory(s"graft_stream_dedup_${streamSinkSeq.incrementAndGet()}_")
      val q = s.readStream.format("graft").load(src)
        .dropDuplicates("o_orderkey")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination()
      s.read.parquet(s"$out/data")
    }),

    "q_events_hourly" -> ((s, dir) => {
      graft.read.IcebergRead.ensureConfs(s)
      graft.streaming.Streams.windowedEventCounts(pq(s, dir, "events"), "ts")
        .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
    }),

    "q_sessionize" -> ((s, dir) => {
      graft.read.IcebergRead.ensureConfs(s)
      // 30-minute session gap; ts normalized to epoch micros whatever the
      // fixture's physical type (ns-long or timestamp[us]).
      val raw = pq(s, dir, "events")
      val events = raw.withColumn("ts_us", graft.core.EventTime.asMicros(raw, "ts"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      events
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .groupBy("user_id")
        .agg((lit(1) + sum(when(col("gap_us") > 1800000000L, 1).otherwise(0)))
          .cast("long").as("sessions"))
    }),

    // ---- pipeline: multimodal columns ----
    "mm_payload_meta" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
        .withColumn("payload", graft.pipeline.Multimodal.syntheticPayload(col("text"), col("doc_id")))
      graft.pipeline.Multimodal.attachMetadata(docs, "payload")
        .groupBy(col("media_meta.media_type").as("media_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("media_meta.byte_length")).cast("long").as("total_bytes"))
    }),

    "mm_features" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
        .withColumn("payload", graft.pipeline.Multimodal.syntheticPayload(col("text"), col("doc_id")))
      graft.pipeline.Multimodal.extractFeatures(
        graft.pipeline.Multimodal.attachMetadata(docs, "payload"), "payload", dim = 8)
        .select(col("doc_id"), col("media_meta.media_type").as("media_type"),
          round(element_at(col("feature"), 1).cast("double"), 4).as("f0"))
    }),

    // REAL decode round trip: realPayload emits genuinely decodable
    // PNG/JPEG/WAV bytes; attachMetadata decodes them through the JDK's
    // codecs; the oracle checks the closed forms the generator used —
    // a broken (or stubbed) decode cannot match.
    "mm_decode_meta" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select("doc_id")
        .withColumn("payload", graft.pipeline.Multimodal.realPayload(col("doc_id")))
      graft.pipeline.Multimodal.attachMetadata(docs, "payload")
        .select(col("doc_id"),
          col("media_meta.media_type").as("media_type"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.sample_rate").as("sample_rate"),
          col("media_meta.n_frames").as("n_frames"))
    }),

    // REAL transcode: decode → bilinear scale to fit 24px → re-encode PNG,
    // then decode the TRANSCODED bytes again for the answer. JPEG fixtures
    // are all inside the edge (pass through untouched, stay image/jpeg);
    // oversize PNGs come back as resized PNGs.
    "mm_resize_roundtrip" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 4 < 2)
        .withColumn("payload", graft.pipeline.Multimodal.realPayload(col("doc_id")))
      val resized = graft.pipeline.Multimodal.resizeImages(docs, "payload", maxEdge = 24)
      graft.pipeline.Multimodal.attachMetadata(resized, "payload")
        .select(col("doc_id"),
          col("media_meta.media_type").as("media_type"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"))
    }),

    // REAL pixel decode: per-image mean R/G/B over every pixel. PNG is
    // lossless, so the means equal the generator's fill color exactly.
    "mm_pixel_stats" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 4 === 0)
        .withColumn("payload", graft.pipeline.Multimodal.realPayload(col("doc_id")))
      graft.pipeline.Multimodal.pixelStats(docs, "payload")
        .select(col("doc_id"), col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    "dedup_embedding" -> ((s, dir) => {
      val e = pq(s, dir, "embeddings").select("vec_id", "embedding")
      // exact copies under shifted ids guarantee cosine-1.0 near-dup pairs
      val dup = e.union(e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      graft.pipeline.Similarity.cosineNearDuplicates(dup, "embedding", "vec_id", threshold = 0.99)
        .select("id_a", "id_b")
    }),

    // ---- pipeline: text analysis ----
    "text_stats" -> ((s, dir) =>
      pq(s, dir, "documents")
        .withColumn("ntok", TextAnalysis.tokenCountCol(col("text")).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("docs"),
          sum("ntok").as("total_tokens"),
          round(avg("n_chars"), 2).as("avg_chars"))),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(pq(s, dir, "documents"), "text")
        .select(col("doc_id"), col("word_count"),
          round(col("quality_score"), 4).as("quality_score"))),

    "text_langid" -> ((s, dir) =>
      pq(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.langIdUdf(col("text")))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).cast("long").as("n"))),

    "text_fingerprint" -> ((s, dir) =>
      pq(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintUdf(col("text")).as("fp"))),

    // Context-window chunking: one row per overlapping token window
    // (max 64 tokens, stride 48) — the packing step before training.
    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(
        pq(s, dir, "documents").select("doc_id", "text"),
        "text", "doc_id", maxTokens = 64, overlap = 16)),

    // Benchmark decontamination: per-doc fraction of 3-gram shingles that
    // appear in an "eval set" (every 37th doc's text). Eval shingles
    // broadcast; one corpus shuffle.
    "text_decontaminate" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select("doc_id", "text")
      val evalSet = docs.filter(col("doc_id") % 37 === 0).select(col("text").as("eval_text"))
      Decontamination.contamination(docs, "text", "doc_id", evalSet, "eval_text",
        n = 3, threshold = 0.5)
    }),

    // Deterministic hash-bucket split: re-running on the same corpus (or
    // another engine) reproduces the same train/val/test assignment.
    "text_split" -> ((s, dir) =>
      Sampling.deterministicSplit(
        pq(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .groupBy("split").agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("n_chars").cast("long").as("n_chars"))),

    // Deterministic domain-mix resampling: down-weight dominant languages
    // by id-hash bucket — no RNG, no shuffle.
    "text_resample" -> ((s, dir) =>
      Sampling.resampleByRates(
        pq(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", Map("en" -> 0.25, "zh" -> 0.5), defaultRate = 1.0)
        .groupBy("lang").agg(count(lit(1)).cast("long").as("n_docs"))),

    // Sharded greedy sequence packing by token budget: per-shard cumulative
    // sums, never a global sort.
    "text_pack" -> ((s, dir) =>
      Sampling.packByTokenBudget(
        pq(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", tokenBudget = 4096, shards = 16)
        .groupBy("pack_shard", "pack_bin").agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("n_chars").cast("long").as("bin_chars"))),

    // PII detection over the corpus. The synthetic documents carry no PII,
    // so deterministic PII is injected by doc_id residue IDENTICALLY here
    // and in the oracle SQL — the regex counting is what's under test.
    "text_pii" -> ((s, dir) => {
      val d = pq(s, dir, "documents").select("doc_id", "text")
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@corp-mail.com now"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see https://example.org/doc/"), col("doc_id"), lit(" page"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call +1415550"), col("doc_id") % 10000, lit(" today"))).otherwise(lit(""))))
      TextAnalysis.piiFeatures(d, "text")
        .select("doc_id", "n_emails", "n_urls", "n_phones")
    }))

  /** Side datasets Verify dumps next to the query results: the ANN
    * candidate sets (deterministic — seeded planes / persisted centroids),
    * which turn the rows-only ANN checks into exact value oracles. The
    * oracle SQL references them through the `__GRAFT_OUT__` placeholder,
    * which Verify substitutes with its absolute output dir: DuckDB then
    * re-scores the exact candidate set and must reproduce the top-k.
    *
    * Every entry is `side_`-prefixed: these are ORACLE INPUTS, not result
    * claims, so they intentionally carry no oracleSql of their own — the
    * driver's correctness artifact records them as `no_oracle`, and the
    * prefix is the self-describing marker for that (each one's consuming
    * query IS the check: `fn_bucket`, `meta_*`, `ann_topk_*`). */
  def sideData: Map[String, (SparkSession, String) => DataFrame] = TpchExtra.wireProbes ++ Map(
    // Divergence probe for the fourth r13 hash-fail (see
    // TpchExtra.wireProbeSql): q_date_string_fns' decimal sum rendered as
    // a fixed-scale STRING next to the r14 integer-units BIGINT, so the
    // driver artifact records the exact digits Spark computed.
    "side_wire_q_date_string_fns" -> ((s, dir) =>
      pq(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          substring(col("o_orderpriority"), 1, 1).as("prio"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)") * expr("CAST(1.05 AS DECIMAL(4,2))"))
            .cast("decimal(38,4)").cast("string").as("adj_total_dec38_str"),
          sum((col("o_totalprice").cast("decimal(18,2)") * expr("CAST(1.05 AS DECIMAL(4,2))"))
            .cast("decimal(28,4)").multiply(lit(10000).cast("decimal(5,0)")).cast("long"))
            .cast("long").as("adj_total_e4"))
        .orderBy("yr", "prio")),
    "side_ann_candidates_lsh" -> ((s, dir) => {
      val idx = s.read.parquet(s"${Fixtures.embeddingsSigIndexed(s, dir)}/indexed")
      val q = pq(s, dir, "embeddings").filter(col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.lshCandidates(idx.filter(col("vec_id") =!= 1), q).select("vec_id")
    }),
    "side_ann_candidates_ivf" -> ((s, dir) => {
      val idx = Similarity.loadIvfIndex(s, Fixtures.embeddingsIvfIndexed(s, dir))
      val q = pq(s, dir, "embeddings").filter(col("vec_id") === 1)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.ivfCandidates(
        idx.copy(cells = idx.cells.filter(col("vec_id") =!= 1)), q, nprobe = 4)
        .select("vec_id")
    }),
    // (l_orderkey -> bucket) recovered from a bucket(16)-partitioned table's
    // hive-style data directories: the WRITE-transform path, independent of
    // the scalar iceberg_bucket expression fn_bucket runs. DuckDB compares
    // the two — murmur3 itself stays spec-vector-pinned in
    // HashTransformSpec (inexpressible in SQL).
    "side_bucket_expected" -> ((s, dir) => {
      val path = Fixtures.lineitemBucket16(s, dir)
      IcebergTable.load(s, path)
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"),
          regexp_extract(input_file_name(), "_gp_l_orderkey_bucket=(\\d+)", 1)
            .cast("int").as("bucket"))
        .distinct()
    }),
    // Snapshot list re-derived through Spark's OWN JSON reader over the
    // metadata file — a second, independent parser; meta_snapshots
    // (graft's jackson parse + snapshot assembly) must agree with it.
    "side_snapshots_expected" -> ((s, dir) => {
      val path = Fixtures.ordersTwoSnapshots(s, dir)._1
      val vre = "v(\\d+)\\.metadata\\.json".r
      val latest = new java.io.File(s"$path/metadata").listFiles.map(_.getName)
        .collect { case n @ vre(v) => (v.toInt, n) }.maxBy(_._1)._2
      s.read.option("multiLine", true).json(s"$path/metadata/$latest")
        .select(explode(col("snapshots")).as("s"))
        .select(col("s.`sequence-number`").cast("long").as("sequence_number"),
          col("s.`snapshot-id`").cast("long").as("snapshot_id"),
          timestamp_millis(col("s.`timestamp-ms`").cast("long")).as("timestamp_ms"),
          col("s.`manifest-list`").as("manifest_list"),
          col("s.summary.operation").as("operation"))
    }),
    // Per-file entry facts re-derived from the DATA and the FILESYSTEM
    // (row counts from a fresh scan, byte sizes from an FS listing) — no
    // manifest is read; meta_manifest_entries' Avro-decoded counts/sizes
    // must agree.
    "side_manifest_entries_expected" -> ((s, dir) => {
      val path = Fixtures.ordersByMonth(s, dir)
      val conf = s.sessionState.newHadoopConf()
      val dataDir = new org.apache.hadoop.fs.Path(s"$path/data")
      val fs = dataDir.getFileSystem(conf)
      val sizes = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val it = fs.listFiles(dataDir, true)
      while (it.hasNext) {
        val f = it.next()
        // partition-dir/leaf key — bare part-file names repeat across
        // partition directories
        if (f.getPath.getName.endsWith(".parquet"))
          sizes += s"${f.getPath.getParent.getName}/${f.getPath.getName}" -> f.getLen
      }
      import s.implicits._
      val sizesDf = sizes.toSeq.toDF("file_name", "file_size_in_bytes")
      // recursiveFileLookup: data files sit under data/<write-uuid>/...,
      // a plain (non key=value) level partition discovery would choke on.
      s.read.option("recursiveFileLookup", "true").parquet(s"$path/data")
        .groupBy(regexp_extract(input_file_name(), "([^/]+/[^/]+)$", 1).as("file_name"))
        .agg(count(lit(1)).as("record_count"))
        .join(sizesDf, "file_name")
        .select(col("file_name"), lit("ADDED").as("status"), lit("DATA").as("content"),
          lit("parquet").as("file_format"), col("record_count"),
          col("file_size_in_bytes"), lit(1L).as("data_sequence_number"))
    }),
    // Per-file column stats re-derived by AGGREGATING THE DATA (grouped by
    // physical file) — independent of the footer-stat collection path that
    // wrote the manifests; bounds render through the same Java
    // number-toString semantics on both sides.
    "side_column_stats_expected" -> ((s, dir) => {
      val path = Fixtures.lineitemPlain(s, dir)
      val d = s.read.option("recursiveFileLookup", "true").parquet(s"$path/data")
        .withColumn("file_name", regexp_extract(input_file_name(), "([^/]+)$", 1))
      // parquet-mr writes CONSERVATIVE zero bounds for floating columns
      // (PARQUET-1222): a min of 0.0 is stored as -0.0 and a max of -0.0 as
      // +0.0, so footer-derived manifest bounds render "-0.0"/"0.0" there;
      // mirror that here.
      val doubles = Set("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def loR(c: String) =
        if (doubles(c)) when(min(col(c)) === 0.0, lit("-0.0")).otherwise(min(col(c)).cast("string"))
        else min(col(c)).cast("string")
      def hiR(c: String) =
        if (doubles(c)) when(max(col(c)) === 0.0, lit("0.0")).otherwise(max(col(c)).cast("string"))
        else max(col(c)).cast("string")
      val aggs = MetaStatCols.flatMap { c => Seq(
        loR(c).as(s"lo_$c"), hiR(c).as(s"hi_$c"),
        count(lit(1)).as(s"vc_$c"),
        sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"nc_$c"))
      }
      val wide = d.groupBy("file_name").agg(aggs.head, aggs.tail: _*)
      MetaStatCols.map { c =>
        wide.select(col("file_name"), lit(c).as("column_name"),
          col(s"lo_$c").as("lower_bound"), col(s"hi_$c").as("upper_bound"),
          col(s"vc_$c").as("value_count"), col(s"nc_$c").as("null_value_count"))
      }.reduce(_.union(_))
    }))

  /** Columns whose manifest bounds render identically to a Spark
    * `cast(... as string)` (Java toString semantics for longs/ints/doubles,
    * identity for short strings — no 16-byte truncation, no
    * timestamp-format divergence): the value-oracle subset for
    * meta_column_stats. */
  private val MetaStatCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (metadata tables, hash-based ops) -> driver records rows-only check. */
  def oracleSql: Map[String, String] = TpchExtra.oracleSql ++ Map(
    "q1_pricing" -> q1OracleShape,
    "ice_q1_roundtrip" -> q1OracleShape,

    "meta_partition_stats_file" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_rows
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // Two independent parsers of the same metadata JSON must agree (the
    // side dataset is Spark's own JSON reader; the query is graft's parse).
    "meta_snapshots" ->
      """SELECT sequence_number, snapshot_id, timestamp_ms, manifest_list,
        |       operation
        |FROM read_parquet('__GRAFT_OUT__/side_snapshots_expected/*.parquet')""".stripMargin,

    // Manifest-decoded per-file facts vs a fresh data scan + FS listing.
    "meta_manifest_entries" ->
      """SELECT file_name, status, content, file_format, record_count,
        |       file_size_in_bytes, data_sequence_number
        |FROM read_parquet('__GRAFT_OUT__/side_manifest_entries_expected/*.parquet')""".stripMargin,

    // Footer-collected column bounds/counts vs re-aggregating the data.
    "meta_column_stats" ->
      """SELECT file_name, column_name, lower_bound, upper_bound,
        |       value_count, null_value_count
        |FROM read_parquet('__GRAFT_OUT__/side_column_stats_expected/*.parquet')""".stripMargin,

    // Partition-summary bounds are months-since-epoch ints — directly
    // recomputable from the source data in SQL.
    "meta_partition_stats" ->
      """SELECT 'DATA' AS manifest_content,
        |  'o_orderdate_month' AS partition_field_name,
        |  false AS contains_null,
        |  CAST(min((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1) AS VARCHAR) AS lower_bound,
        |  CAST(max((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1) AS VARCHAR) AS upper_bound
        |FROM orders""".stripMargin,

    "ice_agg_pushdown" ->
      """SELECT count(*)::BIGINT AS n_rows, min(o_custkey) AS min_cust,
        |       max(o_custkey) AS max_cust, count(o_orderkey)::BIGINT AS n_orders
        |FROM orders""".stripMargin,

    // Fixed reference expectations (schema_evolve_struct_in_list.test).
    "ice_nested_evolution" ->
      """SELECT * FROM (VALUES
        |  ('Alice', 43::BIGINT), ('Bob', 35::BIGINT),
        |  ('Ancient Being', 9223372036854775807::BIGINT),
        |  ('Bobby Droptables', 2147483649::BIGINT),
        |  ('Hello', 9223372036854775807::BIGINT),
        |  ('Duck', 5::BIGINT)) AS t(given_name, age)""".stripMargin,

    // NDV stats are HLL-exact at these cardinalities (3 statuses,
    // 5 priorities), so exact COUNT(DISTINCT) is a valid oracle.
    "meta_ndv_stats" ->
      """SELECT 'o_orderpriority' AS column_name,
        |       count(DISTINCT o_orderpriority)::BIGINT AS ndv FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(DISTINCT o_orderstatus)::BIGINT FROM orders""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |GROUP BY n_name""".stripMargin,

    "q6_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_except_setop" ->
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey AS c_custkey FROM orders",

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderstatus""".stripMargin,

    "q_anti_join" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,

    "q_rewrite_semi_neq" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS waiting
        |FROM lineitem l1, supplier, nation
        |WHERE s_suppkey = l1.l_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name""".stripMargin,

    "q_rewrite_anti_distinct" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "q_rewrite_anti_neq" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey
        |                    AND l_suppkey <> o_custkey)
        |GROUP BY o_orderstatus""".stripMargin,

    "q_rewrite_semi_range" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,

    // DuckDB 1.0.0 mis-decorrelates an EXISTS whose correlation carries TWO
    // non-equality predicates (minimal repro: a one-row correlated
    // `l.ok=o.ok AND l.sk<>o.ck AND l.sd>o.dt` EXISTS returns empty), so
    // the oracle states the same anti-join as NOT IN over an explicit join,
    // which it computes correctly (l_orderkey/o_orderkey are non-null).
    "q_rewrite_anti_neq_range" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |FROM orders
        |WHERE o_orderkey NOT IN (
        |  SELECT l_orderkey FROM lineitem, orders o2
        |  WHERE l_orderkey = o2.o_orderkey
        |    AND l_suppkey <> o2.o_custkey
        |    AND l_shipdate > o2.o_orderdate)
        |GROUP BY o_orderstatus""".stripMargin,

    "q_case_projection" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'high' END AS price_band,
        |  CAST(count(*) AS BIGINT) AS n, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY 1""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997""".stripMargin,

    "q_date_string_fns" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  substring(o_orderpriority, 1, 1) AS prio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(4,2)) AS DECIMAL(28,4))
        |           * CAST(10000 AS DECIMAL(5,0)) AS BIGINT)) AS BIGINT) AS adj_total_e4
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "probe_wire_str" ->
      """SELECT CAST(CAST(sum(CAST(n_nationkey AS DECIMAL(9,2)) * CAST(1.07 AS DECIMAL(3,2))) AS DECIMAL(38,4)) AS VARCHAR) AS v
        |FROM nation""".stripMargin,
    "probe_wire_dec38_nz" ->
      """SELECT CAST(sum(CAST(n_nationkey AS DECIMAL(9,2)) * CAST(1.0101 AS DECIMAL(5,4))) AS DECIMAL(38,4)) AS v
        |FROM nation WHERE n_nationkey = 7""".stripMargin,
    "probe_wire_dec18_units" ->
      """SELECT CAST(CAST(sum(CAST(n_nationkey AS DECIMAL(9,2)) * CAST(1.07 AS DECIMAL(3,2))) AS DECIMAL(18,4))
        |  * CAST(10000 AS DECIMAL(5,0)) AS BIGINT) AS v_e4
        |FROM nation""".stripMargin,
    "probe_wire_dec28_units" ->
      """SELECT CAST(CAST(sum(CAST(n_nationkey AS DECIMAL(9,2)) * CAST(1.07 AS DECIMAL(3,2))) AS DECIMAL(28,4))
        |  * CAST(10000 AS DECIMAL(5,0)) AS BIGINT) AS v_e4
        |FROM nation""".stripMargin,
    "probe_wire_dec38_units" ->
      """SELECT CAST(CAST(CAST(sum(CAST(n_nationkey AS DECIMAL(9,2)) * CAST(1.07 AS DECIMAL(3,2))) AS DECIMAL(38,4)) AS DECIMAL(18,4))
        |  * CAST(10000 AS DECIMAL(5,0)) AS BIGINT) AS v_e4
        |FROM nation""".stripMargin,

    "ice_month_prune" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY o_orderstatus""".stripMargin,

    "ice_bucket_prune" ->
      """SELECT round(sum(l_quantity), 2) AS qty, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_orderkey = 42""".stripMargin,

    "ice_time_travel" -> "SELECT * FROM orders",

    "ice_partition_evolution" -> "SELECT * FROM orders",

    "ice_branch_wap" -> "SELECT * FROM orders WHERE o_orderstatus IN ('O', 'F')",

    "ice_rollback" -> "SELECT * FROM orders",
    "ice_sorted_write" -> "SELECT * FROM lineitem",

    "ice_delete_mor" -> "SELECT * FROM orders WHERE o_orderstatus <> 'F'",

    "ice_update_mor" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders""".stripMargin,

    "ice_merge_into" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  c_acctbal + CASE WHEN c_custkey % 2 = 0 THEN 100.0 ELSE 0.0 END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT CAST(c_custkey + 1000000 AS BIGINT), c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey < 10""".stripMargin,

    "sql_update_mor" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders""".stripMargin,

    "sql_merge_into" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  c_acctbal + CASE WHEN c_custkey % 2 = 0 THEN 100.0 ELSE 0.0 END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT CAST(c_custkey + 1000000 AS BIGINT), c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey < 10""".stripMargin,

    "ice_rewrite_compact" -> "SELECT * FROM lineitem WHERE l_quantity >= 5",

    "sql_rewrite_compact" -> "SELECT * FROM orders WHERE o_orderstatus <> 'F'",

    "ice_dv_delete" -> "SELECT * FROM orders WHERE o_orderstatus <> 'F'",

    "ice_eq_delete" -> "SELECT * FROM customer WHERE c_custkey % 10 <> 0",

    "ice_eq_delete_write" -> "SELECT * FROM orders WHERE o_orderstatus <> 'F'",

    "ice_variant" ->
      """SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS total
        |FROM orders WHERE o_totalprice > 450000.0""".stripMargin,

    "ice_topk_scan_order" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC LIMIT 10""".stripMargin,

    "ice_schema_evolution" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
        |  o_orderpriority AS o_priority, 'none' AS o_comment
        |FROM orders""".stripMargin,

    "fn_truncate" ->
      """SELECT DISTINCT l_orderkey,
        |  l_orderkey - ((l_orderkey % 100 + 100) % 100) AS trunc_100
        |FROM lineitem WHERE l_orderkey < 500""".stripMargin,

    "meta_partitions" ->
      """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
        |  count(*)::BIGINT AS record_count
        |FROM orders GROUP BY 1""".stripMargin,

    "ice_geometry_bbox" ->
      """SELECT s_suppkey FROM supplier
        |WHERE (s_suppkey % 97) BETWEEN 10 AND 30
        |  AND (s_suppkey % 61) BETWEEN 20 AND 40""".stripMargin,

    // murmur3 is inexpressible in SQL; the oracle instead reads the side
    // dataset Verify dumps from the WRITE-transform path (bucket(16)
    // partition dirs of a real written table) and must match the scalar
    // function's output exactly.
    "fn_bucket" ->
      """SELECT l_orderkey, bucket
        |FROM read_parquet('__GRAFT_OUT__/side_bucket_expected/*.parquet')""".stripMargin,

    "dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id,
        |  CAST(count(*) AS BIGINT) AS copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |GROUP BY text""".stripMargin,

    "ann_topk_bruteforce" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY list_cosine_similarity(e.embedding,
        |      (SELECT embedding FROM embeddings WHERE vec_id = 1)) DESC, e.vec_id)
        |  AS BIGINT) AS rank, e.vec_id
        |FROM embeddings e WHERE e.vec_id <> 1
        |ORDER BY rank LIMIT 20""".stripMargin,

    // The ANN variants re-score a deterministic candidate set (dumped by
    // Verify as a side parquet); DuckDB ranks the same set brute-force and
    // must reproduce the exact top-k ids.
    "ann_topk_lsh" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY list_cosine_similarity(e.embedding,
        |      (SELECT embedding FROM embeddings WHERE vec_id = 1)) DESC, e.vec_id)
        |  AS BIGINT) AS rank, e.vec_id
        |FROM embeddings e
        |WHERE e.vec_id IN (SELECT vec_id
        |  FROM read_parquet('__GRAFT_OUT__/side_ann_candidates_lsh/*.parquet'))
        |ORDER BY rank LIMIT 20""".stripMargin,

    "ann_topk_ivf" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY list_cosine_similarity(e.embedding,
        |      (SELECT embedding FROM embeddings WHERE vec_id = 1)) DESC, e.vec_id)
        |  AS BIGINT) AS rank, e.vec_id
        |FROM embeddings e
        |WHERE e.vec_id IN (SELECT vec_id
        |  FROM read_parquet('__GRAFT_OUT__/side_ann_candidates_ivf/*.parquet'))
        |ORDER BY rank LIMIT 20""".stripMargin,

    "stream_incremental" -> "SELECT * FROM orders",

    "stream_changelog" ->
      """SELECT o.*, 'insert' AS _change_type FROM orders o WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o.*, 'delete' AS _change_type FROM orders o
        |WHERE o_orderstatus = 'O' AND o_orderpriority = '5-LOW'""".stripMargin,

    "sql_catalog_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "sql_time_travel" -> "SELECT * FROM orders",

    "stream_microbatch" ->
      "SELECT * FROM orders UNION ALL SELECT * FROM orders",

    "stream_to_table" ->
      "SELECT * FROM orders UNION ALL SELECT * FROM orders",

    "stream_dedup" -> "SELECT * FROM orders",

    "q_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """SELECT user_id, CAST(1 + sum(CASE WHEN gap_ns > 1800000000000 THEN 1 ELSE 0 END) AS BIGINT) AS sessions
        |FROM (SELECT user_id,
        |        epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ns
        |      FROM events)
        |GROUP BY user_id""".stripMargin,

    "mm_payload_meta" ->
      """SELECT CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |            WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(octet_length(encode(text)) +
        |    CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 2 THEN 4 ELSE 8 END) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1""".stripMargin,

    // Closed forms from Multimodal.realPayload's scaladoc: the Spark side
    // must round-trip through REAL PNG/JPEG/WAV bytes (JDK encode → JDK
    // decode) to reproduce them. Integer division throughout (//).
    "mm_decode_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |       WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 16 + doc_id % 13
        |       WHEN 1 THEN 12 + doc_id % 9
        |       WHEN 3 THEN 32 + (doc_id % 10) * 8 ELSE 0 END AS INT) AS width,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 16 + (doc_id // 13) % 11
        |       WHEN 1 THEN 12 + (doc_id // 9) % 7
        |       WHEN 3 THEN 32 + ((doc_id // 10) % 10) * 8 ELSE 0 END AS INT) AS height,
        |  CAST(CASE doc_id % 4 WHEN 2 THEN 8000 + (doc_id % 5) * 4000 ELSE 0 END AS INT) AS sample_rate,
        |  CAST(CASE doc_id % 4 WHEN 2 THEN 64 + doc_id % 64 WHEN 3 THEN 24 + doc_id % 48 ELSE 0 END AS INT) AS n_frames
        |FROM documents""".stripMargin,

    // Resize arithmetic on the generator dims: fit inside 24px with integer
    // floor scaling; inside-the-edge images pass through (JPEGs always are).
    "mm_resize_roundtrip" ->
      """WITH src AS (
        |  SELECT doc_id, doc_id % 4 AS m,
        |    CASE doc_id % 4 WHEN 0 THEN 16 + doc_id % 13 ELSE 12 + doc_id % 9 END AS w,
        |    CASE doc_id % 4 WHEN 0 THEN 16 + (doc_id // 13) % 11 ELSE 12 + (doc_id // 9) % 7 END AS h
        |  FROM documents WHERE doc_id % 4 < 2)
        |SELECT doc_id,
        |  CASE WHEN greatest(w, h) <= 24
        |       THEN (CASE m WHEN 0 THEN 'image/png' ELSE 'image/jpeg' END)
        |       ELSE 'image/png' END AS media_type,
        |  CAST(CASE WHEN greatest(w, h) <= 24 THEN w
        |       ELSE greatest(1, (w * 24) // greatest(w, h)) END AS INT) AS width,
        |  CAST(CASE WHEN greatest(w, h) <= 24 THEN h
        |       ELSE greatest(1, (h * 24) // greatest(w, h)) END AS INT) AS height
        |FROM src""".stripMargin,

    // PNG is lossless: per-image mean R/G/B equals the solid fill color.
    "mm_pixel_stats" ->
      """SELECT doc_id,
        |  CAST(doc_id % 256 AS INT) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS INT) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS INT) AS mean_b
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin,

    // Mirrors chunkDocuments: starts = 0, 48, ... <= n_words-1 (inclusive
    // series on both engines), 1-based 64-token slices, space re-join.
    "text_chunk" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(s AS BIGINT) AS chunk_start,
        |  array_to_string(words[s + 1 : s + 64], ' ') AS chunk_text,
        |  CAST(least(len(words) - s, 64) AS BIGINT) AS n_tokens
        |FROM w, unnest(generate_series(0, greatest(len(words) - 1, 0), 48)) AS t(s)""".stripMargin,

    // Same deterministic PII injection as the Spark entry, then the same
    // simple character-class regexes (Java regex and RE2 agree on them).
    "text_pii" ->
      """WITH injected AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@corp-mail.com now' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/doc/' || doc_id || ' page' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' call +1415550' || (doc_id % 10000) || ' today' ELSE '' END
        |    AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%-]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS BIGINT) AS n_phones
        |FROM injected""".stripMargin,

    // Same 3-gram shingle construction as the minhash oracle; the eval set
    // is every 37th document's shingles. Spark matches hashed shingles,
    // the oracle matches the strings — identical counts absent 64-bit
    // collisions.
    "text_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN [] ELSE list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') END AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
        |      WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS s
        |    FROM toks)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0),
        |agg AS (
        |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        |  FROM sh LEFT JOIN ev ON sh.s = ev.s
        |  GROUP BY sh.doc_id)
        |SELECT doc_id, n_shingles, n_matched,
        |  CASE WHEN n_shingles = 0 THEN 0.0 ELSE n_matched::DOUBLE / n_shingles END AS contamination,
        |  (CASE WHEN n_shingles = 0 THEN 0.0 ELSE n_matched::DOUBLE / n_shingles END) >= 0.5 AS contaminated
        |FROM agg""".stripMargin,

    // Same dual-modulus multiplicative-hash bucket arithmetic: exact Long
    // math in both engines (id is first reduced mod ~1e6 primes so each
    // product never exceeds Int64; the two-term sum < 2^31).
    "text_split" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    ((doc_id % 1000003 * 2654435761 % 1000000007)
        |     + (doc_id % 1000033 * 2246822519 % 1000000007)) % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 5 THEN 'val'
        |            WHEN bucket < 10 THEN 'test'
        |            ELSE 'train' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM b GROUP BY 1""".stripMargin,

    "text_resample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    ((doc_id % 999983 * 2654435761 % 999999937)
        |     + (doc_id % 999979 * 2246822519 % 999999937)) % 10000 AS bucket
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 5000 ELSE 10000 END
        |GROUP BY lang""".stripMargin,

    "text_pack" ->
      """WITH c AS (
        |  SELECT doc_id, n_chars, doc_id % 16 AS pack_shard,
        |    sum(n_chars) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT pack_shard, CAST(floor((cum_max - 1) / 4096) AS BIGINT) AS pack_bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS bin_chars
        |FROM (SELECT doc_id, n_chars, pack_shard, cum AS cum_max FROM c)
        |GROUP BY 1, 2""".stripMargin,

    "text_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  round(avg(n_chars), 2) AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin,

    // Mirrors TextAnalysis.qualityFeatures exactly: words = lower(text)
    // split on \W+ (non-empty), punct = chars neither letter/digit nor
    // whitespace, composite score clamped to [0,1], rounded to 4dp.
    "text_quality" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CASE WHEN text IS NULL OR text = '' THEN []
        |         ELSE list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') END AS words,
        |    CASE WHEN text IS NULL OR text = '' THEN 0
        |         ELSE length(regexp_replace(text, '[\p{L}\p{Nd}\s]', '', 'g')) END AS punct
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS INTEGER) AS word_count,
        |    CASE WHEN text IS NULL OR text = '' THEN 0.0
        |         ELSE punct * 1.0 / length(text) END AS punct_ratio,
        |    CASE WHEN len(words) = 0 THEN 0.0
        |         ELSE len(list_filter(words, w -> list_contains(
        |           ['the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','with','as','at','by','be'], w)))
        |           * 1.0 / len(words) END AS stopword_ratio,
        |    CASE WHEN len(words) = 0 THEN 0.0
        |         ELSE list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words) END AS mean_word_len
        |  FROM f)
        |SELECT doc_id, word_count,
        |  round(least(1.0, greatest(0.0,
        |    0.3 * (word_count / (word_count + 20.0)) +
        |    0.3 * (1.0 - least(1.0, punct_ratio * 5)) +
        |    0.2 * least(1.0, stopword_ratio * 4) +
        |    0.2 * (1.0 - abs(mean_word_len - 5.0) / 5.0))), 4) AS quality_score
        |FROM g""".stripMargin,

    // Mirrors TextAnalysis.langId: HAN-density check, marker-word scores
    // with en>de>fr>es tie priority, diacritic fallback when all scores 0.
    "text_langid" ->
      """WITH s AS (
        |  SELECT lang, text,
        |    CASE WHEN text IS NULL THEN [] ELSE list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') END AS words,
        |    CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^\p{Han}]', '', 'g')) END AS cjk,
        |    CASE WHEN text IS NULL THEN 0 ELSE length(text) END AS tlen
        |  FROM documents),
        |m AS (
        |  SELECT lang, text, words, cjk, tlen,
        |    len(list_filter(words, x -> list_contains(['the','and','of','to','is','you','that','it','with','for'], x))) AS s_en,
        |    len(list_filter(words, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], x))) AS s_de,
        |    len(list_filter(words, x -> list_contains(['le','la','les','et','est','une','que','pour','dans','pas'], x))) AS s_fr,
        |    len(list_filter(words, x -> list_contains(['el','la','los','que','es','una','para','con','por','del'], x))) AS s_es
        |  FROM s),
        |p AS (
        |  SELECT lang,
        |    CASE
        |      WHEN text IS NULL OR tlen = 0 THEN 'und'
        |      WHEN cjk > tlen // 10 THEN 'zh'
        |      WHEN len(words) = 0 THEN 'und'
        |      WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN
        |        CASE WHEN regexp_matches(text, '[äöüß]') THEN 'de'
        |             WHEN regexp_matches(text, '[éèêàçù]') THEN 'fr'
        |             WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
        |             ELSE 'und' END
        |      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |      WHEN s_fr >= s_es THEN 'fr'
        |      ELSE 'es' END AS lang_pred
        |  FROM m)
        |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2""".stripMargin,

    // Exact pair set: the Spark query re-scores LSH candidates with exact
    // 3-word-shingle Jaccard >= 0.9, which this quadratic shingle-join
    // computes directly (LSH recall at J>=0.9 is 1 - ~4e-8 per pair).
    "dedup_minhash" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended-tail-token' FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN [] ELSE list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') END AS w
        |  FROM docs),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS s
        |    FROM toks)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = ia
        |JOIN cnt cb ON cb.doc_id = ib
        |WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.9""".stripMargin,

    // Same quadratic exact pair set as dedup_minhash, then connected
    // components via a recursive reachability closure — per-doc cluster
    // assignment must match the pointer-jumping propagation exactly.
    "dedup_clusters" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended-tail-token' FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN [] ELSE list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') END AS w
        |  FROM docs),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS s
        |    FROM toks)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT ia AS id_a, ib AS id_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = ia
        |  JOIN cnt cb ON cb.doc_id = ib
        |  WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        |lab AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        |FROM docs d LEFT JOIN lab l ON l.id = d.doc_id""".stripMargin,

    // Planted truth: membership is known by construction (cluster = the
    // family's min id, singletons where i % 7 == 0), so the oracle is a
    // pure O(n) projection from doc ids — no similarity join — and stays
    // cheap at sf1+ where the quadratic dedup_clusters oracle above costs
    // ~80 min of DuckDB.
    "dedup_clusters_planted" ->
      """WITH fam AS (
        |  SELECT doc_id AS i, k
        |  FROM documents, (VALUES (0),(1),(2),(3)) v(k)
        |  WHERE k = 0 OR doc_id % 7 <> 0)
        |SELECT CAST(i * 10 + k AS BIGINT) AS doc_id,
        |  CAST(i * 10 AS BIGINT) AS cluster_id
        |FROM fam""".stripMargin,

    // Exact cosine >= 0.99 pair set over the duplicated corpus; the Spark
    // banding has deterministic recall on the planted identical copies.
    "dedup_embedding" ->
      """WITH vecs AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings)
        |SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b
        |FROM vecs a, vecs b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.99""".stripMargin,

    // Mirrors Multimodal.extractFeatures' length-seeded stub: payload =
    // magic(doc_id % 4) ++ utf8(text); f0 from the closed-form arithmetic.
    "mm_features" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |         WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
        |    CAST(octet_length(encode(text)) +
        |      CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 2 THEN 4 ELSE 8 END AS HUGEINT) AS blen
        |  FROM documents)
        |SELECT doc_id, media_type,
        |  round(CAST(((blen * 11400714819323198485) % 18446744073709551616) // 1099511627776 % 1000 AS DOUBLE) / 1000.0, 4) AS f0
        |FROM f""".stripMargin,

    // Mirrors TextAnalysis.fingerprintUdf exactly: h = h*31 + utf16unit over
    // trim(lower(text) with \s+ collapsed), wrapping 64-bit arithmetic done
    // in HUGEINT mod 2^64, re-signed at the end. Integer-exact throughout
    // (no float division — doubles cannot hold 64-bit intermediates).
    "text_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN fp_u >= CAST('9223372036854775808' AS HUGEINT)
        |       THEN fp_u - CAST('18446744073709551616' AS HUGEINT) ELSE fp_u END AS BIGINT) AS fp
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN norm IS NULL OR norm = '' THEN CAST(0 AS HUGEINT) ELSE
        |      list_reduce(
        |        list_prepend(CAST(0 AS HUGEINT),
        |          list_transform(range(1, length(norm) + 1),
        |            i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS HUGEINT))),
        |        (h, c) -> (h * 31 + c) % CAST('18446744073709551616' AS HUGEINT))
        |    END AS fp_u
        |  FROM n)""".stripMargin,

    // Mirrors Dedup.simhash exactly (FNV-1a word hashes in HUGEINT mod 2^64,
    // per-bit majority vote) then computes the EXACT Hamming<=3 pair set
    // quadratically. The Spark side's 4x16-bit banding is lossless at this
    // radius (pigeonhole: <=3 differing bits leave one band identical), so
    // the LSH-bucketed pair set equals this exhaustive one. Bit extraction
    // uses signed shifts, never float division.
    "dedup_simhash" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' tail' AS text FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), w -> w <> '')) AS w
        |  FROM docs),
        |wh AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN h_u >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN h_u - CAST('18446744073709551616' AS HUGEINT) ELSE h_u END AS BIGINT) AS hs
        |  FROM (
        |    SELECT doc_id,
        |      list_reduce(
        |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |          list_transform(range(1, length(w) + 1),
        |            i -> CAST(unicode(substr(w, CAST(i AS INT), 1)) AS HUGEINT))),
        |        (h, c) -> (xor(h, c) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)) AS h_u
        |    FROM words)),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (hs >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        |  FROM wh, (SELECT unnest(range(64)) AS b)
        |  GROUP BY doc_id, b),
        |sims AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN sh_u >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN sh_u - CAST('18446744073709551616' AS HUGEINT) ELSE sh_u END AS BIGINT) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      sum(CASE WHEN acc > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS sh_u
        |    FROM bits GROUP BY doc_id))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM sims a, sims b
        |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin)
}
