package graft

import graft.catalog.{CatalogOptions, RestCatalog}
import graft.core.IcebergTypes
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** SQL catalog front-end: `spark.sql.catalog.<name>` → SELECT over
  * direct-path, warehouse-backed, and REST-backed tables, with
  * `VERSION AS OF` / `TIMESTAMP AS OF` time travel. */
class GraftSparkCatalogSpec extends SparkSpec with BeforeAndAfterAll {
  private val server = new TestRestServer

  override def beforeAll(): Unit = {
    server.start()
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.catalog.GraftSparkCatalog].getName)
  }
  override def afterAll(): Unit = server.stop()

  test("TPC-H q6 via pure SQL through the catalog (direct-path identifier)") {
    val path = Fixtures.lineitemPlain(spark, sfDir)
    val viaSql = spark.sql(
      s"""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM graft.`$path`
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)
    val viaParquet = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).cast("long").as("n"))
    assertSameResult(viaSql, viaParquet)
  }

  test("catalog SQL pushes filters into the graft scan (partition pruning happens)") {
    val path = Fixtures.ordersByMonth(spark, sfDir)
    graft.sources.GraftDataSource.lastScanFiles = None
    val n = spark.sql(
      s"""SELECT count(*) FROM graft.`$path`
         |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'""".stripMargin)
      .collect()(0).getLong(0)
    assert(n > 0)
    val (kept, total) = graft.sources.GraftDataSource.lastScanFiles.get
    assert(kept < total, s"expected partition pruning, scanned $kept of $total")
  }

  test("VERSION AS OF + TIMESTAMP AS OF time travel via SQL") {
    // Time travel requires catalog-resolved names (Spark's SQL-on-files rule
    // intercepts `format.`path`` relations before catalog time travel).
    val wh = tmpDir("graft_tt_wh")
    spark.conf.set("spark.sql.catalog.ttcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.ttcat.warehouse", wh)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = s"$wh/db/orders2"
    IcebergTable.write(orders, path)
    IcebergTable.append(orders, path)
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    val firstSnap = meta.snapshots.minBy(_.sequenceNumber).snapshotId
    val v1 = spark.sql(s"SELECT * FROM ttcat.db.orders2 VERSION AS OF $firstSnap")
    assert(v1.count() == orders.count())
    val latest = spark.sql(s"SELECT * FROM ttcat.db.orders2")
    assert(latest.count() == 2 * orders.count())
    val firstTs = meta.snapshots.find(_.snapshotId == firstSnap).get.timestampMs
    val t1 = spark.sql(
      s"SELECT * FROM ttcat.db.orders2 TIMESTAMP AS OF to_timestamp(${firstTs / 1000.0})")
    assert(t1.count() == orders.count())
  }

  test("warehouse-backed catalog: namespaces, listing, SELECT by name") {
    val wh = tmpDir("graft_wh")
    spark.conf.set("spark.sql.catalog.whcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.whcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE whcat.db")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    IcebergTable.write(region, s"$wh/db/region")
    assert(spark.sql("SHOW TABLES IN whcat.db").collect().map(_.getString(1)).toSeq == Seq("region"))
    assertSameResult(spark.sql("SELECT * FROM whcat.db.region"), region)
    assert(spark.sql("SHOW NAMESPACES IN whcat").collect().map(_.getString(0)).contains("db"))
  }

  test("INSERT INTO + CTAS through the catalog commit real Iceberg snapshots") {
    val wh = tmpDir("graft_ins_wh")
    spark.conf.set("spark.sql.catalog.inscat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.inscat.warehouse", wh)
    spark.sql("CREATE NAMESPACE inscat.db")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    region.createOrReplaceTempView("region_src")

    // CTAS: createTable + append through the V1 write bridge
    spark.sql("CREATE TABLE inscat.db.region_ctas AS SELECT * FROM region_src")
    assertSameResult(spark.sql("SELECT * FROM inscat.db.region_ctas"), region)

    // INSERT INTO appends a second snapshot
    spark.sql("INSERT INTO inscat.db.region_ctas SELECT * FROM region_src WHERE r_regionkey < 2")
    assert(spark.sql("SELECT * FROM inscat.db.region_ctas").count() == region.count() + 2)
    val meta = graft.core.TableMetadata.load(s"$wh/db/region_ctas",
      spark.sessionState.newHadoopConf())
    assert(meta.snapshots.size >= 2)

    // the committed table reads back identically through the library API
    assertSameResult(spark.sql("SELECT * FROM inscat.db.region_ctas"),
      IcebergTable.load(spark, s"$wh/db/region_ctas"))
  }

  test("INSERT INTO a REST-catalog table commits through the REST transaction path") {
    val cat = new RestCatalog(server.uri, CatalogOptions(token = Some(server.token)))
    cat.createNamespace(Seq("insns"))
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val loc = tmpDir("graft_rest_ins_tbl")
    cat.createTable(Seq("insns"), "region", IcebergTypes.fromSpark(region.schema), loc)
    spark.conf.set("spark.sql.catalog.insrest", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.insrest.uri", server.uri)
    spark.conf.set("spark.sql.catalog.insrest.token", server.token)
    region.createOrReplaceTempView("region_src2")
    spark.sql("INSERT INTO insrest.insns.region SELECT * FROM region_src2")
    assertSameResult(spark.sql("SELECT * FROM insrest.insns.region"), region)
    spark.sql("INSERT INTO insrest.insns.region SELECT * FROM region_src2")
    assert(cat.loadDF(spark, Seq("insns"), "region").count() == 2 * region.count())
  }

  test("SQL DELETE FROM through the catalog is a merge-on-read snapshot") {
    val wh = tmpDir("graft_del_wh")
    spark.conf.set("spark.sql.catalog.delcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.delcat.warehouse", wh)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = s"$wh/db/orders_del"
    IcebergTable.write(orders, path)
    val expect = orders.filter(!(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0))

    spark.sql("DELETE FROM delcat.db.orders_del WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0")

    assert(spark.sql("SELECT count(*) FROM delcat.db.orders_del").collect()(0).getLong(0)
      == expect.count())
    assertSameResult(spark.sql("SELECT * FROM delcat.db.orders_del"), expect)
    // merge-on-read: the original data files survive; a delete snapshot was added
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    assert(meta.snapshots.size == 2)
    assert(meta.snapshots.maxBy(_.sequenceNumber).summary.get("operation").forall(_ != "overwrite"))
  }

  test("DELETE with an untranslatable predicate is refused, not mis-executed") {
    val wh = tmpDir("graft_del_refuse_wh")
    spark.conf.set("spark.sql.catalog.delref", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.delref.warehouse", wh)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    IcebergTable.write(region, s"$wh/db/region_del")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM delref.db.region_del WHERE length(r_name) + r_regionkey > 6")
    }
    assert(e.getMessage.toLowerCase.contains("delete"))
    assert(spark.sql("SELECT count(*) FROM delref.db.region_del").collect()(0).getLong(0)
      == region.count())
  }

  test("SQL UPDATE through the catalog executes the merge-on-read update") {
    val wh = tmpDir("graft_upd_wh")
    spark.conf.set("spark.sql.catalog.updcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.updcat.warehouse", wh)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = s"$wh/db/orders_upd"
    IcebergTable.write(orders, path)

    spark.sql("""UPDATE updcat.db.orders_upd
                |SET o_orderpriority = 'AUDITED', o_totalprice = round(o_totalprice * 1.1, 2)
                |WHERE o_orderstatus = 'F'""".stripMargin)

    val expect = orders
      .withColumn("o_orderpriority",
        when(col("o_orderstatus") === "F", lit("AUDITED")).otherwise(col("o_orderpriority")))
      .withColumn("o_totalprice",
        when(col("o_orderstatus") === "F", round(col("o_totalprice") * 1.1, 2))
          .otherwise(col("o_totalprice")))
    assertSameResult(spark.sql("SELECT * FROM updcat.db.orders_upd"), expect)
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    assert(meta.snapshots.size == 2)
  }

  test("SQL MERGE INTO through the catalog: update + insert in one snapshot") {
    val wh = tmpDir("graft_mrg_wh")
    spark.conf.set("spark.sql.catalog.mrgcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.mrgcat.warehouse", wh)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val path = s"$wh/db/nation_mrg"
    IcebergTable.write(nation, path)

    // source: renames for keys 0..4, plus two brand-new nations
    nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(col("n_name"), lit("_X")))
      .unionByName(nation.limit(2)
        .withColumn("n_nationkey", col("n_nationkey") + 1000))
      .createOrReplaceTempView("nation_mrg_src")

    spark.sql("""MERGE INTO mrgcat.db.nation_mrg tgt USING nation_mrg_src src
                |ON tgt.n_nationkey = src.n_nationkey
                |WHEN MATCHED THEN UPDATE SET n_name = src.n_name
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val src = spark.table("nation_mrg_src")
    val expect = nation.alias("t")
      .join(src.select(col("n_nationkey").as("k"), col("n_name").as("new_name")),
        col("n_nationkey") === col("k"), "left")
      .select(col("n_nationkey"), coalesce(col("new_name"), col("t.n_name")).as("n_name"),
        col("n_regionkey"))
      .unionByName(src.filter(col("n_nationkey") >= 1000))
    assertSameResult(spark.sql("SELECT * FROM mrgcat.db.nation_mrg"), expect)
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    assert(meta.snapshots.size == 2)
  }

  test("SQL MERGE INTO with a subquery source and no target alias") {
    val wh = tmpDir("graft_mrg2_wh")
    spark.conf.set("spark.sql.catalog.mrg2cat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.mrg2cat.warehouse", wh)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    IcebergTable.write(nation, s"$wh/db/nation2")
    nation.createOrReplaceTempView("nation2_src")

    spark.sql("""MERGE INTO mrg2cat.db.nation2
                |USING (SELECT n_nationkey AS k, n_regionkey + 10 AS newreg
                |       FROM nation2_src WHERE n_nationkey < 3) src
                |ON n_nationkey = src.k
                |WHEN MATCHED THEN UPDATE SET n_regionkey = src.newreg""".stripMargin)

    val expect = nation.withColumn("n_regionkey",
      when(col("n_nationkey") < 3, col("n_regionkey") + 10).otherwise(col("n_regionkey")))
    assertSameResult(spark.sql("SELECT * FROM mrg2cat.db.nation2"), expect)
  }

  test("SQL MERGE INTO WHEN MATCHED THEN DELETE") {
    val wh = tmpDir("graft_mrgdel_wh")
    spark.conf.set("spark.sql.catalog.mdcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.mdcat.warehouse", wh)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    IcebergTable.write(region, s"$wh/db/region_mrgdel")
    region.filter(col("r_regionkey") < 2).createOrReplaceTempView("region_del_src")
    spark.sql("""MERGE INTO mdcat.db.region_mrgdel t USING region_del_src s
                |ON t.r_regionkey = s.r_regionkey
                |WHEN MATCHED THEN DELETE""".stripMargin)
    assertSameResult(spark.sql("SELECT * FROM mdcat.db.region_mrgdel"),
      region.filter(col("r_regionkey") >= 2))
  }

  test("CREATE TABLE ... PARTITIONED BY writes a real partition spec; scans prune on it") {
    val wh = tmpDir("graft_ptn_wh")
    spark.conf.set("spark.sql.catalog.ptncat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.ptncat.warehouse", wh)
    spark.sql("CREATE NAMESPACE ptncat.db")
    spark.sql("""CREATE TABLE ptncat.db.events_p (
                |  event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING)
                |PARTITIONED BY (months(ts), bucket(4, user_id))""".stripMargin)
    val meta = graft.core.TableMetadata.load(s"$wh/db/events_p", spark.sessionState.newHadoopConf())
    assert(meta.specs.head.fields.map(_.transform.toString) == Seq("month", "bucket[4]"))

    val eventsRaw = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "ts", "event_type")
    // make ts the TIMESTAMP the created schema declares, whatever the
    // fixture's physical type
    val events = eventsRaw
      .withColumn("ts", graft.core.EventTime.asTimestamp(eventsRaw, "ts"))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    IcebergTable.append(events, s"$wh/db/events_p")
    assertSameResult(spark.sql("SELECT * FROM ptncat.db.events_p"), events)
    // month-partition pruning via the catalog-resolved scan
    graft.sources.GraftDataSource.lastScanFiles = None
    val bound = events.agg(min("ts")).collect()(0).getTimestamp(0)
    val n = spark.sql(
      s"SELECT count(*) FROM ptncat.db.events_p WHERE ts < TIMESTAMP '$bound'")
      .collect()(0).getLong(0)
    assert(n == 0)
    val (kept, total) = graft.sources.GraftDataSource.lastScanFiles.get
    assert(kept < total, s"expected month pruning, scanned $kept of $total")
  }

  test("CREATE TABLE with sort-order + format-version properties writes real metadata") {
    val wh = tmpDir("graft_sort_wh")
    spark.conf.set("spark.sql.catalog.sortcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.sortcat.warehouse", wh)
    spark.sql("""CREATE TABLE sortcat.db.orders_sorted (
                |  o_orderkey BIGINT, o_totalprice DOUBLE)
                |TBLPROPERTIES ('sort-order'='o_orderkey ASC NULLS FIRST, o_totalprice DESC',
                |               'format-version'='3', 'owner.team'='data')""".stripMargin)
    val meta = graft.core.TableMetadata.load(s"$wh/db/orders_sorted",
      spark.sessionState.newHadoopConf())
    assert(meta.formatVersion == 3)
    assert(meta.defaultSortOrderId == 1)
    val sf = meta.sortOrder(1).get.fields
    assert(sf.map(f => (f.ascending, f.nullsFirst)) == Seq((true, true), (false, false)))
    assert(meta.properties.get("owner.team").contains("data"))
    assert(!meta.properties.contains("sort-order"))

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    spark.sql("INSERT INTO sortcat.db.orders_sorted SELECT o_orderkey, o_totalprice FROM parquet.`" +
      s"$sfDir/orders.parquet`")
    assertSameResult(spark.sql("SELECT * FROM sortcat.db.orders_sorted"), orders)
    // sorted write: each data file's min key comes first within the file
    val head2 = spark.sql("SELECT o_orderkey FROM sortcat.db.orders_sorted LIMIT 2")
      .collect().map(_.getLong(0))
    assert(head2.length == 2)
  }

  test("MERGE with multiple conditional WHEN clauses (first-matching wins)") {
    // Reference merge_into_multiple_update_delete_actions.test shape:
    // conditional UPDATE, conditional DELETE, fallthrough UPDATE, plus a
    // conditional INSERT — first applicable clause per row wins.
    val wh = tmpDir("graft_mmerge_wh")
    spark.conf.set("spark.sql.catalog.mmcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.mmcat.warehouse", wh)
    import spark.implicits._
    val path = s"$wh/db/t_mm"
    IcebergTable.write(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40))
      .toDF("id", "data", "v"), path)
    Seq((1, 100), (2, 200), (3, 300), (9, 900)).toDF("id", "sv")
      .createOrReplaceTempView("mm_src")

    spark.sql("""MERGE INTO mmcat.db.t_mm t USING mm_src s ON t.id = s.id
      WHEN MATCHED AND s.sv = 100 THEN UPDATE SET data = 'hundred', v = s.sv
      WHEN MATCHED AND t.v = 20 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v + s.sv
      WHEN NOT MATCHED AND s.sv > 500 THEN INSERT (id, data, v) VALUES (s.id, 'new', s.sv)""")

    val got = spark.sql("SELECT * FROM mmcat.db.t_mm ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq(
      (1, "hundred", 100), // first clause
      // id=2 deleted by second clause
      (3, "c", 330),       // fallthrough update: 30 + 300
      (4, "d", 40),        // unmatched target row untouched
      (9, "new", 900)))    // conditional insert
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates/deletes unreferenced target rows") {
    val wh = tmpDir("graft_nms_wh")
    spark.conf.set("spark.sql.catalog.nmscat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.nmscat.warehouse", wh)
    import spark.implicits._
    val path = s"$wh/db/t_nms"
    IcebergTable.write(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40))
      .toDF("id", "data", "v"), path)
    Seq((1, 100)).toDF("id", "sv").createOrReplaceTempView("nms_src")

    // id=1 matched -> updated from source; ids 2,3,4 unmatched-by-source:
    // v=20 deleted, the rest marked stale.
    spark.sql("""MERGE INTO nmscat.db.t_nms t USING nms_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.sv
      WHEN NOT MATCHED BY SOURCE AND t.v = 20 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET data = 'stale'""")

    val got = spark.sql("SELECT * FROM nmscat.db.t_nms ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1, "a", 100), (3, "stale", 30), (4, "stale", 40)))

    // UPDATE SET * / INSERT * assign all target columns by source name.
    Seq((3, "three", 333), (7, "seven", 777)).toDF("id", "data", "v")
      .createOrReplaceTempView("nms_src2")
    spark.sql("""MERGE INTO nmscat.db.t_nms t USING nms_src2 s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val got2 = spark.sql("SELECT * FROM nmscat.db.t_nms ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got2 == Seq((1, "a", 100), (3, "three", 333), (4, "stale", 40), (7, "seven", 777)))
  }

  test("DELETE with an IN-subquery over another Iceberg table (issue_1235 shape)") {
    val wh = tmpDir("graft_subq_wh")
    spark.conf.set("spark.sql.catalog.sqcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.sqcat.warehouse", wh)
    import spark.implicits._
    val target = s"$wh/db/dl_target"
    val probe = s"$wh/db/dl_probe"
    IcebergTable.write(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")).toDF("id", "data"),
      target, graft.write.TableWriteOptions(formatVersion = 3))
    IcebergTable.write((Seq(2) ++ (1000 until 1100)).toDF("id"), probe,
      graft.write.TableWriteOptions(formatVersion = 3))

    spark.sql("DELETE FROM sqcat.db.dl_target WHERE id IN (SELECT id FROM sqcat.db.dl_probe)")
    val after = spark.sql("SELECT * FROM sqcat.db.dl_target ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(after == Seq((1, "a"), (3, "c"), (4, "d"), (5, "e")))
    // Merge-on-read: v3 wrote a deletion vector, no data file rewritten.
    val meta = graft.core.TableMetadata.load(target, spark.sessionState.newHadoopConf())
    assert(meta.snapshots.size == 2)
    assert(IcebergTable.plan(spark, target).deleteFiles.nonEmpty)

    // UPDATE with a subquery predicate lowers the same way.
    spark.sql("UPDATE sqcat.db.dl_target SET data = 'probed' " +
      "WHERE id + 999 IN (SELECT id FROM sqcat.db.dl_probe)")
    assert(spark.sql("SELECT count(*) FROM sqcat.db.dl_target WHERE data = 'probed'")
      .collect()(0).getLong(0) == 4, "ids 1,3,4,5 all map into the probe range")

    // NOT EXISTS (correlated) lowers through the same path: ids 1 and 3
    // have no probe row at id+996 (997/999 < 1000) and get deleted; 4 and 5
    // map to probe ids 1000/1001 and survive.
    spark.sql("DELETE FROM sqcat.db.dl_target WHERE NOT EXISTS " +
      "(SELECT 1 FROM sqcat.db.dl_probe p WHERE p.id = dl_target.id + 996)")
    assert(spark.sql("SELECT id FROM sqcat.db.dl_target ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(4, 5))
  }

  test("ALTER TABLE SET TBLPROPERTIES sort-order evolves the default sort order") {
    // Reference ALTER TABLE ... SET SORTED BY semantics
    // (test_set_sorted_by_metadata.test): each distinct spec gets the next
    // order id; re-setting an identical spec reuses its id; future writes
    // sort by the new default.
    val wh = tmpDir("graft_so_wh")
    spark.conf.set("spark.sql.catalog.socat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.socat.warehouse", wh)
    import spark.implicits._
    val path = s"$wh/db/t_sorted"
    IcebergTable.write(Seq((3, 30L), (1, 10L), (2, 20L)).toDF("a", "b"), path)
    val conf = spark.sessionState.newHadoopConf()

    spark.sql("ALTER TABLE socat.db.t_sorted SET TBLPROPERTIES ('sort-order' = 'a ASC NULLS FIRST')")
    val m1 = graft.core.TableMetadata.load(path, conf)
    assert(m1.defaultSortOrderId == 1)
    assert(m1.sortOrder(1).get.fields.map(f => (f.sourceId, f.ascending, f.nullsFirst)) ==
      Seq((m1.currentSchema.fields.find(_.name == "a").get.id, true, true)))
    assert(!m1.properties.contains("sort-order"), "spec must become a sort order, not a property")

    spark.sql("ALTER TABLE socat.db.t_sorted SET TBLPROPERTIES ('sort-order' = 'b DESC NULLS LAST')")
    val m2 = graft.core.TableMetadata.load(path, conf)
    assert(m2.defaultSortOrderId == 2 && m2.sortOrders.map(_.orderId).sorted == Seq(0, 1, 2))

    // Identical spec re-set: REUSED id, no new order appended.
    spark.sql("ALTER TABLE socat.db.t_sorted SET TBLPROPERTIES ('sort-order' = 'a ASC NULLS FIRST')")
    val m3 = graft.core.TableMetadata.load(path, conf)
    assert(m3.defaultSortOrderId == 1 && m3.sortOrders.map(_.orderId).sorted == Seq(0, 1, 2))

    // New appends honor the new default order (file-local sortedness).
    IcebergTable.append(Seq((9, 90L), (4, 40L), (7, 70L)).toDF("a", "b"), path)
    val newest = IcebergTable.plan(spark, path).dataFiles.maxBy(_.dataSeq)
    assert(newest.info.sortOrderId.contains(1))
  }

  test("ALTER TABLE SET TBLPROPERTIES partition-spec replaces the default spec via SQL") {
    val wh = tmpDir("graft_ps_wh")
    spark.conf.set("spark.sql.catalog.pscat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.pscat.warehouse", wh)
    import spark.implicits._
    val path = s"$wh/db/t_pspec"
    IcebergTable.write(Seq((1, 10L), (2, 20L)).toDF("a", "b"), path,
      graft.write.TableWriteOptions(partitionBy = Seq(("a", graft.core.Transforms.Identity))))
    spark.sql("ALTER TABLE pscat.db.t_pspec SET TBLPROPERTIES ('partition-spec' = 'bucket(4, b)')")
    val conf = spark.sessionState.newHadoopConf()
    val m = graft.core.TableMetadata.load(path, conf)
    assert(m.defaultSpec.fields.map(f => (f.name, f.transform.toString)) == Seq(("b_bucket", "bucket[4]")))
    assert(!m.properties.contains("partition-spec"))
    IcebergTable.append(Seq((3, 30L)).toDF("a", "b"), path)
    assert(spark.sql("SELECT count(*) FROM pscat.db.t_pspec").collect()(0).getLong(0) == 3)
  }

  test("ALTER TABLE via SQL: add/rename/drop column and properties evolve the schema") {
    val wh = tmpDir("graft_alt_wh")
    spark.conf.set("spark.sql.catalog.altcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.altcat.warehouse", wh)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val path = s"$wh/db/region_alt"
    IcebergTable.write(region, path)

    spark.sql("ALTER TABLE altcat.db.region_alt ADD COLUMN score DOUBLE")
    spark.sql("ALTER TABLE altcat.db.region_alt RENAME COLUMN r_name TO region_name")
    spark.sql("ALTER TABLE altcat.db.region_alt SET TBLPROPERTIES ('owner.team' = 'data')")
    val afterAdd = spark.sql("SELECT * FROM altcat.db.region_alt")
    assert(afterAdd.columns.toSeq == Seq("r_regionkey", "region_name", "score"))
    assert(afterAdd.filter(col("score").isNull).count() == region.count()) // default fill
    assertSameResult(afterAdd.select(col("region_name")), region.select(col("r_name").as("region_name")))

    spark.sql("ALTER TABLE altcat.db.region_alt DROP COLUMN score")
    assert(spark.sql("SELECT * FROM altcat.db.region_alt").columns.toSeq
      == Seq("r_regionkey", "region_name"))
    spark.sql("ALTER TABLE altcat.db.region_alt DROP COLUMN IF EXISTS no_such_column") // no-op
    spark.sql("ALTER TABLE altcat.db.region_alt SET TBLPROPERTIES ('format-version' = '3')")
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    assert(meta.properties.get("owner.team").contains("data"))
    assert(meta.formatVersion == 3) // format upgrade rode TBLPROPERTIES
    assert(!meta.properties.contains("format-version"))
  }

  test("INSERT OVERWRITE replaces the table in one snapshot, old state stays time-travelable") {
    val wh = tmpDir("graft_ovw_wh")
    spark.conf.set("spark.sql.catalog.ovwcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.ovwcat.warehouse", wh)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val path = s"$wh/db/region_ovw"
    IcebergTable.write(region, path)
    // MoR delete first, so the overwrite also has a delete file to drop
    spark.sql("DELETE FROM ovwcat.db.region_ovw WHERE r_regionkey = 0")
    region.filter(col("r_regionkey") >= 3).createOrReplaceTempView("region_ovw_src")

    spark.sql("INSERT OVERWRITE ovwcat.db.region_ovw SELECT * FROM region_ovw_src")

    val expect = region.filter(col("r_regionkey") >= 3)
    assertSameResult(spark.sql("SELECT * FROM ovwcat.db.region_ovw"), expect)
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    assert(meta.snapshots.size == 3) // write, delete, overwrite
    // pre-overwrite state still readable
    val preOverwrite = meta.snapshots.sortBy(_.sequenceNumber).apply(1).snapshotId
    assertSameResult(
      spark.sql(s"SELECT * FROM ovwcat.db.region_ovw VERSION AS OF $preOverwrite"),
      region.filter(col("r_regionkey") =!= 0))
  }

  test("SQL DELETE and UPDATE on a REST-catalog table commit through the REST transaction") {
    val cat = new RestCatalog(server.uri, CatalogOptions(token = Some(server.token)))
    cat.createNamespace(Seq("dmlns"))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val loc = tmpDir("graft_rest_dml_tbl")
    cat.createTable(Seq("dmlns"), "orders", IcebergTypes.fromSpark(orders.schema), loc)
    cat.appendDF(orders, Seq("dmlns"), "orders")
    spark.conf.set("spark.sql.catalog.dmlrest", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dmlrest.uri", server.uri)
    spark.conf.set("spark.sql.catalog.dmlrest.token", server.token)

    spark.sql("DELETE FROM dmlrest.dmlns.orders WHERE o_orderstatus = 'F'")
    spark.sql("UPDATE dmlrest.dmlns.orders SET o_totalprice = 0.0 WHERE o_orderstatus = 'P'")

    val expect = orders.filter(col("o_orderstatus") =!= "F")
      .withColumn("o_totalprice",
        when(col("o_orderstatus") === "P", lit(0.0)).otherwise(col("o_totalprice")))
    assertSameResult(spark.sql("SELECT * FROM dmlrest.dmlns.orders"), expect)
    // the delete + update snapshots are visible through the catalog's own view
    assert(cat.loadTable(Seq("dmlns"), "orders").metadata.snapshots.size == 3)
    assertSameResult(cat.loadDF(spark, Seq("dmlns"), "orders"), expect)
  }

  test("SQL metadata columns: SELECT _row_id works on v3, NULL on v2") {
    val wh = tmpDir("graft_lin_wh")
    spark.conf.set("spark.sql.catalog.lincat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.lincat.warehouse", wh)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    IcebergTable.write(region, s"$wh/db/r_v3",
      graft.write.TableWriteOptions(formatVersion = 3))
    IcebergTable.write(region, s"$wh/db/r_v2")

    val v3 = spark.sql(
      "SELECT r_regionkey, _row_id, _last_updated_sequence_number FROM lincat.db.r_v3 ORDER BY _row_id")
      .collect()
    assert(v3.map(_.getLong(1)).toSeq == (0L until region.count()).toSeq)
    assert(v3.forall(_.getLong(2) == 1L))
    val v2 = spark.sql("SELECT _row_id FROM lincat.db.r_v2").collect()
    assert(v2.forall(_.isNullAt(0)), "v2 tables read NULL _row_id")
    // filtering on the metadata column
    assert(spark.sql("SELECT r_regionkey FROM lincat.db.r_v3 WHERE _row_id = 2").count() == 1)
  }

  test("DROP TABLE and DROP TABLE PURGE remove warehouse tables") {
    val wh = tmpDir("graft_drop_wh")
    spark.conf.set("spark.sql.catalog.dropcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.dropcat.warehouse", wh)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    IcebergTable.write(region, s"$wh/db/r1")
    IcebergTable.write(region, s"$wh/db/r2")
    spark.sql("DROP TABLE dropcat.db.r1")
    spark.sql("DROP TABLE dropcat.db.r2 PURGE")
    assert(!new java.io.File(s"$wh/db/r1").exists())
    assert(!new java.io.File(s"$wh/db/r2").exists())
    assert(spark.sql("SHOW TABLES IN dropcat.db").collect().isEmpty)
  }

  test("SQL metadata tables: t.snapshots / t.manifest_entries / t.properties") {
    val wh = tmpDir("graft_meta_wh")
    spark.conf.set("spark.sql.catalog.metacat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.metacat.warehouse", wh)
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val path = s"$wh/db/region_meta"
    IcebergTable.write(region, path)
    IcebergTable.append(region, path)

    val snaps = spark.sql("SELECT * FROM metacat.db.region_meta.snapshots")
    assert(snaps.count() == 2)
    assert(snaps.columns.contains("snapshot_id"))
    val entries = spark.sql(
      "SELECT count(*) FROM metacat.db.region_meta.manifest_entries WHERE status = 'ADDED'")
      .collect()(0).getLong(0)
    assert(entries >= 2) // one added data file per append
    graft.write.Evolution.setProperties(spark, path, Map("fmt" -> "iceberg"))
    val props = spark.sql(
      "SELECT value FROM metacat.db.region_meta.properties WHERE key = 'fmt'")
      .collect().map(_.getString(0)).toSeq
    assert(props == Seq("iceberg"))

    // t.files / t.partitions — the Iceberg-Spark metadata-table convention.
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val ppath = s"$wh/db/orders_meta"
    IcebergTable.write(orders, ppath, graft.write.TableWriteOptions(
      partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity))))
    IcebergTable.delete(spark, ppath, "o_orderstatus = 'F' AND o_orderkey % 2 = 0")
    val files = spark.sql("SELECT * FROM metacat.db.orders_meta.files")
    assert(files.filter("content = 0").count() == 3) // one data file per status
    assert(files.filter("content = 1").count() >= 1) // the positional delete
    assert(files.filter("partition = 'o_orderstatus=F' AND content = 1").count() >= 1,
      "delete file must carry its partition string")
    val parts = spark.sql(
      "SELECT * FROM metacat.db.orders_meta.partitions ORDER BY partition").collect()
    assert(parts.map(_.getAs[String]("partition")).toSeq ==
      Seq("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"))
    assert(parts.map(_.getAs[Long]("record_count")).sum == orders.count())
    val fRow = parts.find(_.getAs[String]("partition") == "o_orderstatus=F").get
    assert(fRow.getAs[Int]("position_delete_file_count") >= 1)
    assert(parts.forall(_.getAs[Long]("total_data_file_size_in_bytes") > 0))
    val manifests = spark.sql("SELECT * FROM metacat.db.orders_meta.manifests").collect()
    assert(manifests.length >= 2) // one data + one delete manifest
    assert(manifests.exists(_.getAs[Int]("content") == 1), "delete manifest row expected")
    assert(manifests.filter(_.getAs[Int]("content") == 0)
      .map(_.getAs[Long]("added_rows_count")).sum == orders.count())
    // a missing base table still errors cleanly
    val e = intercept[Exception](spark.sql("SELECT * FROM metacat.db.nope.snapshots").collect())
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("REST-backed catalog: SQL SELECT through a served LoadTableResult") {
    val cat = new RestCatalog(server.uri, CatalogOptions(token = Some(server.token)))
    cat.createNamespace(Seq("sqlns"))
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val loc = tmpDir("graft_rest_sql_tbl")
    cat.createTable(Seq("sqlns"), "nation", IcebergTypes.fromSpark(nation.schema), loc)
    cat.appendDF(nation, Seq("sqlns"), "nation")

    spark.conf.set("spark.sql.catalog.restcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.restcat.uri", server.uri)
    spark.conf.set("spark.sql.catalog.restcat.token", server.token)
    assertSameResult(spark.sql("SELECT * FROM restcat.sqlns.nation"), nation)
    assert(spark.sql("SHOW TABLES IN restcat.sqlns").collect().map(_.getString(1)).toSeq == Seq("nation"))
    val agg = spark.sql(
      "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM restcat.sqlns.nation GROUP BY n_regionkey")
    assertSameResult(agg,
      nation.groupBy("n_regionkey").agg(count(lit(1)).cast("long").as("n")))
  }

  test("CALL system.rewrite_data_files compacts a warehouse table and reports metrics") {
    val wh = tmpDir("graft_proc_wh")
    spark.conf.set("spark.sql.catalog.proccat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.proccat.warehouse", wh)
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = s"$wh/db/orders_c"
    IcebergTable.write(src.repartition(8), path)
    val res = spark.sql(
      "CALL proccat.system.rewrite_data_files(table => 'db.orders_c', rewrite_all => true)")
    assert(res.columns.toSeq ==
      Seq("rewritten_data_files", "added_data_files", "rewritten_bytes"))
    val row = res.collect()(0)
    assert(row.getLong(0) == 8, "all 8 input files rewritten")
    assert(row.getLong(1) >= 1 && row.getLong(1) < 8, "compacted to fewer files")
    assert(row.getLong(2) > 0)
    assert(IcebergTable.plan(spark, path).dataFiles.size == row.getLong(1).toInt)
    assertSameResult(IcebergTable.load(spark, path), src)
  }

  test("CALL rewrite_data_files bind-time validation: empty identifier components and " +
      "sub-100-byte target sizes are refused (rewrite_data_files_validation.test)") {
    val wh = tmpDir("graft_proc_val_wh")
    spark.conf.set("spark.sql.catalog.valcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.valcat.warehouse", wh)
    def err(sql: String): String =
      intercept[Exception](spark.sql(sql).collect()).getMessage
    assert(err("CALL valcat.system.rewrite_data_files(table => '.b')")
      .contains("has an empty component"))
    assert(err("CALL valcat.system.rewrite_data_files(table => 'a..c')")
      .contains("has an empty component"))
    for (bad <- Seq("0", "-1", "99"))
      assert(err(s"CALL valcat.system.rewrite_data_files(table => 'a.b', target_file_size_bytes => $bad)")
        .contains("'target_file_size_bytes' must be >= 100 bytes"), s"size $bad must be refused")
  }

  test("CALL rewrite_data_files honors min_input_files (reference default 5) and table-property target size") {
    val wh = tmpDir("graft_proc_min_wh")
    spark.conf.set("spark.sql.catalog.mincat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.mincat.warehouse", wh)
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = s"$wh/db/region_m"
    IcebergTable.write(src.repartition(4), path)
    // 4 undersized files < default min_input_files = 5 -> no-op, 0/0/0.
    val noop = spark.sql(
      "CALL mincat.system.rewrite_data_files(table => 'db.region_m')").collect()(0)
    assert(noop.getLong(0) == 0 && noop.getLong(1) == 0 && noop.getLong(2) == 0)
    assert(IcebergTable.plan(spark, path).dataFiles.size == 4)
    // Explicit min_input_files => 2 compacts.
    val done = spark.sql(
      "CALL mincat.system.rewrite_data_files(table => 'db.region_m', min_input_files => 2)")
      .collect()(0)
    assert(done.getLong(0) == 4 && done.getLong(1) < 4)
    assertSameResult(IcebergTable.load(spark, path), src)

    // write.target-file-size-bytes = 1 makes every file "big enough":
    // nothing qualifies even at min_input_files => 1 (resolution order:
    // explicit arg > table property > 512 MiB default).
    val path2 = s"$wh/db/region_p"
    IcebergTable.write(src.repartition(3), path2)
    graft.write.Evolution.setProperties(spark, path2,
      Map("write.target-file-size-bytes" -> "1"))
    val skipped = spark.sql(
      "CALL mincat.system.rewrite_data_files(table => 'db.region_p', min_input_files => 1)")
      .collect()(0)
    assert(skipped.getLong(0) == 0)
    assert(IcebergTable.plan(spark, path2).dataFiles.size == 3)

    // The property resolves as writes resolve it: '64MB' is 64 MiB, so
    // three small files compact into one.
    val path3 = s"$wh/db/region_q"
    IcebergTable.write(src.repartition(3), path3)
    graft.write.Evolution.setProperties(spark, path3,
      Map("write.target-file-size-bytes" -> "64MB"))
    val sized = spark.sql(
      "CALL mincat.system.rewrite_data_files(table => 'db.region_q', min_input_files => 1)")
      .collect()(0)
    assert(sized.getLong(0) == 3 && sized.getLong(1) == 1)
    assertSameResult(IcebergTable.load(spark, path3), src)
  }

  test("CALL rewrite_data_files on a direct-path table and on a REST-catalog table") {
    // Direct path through the uri/warehouse-less default catalog.
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val path = tmpDir("graft_proc_path_tbl")
    IcebergTable.write(src.repartition(6), path)
    val row = spark.sql(
      s"CALL graft.system.rewrite_data_files(table => '$path', rewrite_all => true)")
      .collect()(0)
    assert(row.getLong(0) == 6 && row.getLong(1) < 6)
    assertSameResult(IcebergTable.load(spark, path), src)

    // REST-catalog table: the compaction must commit through the REST
    // transaction (the server's metadata pointer advances).
    val cat = new RestCatalog(server.uri, CatalogOptions(token = Some(server.token)))
    cat.createNamespace(Seq("procns"))
    val loc = tmpDir("graft_proc_rest_tbl")
    cat.createTable(Seq("procns"), "region", IcebergTypes.fromSpark(src.schema), loc)
    cat.appendDF(src.repartition(2), Seq("procns"), "region")
    cat.appendDF(src.repartition(2), Seq("procns"), "region")
    spark.conf.set("spark.sql.catalog.prestcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.prestcat.uri", server.uri)
    spark.conf.set("spark.sql.catalog.prestcat.token", server.token)
    val restRow = spark.sql(
      "CALL prestcat.system.rewrite_data_files(table => 'procns.region', rewrite_all => true)")
      .collect()(0)
    assert(restRow.getLong(0) == 4)
    val served = cat.loadTable(Seq("procns"), "region").metadata
    assert(served.snapshots.map(_.operation).contains("replace"),
      "REST catalog must have the replace snapshot committed through it")
    assertSameResult(spark.sql("SELECT * FROM prestcat.procns.region"), src.union(src))
  }

  test("SHOW PROCEDURES lists rewrite_data_files; unknown procedure errors cleanly") {
    val shown = spark.sql("SHOW PROCEDURES IN graft.system").collect()
    assert(shown.exists(_.toString.contains("rewrite_data_files")))
    val e = intercept[Exception](
      spark.sql("CALL graft.system.nope(table => 'x')").collect())
    // Spark wraps the catalog's error in FAILED_TO_LOAD_ROUTINE.
    assert(e.getMessage.toLowerCase.contains("nope"))
  }

  test("INSERT INTO with a column list fills unspecified nullable columns with NULL") {
    val wh = tmpDir("graft_insert_cols_wh")
    spark.conf.set("spark.sql.catalog.inscat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.inscat.warehouse", wh)
    spark.sql("CREATE TABLE inscat.db.t (id BIGINT, name STRING, score DOUBLE)")
    spark.sql("INSERT INTO inscat.db.t (id, name) VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO inscat.db.t (score, id) VALUES (9.5, 3)")
    val rows = spark.sql("SELECT id, name, score FROM inscat.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq(
      (1L, Some("a"), None), (2L, Some("b"), None), (3L, None, Some(9.5))), rows.mkString(","))
  }
}
