package graft

import graft.catalog.{CatalogOptions, RestCatalog, RestCatalogException}
import graft.core.IcebergTypes
import org.scalatest.BeforeAndAfterAll

/** REST catalog end-to-end against the in-process test server: OAuth2,
  * namespaces, table lifecycle, DataFrame append/read, commit conflicts. */
class RestCatalogSpec extends SparkSpec with BeforeAndAfterAll {
  private val server = new TestRestServer
  private lazy val catalog = new RestCatalog(server.uri,
    CatalogOptions(clientId = Some("id"), clientSecret = Some("secret")))

  override def beforeAll(): Unit = server.start()
  override def afterAll(): Unit = server.stop()

  test("AWS endpoint synthesis: Glue catalog ids and S3 Tables ARNs") {
    import graft.catalog.AwsEndpoints
    // Glue: all five documented warehouse formats pass the sanity check.
    for (wh <- Seq(":", "123456789012", "123456789012:cat", "a/b", "123456789012:a/b")) {
      val g = AwsEndpoints.forGlue(wh, "eu-west-1")
      assert(g.endpoint == "https://glue.eu-west-1.amazonaws.com/iceberg")
      assert(g.service == "glue" && g.region == "eu-west-1" && g.warehouse == wh)
    }
    // Invalid Glue formats are rejected loudly.
    for (bad <- Seq("", "12345", "a:b:c", "123456789012:a:b", "a/b/c:"))
      intercept[IllegalArgumentException](AwsEndpoints.forGlue(bad, "us-east-2"))
    intercept[IllegalArgumentException](AwsEndpoints.forGlue(":", "")) // region required

    // S3 Tables: region comes from the ARN.
    val arn = "arn:aws:s3tables:us-west-2:123456789012:bucket/my-table-bucket"
    val s3t = AwsEndpoints.forS3Tables(arn)
    assert(s3t.endpoint == "https://s3tables.us-west-2.amazonaws.com/iceberg")
    assert(s3t.service == "s3tables" && s3t.region == "us-west-2" && s3t.warehouse == arn)
    // Malformed / regionless ARNs fail with the section named.
    intercept[IllegalArgumentException](
      AwsEndpoints.forS3Tables("arn:aws:s3tables::123456789012:bucket/b")) // empty region
    intercept[IllegalArgumentException](AwsEndpoints.forS3Tables("not-an-arn"))
    intercept[IllegalArgumentException](
      AwsEndpoints.forS3Tables("arn:aws:s3tables:us-east-1:123456789012:")) // empty resource

    // Dispatch: unknown endpoint-type lists the accepted options.
    val e = intercept[IllegalArgumentException](AwsEndpoints.resolve("dynamo", ":", None))
    assert(e.getMessage.contains("glue") && e.getMessage.contains("s3_tables"))

    // Catalog wiring: endpoint-type synthesizes the URI + SigV4 scope; a
    // bearer token alongside it is refused (reference: "'endpoint_type' can
    // not be combined with 'authorization_type'").
    val cat = new graft.catalog.GraftSparkCatalog
    cat.initialize("glue", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("endpoint-type", "glue", "warehouse", "123456789012:cat",
        "sigv4.region", "ap-south-1", "sigv4.access-key", "AK", "sigv4.secret-key", "SK")))
    intercept[IllegalArgumentException] {
      new graft.catalog.GraftSparkCatalog().initialize("bad",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("endpoint-type", "glue", "warehouse", ":", "token", "t",
            "sigv4.region", "us-east-1")))
    }
    intercept[IllegalArgumentException] {
      new graft.catalog.GraftSparkCatalog().initialize("bad2",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("endpoint-type", "glue"))) // no warehouse
    }
  }

  test("oauth2 + config + namespace lifecycle") {
    assert(catalog.config()("warehouse") == "memory")
    catalog.createNamespace(Seq("db"), Map("owner" -> "graft"))
    assert(catalog.listNamespaces() == Seq(Seq("db")))
    assert(catalog.namespaceProperties(Seq("db"))("owner") == "graft")
    catalog.updateNamespaceProperties(Seq("db"), Map("x" -> "1"), Seq("owner"))
    val props = catalog.namespaceProperties(Seq("db"))
    assert(props.get("x").contains("1") && !props.contains("owner"))
  }

  test("create table via catalog, append + read DataFrames, snapshot accumulates") {
    catalog.createNamespace(Seq("etl"))
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val loc = tmpDir("graft_rest_tbl")
    val schema = IcebergTypes.fromSpark(src.schema)
    catalog.createTable(Seq("etl"), "region", schema, loc)
    assert(catalog.listTables(Seq("etl")) == Seq("region"))
    assert(catalog.tableExists(Seq("etl"), "region"))
    assert(!catalog.tableExists(Seq("etl"), "nope"))

    catalog.appendDF(src, Seq("etl"), "region")
    assertSameResult(src, catalog.loadDF(spark, Seq("etl"), "region"))
    catalog.appendDF(src, Seq("etl"), "region")
    assert(catalog.loadDF(spark, Seq("etl"), "region").count() == 2 * src.count())
    val t = catalog.loadTable(Seq("etl"), "region")
    assert(t.metadata.snapshots.size == 2)
    assert(t.metadata.currentSnapshot.get.operation == "append")
  }

  test("set-statistics registers an NDV statistics file on a REST table") {
    catalog.createNamespace(Seq("stats"))
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val loc = tmpDir("graft_rest_stats")
    catalog.createTable(Seq("stats"), "nation", IcebergTypes.fromSpark(src.schema), loc)
    catalog.appendDF(src, Seq("stats"), "nation")

    val meta = catalog.loadTable(Seq("stats"), "nation").metadata
    val r = graft.write.TableStats.computeWith(spark, meta,
      entry => catalog.setStatistics(Seq("stats"), "nation", entry).metadata)
    assert(r.ndv("n_regionkey") == 5L)

    val after = catalog.loadTable(Seq("stats"), "nation").metadata
    assert(after.statistics.size == 1)
    val snapId = after.currentSnapshot.get.snapshotId
    val regionkeyId = after.currentSchema.fields.find(_.name == "n_regionkey").get.id
    assert(after.ndvFor(snapId).get(regionkeyId).contains(5L))

    // Re-analyze replaces the entry for the same snapshot, not appends.
    graft.write.TableStats.computeWith(spark, after,
      entry => catalog.setStatistics(Seq("stats"), "nation", entry).metadata)
    assert(catalog.loadTable(Seq("stats"), "nation").metadata.statistics.size == 1)
  }

  test("commit with stale expected snapshot is rejected with 409") {
    val t = catalog.loadTable(Seq("etl"), "region")
    val snap = t.metadata.currentSnapshot.get
    val stale = snap.copy(snapshotId = snap.snapshotId + 1)
    val ex = intercept[RestCatalogException] {
      catalog.commitSnapshot(Seq("etl"), "region", Some(123456789L), stale)
    }
    assert(ex.status == 409)
  }

  test("server-side scan planning returns the same rows as client planning") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val loc = tmpDir("graft_rest_planned")
    catalog.createNamespace(Seq("planned"))
    catalog.createTable(Seq("planned"), "nation", IcebergTypes.fromSpark(src.schema), loc)
    catalog.appendDF(src, Seq("planned"), "nation")
    val serverPlanned = catalog.loadDFServerPlanned(spark, Seq("planned"), "nation")
    assertSameResult(src, serverPlanned)
    // filters still apply on top of server-planned scans
    val filtered = catalog.loadDFServerPlanned(spark, Seq("planned"), "nation",
      graft.read.ReadOptions(filterSql = Some("n_regionkey = 2")))
    assertSameResult(src.filter("n_regionkey = 2"), filtered)
  }

  test("async scan planning: submitted -> poll -> completed, same rows") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val loc = tmpDir("graft_rest_plan_async")
    catalog.createNamespace(Seq("plan_async"))
    catalog.createTable(Seq("plan_async"), "nation", IcebergTypes.fromSpark(src.schema), loc)
    catalog.appendDF(src, Seq("plan_async"), "nation")
    server.planMode = "async"
    server.clearLog()
    try {
      assertSameResult(src, catalog.loadDFServerPlanned(spark, Seq("plan_async"), "nation"))
      val polls = server.loggedRequests.filter { case (m, p) =>
        m == "GET" && p.contains("/plan/")
      }
      // First poll re-answers `submitted`, the second carries the result.
      assert(polls.size >= 2, s"expected >=2 status polls, saw $polls")
    } finally server.planMode = "sync"
  }

  test("sharded scan planning: plan-tasks fetched via POST /tasks, same rows") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val loc = tmpDir("graft_rest_plan_shard")
    catalog.createNamespace(Seq("plan_shard"))
    catalog.createTable(Seq("plan_shard"), "nation", IcebergTypes.fromSpark(src.schema), loc)
    // Two appends -> at least two data files -> at least two shards.
    catalog.appendDF(src.filter("n_nationkey < 10"), Seq("plan_shard"), "nation")
    catalog.appendDF(src.filter("n_nationkey >= 10"), Seq("plan_shard"), "nation")
    server.planMode = "shard"
    server.clearLog()
    try {
      assertSameResult(src, catalog.loadDFServerPlanned(spark, Seq("plan_shard"), "nation"))
      val fetches = server.loggedRequests.filter { case (m, p) =>
        m == "POST" && p.endsWith("/tasks")
      }
      assert(fetches.size >= 2, s"expected >=2 plan-task fetches, saw $fetches")
    } finally server.planMode = "sync"
  }

  test("server-planned scan applies merge-on-read deletes like client planning") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val loc = tmpDir("graft_rest_plan_mor")
    catalog.createNamespace(Seq("plan_mor"))
    catalog.createTable(Seq("plan_mor"), "orders", IcebergTypes.fromSpark(src.schema), loc)
    catalog.appendDF(src, Seq("plan_mor"), "orders")
    graft.write.Dml.delete(spark, catalog.tableOps(Seq("plan_mor"), "orders"),
      "o_orderstatus = 'F'")
    val expected = src.filter("o_orderstatus <> 'F'")
    val clientPlanned = catalog.loadDF(spark, Seq("plan_mor"), "orders")
    val serverPlanned = catalog.loadDFServerPlanned(spark, Seq("plan_mor"), "orders")
    assertSameResult(expected, clientPlanned)
    assertSameResult(clientPlanned, serverPlanned)
  }

  test("failed plan raises and cancels; 406 falls back to client planning") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val loc = tmpDir("graft_rest_plan_fail")
    catalog.createNamespace(Seq("plan_fail"))
    catalog.createTable(Seq("plan_fail"), "nation", IcebergTypes.fromSpark(src.schema), loc)
    catalog.appendDF(src, Seq("plan_fail"), "nation")
    server.planMode = "fail"
    try {
      val before = server.cancelledPlans.size()
      intercept[IllegalStateException](
        catalog.loadDFServerPlanned(spark, Seq("plan_fail"), "nation"))
      assert(server.cancelledPlans.size() > before,
        "failed plan was not cancelled via DELETE /plan/{id}")
      server.planMode = "406"
      // Explicit server planning refuses...
      intercept[UnsupportedOperationException](
        catalog.loadDFServerPlanned(spark, Seq("plan_fail"), "nation"))
    } finally server.planMode = "sync"
  }

  test("loadDF auto-routes through server planning only when advertised and safe") {
    val planEndpoint = "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}/plan"
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val srv = new TestRestServer
    srv.start()
    try {
      srv.advertisedEndpoints = Some((RestCatalog.defaultEndpoints + planEndpoint).toSeq)
      val cat = new RestCatalog(srv.uri,
        CatalogOptions(clientId = Some("id"), clientSecret = Some("secret")))
      val loc = tmpDir("graft_rest_plan_auto")
      cat.createNamespace(Seq("auto"))
      cat.createTable(Seq("auto"), "nation", IcebergTypes.fromSpark(src.schema), loc)
      cat.appendDF(src, Seq("auto"), "nation")
      def planPosts = srv.loggedRequests.count { case (m, p) =>
        m == "POST" && p.endsWith("/plan")
      }
      // Advertised + sync -> loadDF plans server-side.
      srv.clearLog()
      assertSameResult(src, cat.loadDF(spark, Seq("auto"), "nation"))
      assert(planPosts == 1, "loadDF did not use the advertised plan endpoint")
      // 406 -> silent client fallback, still correct rows.
      srv.planMode = "406"
      srv.clearLog()
      assertSameResult(src, cat.loadDF(spark, Seq("auto"), "nation"))
      assert(planPosts == 1, "406 fallback should have attempted the plan endpoint once")
      srv.planMode = "sync"
      // Table config scan-planning-mode=client wins over advertisement.
      srv.vendedConfig = Map("scan-planning-mode" -> "client")
      srv.clearLog()
      assertSameResult(src, cat.loadDF(spark, Seq("auto"), "nation"))
      assert(planPosts == 0, "scan-planning-mode=client must force client planning")
      srv.vendedConfig = Map.empty
      // Reads that keep file metadata (DML input) always plan client-side
      // (reference iceberg_optimizer.cpp:27-75).
      srv.clearLog()
      cat.loadDF(spark, Seq("auto"), "nation",
        graft.read.ReadOptions(keepFileMeta = true)).collect()
      assert(planPosts == 0, "keepFileMeta read must not plan server-side")
    } finally srv.stop()
  }

  test("iceberg_load_table_response parses a LoadTableResult JSON into rows") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val t = catalog.loadTable(Seq("etl"), "region")
    // round-trip the LoadTableResult through the raw JSON debug function
    val json = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = m.createObjectNode()
      o.put("metadata-location", t.metadataLocation)
      o.set[com.fasterxml.jackson.databind.JsonNode]("metadata",
        m.readTree(graft.core.TableMetadata.toJson(t.metadata)))
      val c = o.putObject("config"); c.put("k", "v")
      m.writeValueAsString(o)
    }
    val rows = IcebergTable.loadTableResponse(spark, json).collect()
    assert(rows.nonEmpty)
    assert(rows(0).getAs[String]("table_uuid") == t.metadata.tableUuid)
    assert(rows(0).getAs[Int]("format_version") == t.metadata.formatVersion)
    assert(rows.exists(r => r.getAs[String]("config_key") == "k" && r.getAs[String]("config_value") == "v"))
  }

  test("multi-table transaction commits atomically") {
    catalog.createNamespace(Seq("tx"))
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    catalog.createTable(Seq("tx"), "region", IcebergTypes.fromSpark(region.schema), tmpDir("tx_region"))
    catalog.createTable(Seq("tx"), "nation", IcebergTypes.fromSpark(nation.schema), tmpDir("tx_nation"))

    catalog.appendAllDF(Seq(
      (region, Seq("tx"), "region"),
      (nation, Seq("tx"), "nation")))
    assertSameResult(region, catalog.loadDF(spark, Seq("tx"), "region"))
    assertSameResult(nation, catalog.loadDF(spark, Seq("tx"), "nation"))

    // Atomicity: a transaction where the SECOND table's requirement fails
    // must leave the FIRST table untouched.
    val t1 = catalog.loadTable(Seq("tx"), "region")
    val t2 = catalog.loadTable(Seq("tx"), "nation")
    val conf = spark.sessionState.newHadoopConf()
    val e1 = graft.write.IcebergWrite.writeDataFiles(region, t1.metadata, conf)
    val (s1, _) = graft.write.IcebergWrite.buildSnapshotFiles(t1.metadata, e1, Nil, "append", conf)
    val e2 = graft.write.IcebergWrite.writeDataFiles(nation, t2.metadata, conf)
    val (s2, _) = graft.write.IcebergWrite.buildSnapshotFiles(t2.metadata, e2, Nil, "append", conf)
    val ex = intercept[RestCatalogException] {
      catalog.commitTransaction(Seq(
        catalog.TableChange(Seq("tx"), "region", t1.metadata.currentSnapshotId, s1),
        catalog.TableChange(Seq("tx"), "nation", Some(-42L), s2))) // stale requirement
    }
    assert(ex.status == 409)
    assert(catalog.loadTable(Seq("tx"), "region").metadata.currentSnapshotId ==
      t1.metadata.currentSnapshotId, "failed transaction must not advance any table")
  }

  test("max_table_staleness caches loads; writes invalidate eagerly") {
    val cached = new RestCatalog(server.uri,
      CatalogOptions(token = Some(server.token), maxTableStalenessMs = 60000L))
    catalog.createNamespace(Seq("stale"))
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    catalog.createTable(Seq("stale"), "r", IcebergTypes.fromSpark(region.schema), tmpDir("stale_r"))
    val before = cached.loadTable(Seq("stale"), "r")
    // another writer commits behind the cache's back
    catalog.appendDF(region, Seq("stale"), "r")
    val after = catalog.loadTable(Seq("stale"), "r")
    assert(after.metadata.currentSnapshotId != before.metadata.currentSnapshotId)
    // within the staleness window the cached client still sees the old state
    assert(cached.loadTable(Seq("stale"), "r").metadata.currentSnapshotId ==
      before.metadata.currentSnapshotId)
    // the cached client's OWN write invalidates: read-your-writes holds
    cached.appendDF(region, Seq("stale"), "r")
    assert(cached.loadTable(Seq("stale"), "r").metadata.snapshots.size == 2)
  }

  test("vended credentials flow end-to-end: LoadTableResult config reaches the scan's FileIO conf") {
    catalog.createNamespace(Seq("vend"))
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    catalog.createTable(Seq("vend"), "r", IcebergTypes.fromSpark(region.schema), tmpDir("vend_r"))
    catalog.appendDF(region, Seq("vend"), "r")
    server.vendedConfig = Map(
      "s3.access-key-id" -> "VENDED_AK",
      "s3.secret-access-key" -> "VENDED_SK",
      "s3.session-token" -> "VENDED_TOKEN",
      "s3.endpoint" -> "https://s3.test.example",
      "client.region" -> "eu-central-1")
    try {
      graft.catalog.RestCatalog.lastScanConf = None
      val df = catalog.loadDF(spark, Seq("vend"), "r")
      assert(df.count() == region.count(), "scan through vended-creds path must still read")
      val conf = graft.catalog.RestCatalog.lastScanConf
        .getOrElse(fail("catalog scan did not record its Hadoop conf"))
      assert(conf.get("fs.s3a.access.key") == "VENDED_AK")
      assert(conf.get("fs.s3a.secret.key") == "VENDED_SK")
      assert(conf.get("fs.s3a.session.token") == "VENDED_TOKEN")
      assert(conf.get("fs.s3a.endpoint") == "https://s3.test.example")
      assert(conf.get("fs.s3a.endpoint.region") == "eu-central-1")
      // session token implies the temporary-credentials provider
      assert(conf.get("fs.s3a.aws.credentials.provider")
        .contains("TemporaryAWSCredentialsProvider"))
      // the vended conf is per-scan: the session's own conf stays clean
      assert(spark.sessionState.newHadoopConf().get("fs.s3a.access.key") != "VENDED_AK")
    } finally server.vendedConfig = Map.empty
  }

  test("paged listings: listTables/listNamespaces follow next-page-token across pages") {
    catalog.createNamespace(Seq("paged"))
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val names = (1 to 7).map(i => f"t$i%02d")
    names.foreach(t => catalog.createTable(Seq("paged"), t,
      IcebergTypes.fromSpark(region.schema), tmpDir(s"paged_$t")))
    try {
      server.listPageSize = Some(3) // 7 tables -> pages of 3,3,1
      assert(catalog.listTables(Seq("paged")) == names,
        "paginated listTables must concatenate every page in order")
      val nss = catalog.listNamespaces()
      assert(nss.contains(Seq("paged")), s"namespaces listing lost entries: $nss")
      // Unauthorized/missing listings degrade to empty, not an exception
      // (reference: warn + empty so one bad schema doesn't break browsing).
      assert(catalog.listTables(Seq("no_such_namespace")).isEmpty)
    } finally server.listPageSize = None
  }

  test("rename + drop table") {
    catalog.renameTable(Seq("etl"), "region", "region2")
    assert(catalog.listTables(Seq("etl")) == Seq("region2"))
    catalog.dropTable(Seq("etl"), "region2")
    assert(catalog.listTables(Seq("etl")).isEmpty)
  }

  test("client-credentials token reacquired once after server-side rotation (401 retry)") {
    val cat = new RestCatalog(server.uri,
      CatalogOptions(clientId = Some("cid"), clientSecret = Some("sec")))
    cat.createNamespace(Seq("rot"))
    assert(cat.listNamespaces().contains(Seq("rot")))
    // Server rotates the token: the cached bearer is now invalid. The next
    // call must 401, reacquire via client credentials, and succeed.
    server.rotateToken()
    assert(cat.listNamespaces().contains(Seq("rot")))
    // A STATIC user token cannot be reacquired — the 401 surfaces.
    val staticCat = new RestCatalog(server.uri, CatalogOptions(token = Some("stale-static")))
    val ex = intercept[RestCatalogException](staticCat.namespaceProperties(Seq("rot")))
    assert(ex.status == 401)
  }

  test("a 401 on listing surfaces as an exception, not an empty catalog") {
    // Bad credentials present every listing as empty without this: an auth
    // misconfiguration must fail loudly. (403/404 still degrade to empty —
    // covered in the paged-listings test.)
    val badCat = new RestCatalog(server.uri,
      CatalogOptions(token = Some("not-the-token")))
    val e = intercept[RestCatalogException](badCat.listNamespaces())
    assert(e.status == 401)
  }

  test("register an existing path table; access-delegation header gates vended credentials") {
    catalog.createNamespace(Seq("reg"))
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    // A table written path-style (no catalog) becomes catalog-managed via
    // POST .../register with its metadata location — nothing rewritten.
    val loc = tmpDir("graft_register_src")
    IcebergTable.write(src, loc)
    val t = catalog.registerTable(Seq("reg"), "adopted", loc)
    assert(t.metadata.currentSnapshotId.isDefined)
    assert(catalog.listTables(Seq("reg")) == Seq("adopted"))
    assertSameResult(src, catalog.loadDF(spark, Seq("reg"), "adopted"))
    // duplicate registration conflicts
    val ex = intercept[RestCatalogException](catalog.registerTable(Seq("reg"), "adopted", loc))
    assert(ex.status == 409)

    // SQL face: CALL <cat>.system.register_table against the same server.
    spark.conf.set("spark.sql.catalog.regcat",
      classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.regcat.uri", server.uri)
    spark.conf.set("spark.sql.catalog.regcat.token", server.token)
    val row = spark.sql(
      s"CALL regcat.system.register_table(table => 'reg.adopted2', metadata_file => '$loc')")
      .collect()(0)
    assert(!row.isNullAt(0), "register_table must surface the adopted snapshot id")
    assert(spark.sql("SELECT count(*) FROM regcat.reg.adopted2").collect()(0).getLong(0)
      == src.count())

    // Polaris-style: credentials vended ONLY when the client advertises
    // X-Iceberg-Access-Delegation (the default mode, like the reference).
    server.vendedConfig = Map("s3.access-key-id" -> "DELEGATED_AK")
    server.requireDelegationHeader = true
    try {
      assert(catalog.loadTable(Seq("reg"), "adopted").config
        .get("s3.access-key-id").contains("DELEGATED_AK"))
      val plain = new RestCatalog(server.uri, CatalogOptions(
        token = Some(server.token), accessDelegationMode = None))
      assert(plain.loadTable(Seq("reg"), "adopted").config.isEmpty,
        "without the header the catalog must not vend credentials")
    } finally {
      server.vendedConfig = Map.empty
      server.requireDelegationHeader = false
    }
  }

  test("staged CTAS: one atomic commit, table invisible until it") {
    catalog.createNamespace(Seq("stg"))
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    server.clearLog()
    val t = catalog.ctasDF(src, Seq("stg"), "r", tmpDir("staged_r"), stageCreate = true)
    // One create POST (staged) + exactly ONE commit POST.
    val commits = server.loggedRequests.filter { case (m, p) =>
      m == "POST" && p.endsWith("/tables/r") }
    assert(commits.size == 1, s"staged CTAS must commit once, saw: ${server.loggedRequests}")
    assert(t.metadata.currentSnapshotId.isDefined)
    // The server is spec-compliant: it did NOT persist staged metadata, so
    // everything below exists only because the commit carried the full
    // initial-metadata update list (assign-uuid/add-schema/add-spec/...).
    val reloaded = catalog.loadTable(Seq("stg"), "r").metadata
    assert(reloaded.tableUuid.nonEmpty, "assign-uuid must reach the server")
    assert(reloaded.formatVersion >= 2)
    assert(reloaded.location == t.metadata.location)
    assert(reloaded.currentSchema.fields.map(_.name) ==
      t.metadata.currentSchema.fields.map(_.name),
      "add-schema/set-current-schema must rebuild the schema server-side")
    assertSameResult(src, catalog.loadDF(spark, Seq("stg"), "r"))

    // The staged table is invisible between create and commit: stage a
    // second one and probe before committing.
    val staged = catalog.createTable(Seq("stg"), "ghost",
      IcebergTypes.fromSpark(src.schema), tmpDir("staged_ghost"), stageCreate = true)
    assert(!catalog.tableExists(Seq("stg"), "ghost"),
      "stage-created table must be invisible before its commit")
    assert(!catalog.listTables(Seq("stg")).contains("ghost"))
    // Committing with assert-create materializes it.
    val conf = spark.sessionState.newHadoopConf()
    val e1 = graft.write.IcebergWrite.writeDataFiles(src, staged.metadata, conf)
    val (s1, _) = graft.write.IcebergWrite.buildSnapshotFiles(staged.metadata, e1, Nil, "append", conf)
    catalog.commitSnapshot(Seq("stg"), "ghost", None, s1, assertCreate = true,
      preUpdates = catalog.initialMetadataUpdates(staged.metadata))
    assert(catalog.tableExists(Seq("stg"), "ghost"))
    assertSameResult(src, catalog.loadDF(spark, Seq("stg"), "ghost"))

    // assert-create against an EXISTING name loses cleanly with 409.
    val staged2 = catalog.createTable(Seq("stg"), "ghost2",
      IcebergTypes.fromSpark(src.schema), tmpDir("staged_ghost2"), stageCreate = true)
    val e2 = graft.write.IcebergWrite.writeDataFiles(src, staged2.metadata, conf)
    val (s2, _) = graft.write.IcebergWrite.buildSnapshotFiles(staged2.metadata, e2, Nil, "append", conf)
    // someone else creates ghost2 first
    catalog.createTable(Seq("stg"), "ghost2", IcebergTypes.fromSpark(src.schema), tmpDir("raced"))
    val ex = intercept[RestCatalogException] {
      catalog.commitSnapshot(Seq("stg"), "ghost2", None, s2, assertCreate = true)
    }
    assert(ex.status == 409)
  }

  test("HEAD existence probes only when advertised; un-advertised ops refused (minimal-head-requests)") {
    val hserver = new TestRestServer
    hserver.start()
    try {
      // Default (no `endpoints` in config): existence checks use GET — the
      // spec's default endpoint set has no HEAD routes.
      val cat = new RestCatalog(hserver.uri, CatalogOptions(token = Some(hserver.token)))
      cat.createNamespace(Seq("h"))
      val src = spark.read.parquet(s"$sfDir/region.parquet")
      cat.createTable(Seq("h"), "r", IcebergTypes.fromSpark(src.schema), tmpDir("head_r"))
      hserver.clearLog()
      assert(cat.tableExists(Seq("h"), "r"))
      assert(!cat.tableExists(Seq("h"), "nope"))
      assert(hserver.loggedRequests.count(_._1 == "HEAD") == 0,
        "HEAD must be opt-in by advertisement")
      assert(hserver.loggedRequests.count(_._1 == "GET") == 2)

      // Advertised HEAD routes: each existence check is exactly one HEAD,
      // zero GETs (reference test_minimal_head_requests shape).
      hserver.advertisedEndpoints = Some((graft.catalog.RestCatalog.defaultEndpoints ++ Set(
        "HEAD /v1/{prefix}/namespaces/{namespace}",
        "HEAD /v1/{prefix}/namespaces/{namespace}/tables/{table}")).toSeq)
      val cat2 = new RestCatalog(hserver.uri, CatalogOptions(token = Some(hserver.token)))
      cat2.resolvedPrefix // force the one-time config fetch before counting
      hserver.clearLog()
      assert(cat2.tableExists(Seq("h"), "r"))
      assert(!cat2.tableExists(Seq("h"), "nope"))
      assert(cat2.namespaceExists(Seq("h")))
      assert(!cat2.namespaceExists(Seq("nope")))
      val reqs = hserver.loggedRequests
      assert(reqs.size == 4 && reqs.forall(_._1 == "HEAD"),
        s"advertised HEAD probes must not fall back to GET: $reqs")

      // An endpoints list WITHOUT an op refuses it client-side rather than
      // sending a request the server never advertised.
      hserver.advertisedEndpoints = Some(Seq("GET /v1/{prefix}/namespaces"))
      val cat3 = new RestCatalog(hserver.uri, CatalogOptions(token = Some(hserver.token)))
      intercept[UnsupportedOperationException](cat3.namespaceProperties(Seq("h")))
      intercept[UnsupportedOperationException](
        cat3.updateNamespaceProperties(Seq("h"), Map("a" -> "b")))
    } finally hserver.stop()
  }

  test("config uri override redirects every catalog route to the vended endpoint") {
    // Gateway A vends B's endpoint from /v1/config; all real work must land
    // on B (reference honors overrides.uri the same way).
    val gateway = new TestRestServer
    val backend = new TestRestServer
    gateway.start(); backend.start()
    try {
      gateway.uriOverride = Some(backend.uri)
      val cat = new RestCatalog(gateway.uri, CatalogOptions(token = Some(backend.token)))
      cat.createNamespace(Seq("redir"))
      assert(cat.listNamespaces() == Seq(Seq("redir")))
      // The namespace exists on the BACKEND, not the gateway.
      assert(backend.namespaces.contains("redir"))
      assert(!gateway.namespaces.contains("redir"))
      val src = spark.read.parquet(s"$sfDir/region.parquet")
      cat.createTable(Seq("redir"), "r", IcebergTypes.fromSpark(src.schema), tmpDir("redir_r"))
      cat.appendDF(src, Seq("redir"), "r")
      assertSameResult(src, cat.loadDF(spark, Seq("redir"), "r"))
      val catalogReqs = gateway.loggedRequests.filterNot(_._2 == "/v1/config")
      assert(catalogReqs.isEmpty,
        s"after the uri override only /v1/config may hit the gateway: $catalogReqs")
    } finally { gateway.stop(); backend.stop() }
  }

  test("config prefix is applied to every catalog route (Polaris/Glue-style prefixed catalogs)") {
    // A fresh server that VENDS a prefix and 404s any un-prefixed route —
    // the shape every real IRC catalog (Polaris, Glue IRC, S3 Tables)
    // presents. The client must resolve /v1/config once and splice
    // /v1/{prefix}/ into namespaces, tables, commits, plan, rename and
    // transactions (reference catalog_api.cpp AddPrefixComponents on all
    // endpoints).
    val pserver = new TestRestServer
    pserver.prefix = Some("catalogs/demo")
    pserver.start()
    try {
      val cat = new RestCatalog(pserver.uri,
        CatalogOptions(clientId = Some("id"), clientSecret = Some("secret")))
      assert(cat.resolvedPrefix.contains("catalogs/demo"))

      cat.createNamespace(Seq("db"), Map("owner" -> "graft"))
      assert(cat.listNamespaces() == Seq(Seq("db")))
      assert(cat.namespaceProperties(Seq("db"))("owner") == "graft")
      cat.updateNamespaceProperties(Seq("db"), Map("x" -> "1"), Seq("owner"))

      val src = spark.read.parquet(s"$sfDir/region.parquet")
      cat.createTable(Seq("db"), "region", IcebergTypes.fromSpark(src.schema),
        tmpDir("prefix_region"))
      assert(cat.listTables(Seq("db")) == Seq("region"))
      cat.appendDF(src, Seq("db"), "region") // load + commit round-trip
      assertSameResult(src, cat.loadDF(spark, Seq("db"), "region"))
      assertSameResult(src, cat.loadDFServerPlanned(spark, Seq("db"), "region"))

      // multi-table transaction route is prefixed too
      cat.createTable(Seq("db"), "r2", IcebergTypes.fromSpark(src.schema),
        tmpDir("prefix_r2"))
      cat.appendAllDF(Seq((src, Seq("db"), "r2")))
      assert(cat.loadDF(spark, Seq("db"), "r2").count() == src.count())

      cat.renameTable(Seq("db"), "r2", "r3")
      assert(cat.listTables(Seq("db")).contains("r3"))
      cat.dropTable(Seq("db"), "r3")

      // Every logged catalog route carried the prefix; only config/oauth
      // stayed bare.
      val bare = pserver.loggedRequests.filterNot { case (_, p) =>
        p == "/v1/config" || p == "/v1/oauth/tokens" || p.startsWith("/v1/catalogs/demo")
      }
      assert(bare.isEmpty, s"un-prefixed catalog requests issued: $bare")
      assert(pserver.loggedRequests.exists(_._2 == "/v1/catalogs/demo/namespaces"))
      assert(pserver.loggedRequests.exists(_._2 == "/v1/catalogs/demo/transactions/commit"))
      assert(pserver.loggedRequests.exists(_._2 == "/v1/catalogs/demo/tables/rename"))
      assert(pserver.loggedRequests.exists(_._2.endsWith("/tables/region/plan")))
    } finally pserver.stop()
  }

  test("multi-level namespaces round-trip through the REST paths (unit-separator encoding)") {
    catalog.createNamespace(Seq("deep", "child"))
    assert(catalog.listNamespaces().contains(Seq("deep", "child")))
    // A namespace level containing a space must path-encode as %20 (form
    // encoding's '+' would decode server-side as a literal plus).
    catalog.createNamespace(Seq("deep", "with space"))
    assert(catalog.listNamespaces().contains(Seq("deep", "with space")))
    // The GET round-trip exercises the per-segment %20 path encoding.
    catalog.namespaceProperties(Seq("deep", "with space"))
    catalog.dropNamespace(Seq("deep", "with space"))
    assert(!catalog.listNamespaces().contains(Seq("deep", "with space")))
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    catalog.createTable(Seq("deep", "child"), "r",
      IcebergTypes.fromSpark(region.schema), tmpDir("deep_r"))
    assert(catalog.listTables(Seq("deep", "child")) == Seq("r"))
    catalog.appendDF(region, Seq("deep", "child"), "r")
    assert(catalog.loadDF(spark, Seq("deep", "child"), "r").count() == region.count())
    catalog.dropTable(Seq("deep", "child"), "r")
    catalog.dropNamespace(Seq("deep", "child"))
    assert(!catalog.listNamespaces().contains(Seq("deep", "child")))
  }
}
