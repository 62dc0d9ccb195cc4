package graft

import graft.core.TableMetadata
import graft.read.ReadOptions

/** Snapshot expiration + orphan-file cleanup (graft.write.Maintenance). */
class MaintenanceSpec extends SparkSpec {

  private def hconf = spark.sessionState.newHadoopConf()

  private def onDisk(tablePath: String, recorded: String): java.nio.file.Path =
    java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      TableMetadata.resolvePath(tablePath, recorded, hconf)).toUri.getPath)

  test("expireSnapshots deletes compaction leftovers but keeps reachable files") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_expire_rewrite")
    IcebergTable.write(src.repartition(6), path)
    val oldFiles = IcebergTable.plan(spark, path).dataFiles.map(_.recordedPath)
    IcebergTable.rewriteDataFiles(spark, path, rewriteAll = true)
    // Pre-compaction files still on disk (the first snapshot references them).
    assert(oldFiles.forall(f => java.nio.file.Files.exists(onDisk(path, f))))
    val metaBefore = TableMetadata.load(path, hconf)
    assert(metaBefore.snapshots.size == 2)
    val expiredId = metaBefore.snapshots.minBy(_.sequenceNumber).snapshotId

    val r = IcebergTable.expireSnapshots(spark, path, retainLast = 1)
    assert(r.expiredSnapshots == 1)
    assert(r.deletedDataFiles == 6, "the 6 compacted-away input files are unreachable")
    assert(r.deletedManifestLists == 1)
    assert(oldFiles.forall(f => !java.nio.file.Files.exists(onDisk(path, f))),
      "compaction inputs must be physically deleted")
    assertSameResult(IcebergTable.load(spark, path), src)
    val metaAfter = TableMetadata.load(path, hconf)
    assert(metaAfter.snapshots.size == 1)
    assert(metaAfter.snapshotLog.size == 1)
    // Time travel to the expired snapshot fails cleanly now.
    intercept[Exception](
      IcebergTable.load(spark, path, ReadOptions(snapshotId = Some(expiredId))).count())
  }

  test("expireSnapshots after appends deletes no data files (all still referenced)") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_expire_appends")
    IcebergTable.write(src, path)
    IcebergTable.append(src, path)
    IcebergTable.append(src, path)
    val r = IcebergTable.expireSnapshots(spark, path, retainLast = 1)
    assert(r.expiredSnapshots == 2)
    assert(r.deletedDataFiles == 0,
      "appended files are carried forward into the surviving snapshot's manifests")
    assert(r.deletedManifestLists == 2)
    assertSameResult(IcebergTable.load(spark, path), src.union(src).union(src))
    // Expiration is a metadata commit: a fresh load sees one snapshot, and
    // the count(*) fast path still works off the surviving manifests.
    assert(IcebergTable.plan(spark, path).fastRowCount.contains(3 * src.count()))
  }

  test("expireSnapshots honors older_than cutoff and retain_last floor") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_expire_cutoff")
    IcebergTable.write(src, path)
    IcebergTable.append(src, path)
    // Cutoff in the distant past: nothing is old enough.
    assert(IcebergTable.expireSnapshots(spark, path, olderThanMs = Some(0L))
      .expiredSnapshots == 0)
    // Everything is old enough, but retain_last floors at 2.
    assert(IcebergTable.expireSnapshots(spark, path,
      olderThanMs = Some(Long.MaxValue), retainLast = 2).expiredSnapshots == 0)
    // retain_last = 1 expires the first snapshot.
    assert(IcebergTable.expireSnapshots(spark, path,
      olderThanMs = Some(Long.MaxValue)).expiredSnapshots == 1)
    assertSameResult(IcebergTable.load(spark, path), src.union(src))
  }

  test("removeOrphanFiles deletes only old unreferenced files") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_orphans")
    IcebergTable.write(src, path)
    val dataDir = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(path, "data").toUri.getPath)
    val orphan = dataDir.resolve("stray-abandoned-write.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val fresh = dataDir.resolve("stray-but-recent.parquet")
    java.nio.file.Files.write(fresh, Array[Byte](4, 5, 6))
    // Age the first orphan beyond any cutoff we will use.
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(1000L))

    // Cutoff 1h ago: the aged orphan goes, the recent one is protected.
    val r1 = IcebergTable.removeOrphanFiles(spark, path,
      System.currentTimeMillis() - 3600 * 1000)
    assert(r1.orphanFiles == 1, s"deleted: ${r1.deletedPaths}")
    assert(r1.deletedPaths.head.endsWith("stray-abandoned-write.parquet"))
    assert(!java.nio.file.Files.exists(orphan))
    assert(java.nio.file.Files.exists(fresh))
    // Cutoff in the future: recent orphan goes too; referenced files never.
    val r2 = IcebergTable.removeOrphanFiles(spark, path,
      System.currentTimeMillis() + 3600 * 1000)
    assert(r2.orphanFiles == 1)
    assert(!java.nio.file.Files.exists(fresh))
    assertSameResult(IcebergTable.load(spark, path), src)
  }

  test("rewriteManifests: metadata-only compaction keeps rows, pruning summaries, and CDC invisibility") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("graft_rwm")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    // 8 per-partition-spread appends -> 8 data manifests.
    IcebergTable.write(orders.limit(0), path, graft.write.TableWriteOptions(
      partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity))))
    (0 until 8).foreach(i => IcebergTable.append(
      orders.filter(col("o_orderkey") % 8 === i), path))
    val conf = spark.sessionState.newHadoopConf()
    def manifestCount(): Int = {
      val m = graft.core.TableMetadata.load(path, conf)
      graft.manifest.ManifestIO.manifestsOf(m, m.currentSnapshot.get, conf).size
    }
    assert(manifestCount() == 8)
    val before = IcebergTable.load(spark, path)
    val beforeRows = before.count()
    val headBefore = graft.core.TableMetadata.load(path, conf).currentSnapshotId.get

    val r = graft.write.Maintenance.rewriteManifests(spark, path)
    assert(r.rewrittenManifests == 8 && r.addedManifests == 1,
      s"expected 8->1, got ${r.rewrittenManifests}->${r.addedManifests}")
    assert(manifestCount() == 1)
    // Rows identical; snapshot is a REPLACE on top of the old head.
    val after = IcebergTable.load(spark, path)
    assert(after.count() == beforeRows)
    assertSameResult(before, after)
    val meta = graft.core.TableMetadata.load(path, conf)
    assert(meta.currentSnapshot.get.operation == "replace")
    assert(meta.currentSnapshot.get.parentSnapshotId.contains(headBefore))

    // The merged manifest kept REAL partition summaries: a partition
    // predicate still prunes at file level and (with several specs') the
    // summary bounds exist.
    val merged = graft.manifest.ManifestIO.manifestsOf(meta, meta.currentSnapshot.get, conf).head
    assert(merged.partitions.nonEmpty && merged.partitions.head.lowerBound.isDefined,
      "merged manifest must carry partition-bound summaries")
    assertSameResult(
      IcebergTable.load(spark, path, graft.read.ReadOptions(filterSql = Some("o_orderstatus = 'F'"))),
      orders.filter("o_orderstatus = 'F'"))

    // CDC: the replace commit contributes no changelog rows.
    val changes = graft.streaming.Streams.changesBetween(spark, path,
      Some(headBefore), meta.currentSnapshotId.get)
    assert(changes.count() == 0, "rewrite_manifests must be changelog-invisible")

    // Idempotent: nothing left to merge.
    val again = graft.write.Maintenance.rewriteManifests(spark, path)
    assert(again.rewrittenManifests == 0)
  }

  test("rewriteManifests: DECIMAL(10,2) identity partition values read back from manifests") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = tmpDir("graft_rwm_decimal")
    val schema = StructType(Seq(StructField("id", LongType), StructField("d", DecimalType(10, 2))))
    def one(id: Long, d: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(id, new java.math.BigDecimal(d))), 1), schema)
    IcebergTable.write(one(1, "2.55"), path, graft.write.TableWriteOptions(
      partitionBy = Seq(("d", graft.core.Transforms.Identity))))
    IcebergTable.append(one(2, "0.01"), path)
    IcebergTable.append(one(3, "-1.00"), path)

    // Merged partition values come back as unscaled bytes; the summary must
    // order them as decimals (-1.00 < 0.01 < 2.55), not as bytes.
    val r = graft.write.Maintenance.rewriteManifests(spark, path)
    assert(r.rewrittenManifests == 3 && r.addedManifests == 1)
    for (d <- Seq("2.55", "0.01", "-1.00")) {
      val p = s"d = $d"
      assert(IcebergTable.load(spark, path, ReadOptions(filterSql = Some(p))).count() == 1, p)
      assert(spark.read.format("graft").load(path).where(p).count() == 1, s"$p via format(graft)")
    }
    val stats = IcebergTable.partitionStats(spark, path).collect()
    assert(stats.length == 1)
    assert(stats.head.getAs[String]("lower_bound") == "-1.00")
    assert(stats.head.getAs[String]("upper_bound") == "2.55")
  }

  test("CALL system.rewrite_manifests via SQL; register_table refused without REST") {
    val wh = tmpDir("graft_rwm_wh")
    spark.conf.set("spark.sql.catalog.rwmcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.rwmcat.warehouse", wh)
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = s"$wh/db/region_m"
    IcebergTable.write(src, path)
    (1 to 3).foreach(_ => IcebergTable.append(src.limit(1), path))
    val row = spark.sql(
      "CALL rwmcat.system.rewrite_manifests(table => 'db.region_m')").collect()(0)
    assert(row.getInt(0) == 4 && row.getInt(1) == 1)
    assert(spark.sql("SELECT count(*) FROM rwmcat.db.region_m").collect()(0).getLong(0)
      == src.count() + 3)
    // register_table needs a REST catalog behind the name.
    val e = intercept[Exception](spark.sql(
      "CALL rwmcat.system.register_table(table => 'db.x', metadata_file => '/nope')").collect())
    assert(e.getMessage.contains("REST"))
  }

  test("CALL system.expire_snapshots and remove_orphan_files via SQL; REST-named refused") {
    val wh = tmpDir("graft_maint_wh")
    spark.conf.set("spark.sql.catalog.maintcat", classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.maintcat.warehouse", wh)
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = s"$wh/db/region_e"
    IcebergTable.write(src.repartition(3), path)
    IcebergTable.rewriteDataFiles(spark, path, rewriteAll = true)

    val row = spark.sql(
      "CALL maintcat.system.expire_snapshots(table => 'db.region_e', retain_last => 1)")
    assert(row.columns.toSeq == Seq("expired_snapshots", "deleted_data_files",
      "deleted_delete_files", "deleted_manifest_files", "deleted_manifest_lists"))
    val r = row.collect()(0)
    assert(r.getLong(0) == 1 && r.getLong(1) == 3)
    assertSameResult(spark.sql("SELECT * FROM maintcat.db.region_e"), src)

    val orphan = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(path, "data").toUri.getPath).resolve("stray.bin")
    java.nio.file.Files.write(orphan, Array[Byte](9))
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis() + 3600 * 1000)
    val o = spark.sql(
      s"CALL maintcat.system.remove_orphan_files(table => 'db.region_e', older_than => TIMESTAMP '$cutoff')")
      .collect()(0)
    assert(o.getLong(0) == 1)
    assert(!java.nio.file.Files.exists(orphan))
    assertSameResult(spark.sql("SELECT * FROM maintcat.db.region_e"), src)

    // REST-named tables are refused (server owns the metadata lifecycle).
    val server = new TestRestServer
    server.start()
    try {
      spark.conf.set("spark.sql.catalog.maintrest", classOf[graft.catalog.GraftSparkCatalog].getName)
      spark.conf.set("spark.sql.catalog.maintrest.uri", server.uri)
      spark.conf.set("spark.sql.catalog.maintrest.token", server.token)
      val e = intercept[Exception](spark.sql(
        "CALL maintrest.system.expire_snapshots(table => 'ns.t')").collect())
      assert(e.getMessage.contains("metadata lifecycle") ||
        Option(e.getCause).exists(_.getMessage.contains("metadata lifecycle")))
    } finally server.stop()
  }
}
