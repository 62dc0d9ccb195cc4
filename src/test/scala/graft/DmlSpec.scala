package graft

import graft.read.ReadOptions
import org.apache.spark.sql.functions._

/** Row-level DML: MoR delete/update/merge + compaction structure + content. */
class DmlSpec extends SparkSpec {

  test("MoR DELETE writes positional delete files; reads exclude matched rows") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_dml_delete")
    IcebergTable.write(src, path)
    IcebergTable.delete(spark, path, "o_orderstatus = 'F'")
    val p = IcebergTable.plan(spark, path)
    assert(p.deleteFiles.nonEmpty, "expected positional delete files")
    assert(p.dataFiles.nonEmpty)
    assertSameResult(src.filter("o_orderstatus <> 'F'"), IcebergTable.load(spark, path))
    // Snapshot history: append then delete.
    val ops = IcebergTable.snapshots(spark, path).select("operation")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("append", "delete"))
  }

  test("write, delete and equality delete leave the session's parquet write confs alone") {
    val confs = Seq("spark.sql.parquet.outputTimestampType" -> "INT96",
      "spark.sql.parquet.fieldId.write.enabled" -> "false")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val src = spark.read.parquet(s"$sfDir/orders.parquet")
      val path = tmpDir("graft_session_confs")
      IcebergTable.write(src, path)
      IcebergTable.delete(spark, path, "o_orderkey < 100")
      IcebergTable.deleteEquality(spark, path,
        src.filter("o_orderkey BETWEEN 200 AND 300").select("o_orderkey"))
      confs.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v, s"$k changed to ${spark.conf.get(k)}") }
      // The files still carry field ids: reads resolve every column.
      assertSameResult(src.filter("o_orderkey >= 100 AND NOT (o_orderkey BETWEEN 200 AND 300)"),
        IcebergTable.load(spark, path))
    } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("MoR UPDATE = delete + re-insert in one overwrite snapshot") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_dml_update")
    IcebergTable.write(src, path)
    IcebergTable.update(spark, path, "o_orderstatus = 'O'",
      Map("o_totalprice" -> "o_totalprice * 2.0"))
    val expected = src.withColumn("o_totalprice",
      when(col("o_orderstatus") === "O", col("o_totalprice") * 2.0).otherwise(col("o_totalprice")))
    assertSameResult(expected, IcebergTable.load(spark, path))
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    assert(meta.currentSnapshot.get.operation == "overwrite")
    assert(meta.snapshots.size == 2)
  }

  test("MERGE target-scan pruning: target-only ON conjuncts touch only their partitions; " +
      "NOT MATCHED BY SOURCE disables the pruning") {
    import spark.implicits._
    import graft.write.Dml
    import graft.core.Transforms
    val path = tmpDir("graft_merge_prune")
    val rows = (0 until 40).map(i => (i, i % 4, s"v$i")).toDF("id", "part", "v")
    IcebergTable.write(rows, path, graft.write.TableWriteOptions(
      partitionBy = Seq(("part", Transforms.Identity))))

    // Conjunct extraction: partition literal extracts; join conjuncts,
    // source-qualified and unqualified refs do not.
    assert(Dml.targetOnlyConjuncts(spark, "t.id = s.id AND t.part = 2", "t")
      .exists(f => f.contains("part") && f.contains("2")))
    assert(Dml.targetOnlyConjuncts(spark, "t.id = s.id", "t").isEmpty)
    assert(Dml.targetOnlyConjuncts(spark, "t.id = s.id AND part = 2", "t").isEmpty,
      "unqualified refs are ambiguous and must not extract")

    // Merge keyed into partition 2 only: update one row, insert one row.
    val source = Seq((2, 2, "UPD"), (999, 2, "NEW")).toDF("id", "part", "v")
    IcebergTable.merge(spark, path, source,
      "t.id = s.id AND t.part = s.part AND t.part = 2",
      Dml.MergeActions(matchedUpdate = Some(Map("v" -> "s.v")), insertAll = true))
    val out = IcebergTable.load(spark, path)
    assert(out.count() == 41)
    assert(out.filter(col("id") === 2).select("v").collect().head.getString(0) == "UPD")
    assert(out.filter(col("id") === 999).count() == 1)
    // The merge's DELETE files live only in the touched partition — the
    // pruned target plan never saw the other partitions' files.
    val delEntries = IcebergTable.plan(spark, path).deleteFiles
    assert(delEntries.nonEmpty && delEntries.forall(_.info.partitionValues == Seq(2)),
      s"merge deletes must stay in part=2, got ${delEntries.map(_.info.partitionValues).mkString(",")}")

    // NOT MATCHED BY SOURCE must see the rows the filter would hide: with
    // an nms DELETE, every unmatched row across ALL partitions goes, so the
    // ON literal cannot prune (41 rows -> matched row kept updated, rest
    // deleted).
    val path2 = tmpDir("graft_merge_prune_nms")
    IcebergTable.write(rows, path2, graft.write.TableWriteOptions(
      partitionBy = Seq(("part", Transforms.Identity))))
    IcebergTable.merge(spark, path2, Seq((2, 2, "UPD")).toDF("id", "part", "v"),
      "t.id = s.id AND t.part = s.part AND t.part = 2",
      Dml.MergeActions(
        matchedUpdate = Some(Map("v" -> "s.v")),
        notMatchedBySourceClauses = Seq(Dml.MatchedClause(None, None))))
    val out2 = IcebergTable.load(spark, path2).collect()
    assert(out2.length == 1 && out2.head.getAs[String]("v") == "UPD",
      s"nms DELETE must remove every unmatched row table-wide, left ${out2.length}")
  }

  test("MERGE INTO: matched update + not-matched insert; multi-match errors") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_dml_merge")
    IcebergTable.write(src, path)
    import spark.implicits._
    val source = Seq((0, "RENAMED-0"), (99, "NEW-99")).toDF("key", "name")
    IcebergTable.merge(spark, path, source, "t.r_regionkey = s.key",
      graft.write.Dml.MergeActions(
        matchedUpdate = Some(Map("r_name" -> "s.name")),
        insert = Some(Map("r_regionkey" -> "s.key", "r_name" -> "s.name"))))
    val out = IcebergTable.load(spark, path).orderBy("r_regionkey").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out.size == src.count() + 1)
    assert(out.contains((0, "RENAMED-0")))
    assert(out.contains((99, "NEW-99")))
    // duplicate source matches must error
    val dupSource = Seq((1, "A"), (1, "B")).toDF("key", "name")
    val ex = intercept[Exception] {
      IcebergTable.merge(spark, path, dupSource, "t.r_regionkey = s.key",
        graft.write.Dml.MergeActions(matchedUpdate = Some(Map("r_name" -> "s.name"))))
    }
    assert(ex.getMessage.contains("matched multiple"))
  }

  test("rewriteDataFiles compacts small files and drops dead delete files") {
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val path = tmpDir("graft_dml_rewrite")
    IcebergTable.write(src.repartition(8), path)
    IcebergTable.delete(spark, path, "l_quantity < 5")
    val before = IcebergTable.plan(spark, path)
    assert(before.dataFiles.size == 8 && before.deleteFiles.nonEmpty)
    IcebergTable.rewriteDataFiles(spark, path, rewriteAll = true)
    val after = IcebergTable.plan(spark, path)
    assert(after.dataFiles.size < before.dataFiles.size,
      s"expected compaction: ${after.dataFiles.size} < ${before.dataFiles.size}")
    assert(after.deleteFiles.isEmpty, "delete files should be merged away")
    assertSameResult(src.filter("l_quantity >= 5"), IcebergTable.load(spark, path))
    // count fast path valid again after rewrite
    assert(after.fastRowCount.contains(src.filter("l_quantity >= 5").count()))
  }

  test("rewriteDataFiles strategy=sort re-clusters files so range scans prune by bounds") {
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val path = tmpDir("graft_dml_sortrw")
    // Random order across 6 files: every file's l_orderkey range spans the
    // whole domain, so a key-range filter prunes nothing.
    IcebergTable.write(src.orderBy(rand(42)).repartition(6), path)
    val cut = src.agg(expr("percentile_approx(l_orderkey, 0.1)")).collect()(0).getLong(0)
    val before = IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some(s"l_orderkey <= $cut")))
    assert(before.dataFiles.size == 6, "interleaved files must all survive the range filter")

    // Small target keeps several output files so bounds have ranges to cut.
    val totalBytes = before.dataFiles.map(_.info.fileSizeInBytes).sum
    val r = graft.write.Dml.rewriteDataFiles(spark, graft.write.Dml.PathOps(path),
      targetFileSizeBytes = Some(math.max(1L, totalBytes / 4)),
      rewriteAll = true, strategy = "sort", sortOrderSpec = Some("l_orderkey ASC"))
    assert(r.rewrittenDataFiles == 6)
    val after = IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some(s"l_orderkey <= $cut")))
    assert(after.dataFiles.size < after.totalDataFiles,
      s"sorted rewrite should let bounds prune: kept ${after.dataFiles.size} of ${after.totalDataFiles}")
    assertSameResult(src, IcebergTable.load(spark, path))

    // Written entries carry no sort-order id (custom order != table order).
    assert(IcebergTable.plan(spark, path).dataFiles.forall(_.info.sortOrderId.forall(_ == 0)))

    // binpack + sort_order is a user error, not a silent ignore.
    intercept[IllegalArgumentException] {
      graft.write.Dml.rewriteDataFiles(spark, graft.write.Dml.PathOps(path),
        strategy = "binpack", sortOrderSpec = Some("l_orderkey"))
    }
    // sort with neither an argument nor a table order is refused.
    intercept[IllegalArgumentException] {
      graft.write.Dml.rewriteDataFiles(spark, graft.write.Dml.PathOps(path),
        rewriteAll = true, strategy = "sort")
    }
    // Typos in the spec error loudly instead of silently parsing as ASC
    // nulls-first; column resolution is case-insensitive like Spark's.
    intercept[IllegalArgumentException] {
      graft.write.Dml.rewriteDataFiles(spark, graft.write.Dml.PathOps(path),
        rewriteAll = true, strategy = "sort", sortOrderSpec = Some("l_orderkey ASC NULS FIRST"))
    }
    intercept[IllegalArgumentException] {
      graft.write.Dml.rewriteDataFiles(spark, graft.write.Dml.PathOps(path),
        rewriteAll = true, strategy = "sort", sortOrderSpec = Some("no_such_col"))
    }
    assert(graft.write.Dml.parseSortSpec("L_ORDERKEY DESC NULLS LAST",
      graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf()).currentSchema)
      .head.ascending == false)

    // A sort rewrite using the TABLE'S OWN default order keeps the declared
    // sort-order id on rewritten entries (readers rely on the sortedness
    // declaration); only a custom ad-hoc order falls back to 0.
    graft.write.Evolution.setSortOrder(spark, path, Seq(("l_orderkey", true, true)))
    graft.write.Dml.rewriteDataFiles(spark, graft.write.Dml.PathOps(path),
      rewriteAll = true, strategy = "sort")
    val declared = graft.core.TableMetadata.load(path,
      spark.sessionState.newHadoopConf()).defaultSortOrderId
    assert(declared != 0)
    assert(IcebergTable.plan(spark, path).dataFiles.forall(_.info.sortOrderId.contains(declared)),
      "default-order sort rewrite must stamp the table's sort-order id")
  }

  test("rewrite_position_delete_files: drops dangling rows, compacts to one delete file per partition") {
    import org.apache.spark.sql.functions.col
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_rwposdel")
    // Per partition: one big file + one small file; deletes hit BOTH.
    IcebergTable.write(src.filter("o_orderkey % 97 != 0"), path,
      graft.write.TableWriteOptions(partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity))))
    IcebergTable.append(src.filter("o_orderkey % 97 = 0"), path)
    IcebergTable.delete(spark, path, "o_orderkey % 5 = 0")
    IcebergTable.delete(spark, path, "o_orderkey % 7 = 1")
    val expected = src.filter("NOT(o_orderkey % 5 = 0) AND NOT(o_orderkey % 7 = 1)")
    assertSameResult(IcebergTable.load(spark, path), expected)

    // Dangling rows: simulate an external writer dropping a data file
    // WITHOUT cleaning the delete rows that referenced it (our own
    // rewriteDataFiles absorbs deletes, so the gap must come from outside
    // — e.g. an engine with deferred delete cleanup).
    val conf = spark.sessionState.newHadoopConf()
    val pMid = IcebergTable.plan(spark, path)
    val victim = pMid.dataFiles.minBy(_.info.fileSizeInBytes)
    graft.write.IcebergWrite.commitSnapshot(
      graft.core.TableMetadata.load(path, conf), Nil, Nil, "delete", conf,
      removedDataPaths = Set(victim.info.filePath))
    val contentBefore = IcebergTable.load(spark, path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    contentBefore.count() // materialize pre-rewrite content

    val pBefore = IcebergTable.plan(spark, path)
    val posBefore = pBefore.deleteFiles.count(_.info.content == graft.manifest.FileContent.PositionDeletes)
    assert(posBefore >= 2, s"need several delete files to compact, have $posBefore")

    val r = graft.write.Dml.rewritePositionDeleteFiles(spark, graft.write.Dml.PathOps(path))
    assert(r.rewrittenDeleteFiles == posBefore)
    assert(r.removedDanglingRows > 0, "partial compaction must have left dangling delete rows")
    val pAfter = IcebergTable.plan(spark, path)
    val partitionsWithDeletes = pAfter.deleteFiles.map(_.info.partitionValues).distinct.size
    assert(pAfter.deleteFiles.size == partitionsWithDeletes,
      s"expected one delete file per touched partition, got ${pAfter.deleteFiles.size} for $partitionsWithDeletes partitions")
    assert(pAfter.deleteFiles.size < posBefore)
    // Row results identical; the commit is a changelog-invisible REPLACE.
    assertSameResult(IcebergTable.load(spark, path), contentBefore)
    assert(graft.core.TableMetadata.load(path, conf).currentSnapshot.get.operation == "replace")
    assert(graft.streaming.Streams.changesBetween(spark, path,
      Some(pBefore.snapshot.get.snapshotId), r.meta.currentSnapshotId.get).count() == 0)

    // Idempotent second run: nothing dangling, already one per partition —
    // rewrites in place with zero dangling rows.
    val r2 = graft.write.Dml.rewritePositionDeleteFiles(spark, graft.write.Dml.PathOps(path))
    assert(r2.removedDanglingRows == 0)
    assertSameResult(IcebergTable.load(spark, path), contentBefore)
    contentBefore.unpersist()

    // v3 DV tables are untouched (no parquet positional deletes).
    val v3 = tmpDir("graft_rwposdel_v3")
    IcebergTable.write(src.limit(100), v3,
      graft.write.TableWriteOptions(formatVersion = 3))
    IcebergTable.delete(spark, v3, "o_orderkey % 2 = 0")
    val rv3 = graft.write.Dml.rewritePositionDeleteFiles(spark, graft.write.Dml.PathOps(v3))
    assert(rv3.rewrittenDeleteFiles == 0 && rv3.addedDeleteFiles == 0)
  }

  test("rewriteDataFiles compacts ONLY the qualifying partition; others untouched") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_dml_rewrite_partial")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(
      partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity))))
    // Second append only to partition F -> F has 2 undersized files, O/P 1.
    IcebergTable.append(src.filter("o_orderstatus = 'F'"), path)
    val before = IcebergTable.plan(spark, path)
    def filesOf(p: graft.read.ScanPlan, status: String) =
      p.dataFiles.filter(_.info.partitionValues == Seq(status)).map(_.recordedPath).toSet
    assert(filesOf(before, "F").size == 2)
    assert(filesOf(before, "O").size == 1 && filesOf(before, "P").size == 1)

    IcebergTable.rewriteDataFiles(spark, path)
    val after = IcebergTable.plan(spark, path)
    // F compacted to one file; O and P keep their EXACT original files.
    assert(filesOf(after, "F").size == 1)
    assert(filesOf(after, "F") != filesOf(before, "F"))
    assert(filesOf(after, "O") == filesOf(before, "O"), "partition O must not be rewritten")
    assert(filesOf(after, "P") == filesOf(before, "P"), "partition P must not be rewritten")
    val expected = src.union(src.filter("o_orderstatus = 'F'"))
    assertSameResult(expected, IcebergTable.load(spark, path))
  }

  test("rewriteDataFiles with a delete in one partition rewrites only that partition") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_dml_rewrite_deltrigger")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(
      partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity))))
    IcebergTable.delete(spark, path, "o_orderstatus = 'F' AND o_orderkey < 500")
    val before = IcebergTable.plan(spark, path)
    assert(before.deleteFiles.nonEmpty)
    def filesOf(p: graft.read.ScanPlan, status: String) =
      p.dataFiles.filter(_.info.partitionValues == Seq(status)).map(_.recordedPath).toSet
    IcebergTable.rewriteDataFiles(spark, path)
    val after = IcebergTable.plan(spark, path)
    // One deleted row in partition F must NOT trigger a whole-table rewrite.
    assert(filesOf(after, "O") == filesOf(before, "O"), "partition O must not be rewritten")
    assert(filesOf(after, "P") == filesOf(before, "P"), "partition P must not be rewritten")
    assert(filesOf(after, "F") != filesOf(before, "F"), "partition F must be rewritten")
    assert(after.deleteFiles.isEmpty, "the F-scoped delete file is dead after the rewrite")
    assertSameResult(src.filter("NOT (o_orderstatus = 'F' AND o_orderkey < 500)"),
      IcebergTable.load(spark, path))
  }

  test("TPC-H data-maintenance protocol: 5 rounds of refresh inserts + key deletes (dm=5 benchmark)") {
    // Mirrors the reference's benchmark/tpch/sf=1/dm=5/tpch.benchmark.in
    // refresh loop over its own committed update sets: each round INSERTs an
    // orders/lineitem update file then DELETEs a key set from both tables.
    // Deletes go through the equality-delete path (key-set semantics);
    // reads must apply 5 generations of eq-deletes, each scoped to strictly
    // older sequence numbers (a later re-insert of a deleted key survives).
    val B = "/root/reference/data/persistent/benchmark/tpch/sf=1"
    val oPath = tmpDir("graft_dm5_orders")
    val lPath = tmpDir("graft_dm5_lineitem")
    def u(t: String, k: Int) = spark.read.parquet(s"$B/${t}_u$k.parquet").drop("sf")
    def delKeys(k: Int) = spark.read.parquet(s"$B/delete_set_$k.parquet")

    IcebergTable.write(u("orders", 1), oPath)
    IcebergTable.write(u("lineitem", 1), lPath)
    var oExpect = u("orders", 1)
    var lExpect = u("lineitem", 1)
    for (k <- 1 to 5) {
      if (k > 1) {
        IcebergTable.append(u("orders", k), oPath)
        IcebergTable.append(u("lineitem", k), lPath)
        oExpect = oExpect.unionByName(u("orders", k))
        lExpect = lExpect.unionByName(u("lineitem", k))
      }
      IcebergTable.deleteEquality(spark, oPath, delKeys(k))
      IcebergTable.deleteEquality(spark, lPath,
        delKeys(k).select(col("o_orderkey").as("l_orderkey")))
      oExpect = oExpect.join(delKeys(k), Seq("o_orderkey"), "left_anti")
      lExpect = lExpect.join(delKeys(k).select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
    }
    assertSameResult(oExpect, IcebergTable.load(spark, oPath))
    assertSameResult(lExpect, IcebergTable.load(spark, lPath))
    // a q3-shaped join over the maintained tables matches the same join on
    // the expected frames
    def q3(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"),
          count(lit(1)).as("n"))
    assertSameResult(q3(oExpect, lExpect),
      q3(IcebergTable.load(spark, oPath), IcebergTable.load(spark, lPath)))
  }

  test("a DML commit built on stale metadata fails loudly instead of dropping a concurrent append") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_dml_race")
    IcebergTable.write(region, path)
    // Simulate losing the race: another writer commits an append AFTER this
    // DELETE loads its metadata but BEFORE it commits.
    val staleOps = new graft.write.Dml.TableOps {
      def load(conf: org.apache.hadoop.conf.Configuration): graft.core.TableMetadata = {
        val m = graft.core.TableMetadata.load(path, conf)
        IcebergTable.append(region.withColumn("r_regionkey", col("r_regionkey") + 100), path)
        m
      }
      def commit(meta: graft.core.TableMetadata, addedData: Seq[graft.manifest.ManifestEntry],
          addedDeletes: Seq[graft.manifest.ManifestEntry], operation: String,
          conf: org.apache.hadoop.conf.Configuration, removedDataPaths: Set[String],
          removedDvRefs: Set[String], preassignedSnapshotId: Option[Long],
          deleteSpec: Option[graft.core.PartitionSpec]): graft.core.TableMetadata =
        graft.write.Dml.PathOps(path).commit(meta, addedData, addedDeletes, operation, conf,
          removedDataPaths, removedDvRefs, preassignedSnapshotId, deleteSpec)
    }
    intercept[graft.write.ConcurrentCommitException] {
      graft.write.Dml.delete(spark, staleOps, "r_regionkey = 0")
    }
    // the concurrent append survives, the stale delete left no trace
    assert(IcebergTable.load(spark, path).count() == 2 * region.count())
    // and a fresh retry of the same statement succeeds
    graft.write.Dml.delete(spark, path, "r_regionkey = 0")
    assert(IcebergTable.load(spark, path).count() == 2 * region.count() - 1)
  }

  test("delete-file pruning: partition-scoped deletes not read for other partitions") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_dml_delprune")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(
      partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity))))
    IcebergTable.delete(spark, path, "o_orderstatus = 'F'")
    val all = IcebergTable.plan(spark, path)
    assert(all.deleteFiles.nonEmpty)
    // A filter on a different partition must prune the delete file too.
    val other = IcebergTable.plan(spark, path, ReadOptions(filterSql = Some("o_orderstatus = 'O'")))
    assert(other.deleteFiles.isEmpty,
      s"delete files for partition F must be pruned, got ${other.deleteFiles.size}")
  }

  test("snapshot summary file-size metrics match the manifests (reference test_snapshot_summary_*)") {
    import graft.core.TableMetadata
    import graft.manifest.{ManifestIO, EntryStatus}
    val hconf = spark.sessionState.newHadoopConf()
    def summaryOf(path: String): Map[String, String] =
      TableMetadata.load(path, hconf).currentSnapshot.get.summary
    def addedBytesFromManifests(path: String): Long = {
      val meta = TableMetadata.load(path, hconf)
      val snap = meta.currentSnapshot.get
      ManifestIO.manifestsOf(meta, snap, hconf)
        .filter(_.addedSnapshotId == snap.snapshotId)
        .flatMap(m => ManifestIO.readManifest(
          TableMetadata.resolvePath(meta.location, m.path, hconf), hconf, m))
        .filter(_.status == EntryStatus.Added).map(_.dataFile.fileSizeInBytes).sum
    }

    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_summary_metrics")

    // Append 1: added == total, no removed key (reference asserts NULL).
    IcebergTable.write(src, path)
    val s1 = summaryOf(path)
    val added1 = addedBytesFromManifests(path)
    assert(added1 > 0 && s1("added-files-size").toLong == added1)
    assert(s1("total-files-size").toLong == added1)
    assert(!s1.contains("removed-files-size"))

    // Append 2: total carries the parent forward.
    IcebergTable.append(src, path)
    val s2 = summaryOf(path)
    val added2 = addedBytesFromManifests(path)
    assert(s2("added-files-size").toLong == added2)
    assert(s2("total-files-size").toLong == added1 + added2)

    // MoR delete: adds a delete file (counted in added/total) and keeps all
    // data bytes (no data file removed).
    IcebergTable.delete(spark, path, "r_regionkey = 0")
    val s3 = summaryOf(path)
    assert(s3("added-delete-files").toInt >= 1)
    assert(s3("total-files-size").toLong ==
      added1 + added2 + s3("added-files-size").toLong)
    assert(!s3.contains("removed-files-size"))

    // Compaction: removes the original data files; removed-files-size
    // appears and total reflects live bytes only.
    IcebergTable.rewriteDataFiles(spark, path, rewriteAll = true)
    val s4 = summaryOf(path)
    assert(s4("removed-files-size").toLong > 0)
    assert(s4("deleted-data-files").toInt >= 2)
    val liveBytes = {
      val meta = TableMetadata.load(path, hconf)
      val snap = meta.currentSnapshot.get
      ManifestIO.manifestsOf(meta, snap, hconf)
        .flatMap(m => ManifestIO.readManifest(
          TableMetadata.resolvePath(meta.location, m.path, hconf), hconf, m))
        .filter(_.isLive).map(_.dataFile.fileSizeInBytes).sum
    }
    assert(s4("total-files-size").toLong == liveBytes,
      s"total-files-size ${s4("total-files-size")} != live manifest bytes $liveBytes")
  }

  test("compaction pins rewritten files to the inputs' data sequence (reference rewrite_data_files_sequence_pin)") {
    import spark.implicits._
    import graft.core.TableMetadata
    import graft.manifest.ManifestIO
    val path = tmpDir("graft_seq_pin")
    (1 to 6).foreach { i =>
      IcebergTable.append(Seq((2 * i - 1, s"v${2 * i - 1}"), (2 * i, s"v${2 * i}"))
        .toDF("id", "payload").coalesce(1), path match {
          case pth if i == 1 => graft.write.IcebergWrite.createTable(spark, pth,
            Seq((0, "")).toDF("id", "payload").schema); pth
          case pth => pth
        })
    }
    val hconf = spark.sessionState.newHadoopConf()
    def liveDataEntries() = {
      val meta = TableMetadata.load(path, hconf)
      ManifestIO.manifestsOf(meta, meta.currentSnapshot.get, hconf).filter(_.content == 0)
        .flatMap(m => ManifestIO.readManifest(
          TableMetadata.resolvePath(meta.location, m.path, hconf), hconf, m)
          .filter(_.isLive).map(e => (e, m)))
    }
    val inputsMaxSeq = liveDataEntries().flatMap(_._1.sequenceNumber).max
    assert(liveDataEntries().size == 6)
    // A MoR delete before the rewrite: the base snapshot's sequence (7)
    // now exceeds every input data file's sequence (max 6), so the pin
    // target distinguishes base-snapshot from inputs-max semantics.
    IcebergTable.delete(spark, path, "id = 12")
    val baseSeq = TableMetadata.load(path, hconf).currentSnapshot.get.sequenceNumber
    assert(baseSeq > inputsMaxSeq)

    IcebergTable.rewriteDataFiles(spark, path, rewriteAll = true)
    assert(IcebergTable.count(spark, path) == 11)
    val after = liveDataEntries()
    assert(after.size == 1, s"expected 1 compacted file, got ${after.size}")
    // The rewritten entry is pinned to the BASE snapshot's sequence
    // (reference rewrite_data_files_executor.cpp:140-141), NOT the
    // replace snapshot's new sequence.
    assert(after.head._1.sequenceNumber.contains(baseSeq),
      s"rewritten entry seq ${after.head._1.sequenceNumber}, expected pin to $baseSeq")
    val meta = TableMetadata.load(path, hconf)
    assert(meta.lastSequenceNumber > baseSeq, "replace snapshot must still advance the table sequence")
    // Manifest min_sequence_number covers the pinned entry.
    assert(after.head._2.minSequenceNumber <= baseSeq)

    // An equality delete committed AFTER the rewrite still hits the
    // compacted rows (its seq > pinned seq).
    IcebergTable.deleteEquality(spark, path, Seq(Tuple1(3), Tuple1(7)).toDF("id"))
    assert(IcebergTable.load(spark, path).select("id").collect().map(_.getInt(0)).sorted.toSeq
      == (1 to 11).filterNot(Set(3, 7)).toSeq)
  }
}
