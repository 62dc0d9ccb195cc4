package graft

import graft.core.TableMetadata
import graft.manifest.{ManifestIO, ManifestFile}
import graft.read.{DeletedRowFilter, IcebergRead, ReadOptions}
import graft.write.TableWriteOptions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Position deletes and deletion vectors are applied per data file inside
  * the scan, with no join and no exchange over delete positions: on
  * `IcebergTable.load`, a filter over `_metadata.row_index` whose closure
  * holds one descriptor per delete file; on `format("graft")`, the graft
  * batch scan's reader. */
class PositionDeleteScanSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def deleteFilters(plan: SparkPlan): Seq[DeletedRowFilter] =
    plan.collect { case f: FilterExec => f.condition.collect { case d: DeletedRowFilter => d } }.flatten

  /** Both read APIs over `path`, with an optional row predicate. */
  private def reads(path: String, where: Option[String] = None): Seq[(String, DataFrame)] = {
    def w(df: DataFrame) = where.fold(df)(df.where)
    Seq("IcebergTable.load" -> w(IcebergTable.load(spark, path)),
      "format(graft)" -> w(spark.read.format("graft").load(path)))
  }

  test("DV and position-delete scans: no exchange, one descriptor per delete file") {
    import spark.implicits._
    val rows = (0 until 4000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4)
    val dv = tmpDir("graft_pd_plan_dv")
    IcebergTable.write(rows, dv, TableWriteOptions(formatVersion = 3))
    IcebergTable.delete(spark, dv, "id % 7 = 0")
    val pos = tmpDir("graft_pd_plan_pos")
    IcebergTable.write(rows, pos, TableWriteOptions(formatVersion = 2))
    IcebergTable.delete(spark, pos, "id % 7 = 0")
    IcebergTable.delete(spark, pos, "id % 11 = 0")

    for ((path, more) <- Seq(dv -> "", pos -> " AND id % 11 <> 0")) {
      val p = IcebergTable.plan(spark, path)
      assert(p.dataFiles.size > 1 && p.deleteFiles.nonEmpty)
      if (path == dv) assert(p.deleteFiles.forall(_.info.contentOffset.isDefined))
      else assert(p.deleteFiles.forall(_.info.fileFormat == "parquet"))
      for ((api, df) <- reads(path)) {
        val plan = finalPlan(df)
        assert(plan.collect { case e: Exchange => e }.isEmpty, s"$api: exchange in\n$plan")
        val filters = deleteFilters(plan)
        if (api == "format(graft)") {
          assert(filters.isEmpty, s"$api: delete filter in\n$plan")
          val applied = graftScanMetrics(spark.read.format("graft").load(path))("deleteFiles")
          assert(applied == p.deleteFiles.size,
            s"$api: $applied delete files applied of ${p.deleteFiles.size}")
        } else {
          assert(filters.nonEmpty, s"$api: no delete filter in\n$plan")
          filters.foreach(f => assert(f.deletes.deletes.size == p.deleteFiles.size,
            s"$api: ${f.deletes.deletes.size} descriptors for ${p.deleteFiles.size} delete files"))
        }
        assertSameResult(rows.where(s"id % 7 <> 0$more"), df)
      }
    }
  }

  test("a position-delete file that names several data files is opened once per task") {
    import spark.implicits._
    val path = tmpDir("graft_pd_once")
    val rows = (0 until 3000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(6)
    IcebergTable.write(rows, path, TableWriteOptions(formatVersion = 2))
    IcebergTable.delete(spark, path, "id % 9 = 0")
    val p = IcebergTable.plan(spark, path)
    assert(p.dataFiles.size == 6 && p.deleteFiles.size == 1 &&
      p.deleteFiles.head.info.referencedPath.isEmpty)
    val deleteFile = new org.apache.hadoop.fs.Path(p.deleteFiles.head.resolvedPath).getName
    // One task reads all six data files; every open goes through the
    // counting file system.
    val confs = Map("spark.sql.files.minPartitionNum" -> "1",
      "spark.sql.files.openCostInBytes" -> "1",
      "fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      for ((api, df) <- reads(path)) {
        CountingLocalFileSystem.reset()
        val plan = finalPlan(df)
        val tasks = plan.collect {
          case s: FileSourceScanExec => s.inputRDD.getNumPartitions
          case s: BatchScanExec => s.inputRDD.getNumPartitions
        }
        assert(tasks == Seq(1), s"$api: expected one scan task, got $tasks")
        assert(CountingLocalFileSystem.opens(deleteFile) == 1,
          s"$api: delete file opened ${CountingLocalFileSystem.opens(deleteFile)} times in one task")
        assertSameResult(rows.where("id % 9 <> 0"), df)
      }
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("a task decodes only the row groups of a shared position-delete file that name its data files") {
    import spark.implicits._
    val path = tmpDir("graft_pd_rowgroups")
    val rows = (0 until 18000).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(6)
    IcebergTable.write(rows, path, TableWriteOptions(formatVersion = 2,
      properties = Map("write.parquet.row-group-size-bytes" -> "512")))
    IcebergTable.delete(spark, path, "id % 3 = 0")
    val p = IcebergTable.plan(spark, path)
    assert(p.dataFiles.size == 6 && p.deleteFiles.size == 1)
    val deletePath = new org.apache.hadoop.fs.Path(p.deleteFiles.head.resolvedPath)
    val conf = spark.sessionState.newHadoopConf()
    val len = deletePath.getFileSystem(conf).getFileStatus(deletePath).getLen
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(deletePath, conf))
    val groupBytes = try {
      val groups = footer.getRowGroups
      assert(groups.size >= 12, s"${groups.size} row groups in the delete file")
      (0 until groups.size).map(groups.get(_).getCompressedSize).sum
    } finally footer.close()
    // Each data file in a task of its own.
    val confs = Map("spark.sql.files.openCostInBytes" -> (1L << 30).toString,
      "fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      for ((api, df) <- reads(path)) {
        CountingLocalFileSystem.reset()
        val plan = finalPlan(df)
        val tasks = plan.collect {
          case s: FileSourceScanExec => s.inputRDD.getNumPartitions
          case s: BatchScanExec => s.inputRDD.getNumPartitions
        }
        assert(tasks == Seq(6), s"$api: expected six scan tasks, got $tasks")
        // Every task reads the footer; the row groups are decoded about
        // once in all, not once per task.
        val read = CountingLocalFileSystem.bytesRead(deletePath.getName)
        assert(read <= 6 * (len - groupBytes) + 2 * groupBytes,
          s"$api: read $read bytes of a $len-byte delete file ($groupBytes in row groups) in 6 tasks, " +
            s"${CountingLocalFileSystem.opens(deletePath.getName)} opens")
        assertSameResult(rows.where("id % 3 <> 0"), df)
      }
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("files without deletes are read without the filter") {
    import spark.implicits._
    val path = tmpDir("graft_pd_unfiltered")
    IcebergTable.write((0 until 100).map(i => (i.toLong, i % 2)).toDF("id", "part"), path,
      TableWriteOptions(formatVersion = 3,
        partitionBy = Seq(("part", graft.core.Transforms.Identity))))
    IcebergTable.delete(spark, path, "id = 4")
    val plan = finalPlan(IcebergTable.load(spark, path))
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 2, s"expected one scan with and one without deletes:\n$plan")
    val filtered = plan.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[DeletedRowFilter]) => f
    }
    assert(filtered.size == 1 && filtered.head.collect { case s: FileSourceScanExec => s }.size == 1)
    assert(IcebergTable.load(spark, path).count() == 99)
  }

  test("a deletion vector without referenced_data_file fails planning, naming its Puffin file") {
    import spark.implicits._
    val path = tmpDir("graft_pd_noref")
    IcebergTable.write((0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1), path,
      TableWriteOptions(formatVersion = 3))
    IcebergTable.delete(spark, path, "id < 5")
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val snap = meta.currentSnapshot.get
    // Hand-build the delete manifest with the DV entry's
    // referenced_data_file dropped, as a non-conforming writer would.
    val manifests: Seq[ManifestFile] = ManifestIO.manifestsOf(meta, snap, conf).map { m =>
      if (m.content != 1) m
      else {
        val entries = ManifestIO.readManifest(TableMetadata.resolvePath(meta.location, m.path, conf), conf, m)
          .map(e => e.copy(dataFile = e.dataFile.copy(referencedDataFile = None)))
        assert(entries.nonEmpty && entries.forall(_.dataFile.contentOffset.isDefined))
        val mPath = s"${meta.location}/metadata/noref-dv.avro"
        val len = ManifestIO.writeManifest(mPath, conf, Nil, entries, Map("content" -> "deletes"))
        m.copy(path = mPath, length = len)
      }
    }
    val listPath = s"${meta.location}/metadata/noref-list.avro"
    ManifestIO.writeManifestList(listPath, conf, manifests)
    val broken = meta.copy(snapshots = meta.snapshots.map(s =>
      if (s.snapshotId == snap.snapshotId) s.copy(manifestList = listPath) else s))
    val puffin = IcebergRead.planWithMetadata(spark, meta, conf, ReadOptions())
      .deleteFiles.head.recordedPath
    val err = intercept[IllegalArgumentException](
      IcebergRead.planWithMetadata(spark, broken, conf, ReadOptions()))
    assert(err.getMessage.contains(puffin) && err.getMessage.contains("referenced_data_file"),
      err.getMessage)
  }

  test("row positions stay aligned when the predicate skips leading row groups") {
    import spark.implicits._
    val n = 20000
    val rows = (0 until n).map(i => (i.toLong, f"payload-$i%08d")).toDF("id", "v").coalesce(1)
    val props = Map("write.parquet.row-group-size-bytes" -> "4096")
    val dv = tmpDir("graft_pd_rg_dv")
    IcebergTable.write(rows, dv, TableWriteOptions(formatVersion = 3, properties = props))
    val pos = tmpDir("graft_pd_rg_pos")
    IcebergTable.write(rows, pos, TableWriteOptions(formatVersion = 2, properties = props))
    val cut = n * 3 / 4
    for (path <- Seq(dv, pos)) {
      val file = IcebergTable.plan(spark, path).dataFiles.map(_.resolvedPath)
      assert(file.size == 1)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.head), spark.sessionState.newHadoopConf()))
      val rowGroups = try footer.getRowGroups.size finally footer.close()
      assert(rowGroups >= 4, s"expected several row groups, got $rowGroups")
      // Deleted rows in every row group, before and after the cut.
      IcebergTable.delete(spark, path, "id % 13 = 0 OR id = 0 OR id = 19999")
      val expected = rows.where(s"id >= $cut AND id % 13 <> 0 AND id <> 19999")
      for ((api, df) <- reads(path, Some(s"id >= $cut"))) {
        val plan = finalPlan(df)
        val scanned = plan.collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
          case s: BatchScanExec => s.metrics("numOutputRows").value
        }.sum
        assert(scanned > 0 && scanned < n - cut + (n - cut) / 2,
          s"$api: $scanned rows scanned, row groups not skipped")
        assertSameResult(expected, df)
        val ids = df.select("id").as[Long].collect().toSet
        assert(!ids.contains(19999L) && ids.contains(19998L) && ids.contains(cut.toLong), api)
      }
    }
  }
}
