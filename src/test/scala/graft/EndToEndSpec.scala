package graft

import graft.read.ReadOptions
import graft.write.TableWriteOptions
import graft.core.Transforms
import org.apache.spark.sql.functions._

/** Milestone-2 slice: write sf0.001 lineitem as an Iceberg table, read it
  * back, and match raw-parquet results exactly. */
class EndToEndSpec extends SparkSpec {

  test("unpartitioned roundtrip: lineitem write + read back, exact content") {
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val path = tmpDir("graft_e2e_lineitem")
    IcebergTable.write(src, path)
    val back = IcebergTable.load(spark, path)
    assert(back.schema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
    assertSameResult(src, back)
  }

  test("TPC-H q1-core over an Iceberg roundtrip matches raw parquet") {
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val path = tmpDir("graft_e2e_q1")
    IcebergTable.write(src, path)
    def q1(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum("l_extendedprice").as("sum_base_price"),
        avg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
    assertSameResult(q1(src), q1(IcebergTable.load(spark, path)))
  }

  test("metadata count fast path matches actual row count") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_e2e_count")
    IcebergTable.write(src, path)
    val p = IcebergTable.plan(spark, path)
    assert(p.fastRowCount.contains(src.count()))
    assert(IcebergTable.count(spark, path) == src.count())
  }

  test("append adds a second snapshot; time travel reads the first") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_e2e_append")
    IcebergTable.write(src, path)
    val metaV1 = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    val firstSnap = metaV1.currentSnapshotId.get
    IcebergTable.append(src, path)
    assert(IcebergTable.count(spark, path) == 2 * src.count())
    val old = IcebergTable.load(spark, path, ReadOptions(snapshotId = Some(firstSnap)))
    assert(old.count() == src.count())
    val snaps = IcebergTable.snapshots(spark, path)
    assert(snaps.count() == 2)
  }

  test("partitioned write (identity) + partition pruning reads fewer files") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val path = tmpDir("graft_e2e_part")
    IcebergTable.write(src, path, TableWriteOptions(
      partitionBy = Seq(("n_regionkey", Transforms.Identity))))
    val full = IcebergTable.plan(spark, path)
    val pruned = IcebergTable.plan(spark, path, ReadOptions(filterSql = Some("n_regionkey = 2")))
    assert(full.dataFiles.size > 1)
    assert(pruned.dataFiles.size < full.dataFiles.size,
      s"expected pruning: ${pruned.dataFiles.size} < ${full.dataFiles.size}")
    val expected = src.filter("n_regionkey = 2")
    val got = IcebergTable.load(spark, path, ReadOptions(filterSql = Some("n_regionkey = 2")))
    assertSameResult(expected, got)
  }

  test("stats pruning skips files on unpartitioned table") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .orderBy("o_orderkey").repartitionByRange(4, col("o_orderkey"))
    val path = tmpDir("graft_e2e_stats")
    IcebergTable.write(src, path)
    val full = IcebergTable.plan(spark, path)
    assert(full.dataFiles.size >= 2)
    val keys = spark.read.parquet(s"$sfDir/orders.parquet").agg(min("o_orderkey"), max("o_orderkey"))
      .collect()(0)
    val lo = keys.getLong(0)
    val pruned = IcebergTable.plan(spark, path, ReadOptions(filterSql = Some(s"o_orderkey <= $lo")))
    assert(pruned.dataFiles.size < full.dataFiles.size,
      s"stats pruning: ${pruned.dataFiles.size} < ${full.dataFiles.size}")
    val expected = spark.read.parquet(s"$sfDir/orders.parquet").filter(s"o_orderkey <= $lo")
    assertSameResult(expected, IcebergTable.load(spark, path, ReadOptions(filterSql = Some(s"o_orderkey <= $lo"))))
  }

  test("concurrent appends: every writer lands, optimistic retry on version race") {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_e2e_concurrent")
    IcebergTable.write(region, path)
    val writers = 6
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to writers).map { i =>
      Future { IcebergTable.append(region.withColumn("r_regionkey", col("r_regionkey") + i * 100), path) }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    assert(meta.snapshots.size == writers + 1,
      s"expected ${writers + 1} snapshots, got ${meta.snapshots.size} (lost commit)")
    assert(IcebergTable.load(spark, path).count() == (writers + 1) * region.count())
    // metadata versions are dense: no clobbered files
    val metaDir = new java.io.File(path, "metadata")
    val versions = metaDir.listFiles().map(_.getName)
      .filter(n => n.matches("v\\d+\\.metadata\\.json")).sorted
    assert(versions.length == writers + 2) // create + initial append... each commit bumps
  }

  test("manifests are deflate-compressed by default; write.manifest.compression-codec=none opts out") {
    import graft.core.TableMetadata
    import graft.manifest.ManifestIO
    val hconf = spark.sessionState.newHadoopConf()
    def codecOf(path: String): String = {
      val meta = TableMetadata.load(path, hconf)
      val m = ManifestIO.manifestsOf(meta, meta.currentSnapshot.get, hconf).head
      val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
        new org.apache.avro.mapred.FsInput(new org.apache.hadoop.fs.Path(
          TableMetadata.resolvePath(meta.location, m.path, hconf)), hconf),
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try Option(rd.getMetaString("avro.codec")).getOrElse("null") finally rd.close()
    }
    val src = spark.read.parquet(s"$sfDir/region.parquet")

    val p1 = tmpDir("graft_codec_default")
    IcebergTable.write(src, p1)
    assert(codecOf(p1) == "deflate",
      s"default manifest avro codec must be deflate, got ${codecOf(p1)}")
    // Reads decompress transparently.
    assertSameResult(src, IcebergTable.load(spark, p1))

    val p2 = tmpDir("graft_codec_none")
    IcebergTable.write(src, p2, graft.write.TableWriteOptions(
      properties = Map("write.manifest.compression-codec" -> "none")))
    assert(codecOf(p2) == "null",
      s"codec=none must write an uncompressed avro container, got ${codecOf(p2)}")
    assertSameResult(src, IcebergTable.load(spark, p2))
  }

  test("write.target-file-size-bytes rolls insert output into bounded files") {
    import org.apache.spark.sql.functions._
    import graft.write.IcebergWrite
    assert(IcebergWrite.parseByteSize("1048576") == 1048576L)
    assert(IcebergWrite.parseByteSize("64MB") == 64L << 20)
    assert(IcebergWrite.parseByteSize("1g") == 1L << 30)
    assert(IcebergWrite.parseByteSize("256k") == 256L << 10)

    val path = tmpDir("graft_target_size")
    // ~100k rows of ~40-byte strings; target 256 KiB => several files.
    val df = spark.range(100000).toDF("id")
      .withColumn("data", concat(lit("thisisalongstringpayloadvalue-"), col("id")))
    IcebergTable.write(df, path, graft.write.TableWriteOptions(
      properties = Map("write.target-file-size-bytes" -> "262144")))
    val files = IcebergTable.plan(spark, path).dataFiles
    assert(files.size >= 3, s"expected multiple rolled files, got ${files.size}")
    // No file grossly overshoots the target (calibration is a sample-based
    // estimate; allow 2x).
    val oversized = files.filter(_.info.fileSizeInBytes > 2L * 262144)
    assert(oversized.isEmpty,
      s"files exceed 2x target: ${oversized.map(_.info.fileSizeInBytes)}")
    assertSameResult(df, IcebergTable.load(spark, path))

    // Without the property, the same write stays unsplit (single task).
    val path2 = tmpDir("graft_no_target_size")
    IcebergTable.write(df.coalesce(1), path2)
    assert(IcebergTable.plan(spark, path2).dataFiles.size == 1)
  }

  test("write.parquet.* physical properties reach the parquet writer") {
    import org.apache.spark.sql.functions._
    // Codec + row-group size flow through to the files (reference
    // iceberg_insert.cpp ICEBERG_TABLE_PROPERTY_MAPPING;
    // partitioned_write_row-group-size-bytes.test).
    val path = tmpDir("graft_parquet_props")
    val df = spark.range(200000).toDF("id")
      .withColumn("data", concat(lit("payload-"), col("id")))
    IcebergTable.write(df.coalesce(1), path, graft.write.TableWriteOptions(
      properties = Map(
        "write.parquet.compression-codec" -> "gzip",
        "write.parquet.row-group-size-bytes" -> "64k",
        "write.parquet.page-size-bytes" -> "16k")))
    val conf = spark.sessionState.newHadoopConf()
    val file = IcebergTable.plan(spark, path).dataFiles.head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.resolvedPath), conf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala
      assert(blocks.size > 1, s"64k row groups should split 200k rows, got ${blocks.size} block(s)")
      val codecs = blocks.flatMap(_.getColumns.asScala).map(_.getCodec.name()).toSet
      assert(codecs == Set("GZIP"), s"expected GZIP codec, got $codecs")
    } finally reader.close()
    assertSameResult(df, IcebergTable.load(spark, path))
  }

  test("write.parquet.bloom-filter-enabled.column.X writes a per-column bloom filter") {
    import org.apache.spark.sql.functions._
    val path = tmpDir("graft_bloom")
    val df = spark.range(50000).toDF("id")
      .withColumn("key", concat(lit("k"), col("id")))
      .withColumn("other", col("id") % 100)
    IcebergTable.write(df.coalesce(1), path, graft.write.TableWriteOptions(
      properties = Map(
        "write.parquet.bloom-filter-enabled.column.key" -> "true",
        "write.parquet.bloom-filter-fpp.column.key" -> "0.01")))
    val conf = spark.sessionState.newHadoopConf()
    val file = IcebergTable.plan(spark, path).dataFiles.head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.resolvedPath), conf))
    try {
      import scala.jdk.CollectionConverters._
      val block = reader.getFooter.getBlocks.asScala.head
      def bloomOf(name: String) = block.getColumns.asScala
        .find(_.getPath.toDotString == name)
        .flatMap(c => Option(reader.getBloomFilterDataReader(block).readBloomFilter(c)))
      assert(bloomOf("key").isDefined, "bloom filter missing on opted-in column")
      assert(bloomOf("other").isEmpty, "bloom filter must not appear on other columns")
    } finally reader.close()
    assertSameResult(df, IcebergTable.load(spark, path))
  }

  test("write.distribution-mode: none fans out task-locally, hash co-locates, range clusters; same rows") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet").repartition(4)
    def writeWith(mode: Option[String]): (String, Int) = {
      val path = tmpDir(s"graft_dist_${mode.getOrElse("default")}")
      IcebergTable.write(src, path, graft.write.TableWriteOptions(
        partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity)),
        sortBy = Seq(("o_totalprice", true, true)),
        properties = mode.map("write.distribution-mode" -> _).toMap))
      // Every file declares the table's sort order, and every file IS
      // sorted by it, in every mode.
      IcebergTable.plan(spark, path).dataFiles.foreach { f =>
        assert(f.info.sortOrderId.contains(1))
        val prices = spark.read.parquet(f.resolvedPath).select(col("o_totalprice").cast("double"))
          .collect().map(_.getDouble(0)).toSeq
        assert(prices == prices.sorted, s"${mode.getOrElse("hash")}: ${f.recordedPath} is not sorted")
      }
      (path, IcebergTable.plan(spark, path).dataFiles.size)
    }
    val (hashPath, hashFiles) = writeWith(None) // default = hash
    val (nonePath, noneFiles) = writeWith(Some("none"))
    val (rangePath, rangeFiles) = writeWith(Some("range"))
    // Content identical in every mode.
    assertSameResult(src, IcebergTable.load(spark, hashPath))
    assertSameResult(src, IcebergTable.load(spark, nonePath))
    assertSameResult(src, IcebergTable.load(spark, rangePath))
    // hash: one file per partition value (3 statuses); none: the 4 input
    // tasks each fan out -> more, smaller files; range: bounded by
    // partition x shuffle-partition splits, at least one per partition.
    assert(hashFiles == 3, s"hash mode should write 1 file/partition, wrote $hashFiles")
    assert(noneFiles > hashFiles, s"none mode should fan out: $noneFiles <= $hashFiles")
    assert(rangeFiles >= 3)
    // Invalid value warns and falls back to hash rather than failing.
    val (badPath, badFiles) = {
      val path = tmpDir("graft_dist_bad")
      IcebergTable.write(src, path, graft.write.TableWriteOptions(
        partitionBy = Seq(("o_orderstatus", graft.core.Transforms.Identity)),
        properties = Map("write.distribution-mode" -> "shuffleplease")))
      (path, IcebergTable.plan(spark, path).dataFiles.size)
    }
    assert(badFiles == 3)
    assertSameResult(src, IcebergTable.load(spark, badPath))
  }

  test("object-storage layouts: hash-prefixed paths, flat partition paths, custom write.data.path") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")

    // write.object-storage.enabled: every data file sits under an 8-hex-char
    // hash component directly under the data root; reads stay exact.
    val hashed = tmpDir("graft_objstore_hash")
    IcebergTable.write(src, hashed, TableWriteOptions(
      partitionBy = Seq(("o_orderstatus", Transforms.Identity)),
      properties = Map("write.object-storage.enabled" -> "true")))
    val hashedPlan = IcebergTable.plan(spark, hashed)
    val hexDir = """.*/data/([0-9a-f]{8})/.*""".r
    hashedPlan.dataFiles.foreach { f =>
      assert(hexDir.findFirstIn(f.recordedPath).isDefined,
        s"expected a hash component in ${f.recordedPath}")
      // hive-style partition dirs are kept by default (partitioned-paths=true)
      assert(f.recordedPath.contains("="), s"expected partition dir in ${f.recordedPath}")
    }
    assertSameResult(src, IcebergTable.load(spark, hashed))
    // Pruning still works from manifest partition values.
    val pruned = IcebergTable.plan(spark, hashed,
      ReadOptions(filterSql = Some("o_orderstatus = 'O'")))
    assert(pruned.dataFiles.size < hashedPlan.dataFiles.size)

    // partitioned-paths=false: no key=value segments in final paths; the
    // partition values live only in the manifests — pruning still exact.
    val flat = tmpDir("graft_objstore_flat")
    IcebergTable.write(src, flat, TableWriteOptions(
      partitionBy = Seq(("o_orderstatus", Transforms.Identity)),
      properties = Map("write.object-storage.partitioned-paths" -> "false")))
    val flatPlan = IcebergTable.plan(spark, flat)
    flatPlan.dataFiles.foreach(f =>
      assert(!f.recordedPath.contains("="), s"expected flat path, got ${f.recordedPath}"))
    assertSameResult(src, IcebergTable.load(spark, flat))
    val flatPruned = IcebergTable.plan(spark, flat,
      ReadOptions(filterSql = Some("o_orderstatus = 'O'")))
    assert(flatPruned.dataFiles.size == 1)
    assert(IcebergTable.load(spark, flat,
      ReadOptions(filterSql = Some("o_orderstatus = 'O'"))).count()
      == src.filter("o_orderstatus = 'O'").count())

    // write.data.path: data files land under the custom root, not
    // <location>/data; appends and reads still roundtrip.
    val tableLoc = tmpDir("graft_custom_datapath_table")
    val dataLoc = tmpDir("graft_custom_datapath_data")
    IcebergTable.write(src.limit(100), tableLoc, TableWriteOptions(
      properties = Map("write.data.path" -> dataLoc)))
    val cp = IcebergTable.plan(spark, tableLoc)
    cp.dataFiles.foreach(f => assert(f.recordedPath.startsWith(s"file:$dataLoc")
      || f.recordedPath.startsWith(dataLoc), s"data file outside write.data.path: ${f.recordedPath}"))
    assert(IcebergTable.load(spark, tableLoc).count() == 100)
  }
}
