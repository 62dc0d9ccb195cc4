package graft.read

import graft.core._
import graft.manifest._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/**
 * The Iceberg scan: metadata -> snapshot -> manifests -> pruned file list ->
 * DataFrame with per-file-group field-id projection, defaults, partition
 * constants, and read-side delete application.
 *
 * Spark-first design notes (100 TB scale):
 *  - ALL metadata work is driver-side; manifests are read on a thread pool
 *    (reference does the same inside DuckDB worker threads —
 *    src/planning/iceberg_multi_file_list.cpp:560-616).
 *  - The unit handed to executors is a parquet file/split; Spark's
 *    vectorized reader + whole-stage codegen run the data path.
 *  - Field-id column resolution uses Spark's native
 *    `spark.sql.parquet.fieldId.read.enabled` (per-file id matching in the
 *    vectorized reader — no per-file plan explosion). Files that physically
 *    miss a column with an initial-default or an identity-partition constant
 *    are grouped (group count = touched partitions, not files) and patched
 *    with literal columns (reference per-file mapping:
 *    src/planning/iceberg_multi_file_reader.cpp:100-115,203-238,292-426).
 *  - Position deletes and deletion vectors are applied per data file in
 *    the scan tasks: a filter on `_metadata.row_index` that builds the
 *    file's bitmap from O(delete files) descriptors ([[PositionDeletes]]).
 *    Equality deletes are anti-joins (broadcast when small). Positions are
 *    never collected on the driver nor broadcast (reference read-side
 *    deletes: src/planning/deletes/iceberg_delete_file_scanner.cpp,
 *    src/core/deletes/iceberg_deletion_vector.cpp:68-183,
 *    src/planning/iceberg_multi_file_reader.cpp:136-201,436-523).
 */
case class ReadOptions(
    snapshotId: Option[Long] = None,
    asOfTimestampMs: Option[Long] = None,
    /** Read at a named branch or tag (Iceberg refs). */
    refName: Option[String] = None,
    metadataVersion: Option[String] = None,
    /** Custom metadata-file name pattern(s), comma-separated, each with two
      * `%s` (version, compression suffix) — reference `version_name_format`
      * scan option. */
    versionNameFormat: Option[String] = None,
    filterSql: Option[String] = None,
    withRowLineage: Boolean = false,
    /** Internal (DML): keep `_g_path`/`_g_pos` file-position columns. */
    keepFileMeta: Boolean = false) {
  def lookup: SnapshotLookup = snapshotId.map(SnapshotLookup.ById.apply)
    .orElse(asOfTimestampMs.map(SnapshotLookup.ByTimestamp.apply))
    .orElse(refName.map(SnapshotLookup.ByRef.apply))
    .getOrElse(SnapshotLookup.Latest)
}

case class PlannedFile(
    info: DataFileInfo,
    resolvedPath: String,
    specId: Int,
    dataSeq: Long,
    status: Int,
    firstRowId: Option[Long]) {
  def recordedPath: String = info.filePath
}

case class ScanPlan(
    meta: TableMetadata,
    snapshot: Option[SnapshotInfo],
    schema: IcebergSchema,
    dataFiles: Seq[PlannedFile],
    deleteFiles: Seq[PlannedFile],
    totalDataFiles: Int,
    totalDeleteFiles: Int,
    scannedManifests: Int,
    prunedManifests: Int) {
  /** Exact row count from manifests — valid only when no deletes apply
    * (reference count(*) fast path iceberg_multi_file_list.cpp:332-364). */
  def fastRowCount: Option[Long] =
    if (deleteFiles.isEmpty) Some(dataFiles.map(_.info.recordCount).sum) else None
}

object IcebergRead {
  /** Test probe: delete files handed to a reader (parquet scan or puffin
    * decode) since JVM start — the count delete-file pruning is meant to
    * minimize (reference prune_equality_deletes.benchmark: 365 -> 1). */
  val deleteFileReads = new java.util.concurrent.atomic.AtomicLong(0)

  // v3 row-lineage reserved field ids (materialized by rewrites/updates).
  private val RowIdFieldId = 2147483540
  private val LastUpdatedSeqFieldId = 2147483539

  private[graft] def parMap[A, B](items: Seq[A], parallelism: Int = 8)(f: A => B): Seq[B] = {
    if (items.size <= 1) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(parallelism, items.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
      finally pool.shutdown()
    }
  }

  private def fieldMeta(id: Int): Metadata =
    new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()

  def ensureConfs(spark: SparkSession): Unit = {
    // st_intersects_bbox / iceberg_bucket / ... must resolve in any session
    // whose scans apply graft filter SQL.
    graft.functions.IcebergFunctions.register(spark)
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    // parquet TIMESTAMP(NANOS) columns (e.g. the events table) read as
    // nanosecond longs instead of erroring; converted at use sites.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Local-FS .crc sidecars (e.g. fixture trees copied without their
    // checksums) must not fail reads; also mutes checksum files on write.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    try org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), hc).setVerifyChecksum(false)
    catch { case _: Exception => }
  }

  // ---------- planning ----------

  def plan(spark: SparkSession, path: String, opts: ReadOptions = ReadOptions()): ScanPlan = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf, opts.metadataVersion, opts.versionNameFormat)
    planWithMetadata(spark, meta, conf, opts)
  }

  def planWithMetadata(spark: SparkSession, meta: TableMetadata, conf: Configuration,
      opts: ReadOptions): ScanPlan = {
    val snap = meta.selectSnapshot(opts.lookup)
    // Latest reads bind the table's CURRENT schema (post-ALTER); explicit
    // time travel binds the snapshot's schema.
    val schema = opts.lookup match {
      case SnapshotLookup.Latest => meta.currentSchema
      case _ => meta.schemaFor(snap)
    }
    snap match {
      case None => ScanPlan(meta, None, schema, Nil, Nil, 0, 0, 0, 0)
      case Some(s) =>
        val manifests = ManifestIO.manifestsOf(meta, s, conf)
        val preds = opts.filterSql.map(f => Pruning.extractPredicates(spark, f)).getOrElse(Nil)

        // Manifest-level pruning on partition-bound summaries.
        val kept = manifests.filter { m =>
          preds.isEmpty || Pruning.manifestMatches(preds, m, meta.spec(m.partitionSpecId), schema)
        }
        val prunedManifests = manifests.size - kept.size

        val entriesByManifest: Seq[(ManifestFile, Seq[ManifestEntry])] =
          parMap(kept)(m => m -> ManifestIO.readManifest(
            TableMetadata.resolvePath(meta.location, m.path, conf), conf, m))

        def planned(m: ManifestFile, e: ManifestEntry): PlannedFile = PlannedFile(
          e.dataFile,
          TableMetadata.resolvePath(meta.location, e.dataFile.filePath, conf),
          m.partitionSpecId,
          e.sequenceNumber.getOrElse(0L),
          e.status,
          e.dataFile.firstRowId)

        // v3 row-id inheritance: files with null first_row_id draw from the
        // manifest's first_row_id cursor, advanced by record_count
        // (reference iceberg_manifest_list.cpp:688-689).
        val liveData = entriesByManifest.filter(_._1.content == 0).flatMap { case (m, es) =>
          var cursor = m.firstRowId
          es.filter(_.isLive).map { e =>
            val pf = planned(m, e)
            if (pf.firstRowId.isEmpty && cursor.isDefined && pf.info.content == FileContent.Data) {
              val assigned = cursor.get
              cursor = Some(assigned + pf.info.recordCount)
              pf.copy(firstRowId = Some(assigned))
            } else pf
          }
        }
        val liveDeletes = entriesByManifest.filter(_._1.content == 1).flatMap { case (m, es) =>
          es.filter(_.isLive).map(e => planned(m, e))
        }
        val totalData = liveData.size
        val totalDel = liveDeletes.size

        // File-level pruning: partition tuple, then column stats.
        val dataKept = liveData.filter { pf =>
          val spec = meta.spec(pf.specId)
          preds.isEmpty ||
            (Pruning.filePartitionMatches(preds, spec, schema, pf.info.partitionValues) &&
              Pruning.fileStatsMatch(preds, schema, pf.info))
        }
        // Non-parquet data files are rejected, puffin DV entries pass through
        // (reference iceberg_multi_file_list.cpp:528-531).
        dataKept.foreach { pf =>
          require(pf.info.fileFormat == "parquet",
            s"Unsupported data file format '${pf.info.fileFormat}' for ${pf.recordedPath}")
        }

        // Delete-file pruning (reference 365->1 benchmark): partition match
        // against the filter, plus positional path-bounds vs surviving files.
        val keptRecorded = dataKept.map(_.recordedPath).toSet
        val delKept = liveDeletes.filter { pf =>
          val spec = meta.spec(pf.specId)
          val partOk = preds.isEmpty ||
            Pruning.filePartitionMatches(preds, spec, schema, pf.info.partitionValues)
          val pathOk = pf.info.content != FileContent.PositionDeletes ||
            pf.info.referencedPath.forall(keptRecorded.contains)
          partOk && pathOk
        }
        delKept.filter(_.info.contentOffset.isDefined).foreach(PositionDeletes.dvReference)

        ScanPlan(meta, snap, schema, dataKept, delKept, totalData, totalDel, kept.size, prunedManifests)
    }
  }

  // ---------- DataFrame assembly ----------

  def emptyDF(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Parse an initial-default JSON node into an internal value (spec: JSON
    * single-value serialization). Defensive: unparseable defaults -> None
    * (conservative null) rather than failing the whole scan. */
  private def defaultValue(f: IcebergTypes.NestedField): Option[Any] =
    f.initialDefaultJson.flatMap(jsonSingleValue(_, f.fieldType))

  /** JSON single-value serialization → internal value (same raw
    * representation the Avro manifest parser yields), shared by schema
    * initial-defaults and REST scan-planning partition values
    * (reference CopyValueMap/ParsePrimitiveValue,
    * catalog/rest/api/iceberg_scan_planning.cpp:138-210). */
  private[graft] def jsonSingleValue(
      n: com.fasterxml.jackson.databind.JsonNode, t: graft.core.IcebergType): Option[Any] = {
      import IcebergTypes._
      def hexBytes(s: String): Array[Byte] = {
        val h = s.stripPrefix("0x").stripPrefix("0X")
        h.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray
      }
      if (n == null || n.isNull) None
      else scala.util.Try[Any] {
        t match {
          case BooleanT => n.asBoolean()
          case IntT => n.asInt()
          case LongT => n.asLong()
          case FloatT => n.floatValue()
          case DoubleT => n.asDouble()
          case DecimalT(_, s) => new java.math.BigDecimal(n.asText())
          case DateT => java.time.LocalDate.parse(n.asText()).toEpochDay.toInt
          case TimeT => java.time.LocalTime.parse(n.asText()).toNanoOfDay / 1000L
          case TimestampT | TimestampNsT =>
            val t = java.time.LocalDateTime.parse(n.asText().replace(" ", "T"))
            t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
          case TimestampTzT | TimestampTzNsT =>
            val t = java.time.OffsetDateTime.parse(n.asText().replace(" ", "T"))
            t.toInstant.getEpochSecond * 1000000L + t.getNano / 1000L
          case StringT | UuidT => n.asText()
          case BinaryT | FixedT(_) =>
            if (n.isTextual) hexBytes(n.asText()) else n.binaryValue()
          case _ => n.asText()
        }
      }.toOption
  }

  /** Does this data file physically contain the column? Uses manifest stats
    * keys as the per-file schema signal (value_counts carry every written
    * field id), footer read as fallback. */
  private def fileHasField(pf: PlannedFile, fieldId: Int, conf: Configuration): Boolean = {
    val vc = pf.info.valueCounts
    val cs = pf.info.columnSizes
    if (vc.nonEmpty) vc.contains(fieldId)
    else if (cs.nonEmpty) cs.contains(fieldId)
    else footerFieldIds(pf.resolvedPath, conf).forall(_.contains(fieldId))
  }

  // Bounded (files are immutable, so any eviction policy is safe): a
  // long-lived driver planning over many tables must not grow this without
  // limit. Cleared wholesale when full — O(1), no LRU bookkeeping in the
  // planning hot path.
  private val FooterCacheMax = 65536
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[String, Option[Set[Int]]]()
  private def footerFieldIds(path: String, conf: Configuration): Option[Set[Int]] = {
    if (footerCache.size > FooterCacheMax) footerCache.clear()
    footerCache.computeIfAbsent(path, { p =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val sch = r.getFooter.getFileMetaData.getSchema
          import scala.jdk.CollectionConverters._
          val b = Set.newBuilder[Int]
          def walk(t: org.apache.parquet.schema.Type): Unit = {
            Option(t.getId).foreach(id => b += id.intValue())
            if (!t.isPrimitive) t.asGroupType().getFields.asScala.foreach(walk)
          }
          sch.getFields.asScala.foreach(walk)
          val ids = b.result()
          if (ids.isEmpty) None else Some(ids)
        } finally r.close()
      } catch { case _: Exception => None }
    })
  }

  def load(spark: SparkSession, path: String, opts: ReadOptions = ReadOptions()): DataFrame = {
    ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf, opts.metadataVersion, opts.versionNameFormat)
    loadWithMetadata(spark, meta, conf, opts)
  }

  def loadWithMetadata(spark: SparkSession, meta: TableMetadata, conf: Configuration,
      opts: ReadOptions): DataFrame = {
    ensureConfs(spark)
    val p = planWithMetadata(spark, meta, conf, opts)
    assemble(spark, p, conf, opts)
  }

  /** Assemble the DataFrame for an already-planned scan — shared by the
    * client-side planner above and the server-side scan-plan provider
    * (reference IcebergScanPlanProvider split,
    * src/planning/scan_plan/iceberg_scan_plan_provider.cpp:40-80). */
  def assemble(spark: SparkSession, p: ScanPlan, conf: Configuration,
      opts: ReadOptions): DataFrame = {
    ensureConfs(spark)
    val sparkSchema = p.schema.toSpark
    if (p.dataFiles.isEmpty) {
      val base = if (opts.keepFileMeta)
        StructType(sparkSchema.fields ++ Seq(StructField("_g_path", StringType), StructField("_g_pos", LongType)))
      else sparkSchema
      return emptyDF(spark, base)
    }

    val eqDeletes = p.deleteFiles.filter(_.info.content == FileContent.EqualityDeletes)
    val posDeletes = PositionDeletes.of(spark, p, conf)
    posDeletes.foreach(d => deleteFileReads.addAndGet(d.deletes.size.toLong))
    val needMeta = opts.withRowLineage || opts.keepFileMeta

    // Split by (data sequence, partition) only when equality deletes force
    // it: an equality delete applies to strictly-older data sequences AND,
    // when its spec is partitioned, only to data files in the same partition
    // (reference iceberg_multi_file_reader.cpp:136-201 + delete planner
    // partition matching — see equality_delete_cross_partition fixture).
    def partKey(f: PlannedFile): String =
      f.specId + "|" + f.info.partitionValues.map {
        case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
        case v => String.valueOf(v)
      }.mkString("|")
    // Global equality deletes are EXACTLY those under an unpartitioned
    // spec; an all-null tuple under a partitioned spec means "the null
    // partition", not "every partition" (Iceberg spec scoping rules).
    //
    // Stats pruning per (delete file, data file) pair: if for ANY equality-id
    // column both files carry bounds and they are disjoint, the delete cannot
    // hit a row of the data file — skip it (reference
    // iceberg_file_pruner.cpp:248-317 EqualityDeleteMatchesDataFile, with the
    // same guards: delete null count known-zero, and for float/double a
    // known-zero NaN count, since manifest bounds exclude NULLs and NaNs).
    // This is what turns a post-filter scan into a delete-free plan when the
    // query predicate excludes everything the deletes touched
    // (prune_equality_deletes.benchmark).
    def fieldTypeById(fid: Int): Option[IcebergType] =
      p.schema.idToField.get(fid).map(_.fieldType).orElse(
        p.meta.schemas.sortBy(-_.schemaId).flatMap(_.fields.find(_.id == fid))
          .headOption.map(_.fieldType))
    def eqDeleteMayMatch(d: PlannedFile, f: PlannedFile): Boolean =
      d.info.equalityIds.forall { fid =>
        fieldTypeById(fid) match {
          case None => true // unknown column: cannot reason, keep the delete
          case Some(t) =>
            val nullSafe = d.info.nullValueCounts.get(fid).contains(0L)
            val nanSafe = t match {
              case IcebergTypes.FloatT | IcebergTypes.DoubleT =>
                d.info.nanValueCounts.get(fid).contains(0L)
              case _ => true
            }
            val bounds = for {
              dl <- d.info.lowerBounds.get(fid); du <- d.info.upperBounds.get(fid)
              fl <- f.info.lowerBounds.get(fid); fu <- f.info.upperBounds.get(fid)
            } yield (dl, du, fl, fu)
            if (!nullSafe || !nanSafe || bounds.isEmpty) true
            else try {
              val (dl, du, fl, fu) = bounds.get
              val disjoint =
                SingleValue.compare(SingleValue.deserialize(du, t), SingleValue.deserialize(fl, t)) < 0 ||
                SingleValue.compare(SingleValue.deserialize(dl, t), SingleValue.deserialize(fu, t)) > 0
              !disjoint
            } catch { case _: Exception => true } // undeserializable bounds: keep
        }
      }
    def applicableTo(f: PlannedFile): Seq[PlannedFile] = {
      val pk = partKey(f)
      eqDeletes.filter { d =>
        d.dataSeq > f.dataSeq &&
          (p.meta.spec(d.specId).isUnpartitioned || partKey(d) == pk) &&
          eqDeleteMayMatch(d, f)
      }
    }
    // Group data files by their APPLICABLE-DELETE SET, not by raw
    // (sequence, partition): a long append history with many partitions
    // would otherwise explode the plan into one scan subtree per
    // (seq, partition) even though most files share the same (often empty)
    // delete set. Files with identical applicable deletes scan together.
    val groups: Seq[(Seq[PlannedFile], Seq[PlannedFile])] =
      if (eqDeletes.isEmpty) Seq((p.dataFiles, Nil))
      else p.dataFiles.groupBy(f => applicableTo(f).map(_.info.filePath).sorted)
        .toSeq.sortBy(_._1.mkString(","))
        .map { case (_, files) => (files, applicableTo(files.head)) }

    // Equality ids referencing DROPPED columns (reference
    // test_equality_delete_schema_evolution_drop_columns: deletes must keep
    // applying after the column is dropped): resolve the field from the
    // historical schemas and read it from data files privately by field id.
    val histFields: Map[Int, IcebergTypes.NestedField] = {
      val missing = eqDeletes.flatMap(_.info.equalityIds).distinct
        .filterNot(p.schema.idToField.contains)
      missing.map { id =>
        val hf = p.meta.schemas.sortBy(-_.schemaId)
          .flatMap(s => s.fields.find(_.id == id)).headOption
          .getOrElse(throw new IllegalArgumentException(
            s"Equality delete references field id $id, not found top-level in any table schema " +
              "(nested dropped equality-delete fields are not supported)"))
        id -> hf
      }.toMap
    }

    val parts = groups.map { case (files, applicable) =>
      val needHist =
        if (applicable.isEmpty) Map.empty[Int, IcebergTypes.NestedField]
        else histFields.filter { case (id, _) => applicable.exists(_.info.equalityIds.contains(id)) }
      var df = buildScan(spark, p, files, conf, needMeta, needLineage = opts.withRowLineage,
        histFields = needHist.toSeq.sortBy(_._1), posDeletes = posDeletes)
      if (applicable.nonEmpty) {
        df = applyEqualityDeletes(spark, df, applicable, p, needHist)
        // Hidden historical columns must not leak into the union.
        needHist.keys.foreach(id => df = df.drop(s"_g_hist_$id"))
      }
      df
    }
    var df = parts.reduce(_ unionByName _)

    if (opts.withRowLineage) df = addRowLineage(spark, df, p, opts.keepFileMeta)

    opts.filterSql.foreach(f => df = df.where(expr(f)))
    val outCols = sparkSchema.fieldNames.map(col) ++
      (if (opts.withRowLineage) Seq(col("_row_id"), col("_last_updated_sequence_number")) else Nil) ++
      (if (opts.keepFileMeta) Seq(col("_g_path"), col("_g_pos")) else Nil)
    df.select(outCols.toIndexedSeq: _*)
  }

  /** `ORDER BY col LIMIT k` with stats-ordered file selection: only files
    * whose bounds can still contain a top-k row are scanned (reference
    * scan-order pruning src/planning/scan_order/iceberg_scan_order.cpp:16-50,
    * disabled when delete manifests exist, iceberg_multi_file_list.cpp:500-510).
    *
    * Sound selection: the k-th best value is at least `guarantee` = the
    * bound of the file where cumulative record counts (files ordered by
    * their BEST bound) reach k; every file whose best bound beats
    * `guarantee` must be scanned, everything else cannot contribute. */
  def topK(spark: SparkSession, path: String, colName: String, k: Int,
      descending: Boolean = true, opts: ReadOptions = ReadOptions()): DataFrame = {
    ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf, opts.metadataVersion, opts.versionNameFormat)
    val p = planWithMetadata(spark, meta, conf, opts)
    val field = p.schema.fields.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"No column $colName"))
    val order = if (descending) col(colName).desc else col(colName).asc

    def bound(pf: PlannedFile, upper: Boolean): Option[Any] =
      (if (upper) pf.info.upperBounds else pf.info.lowerBounds)
        .get(field.id).map(SingleValue.deserialize(_, field.fieldType))

    val allBounded = p.dataFiles.nonEmpty && p.dataFiles.forall(f => bound(f, descending).isDefined)
    if (p.deleteFiles.nonEmpty || !allBounded || opts.filterSql.isDefined) {
      return loadWithMetadata(spark, meta, conf, opts).orderBy(order).limit(k)
    }
    // Values in the requested order, best first.
    val ord = if (descending) SingleValue.ordering.reverse else SingleValue.ordering
    // Files by best bound (upper for desc, lower for asc), best first.
    val sorted = p.dataFiles.sortBy(bound(_, descending).get)(ord)
    // guarantee = best-k-th value floor from worst-side bounds.
    var acc = 0L
    var guarantee: Option[Any] = None
    val it = sorted.iterator
    while (it.hasNext && acc < k) {
      val f = it.next()
      acc += f.info.recordCount
      guarantee = bound(f, !descending).map(w => guarantee.fold(w)(ord.max(_, w)))
    }
    val selected =
      if (acc < k || guarantee.isEmpty) p.dataFiles
      else sorted.filter(f => ord.lteq(bound(f, descending).get, guarantee.get))
    buildScan(spark, p, selected, conf, needMeta = false).orderBy(order).limit(k)
  }

  /** Build the scan over a set of files: group by needed constant columns
    * (initial-defaults + identity-partition constants for physically-missing
    * columns) and by whether `posDeletes` covers the file, one parquet read
    * per group, patched with literals. Only the reads of covered files carry
    * the delete filter. */
  private def buildScan(spark: SparkSession, p: ScanPlan, files: Seq[PlannedFile],
      conf: Configuration, needMeta: Boolean, needLineage: Boolean = false,
      histFields: Seq[(Int, IcebergTypes.NestedField)] = Nil,
      posDeletes: Option[PositionDeletes] = None): DataFrame = {
    val schema = p.schema
    val sparkSchema = schema.toSpark
    val props = p.meta.properties

    // Fields that can need constants — at any nesting depth for
    // initial-defaults (dotted paths patched via withField).
    val idToPath: Map[Int, Seq[String]] = {
      val b = Map.newBuilder[Int, Seq[String]]
      def walk(t: IcebergType, prefix: Seq[String]): Unit = t match {
        case IcebergTypes.StructT(fs) => fs.foreach { f =>
          b += (f.id -> (prefix :+ f.name)); walk(f.fieldType, prefix :+ f.name)
        }
        case _ =>
      }
      walk(schema.struct, Nil)
      b.result()
    }
    val defaultFields = schema.idToField.values.filter(_.initialDefaultJson.isDefined).toSeq
    // Identity partition sources PER SPEC: under an evolved spec, a column
    // that is identity-partitioned today was an ordinary data column in
    // files written under an older spec — those files carry it physically
    // and must not have it swapped for a (nonexistent) partition constant.
    val identitySourcesBySpec: Map[Int, Map[Int, Int]] = // specId -> (sourceFieldId -> position)
      files.map(_.specId).distinct.map { sid =>
        sid -> p.meta.spec(sid).fields.zipWithIndex.collect {
          case (pf, i) if pf.transform == Transforms.Identity => pf.sourceId -> i
        }.toMap
      }.toMap
    val identitySources: Map[Int, Int] = identitySourcesBySpec.values.flatten.toMap
    val candidateFields = (defaultFields.map(_.id) ++ identitySources.keys).distinct

    // Tables written without materialized partition columns declare it via
    // properties (duckdb: write.parquet.write-partition-values=false,
    // write.data.partition-columns=false) — manifest value_counts still list
    // the field there, so the property wins over the stats signal.
    val partitionValuesWritten =
      props.getOrElse("write.parquet.write-partition-values",
        props.getOrElse("write.data.partition-columns", "true")) != "false"
    def hasField(pf: PlannedFile, fid: Int): Boolean =
      if (identitySourcesBySpec(pf.specId).contains(fid) && !partitionValuesWritten) false
      else fileHasField(pf, fid, conf)

    val groups: Map[(Boolean, Seq[(Int, Any)]), Seq[PlannedFile]] =
      files.groupBy { pf =>
        posDeletes.exists(_.covers(pf)) -> candidateFields.flatMap { fid =>
          if (hasField(pf, fid)) None
          else {
            val f = schema.idToField(fid)
            val const: Any = identitySources.get(fid)
              .flatMap { pos =>
                val spec = p.meta.spec(pf.specId)
                spec.fields.zipWithIndex.find { case (sf, _) => sf.sourceId == fid && sf.transform == Transforms.Identity }
                  .map { case (_, i) => Pruning.convertPartitionValue(pf.info.partitionValues.lift(i).orNull, f.fieldType) }
              }
              .orElse(defaultValue(f))
              .orNull
            Some(fid -> const)
          }
        }.sortBy(_._1)
      }

    // Optional name mapping for files without parquet field ids
    // (`schema.name-mapping.default`; reference
    // iceberg_table_metadata.cpp:443-459, applied per file at
    // iceberg_multi_file_reader.cpp:203-238).
    val nameMapping: Option[Map[Int, String]] = props.get("schema.name-mapping.default").map { json =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val it = node.elements()
      val b = Map.newBuilder[Int, String]
      while (it.hasNext) {
        val e = it.next()
        val names = e.get("names")
        if (names != null && names.size() > 0)
          b += (e.get("field-id").asInt() -> names.get(0).asText())
      }
      b.result()
    }

    val uuidToString = udf((b: Array[Byte]) => {
      if (b == null || b.length != 16) null
      else {
        val bb = java.nio.ByteBuffer.wrap(b)
        new java.util.UUID(bb.getLong, bb.getLong).toString
      }
    })

    /** Physical Spark type to request from parquet for a field (uuid is
      * stored as fixed[16] -> read binary, convert after) — applied
      * recursively so uuid/fixed INSIDE structs read correctly too. */
    def physType(t: IcebergType): DataType = t match {
      case IcebergTypes.UuidT => BinaryType
      case IcebergTypes.StructT(fs) =>
        StructType(fs.map(f => StructField(f.name, physType(f.fieldType), nullable = true, fieldMeta(f.id))))
      case IcebergTypes.ListT(_, el, req) => ArrayType(physType(el), containsNull = !req)
      case IcebergTypes.MapT(_, k, _, v, req) => MapType(physType(k), physType(v), valueContainsNull = !req)
      case other => other.toSpark
    }
    /** Dotted paths (through structs) of every uuid field under `t`; uuid
      * inside list/map elements stays 16-byte binary (documented gap). */
    def uuidPaths(t: IcebergType, prefix: Seq[String]): Seq[Seq[String]] = t match {
      case IcebergTypes.UuidT => Seq(prefix)
      case IcebergTypes.StructT(fs) => fs.flatMap(f => uuidPaths(f.fieldType, prefix :+ f.name))
      case _ => Nil
    }
    def postConvert(df: DataFrame, f: IcebergTypes.NestedField): DataFrame =
      uuidPaths(f.fieldType, Seq(f.name)).foldLeft(df) { (d, path) =>
        path match {
          case Seq(top) => d.withColumn(top, uuidToString(col(top)))
          case p => d.withColumn(p.head,
            col(p.head).withField(p.tail.mkString("."), uuidToString(col(p.mkString(".")))))
        }
      }

    val dfs = groups.toSeq.flatMap { case ((deleted, missing), gfiles) =>
      def read(fields: Seq[StructField], paths: Seq[String]): DataFrame = {
        val df = spark.read.schema(StructType(fields)).parquet(paths: _*)
        if (deleted) df.where(posDeletes.get.keepColumn) else df
      }
      val missingIds = missing.map(_._1).toSet
      // Top-level missing fields are excluded from the request and patched
      // as literals; nested missing fields stay requested (ignoreMissing
      // yields null) and are patched with withField.
      val readFields = schema.fields.filter(f => !missingIds.contains(f.id))

      // Files without field ids go through the name-mapping projection;
      // everything else reads by field id.
      val (mappedFiles, idFiles) = nameMapping match {
        case Some(_) => gfiles.partition(pf => footerFieldIds(pf.resolvedPath, conf).isEmpty)
        case None => (Nil, gfiles)
      }

      def finish(df0: DataFrame): DataFrame = {
        var df = df0
        if (needMeta)
          df = df.select(col("*"), col("_metadata.file_path").as("_g_path"), col("_metadata.row_index").as("_g_pos"))
        readFields.foreach(f => df = postConvert(df, f))
        missing.foreach { case (fid, const) =>
          val f = schema.idToField(fid)
          val v = lit(SingleValue.toSparkValue(const, f.fieldType)).cast(f.fieldType.toSpark)
          idToPath.getOrElse(fid, Seq(f.name)) match {
            case Seq(top) => df = df.withColumn(top, v)
            case path => // nested default: fill inside the struct, keep null
              // parents null (withField is a no-op on a null struct).
              df = df.withColumn(path.head, col(path.head).withField(path.tail.mkString("."), v))
          }
        }
        // Re-attach the table schema's column metadata (field ids plus the
        // iceberg.type/crs intent markers for time/geometry surfaces) —
        // the physical read + withColumn fills above don't carry it.
        val cols = sparkSchema.fields.map(sf => col(sf.name).as(sf.name, sf.metadata)).toSeq ++
          histFields.map { case (id, _) => col(s"_g_hist_$id") } ++
          (if (needLineage) Seq(col("_g_mat_row_id"), col("_g_mat_seq")) else Nil) ++
          (if (needMeta) Seq(col("_g_path"), col("_g_pos")) else Nil)
        df.select(cols.toIndexedSeq: _*)
      }

      val idDF = if (idFiles.nonEmpty) {
        val fields = readFields.map { f =>
          StructField(f.name, physType(f.fieldType), nullable = true, fieldMeta(f.id))
        } ++ histFields.map { case (id, hf) =>
          // Dropped equality-delete column, read privately by field id
          // under a collision-proof name.
          StructField(s"_g_hist_$id", physType(hf.fieldType), nullable = true, fieldMeta(id))
        } ++ (if (needLineage) Seq(
          // Materialized v3 lineage columns, matched by reserved field id;
          // null (ignoreMissing) for files written without them.
          StructField("_g_mat_row_id", LongType, nullable = true, fieldMeta(RowIdFieldId)),
          StructField("_g_mat_seq", LongType, nullable = true, fieldMeta(LastUpdatedSeqFieldId))) else Nil)
        Some(finish(read(fields, idFiles.map(_.resolvedPath))))
      } else None

      val mappedDF = if (mappedFiles.nonEmpty) {
        require(histFields.isEmpty,
          "equality deletes on dropped columns are not supported for files resolved via name mapping")
        val mapping = nameMapping.get
        val (inMapping, unmapped) = readFields.partition(f => mapping.contains(f.id))
        val fields = inMapping.map(f => StructField(mapping(f.id), physType(f.fieldType), nullable = true))
        var df = read(fields, mappedFiles.map(_.resolvedPath))
        inMapping.foreach(f => df = df.withColumnRenamed(mapping(f.id), f.name))
        // Fields absent from the mapping are null even if a same-named
        // column physically exists (name_mapping fixture semantics).
        unmapped.foreach(f => df = df.withColumn(f.name, lit(null).cast(physType(f.fieldType))))
        if (needLineage) {
          df = df.withColumn("_g_mat_row_id", lit(null).cast(LongType))
            .withColumn("_g_mat_seq", lit(null).cast(LongType))
        }
        Some(finish(df))
      } else None

      idDF.toSeq ++ mappedDF.toSeq
    }
    dfs.reduce(_ unionByName _)
  }

  private def normPath(c: Column): Column = regexp_replace(c, "^file:/+", "/")

  private def applyEqualityDeletes(spark: SparkSession, scan: DataFrame,
      eqDeletes: Seq[PlannedFile], p: ScanPlan,
      histFields: Map[Int, IcebergTypes.NestedField] = Map.empty): DataFrame = {
    // Field-id -> chain of NestedFields from the root: equality ids may
    // reference NESTED struct leaves (reference
    // test_equality_delete_struct_field.test), in which case the delete
    // parquet mirrors the table's struct shape down to the referenced leaf
    // and matching compares the leaf path, not a top-level column.
    val chains: Map[Int, Seq[IcebergTypes.NestedField]] = {
      val b = Map.newBuilder[Int, Seq[IcebergTypes.NestedField]]
      def walk(t: IcebergType, prefix: Seq[IcebergTypes.NestedField]): Unit = t match {
        case IcebergTypes.StructT(fs) =>
          fs.foreach { f => b += (f.id -> (prefix :+ f)); walk(f.fieldType, prefix :+ f) }
        case _ =>
      }
      walk(p.schema.struct, Nil)
      b.result()
    }
    // Merge the chains of one delete group into a single nested read schema
    // (per-level parquet field-id metadata so id-based matching works at
    // every depth).
    def buildStruct(cs: Seq[Seq[IcebergTypes.NestedField]]): StructType = {
      val byHead = cs.filter(_.nonEmpty).groupBy(_.head.id)
      StructType(byHead.toSeq.sortBy(_._1).map { case (_, group) =>
        val head = group.head.head
        val tails = group.map(_.tail).filter(_.nonEmpty)
        val dt = if (tails.isEmpty) head.fieldType.toSpark else buildStruct(tails)
        StructField(head.name, dt, nullable = true, fieldMeta(head.id))
      })
    }
    // Group by equality-id set; anti-join each with null-safe equality
    // (null-safe <=> matches the reference's IS NOT DISTINCT FROM semantics).
    eqDeletes.groupBy(_.info.equalityIds).foldLeft(scan) { case (df, (eqIds, files)) =>
      // Current-schema ids resolve through struct chains; dropped ids read
      // from the hidden `_g_hist_<id>` columns buildScan added.
      val (histIds, curIds) = eqIds.partition(histFields.contains)
      val idChains = curIds.map(id => chains.getOrElse(id,
        throw new IllegalArgumentException(s"Equality delete references unknown field id $id")))
      val paths = idChains.map(_.map(_.name).mkString(".")) ++
        histIds.map(id => s"_g_hist_$id")
      val orderedIds = curIds ++ histIds
      val flatNames = orderedIds.map(id => s"_eq_$id")
      val delSchema = StructType(buildStruct(idChains).fields ++ histIds.map { id =>
        StructField(s"_g_hist_$id", histFields(id).fieldType.toSpark, nullable = true, fieldMeta(id))
      })
      val delProj = idChains.map(_.map(_.name).mkString(".")).zip(curIds.map(id => s"_eq_$id")) ++
        histIds.map(id => s"_g_hist_$id" -> s"_eq_$id")
      IcebergRead.deleteFileReads.addAndGet(files.size.toLong)
      val dels = spark.read.schema(delSchema)
        .parquet(files.map(_.resolvedPath): _*)
        .select(delProj.map { case (pth, fn) => col(pth).as(fn) }.toIndexedSeq: _*)
        .dropDuplicates(flatNames)
      val totalRows = files.map(_.info.recordCount).sum
      val rhs = if (totalRows < 20000000L) broadcast(dels) else dels
      val cond = paths.zip(flatNames).map { case (pth, fn) => df(pth) <=> rhs(fn) }.reduce(_ && _)
      df.join(rhs, cond, "left_anti")
    }
  }

  /** v3 row lineage: a MATERIALIZED _row_id / _last_updated_sequence_number
    * column (written by rewrites/updates to preserve ids) wins; otherwise
    * _row_id = file first_row_id + position and _last_updated = the file's
    * data sequence (reference iceberg_multi_file_reader.cpp:604-713 builds
    * the same COALESCE). */
  private def addRowLineage(spark: SparkSession, scan: DataFrame, p: ScanPlan,
      keepMeta: Boolean): DataFrame = {
    import spark.implicits._
    val fileInfo = p.dataFiles.map(f =>
      (f.resolvedPath, f.firstRowId.getOrElse(-1L), f.dataSeq)).toDF("_l_path", "_l_first", "_l_seq")
    val out = scan.join(broadcast(fileInfo), normPath(scan("_g_path")) === normPath(col("_l_path")), "left")
      .withColumn("_row_id", coalesce(col("_g_mat_row_id"),
        when(col("_l_first") >= 0, col("_l_first") + col("_g_pos"))))
      .withColumn("_last_updated_sequence_number", coalesce(col("_g_mat_seq"), col("_l_seq")))
      .drop("_l_path", "_l_first", "_l_seq", "_g_mat_row_id", "_g_mat_seq")
    if (keepMeta) out else out.drop("_g_path", "_g_pos")
  }
}

/** Hadoop Configuration isn't Serializable; standard wrapper. */
class SerializableHadoopConf(@transient var conf: Configuration) extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
