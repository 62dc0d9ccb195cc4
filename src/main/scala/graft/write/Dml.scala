package graft.write

import graft.core._
import graft.manifest._
import graft.read.{IcebergRead, PlannedFile, ReadOptions, SerializableHadoopConf}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.UUID

/**
 * Row-level DML: merge-on-read DELETE, UPDATE (delete + insert in one
 * OVERWRITE snapshot), MERGE INTO (join-based), CTAS, and
 * rewrite_data_files compaction.
 *
 * (reference: src/execution/operator/iceberg_delete.cpp:34-298 MoR delete
 * writing positional-delete parquet; iceberg_update.cpp:46-245 delete+insert
 * single snapshot; merge_into/iceberg_merge_into.cpp:134-295 full
 * WHEN MATCHED/NOT MATCHED semantics; iceberg_insert.cpp:871-986 CTAS;
 * src/maintenance/rewrite_data_files_planner.cpp:45-150 compaction.)
 *
 * Scale notes: matched row positions flow executor-side from the scan's
 * `_metadata` columns into a partitioned parquet write of delete files —
 * the driver never collects row positions. The join in MERGE is a plain
 * Spark join (broadcast if the source is small, shuffle otherwise).
 */
object Dml {
  private val PosDeletePathFieldId = DataFileInfo.PosDeletePathFieldId
  private val PosDeletePosFieldId = 2147483545

  private def fieldMeta(id: Int): Metadata =
    new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()

  /** Pseudo-schema for positional delete files — gives FooterStats the
    * field-id keys so file_path bounds land in the manifest (powers the
    * reference's 365->1 delete-file pruning). */
  private val deleteFileSchema = IcebergSchema(0, IcebergTypes.StructT(Seq(
    IcebergTypes.NestedField(PosDeletePathFieldId, "file_path", required = true, IcebergTypes.StringT),
    IcebergTypes.NestedField(PosDeletePosFieldId, "pos", required = true, IcebergTypes.LongT))))

  private def normPath(c: Column): Column = regexp_replace(c, "^file:/+", "/")

  /** Write positional-delete parquet files for the matched row positions and
    * return their manifest entries. `matched` must have `_g_path`/`_g_pos`. */
  private def writePositionDeletes(spark: SparkSession, meta: TableMetadata,
      matched: DataFrame): Seq[ManifestEntry] = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val p = IcebergRead.planWithMetadata(spark, meta, conf, ReadOptions())
    // Partition index: assign each distinct partition tuple of TARGET data
    // files a stable integer key; delete files inherit the target partition.
    val partTuples = p.dataFiles.map(f => f.info.partitionValues).distinct.zipWithIndex.toMap
    val fileInfo = p.dataFiles.map { f =>
      (normStr(f.resolvedPath), f.recordedPath, partTuples(f.info.partitionValues))
    }.toDF("_m_path", "_m_recorded", "_m_pk")

    val staging = s"${meta.location}/data/${UUID.randomUUID().toString}-deletes"
    val dels = matched
      .select(normPath(col("_g_path")).as("_j_path"), col("_g_pos").as("pos"))
      .join(broadcast(fileInfo), col("_j_path") === col("_m_path"))
      .select(col("_m_recorded").as("file_path", fieldMeta(PosDeletePathFieldId)),
        col("pos").cast("long").as("pos", fieldMeta(PosDeletePosFieldId)),
        col("_m_pk").as("_pk"))
    writeDeleteRows(spark, meta, dels, staging, partTuples.map(_.swap))
  }

  /** Stage `dels` (file_path, pos, _pk) as sorted positional-delete parquet
    * files, one per referenced partition, and return their manifest
    * entries. */
  private def writeDeleteRows(spark: SparkSession, meta: TableMetadata,
      dels: DataFrame, staging: String,
      indexToTuple: Map[Int, Seq[Any]]): Seq[ManifestEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    dels.repartition(col("_pk")).sortWithinPartitions("file_path", "pos")
      .write.partitionBy("_pk").parquet(staging)

    val fsys = TableMetadata.fs(staging, conf)
    val files = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      val it = fsys.listFiles(new Path(staging), true)
      while (it.hasNext) { val st = it.next(); if (st.getPath.getName.endsWith(".parquet")) out += st }
      out.result()
    }
    files.map { st =>
      val rel = st.getPath.toString
      val pkSeg = rel.split("/").find(_.startsWith("_pk=")).map(_.stripPrefix("_pk=").toInt)
        .getOrElse(throw new IllegalStateException(s"No _pk dir in $rel"))
      // file_path bounds stay FULL (never truncated): delete-file ↔
      // data-file matching keys on them, and data-file paths share long
      // directory prefixes — a 16-byte truncation would make every delete
      // file "match" every data file (Iceberg keeps position-delete path
      // bounds exact for the same reason).
      val stats = FooterStats.read(st.getPath, conf, deleteFileSchema,
        MetricsSpec(MetricsMode.Truncate(16), Map("file_path" -> MetricsMode.Full)))
      ManifestEntry(EntryStatus.Added, None, None, None, DataFileInfo(
        content = FileContent.PositionDeletes,
        filePath = st.getPath.toString,
        fileFormat = "parquet",
        partitionValues = indexToTuple(pkSeg),
        recordCount = stats.recordCount,
        fileSizeInBytes = st.getLen,
        columnSizes = stats.columnSizes,
        valueCounts = stats.valueCounts,
        nullValueCounts = stats.nullCounts,
        nanValueCounts = Map.empty,
        lowerBounds = stats.lowerBounds,
        upperBounds = stats.upperBounds,
        splitOffsets = stats.splitOffsets,
        equalityIds = Nil,
        sortOrderId = None))
    }
  }

  private def normStr(s: String): String = s.replaceFirst("^file:/+", "/")

  /** Where a row-level DML statement loads table metadata from and how its
    * one snapshot commits. Path tables commit by atomic metadata-file
    * rename; REST-named tables commit through the catalog's assert-ref +
    * add-snapshot transaction ([[graft.catalog.RestCatalog.tableOps]]).
    * Single-attempt on conflict: re-staging a row-level operation means
    * re-computing its matched rows, so the retry belongs to the caller. */
  trait TableOps {
    def load(conf: Configuration): TableMetadata
    def commit(meta: TableMetadata, addedData: Seq[ManifestEntry],
        addedDeletes: Seq[ManifestEntry], operation: String, conf: Configuration,
        removedDataPaths: Set[String] = Set.empty,
        removedDvRefs: Set[String] = Set.empty,
        preassignedSnapshotId: Option[Long] = None,
        deleteSpec: Option[PartitionSpec] = None): TableMetadata
  }

  /** The default: a directly-addressed table path (or metadata.json). */
  case class PathOps(path: String) extends TableOps {
    def load(conf: Configuration): TableMetadata = TableMetadata.load(path, conf)
    def commit(meta: TableMetadata, addedData: Seq[ManifestEntry],
        addedDeletes: Seq[ManifestEntry], operation: String, conf: Configuration,
        removedDataPaths: Set[String], removedDvRefs: Set[String],
        preassignedSnapshotId: Option[Long],
        deleteSpec: Option[PartitionSpec]): TableMetadata =
      IcebergWrite.commitSnapshot(meta, addedData, addedDeletes, operation, conf,
        removedDataPaths = removedDataPaths,
        removedDvRefs = removedDvRefs, preassignedSnapshotId = preassignedSnapshotId,
        deleteSpec = deleteSpec)
  }

  /** DELETE FROM table WHERE cond — merge-on-read. v2 tables write
    * positional-delete parquet; v3 tables write Puffin deletion vectors
    * (reference iceberg_delete.cpp:165-208 DV write, 210-298 positional). */
  def delete(spark: SparkSession, path: String, condSql: String): TableMetadata =
    delete(spark, PathOps(path), condSql)

  /** Session gate mirroring the reference's testing-only
    * `...enable_equality_deletes` setting: when true, DELETEs whose
    * predicate is a pure equality form on a v2 unpartitioned table write an
    * EQUALITY delete file instead of positional deletes (reference
    * equality_delete_helpers.cpp TryGetEqualityDeletePredicates). */
  val EnableEqualityDeleteWrites = "graft.enableEqualityDeleteWrites"

  /** Parse a DELETE predicate into equality-delete key rows, or None when
    * the shape disqualifies (reference equality_delete_helpers.cpp
    * ExpressionIsEqualityDeleteForm + TryGetEqualityDeleteValuesFromExpression):
    * accepted per-column forms are `col = const`, `col IN (const,...)`,
    * `col IS NULL` and OR-combinations of those on ONE column; AND combines
    * distinct columns; the delete rows are the cross product of the
    * per-column value sets, capped at 4096 rows (reference
    * MAX_EQUALITY_DELETE_ROWS — larger deletes fall back to positional).
    * NULL constants in `=`/`IN` are dropped (those predicates never match
    * NULL); only IS NULL contributes a NULL key. */
  private[graft] def equalityDeleteKeys(spark: SparkSession, schema: IcebergSchema,
      condSql: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val parsed = try spark.sessionState.sqlParser.parseExpression(condSql)
      catch { case _: Exception => return None }
    def colName(e: ce.Expression): Option[String] = e match {
      // Top-level columns only: graft's equality-delete writer keys on
      // top-level names (nested-path routing unsupported; falls back).
      case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.nameParts.head)
      case _ => None
    }
    // One column's disjunctive value set; literals kept as Catalyst Literals
    // (rendered via .sql below so typing survives the round trip).
    def extract(e: ce.Expression): Option[(String, Seq[ce.Literal])] = e match {
      case ce.EqualTo(c, l: ce.Literal) =>
        colName(c).map(n => (n, if (l.value == null) Nil else Seq(l)))
      case ce.EqualTo(l: ce.Literal, c) =>
        colName(c).map(n => (n, if (l.value == null) Nil else Seq(l)))
      case ce.In(c, list) if list.nonEmpty && list.forall(_.isInstanceOf[ce.Literal]) =>
        colName(c).map(n => (n, list.collect { case l: ce.Literal if l.value != null => l }))
      case ce.IsNull(c) =>
        colName(c).map(n => (n, Seq(ce.Literal(null, org.apache.spark.sql.types.NullType))))
      case ce.Or(a, b) =>
        (extract(a), extract(b)) match {
          case (Some((ca, va)), Some((cb, vb))) if ca == cb => Some((ca, va ++ vb))
          case _ => None
        }
      case _ => None
    }
    def extractAll(e: ce.Expression): Option[Seq[(String, Seq[ce.Literal])]] = e match {
      case ce.And(a, b) => for { xa <- extractAll(a); xb <- extractAll(b) } yield xa ++ xb
      case other => extract(other).map(Seq(_))
    }
    extractAll(parsed).flatMap { cols =>
      val names = cols.map(_._1)
      val valid = names.distinct.size == names.size && // same column twice: not clean
        cols.forall(_._2.nonEmpty) && // e.g. `col IN (NULL)` deletes nothing via equality
        names.forall(n => schema.fields.exists(_.name == n)) &&
        cols.map(_._2.size.toLong).product <= 4096L
      if (!valid) None
      else {
        // Cross product of per-column value sets as a VALUES relation.
        val rows = cols.map(_._2).foldLeft(Seq(Seq.empty[ce.Literal])) {
          (acc, vs) => acc.flatMap(r => vs.map(v => r :+ v))
        }
        val valuesSql = rows.map(r => r.map(_.sql).mkString("(", ", ", ")")).mkString(", ")
        val colList = names.map(n => s"`$n`").mkString(", ")
        Some(spark.sql(s"SELECT * FROM VALUES $valuesSql AS t($colList)"))
      }
    }
  }

  def delete(spark: SparkSession, ops: TableOps, condSql: String): TableMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ops.load(conf)
    // Equality-delete routing (opt-in; v2 + unpartitioned-latest-spec only,
    // like the reference): a pure-equality predicate writes one small
    // equality-delete file instead of scanning the table for positions.
    if (spark.conf.getOption(EnableEqualityDeleteWrites).contains("true") &&
        meta.formatVersion == 2 && meta.defaultSpec.fields.isEmpty) {
      equalityDeleteKeys(spark, meta.currentSchema, condSql) match {
        case Some(keys) => return deleteEquality(spark, ops, keys)
        case None => // fall through to positional deletes
      }
    }
    // DELETE WHERE _row_id = ... (reference deletes by lineage id in its v3
    // tests): expose the lineage columns only when the predicate needs them.
    val needLineage = meta.formatVersion >= 3 &&
      (condSql.contains("_row_id") || condSql.contains("_last_updated_sequence_number"))
    val matched = IcebergRead.loadWithMetadata(spark, meta, conf,
      ReadOptions(filterSql = Some(condSql), keepFileMeta = true, withRowLineage = needLineage))
      .select("_g_path", "_g_pos")
    val rd = writeRowDeletes(spark, meta, matched)
    if (rd.entries.isEmpty) meta
    else ops.commit(meta, Nil, rd.entries, "delete", conf,
      removedDvRefs = rd.removedDvRefs, preassignedSnapshotId = rd.snapshotId)
  }

  /** DELETE by an arbitrary matched-row set: `matched` carries the
    * `_g_path`/`_g_pos` file-position columns of the rows to remove (from a
    * keepFileMeta scan) — the lowering target for subquery DELETE
    * predicates, which filter pushdown cannot express. */
  def deleteMatched(spark: SparkSession, ops: TableOps, matched: DataFrame): TableMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ops.load(conf)
    val rd = writeRowDeletes(spark, meta, matched.select("_g_path", "_g_pos"))
    if (rd.entries.isEmpty) meta
    else ops.commit(meta, Nil, rd.entries, "delete", conf,
      removedDvRefs = rd.removedDvRefs, preassignedSnapshotId = rd.snapshotId)
  }

  /** Result of writing row-level deletes: manifest entries to add, data-file
    * paths whose previous DV entries are superseded, and the preassigned
    * snapshot id (v3 DV writes stamp it into Puffin blob metadata). */
  private case class RowDeletes(entries: Seq[ManifestEntry],
      removedDvRefs: Set[String], snapshotId: Option[Long])

  /** Format-dispatch for matched-row deletes: v3 tables must use deletion
    * vectors (position-delete parquet is forbidden in v3 — spec + reference
    * iceberg_update.cpp:552); v2 writes positional-delete parquet. */
  private def writeRowDeletes(spark: SparkSession, meta: TableMetadata,
      matched: DataFrame): RowDeletes =
    if (meta.formatVersion >= 3) writeDeletionVectors(spark, meta, matched)
    else RowDeletes(writePositionDeletes(spark, meta, matched), Set.empty, None)

  /** v3 deletion vectors: one roaring bitmap per affected data file, built
    * AND written on executors — each (partition, salt) group writes its own
    * Puffin file in `flatMapGroups`; only blob descriptors travel to the
    * driver. A file that already has a live DV gets the old bitmap OR-ed in
    * and the old entry superseded (one-DV-per-file invariant, reference
    * iceberg_delete.cpp:334-341 PopulateAlteredManifests). */
  private def writeDeletionVectors(spark: SparkSession, meta: TableMetadata,
      matched: DataFrame): RowDeletes = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val p = IcebergRead.planWithMetadata(spark, meta, conf, ReadOptions())
    val partTuples = p.dataFiles.map(f => f.info.partitionValues).distinct.zipWithIndex.toMap
    val fileInfo = p.dataFiles.map { f =>
      (normStr(f.resolvedPath), f.recordedPath, partTuples(f.info.partitionValues))
    }.toDF("_m_path", "_m_recorded", "_m_pk")
    // Existing live DVs by referenced data file (the invariant below keeps
    // this at most one per file): merged into any new DV for the same file.
    val existingDv: Map[String, (String, Long, Long)] = p.deleteFiles
      .filter(d => d.info.content == FileContent.PositionDeletes && d.info.contentOffset.isDefined)
      .flatMap(d => d.info.referencedDataFile.map(ref =>
        ref -> (d.resolvedPath, d.info.contentOffset.get, d.info.contentSizeInBytes.getOrElse(0L))))
      .toMap
    val snapId = IcebergWrite.newSnapshotId()
    val seq = meta.lastSequenceNumber + 1
    val location = meta.location
    val serConf = new SerializableHadoopConf(conf)

    val rows = matched
      .select(normPath(col("_g_path")).as("_j_path"), col("_g_pos").cast("long").as("pos"))
      .join(broadcast(fileInfo), col("_j_path") === col("_m_path"))
      .select(col("_m_recorded").as("recorded"), col("pos"), col("_m_pk").as("pk"))
      .as[(String, Long, Int)]
    // (puffinPath, fileLen, ref, offset, blobLen, cardinality, pk)
    val descs: Seq[(String, Long, String, Long, Long, Long, Int)] = rows
      .groupByKey(r => (r._3, (r._1.hashCode & 0x7fffffff) % 8))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(String, Long, Int)]) =>
        val pk = key._1
        val bitmaps = scala.collection.mutable.LinkedHashMap[String, org.roaringbitmap.longlong.Roaring64NavigableMap]()
        it.foreach { case (recorded, pos, _) =>
          bitmaps.getOrElseUpdate(recorded, new org.roaringbitmap.longlong.Roaring64NavigableMap()).addLong(pos)
        }
        val dvs = bitmaps.toSeq.map { case (recorded, bm) =>
          existingDv.get(recorded).foreach { case (dvPath, off, len) =>
            bm.or(graft.read.Puffin.decodeDeletionVectorBitmap(dvPath, serConf.value, off, len))
          }
          bm.runOptimize()
          val baos = new java.io.ByteArrayOutputStream()
          bm.serializePortable(new java.io.DataOutputStream(baos))
          (recorded, baos.toByteArray, bm.getLongCardinality)
        }
        val puffinPath = s"$location/data/${UUID.randomUUID().toString}-deletes.puffin"
        val blobs = graft.read.Puffin.writeDeletionVectors(puffinPath, serConf.value, dvs, snapId, seq)
        val fileLen = TableMetadata.fs(puffinPath, serConf.value)
          .getFileStatus(new Path(puffinPath)).getLen
        blobs.map(b => (puffinPath, fileLen, b.referencedDataFile, b.offset, b.length, b.cardinality, pk)).iterator
      }.collect().toSeq
    if (descs.isEmpty) return RowDeletes(Nil, Set.empty, None)
    val indexToTuple = partTuples.map(_.swap)
    val entries = descs.map { case (puffinPath, fileLen, ref, off, len, card, pk) =>
      ManifestEntry(EntryStatus.Added, None, None, None, DataFileInfo(
        content = FileContent.PositionDeletes,
        filePath = puffinPath,
        fileFormat = "puffin",
        partitionValues = indexToTuple(pk),
        recordCount = card,
        fileSizeInBytes = fileLen,
        columnSizes = Map.empty, valueCounts = Map.empty,
        nullValueCounts = Map.empty, nanValueCounts = Map.empty,
        lowerBounds = Map.empty, upperBounds = Map.empty,
        splitOffsets = Nil, equalityIds = Nil, sortOrderId = None,
        referencedDataFile = Some(ref),
        contentOffset = Some(off),
        contentSizeInBytes = Some(len)))
    }
    val superseded = existingDv.keySet.intersect(descs.map(_._3).toSet)
    RowDeletes(entries, superseded, Some(snapId))
  }

  /** Equality-delete write: delete every row whose key columns match a row
    * of `keys` (reference equality_delete_helpers.cpp:41-80 — the
    * pure-equality-conjunction WHERE path). Global equality deletes must be
    * written under an UNPARTITIONED spec (an all-null tuple under a
    * partitioned spec would mean "the null partition", not "every
    * partition") — the spec id is added to table metadata if absent. */
  def deleteEquality(spark: SparkSession, path: String, keys: DataFrame): TableMetadata =
    deleteEquality(spark, PathOps(path), keys)

  def deleteEquality(spark: SparkSession, ops: TableOps, keys: DataFrame): TableMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    val meta0 = ops.load(conf)
    val (meta, eqSpec) = meta0.specs.find(_.fields.isEmpty) match {
      case Some(s) => (meta0, s)
      case None =>
        val s = PartitionSpec(meta0.specs.map(_.specId).max + 1, Nil)
        (meta0.copy(specs = meta0.specs :+ s), s)
    }
    val schema = meta.currentSchema
    val eqFields = keys.schema.fieldNames.toSeq.map { n =>
      schema.findField(n)
        .getOrElse(throw new IllegalArgumentException(s"Unknown delete key column $n"))
    }
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val staging = s"${meta.location}/data/${UUID.randomUUID().toString}-eqdel"
    val out = keys.select(eqFields.map(f =>
      col(f.name).cast(f.fieldType.toSpark).as(f.name, fieldMeta(f.id))).toIndexedSeq: _*)
      .dropDuplicates(eqFields.map(_.name))
    // One job, no pre-count: maxRecordsPerFile caps each output file at ~1M
    // keys so a billion-id GDPR purge fans out across files, while AQE
    // coalesces the dropDuplicates shuffle for typical small key sets
    // (1-few files). Registration below handles either shape.
    out.write.option("maxRecordsPerFile", 1L << 20).parquet(staging)
    // NaN counts for float/double keys: parquet footers don't carry them,
    // and read-side bounds pruning of this delete file requires a KNOWN-ZERO
    // NaN count (bounds exclude NaNs — reference writes nan_value_count=0,
    // test_equality_delete_float_data_file_pruning.test). One small
    // aggregate over the key set: if a float key column is NaN-free, every
    // staged file's NaN count is 0; otherwise leave it unknown (conservative
    // — pruning stays off, deletes still apply).
    val floatFields = eqFields.filter(f => f.fieldType match {
      case IcebergTypes.FloatT | IcebergTypes.DoubleT => true; case _ => false
    })
    val nanFree: Set[Int] =
      if (floatFields.isEmpty) Set.empty
      else {
        val counts = out.select(floatFields.map(f =>
          sum(when(isnan(col(f.name)), 1L).otherwise(0L)).as(f.name)).toIndexedSeq: _*).head()
        floatFields.zipWithIndex.collect {
          case (f, i) if !counts.isNullAt(i) && counts.getLong(i) == 0L => f.id
        }.toSet
      }
    val fsys = TableMetadata.fs(staging, conf)
    val pseudoSchema = IcebergSchema(0, IcebergTypes.StructT(eqFields))
    val files = {
      val b = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      val it = fsys.listFiles(new Path(staging), true)
      while (it.hasNext) { val st = it.next(); if (st.getPath.getName.endsWith(".parquet")) b += st }
      b.result()
    }
    val entries = files.map { st =>
      val stats = FooterStats.read(st.getPath, conf, pseudoSchema)
      ManifestEntry(EntryStatus.Added, None, None, None, DataFileInfo(
        content = FileContent.EqualityDeletes,
        filePath = st.getPath.toString,
        fileFormat = "parquet",
        partitionValues = Nil,
        recordCount = stats.recordCount,
        fileSizeInBytes = st.getLen,
        columnSizes = stats.columnSizes,
        valueCounts = stats.valueCounts,
        nullValueCounts = stats.nullCounts,
        nanValueCounts = nanFree.map(_ -> 0L).toMap,
        lowerBounds = stats.lowerBounds,
        upperBounds = stats.upperBounds,
        splitOffsets = stats.splitOffsets,
        equalityIds = eqFields.map(_.id),
        sortOrderId = None))
    }
    if (entries.isEmpty) meta
    else ops.commit(meta, Nil, entries, "delete", conf, deleteSpec = Some(eqSpec))
  }

  /** UPDATE table SET col=expr... WHERE cond — MoR delete + re-insert of
    * updated rows, one OVERWRITE snapshot. On v3 tables the re-inserted
    * rows materialize their original _row_id (spec: row ids survive
    * updates; _last_updated inherits the new commit's sequence). */
  def update(spark: SparkSession, path: String, condSql: String,
      set: Map[String, String]): TableMetadata =
    update(spark, PathOps(path), condSql, set)

  def update(spark: SparkSession, ops: TableOps, condSql: String,
      set: Map[String, String]): TableMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ops.load(conf)
    val schema = meta.currentSchema
    val v3 = meta.formatVersion >= 3
    val matched = IcebergRead.loadWithMetadata(spark, meta, conf,
      ReadOptions(filterSql = Some(condSql), keepFileMeta = true, withRowLineage = v3)).cache()
    try {
      val rd = writeRowDeletes(spark, meta, matched.select("_g_path", "_g_pos"))
      if (rd.entries.isEmpty) return meta
      val updated = matched.select((schema.fields.map { f =>
        set.get(f.name).map(e => expr(e).cast(f.fieldType.toSpark).as(f.name)).getOrElse(col(f.name))
      } ++ (if (v3) Seq(col("_row_id")) else Nil)).toIndexedSeq: _*)
      val (dataEntries, _) = IcebergWrite.writeDataFiles(updated, meta, conf)
      ops.commit(meta, dataEntries, rd.entries, "overwrite", conf,
        removedDvRefs = rd.removedDvRefs, preassignedSnapshotId = rd.snapshotId)
    } finally matched.unpersist()
  }

  /** UPDATE by an arbitrary matched-row set (subquery predicates): the
    * caller supplies the FULL matched rows incl. `_g_path`/`_g_pos` (and
    * `_row_id` on v3) from a keepFileMeta scan; `set` applies as in
    * [[update]]. */
  def updateMatched(spark: SparkSession, ops: TableOps, matched0: DataFrame,
      set: Map[String, String]): TableMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ops.load(conf)
    val schema = meta.currentSchema
    val v3 = meta.formatVersion >= 3
    val matched = matched0.cache()
    try {
      val rd = writeRowDeletes(spark, meta, matched.select("_g_path", "_g_pos"))
      if (rd.entries.isEmpty) return meta
      val updated = matched.select((schema.fields.map { f =>
        set.get(f.name).map(e => expr(e).cast(f.fieldType.toSpark).as(f.name)).getOrElse(col(f.name))
      } ++ (if (v3) Seq(col("_row_id")) else Nil)).toIndexedSeq: _*)
      val (dataEntries, _) = IcebergWrite.writeDataFiles(updated, meta, conf)
      ops.commit(meta, dataEntries, rd.entries, "overwrite", conf,
        removedDvRefs = rd.removedDvRefs, preassignedSnapshotId = rd.snapshotId)
    } finally matched.unpersist()
  }

  /** One WHEN MATCHED clause: optional condition (SQL over `t.*`/`s.*`),
    * `set` = update assignments, None = DELETE. Clauses apply in order —
    * the FIRST whose condition holds wins; a matched row no clause accepts
    * is left untouched. */
  case class MatchedClause(condSql: Option[String], set: Option[Map[String, String]])
  /** One WHEN NOT MATCHED clause: optional condition (over `s.*`),
    * assignments, or `insertAll` (source columns by name). */
  case class NotMatchedClause(condSql: Option[String],
      ins: Map[String, String] = Map.empty, insertAll: Boolean = false)

  /** MERGE INTO actions. Legacy single-clause fields (`matchedUpdate` /
    * `matchedDelete` / `insert` / `insertAll`) remain supported; the
    * ordered `matchedClauses` / `notMatchedClauses` lists take precedence
    * when non-empty (conditional and multiple WHEN clauses, reference
    * merge_into_multiple_update_delete_actions.test). */
  case class MergeActions(
      matchedUpdate: Option[Map[String, String]] = None,
      matchedDelete: Boolean = false,
      insert: Option[Map[String, String]] = None,
      insertAll: Boolean = false,
      errorOnMultipleMatches: Boolean = true,
      matchedClauses: Seq[MatchedClause] = Nil,
      notMatchedClauses: Seq[NotMatchedClause] = Nil,
      /** WHEN NOT MATCHED BY SOURCE: target rows with no source match;
        * conditions reference `t.*` only. Same clause shape as matched
        * (set = UPDATE, None = DELETE), first-matching wins. */
      notMatchedBySourceClauses: Seq[MatchedClause] = Nil) {
    private[graft] def matchedEff: Seq[MatchedClause] =
      if (matchedClauses.nonEmpty) matchedClauses
      else matchedUpdate.map(s => MatchedClause(None, Some(s))).toSeq ++
        (if (matchedDelete) Seq(MatchedClause(None, None)) else Nil)
    private[graft] def notMatchedEff: Seq[NotMatchedClause] =
      if (notMatchedClauses.nonEmpty) notMatchedClauses
      else if (insertAll) Seq(NotMatchedClause(None, insertAll = true))
      else insert.map(i => NotMatchedClause(None, i)).toSeq
  }

  /** MERGE INTO target t USING source s ON cond — join-based MoR merge
    * producing one OVERWRITE snapshot. */
  def merge(spark: SparkSession, path: String, source: DataFrame, onCond: String,
      actions: MergeActions): TableMetadata =
    merge(spark, PathOps(path), source, onCond, actions)

  /** Target-only deterministic conjuncts of a MERGE ON condition (every
    * attribute qualified with the target alias, no subqueries), rendered
    * with the alias stripped — the file-pruning filter for the target
    * scan. None when no conjunct qualifies. */
  private[graft] def targetOnlyConjuncts(spark: SparkSession, onCond: String,
      alias: String): Option[String] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val parsed = try spark.sessionState.sqlParser.parseExpression(onCond)
      catch { case _: Exception => return None }
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    def targetOnly(e: ce.Expression): Boolean = {
      var sawAttr = false
      var ok = true
      e.foreach {
        case a: UnresolvedAttribute =>
          sawAttr = true
          if (!(a.nameParts.length == 2 && a.nameParts.head.equalsIgnoreCase(alias))) ok = false
        case _: ce.SubqueryExpression => ok = false
        // On an UNRESOLVED tree `deterministic` is meaningless (an
        // UnresolvedFunction like rand() reports deterministic=true), and a
        // nondeterministic conjunct evaluated once below the join and again
        // AT the join would draw twice — filtering out rows that would
        // match. Reject every function call; literal comparisons, IN, IS
        // NULL, and casts (which parse to Cast, not a function) still
        // extract, and those are the pruning-valuable shapes.
        case _: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction => ok = false
        case _ =>
      }
      ok && sawAttr
    }
    val kept = conjuncts(parsed).filter(targetOnly).map { e =>
      e.transform {
        case a: UnresolvedAttribute if a.nameParts.length == 2 &&
            a.nameParts.head.equalsIgnoreCase(alias) =>
          UnresolvedAttribute(a.nameParts.tail)
      }.sql
    }
    if (kept.isEmpty) None else Some(kept.map(p => s"($p)").mkString(" AND "))
  }

  def merge(spark: SparkSession, ops: TableOps, source: DataFrame, onCond: String,
      actions: MergeActions): TableMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ops.load(conf)
    val schema = meta.currentSchema
    val v3 = meta.formatVersion >= 3
    // Target-only literal conjuncts of ON prune the target scan at
    // PLANNING time: a MERGE keyed into k partitions plans O(k) files, not
    // the table (the DML analog of the read-side partition pruning). Sound
    // because any matched target row must satisfy every target-only
    // conjunct — files that cannot contain one hold only untouched rows,
    // which merge-on-read leaves in place. DISABLED when NOT MATCHED BY
    // SOURCE clauses exist: those operate precisely on the rows the filter
    // would hide.
    val targetFilter: Option[String] =
      if (actions.notMatchedBySourceClauses.nonEmpty) None
      else targetOnlyConjuncts(spark, onCond, "t")
    val target = IcebergRead.loadWithMetadata(spark, meta, conf,
      ReadOptions(keepFileMeta = true, withRowLineage = v3, filterSql = targetFilter))

    val t = target.alias("t")
    val s = source.alias("s")
    val joined = t.join(s, expr(onCond), "inner").cache()
    val matchedClauses = actions.matchedEff
    val notMatchedClauses = actions.notMatchedEff
    var nmsCache: Option[DataFrame] = None
    // First-matching-clause-wins: a row is AFFECTED when any clause's
    // condition holds (unconditional clause = always); clause k applies
    // when its condition holds and no earlier clause's did. NULL conditions
    // count as not-held (coalesce false).
    def held(c: Option[String]): Column =
      c.map(sql => coalesce(expr(sql), lit(false))).getOrElse(lit(true))
    def appliesAt[C](clauses: Seq[(Option[String], C)], k: Int): Column =
      clauses.take(k).foldLeft(held(clauses(k)._1))((acc, prev) => acc && !held(prev._1))
    try {
      // WHEN MATCHED ... multiple source matches for one target row is an
      // error (match-once semantics, as PhysicalMergeInto enforces).
      if (actions.errorOnMultipleMatches && matchedClauses.nonEmpty) {
        val dup = joined.groupBy(col("t._g_path"), col("t._g_pos")).count().filter(col("count") > 1).limit(1).count()
        require(dup == 0, "MERGE: a target row matched multiple source rows")
      }
      val mPairs = matchedClauses.map(c => (c.condSql, c))
      // WHEN NOT MATCHED BY SOURCE operates on target rows with no source
      // match — the target-side anti-join, same clause mechanics.
      val nmsClauses = actions.notMatchedBySourceClauses
      val nmsPairs = nmsClauses.map(c => (c.condSql, c))
      val nmsRows: Option[DataFrame] =
        if (nmsClauses.isEmpty) None
        else Some(t.join(s, expr(onCond), "left_anti").cache())
      nmsCache = nmsRows
      def affectedOf(df: DataFrame, clauses: Seq[MatchedClause]): DataFrame =
        df.filter(clauses.map(c => held(c.condSql)).reduce(_ || _))
          .select(col("t._g_path").as("_g_path"), col("t._g_pos").as("_g_pos"))
      val deletePositions: Seq[DataFrame] =
        (if (matchedClauses.nonEmpty) Seq(affectedOf(joined, matchedClauses)) else Nil) ++
          nmsRows.map(df => affectedOf(df, nmsClauses)).toSeq
      val rd = deletePositions.reduceOption(_ unionByName _) match {
        case Some(pos) => writeRowDeletes(spark, meta, pos)
        case None => RowDeletes(Nil, Set.empty, None)
      }

      // v3: updated rows keep their original _row_id (materialized); newly
      // inserted rows carry null and draw fresh ids from first_row_id.
      def updatesOf(df: DataFrame, pairs: Seq[(Option[String], MatchedClause)]): Seq[DataFrame] =
        pairs.zipWithIndex.collect {
          case ((_, MatchedClause(_, Some(set))), k) =>
            df.filter(appliesAt(pairs, k)).select((schema.fields.map { f =>
              set.get(f.name).map(e => expr(e).cast(f.fieldType.toSpark).as(f.name))
                .getOrElse(col(s"t.${f.name}"))
            } ++ (if (v3) Seq(col("t._row_id").as("_row_id")) else Nil)).toIndexedSeq: _*)
        }
      val updatedRows: Seq[DataFrame] =
        updatesOf(joined, mPairs) ++ nmsRows.toSeq.flatMap(df => updatesOf(df, nmsPairs))
      val insertedRows: Seq[DataFrame] = {
        val notMatched = s.join(t, expr(onCond), "left_anti")
        val nullLineage = if (v3) Seq(lit(null).cast("long").as("_row_id")) else Nil
        val nmPairs = notMatchedClauses.map(c => (c.condSql, c))
        nmPairs.zipWithIndex.map { case ((_, c), k) =>
          val rows = notMatched.filter(appliesAt(nmPairs, k))
          if (c.insertAll)
            rows.select((schema.fields.map(f => col(f.name)) ++ nullLineage).toIndexedSeq: _*)
          else
            rows.select((schema.fields.map { f =>
              c.ins.get(f.name).map(e => expr(e).cast(f.fieldType.toSpark).as(f.name))
                .getOrElse(lit(null).cast(f.fieldType.toSpark).as(f.name))
            } ++ nullLineage).toIndexedSeq: _*)
        }
      }
      val newRows = (updatedRows ++ insertedRows).reduceOption(_ unionByName _)
      val dataEntries = newRows.map(df => IcebergWrite.writeDataFiles(df, meta, conf)._1).getOrElse(Nil)
      if (dataEntries.isEmpty && rd.entries.isEmpty) meta
      else ops.commit(meta, dataEntries, rd.entries, "overwrite", conf,
        removedDvRefs = rd.removedDvRefs, preassignedSnapshotId = rd.snapshotId)
    } finally { joined.unpersist(); nmsCache.foreach(_.unpersist()) }
  }

  /** CREATE TABLE AS SELECT. */
  def ctas(df: DataFrame, path: String, opts: TableWriteOptions = TableWriteOptions()): TableMetadata =
    IcebergWrite.writeTable(df, path, opts)

  /** What [[rewritePositionDeleteFiles]] did. */
  case class RewritePosDeletesResult(meta: TableMetadata, rewrittenDeleteFiles: Int,
      addedDeleteFiles: Int, removedDanglingRows: Long)

  /** Rewrite positional delete files (the `rewrite_position_delete_files`
    * procedure): drop DANGLING delete rows (whose referenced data file is no
    * longer live — left behind by compaction / overwrites), deduplicate, and
    * compact the survivors into one sorted delete file per partition. One
    * REPLACE snapshot; row data never moves. v3 deletion vectors are left
    * alone (already one per data file).
    *
    * Scale shape: the rewrite reads ONLY the positional delete files (small
    * relative to data) plus the plan's file list; the dangling filter is a
    * broadcast join against the live-path list (metadata-sized). A MoR
    * table under steady DELETE/UPDATE load accretes one delete file per
    * touched partition per commit — this collapses them so every
    * subsequent scan's anti-join reads one file per partition instead of
    * hundreds. */
  def rewritePositionDeleteFiles(spark: SparkSession, ops: TableOps): RewritePosDeletesResult = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val meta = ops.load(conf)
    val p = IcebergRead.planWithMetadata(spark, meta, conf, ReadOptions())
    val posDeletes = p.deleteFiles.filter(d =>
      d.info.content == FileContent.PositionDeletes && d.info.fileFormat == "parquet")
    if (posDeletes.isEmpty) return RewritePosDeletesResult(meta, 0, 0, 0L)
    IcebergRead.ensureConfs(spark)
    val partTuples = p.dataFiles.map(_.info.partitionValues).distinct.zipWithIndex.toMap
    val fileInfo = p.dataFiles.map(f => (f.recordedPath, partTuples(f.info.partitionValues)))
      .toDF("_m_recorded", "_m_pk")
    val rows = spark.read.parquet(posDeletes.map(_.resolvedPath): _*)
      .select(col("file_path"), col("pos"))
    val totalBefore = posDeletes.map(_.info.recordCount).sum
    val kept = rows.join(broadcast(fileInfo), col("file_path") === col("_m_recorded"))
      .select(col("file_path").as("file_path", fieldMeta(PosDeletePathFieldId)),
        col("pos").cast("long").as("pos", fieldMeta(PosDeletePosFieldId)),
        col("_m_pk").as("_pk"))
      .dropDuplicates("file_path", "pos")
    val staging = s"${meta.location}/data/${UUID.randomUUID().toString}-rwdel"
    val entries = writeDeleteRows(spark, meta, kept, staging, partTuples.map(_.swap))
    val keptRows = entries.map(_.dataFile.recordCount).sum
    val newMeta = ops.commit(meta, Nil, entries, "replace", conf,
      removedDataPaths = posDeletes.map(_.info.filePath).toSet)
    RewritePosDeletesResult(newMeta, posDeletes.size, entries.size, totalBefore - keptRows)
  }

  /** What a [[rewriteDataFiles]] run did, mirroring the reference's result
    * columns (iceberg_rewrite_data_files.cpp:168 `rewritten_data_files,
    * added_data_files, rewritten_bytes`). `meta` is the post-commit
    * metadata (unchanged when no group qualified). */
  case class RewriteResult(meta: TableMetadata, rewrittenDataFiles: Long,
      addedDataFiles: Long, rewrittenBytes: Long)

  def rewriteDataFiles(spark: SparkSession, path: String,
      targetFileSizeBytes: Long, rewriteAll: Boolean): TableMetadata =
    rewriteDataFiles(spark, PathOps(path), Some(targetFileSizeBytes),
      rewriteAll = rewriteAll).meta

  /** Parse a `sort_order` spec string ("c1 ASC NULLS LAST, c2 DESC, c3")
    * into sort fields against the table schema. */
  private[graft] def parseSortSpec(spec: String, schema: IcebergSchema): Seq[SortField] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).map { part =>
      val toks = part.split("\\s+").toSeq
      val name = toks.head
      val f = schema.findField(name).getOrElse(
        throw new IllegalArgumentException(s"sort_order column '$name' not in table schema"))
      // Strict token grammar — a typo like 'DES' or 'NULS FIRST' must error,
      // not silently fall back to ASC nulls-first.
      var rest = toks.drop(1).map(_.toUpperCase(java.util.Locale.ROOT))
      val asc = rest.headOption match {
        case Some("ASC") => rest = rest.tail; true
        case Some("DESC") => rest = rest.tail; false
        case _ => true
      }
      val nullsFirst = rest match {
        case Seq() => asc // Iceberg defaults: ASC -> nulls-first, DESC -> nulls-last
        case Seq("NULLS", "FIRST") => true
        case Seq("NULLS", "LAST") => false
        case other => throw new IllegalArgumentException(
          s"Unrecognized sort_order token(s) '${other.mkString(" ")}' in '$part' " +
            "(expected: column [ASC|DESC] [NULLS FIRST|NULLS LAST])")
      }
      SortField(f.id, Transforms.Identity, asc, nullsFirst)
    }.toSeq

  /** iceberg_rewrite_data_files equivalent: bin-pack undersized files per
    * partition, rewrite each group delete-free, commit a REPLACE snapshot.
    * (reference rewrite_data_files_planner.cpp:45-150 GroupCandidates.)
    *
    * Scale shape: ONLY the candidate groups' files are scanned (the scan is
    * assembled over the planned file subset, with just the deletes that
    * apply to it) — compacting one partition of a 100 TB table reads one
    * partition, not the table. Delete files survive the commit unless
    * everything they can reference was rewritten. */
  def rewriteDataFiles(spark: SparkSession, ops: TableOps,
      targetFileSizeBytes: Option[Long] = None,
      minInputFiles: Int = 2,
      rewriteAll: Boolean = false,
      strategy: String = "binpack",
      sortOrderSpec: Option[String] = None): RewriteResult = {
    require(minInputFiles >= 1, s"min_input_files must be >= 1, got $minInputFiles")
    val conf = spark.sessionState.newHadoopConf()
    val meta = ops.load(conf)
    // Sort-strategy compaction (Iceberg's rewrite_data_files strategy =>
    // 'sort'): rewrite the selected groups CLUSTERED by the given sort
    // order (or the table's own), so scans over the sort columns prune by
    // file bounds afterwards. Binpack refuses a sort_order — silently
    // ignoring it would be worse than erroring.
    val sortOverride: Option[Seq[SortField]] = strategy.toLowerCase(java.util.Locale.ROOT) match {
      case "binpack" =>
        require(sortOrderSpec.isEmpty, "sort_order requires strategy => 'sort'")
        None
      case "sort" =>
        Some(sortOrderSpec.map(s => parseSortSpec(s, meta.currentSchema)).getOrElse(
          meta.sortOrder(meta.defaultSortOrderId).map(_.fields).filter(_.nonEmpty).getOrElse(
            throw new IllegalArgumentException(
              "strategy => 'sort' needs a sort_order argument or a table sort order"))))
      case other =>
        throw new IllegalArgumentException(s"Unknown rewrite strategy '$other' (binpack, sort)")
    }
    // Explicit argument wins, then the table's own write target properties,
    // then 512 MiB (reference ResolveTargetFileSizeBytes,
    // rewrite_data_files_planner.cpp:43-58).
    val targetBytes = targetFileSizeBytes
      .orElse(meta.properties.get("write.parquet.target-file-size-bytes").map(_.trim.toLong))
      .orElse(meta.properties.get("write.target-file-size-bytes").map(_.trim.toLong))
      .getOrElse(512L * 1024 * 1024)
    require(targetBytes > 0, s"target_file_size_bytes must be > 0, got $targetBytes")
    val p = IcebergRead.planWithMetadata(spark, meta, conf, ReadOptions())
    if (p.dataFiles.isEmpty) return RewriteResult(meta, 0, 0, 0)

    def partKeyOf(f: PlannedFile): String =
      f.specId + "|" + f.info.partitionValues.map {
        case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
        case v => String.valueOf(v)
      }.mkString("|")

    /** Can delete file `d` affect any of `files`? Positional deletes match
      * by referenced path (or file_path bounds); equality deletes by
      * partition + strictly-older data sequence. Unknown -> conservative
      * true (reference scopes candidates the same way,
      * rewrite_data_files_planner.cpp:45-150). */
    def deleteApplies(d: PlannedFile, files: Seq[PlannedFile]): Boolean =
      d.info.content match {
        case FileContent.PositionDeletes =>
          d.info.referencedPath.forall(ref => files.exists(_.recordedPath == ref))
        case FileContent.EqualityDeletes =>
          val partOk = meta.spec(d.specId).isUnpartitioned ||
            files.exists(f => partKeyOf(f) == partKeyOf(d))
          partOk && files.exists(_.dataSeq < d.dataSeq)
        case _ => true
      }

    // Group candidates per partition tuple; a group qualifies when it has
    // >= min_input_files undersized files (or rewriteAll), or a delete file
    // APPLIES TO IT (reference GroupCandidates keeps delete-affected groups
    // regardless of the file-count floor).
    val byPartition = p.dataFiles.groupBy(f => (f.specId, f.info.partitionValues))
    val groups = byPartition.values.filter { files =>
      rewriteAll ||
        files.count(_.info.fileSizeInBytes < targetBytes) >= minInputFiles ||
        p.deleteFiles.exists(d => deleteApplies(d, files))
    }.toSeq
    if (groups.isEmpty) return RewriteResult(meta, 0, 0, 0)
    val rewriting = groups.flatten

    // Scan ONLY the candidate files, with only their applicable deletes —
    // assembled from a reduced plan, so pruning/field-id projection and
    // delete merging reuse the normal read machinery.
    // v3: surviving rows carry their _row_id AND _last_updated_sequence_
    // number through the rewrite as materialized columns (spec: compaction
    // must not reassign either).
    val subPlan = p.copy(dataFiles = rewriting,
      deleteFiles = p.deleteFiles.filter(d => deleteApplies(d, rewriting)))
    var rows = IcebergRead.assemble(spark, subPlan, conf,
      ReadOptions(withRowLineage = meta.formatVersion >= 3))
    // Bin toward the target size: one output file per targetBytes of
    // input (per-partition layout is re-established by writeDataFiles).
    if (meta.defaultSpec.isUnpartitioned) {
      val totalBytes = rewriting.map(_.info.fileSizeInBytes).sum
      val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      rows = rows.coalesce(n)
    }
    // The resolved target drives the writer's file rolling too — without
    // this, a global sort's range shuffle can collapse to one oversized
    // output under AQE. Rows per file come from the inputs' manifest stats,
    // so no calibration write re-runs the delete-applying scan.
    val recordsPerFile = IcebergWrite.recordsForTarget(targetBytes,
      rewriting.map(_.info.fileSizeInBytes).sum, rewriting.map(_.info.recordCount).sum)
    val (dataEntries0, _) = IcebergWrite.writeDataFiles(rows, meta, conf, sortOverride,
      recordsPerFile = Some(recordsPerFile))
    // Sequence pin (reference rewrite_data_files_executor.cpp:140-141):
    // rewritten files are pinned to the BASE (current-at-rewrite-start)
    // snapshot's sequence number, NOT the replace snapshot's new one — a
    // delete committed after this rewrite's base still applies to the
    // replacement rows instead of being silently skipped. Deletes at or
    // below the base sequence are already folded into the rewritten rows
    // (the sub-plan applied every delete in the current plan), so the
    // base pin also avoids re-running their anti-joins on read.
    val pinnedSeq = meta.currentSnapshot.map(_.sequenceNumber)
      .getOrElse(rewriting.map(_.dataSeq).max)
    val dataEntries = dataEntries0.map(_.copy(sequenceNumber = Some(pinnedSeq)))

    // Remove rewritten data files, plus delete files that are now dead —
    // i.e. everything they could reference was rewritten. DV entries share a
    // Puffin path, so dead DVs are dropped per-entry via removedDvRefs.
    val removedData = rewriting.map(_.recordedPath).toSet
    val allRewritten = rewriting.size == p.dataFiles.size
    val deadDeletes = p.deleteFiles.filter { d =>
      d.info.content match {
        case FileContent.PositionDeletes =>
          d.info.referencedPath.fold(allRewritten)(removedData.contains)
        case FileContent.EqualityDeletes =>
          allRewritten || {
            val dSpec = meta.spec(d.specId)
            !dSpec.isUnpartitioned && {
              val samePart = p.dataFiles.filter(f => partKeyOf(f) == partKeyOf(d))
              samePart.nonEmpty && samePart.forall(f => removedData.contains(f.recordedPath))
            }
          }
        case _ => allRewritten
      }
    }
    val (dvDead, fileDead) = deadDeletes.partition(_.info.contentOffset.isDefined)
    val removed = removedData ++ fileDead.map(_.recordedPath)
    val committed = ops.commit(meta, dataEntries, Nil, "replace", conf,
      removedDataPaths = removed,
      removedDvRefs = dvDead.flatMap(_.info.referencedDataFile).toSet)
    RewriteResult(committed, rewriting.size,
      dataEntries.size, rewriting.map(_.info.fileSizeInBytes).sum)
  }
}
