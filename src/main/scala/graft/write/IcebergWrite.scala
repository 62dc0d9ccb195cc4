package graft.write

import graft.core._
import graft.manifest._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

/**
 * Iceberg write path: parquet data files with field ids, per-file stats from
 * parquet footers, v2 manifests + manifest list + metadata.json +
 * version-hint — the COPY TO (FORMAT iceberg) equivalent plus partitioned /
 * sorted appends.
 *
 * (reference: src/function/copy/iceberg_copy_function.cpp:11-62 one-shot
 * table write; src/execution/operator/iceberg_insert.cpp:150-237,403-578,
 * 781-869 insert planning, partition-transform projection, sorted writes;
 * src/storage/statistics/iceberg_data_file_stats.cpp stats;
 * src/catalog/rest/api/iceberg_add_snapshot.cpp snapshot assembly.)
 *
 * Scale notes: the data write is one Spark job (`repartition(partitionExprs)
 * .sortWithinPartitions(...)` feeding [[TaskWriter]]) — executors do all row
 * work and return each file's manifest entry, built from the footer they
 * just closed, so the driver only gathers entries.
 * Commit is a driver-only metadata rename (HadoopTableOperations-style
 * single-writer semantics, documented).
 */
/** A path-table commit lost the version race (another writer published the
  * same metadata version first). [[IcebergWrite.append]] retries on it. */
class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

case class TableWriteOptions(
    partitionBy: Seq[(String, Transform)] = Nil,
    sortBy: Seq[(String, Boolean, Boolean)] = Nil, // (column, ascending, nullsFirst)
    properties: Map[String, String] = Map.empty,
    formatVersion: Int = 2)

object IcebergWrite extends Logging {
  private val rng = new java.security.SecureRandom()
  private[graft] def newSnapshotId(): Long = math.abs(rng.nextLong()) | 1L

  private def fieldMetadata(id: Int): Metadata =
    new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()

  def tableExists(path: String, conf: Configuration): Boolean =
    try { TableMetadata.findMetadataFile(path, conf); true } catch { case _: Exception => false }

  /** Create an empty table (metadata.json v1, no snapshot). */
  def createTable(spark: SparkSession, path: String, schema: StructType,
      opts: TableWriteOptions = TableWriteOptions()): TableMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    require(!tableExists(path, conf), s"Iceberg table already exists at $path")
    val iceSchema = IcebergTypes.fromSpark(schema)
    // Dotted names resolve nested struct leaves as partition/sort sources.
    val nameToField = iceSchema.fieldByPath
    var nextPartId = 999
    val specFields = opts.partitionBy.map { case (colName, t) =>
      val src = nameToField.getOrElse(colName,
        throw new IllegalArgumentException(s"Partition column $colName not in schema"))
      nextPartId += 1
      // Dots (nested sources) become underscores: the name keys an avro
      // field in every manifest's partition struct, where '.' is illegal.
      val base = colName.replace('.', '_')
      val name = t match {
        case Transforms.Identity => base
        case Transforms.Bucket(n) => s"${base}_bucket"
        case Transforms.Truncate(w) => s"${base}_trunc"
        case other => s"${base}_${other.toString}"
      }
      PartitionField(src.id, nextPartId, name, t)
    }
    val sortFields = opts.sortBy.map { case (colName, asc, nf) =>
      val src = nameToField.getOrElse(colName,
        throw new IllegalArgumentException(s"Sort column $colName not in schema"))
      SortField(src.id, Transforms.Identity, asc, nf)
    }
    val sortOrderId = if (sortFields.nonEmpty) 1 else 0
    val meta = TableMetadata(
      formatVersion = opts.formatVersion,
      tableUuid = UUID.randomUUID().toString,
      location = path.stripSuffix("/"),
      lastSequenceNumber = 0L,
      lastUpdatedMs = System.currentTimeMillis(),
      lastColumnId = iceSchema.lastColumnId,
      currentSchemaId = 0,
      schemas = Seq(iceSchema),
      defaultSpecId = 0,
      specs = Seq(PartitionSpec(0, specFields)),
      lastPartitionId = nextPartId,
      defaultSortOrderId = sortOrderId,
      sortOrders = Seq(SortOrder(0, Nil)) ++ (if (sortFields.nonEmpty) Seq(SortOrder(1, sortFields)) else Nil),
      properties = opts.properties,
      currentSnapshotId = None,
      snapshots = Nil, snapshotLog = Nil, metadataLog = Nil, refs = Map.empty)
    commitMetadata(meta, 1, conf)
    meta
  }

  /** COPY TO equivalent: create table (if needed) + append in one call. */
  def writeTable(df: DataFrame, path: String,
      opts: TableWriteOptions = TableWriteOptions()): TableMetadata = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    if (!tableExists(path, conf)) createTable(spark, path, df.schema, opts)
    append(df, path)
  }

  /** Append `df` as a new APPEND snapshot. `extraSummary` entries are
    * merged into the snapshot summary (used by the streaming sink to stamp
    * its exactly-once watermark: query id + batch id).
    *
    * Optimistic concurrency, same shape as the REST path (appendDF): data
    * files are written ONCE; on a concurrent-commit loss only the manifest
    * assembly re-runs against freshly loaded metadata (the appended files
    * don't depend on which snapshot they land after — unless the schema
    * changed underneath, which aborts). */
  def append(df: DataFrame, path: String,
      extraSummary: Map[String, String] = Map.empty,
      toBranch: Option[String] = None): TableMetadata = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    var meta = TableMetadata.load(path, conf)
    val schemaId = meta.currentSchemaId
    val entries = writeDataFiles(df, meta, conf)
    val maxRetries = 5
    var attempt = 0
    while (true) {
      try return commitSnapshot(meta, entries, Nil, "append", conf, extraSummary = extraSummary,
        toBranch = toBranch)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(20L * attempt + scala.util.Random.nextInt(30))
          meta = TableMetadata.load(path, conf)
          require(meta.currentSchemaId == schemaId,
            "schema changed during a concurrent append; re-run the append against the new schema")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** INSERT OVERWRITE TABLE (full replace): ONE snapshot that adds `df`'s
    * files and logically removes every previously-live data AND delete file
    * (old files stay on disk for time travel; the new snapshot's manifest
    * list simply doesn't reference them). The previous state remains
    * addressable via `VERSION AS OF`. */
  def overwrite(df: DataFrame, path: String): TableMetadata = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val entries = writeDataFiles(df, meta, conf)
    val p = graft.read.IcebergRead.planWithMetadata(spark, meta, conf, graft.read.ReadOptions())
    val removed = (p.dataFiles.iterator ++ p.deleteFiles.iterator)
      .map(_.info.filePath).toSet
    commitSnapshot(meta, entries, Nil, "overwrite", conf, removedDataPaths = removed)
  }

  /** Write data files for `df` under the table layout and return their
    * ADDED manifest entries (stats included) without committing.
    * `sortOverride`: replace the table's sort order for THIS write (sort-
    * strategy compaction); written entries then carry no sort-order id —
    * their layout is not the table's declared order. `targetBytes`: roll
    * files at this size instead of the table's [[targetFileSize]]. */
  private[graft] def writeDataFiles(df: DataFrame, meta: TableMetadata,
      conf: Configuration, sortOverride: Option[Seq[SortField]] = None,
      targetBytes: Option[Long] = None): Seq[ManifestEntry] = {
    val schema = meta.currentSchema
    val spec = meta.defaultSpec

    // Project df to the table schema, aliasing every column with its
    // field-id metadata so parquet files carry ids. v3 row-lineage columns
    // (_row_id / _last_updated_sequence_number, reserved ids 2147483540 /
    // 2147483539) are materialized when present on the input — rewrites and
    // updates preserve row ids this way (spec: row ids survive rewrites).
    val lineageCols = Seq(
      "_row_id" -> 2147483540, "_last_updated_sequence_number" -> 2147483539)
      .filter { case (n, _) => df.columns.contains(n) }
      .map { case (n, id) => col(n).cast("long").as(n, fieldMetadata(id)) }
    val cols = schema.fields.map(f => col(f.name).cast(f.fieldType.toSpark).as(f.name, fieldMetadata(f.id))) ++ lineageCols
    var out = df.select(cols.toIndexedSeq: _*)

    // Partition-transform projection (reference iceberg_insert.cpp:403-475),
    // appended after the data columns as the writer's key. Dotted paths:
    // partition sources may be nested struct leaves (reference
    // hour_struct_timestamp.test etc.).
    val gpCols: Seq[(String, Column)] = spec.fields.map { pf =>
      val src = schema.idToField(pf.sourceId)
      (gpName(pf), pf.transform.column(col(schema.pathOfId(pf.sourceId)), src.fieldType)
        .cast(pf.transform.resultType(src.fieldType).toSpark))
    }
    gpCols.foreach { case (n, c) => out = out.withColumn(n, c) }

    // Sorted writes (reference iceberg_insert.cpp:477-511,767-794).
    val sortFieldsEff: Seq[SortField] = sortOverride.getOrElse(
      meta.sortOrder(meta.defaultSortOrderId).toSeq.flatMap(_.fields))
    val sortCols: Seq[Column] = sortFieldsEff.map { sf =>
      val src = schema.idToField(sf.sourceId)
      val c = sf.transform.column(col(schema.pathOfId(sf.sourceId)), src.fieldType)
      if (sf.nullsFirst) (if (sf.ascending) c.asc_nulls_first else c.desc_nulls_first)
      else (if (sf.ascending) c.asc_nulls_last else c.desc_nulls_last)
    }

    if (gpCols.nonEmpty) {
      // `write.distribution-mode` (Iceberg write property): how rows reach
      // the writing tasks. hash (default) = one shuffle on the partition
      // key, one file per partition value; range = range-shuffle on
      // partition + sort keys (globally clustered files — the layout a
      // later sorted scan wants); none = NO shuffle, every task fans out
      // into the partitions it already holds (no wire cost, more smaller
      // files — the right trade when the input is already clustered).
      // Every mode then clusters each task by partition key and sort key,
      // so the writer holds one open file at a time and files are sorted.
      val distMode = meta.properties.get("write.distribution-mode")
        .map(_.trim.toLowerCase(java.util.Locale.ROOT)) match {
        case None => "hash"
        case Some(m @ ("none" | "hash" | "range")) => m
        case Some(other) =>
          logWarning(s"Invalid value '$other' for Iceberg table property " +
            "'write.distribution-mode'; expected none, hash or range, using default value 'hash'.")
          "hash"
      }
      val gp = gpCols.map(c => col(c._1))
      val clustering = (gp ++ sortCols).toIndexedSeq
      distMode match {
        case "none" =>
        case "range" => out = out.repartitionByRange(clustering: _*)
        case _ => out = out.repartition(gp.toIndexedSeq: _*)
      }
      out = out.sortWithinPartitions(clustering: _*)
    } else if (sortCols.nonEmpty) out = out.orderBy(sortCols.toIndexedSeq: _*)

    // An ad-hoc sort override that happens to EQUAL the table's default
    // order keeps the declared order id — stamping 0 would strip a valid
    // sortedness declaration interoperating readers rely on.
    val sortOrderId = sortOverride match {
      case None => meta.defaultSortOrderId
      case Some(fields)
        if meta.sortOrder(meta.defaultSortOrderId).map(_.fields).contains(fields) =>
        meta.defaultSortOrderId
      case Some(_) => 0
    }
    // Data root honors write.data.path (reference GetDataPath:
    // iceberg_table_metadata.cpp:512-519) — object stores often split the
    // data plane from the metadata location. Object-storage layouts
    // (reference iceberg_insert.cpp:705-709 + Iceberg's
    // ObjectStoreLocationProvider): `write.object-storage.enabled` spreads
    // files across hash-prefix key ranges (the entropy must lead the key to
    // defeat object-store prefix throttling);
    // `write.object-storage.partitioned-paths=false` drops the hive-style
    // `key=value` segments (partition values live in manifests, dirs are
    // cosmetic).
    val props = meta.properties
    val hivePaths = props.get("write.object-storage.partitioned-paths").forall(!_.equalsIgnoreCase("false"))
    val layout = FileLayout(
      root = props.get("write.data.path").map(_.stripSuffix("/")).getOrElse(s"${meta.location}/data"),
      hiveKeys = if (hivePaths) spec.fields.map(_.name) else Nil,
      hashPrefix = props.get("write.object-storage.enabled").exists(_.equalsIgnoreCase("true")),
      targetBytes = targetBytes.getOrElse(targetFileSize(props)))
    val entries = TaskWriter.write(out, gpCols.size, layout, props, schema,
      MetricsSpec.fromProperties(props), conf)
      .map(f => TaskWriter.entry(f, FileContent.Data, f.key, sortOrderId = Some(sortOrderId)))
    // Geometry columns: footer stats can't bound WKB — one extra pass over
    // just those columns fills Appendix D bbox bounds. No-op otherwise.
    GeoBounds.patch(df.sparkSession, entries, schema)
  }

  /** Writer key column for a spec field (dot-free: nested sources would
    * otherwise read as nested references). */
  private def gpName(pf: PartitionField): String = "_gp_" + pf.name.replace('.', '_')

  /** `write.target-file-size-bytes` accepts plain bytes or K/M/G suffixes
    * ("1048576", "64MB", "1g"). */
  private[graft] def parseByteSize(s: String): Long = {
    val t = s.trim.toLowerCase.stripSuffix("b")
    val (num, mult) =
      if (t.endsWith("k")) (t.dropRight(1), 1L << 10)
      else if (t.endsWith("m")) (t.dropRight(1), 1L << 20)
      else if (t.endsWith("g")) (t.dropRight(1), 1L << 30)
      else (t, 1L)
    (num.trim.toDouble * mult).toLong
  }

  /** The size data files roll at and compaction bins toward:
    * `write.parquet.target-file-size-bytes`, then
    * `write.target-file-size-bytes`, then 512 MiB (reference
    * ResolveTargetFileSizeBytes, rewrite_data_files_planner.cpp:43-58). */
  private[graft] def targetFileSize(props: Map[String, String]): Long =
    props.get("write.parquet.target-file-size-bytes")
      .orElse(props.get("write.target-file-size-bytes"))
      .map(parseByteSize).getOrElse(512L << 20)

  /** Per-manifest partition-bound field summaries (shared by snapshot
    * assembly and manifest compaction).*/
    private[graft] def partitionSummaries(partitionFields: Seq[(String, IcebergType, Int)], entries: Seq[ManifestEntry]): Seq[FieldSummary] =
      partitionFields.zipWithIndex.map { case ((_, t, _), i) =>
        val vals = entries.map(_.dataFile.partitionValues.lift(i).orNull)
        // Freshly written values are typed; values read back from a manifest
        // are raw bytes for decimal and uuid. Bring both to internal form.
        val nonNull = vals.filter(_ != null).map(graft.read.Pruning.convertPartitionValue(_, t))
        // String partition summaries truncate like data-file bounds, but the
        // upper bound must ROUND UP (truncate + increment) — a plain
        // truncation can sit below the partition's own values and prune the
        // manifest away from them (reference
        // test_partition_summary_string_upper_bound, duckdb-iceberg#1047).
        // Increment-impossible prefixes fall back to the exact value.
        def bound(v: Any, upper: Boolean): Array[Byte] = (t, v) match {
          case (IcebergTypes.StringT, s: String) => SingleValue.serialize(
            if (upper) FooterStats.truncateUpperString(s, 16).getOrElse(s)
            else FooterStats.truncateLowerString(s, 16), t)
          case (IcebergTypes.BinaryT, b: Array[Byte]) =>
            if (upper) FooterStats.truncateUpperBinary(b, 16).getOrElse(b)
            else FooterStats.truncateLowerBinary(b, 16)
          case _ => SingleValue.serialize(v, t)
        }
        FieldSummary(
          containsNull = vals.exists(_ == null),
          containsNan = None,
          lowerBound = Option.when(nonNull.nonEmpty)(bound(nonNull.min(SingleValue.ordering), upper = false)),
          upperBound = Option.when(nonNull.nonEmpty)(bound(nonNull.max(SingleValue.ordering), upper = true)))
      }

  // ---------- commit ----------

  /** Assemble + commit a snapshot from added data-file entries and added
    * delete-file entries. `operation`: append / delete / overwrite / replace.
    * For "replace"/rewrite commits pass `removedDataPaths` so prior manifests
    * are rewritten without those files. `removedDvRefs`: data-file paths whose
    * PREVIOUS deletion-vector entries are superseded by a DV in
    * `addedDeletes` (one-DV-per-file invariant). `preassignedSnapshotId`:
    * lets DV writers stamp the committing snapshot into Puffin blob metadata
    * before the commit. `deleteSpec`: partition spec the delete manifest is
    * written under (global equality deletes use an unpartitioned spec). */
  private[graft] def commitSnapshot(
      meta: TableMetadata,
      addedData: Seq[ManifestEntry],
      addedDeletes: Seq[ManifestEntry],
      operation: String,
      conf: Configuration,
      removedDataPaths: Set[String] = Set.empty,
      removedDvRefs: Set[String] = Set.empty,
      preassignedSnapshotId: Option[Long] = None,
      deleteSpec: Option[PartitionSpec] = None,
      extraSummary: Map[String, String] = Map.empty,
      /** Commit onto this branch instead of main: the new snapshot's parent
        * (and carried-forward manifests) come from the BRANCH head, only the
        * branch ref moves, and main's snapshot-log is untouched — the
        * write-audit-publish isolation Iceberg branches exist for. */
      toBranch: Option[String] = None): TableMetadata = {
    val branchHead: Option[Long] = toBranch.map { b =>
      meta.refs.getOrElse(b, throw new IllegalArgumentException(
        s"Branch '$b' does not exist — create it first (create_ref)")) match {
        case r if !r.isBranch => throw new IllegalArgumentException(s"Ref '$b' is a tag; cannot write to a tag")
        case r => r.snapshotId
      }
    }
    // Build the snapshot as if the branch head were current: parent id and
    // carried-forward manifests both derive from currentSnapshotId.
    val buildMeta = branchHead.map(h => meta.copy(currentSnapshotId = Some(h))).getOrElse(meta)
    val (snap0, allManifests) = buildSnapshotFiles(buildMeta, addedData, addedDeletes, operation, conf,
      removedDataPaths, removedDvRefs, preassignedSnapshotId, deleteSpec)
    val snap = if (extraSummary.isEmpty) snap0
      else snap0.copy(summary = snap0.summary ++ extraSummary)
    // The target version derives from the metadata this commit was BUILT on,
    // not a fresh disk probe: probing would let a stale writer leapfrog a
    // concurrent commit (publishing vN+2 whose content misses vN+1's
    // snapshot). Built-from-v(N) commits target v(N+1); same-base writers
    // collide at publish and the loser retries on fresh metadata.
    val prevVersion = meta.loadedVersion.getOrElse(currentVersion(meta.location, conf))
    val now = snap.timestampMs
    // v3 next-row-id: the end of the highest assigned row-id span across the
    // snapshot's data manifests — covers both newly added files and the
    // retroactive manifest-level assignment on the first write after a
    // v2->v3 upgrade (buildSnapshotFiles).
    val newNextRowId =
      if (meta.formatVersion < 3) meta.nextRowId
      else {
        val spans = allManifests.filter(_.content == 0)
          .flatMap(m => m.firstRowId.map(_ + m.addedRowsCount + m.existingRowsCount))
        Some((spans :+ meta.nextRowId.getOrElse(0L)).max)
      }
    val newMeta = toBranch match {
      case Some(b) => meta.copy(
        // Branch commit: the snapshot lands in `snapshots` and the branch
        // ref moves; main's head and history are untouched.
        lastSequenceNumber = snap.sequenceNumber,
        lastUpdatedMs = now,
        snapshots = meta.snapshots :+ snap,
        refs = meta.refs + (b -> graft.core.SnapshotRef(snap.snapshotId, isBranch = true)),
        nextRowId = newNextRowId)
      case None => meta.copy(
        lastSequenceNumber = snap.sequenceNumber,
        lastUpdatedMs = now,
        currentSnapshotId = Some(snap.snapshotId),
        snapshots = meta.snapshots :+ snap,
        snapshotLog = meta.snapshotLog :+ (now, snap.snapshotId),
        refs = meta.refs + ("main" -> graft.core.SnapshotRef(snap.snapshotId, isBranch = true)),
        nextRowId = newNextRowId)
    }
    commitMetadata(newMeta, prevVersion + 1, conf)
    newMeta.copy(loadedVersion = Some(prevVersion + 1))
  }

  /** Write manifests + the manifest list for a new snapshot and return the
    * SnapshotInfo (no metadata.json commit — REST commits send the snapshot
    * to the catalog instead; reference iceberg_add_snapshot.cpp). */
  private[graft] def buildSnapshotFiles(
      meta: TableMetadata,
      addedData: Seq[ManifestEntry],
      addedDeletes: Seq[ManifestEntry],
      operation: String,
      conf: Configuration,
      removedDataPaths: Set[String] = Set.empty,
      removedDvRefs: Set[String] = Set.empty,
      preassignedSnapshotId: Option[Long] = None,
      deleteSpec: Option[PartitionSpec] = None): (SnapshotInfo, Seq[ManifestFile]) = {
    val schema = meta.currentSchema
    val spec = meta.defaultSpec
    val snapshotId = preassignedSnapshotId.getOrElse(newSnapshotId())
    val seq = meta.lastSequenceNumber + 1
    val commitUuid = UUID.randomUUID().toString
    val partitionFields: Seq[(String, IcebergType, Int)] = spec.fields.map { pf =>
      (pf.name, pf.transform.resultType(schema.idToField(pf.sourceId).fieldType), pf.fieldId)
    }
    val metaDir = s"${meta.location}/metadata"
    val fsys = TableMetadata.fs(metaDir, conf)
    fsys.mkdirs(new Path(metaDir))

    def summariesWith(partitionFields: Seq[(String, IcebergType, Int)])(entries: Seq[ManifestEntry]): Seq[FieldSummary] =
      IcebergWrite.partitionSummaries(partitionFields, entries)

    var newManifests = Seq.empty[ManifestFile]

    // Removal metrics for the snapshot summary (reference
    // test_snapshot_summary_delete_metrics / _file_size_metrics assert
    // these against the manifests' own byte sums).
    var removedFilesSize = 0L
    var removedDataFiles = 0
    var removedRecords = 0L
    var removedEqDeleteRows = 0L

    // Carry forward previous manifests (minus files removed by a rewrite and
    // minus DV entries superseded by a new DV for the same data file).
    def superseded(e: ManifestEntry): Boolean =
      e.dataFile.content == FileContent.PositionDeletes &&
        e.dataFile.contentOffset.isDefined &&
        e.dataFile.referencedDataFile.exists(removedDvRefs.contains)
    val prevManifests: Seq[ManifestFile] = meta.currentSnapshot match {
      case None => Nil
      case Some(prev) =>
        val prevList = ManifestIO.manifestsOf(meta, prev, conf)
        if (removedDataPaths.isEmpty && removedDvRefs.isEmpty) prevList
        else prevList.flatMap { m =>
          // DV supersede touches only delete manifests; skip re-reading data
          // manifests when no data paths are being removed.
          if (removedDataPaths.isEmpty && m.content == 0) Seq(m)
          else {
          val resolved = TableMetadata.resolvePath(meta.location, m.path, conf)
          val entries = ManifestIO.readManifest(resolved, conf, m)
          val live = entries.filter(e =>
            e.isLive && !removedDataPaths.contains(e.dataFile.filePath) && !superseded(e))
          entries.filter(e => e.isLive &&
              (removedDataPaths.contains(e.dataFile.filePath) || superseded(e)))
            .foreach { e =>
              removedFilesSize += e.dataFile.fileSizeInBytes
              if (e.dataFile.content == FileContent.Data) {
                removedDataFiles += 1; removedRecords += e.dataFile.recordCount
              } else if (e.dataFile.content == FileContent.EqualityDeletes)
                removedEqDeleteRows += e.dataFile.recordCount
            }
          if (live.size == entries.count(_.isLive)) Some(m)
          else if (live.isEmpty) None
          else {
            // Rewrite manifest without removed files, keeping entries EXISTING.
            val mPath = s"$metaDir/${UUID.randomUUID().toString}-m0.avro"
            val pf: Seq[(String, IcebergType, Int)] = {
              val sp = meta.spec(m.partitionSpecId)
              sp.fields.map(f => (f.name, f.transform.resultType(schema.idToField(f.sourceId).fieldType), f.fieldId))
            }
            val rewritten = live.map(e => e.copy(status = EntryStatus.Existing))
            val len = ManifestIO.writeManifest(mPath, conf, pf, rewritten, Map("content" -> (if (m.content == 1) "deletes" else "data")), ManifestIO.manifestCodec(meta))
            Some(m.copy(path = mPath, length = len, addedFilesCount = 0,
              existingFilesCount = rewritten.size, deletedFilesCount = 0,
              addedRowsCount = 0L, existingRowsCount = rewritten.map(_.dataFile.recordCount).sum))
          }
          }
        }
    }

    // v3 row lineage: row-id assignment for THIS snapshot starts at the
    // table's next-row-id. On the first v3 write after a v2->v3 upgrade,
    // carried-forward v2 manifests have no first_row_id — they are assigned
    // retroactively here (manifest-level; files inherit by position at read
    // time, spec "Row Lineage > upgrade"), and newly added files continue
    // after them.
    var rowIdCursor = meta.nextRowId.getOrElse(0L)
    val firstRowIdStart = rowIdCursor
    val prevWithRowIds: Seq[ManifestFile] =
      if (meta.formatVersion < 3) prevManifests
      else prevManifests.map { m =>
        if (m.content == 0 && m.firstRowId.isEmpty) {
          val assigned = m.copy(firstRowId = Some(rowIdCursor))
          rowIdCursor += m.addedRowsCount + m.existingRowsCount
          assigned
        } else m
      }

    // New data manifest. v3 row lineage: assign each added data file a
    // first_row_id from the advanced cursor
    // (reference iceberg_multi_file_reader.cpp:604-713 consumes these).
    if (addedData.nonEmpty) {
      val addedRowIdStart = rowIdCursor
      val mPath = s"$metaDir/$commitUuid-m0.avro"
      val withSeq = addedData.map { e =>
        val withLineage =
          if (meta.formatVersion >= 3 && e.dataFile.content == FileContent.Data) {
            val fid = rowIdCursor
            rowIdCursor += e.dataFile.recordCount
            e.dataFile.copy(firstRowId = Some(fid))
          } else e.dataFile
        // A pre-set data sequence number is PRESERVED: compaction pins
        // rewritten files to their inputs' sequence so deletes committed
        // after the rewrite's base snapshot still apply to the replacement
        // (reference rewrite_data_files_sequence_pin.test).
        e.copy(snapshotId = Some(snapshotId),
          sequenceNumber = e.sequenceNumber.orElse(Some(seq)),
          fileSequenceNumber = Some(seq), dataFile = withLineage)
      }
      val minSeq = withSeq.flatMap(_.sequenceNumber).foldLeft(seq)(math.min)
      val len = ManifestIO.writeManifest(mPath, conf, partitionFields, withSeq,
        Map("schema-id" -> schema.schemaId.toString, "partition-spec-id" -> spec.specId.toString, "content" -> "data"),
        ManifestIO.manifestCodec(meta))
      newManifests +:= ManifestFile(mPath, len, spec.specId, 0, seq, minSeq, snapshotId,
        withSeq.size, 0, 0, withSeq.map(_.dataFile.recordCount).sum, 0L, 0L,
        summariesWith(partitionFields)(withSeq),
        firstRowId = if (meta.formatVersion >= 3) Some(addedRowIdStart) else None)
    }
    // New delete manifest — written under `deleteSpec` when provided (e.g.
    // global equality deletes use an unpartitioned spec per the spec).
    if (addedDeletes.nonEmpty) {
      val dSpec = deleteSpec.getOrElse(spec)
      val dPartitionFields: Seq[(String, IcebergType, Int)] = dSpec.fields.map { pf =>
        (pf.name, pf.transform.resultType(schema.idToField(pf.sourceId).fieldType), pf.fieldId)
      }
      val mPath = s"$metaDir/$commitUuid-m1.avro"
      val withSeq = addedDeletes.map(e => e.copy(
        snapshotId = Some(snapshotId), sequenceNumber = Some(seq), fileSequenceNumber = Some(seq)))
      val len = ManifestIO.writeManifest(mPath, conf, dPartitionFields, withSeq,
        Map("schema-id" -> schema.schemaId.toString, "partition-spec-id" -> dSpec.specId.toString, "content" -> "deletes"),
        ManifestIO.manifestCodec(meta))
      newManifests +:= ManifestFile(mPath, len, dSpec.specId, 1, seq, seq, snapshotId,
        withSeq.size, 0, 0, withSeq.map(_.dataFile.recordCount).sum, 0L, 0L,
        summariesWith(dPartitionFields)(withSeq))
    }

    val allManifests = ManifestMerge.maybeMerge(meta, newManifests ++ prevWithRowIds, conf)
    val listPath = s"$metaDir/snap-$snapshotId-1-$commitUuid.avro"
    ManifestIO.writeManifestList(listPath, conf, allManifests, formatVersion = meta.formatVersion,
      codec = ManifestIO.manifestCodec(meta))

    val dataManifests = allManifests.filter(_.content == 0)
    val delManifests = allManifests.filter(_.content == 1)
    val totalRecords = dataManifests.map(m => m.addedRowsCount + m.existingRowsCount).sum
    val totalDataFiles = dataManifests.map(m => m.addedFilesCount + m.existingFilesCount).sum
    val now = System.currentTimeMillis()
    // Byte totals carry forward parent + added - removed, Iceberg-core
    // style: summing every live manifest entry per commit would re-read all
    // manifests; the arithmetic is exact given the parent's totals.
    val parentSummary = meta.currentSnapshot.map(_.summary).getOrElse(Map.empty)
    def parentLong(k: String): Long =
      parentSummary.get(k).flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
    val addedBytes = (addedData ++ addedDeletes).map(_.dataFile.fileSizeInBytes).sum
    val addedEqRows = addedDeletes.filter(_.dataFile.content == FileContent.EqualityDeletes)
      .map(_.dataFile.recordCount).sum
    val summary = Map(
      "operation" -> operation,
      "added-data-files" -> addedData.size.toString,
      "added-records" -> addedData.map(_.dataFile.recordCount).sum.toString,
      "added-files-size" -> addedBytes.toString,
      "added-delete-files" -> addedDeletes.size.toString,
      "added-position-deletes" -> addedDeletes.filter(_.dataFile.content == FileContent.PositionDeletes).map(_.dataFile.recordCount).sum.toString,
      "total-records" -> totalRecords.toString,
      "total-data-files" -> totalDataFiles.toString,
      "total-delete-files" -> delManifests.map(m => m.addedFilesCount + m.existingFilesCount).sum.toString,
      "total-files-size" -> math.max(0L, parentLong("total-files-size") + addedBytes - removedFilesSize).toString,
      "total-position-deletes" -> delManifests.map(m => m.addedRowsCount + m.existingRowsCount).sum.toString,
      "total-equality-deletes" -> math.max(0L, parentLong("total-equality-deletes") + addedEqRows - removedEqDeleteRows).toString) ++
      // Removal metrics only on snapshots that actually removed files —
      // the reference asserts `removed-files-size` is ABSENT on appends.
      (if (removedFilesSize > 0 || removedDataFiles > 0) Map(
        "removed-files-size" -> removedFilesSize.toString,
        "deleted-data-files" -> removedDataFiles.toString,
        "deleted-records" -> removedRecords.toString)
      else Map.empty)
    val snap = SnapshotInfo(snapshotId, meta.currentSnapshotId, seq, now, listPath, summary,
      Some(schema.schemaId),
      firstRowId = if (meta.formatVersion >= 3) Some(firstRowIdStart) else None)
    (snap, allManifests)
  }

  /** Commit `meta` as the next metadata version (ALTER-style metadata-only
    * commit). */
  private[graft] def commitMetadataNextVersion(meta: TableMetadata, conf: Configuration): TableMetadata = {
    val v = meta.loadedVersion.getOrElse(currentVersion(meta.location, conf)) + 1
    commitMetadata(meta, v, conf)
    meta.copy(loadedVersion = Some(v))
  }

  private def currentVersion(location: String, conf: Configuration): Int =
    try {
      val f = TableMetadata.findMetadataFile(location, conf)
      val VRe = """.*?v?(\d+)[^/]*\.metadata\.json.*""".r
      new Path(f).getName match { case VRe(n) => n.toInt; case _ => 0 }
    } catch { case _: Exception => 0 }

  /** Write vN.metadata.json + version-hint.text — HadoopTableOperations-
    * style local commit (reference v1 equivalent: transaction commit
    * without a REST catalog, iceberg_transaction.cpp:489-534).
    *
    * Publishing must be an atomic create-if-absent or two concurrent
    * committers at the same version both "win". `rename` is NOT that on a
    * POSIX local filesystem (rename(2) silently replaces an existing
    * destination), so local publishes go through `Files.createLink`, which
    * fails atomically when the destination exists; non-local filesystems
    * (HDFS semantics: rename to an existing destination fails) keep rename.
    * Losers throw ConcurrentCommitException — [[append]] retries against
    * fresh metadata. */
  private def commitMetadata(meta: TableMetadata, version: Int, conf: Configuration): Unit = {
    val metaDir = s"${meta.location}/metadata"
    val fsys = TableMetadata.fs(metaDir, conf)
    fsys.mkdirs(new Path(metaDir))
    val tmp = new Path(metaDir, s".v$version.metadata.json.tmp${UUID.randomUUID().toString.take(8)}")
    val fin = new Path(metaDir, s"v$version.metadata.json")
    val out = fsys.create(tmp, true)
    out.write(TableMetadata.toJson(meta).getBytes(StandardCharsets.UTF_8))
    out.close()
    val published =
      if ("file" == Option(fin.toUri.getScheme).getOrElse(fsys.getUri.getScheme)) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fin.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fsys.delete(tmp, false); true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !fsys.exists(fin) && fsys.rename(tmp, fin)
    if (!published) {
      fsys.delete(tmp, false)
      throw new ConcurrentCommitException(s"Concurrent commit detected: $fin already exists")
    }
    val hint = fsys.create(new Path(metaDir, "version-hint.text"), true)
    hint.write(version.toString.getBytes(StandardCharsets.UTF_8))
    hint.close()
  }
}
