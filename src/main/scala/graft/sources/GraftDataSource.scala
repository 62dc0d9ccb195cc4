package graft.sources

import graft.core.{SnapshotLookup, TableMetadata}
import graft.read.{IcebergRead, ReadOptions, ScanPlan}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * DataSourceV2 front-end: `spark.read.format("graft").load(path)`.
 *
 * The reference exposes its scan as a SQL table function
 * (`iceberg_scan(...)`, src/iceberg_extension.cpp:135-162); the Spark-native
 * equivalent is a TableProvider. Catalyst pushes filters + required columns
 * into the ScanBuilder; accepted filters drive manifest/file/stats pruning
 * in [[graft.read.Pruning]] BEFORE any parquet footer is opened, and flow
 * into the inner parquet scans (so parquet row-group pushdown still applies).
 * The scan itself is the composed merge-on-read DataFrame plan (deletes,
 * field-id projection, defaults), bridged through [[V1Scan]] — rebuilding
 * Spark's vectorized parquet reader inside a custom Batch would duplicate
 * the engine, not use it.
 *
 * Options: `snapshot-id`, `as-of-timestamp` (ms), `metadata-version`;
 * incremental reads via `start-snapshot-id` / `end-snapshot-id` (appended
 * rows only, the Iceberg-Spark convention) and `changelog=true` (row-level
 * CDC with `_change_type` / `_commit_snapshot_id` / `_change_ordinal`,
 * see [[graft.streaming.Streams.changesBetween]]).
 */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"
  /** A user-specified schema is honored (projected by name onto the
    * table's field-id plan) — required for `readStream.schema(...)`, which
    * the pre-DSv2 streaming source accepted. */
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(m: java.util.Map[String, String]): String = {
    val p = m.get("path")
    require(p != null, "graft source requires a path: spark.read.format(\"graft\").load(path)")
    p
  }

  // ---- Structured Streaming micro-batch SOURCE: DSv2 route ----
  // `spark.readStream.format("graft").load(path)` resolves through
  // TableProvider -> GraftTable (MICRO_BATCH_READ capability) ->
  // GraftScan.toMicroBatchStream — the public connector streaming contract.

  // ---- Structured Streaming micro-batch sink (SURVEY §2.9) ----
  // `df.writeStream.format("graft").option("path", table).start()`: each
  // micro-batch commits one APPEND snapshot. The target table must already
  // exist (create it with IcebergWrite.createTable / CREATE TABLE).

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode " +
        "(aggregate in the table, not the stream, or use foreachBatch + MERGE)")
    require(partitionColumns.isEmpty,
      "graft sink ignores partitionBy; partitioning comes from the table's partition spec")
    new GraftStreamSink(ctx.sparkSession, parameters("path"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    incrementalTable(options).map(_.schema()).getOrElse {
      val spark = SparkSession.active
      val conf = spark.sessionState.newHadoopConf()
      val opts = GraftDataSource.readOptions(options)
      val meta = TableMetadata.load(pathOf(options), conf, opts.metadataVersion, opts.versionNameFormat)
      val schema = opts.lookup match {
        case SnapshotLookup.Latest => meta.currentSchema
        case _ => meta.schemaFor(meta.selectSnapshot(opts.lookup))
      }
      schema.toSpark
    }

  /** `start-snapshot-id` / `end-snapshot-id` / `changelog` turn the load
    * into a snapshot-range read: appended rows only by default, row-level
    * CDC when `changelog=true`. Mutually exclusive with point-in-time
    * options — a range and a single snapshot contradict each other. */
  private def incrementalTable(m: java.util.Map[String, String]): Option[Table] = {
    val start = Option(m.get("start-snapshot-id")).map(_.toLong)
    val end = Option(m.get("end-snapshot-id")).map(_.toLong)
    val cdc = Option(m.get("changelog")).exists(_.toBoolean)
    if (start.isEmpty && end.isEmpty && !cdc) None
    else {
      require(m.get("snapshot-id") == null && m.get("as-of-timestamp") == null,
        "snapshot-id/as-of-timestamp cannot combine with start-snapshot-id/end-snapshot-id/changelog")
      val path = pathOf(m)
      val kind = if (cdc) "changes" else "incremental"
      Some(new graft.catalog.DataFrameBackedTable(s"graft.$kind.`$path`", () => {
        val spark = SparkSession.active
        if (cdc) graft.streaming.Streams.changes(spark, path, start, end)
        else graft.streaming.Streams.appendsRange(spark, path, start, end)
      }))
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    incrementalTable(properties)
      .getOrElse(new GraftTable(pathOf(properties), schema))
}

private[graft] object GraftTable {
  val LineageColumns: Array[String] = Array("_row_id", "_last_updated_sequence_number")
}

object GraftDataSource {
  /** Last executed scan's (kept data files, total live data files) — a
    * diagnostic hook for plan-quality tests and metrics. */
  @volatile var lastScanFiles: Option[(Int, Int)] = None

  private[sources] def readOptions(options: java.util.Map[String, String]): ReadOptions = ReadOptions(
    snapshotId = Option(options.get("snapshot-id")).map(_.toLong),
    asOfTimestampMs = Option(options.get("as-of-timestamp")).map(_.toLong),
    metadataVersion = Option(options.get("metadata-version")),
    versionNameFormat = Option(options.get("version-name-format"))
      .orElse(Option(options.get("version_name_format"))))
}

/** `path` may be a table directory OR a direct `.metadata.json` location
  * (how the SQL catalog resolves REST-loaded tables). `baseOpts` carries
  * catalog-level time travel (`VERSION AS OF` / `TIMESTAMP AS OF`);
  * per-scan options override it. `appendFn` overrides how INSERTs commit
  * (REST-catalog tables commit through the REST transaction path); the
  * default appends to the table path through the engine write path. */
private[graft] class GraftTable(path: String, tableSchema: StructType,
    baseOpts: ReadOptions = ReadOptions(), displayName: Option[String] = None,
    preloaded: Option[TableMetadata] = None,
    appendFn: Option[org.apache.spark.sql.DataFrame => Unit] = None,
    restDmlOps: Option[graft.write.Dml.TableOps] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  // Table construction happens at analysis time — early enough that the
  // stats rule is in the optimizer's batch list when THIS query optimizes
  // (registering at scan-build time is too late: pushdown runs mid-batch).
  // getActiveSession: tables can be constructed from threads with no
  // active session (e.g. a catalog listing pool) — skip, don't throw;
  // the rule registers on first use from a query thread.
  SparkSession.getActiveSession.foreach(GraftScanStatistics.register)
  override def name(): String = displayName.getOrElse(s"graft.`$path`")
  override def schema(): StructType = tableSchema
  /** Table location, for the SQL DML rewrite (graft.catalog.GraftSparkExtensions). */
  private[graft] def tablePath: String = path

  /** v3 row-lineage virtual columns, SQL-addressable
    * (`SELECT _row_id FROM t`) — NULL on v2 tables and on pre-upgrade rows,
    * mirroring the reference's behavior in its upgrade tests. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftTable.LineageColumns.map { n =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = true
      }
    }
  /** How SQL DELETE/UPDATE/MERGE load + commit this table: REST-named tables
    * commit through the catalog transaction, path tables by metadata rename. */
  private[graft] def dmlOps: graft.write.Dml.TableOps =
    restDmlOps.getOrElse(graft.write.Dml.PathOps(path))
  /** Scan with `_g_path`/`_g_pos` file-position columns — the row-identity
    * surface subquery DELETE/UPDATE lower onto. `withLineage` adds
    * `_row_id` on v3 tables (updates must carry row ids through). */
  private[graft] def metaScanDF(spark: SparkSession,
      withLineage: Boolean = false): org.apache.spark.sql.DataFrame = {
    IcebergRead.ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val meta = dmlOps.load(conf)
    IcebergRead.loadWithMetadata(spark, meta, conf,
      baseOpts.copy(keepFileMeta = true,
        withRowLineage = withLineage && meta.formatVersion >= 3))
  }
  /** DML precondition shared by DELETE/UPDATE/MERGE: no time travel. */
  private[graft] def dmlRefusal(op: String): Option[String] =
    if (baseOpts.snapshotId.nonEmpty || baseOpts.asOfTimestampMs.nonEmpty)
      Some(s"cannot $op a time-traveled relation ${name()}")
    else None
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)

  /** INSERT INTO / INSERT OVERWRITE / DataFrame append — bridged to the
    * engine's write path via the V1 write fallback (the write itself is a
    * normal distributed parquet write + manifest commit; see IcebergWrite).
    * OVERWRITE is a full-table replace in one snapshot (prior state stays
    * time-travelable). Time-traveled relations refuse writes. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
            require(baseOpts.snapshotId.isEmpty && baseOpts.asOfTimestampMs.isEmpty,
              "cannot INSERT into a time-traveled relation")
            if (overwriteAll || overwrite) {
              require(appendFn.isEmpty,
                "INSERT OVERWRITE on a REST-catalog table is not supported; DELETE then INSERT")
              graft.write.IcebergWrite.overwrite(data, path)
            } else appendFn.getOrElse((df: org.apache.spark.sql.DataFrame) =>
              graft.write.IcebergWrite.append(df, path))(data)
          }
        }
      }
    }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val o = GraftDataSource.readOptions(options)
    val merged = baseOpts.copy(
      snapshotId = o.snapshotId.orElse(baseOpts.snapshotId),
      asOfTimestampMs = o.asOfTimestampMs.orElse(baseOpts.asOfTimestampMs),
      metadataVersion = o.metadataVersion.orElse(baseOpts.metadataVersion),
      versionNameFormat = o.versionNameFormat.orElse(baseOpts.versionNameFormat))
    // Kept as the raw string: parsed (and validated) only on the STREAM
    // route — a malformed value must not break batch reads that happen to
    // carry a copied streaming option.
    val streamMaxFiles = Option(options.get("maxFilesPerTrigger"))
    new GraftScanBuilder(path, tableSchema, merged, preloaded, streamMaxFiles)
  }

  /** SQL `DELETE FROM` — delegates to the engine's merge-on-read delete
    * (positional deletes on v2, Puffin deletion vectors on v3; Dml.delete).
    * Refused when any filter can't be rendered as SQL (Spark then reports
    * the DELETE as unsupported rather than deleting the wrong rows) and on
    * time-traveled relations. REST-named tables commit through the catalog
    * transaction ([[dmlOps]]). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    dmlRefusal("DELETE").isEmpty && filters.forall(f => FilterSql.convert(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(canDeleteWhere(filters),
      s"${name()} cannot DELETE WHERE ${filters.mkString(" AND ")}")
    val condSql =
      if (filters.isEmpty) "TRUE" // DELETE FROM t (also backs TRUNCATE)
      else filters.flatMap(FilterSql.convert).map(p => s"($p)").mkString(" AND ")
    graft.write.Dml.delete(SparkSession.active, dmlOps, condSql)
  }
}

private[sources] class GraftScanBuilder(path: String, tableSchema: StructType, opts: ReadOptions,
    preloaded: Option[TableMetadata] = None,
    streamMaxFiles: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggScan: Option[GraftLocalAggScan] = None

  /** Record every filter we can express as SQL (they drive metadata pruning
    * + parquet pushdown); return ALL filters as residual — Spark re-applies
    * them, which keeps semantics exact even where stats pruning is
    * conservative. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => FilterSql.convert(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Metadata-only aggregate pushdown: unfiltered, ungrouped COUNT(*) /
    * COUNT(col) / MIN / MAX answered from manifest counts and bounds
    * without opening a single data file — the SQL-surface generalization
    * of the reference's count(*) fast path
    * (iceberg_multi_file_list.cpp:332-364). Refused (falls back to a
    * normal scan) whenever the answer could be inexact: deletes pending,
    * any file missing the needed count/bound, string/binary bounds (may be
    * truncated on write), float/double with NaNs (NaN is outside bounds). */
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryAgg(agg).isDefined
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggScan = tryAgg(agg)
    aggScan.isDefined
  }

  private def tryAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[GraftLocalAggScan] = try {
    import graft.core.IcebergTypes
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.groupByExpressions.nonEmpty || accepted.nonEmpty || opts.filterSql.isDefined) return None
    val spark = SparkSession.getActiveSession.getOrElse(return None)
    IcebergRead.ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val p = preloaded match {
      case Some(m) => IcebergRead.planWithMetadata(spark, m, conf, opts)
      case None => GraftScan.cachedPlan(spark, path, conf, opts)
    }
    if (p.deleteFiles.nonEmpty) return None
    val files = p.dataFiles
    val byName = p.schema.fields.map(f => f.name -> f).toMap

    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[IcebergTypes.NestedField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => byName.get(nr.fieldNames()(0))
        case _ => None
      }
    // Bounds usable as exact MIN/MAX: fixed-width comparable types only;
    // float/double additionally need proven-zero NaN counts in every file.
    def exactBounds(f: IcebergTypes.NestedField): Boolean = f.fieldType match {
      case IcebergTypes.BooleanT | IcebergTypes.IntT | IcebergTypes.LongT |
          IcebergTypes.DateT | IcebergTypes.TimeT | IcebergTypes.TimestampT |
          IcebergTypes.TimestampTzT | IcebergTypes.TimestampNsT |
          IcebergTypes.TimestampTzNsT | _: IcebergTypes.DecimalT => true
      case IcebergTypes.FloatT | IcebergTypes.DoubleT =>
        files.forall(pf => pf.info.nanValueCounts.get(f.id).contains(0L))
      case _ => false
    }
    def extremum(f: IcebergTypes.NestedField, lower: Boolean): Option[Option[Any]] =
      if (exactBounds(f)) GraftScan.boundExtreme(files, f, lower) else None

    val results: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count(*)", org.apache.spark.sql.types.LongType, nullable = false),
          files.map(_.info.recordCount).sum))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).flatMap { f =>
          val vc = files.map(_.info.valueCounts.get(f.id))
          val nc = files.map(_.info.nullValueCounts.get(f.id))
          if (vc.forall(_.isDefined) && nc.forall(_.isDefined))
            Some((StructField(s"count(${f.name})", org.apache.spark.sql.types.LongType, nullable = false),
              vc.flatMap(x => x).sum - nc.flatMap(x => x).sum))
          else None
        }
      case m: Min =>
        fieldOf(m.column).flatMap(f => extremum(f, lower = true).map(v =>
          (StructField(s"min(${f.name})", f.fieldType.toSpark), v.orNull)))
      case m: Max =>
        fieldOf(m.column).flatMap(f => extremum(f, lower = false).map(v =>
          (StructField(s"max(${f.name})", f.fieldType.toSpark), v.orNull)))
      case _ => None
    }
    if (results.exists(_.isEmpty)) return None
    val flat = results.flatten
    Some(new GraftLocalAggScan(StructType(flat.map(_._1)),
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(flat.map(_._2).toArray)))
  } catch { case scala.util.control.NonFatal(_) => None }

  override def build(): Scan =
    aggScan.getOrElse(new GraftScan(path, required, accepted, opts, preloaded,
      streamMaxFiles = streamMaxFiles))
}

/** One-row driver-side scan carrying a metadata-answered aggregate. */
private[sources] class GraftLocalAggScan(schema: StructType,
    row: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
  override def readSchema(): StructType = schema
  override def description(): String = "GraftMetadataAggregate"
}

private[sources] class GraftScan(path: String, required: StructType,
    pushed: Array[Filter], opts: ReadOptions,
    preloaded: Option[TableMetadata] = None,
    /** Predicates Catalyst cannot push as `Filter`s (geometry bbox UDF) —
      * injected by [[GraftScanStatistics]] from the residual Filter node so
      * file-level pruning still sees them on the SQL route. */
    private[sources] val extraFilterSql: Option[String] = None,
    /** `maxFilesPerTrigger` (raw) for the micro-batch stream route. */
    streamMaxFiles: Option[String] = None)
    extends V1Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  private val filterSql: Option[String] = {
    val parts = pushed.flatMap(FilterSql.convert) ++ extraFilterSql
    if (parts.isEmpty) None else Some(parts.map(p => s"($p)").mkString(" AND "))
  }

  private[sources] def withExtraFilter(sql: String): GraftScan =
    new GraftScan(path, required, pushed, opts, preloaded,
      Some(extraFilterSql.fold(sql)(e => s"($e) AND ($sql)")), streamMaxFiles)
  private val needLineage = required.fieldNames.exists(GraftTable.LineageColumns.contains)
  private val effOpts =
    opts.copy(filterSql = filterSql, withRowLineage = opts.withRowLineage || needLineage)
  override def readSchema(): StructType = required

  /** Planned once, at whichever comes first of stats estimation (Catalyst
    * optimization) and execution — manifests are not re-read for the other.
    * Path tables additionally hit the process-wide [[GraftScan.cachedPlan]]
    * keyed on (metadata file, options): a self-join materializes one
    * GraftScan per table reference, and without the cache each re-plans the
    * same manifests — driver-side cost that multiplies on big tables. */
  private[sources] lazy val plannedOnce: ScanPlan = {
    val spark = SparkSession.active
    IcebergRead.ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    preloaded match {
      case Some(m) => IcebergRead.planWithMetadata(spark, m, conf, effOpts)
      case None => GraftScan.cachedPlan(spark, path, conf, effOpts)
    }
  }

  /** Accurate post-pruning size/row estimates from manifest stats, so join
    * planning sees real table sizes instead of falling back to conservative
    * defaults — at scale this is what lets a filtered dimension broadcast
    * and prevents a fact table from ever being elected as a build side.
    * Under merge-on-read deletes the row count is ESTIMATED as data rows
    * minus delete-entry rows (positional counts / DV cardinalities /
    * equality key rows), floored at 0 — the same data-minus-deletes
    * estimate the reference advertises to its optimizer
    * (iceberg_cardinality_estimates.test expects ~60,175 for 60,175 live
    * rows).
    *
    * Column-level statistics (consumed by Spark CBO when
    * `spark.sql.cbo.enabled` is set): null counts and min/max aggregated
    * from the SURVIVING files' manifest entries (post-pruning, so a
    * filtered scan advertises filtered ranges), NDV from the table's
    * statistics (Puffin) file when one is registered for the scanned
    * snapshot — the `statistics` metadata field other engines' ANALYZE
    * writes and graft's own compute_table_stats produces. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val p = plannedOnce
    val bytes = p.dataFiles.map(_.info.fileSizeInBytes).sum
    val rows = p.dataFiles.map(_.info.recordCount).sum
    val hasDeletes = p.deleteFiles.nonEmpty
    // Positional/DV delete recordCount ≈ deleted rows, so data-minus-deletes
    // is a sound estimate. An EQUALITY delete's recordCount counts PREDICATE
    // rows — one predicate row can delete arbitrarily many data rows — so
    // the subtraction bounds nothing in either direction (it overestimates
    // live rows when predicates fan out, and overlapping deletes can floor a
    // large table at 0, handing CBO a zero row count). With equality deletes
    // in the scan, decline the estimate instead of mis-stating it.
    val hasEqDeletes = p.deleteFiles.exists(
      _.info.content == graft.manifest.FileContent.EqualityDeletes)
    val estRows = math.max(0L, rows - p.deleteFiles.map(_.info.recordCount).sum)
    val colStats = GraftScan.buildColumnStats(p, required,
      if (hasDeletes) None else Some(rows))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        if (hasEqDeletes) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(estRows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  override def description(): String =
    s"GraftIcebergScan path=$path pushed=[${filterSql.getOrElse("")}] columns=[${required.fieldNames.mkString(",")}]"

  /** The assembled merge-on-read DataFrame, projected to the required
    * columns — shared by the V1 bridge's buildScan and the plan
    * substitution in [[GraftScanStatistics]]. */
  private[sources] def assembleProjected(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    IcebergRead.ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val p = plannedOnce
    GraftDataSource.lastScanFiles = Some((p.dataFiles.size, p.totalDataFiles))
    val df = IcebergRead.assemble(spark, p, conf, effOpts)
    if (required.fieldNames.isEmpty) df
    else df.select(required.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftRelation(context, required, effOpts, this).asInstanceOf[T]

  /** DSv2 micro-batch stream (public connector streaming contract —
    * offsets, admission control, AvailableNow). The maxFilesPerTrigger
    * value is validated HERE, on the stream route only. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val maxFiles = streamMaxFiles.map { s =>
      val n = try s.trim.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"Invalid maxFilesPerTrigger: '$s'")
      }
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
    new GraftMicroBatchStream(path, required, maxFiles)
  }
}

private[sources] object GraftScan {
  import graft.core.{IcebergType, IcebergTypes, SingleValue}
  import graft.read.ScanPlan
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics

  /** Process-wide scan-plan cache. The key's metadata FILE path is the
    * freshness token: Iceberg metadata files are immutable and every commit
    * publishes the next version, so resolving the current file (one cheap
    * FS probe — version hint or directory listing, no manifest IO) is
    * enough to know whether a cached plan is current. The file's
    * (length, mtime) is folded into the key too: DROP + re-CREATE at the
    * same location reproduces the same deterministic v1.metadata.json NAME
    * for a different table, and serving the old plan would silently read
    * deleted files. Bounded LRU; stale versions age out. */
  private val planCache =
    new java.util.LinkedHashMap[(String, Long, Long, graft.read.ReadOptions), ScanPlan](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, graft.read.ReadOptions), ScanPlan]): Boolean = size() > 32
    }

  def cachedPlan(spark: SparkSession, path: String,
      conf: org.apache.hadoop.conf.Configuration,
      opts: graft.read.ReadOptions): ScanPlan = {
    val metaFile =
      try graft.core.TableMetadata.findMetadataFile(path, conf, opts.metadataVersion, opts.versionNameFormat)
      catch { case _: Exception => return IcebergRead.plan(spark, path, opts) }
    val st =
      try {
        val p = new org.apache.hadoop.fs.Path(metaFile)
        val s = p.getFileSystem(conf).getFileStatus(p)
        (s.getLen, s.getModificationTime)
      } catch { case _: Exception => (-1L, -1L) }
    val key = (metaFile, st._1, st._2, opts)
    planCache.synchronized(Option(planCache.get(key))) match {
      case Some(p) => p
      case None =>
        val p = IcebergRead.plan(spark, path, opts)
        planCache.synchronized(planCache.put(key, p))
        p
    }
  }

  /** TimestampNTZ (Iceberg `timestamp` / `timestamp_ns`) columns get NO
    * column statistics at all: Spark's FilterEstimation.evaluateBinary
    * matches on the attribute's type with no TimestampNTZType case, so ANY
    * ColumnStat entry (even count-only) on an NTZ column crashes CBO
    * planning with a MatchError when the query ranges over it (verified on
    * Spark 4.1, tq7's l_shipdate filter). */
  private def cboSafe(t: IcebergType): Boolean = t match {
    case IcebergTypes.TimestampT | IcebergTypes.TimestampNsT => false
    case _ => true
  }

  /** Types whose manifest bounds deserialize to values Spark's estimation
    * layer can compare/convert (Catalyst-internal forms: date = days Int,
    * timestamps = micros Long). Strings/binary are excluded — bounds may be
    * truncated on write, and CBO range math doesn't use them. */
  private def hasStatBounds(t: IcebergType): Boolean = t match {
    case IcebergTypes.BooleanT | IcebergTypes.IntT | IcebergTypes.LongT |
        IcebergTypes.FloatT | IcebergTypes.DoubleT | IcebergTypes.DateT |
        IcebergTypes.TimestampTzT | IcebergTypes.TimestampTzNsT | _: IcebergTypes.DecimalT => true
    case _ => false
  }

  /** Min (`lower`) or max of field `f` over the files' bounds, ordered by
    * [[SingleValue.compare]]; decimals come back as Spark `Decimal`. A file
    * whose column is all-null has no bound and contributes nothing (Iceberg
    * writes none); any other missing bound makes the result unknown (None).
    * Some(None) when no file contributes. */
  private[sources] def boundExtreme(files: Seq[graft.read.PlannedFile], f: IcebergTypes.NestedField,
      lower: Boolean): Option[Option[Any]] = {
    val bounds = files.filterNot(pf => pf.info.nullValueCounts.get(f.id).contains(pf.info.recordCount))
      .map(pf => (if (lower) pf.info.lowerBounds else pf.info.upperBounds).get(f.id))
    if (!bounds.forall(_.isDefined)) None
    else if (bounds.isEmpty) Some(None)
    else {
      val vals = bounds.map(b => SingleValue.deserialize(b.get, f.fieldType))
      Some(Some((if (lower) vals.min(SingleValue.ordering) else vals.max(SingleValue.ordering)) match {
        case d: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(d)
        case v => v
      }))
    }
  }

  /** Aggregate per-column stats over the SURVIVING data files: min/max =
    * extremes of the files' bounds (every file must carry the bound — a
    * single stats-less file makes the range unknown), nullCount = sum
    * (skipped under deletes: removed rows would overcount), NDV = table
    * statistics file, capped at the post-pruning row count. */
  def buildColumnStats(p: ScanPlan, required: StructType, rows: Option[Long])
      : java.util.Map[NamedReference, ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val files = p.dataFiles
    if (files.isEmpty) return out
    val ndv = p.snapshot.map(s => p.meta.ndvFor(s.snapshotId)).getOrElse(Map.empty[Int, Long])
    val wanted = required.fieldNames.toSet
    p.schema.fields.iterator
      .filter(f => wanted.contains(f.name) && cboSafe(f.fieldType)).foreach { f =>
      val id = f.id
      val nulls: Option[Long] = rows.flatMap { _ =>
        val counts = files.map(_.info.nullValueCounts.get(id))
        if (counts.forall(_.isDefined)) Some(counts.flatMap(x => x).sum) else None
      }
      def extreme(lower: Boolean): Option[Any] =
        if (hasStatBounds(f.fieldType)) boundExtreme(files, f, lower).flatten else None
      val minV = extreme(lower = true)
      val maxV = extreme(lower = false)
      val dc: Option[Long] = ndv.get(id).map(n => rows.fold(n)(r => math.min(n, r)))
      if (nulls.isDefined || minV.isDefined || maxV.isDefined || dc.isDefined) {
        out.put(Expressions.column(f.name), new ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            dc.map(java.util.OptionalLong.of(_)).getOrElse(java.util.OptionalLong.empty())
          override def min(): java.util.Optional[Object] =
            minV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          override def max(): java.util.Optional[Object] =
            maxV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          override def nullCount(): java.util.OptionalLong =
            nulls.map(java.util.OptionalLong.of(_)).getOrElse(java.util.OptionalLong.empty())
        })
      }
    }
    out
  }
}

private[sources] class GraftRelation(context: SQLContext,
    required: StructType, opts: ReadOptions,
    scan: GraftScan) extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def schema: StructType = required
  override def toString: String =
    s"GraftIcebergScan pushed=[${opts.filterSql.getOrElse("")}] columns=[${required.fieldNames.mkString(",")}]"
  /** The inner DataFrame's rows flow through as InternalRow (Spark's V1
    * contract: `needConversion=false` means buildScan's RDD[Row] actually
    * carries InternalRows). The default external-Row detour deserializes
    * and re-serializes EVERY row at the bridge — at sf1 that is seconds of
    * pure conversion on a fact-table scan; at 100 TB it is the difference
    * between a pass-through plan and a per-row tax. */
  override val needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    scan.assembleProjected(context.sparkSession).queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** The V1Scan bridge hides `SupportsReportStatistics` from Catalyst —
  * `V2ScanRelationPushDown` wraps the scan in a `V1ScanWrapper` that
  * implements only `Scan`, so `DataSourceV2ScanRelation.computeStats`
  * falls back to `defaultSizeInBytes` (2^63: "never broadcast me").
  * [[GraftScanStatistics]] restores manifest-accurate estimates by
  * swapping the wrapper for this stats-capable subclass.
  *
  * `canEqual` is overridden to break case-class equality with the plain
  * wrapper: `TreeNode.mapChildren` keeps the OLD child whenever the new
  * one compares `==`-equal, which would silently discard the swap. */
private[graft] class GraftStatsV1ScanWrapper(
    val graftScan: GraftScan,
    handledFilters: Seq[Filter],
    pushedDownOperators: org.apache.spark.sql.execution.datasources.v2.PushedDownOperators)
  extends org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper(
    graftScan, handledFilters, pushedDownOperators)
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    graftScan.estimateStatistics()
  // Unequal to the plain wrapper in BOTH directions (the case-class equals
  // only consults canEqual one way) — otherwise TreeNode.mapChildren keeps
  // the old child and the swap silently vanishes.
  override def canEqual(that: Any): Boolean = that.isInstanceOf[GraftStatsV1ScanWrapper]
  override def equals(that: Any): Boolean = that match {
    case o: GraftStatsV1ScanWrapper => o.graftScan == graftScan
    case _ => false
  }
  override def hashCode(): Int = 31 * graftScan.hashCode() + 17
}

/** Runs in the "User Provided Optimizers" batch — the only hook AFTER
  * V2ScanRelationPushDown (which creates the V1ScanWrapper) and before
  * physical join selection; extension injection points (optimizer rules,
  * pre-CBO rules) all run earlier, before the scan exists.
  *
  * Two rewrites, chosen by `spark.sql.cbo.enabled`:
  *
  *  - CBO OFF (default): SUBSTITUTE the scan relation with the assembled
  *    read's own optimized logical plan (filters already applied inside).
  *    The V1 bridge otherwise executes the inner plan to an RDD and
  *    re-scans it — two codegen pipelines and a per-row boundary where the
  *    direct API runs one fused plan. After substitution Catalyst sees the
  *    parquet relations themselves: full whole-stage codegen, and
  *    size-based broadcast still sees accurate (post-pruning) file bytes.
  *
  *  - CBO ON: keep the relation, rewrap for manifest-accurate stats — the
  *    DSv2 node is what carries rowCount + column statistics (NDV, null
  *    counts, min/max) into Catalyst's estimation, which substitution
  *    would discard.
  *
  * `transformUpWithSubqueries` so scans inside EXISTS / scalar subqueries
  * get the same treatment. */
private[graft] object GraftScanStatistics
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // DML plans (DELETE/UPDATE/MERGE rewrites, V2 writes) pattern-match the
    // relation node in their strategies — never substitute under a command.
    val isCommand = plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command])
    // Pre-pass: geometry bbox predicates are UDF calls, which the V2
    // pushdown cannot translate to source Filters — they stay in the
    // residual Filter node. Feed their SQL form into the scan so Appendix D
    // bounds prune files; the Filter stays for row-level semantics.
    val withGeo = plan.transformUpWithSubqueries {
      case f @ org.apache.spark.sql.catalyst.plans.logical.Filter(cond, r: DataSourceV2ScanRelation) =>
        r.scan match {
          case w: V1ScanWrapper => w.v1Scan match {
            case g: GraftScan =>
              val preds = bboxConjuncts(cond, r)
                .filterNot(p => g.extraFilterSql.exists(_.contains(p)))
              if (preds.isEmpty) f
              else f.copy(child =
                r.copy(scan = w.copy(v1Scan = g.withExtraFilter(preds.mkString(" AND ")))))
            case _ => f
          }
          case _ => f
        }
    }
    withGeo.transformUpWithSubqueries {
      case r: DataSourceV2ScanRelation =>
        r.scan match {
          case w: V1ScanWrapper if !w.isInstanceOf[GraftStatsV1ScanWrapper] =>
            w.v1Scan match {
              case g: GraftScan =>
                val cbo = SparkSession.getActiveSession.exists(_.sessionState.conf.cboEnabled)
                val subst = if (cbo || isCommand) None else substitute(r, g)
                subst.getOrElse(
                  r.copy(scan = new GraftStatsV1ScanWrapper(g, w.handledFilters, w.pushedDownOperators)))
              case _ => r
            }
          case _ => r
        }
    }
  }

  /** Top-level `st_intersects_bbox(col, x1, y1, x2, y2)` conjuncts of a
    * resolved filter over `rel`, rendered back to filter SQL. */
  private def bboxConjuncts(cond: org.apache.spark.sql.catalyst.expressions.Expression,
      rel: DataSourceV2ScanRelation): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Literal, ScalaUDF}
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // Non-finite constants would render as unparseable SQL ("InfinityD");
    // skip injection — the residual Filter still gives correct rows.
    def d(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Double] = (e match {
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _) => Some(v.toDouble)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case _ => None
    }).filter(v => !v.isNaN && !v.isInfinite)
    split(cond).flatMap {
      case u: ScalaUDF if u.udfName.contains("st_intersects_bbox") =>
        u.children match {
          case Seq(a: AttributeReference, e1, e2, e3, e4) if rel.outputSet.contains(a) =>
            for (x1 <- d(e1); y1 <- d(e2); x2 <- d(e3); y2 <- d(e4))
              yield s"st_intersects_bbox(`${a.name}`, ${x1}D, ${y1}D, ${x2}D, ${y2}D)"
          case _ => None
        }
      case _ => None
    }
  }

  /** Inline the assembled read plan in place of the scan relation, output
    * carried on the relation's attribute ids. Bails (None) on any shape
    * mismatch — the stats-wrapper path is always a correct fallback.
    *
    * When names, types, and nullability line up (the normal case — the
    * assembled read projects the relation's own columns), the inner plan's
    * exprIds are RENUMBERED onto the relation's rather than bridged with an
    * aliasing Project: the alias layer hid attribute lineage from every
    * downstream rule keyed on exprIds — graft's own late rules
    * (ReuseSemiAggregate's leaf-ordinal matching, the bloom rules'
    * carrier-leaf gate) silently stopped firing on DSv2-routed plans, the
    * round-12 dsv2-sentinel regression. Renumbering is a pure id
    * substitution (fresh assembled ids can't collide with analyzer ids),
    * so the substituted subtree is byte-identical in shape to the direct
    * API's plan. */
  private def substitute(r: DataSourceV2ScanRelation, g: GraftScan): Option[LogicalPlan] = {
    try {
      val spark = SparkSession.getActiveSession.getOrElse(return None)
      val inner = g.assembleProjected(spark).queryExecution.optimizedPlan
      if (inner.output.size != r.output.size) return None
      val zipped = r.output.zip(inner.output)
      if (zipped.exists { case (o, i) => o.dataType != i.dataType }) return None
      val renumberable = zipped.forall { case (o, i) =>
        o.name == i.name && (o.nullable || !i.nullable)
      }
      if (renumberable) {
        val idMap = zipped.map { case (o, i) => i.exprId -> o.exprId }.toMap
        Some(inner.transformUpWithSubqueries {
          case p => p.transformExpressions {
            // Both the DEFINITIONS (leaf outputs are AttributeReferences;
            // computed columns like _row_id are Aliases) and every
            // reference — missing the Alias case left computed output
            // columns on inner ids while their references renumbered.
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
                if idMap.contains(a.exprId) => a.withExprId(idMap(a.exprId))
            case al: Alias if idMap.contains(al.exprId) =>
              Alias(al.child, al.name)(idMap(al.exprId), al.qualifier,
                al.explicitMetadata, al.nonInheritableMetadataKeys)
          }
        })
      } else {
        val aliases: Seq[NamedExpression] = zipped.map { case (o, i) =>
          Alias(i, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }
        Some(Project(aliases, inner))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Registered idempotently whenever a [[GraftTable]] is constructed
    * (analysis time — early enough for the same query's optimization).
    * The check-and-append is synchronized: two tables constructed
    * concurrently would otherwise race the read-modify-write and drop a
    * concurrently registered optimization. */
  def register(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq this))
      spark.experimental.extraOptimizations = cur :+ this
  }
}

/** Micro-batch offset: the snapshot id plus its ordinal in the snapshot
  * log (ordinal gives cheap monotonic comparison; id gives exact replay).
  * Extends the PUBLIC connector streaming Offset. */
private[graft] case class GraftStreamOffset(snapshotId: Long, ordinal: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId,"ordinal":$ordinal}"""
}

private[graft] object GraftStreamOffset {
  private val P = """\{"snapshotId":(-?\d+),"ordinal":(-?\d+)\}""".r
  def fromJson(s: String): GraftStreamOffset = s match {
    case P(id, ord) => GraftStreamOffset(id.toLong, ord.toLong)
    case other => throw new IllegalArgumentException(s"Bad graft stream offset: $other")
  }
  def of(o: org.apache.spark.sql.connector.read.streaming.Offset): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case other => fromJson(other.json())
  }
}

/** DSv2 micro-batch stream over an Iceberg table — snapshots ARE the
  * offsets (SURVEY §2.9). Admission control (`maxFilesPerTrigger`, a
  * metadata-only capped cursor) and `Trigger.AvailableNow` ride the PUBLIC
  * connector streaming contract (`SupportsAdmissionControl` /
  * `SupportsTriggerAvailableNow`) — no internal `execution.streaming`
  * Source API, which Spark is free to break.
  *
  * Each batch materializes the incremental DataFrame (the normal scan
  * assembly: field-id projection, initial-defaults, delete application) via
  * an eager localCheckpoint, then serves the checkpointed — hence NARROW —
  * partitions through PartitionReaders. The assembly plan may contain
  * joins (delete anti-joins) whose shuffle stages must run as a
  * driver-coordinated job, which cannot happen inside foreign reader
  * tasks. Batches are incremental, so the materialization cost scales with
  * the new data, not the table; on executor loss the query replays the
  * batch from its checkpointed offset range (the DSv2 replay contract). */
private[graft] class GraftMicroBatchStream(path: String, required: StructType,
    maxFilesPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit, ReadMaxFiles}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
  import org.apache.spark.sql.catalyst.InternalRow

  private def spark = SparkSession.active
  /** Nothing-consumed-yet sentinel (a table has no ordinal -1). */
  private val StartOfStream = GraftStreamOffset(-1L, -1L)
  /** Fixed at query start under Trigger.AvailableNow: the stream drains up
    * to this offset (possibly over several rate-limited batches), no
    * further, even if the table keeps committing. */
  @volatile private var availableNowTarget: Option[GraftStreamOffset] = None
  /** The current batch's materialized rows, set by planInputPartitions and
    * consumed by createReaderFactory (the engine calls them in sequence). */
  @volatile private var batchRdd: org.apache.spark.rdd.RDD[InternalRow] = _

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): V2Offset = StartOfStream
  override def deserializeOffset(json: String): V2Offset = GraftStreamOffset.fromJson(json)

  override def latestOffset(): V2Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used — this stream implements SupportsAdmissionControl")

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val startOff = GraftStreamOffset.of(start)
    val after = if (startOff == StartOfStream) None else Some(startOff.snapshotId)
    val next = limit match {
      case m: ReadMaxFiles => graft.streaming.Streams.cappedCursor(spark, path, after, m.maxFiles())
      case _ => graft.streaming.Streams.latestCursor(spark, path)
    }
    val raw = next.map { case (id, ord) => GraftStreamOffset(id, ord) }.getOrElse(startOff)
    // AvailableNow: clamp to the target fixed at query start.
    availableNowTarget.filter(_.ordinal < raw.ordinal).getOrElse(raw)
  }

  override def reportLatestOffset(): V2Offset =
    graft.streaming.Streams.latestCursor(spark, path)
      .map { case (id, ord) => GraftStreamOffset(id, ord) }.orNull

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = graft.streaming.Streams.latestCursor(spark, path)
      .map { case (id, ord) => GraftStreamOffset(id, ord) }
      .orElse(Some(StartOfStream))

  /** Release a consumed batch's checkpointed blocks — executor storage
    * must not accumulate dead batches while the query runs. */
  private def releaseBatch(): Unit = {
    val old = batchRdd
    if (old != null) { batchRdd = null; old.unpersist(false) }
  }

  override def planInputPartitions(start: V2Offset, end: V2Offset): Array[InputPartition] = {
    releaseBatch() // previous batch was committed (or abandoned on restart)
    val s = GraftStreamOffset.of(start)
    val e = GraftStreamOffset.of(end)
    if (e == StartOfStream || e.ordinal <= s.ordinal)
      return Array.empty
    val df = graft.streaming.Streams.appendsBetween(spark, path,
      if (s == StartOfStream) None else Some(s.snapshotId), e.snapshotId)
    val projected =
      if (required.fieldNames.isEmpty) df
      else df.select(required.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val checkpointed = projected.localCheckpoint(true)
    val rdd = checkpointed.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd
    batchRdd = rdd
    rdd.partitions.map(p => GraftStreamPartition(p): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStreamReaderFactory(batchRdd)

  override def commit(end: V2Offset): Unit = releaseBatch()
  override def stop(): Unit = releaseBatch()
  override def toString: String = s"GraftMicroBatchStream[$path]"
}

/** One checkpointed partition of the current micro-batch. */
private[sources] case class GraftStreamPartition(split: org.apache.spark.Partition)
    extends org.apache.spark.sql.connector.read.InputPartition

/** Serves the eagerly-checkpointed batch RDD's partitions: blocks were
  * materialized by the driver-coordinated localCheckpoint job, so the
  * iterator here is a narrow block read (local or remote-fetched), never a
  * recomputation through shuffle stages. */
private[sources] class GraftStreamReaderFactory(
    rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val it = rdd.iterator(partition.asInstanceOf[GraftStreamPartition].split,
      org.apache.spark.TaskContext.get())
    new org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var current: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): org.apache.spark.sql.catalyst.InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** V1 streaming `Sink` into an Iceberg table: each micro-batch commits one
  * APPEND snapshot through the normal engine write path (distributed parquet
  * write, footer stats, manifest + atomic metadata commit).
  *
  * Exactly-once: Structured Streaming replays the last uncommitted batch
  * after a failure, so the sink stamps `spark.sql.streaming.queryId` +
  * `spark.sql.streaming.epochId` into each snapshot's summary (the same
  * convention Iceberg's own Spark sink uses) and skips any batch whose id is
  * <= the newest committed batch of the same query. Idempotence is thus
  * table-side state — it survives driver restarts because it rides the
  * table's own atomic snapshot commit. */
private[graft] class GraftStreamSink(spark: SparkSession, path: String)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val queryId =
      Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")).getOrElse("")
    val lastCommitted = meta.snapshots.reverseIterator.collectFirst {
      case s if s.summary.get("spark.sql.streaming.queryId").contains(queryId) &&
        s.summary.contains("spark.sql.streaming.epochId") =>
        s.summary("spark.sql.streaming.epochId").toLong
    }
    if (lastCommitted.exists(_ >= batchId)) return // replayed batch, already in the table
    graft.write.IcebergWrite.append(
      org.apache.spark.sql.GraftStreamShim.asBatchDF(data), path,
      extraSummary = Map(
        "spark.sql.streaming.queryId" -> queryId,
        "spark.sql.streaming.epochId" -> batchId.toString))
  }

  override def toString: String = s"GraftStreamSink[$path]"
}

/** Spark `Filter` -> ANSI SQL text (fed to Pruning.extractPredicates and the
  * inner scan's residual filter). Unconvertible filters return None and are
  * simply not pushed. */
private[sources] object FilterSql {
  private def lit(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some("'" + s.replace("'", "''") + "'")
    // An instant prints in UTC with its zone ('…Z'): `Timestamp.toString`
    // uses the JVM zone, which the parser would re-read in the session zone.
    case t: java.sql.Timestamp => Some(s"TIMESTAMP '${t.toInstant}'")
    case t: java.time.Instant => Some(s"TIMESTAMP '$t'")
    case t: java.time.LocalDateTime => Some(s"TIMESTAMP '${t.toString.replace("T", " ")}'")
    case d: java.sql.Date => Some(s"DATE '$d'")
    case d: java.time.LocalDate => Some(s"DATE '$d'")
    case b: Boolean => Some(b.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.toString)
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float | _: Double) => Some(n.toString)
    case _ => None
  }
  private def col(name: String): Option[String] =
    if (name.contains(".")) None // nested refs: skip (conservative)
    else Some("`" + name.replace("`", "``") + "`")

  def convert(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => for { c <- col(a); l <- lit(v) } yield s"$c = $l"
    case EqualNullSafe(a, v) => for { c <- col(a); l <- lit(v) } yield s"$c <=> $l"
    case GreaterThan(a, v) => for { c <- col(a); l <- lit(v) } yield s"$c > $l"
    case GreaterThanOrEqual(a, v) => for { c <- col(a); l <- lit(v) } yield s"$c >= $l"
    case LessThan(a, v) => for { c <- col(a); l <- lit(v) } yield s"$c < $l"
    case LessThanOrEqual(a, v) => for { c <- col(a); l <- lit(v) } yield s"$c <= $l"
    case In(a, vs) =>
      val ls = vs.map(lit)
      if (ls.isEmpty || ls.exists(_.isEmpty)) None
      else col(a).map(c => s"$c IN (${ls.flatten.mkString(", ")})")
    case IsNull(a) => col(a).map(c => s"$c IS NULL")
    case IsNotNull(a) => col(a).map(c => s"$c IS NOT NULL")
    case And(l, r) => for { a <- convert(l); b <- convert(r) } yield s"($a) AND ($b)"
    case Or(l, r) => for { a <- convert(l); b <- convert(r) } yield s"($a) OR ($b)"
    case Not(c) => convert(c).map(s => s"NOT ($s)")
    case StringStartsWith(a, v) =>
      for { c <- col(a); l <- lit(v + "%") } yield s"$c LIKE $l"
    case _ => None
  }
}
