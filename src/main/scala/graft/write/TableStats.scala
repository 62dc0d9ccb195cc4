package graft.write

import graft.core._
import graft.manifest.FileContent
import graft.read.{IcebergRead, Puffin, ReadOptions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.ByteBuffer

/**
 * Table-statistics computation: an ANALYZE-style pass that writes a Puffin
 * statistics file carrying per-column NDV estimates and registers it in
 * table metadata's `statistics` field (Iceberg spec "Table statistics").
 *
 * The reference round-trips the `statistics` metadata field through its
 * REST bindings (src/rest_catalog/objects/statistics_file.cpp) but ships
 * no ANALYZE; this module closes the loop Spark-side so graft-written
 * tables feed their own CBO column statistics (GraftScan.columnStats):
 * at 100 TB, NDV is what lets join planning distinguish a 50-value status
 * column from a unique key — selectivity estimates that decide broadcast
 * vs shuffle before any data moves.
 *
 * NDV is computed distributed (`approx_count_distinct`, a HyperLogLog++
 * partial-merge aggregate — one pass, no shuffle of row data, only sketch
 * merge); the driver receives one row of counts. Blob payloads use graft's
 * own `graft-ndv-v1` type (8-byte big-endian count) rather than fake
 * theta-sketch bytes: per the Puffin spec readers skip unknown blob types,
 * and the `ndv` blob-metadata property — which interoperating readers
 * (and graft itself) consume — is populated either way.
 */
object TableStats {

  case class Result(statisticsPath: String, ndv: Map[String, Long], meta: TableMetadata)

  /** Column types NDV is computed for: primitives with well-defined
    * equality that Spark can aggregate directly. */
  private def countable(t: IcebergType): Boolean = t match {
    case IcebergTypes.BooleanT | IcebergTypes.IntT | IcebergTypes.LongT |
        IcebergTypes.FloatT | IcebergTypes.DoubleT | IcebergTypes.DateT |
        IcebergTypes.TimeT | IcebergTypes.TimestampT | IcebergTypes.TimestampTzT |
        IcebergTypes.TimestampNsT | IcebergTypes.TimestampTzNsT |
        IcebergTypes.StringT | IcebergTypes.UuidT => true
    case _: IcebergTypes.DecimalT => true
    case _ => false
  }

  case class PartitionStatsResult(statisticsPath: String, partitions: Long, meta: TableMetadata)

  /** Write a partition-statistics file for the CURRENT snapshot per the
    * Iceberg spec's "Partition statistics file" schema (field ids 1-12:
    * unified partition tuple, spec_id, data/delete record+file counts,
    * sizes) and register it under the `partition-statistics` metadata
    * field. Aggregated from manifest entries — no data file is opened.
    * At 100 TB this file is what lets engines answer per-partition
    * row-count / size questions without walking manifests. */
  def computePartitionStats(spark: SparkSession, path: String): PartitionStatsResult = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    IcebergRead.ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"compute_partition_stats: no current snapshot at $path"))
    val p = IcebergRead.planWithMetadata(spark, meta, conf, graft.read.ReadOptions())

    def fid(id: Int): Metadata =
      new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()
    // Unified partition tuple: the union of all specs' fields by field id.
    val allSpecs = meta.specs
    val unified: Seq[(PartitionField, IcebergType)] =
      allSpecs.flatMap(_.fields).groupBy(_.fieldId).toSeq.sortBy(_._1).map(_._2.head)
        .map(pf => pf -> pf.transform.resultType(
          meta.currentSchema.idToField(pf.sourceId).fieldType))
    val partStruct = StructType(unified.map { case (pf, t) =>
      StructField(pf.name, t.toSpark, nullable = true, fid(pf.fieldId)) })
    val schema = StructType(Seq(
      StructField("partition", partStruct, nullable = false, fid(1)),
      StructField("spec_id", IntegerType, nullable = false, fid(2)),
      StructField("data_record_count", LongType, nullable = false, fid(3)),
      StructField("data_file_count", IntegerType, nullable = false, fid(4)),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false, fid(5)),
      StructField("position_delete_record_count", LongType, nullable = true, fid(6)),
      StructField("position_delete_file_count", IntegerType, nullable = true, fid(7)),
      StructField("equality_delete_record_count", LongType, nullable = true, fid(8)),
      StructField("equality_delete_file_count", IntegerType, nullable = true, fid(9)),
      StructField("total_record_count", LongType, nullable = true, fid(10))))

    def tupleOf(specId: Int, values: Seq[Any]): Row = {
      val spec = meta.spec(specId)
      val byFieldId = spec.fields.map(_.fieldId).zip(values).toMap
      Row.fromSeq(unified.map { case (pf, t) =>
        byFieldId.get(pf.fieldId).map(v => SingleValue.toSparkValue(v, t)).orNull })
    }
    val groups = (p.dataFiles.map(f => (f.specId, f.info.partitionValues, f)) ++
      p.deleteFiles.map(f => (f.specId, f.info.partitionValues, f)))
      .groupBy { case (sid, vals, _) => (sid, vals.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }) }
    val rows = groups.toSeq.map { case ((sid, _), files0) =>
      val files = files0.map(_._3)
      val data = files.filter(_.info.content == 0)
      val pos = files.filter(f => f.info.content == FileContent.PositionDeletes)
      val eq = files.filter(f => f.info.content == FileContent.EqualityDeletes)
      val dataRecords = data.map(_.info.recordCount).sum
      val posRecords = pos.map(_.info.recordCount).sum
      Row(
        tupleOf(sid, files0.head._3.info.partitionValues),
        sid, dataRecords, data.size,
        data.map(_.info.fileSizeInBytes).sum,
        posRecords, pos.size,
        eq.map(_.info.recordCount).sum, eq.size,
        // Exact post-delete count only when no equality deletes muddy it.
        if (eq.isEmpty) dataRecords - posRecords else null)
    }

    val statsPath =
      s"${meta.location}/metadata/partition-stats-${snap.snapshotId}-${java.util.UUID.randomUUID()}.parquet"
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(schema)
    val size = TaskWriter.writeFile(spark, statsPath, schema,
      rows.iterator.map(r => toInternal(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]), conf)

    val entry = PartitionStatisticsFile(snap.snapshotId, statsPath, size)
    val newMeta = meta.copy(
      partitionStatistics =
        meta.partitionStatistics.filterNot(_.snapshotId == snap.snapshotId) :+ entry,
      lastUpdatedMs = System.currentTimeMillis())
    val committed = IcebergWrite.commitMetadataNextVersion(newMeta, conf)
    PartitionStatsResult(statsPath, rows.size.toLong, committed)
  }

  /** Compute NDV for every countable top-level column of the CURRENT
    * snapshot, write the Puffin statistics file under `metadata/`, and
    * commit metadata registering it (replacing any previous statistics
    * entry for the same snapshot). Returns the written path and counts. */
  def computeTableStats(spark: SparkSession, path: String): Result = {
    IcebergRead.ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    computeWith(spark, meta, entry => {
      val newMeta = meta.copy(
        statistics = meta.statistics.filterNot(_.snapshotId == entry.snapshotId) :+ entry,
        lastUpdatedMs = System.currentTimeMillis())
      IcebergWrite.commitMetadataNextVersion(newMeta, conf)
    })
  }

  /** The engine core, commit-agnostic: path tables commit the next metadata
    * version directly; REST tables post a `set-statistics` update. */
  def computeWith(spark: SparkSession, meta: TableMetadata,
      commit: StatisticsFile => TableMetadata): Result = {
    IcebergRead.ensureConfs(spark)
    val conf = spark.sessionState.newHadoopConf()
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException(
        s"compute_table_stats: table at ${meta.location} has no current snapshot"))
    val schema = meta.schemaFor(Some(snap))
    val cols = schema.fields.filter(f => countable(f.fieldType))
    if (cols.isEmpty)
      throw new IllegalStateException("compute_table_stats: no countable top-level columns")

    val df = IcebergRead.loadWithMetadata(spark, meta, conf, ReadOptions())
    val aggs = cols.map(f => approx_count_distinct(col(s"`${f.name}`")).as(f.name))
    // One row of per-column counts reaches the driver — never row data.
    val row = df.agg(aggs.head, aggs.drop(1): _*).collect()(0)
    val ndvByField: Seq[(IcebergTypes.NestedField, Long)] =
      cols.zipWithIndex.map { case (f, i) => f -> row.getLong(i) }

    val statsPath =
      s"${meta.location}/metadata/${snap.snapshotId}-${java.util.UUID.randomUUID()}.stats"
    val blobs = ndvByField.map { case (f, n) =>
      val payload = ByteBuffer.allocate(8).putLong(n).array()
      Puffin.BlobSpec("graft-ndv-v1", Seq(f.id), snap.snapshotId, snap.sequenceNumber,
        payload, Map("ndv" -> n.toString))
    }
    val written = Puffin.writeBlobs(statsPath, conf, blobs)
    val blobMeta = ndvByField.zip(written.blobOffsets).map { case ((f, n), _) =>
      BlobMetadata("graft-ndv-v1", snap.snapshotId, snap.sequenceNumber,
        Seq(f.id), Map("ndv" -> n.toString))
    }
    val entry = StatisticsFile(snap.snapshotId, statsPath,
      written.fileSize, written.footerSize, blobMeta)
    val committed = commit(entry)
    Result(statsPath, ndvByField.map { case (f, n) => f.name -> n }.toMap, committed)
  }
}
