package graft.sources

import graft.read.{ManifestFileIndex, PlannedFile, PositionDeletes, ScanPlan, TaskDeleteFiles}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.{FilePartitionReader, FilePartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, Decimal, LongType, MapType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** How [[GraftScan]]'s reader reads a scan. `dataSchema` is the scan's
  * output columns as parquet reads them (field ids, all nullable); `slots`
  * are the output ordinals that some file fills with a constant. */
private[sources] case class ReadLayout(dataSchema: StructType, slots: Array[Int],
    files: Seq[ReaderFile])

/** One data file of a [[ReadLayout]]: `constants` holds one value per
  * constant slot, and `lacks` marks the slots this file fills from
  * `constants` because it lacks the column. */
private[sources] case class ReaderFile(file: PlannedFile, constants: Array[Any],
    lacks: Array[Boolean])

/** The reader behind [[GraftScan]]: Spark's parquet reader per data file,
  * with graft's column mapping and deletes on top. This file holds all of
  * the Spark-internal API the scan uses (Spark 4.1.2:
  * `ParquetPartitionReaderFactory(sqlConf, broadcastConf, dataSchema,
  * readDataSchema, partitionSchema, filters, aggregation, options)`,
  * `FilePartitionReaderFactory`, `FilePartition`, `PartitionedFile`).
  *
  * Each file is read with one schema: the scan's columns by field id, then
  * Spark's row-index column when the scan has deletes. Columns some file
  * lacks and reads as a constant (an identity-partition value or an initial
  * default) also enter as partition values, one per constant slot; per
  * file, each output column comes from the parquet column or from its
  * slot. Row positions go through the file's deletion bitmap, and batches
  * pass on as views of their live rows. */
private[sources] object GraftParquetRead {
  private val Lacks = "graft.lacks"
  private val Recorded = "graft.recorded"

  /** The input partitions and reader factory of scan `p` read as
    * `layout`, with `filters` pushed into the parquet reader. `conf` is the
    * session's Hadoop conf, which this takes over. */
  def plan(spark: SparkSession, conf: Configuration, p: ScanPlan, layout: ReadLayout,
      filters: Array[Filter]): (Array[InputPartition], GraftReaderFactory) = {
    val sqlConf = spark.sessionState.conf
    val ReadLayout(dataSchema, slots, files) = layout
    // The layout leaves equality deletes to the assembled read, so every
    // delete file here is a position-delete file or a DV.
    val withDeletes = p.deleteFiles.nonEmpty
    val readSchema =
      if (withDeletes) dataSchema.add(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
      else dataSchema
    val constSchema = StructType(slots.toSeq.zipWithIndex.map { case (j, k) =>
      StructField(s"_graft_const_$k", dataSchema(j).dataType, nullable = true)
    })
    // What Spark's ParquetScan.createReaderFactory sets for its readers.
    val json = readSchema.json
    conf.set("parquet.read.support.class", classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val broadcastConf = PositionDeletes.broadcastConf(spark, conf)
    val parquet = ParquetPartitionReaderFactory(sqlConf, broadcastConf, readSchema, readSchema,
      constSchema, filters, None, new ParquetOptions(Map.empty[String, String], sqlConf))
    val deletes = PositionDeletes.of(p, broadcastConf)
    val factory = new GraftReaderFactory(parquet, dataSchema.length,
      if (withDeletes) dataSchema.length else -1, slots, deletes)

    // Spark's own split rule over the manifest's file sizes: nothing is
    // listed or stat'ed.
    val statuses = ManifestFileIndex.statuses(files.map(_.file), conf)
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray)))
    val splits = files.zip(statuses).flatMap { case (f, st) =>
      val size = st.getLen
      val meta: Map[String, Any] = Map(Lacks -> f.lacks) ++
        deletes.filter(_.covers(f.file)).map(_ => Recorded -> f.file.recordedPath)
      val values = new GenericInternalRow(f.constants)
      (0L until math.max(size, 1L) by maxSplit).map { off =>
        PartitionedFile(values, SparkPath.fromPath(st.getPath), off, math.min(maxSplit, size - off),
          Array.empty[String], 0L, size, meta)
      }
    }.sortBy(-_.length)
    (FilePartition.getFilePartitions(spark, splits, maxSplit).toArray[InputPartition], factory)
  }

  private[sources] def lacks(f: PartitionedFile): Array[Boolean] =
    f.otherConstantMetadataColumnValues(Lacks).asInstanceOf[Array[Boolean]]
  private[sources] def recorded(f: PartitionedFile): Option[String] =
    f.otherConstantMetadataColumnValues.get(Recorded).map(_.asInstanceOf[String])
}

/** Wraps Spark's parquet reader factory. `width` output columns; the
  * parquet batch holds them first, then the row index at `rowIndex` (-1
  * without deletes), then one column per constant slot. A task keeps one
  * [[TaskDeleteFiles]] for all of its files. */
private[sources] class GraftReaderFactory(parquet: ParquetPartitionReaderFactory, width: Int,
    rowIndex: Int, slots: Array[Int], deletes: Option[PositionDeletes])
    extends FilePartitionReaderFactory {
  private val innerWidth = width + (if (rowIndex >= 0) 1 else 0)

  override def options: org.apache.spark.sql.catalyst.FileSourceOptions = parquet.options
  override def supportColumnarReads(p: InputPartition): Boolean = parquet.supportColumnarReads(p)

  /** Per output column, its column in the parquet batch for this file. */
  private def sources(f: PartitionedFile): Array[Int] = {
    val out = Array.tabulate(width)(identity)
    val lacks = GraftParquetRead.lacks(f)
    var k = 0
    while (k < slots.length) { if (lacks(k)) out(slots(k)) = innerWidth + k; k += 1 }
    out
  }

  private def deleted(f: PartitionedFile, task: TaskDeleteFiles): Roaring64NavigableMap =
    GraftParquetRead.recorded(f).map(r => deletes.get.positionsOf(r, task)).orNull

  override def buildReader(f: PartitionedFile): PartitionReader[InternalRow] =
    rowReader(f, new TaskDeleteFiles)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val task = new TaskDeleteFiles
    new FilePartitionReader[InternalRow](p.asInstanceOf[FilePartition].files.iterator,
      f => rowReader(f, task), options)
  }
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val task = new TaskDeleteFiles
    new FilePartitionReader[ColumnarBatch](p.asInstanceOf[FilePartition].files.iterator,
      f => columnarReader(f, task), options)
  }

  private def rowReader(f: PartitionedFile, task: TaskDeleteFiles): PartitionReader[InternalRow] = {
    val in = parquet.buildReader(f)
    val types = parquet.readDataSchema.fields.map(_.dataType) ++ parquet.partitionSchema.fields.map(_.dataType)
    val proj = UnsafeProjection.create(sources(f).toSeq.map(s => BoundReference(s, types(s), nullable = true)))
    val bm = deleted(f, task)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (in.next()) {
          val r = in.get()
          if (bm == null || !bm.contains(r.getLong(rowIndex))) { row = proj(r); return true }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }

  private def columnarReader(f: PartitionedFile, task: TaskDeleteFiles): PartitionReader[ColumnarBatch] = {
    val in = parquet.buildColumnarReader(f)
    val src = sources(f)
    val asIs = innerWidth + slots.length == width // no row index, no constants
    val bm = deleted(f, task)
    new PartitionReader[ColumnarBatch] {
      private var batch: ColumnarBatch = _
      private var live = new Array[Int](0)
      private def select(b: ColumnarBatch, n: Int, ids: Array[Int]): ColumnarBatch =
        if (ids == null && asIs) b
        else new ColumnarBatch(src.map { s =>
          if (ids == null) b.column(s) else new LiveRowsVector(b.column(s), ids, n): ColumnVector
        }, n)
      override def next(): Boolean = {
        while (in.next()) {
          val b = in.get()
          val n = b.numRows()
          if (bm == null) { batch = select(b, n, null); return true }
          val pos = b.column(rowIndex)
          if (live.length < n) live = new Array[Int](n)
          var kept = 0
          var i = 0
          while (i < n) {
            if (!bm.contains(pos.getLong(i))) { live(kept) = i; kept += 1 }
            i += 1
          }
          if (kept == n) { batch = select(b, n, null); return true }
          if (kept > 0) { batch = select(b, kept, live); return true }
        }
        false
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = in.close()
    }
  }
}

/** The live rows of a batch column: row `i` of this view is row `ids(i)`
  * of `base`. Nothing is copied; the view never owns `base`. */
private[sources] final class LiveRowsVector(base: ColumnVector, ids: Array[Int], n: Int)
    extends ColumnVector(base.dataType()) {
  private lazy val children = new Array[ColumnVector](base.dataType() match {
    case s: StructType => s.length
    case _ => 3 // variant (value, metadata), interval (months, days, micros)
  })
  override def close(): Unit = ()
  override def closeIfFreeable(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = {
    if (!base.hasNull) 0
    else { var c = 0; var i = 0; while (i < n) { if (base.isNullAt(ids(i))) c += 1; i += 1 }; c }
  }
  override def isNullAt(i: Int): Boolean = base.isNullAt(ids(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(ids(i))
  override def getByte(i: Int): Byte = base.getByte(ids(i))
  override def getShort(i: Int): Short = base.getShort(ids(i))
  override def getInt(i: Int): Int = base.getInt(ids(i))
  override def getLong(i: Int): Long = base.getLong(ids(i))
  override def getFloat(i: Int): Float = base.getFloat(ids(i))
  override def getDouble(i: Int): Double = base.getDouble(ids(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(ids(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(ids(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(ids(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(ids(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(ids(i))
  override def getInterval(i: Int): CalendarInterval = base.getInterval(ids(i))
  override def getGeography(i: Int): GeographyVal = base.getGeography(ids(i))
  override def getGeometry(i: Int): GeometryVal = base.getGeometry(ids(i))
  /** Struct, variant and interval children hold one value per row and are
    * viewed the same way; array and map children are read through
    * `getArray`/`getMap` of the base, at its own offsets. */
  override def getChild(ordinal: Int): ColumnVector = base.dataType() match {
    case _: ArrayType | _: MapType => base.getChild(ordinal)
    case _ =>
      if (children(ordinal) == null) children(ordinal) = new LiveRowsVector(base.getChild(ordinal), ids, n)
      children(ordinal)
  }
}
