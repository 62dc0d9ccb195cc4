package graft.write

import graft.core._
import graft.manifest._
import graft.read.SerializableHadoopConf
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetCompressionCodec, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import java.util.{Locale, UUID}

/** A file the writer closed: its final path and length, the stats of the
  * footer it just wrote, and its partition key as Iceberg internal values
  * (in key-column order). */
case class WrittenFile(path: String, length: Long, key: Seq[Any], stats: FileStats)

/** Where files go and when one rolls. `root` is the directory every file
  * lands under; `hashPrefix` puts an 8-hex-char murmur3 of the file name
  * right under it (object-storage layout); `hiveKeys` names a `name=value`
  * segment per key column (empty: flat). A file rolls when the writer's
  * byte count reaches `targetBytes` or it holds `maxRows` rows. */
case class FileLayout(
    root: String,
    hiveKeys: Seq[String] = Nil,
    hashPrefix: Boolean = false,
    suffix: String = "",
    targetBytes: Long = Long.MaxValue,
    maxRows: Long = Long.MaxValue)

/**
 * The one parquet writer behind every file graft commits: data files,
 * position and equality deletes, and partition-statistics files. Tasks
 * write each file straight to its final path with parquet-mr's
 * `ParquetWriter` and Spark's own `ParquetWriteSupport`, and return what
 * the manifest entry needs — path, length, the stats of the footer just
 * closed, the typed partition key read from the row — so a commit never
 * lists a directory or re-opens a footer. The reference's copy operator
 * works the same way: it rotates files by `write.target-file-size-bytes`
 * and collects stats as it writes (iceberg_insert.cpp:150-237).
 *
 * Rows must arrive clustered by key (callers sort within partitions), so
 * a task holds one open file at a time.
 */
object TaskWriter {

  /** Write `df`: its last `keyCols` columns are the partition key, the rest
    * go to the files. One Spark job; the Hadoop conf travels as one
    * broadcast. A failed task deletes what it wrote; a retried one writes
    * new names, and only successful attempts' files come back. */
  def write(df: DataFrame, keyCols: Int, layout: FileLayout, props: Map[String, String],
      statsSchema: IcebergSchema, metrics: MetricsSpec, conf: Configuration): Seq[WrittenFile] = {
    val spark = df.sparkSession
    val fields = df.schema.fields.toSeq
    val dataSchema = StructType(fields.dropRight(keyCols))
    val keyTypes = fields.takeRight(keyCols).map(_.dataType)
    val root = new Path(layout.root)
    val resolved = layout.copy(root = root.getFileSystem(conf).makeQualified(root).toString)
    val bconf = spark.sparkContext.broadcast(new SerializableHadoopConf(
      writeConf(spark, conf, dataSchema, props)))
    val writeId = UUID.randomUUID().toString
    try df.queryExecution.toRdd.mapPartitions { rows =>
        writeTask(rows, dataSchema, keyTypes, resolved, props, statsSchema, metrics, bconf.value.value, writeId)
      }.collect().toSeq
    finally bconf.destroy()
  }

  /** Write `rows` as one parquet file at exactly `path` (driver-side, for
    * small metadata files); returns the file length. */
  def writeFile(spark: SparkSession, path: String, schema: StructType,
      rows: Iterator[InternalRow], conf: Configuration): Long = {
    val w = open(new Path(path), writeConf(spark, conf, schema, Map.empty), Map.empty)
    try rows.foreach(w.write) finally w.close()
    TableMetadata.fs(path, conf).getFileStatus(new Path(path)).getLen
  }

  /** An ADDED manifest entry for a written file. */
  def entry(f: WrittenFile, content: Int, partition: Seq[Any], sortOrderId: Option[Int] = None,
      equalityIds: Seq[Int] = Nil, nanCounts: Map[Int, Long] = Map.empty): ManifestEntry =
    ManifestEntry(EntryStatus.Added, None, None, None, DataFileInfo(
      content = content,
      filePath = f.path,
      fileFormat = "parquet",
      partitionValues = partition,
      recordCount = f.stats.recordCount,
      fileSizeInBytes = f.length,
      columnSizes = f.stats.columnSizes,
      valueCounts = f.stats.valueCounts,
      nullValueCounts = f.stats.nullCounts,
      nanValueCounts = nanCounts,
      lowerBounds = f.stats.lowerBounds,
      upperBounds = f.stats.upperBounds,
      splitOffsets = f.stats.splitOffsets,
      equalityIds = equalityIds,
      sortOrderId = sortOrderId))

  /** The writer's Hadoop conf: the session's, plus the Spark schema and the
    * settings every graft file needs (field ids, TIMESTAMP_MICROS so
    * footers carry usable timestamp stats). The session is left as it is.
    * Columns are written optional, as Spark's own file writer does. */
  private def writeConf(spark: SparkSession, base: Configuration, schema: StructType,
      props: Map[String, String]): Configuration = {
    val sql = spark.sessionState.conf
    val c = new Configuration(base)
    ParquetWriteSupport.setSchema(optional(schema).asInstanceOf[StructType], c)
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sql.writeLegacyParquetFormat.toString)
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, sql.parquetAnnotateVariantLogicalType.toString)
    val codec = props.getOrElse("write.parquet.compression-codec", sql.parquetCompressionCodec)
    c.set(ParquetOutputFormat.COMPRESSION,
      ParquetCompressionCodec.fromString(codec.toLowerCase(Locale.ROOT)).getCompressionCodec.name)
    props.get("write.parquet.compression-level").foreach(c.set("parquet.compression.codec.zstd.level", _))
    c
  }

  private def optional(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = optional(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(optional(a.elementType), containsNull = true)
    case m: MapType => MapType(optional(m.keyType), optional(m.valueType), valueContainsNull = true)
    case other => other
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** A writer at `path` with the table's `write.parquet.*` properties
    * (reference iceberg_insert.cpp ICEBERG_TABLE_PROPERTY_MAPPING). Byte
    * sizes accept the formatted forms Iceberg allows ("128MB"). Per-column
    * bloom filters (`write.parquet.bloom-filter-enabled.column.<name>`,
    * `bloom-filter-fpp.column.<name>`) let equality probes on
    * high-cardinality columns skip row groups without dictionary support. */
  private def open(path: Path, conf: Configuration, props: Map[String, String]): ParquetWriter[InternalRow] = {
    def bytes(k: String) = props.get(s"write.parquet.$k").map(IcebergWrite.parseByteSize)
    def columns(k: String) = {
      val prefix = s"write.parquet.$k.column."
      props.collect { case (p, v) if p.startsWith(prefix) => p.substring(prefix.length) -> v.trim }
    }
    var b = new Builder(HadoopOutputFile.fromPath(path, conf)).withConf(conf)
      .withCompressionCodec(CompressionCodecName.valueOf(conf.get(ParquetOutputFormat.COMPRESSION)))
    bytes("row-group-size-bytes").foreach(n => b = b.withRowGroupSize(n))
    bytes("page-size-bytes").foreach(n => b = b.withPageSize(n.toInt))
    bytes("dict-size-bytes").foreach(n => b = b.withDictionaryPageSize(n.toInt))
    columns("bloom-filter-enabled").foreach { case (c, on) => b = b.withBloomFilterEnabled(c, on.toBoolean) }
    columns("bloom-filter-fpp").foreach { case (c, p) => b = b.withBloomFilterFPP(c, p.toDouble) }
    b.build()
  }

  private def writeTask(rows: Iterator[InternalRow], dataSchema: StructType, keyTypes: Seq[DataType],
      layout: FileLayout, props: Map[String, String], statsSchema: IcebergSchema, metrics: MetricsSpec,
      conf: Configuration, writeId: String): Iterator[WrittenFile] = {
    val ctx = TaskContext.get()
    val nData = dataSchema.size
    // Files get the data columns only; the key columns trail them.
    val data = ProjectingInternalRow(dataSchema, 0 until nData)
    val keyOf: UnsafeProjection =
      if (keyTypes.isEmpty) null
      else UnsafeProjection.create(keyTypes.zipWithIndex.map { case (t, j) =>
        BoundReference(nData + j, t, nullable = true) })
    val done = Seq.newBuilder[WrittenFile]
    var key: UnsafeRow = null
    var keyValues: Seq[Any] = Nil
    var writer: ParquetWriter[InternalRow] = null
    var path: Path = null
    var rowsInFile = 0L
    var seq = 0

    def roll(): Unit = if (writer != null) {
      writer.close()
      val len = path.getFileSystem(conf).getFileStatus(path).getLen
      done += WrittenFile(path.toString, len, keyValues,
        FooterStats.fromFooter(writer.getFooter, statsSchema, metrics))
      writer = null
    }
    def openNext(): Unit = {
      seq += 1
      val name = f"${ctx.partitionId}%05d-${ctx.taskAttemptId}-$writeId-$seq%05d${layout.suffix}.parquet"
      val hash = if (layout.hashPrefix) Seq(f"${IcebergHash.hashString(name) & 0xFFFFFFFFL}%08x") else Nil
      val segs = layout.hiveKeys.zip(keyValues.zip(keyTypes)).map { case (n, (v, t)) =>
        ExternalCatalogUtils.getPartitionPathString(n, pathValue(v, t)) }
      path = new Path((Seq(layout.root) ++ hash ++ segs :+ name).mkString("/"))
      writer = open(path, conf, props)
      rowsInFile = 0
    }

    try {
      while (rows.hasNext) {
        val row = rows.next()
        if (keyOf != null) {
          val k = keyOf(row)
          if (key == null || !k.equals(key)) {
            roll()
            key = k.copy()
            keyValues = keyTypes.zipWithIndex.map { case (t, i) => icebergValue(key, i, t) }
          }
        }
        // The size probe walks every column's buffers; check it every 1000
        // rows, as Iceberg's rolling writer does.
        if (writer != null && (rowsInFile >= layout.maxRows ||
            rowsInFile % 1000 == 0 && writer.getDataSize >= layout.targetBytes)) roll()
        if (writer == null) openNext()
        data.project(row)
        writer.write(data)
        rowsInFile += 1
      }
      roll()
    } catch {
      case t: Throwable =>
        try if (writer != null) writer.close() catch { case _: Throwable => }
        (done.result().map(f => new Path(f.path)) ++ Option(path)).foreach(p =>
          try p.getFileSystem(conf).delete(p, false) catch { case _: Throwable => })
        throw t
    }
    done.result().iterator
  }

  /** A key column's value in Iceberg's internal form: strings, decimals as
    * java BigDecimal, dates as epoch days, timestamps as UTC micros, binary
    * as bytes. */
  private def icebergValue(row: InternalRow, i: Int, t: DataType): Any =
    if (row.isNullAt(i)) null
    else t match {
      case _: StringType => row.getUTF8String(i).toString
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case other => row.get(i, other)
    }

  /** Hive segment text of a key value; only the path shows it, the entry
    * carries the typed value. */
  private def pathValue(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => null
    case (d: Int, DateType) => java.time.LocalDate.ofEpochDay(d.toLong).toString
    case (us: Long, TimestampType | TimestampNTZType) =>
      java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS).toString
    case (b: Array[Byte], _) => java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
    case _ => v.toString
  }
}
