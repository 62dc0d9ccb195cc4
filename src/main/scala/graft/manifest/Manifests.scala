package graft.manifest

import graft.core._
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._

/**
 * Manifest-list and manifest file model + Avro IO.
 *
 * Reads v1/v2/v3 manifests defensively by field name (missing fields =>
 * defaults), including sequence-number inheritance for ADDED entries.
 * Writes the v2 schemas exactly as published in the Iceberg spec.
 *
 * (reference behavior: src/core/metadata/manifest/iceberg_manifest_list.cpp,
 * iceberg_manifest.cpp; readers under src/planning/metadata_io/manifest/)
 */
case class FieldSummary(
    containsNull: Boolean,
    containsNan: Option[Boolean],
    lowerBound: Option[Array[Byte]],
    upperBound: Option[Array[Byte]])

case class ManifestFile(
    path: String,
    length: Long,
    partitionSpecId: Int,
    content: Int, // 0=data, 1=deletes
    sequenceNumber: Long,
    minSequenceNumber: Long,
    addedSnapshotId: Long,
    addedFilesCount: Int,
    existingFilesCount: Int,
    deletedFilesCount: Int,
    addedRowsCount: Long,
    existingRowsCount: Long,
    deletedRowsCount: Long,
    partitions: Seq[FieldSummary],
    firstRowId: Option[Long] = None) {
  def isDeleteManifest: Boolean = content == 1
  def liveRowsCount: Long = addedRowsCount + existingRowsCount
}

object FileContent {
  val Data = 0
  val PositionDeletes = 1
  val EqualityDeletes = 2
}

case class DataFileInfo(
    content: Int,
    filePath: String,
    fileFormat: String,
    partitionValues: Seq[Any], // raw-converted Avro values, aligned with spec fields
    recordCount: Long,
    fileSizeInBytes: Long,
    columnSizes: Map[Int, Long],
    valueCounts: Map[Int, Long],
    nullValueCounts: Map[Int, Long],
    nanValueCounts: Map[Int, Long],
    lowerBounds: Map[Int, Array[Byte]],
    upperBounds: Map[Int, Array[Byte]],
    splitOffsets: Seq[Long],
    equalityIds: Seq[Int],
    sortOrderId: Option[Int],
    // v3 deletion-vector fields
    referencedDataFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSizeInBytes: Option[Long] = None,
    firstRowId: Option[Long] = None) {

  /** The one data file this position-delete file references:
    * `referenced_data_file`, or else its `file_path` bounds when lower equals
    * upper. None when it may reference several files. */
  def referencedPath: Option[String] = referencedDataFile.orElse(
    (lowerBounds.get(DataFileInfo.PosDeletePathFieldId),
      upperBounds.get(DataFileInfo.PosDeletePathFieldId)) match {
      case (Some(lo), Some(hi)) if java.util.Arrays.equals(lo, hi) =>
        Some(new String(lo, java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    })
}

object DataFileInfo {
  /** Reserved field id of the position-delete `file_path` column. */
  val PosDeletePathFieldId = 2147483546
}

object EntryStatus { val Existing = 0; val Added = 1; val Deleted = 2 }

case class ManifestEntry(
    status: Int,
    snapshotId: Option[Long],
    sequenceNumber: Option[Long],
    fileSequenceNumber: Option[Long],
    dataFile: DataFileInfo) {
  def isLive: Boolean = status != EntryStatus.Deleted
}

object ManifestIO {

  /** Manifests of a snapshot: from its manifest list, or (deprecated v1)
    * from manifests embedded directly in the snapshot JSON — those get v1
    * defaults (data content, sequence number 0). */
  def manifestsOf(meta: TableMetadata, snap: SnapshotInfo, conf: Configuration): Seq[ManifestFile] = {
    if (snap.manifestList.nonEmpty)
      readManifestList(TableMetadata.resolvePath(meta.location, snap.manifestList, conf), conf)
    else snap.embeddedManifests.map { p =>
      ManifestFile(p, 0L, meta.defaultSpecId, 0, 0L, 0L, snap.snapshotId,
        0, 0, 0, 0L, 0L, 0L, Nil)
    }
  }

  // ---------- generic Avro value conversion ----------

  def fromAvro(v: Any): Any = v match {
    case null => null
    case u: Utf8 => u.toString
    case bb: ByteBuffer =>
      val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
    case f: GenericData.Fixed => f.bytes()
    case r: GenericRecord => r.getSchema.getFields.asScala.map(f => fromAvro(r.get(f.pos()))).toSeq
    case l: java.util.List[_] => l.asScala.map(fromAvro).toSeq
    case other => other
  }

  private def get(r: GenericRecord, names: String*): Any =
    names.iterator.map(n => if (r.getSchema.getField(n) != null) r.get(n) else null).find(_ != null).orNull

  private def getLong(r: GenericRecord, default: Long, names: String*): Long =
    get(r, names: _*) match { case null => default; case n: Number => n.longValue() }

  private def getInt(r: GenericRecord, default: Int, names: String*): Int =
    get(r, names: _*) match { case null => default; case n: Number => n.intValue() }

  private def optLong(r: GenericRecord, names: String*): Option[Long] =
    get(r, names: _*) match { case null => None; case n: Number => Some(n.longValue()) }

  private def bytesOpt(v: Any): Option[Array[Byte]] = fromAvro(v) match {
    case null => None
    case b: Array[Byte] => Some(b)
    case _ => None
  }

  private def intLongMap(v: Any): Map[Int, Long] = v match {
    case null => Map.empty
    case l: java.util.List[_] =>
      l.asScala.map { case r: GenericRecord =>
        r.get("key").asInstanceOf[Number].intValue() -> r.get("value").asInstanceOf[Number].longValue()
      }.toMap
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => k.asInstanceOf[Number].intValue() -> vv.asInstanceOf[Number].longValue() }.toMap
    case _ => Map.empty
  }

  private def intBytesMap(v: Any): Map[Int, Array[Byte]] = v match {
    case null => Map.empty
    case l: java.util.List[_] =>
      l.asScala.flatMap { case r: GenericRecord =>
        bytesOpt(r.get("value")).map(b => r.get("key").asInstanceOf[Number].intValue() -> b)
      }.toMap
    case _ => Map.empty
  }

  private def reader(path: String, conf: Configuration): DataFileReader[GenericRecord] = {
    val in = new FsInput(new Path(path), conf)
    new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
  }

  // ---------- manifest list read ----------

  def readManifestList(path: String, conf: Configuration): Seq[ManifestFile] = {
    val rd = reader(path, conf)
    try {
      rd.iterator().asScala.map { r =>
        val partitions = r.getSchema.getField("partitions") match {
          case null => Seq.empty
          case f => r.get(f.pos()) match {
            case null => Seq.empty
            case l: java.util.List[_] => l.asScala.map { case pr: GenericRecord =>
              FieldSummary(
                containsNull = pr.get("contains_null").asInstanceOf[Boolean],
                containsNan = Option(pr.getSchema.getField("contains_nan")).flatMap(ff => Option(pr.get(ff.pos())).map(_.asInstanceOf[Boolean])),
                lowerBound = bytesOpt(get(pr, "lower_bound")),
                upperBound = bytesOpt(get(pr, "upper_bound")))
            }.toSeq
            case _ => Seq.empty
          }
        }
        ManifestFile(
          path = fromAvro(r.get("manifest_path")).asInstanceOf[String],
          length = getLong(r, 0L, "manifest_length"),
          partitionSpecId = getInt(r, 0, "partition_spec_id"),
          content = getInt(r, 0, "content"),
          sequenceNumber = getLong(r, 0L, "sequence_number"),
          minSequenceNumber = getLong(r, 0L, "min_sequence_number"),
          addedSnapshotId = getLong(r, -1L, "added_snapshot_id"),
          addedFilesCount = getInt(r, 0, "added_data_files_count", "added_files_count"),
          existingFilesCount = getInt(r, 0, "existing_data_files_count", "existing_files_count"),
          deletedFilesCount = getInt(r, 0, "deleted_data_files_count", "deleted_files_count"),
          addedRowsCount = getLong(r, 0L, "added_rows_count"),
          existingRowsCount = getLong(r, 0L, "existing_rows_count"),
          deletedRowsCount = getLong(r, 0L, "deleted_rows_count"),
          partitions = partitions,
          firstRowId = optLong(r, "first_row_id"))
      }.toVector
    } finally rd.close()
  }

  // ---------- manifest read ----------

  /** Read manifest entries. `manifest` supplies inherited values: sequence
    * number for ADDED entries with null seq (v2+ inheritance), snapshot id.
    * `path` is the resolved (possibly moved) location of the manifest. */
  /** Test probe: manifest files opened since JVM start (driver-side planning
    * cost — the thing plan memoization is meant to bound). */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Manifest avro codec: deflate by default (the reference's default too —
    * manifest bytes dominate metadata IO on large tables), `none` opt-out
    * via the `write.manifest.compression-codec` table property. Readers
    * auto-detect from the avro container header. */
  def manifestCodec(meta: TableMetadata): String =
    meta.properties.getOrElse("write.manifest.compression-codec", "deflate")

  private def applyCodec(w: DataFileWriter[GenericRecord], codec: String): Unit =
    codec.toLowerCase match {
      case "none" | "uncompressed" => // avro null codec
      case "deflate" | "" => w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      case other => throw new IllegalArgumentException(
        s"Unsupported write.manifest.compression-codec '$other' (deflate, none)")
    }

  def readManifest(path: String, conf: Configuration, manifest: ManifestFile): Seq[ManifestEntry] = {
    manifestReads.incrementAndGet()
    val rd = reader(path, conf)
    try {
      rd.iterator().asScala.map { r =>
        val status = getInt(r, 0, "status")
        val snapshotId = optLong(r, "snapshot_id").orElse(Some(manifest.addedSnapshotId))
        val rawSeq = optLong(r, "sequence_number")
        val seq = rawSeq.orElse(if (status == EntryStatus.Added) Some(manifest.sequenceNumber) else None)
        val fileSeq = optLong(r, "file_sequence_number")
          .orElse(if (status == EntryStatus.Added) Some(manifest.sequenceNumber) else None)
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        val partition = df.getSchema.getField("partition") match {
          case null => Seq.empty
          case f => df.get(f.pos()) match {
            case pr: GenericRecord => pr.getSchema.getFields.asScala.map(ff => fromAvro(pr.get(ff.pos()))).toSeq
            case _ => Seq.empty
          }
        }
        ManifestEntry(status, snapshotId, seq, fileSeq, DataFileInfo(
          content = getInt(df, 0, "content"),
          filePath = fromAvro(df.get("file_path")).asInstanceOf[String],
          fileFormat = String.valueOf(fromAvro(get(df, "file_format"))).toLowerCase,
          partitionValues = partition,
          recordCount = getLong(df, 0L, "record_count"),
          fileSizeInBytes = getLong(df, 0L, "file_size_in_bytes"),
          columnSizes = intLongMap(get(df, "column_sizes")),
          valueCounts = intLongMap(get(df, "value_counts")),
          nullValueCounts = intLongMap(get(df, "null_value_counts")),
          nanValueCounts = intLongMap(get(df, "nan_value_counts")),
          lowerBounds = intBytesMap(get(df, "lower_bounds")),
          upperBounds = intBytesMap(get(df, "upper_bounds")),
          splitOffsets = get(df, "split_offsets") match {
            case l: java.util.List[_] => l.asScala.map(_.asInstanceOf[Number].longValue()).toSeq
            case _ => Seq.empty
          },
          equalityIds = get(df, "equality_ids") match {
            case l: java.util.List[_] => l.asScala.map(_.asInstanceOf[Number].intValue()).toSeq
            case _ => Seq.empty
          },
          sortOrderId = get(df, "sort_order_id") match { case null => None; case n: Number => Some(n.intValue()) },
          referencedDataFile = Option(fromAvro(get(df, "referenced_data_file"))).map(_.asInstanceOf[String]),
          contentOffset = optLong(df, "content_offset"),
          contentSizeInBytes = optLong(df, "content_size_in_bytes"),
          firstRowId = optLong(df, "first_row_id")))
      }.toVector
    } finally rd.close()
  }

  // ---------- v2 write schemas ----------

  /** Avro type JSON for a partition field's result type (plain physical
    * types; field-id prop carried for interop). */
  private def avroTypeFor(t: IcebergType): String = {
    import IcebergTypes._
    t match {
      case BooleanT => "\"boolean\""
      case IntT => "\"int\""
      case DateT => """{"type":"int","logicalType":"date"}"""
      case LongT => "\"long\""
      case TimeT => """{"type":"long","logicalType":"time-micros"}"""
      case TimestampT | TimestampNsT => """{"type":"long","logicalType":"timestamp-micros"}"""
      case TimestampTzT | TimestampTzNsT => """{"type":"long","logicalType":"timestamp-micros","adjust-to-utc":true}"""
      case FloatT => "\"float\""
      case DoubleT => "\"double\""
      case StringT | UuidT => "\"string\""
      case BinaryT | FixedT(_) => "\"bytes\""
      case DecimalT(p, s) => s"""{"type":"bytes","logicalType":"decimal","precision":$p,"scale":$s}"""
      case other => throw new IllegalArgumentException(s"No Avro mapping for partition type $other")
    }
  }

  /** Build the v2 manifest_entry Avro schema for a given partition struct
    * (field name, result type, partition field id). Matches the spec schema
    * byte-for-byte in field names/ids. */
  def manifestEntrySchema(partitionFields: Seq[(String, IcebergType, Int)],
      withDvFields: Boolean = false): Schema = {
    // v3 deletion-vector + row-lineage columns (spec field ids 142-145).
    val dvFieldsJson = if (!withDvFields) "" else """,
        {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145},
        {"name":"first_row_id","type":["null","long"],"default":null,"field-id":142}"""
    val partFields = partitionFields.map { case (name, t, fid) =>
      s"""{"name":"${name}","type":["null",${avroTypeFor(t)}],"default":null,"field-id":$fid}"""
    }.mkString(",")
    def kvMap(k: Int, v: Int, valueType: String): String =
      s"""["null",{"type":"array","items":{"type":"record","name":"k${k}_v${v}","fields":[
         {"name":"key","type":"int","field-id":$k},{"name":"value","type":"$valueType","field-id":$v}]},
         "logicalType":"map"}]"""
    val json = s"""
    {"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","type":{"type":"record","name":"r102","fields":[$partFields]},"field-id":102},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"column_sizes","type":${kvMap(117, 118, "long")},"default":null,"field-id":108},
        {"name":"value_counts","type":${kvMap(119, 120, "long")},"default":null,"field-id":109},
        {"name":"null_value_counts","type":${kvMap(121, 122, "long")},"default":null,"field-id":110},
        {"name":"nan_value_counts","type":${kvMap(138, 139, "long")},"default":null,"field-id":137},
        {"name":"lower_bounds","type":${kvMap(126, 127, "bytes")},"default":null,"field-id":125},
        {"name":"upper_bounds","type":${kvMap(129, 130, "bytes")},"default":null,"field-id":128},
        {"name":"key_metadata","type":["null","bytes"],"default":null,"field-id":131},
        {"name":"split_offsets","type":["null",{"type":"array","items":"long","element-id":133}],"default":null,"field-id":132},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135},
        {"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}$dvFieldsJson
      ]},"field-id":2}]}
    """
    new Schema.Parser().parse(json)
  }

  /** Manifest-list schema; v3 adds the first_row_id field (520) used for
    * row-id inheritance (reference iceberg_manifest_list.cpp:688-689). */
  private def manifestListSchemaJson(v3: Boolean): String = s"""
    {"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_data_files_count","type":"int","field-id":504},
      {"name":"existing_data_files_count","type":"int","field-id":505},
      {"name":"deleted_data_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514},
      {"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"r508","fields":[
        {"name":"contains_null","type":"boolean","field-id":509},
        {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
        {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
        {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      ]},"element-id":508}],"default":null,"field-id":507}${
        if (v3) """,
      {"name":"first_row_id","type":["null","long"],"default":null,"field-id":520}""" else ""}
    ]}"""

  lazy val manifestListSchema: Schema = new Schema.Parser().parse(manifestListSchemaJson(v3 = false))
  lazy val manifestListSchemaV3: Schema = new Schema.Parser().parse(manifestListSchemaJson(v3 = true))

  // ---------- v2 write ----------

  private def kvRecords(schema: Schema, fieldName: String, m: Map[Int, _]): Any = {
    if (m.isEmpty) null
    else {
      val fieldSchema = schema.getField(fieldName).schema().getTypes.get(1) // non-null branch
      val itemSchema = fieldSchema.getElementType
      val list = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(itemSchema)
        r.put("key", k)
        r.put("value", v match { case b: Array[Byte] => ByteBuffer.wrap(b); case o => o })
        list.add(r)
      }
      list
    }
  }

  /** Write a v2 manifest file; returns its length in bytes. */
  def writeManifest(
      path: String,
      conf: Configuration,
      partitionFields: Seq[(String, IcebergType, Int)],
      entries: Seq[ManifestEntry],
      metaProps: Map[String, String], codec: String = "deflate"): Long = {
    val withDv = entries.exists(e =>
      e.dataFile.contentOffset.isDefined || e.dataFile.firstRowId.isDefined)
    val schema = manifestEntrySchema(partitionFields, withDv)
    val dfSchema = schema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val fsys = TableMetadata.fs(path, conf)
    val out = fsys.create(new Path(path), true)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    applyCodec(w, codec)
    metaProps.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out)
    entries.foreach { e =>
      val r = new GenericData.Record(schema)
      r.put("status", e.status)
      r.put("snapshot_id", e.snapshotId.map(Long.box).orNull)
      r.put("sequence_number", e.sequenceNumber.map(Long.box).orNull)
      r.put("file_sequence_number", e.fileSequenceNumber.map(Long.box).orNull)
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.dataFile.content)
      df.put("file_path", e.dataFile.filePath)
      df.put("file_format", e.dataFile.fileFormat.toUpperCase)
      val pr = new GenericData.Record(partSchema)
      partitionFields.zip(e.dataFile.partitionValues).foreach { case ((name, t, _), v) =>
        pr.put(name, v match {
          case b: Array[Byte] => ByteBuffer.wrap(b)
          case d: java.math.BigDecimal => ByteBuffer.wrap(d.unscaledValue().toByteArray)
          case o => o
        })
      }
      df.put("partition", pr)
      df.put("record_count", e.dataFile.recordCount)
      df.put("file_size_in_bytes", e.dataFile.fileSizeInBytes)
      df.put("column_sizes", kvRecords(dfSchema, "column_sizes", e.dataFile.columnSizes))
      df.put("value_counts", kvRecords(dfSchema, "value_counts", e.dataFile.valueCounts))
      df.put("null_value_counts", kvRecords(dfSchema, "null_value_counts", e.dataFile.nullValueCounts))
      df.put("nan_value_counts", kvRecords(dfSchema, "nan_value_counts", e.dataFile.nanValueCounts))
      df.put("lower_bounds", kvRecords(dfSchema, "lower_bounds", e.dataFile.lowerBounds))
      df.put("upper_bounds", kvRecords(dfSchema, "upper_bounds", e.dataFile.upperBounds))
      df.put("key_metadata", null)
      df.put("split_offsets", if (e.dataFile.splitOffsets.isEmpty) null else e.dataFile.splitOffsets.map(Long.box).asJava)
      df.put("equality_ids", if (e.dataFile.equalityIds.isEmpty) null else e.dataFile.equalityIds.map(Int.box).asJava)
      df.put("sort_order_id", e.dataFile.sortOrderId.map(Int.box).orNull)
      if (withDv) {
        df.put("referenced_data_file", e.dataFile.referencedDataFile.orNull)
        df.put("content_offset", e.dataFile.contentOffset.map(Long.box).orNull)
        df.put("content_size_in_bytes", e.dataFile.contentSizeInBytes.map(Long.box).orNull)
        df.put("first_row_id", e.dataFile.firstRowId.map(Long.box).orNull)
      }
      r.put("data_file", df)
      w.append(r)
    }
    w.close()
    fsys.getFileStatus(new Path(path)).getLen
  }

  /** Write a manifest list (v2 schema; v3 adds first_row_id when
    * `formatVersion >= 3`). */
  def writeManifestList(path: String, conf: Configuration, manifests: Seq[ManifestFile],
      metaProps: Map[String, String] = Map.empty, formatVersion: Int = 2,
      codec: String = "deflate"): Unit = {
    val schema = if (formatVersion >= 3) manifestListSchemaV3 else manifestListSchema
    val fsys = TableMetadata.fs(path, conf)
    val out = fsys.create(new Path(path), true)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    applyCodec(w, codec)
    metaProps.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out)
    val partArrSchema = schema.getField("partitions").schema().getTypes.get(1)
    val summSchema = partArrSchema.getElementType
    manifests.foreach { m =>
      val r = new GenericData.Record(schema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", m.length)
      r.put("partition_spec_id", m.partitionSpecId)
      r.put("content", m.content)
      r.put("sequence_number", m.sequenceNumber)
      r.put("min_sequence_number", m.minSequenceNumber)
      r.put("added_snapshot_id", m.addedSnapshotId)
      r.put("added_data_files_count", m.addedFilesCount)
      r.put("existing_data_files_count", m.existingFilesCount)
      r.put("deleted_data_files_count", m.deletedFilesCount)
      r.put("added_rows_count", m.addedRowsCount)
      r.put("existing_rows_count", m.existingRowsCount)
      r.put("deleted_rows_count", m.deletedRowsCount)
      if (formatVersion >= 3) r.put("first_row_id", m.firstRowId.map(Long.box).orNull)
      if (m.partitions.nonEmpty) {
        val list = new java.util.ArrayList[GenericRecord](m.partitions.size)
        m.partitions.foreach { s =>
          val sr = new GenericData.Record(summSchema)
          sr.put("contains_null", s.containsNull)
          sr.put("contains_nan", s.containsNan.map(Boolean.box).orNull)
          sr.put("lower_bound", s.lowerBound.map(ByteBuffer.wrap).orNull)
          sr.put("upper_bound", s.upperBound.map(ByteBuffer.wrap).orNull)
          list.add(sr)
        }
        r.put("partitions", list)
      } else r.put("partitions", null)
      w.append(r)
    }
    w.close()
  }
}
