package graft.read

import graft.manifest.FileContent
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** One position-delete source, as shipped to the scan tasks: a descriptor,
  * never the positions themselves. */
private[graft] sealed trait PositionDeleteFile extends Serializable {
  /** Recorded path of the only data file this can delete from; None when
    * the file may hold rows for several data files. */
  def referencedDataFile: Option[String]
}

/** A v3 deletion vector: one Puffin blob, for one data file. */
private[graft] case class DeletionVectorFile(puffinPath: String, offset: Long, length: Long,
    referenced: String) extends PositionDeleteFile {
  def referencedDataFile: Option[String] = Some(referenced)
  def positions(conf: Configuration): Roaring64NavigableMap =
    Puffin.decodeDeletionVectorBitmap(puffinPath, conf, offset, length)
}

/** A v2 position-delete parquet file: rows of (file_path, pos). */
private[graft] case class PositionDeleteParquet(path: String, referencedDataFile: Option[String])
    extends PositionDeleteFile {
  def open(conf: Configuration): PositionDeleteReader = new PositionDeleteReader(path, conf)
}

/** An open position-delete parquet file. Its footer is read once; a row
  * group is decoded only when its file_path bounds admit a data file asked
  * for, and at most once, into the positions of every data file it names. */
private[graft] final class PositionDeleteReader(path: String, conf: Configuration)
    extends java.io.Closeable {
  private val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
  private val schema = {
    val s = reader.getFooter.getFileMetaData.getSchema
    new MessageType(s.getName, s.getType(s.getFieldIndex("file_path")), s.getType(s.getFieldIndex("pos")))
  }
  reader.setRequestedSchema(schema)
  private val decoded = scala.collection.mutable.HashMap.empty[Int, Map[String, Roaring64NavigableMap]]

  /** The positions this file deletes from the data file recorded as
    * `recorded`, one bitmap per row group that names it. */
  def positions(recorded: String): Seq[Roaring64NavigableMap] = {
    val named = FilterApi.eq(FilterApi.binaryColumn("file_path"), Binary.fromString(recorded))
    val groups = reader.getRowGroups
    (0 until groups.size).filterNot(i => StatisticsFilter.canDrop(named, groups.get(i).getColumns))
      .flatMap(i => decoded.getOrElseUpdate(i, decode(i)).get(recorded))
  }

  private def decode(i: Int): Map[String, Roaring64NavigableMap] = {
    val pages = reader.readRowGroup(i)
    val records = new ColumnIOFactory().getColumnIO(schema)
      .getRecordReader(pages, new GroupRecordConverter(schema))
    val out = scala.collection.mutable.HashMap.empty[String, Roaring64NavigableMap]
    var r = 0L
    while (r < pages.getRowCount) {
      val g = records.read()
      out.getOrElseUpdate(g.getString("file_path", 0), new Roaring64NavigableMap()).addLong(g.getLong("pos", 0))
      r += 1
    }
    out.toMap
  }

  override def close(): Unit = reader.close()
}

/** The position-delete files one scan task keeps open: a file that names
  * several data files is opened once per task, however many of them the
  * task reads, and closed when the task ends. Only the row groups that name
  * the task's data files are decoded. */
private[graft] final class TaskDeleteFiles {
  private[this] val open = scala.collection.mutable.HashMap.empty[String, PositionDeleteReader]

  private[read] def positions(pd: PositionDeleteParquet, recorded: String,
      conf: Configuration): Seq[Roaring64NavigableMap] = Option(TaskContext.get()) match {
    case Some(task) if pd.referencedDataFile.isEmpty =>
      open.getOrElseUpdate(pd.path, {
        val r = pd.open(conf)
        task.addTaskCompletionListener[Unit](_ => r.close())
        r
      }).positions(recorded)
    case _ =>
      val r = pd.open(conf)
      try r.positions(recorded) finally r.close()
  }
}

/** The position deletes and deletion vectors of one scan, applied per data
  * file inside the scan tasks (reference iceberg_deletion_vector.cpp:68-183,
  * iceberg_multi_file_reader.cpp:436-523).
  *
  * `dataFiles` maps [[PositionDeletes.pathKey]] of each data file that may
  * have deletes to its recorded manifest path, the name delete files use.
  * `deletes` holds one descriptor per delete file. Nothing here grows with
  * the number of deleted rows. The Hadoop conf is broadcast, as Spark's own
  * file scans do: decoding it takes milliseconds, too much to repeat in
  * every task. Equality leaves the conf out, so two reads of the same
  * files stay equal plans. */
private[graft] case class PositionDeletes(dataFiles: Map[String, String],
    deletes: Seq[PositionDeleteFile], conf: Broadcast[SerializableConfiguration]) {
  override def equals(o: Any): Boolean = o match {
    case d: PositionDeletes => d.dataFiles == dataFiles && d.deletes == deletes
    case _ => false
  }
  override def hashCode: Int = (dataFiles, deletes).hashCode
  @transient private lazy val byRef: Map[Option[String], Seq[PositionDeleteFile]] =
    deletes.groupBy(_.referencedDataFile)

  def covers(f: PlannedFile): Boolean =
    dataFiles.contains(PositionDeletes.pathKey(new Path(f.resolvedPath)))

  /** Deleted positions of the data file Spark reads as `filePath` (its
    * `_metadata.file_path`), or null when nothing in it is deleted. */
  def deletedPositions(filePath: String, task: TaskDeleteFiles): Roaring64NavigableMap = {
    val key = PositionDeletes.pathKey(new Path(new java.net.URI(filePath)))
    positionsOf(dataFiles.getOrElse(key, throw new IllegalStateException(
      s"Scan read $filePath, which is not a planned data file with deletes")), task)
  }

  /** Deleted positions of the data file recorded as `recorded`, or null. */
  def positionsOf(recorded: String, task: TaskDeleteFiles): Roaring64NavigableMap = {
    val c = conf.value.value
    val bm = new Roaring64NavigableMap()
    (byRef.getOrElse(Some(recorded), Nil) ++ byRef.getOrElse(None, Nil)).foreach {
      case dv: DeletionVectorFile => bm.or(dv.positions(c))
      case pd: PositionDeleteParquet => task.positions(pd, recorded, c).foreach(bm.or)
    }
    if (bm.isEmpty) null else bm
  }

  /** The row filter for a scan over files this covers: true for rows that
    * are not deleted. */
  def keepColumn: Column = org.apache.spark.sql.GraftStreamShim.column(DeletedRowFilter(
    UnresolvedAttribute(Seq("_metadata", "file_path")),
    UnresolvedAttribute(Seq("_metadata", "row_index")), this))

  override def toString: String =
    s"PositionDeletes(${deletes.size} delete files, ${dataFiles.size} data files)"
}

private[graft] object PositionDeletes {
  /** The position deletes and DVs of `p`, or None when it has none.
    * Equality deletes are not included; they stay on their anti-join.
    * `conf` is evaluated only when there are deletes. */
  def of(p: ScanPlan, conf: => Broadcast[SerializableConfiguration]): Option[PositionDeletes] = {
    val deletes: Seq[PositionDeleteFile] = p.deleteFiles
      .filter(_.info.content == FileContent.PositionDeletes).map { d =>
        d.info.contentOffset match {
          case Some(off) => DeletionVectorFile(d.resolvedPath, off,
            d.info.contentSizeInBytes.getOrElse(0L), dvReference(d))
          case None => PositionDeleteParquet(d.resolvedPath, d.info.referencedPath)
        }
      }
    if (deletes.isEmpty) None
    else {
      val refs = deletes.map(_.referencedDataFile)
      val affected =
        if (refs.contains(None)) p.dataFiles
        else { val r = refs.flatten.toSet; p.dataFiles.filter(f => r.contains(f.recordedPath)) }
      Some(PositionDeletes(
        affected.map(f => pathKey(new Path(f.resolvedPath)) -> f.recordedPath).toMap, deletes, conf))
    }
  }

  def broadcastConf(spark: SparkSession, conf: Configuration): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(conf))

  /** The data file a DV deletes from. A DV without one would delete
    * nothing, and the rows it deleted would come back, so it fails. */
  def dvReference(dv: PlannedFile): String = dv.info.referencedDataFile.getOrElse(
    throw new IllegalArgumentException(s"Deletion vector in ${dv.recordedPath} has no " +
      "referenced_data_file (required for deletion vectors by the Iceberg v3 spec)"))

  /** A data file's identity across the path spellings a scan sees: the
    * planner's resolved path and Spark's URI-encoded `_metadata.file_path`
    * (`/t/a b.parquet` and `file:/t/a%20b.parquet` are the same file). */
  def pathKey(p: Path): String = {
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath
    else s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }
}

/** Per-task state of a [[DeletedRowFilter]]: the bitmap of the file being
  * read, rebuilt only when the file changes, and the task's
  * [[TaskDeleteFiles]]. A row costs one reference
  * compare and one bitmap probe; the path bytes are compared only when the
  * reader hands over a different string object. */
private[graft] final class DeleteProbe(deletes: PositionDeletes) extends Serializable {
  private[this] var lastRef: UTF8String = _
  private[this] var lastPath: UTF8String = _
  private[this] var deleted: Roaring64NavigableMap = _
  @transient private[this] lazy val task = new TaskDeleteFiles

  def keep(path: UTF8String, pos: Long): Boolean = {
    if (path ne lastRef) {
      if (!path.equals(lastPath)) {
        deleted = deletes.deletedPositions(path.toString, task)
        lastPath = path.clone()
      }
      lastRef = path
    }
    deleted == null || !deleted.contains(pos)
  }
}

/** `NOT deleted(_metadata.file_path, _metadata.row_index)` over a parquet
  * scan of data files that have position deletes or deletion vectors. */
private[graft] case class DeletedRowFilter(filePath: Expression, rowIndex: Expression,
    deletes: PositionDeletes) extends BinaryExpression with Predicate {
  override def left: Expression = filePath
  override def right: Expression = rowIndex
  override def nullable: Boolean = false
  override def prettyName: String = "not_deleted"

  @transient private lazy val probe = new DeleteProbe(deletes)

  override def eval(input: InternalRow): Any =
    probe.keep(filePath.eval(input).asInstanceOf[UTF8String], rowIndex.eval(input).asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("deletes", new DeleteProbe(deletes))
    val path = filePath.genCode(ctx)
    val pos = rowIndex.genCode(ctx)
    ev.copy(code = code"""
      ${path.code}
      ${pos.code}
      boolean ${ev.value} = $p.keep(${path.value}, ${pos.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DeletedRowFilter =
    copy(filePath = l, rowIndex = r)
}
