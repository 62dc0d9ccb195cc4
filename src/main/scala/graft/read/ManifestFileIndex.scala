package graft.read

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A Spark `FileIndex` over files a manifest names: each file's path and
  * size come from its manifest entry, so planning the read lists and stats
  * nothing. `spark.read.parquet(paths)` checks that every path exists (on
  * a thread pool of its own), lists each one, and above 32 paths runs a
  * Spark job to list them in parallel.
  *
  * Indexes over the same files are equal, as Spark's own index is over the
  * same root paths, so two reads of the same files can share an exchange. */
private[graft] class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
  private lazy val fileSet = files.map(f => (f.getPath, f.getLen)).toSet
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => m.fileSet == fileSet
    case _ => false
  }
  override def hashCode: Int = fileSet.hashCode
  override def rootPaths: Seq[Path] = files.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
  override def toString: String = s"ManifestFileIndex(${files.size} files)"
}

private[graft] object ManifestFileIndex {
  /** Each file's status as its manifest entry records it: the qualified
    * path and `file_size_in_bytes`. */
  def statuses(files: Seq[PlannedFile], conf: Configuration): Seq[FileStatus] = {
    val fileSystems = scala.collection.mutable.HashMap.empty[(String, String), FileSystem]
    files.map { f =>
      val p = new Path(f.resolvedPath)
      val u = p.toUri
      val fs = fileSystems.getOrElseUpdate((u.getScheme, u.getAuthority), p.getFileSystem(conf))
      new FileStatus(f.info.fileSizeInBytes, false, 1, 128L << 20, 0L, fs.makeQualified(p))
    }
  }

  /** A parquet read of `files` with `schema`, planned from the manifest. */
  def read(spark: SparkSession, schema: StructType, files: Seq[PlannedFile],
      conf: Configuration): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new ManifestFileIndex(statuses(files, conf)),
      new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark))
}
