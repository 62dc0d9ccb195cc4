package graft.manifest

import graft.core._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.internal.Logging
import java.util.UUID

/**
 * Commit-time manifest compaction: when a snapshot would carry at least
 * `commit.manifest.min-count-to-merge` data manifests, bin-pack them
 * (first-fit descending from the END of the list, so older manifests merge
 * first) to `commit.manifest.target-size-bytes` and rewrite each multi-
 * manifest bin as one manifest of EXISTING entries — mirrors the Java
 * ManifestMergeManager semantics (reference:
 * src/catalog/rest/api/iceberg_manifest_merge.cpp:25-150).
 */
object ManifestMerge extends Logging {
  val EnabledProp = "commit.manifest-merge.enabled"
  val MinCountProp = "commit.manifest.min-count-to-merge"
  val TargetSizeProp = "commit.manifest.target-size-bytes"
  val DefaultMinCount = 100
  val DefaultTargetSize: Long = 8L * 1024 * 1024

  /** Malformed commit.manifest.* values WARN and fall back to defaults —
    * never fail the commit (reference
    * test_merge_append_invalid_properties.test message wording). */
  private def warnInvalid(prop: String, raw: String, expected: String, default: String): Unit =
    logWarning(s"Invalid value '$raw' for Iceberg table property '$prop'; " +
      s"expected $expected, using default value '$default'.")

  private def positiveLong(meta: TableMetadata, prop: String, default: Long): Long =
    meta.properties.get(prop) match {
      case None => default
      case Some(raw) => raw.toLongOption.filter(_ > 0).getOrElse {
        warnInvalid(prop, raw, "a positive integer", default.toString); default
      }
    }

  def mergeEnabled(meta: TableMetadata): Boolean =
    meta.properties.get(EnabledProp) match {
      case None => true
      case Some("true") => true
      case Some("false") => false
      case Some(raw) => warnInvalid(EnabledProp, raw, "true or false", "true"); true
    }

  def maybeMerge(meta: TableMetadata, manifests: Seq[ManifestFile],
      conf: Configuration): Seq[ManifestFile] = {
    // commit.manifest-merge.enabled=false => FastAppend semantics: one
    // manifest per commit, nothing rewritten.
    if (!mergeEnabled(meta)) return manifests
    val minCount = positiveLong(meta, MinCountProp, DefaultMinCount.toLong).toInt
    val targetSize = positiveLong(meta, TargetSizeProp, DefaultTargetSize)
    val (data, _) = manifests.partition(_.content == 0)
    if (data.size < minCount) return manifests
    binPack(meta, manifests, conf, targetSize)._1
  }

  /** Bin-pack data manifests to `targetSize` regardless of count policy —
    * the standalone `rewrite_manifests` path. Returns (new manifest list,
    * #manifests rewritten, #merged manifests created); delete manifests
    * pass through. */
  def binPack(meta: TableMetadata, manifests: Seq[ManifestFile],
      conf: Configuration, targetSize: Long): (Seq[ManifestFile], Int, Int) = {
    val (data, deletes) = manifests.partition(_.content == 0)
    var rewritten = 0
    var created = 0
    // Bin-pack per partition spec, walking from the end (oldest first).
    val out = Seq.newBuilder[ManifestFile]
    data.groupBy(_.partitionSpecId).foreach { case (specId, group) =>
      var bins = Seq.empty[Seq[ManifestFile]]
      group.reverse.foreach { m =>
        bins.indexWhere(b => b.map(_.length).sum + m.length <= targetSize) match {
          case -1 => bins :+= Seq(m)
          case i => bins = bins.updated(i, bins(i) :+ m)
        }
      }
      bins.foreach { bin =>
        if (bin.size == 1) out += bin.head
        else {
          out += mergeBin(meta, specId, bin, conf)
          rewritten += bin.size
          created += 1
        }
      }
    }
    (out.result() ++ deletes, rewritten, created)
  }

  private def mergeBin(meta: TableMetadata, specId: Int, bin: Seq[ManifestFile],
      conf: Configuration): ManifestFile = {
    val schema = meta.currentSchema
    val spec = meta.spec(specId)
    val partitionFields: Seq[(String, IcebergType, Int)] = spec.fields.map { pf =>
      (pf.name, pf.transform.resultType(schema.idToField(pf.sourceId).fieldType), pf.fieldId)
    }
    // Live entries only, re-marked EXISTING with their original sequence
    // numbers preserved (inheritance resolved at read time).
    val entries = bin.flatMap { m =>
      ManifestIO.readManifest(TableMetadata.resolvePath(meta.location, m.path, conf), conf, m)
        .filter(_.isLive)
        .map(e => e.copy(status = EntryStatus.Existing))
    }
    val mPath = s"${meta.location}/metadata/${UUID.randomUUID().toString}-merged-m0.avro"
    val len = ManifestIO.writeManifest(mPath, conf, partitionFields, entries,
      Map("partition-spec-id" -> specId.toString, "content" -> "data"),
      ManifestIO.manifestCodec(meta))
    ManifestFile(
      path = mPath, length = len, partitionSpecId = specId, content = 0,
      sequenceNumber = bin.map(_.sequenceNumber).max,
      minSequenceNumber = bin.map(_.minSequenceNumber).min,
      addedSnapshotId = bin.map(_.addedSnapshotId).max,
      addedFilesCount = 0,
      existingFilesCount = entries.size,
      deletedFilesCount = 0,
      addedRowsCount = 0L,
      existingRowsCount = entries.map(_.dataFile.recordCount).sum,
      deletedRowsCount = 0L,
      // Real partition-bound summaries — a merged manifest without them
      // would always survive manifest-level pruning, costing one manifest
      // read per query forever after.
      partitions = graft.write.IcebergWrite.partitionSummaries(partitionFields, entries))
  }
}
