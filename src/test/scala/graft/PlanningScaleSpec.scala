package graft

import graft.core._
import graft.manifest._
import graft.read.{IcebergRead, ReadOptions}
import graft.write.TableWriteOptions

/** Large-metadata planning probe: the driver-side path everything else
  * protects. Synthesizes a snapshot with ~10k data-file entries spread over
  * 300 manifests (metadata only — the data files don't exist and are never
  * opened, since planning reads footers only as a fallback when manifest
  * stats are absent) and pins that planning stays O(manifests): one manifest
  * read each, manifest-level pruning drops whole manifests before any read,
  * and wall time stays inside a generous budget on the parMap thread pool
  * (reference plans manifests inside DuckDB worker threads,
  * src/planning/iceberg_multi_file_list.cpp:560-616). */
class PlanningScaleSpec extends SparkSpec {

  private val NManifests = 300
  private val PerManifest = 33

  test(s"planning $NManifests manifests / ${NManifests * PerManifest} files: one read per manifest, pruning skips manifests, bounded wall time") {
    import spark.implicits._
    val path = tmpDir("graft_bigmeta")
    val seed = Seq((0L, 0, "x")).toDF("id", "part", "payload")
    IcebergTable.write(seed, path, TableWriteOptions(
      partitionBy = Seq(("part", Transforms.Identity))))
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val schema = meta.currentSchema
    val idF = schema.fieldByPath("id")
    val partF = schema.fieldByPath("part")
    val spec = meta.defaultSpec
    val partitionFields = spec.fields.map { pf =>
      (pf.name, pf.transform.resultType(schema.idToField(pf.sourceId).fieldType), pf.fieldId)
    }
    val snapId = meta.currentSnapshot.get.snapshotId

    // One partition per manifest; file id-ranges are globally disjoint so a
    // point predicate on id keeps exactly one file.
    val manifests = (0 until NManifests).map { m =>
      val entries = (0 until PerManifest).map { j =>
        val gid = (m * PerManifest + j).toLong
        ManifestEntry(EntryStatus.Added, Some(snapId), Some(1L), Some(1L), DataFileInfo(
          content = 0,
          filePath = s"${meta.location}/data/fake-$m-$j.parquet",
          fileFormat = "parquet",
          partitionValues = Seq(m),
          recordCount = 1000L,
          fileSizeInBytes = 1L << 20,
          columnSizes = Map.empty,
          valueCounts = Map(idF.id -> 1000L, partF.id -> 1000L),
          nullValueCounts = Map(idF.id -> 0L, partF.id -> 0L),
          nanValueCounts = Map.empty,
          lowerBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L, IcebergTypes.LongT)),
          upperBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L + 999L, IcebergTypes.LongT)),
          splitOffsets = Nil, equalityIds = Nil, sortOrderId = None))
      }
      val mPath = s"${meta.location}/metadata/big-$m.avro"
      val len = ManifestIO.writeManifest(mPath, conf, partitionFields, entries, Map.empty)
      ManifestFile(mPath, len, spec.specId, 0, 1L, 1L, snapId,
        PerManifest, 0, 0, PerManifest * 1000L, 0L, 0L,
        partitions = Seq(FieldSummary(containsNull = false, containsNan = None,
          lowerBound = Some(SingleValue.serialize(m, IcebergTypes.IntT)),
          upperBound = Some(SingleValue.serialize(m, IcebergTypes.IntT)))))
    }
    val listPath = s"${meta.location}/metadata/big-list.avro"
    ManifestIO.writeManifestList(listPath, conf, manifests)
    val snap = meta.currentSnapshot.get.copy(snapshotId = 999L, manifestList = listPath)
    val bigMeta = meta.copy(snapshots = Seq(snap), currentSnapshotId = Some(999L))

    def timePlan(opts: ReadOptions): (graft.read.ScanPlan, Long, Double) = {
      val r0 = ManifestIO.manifestReads.get()
      val t0 = System.nanoTime()
      val p = IcebergRead.planWithMetadata(spark, bigMeta, conf, opts)
      val sec = (System.nanoTime() - t0) / 1e9
      (p, ManifestIO.manifestReads.get() - r0, sec)
    }

    // Unfiltered: every manifest read exactly once; wall time bounded.
    // Budget: min of 3 runs (immune to one-off GC/IO stalls) under 10s —
    // actual is well under 2s; the assertion exists to catch an accidental
    // O(files x manifests) or serialized-IO regression, not to microbench.
    val runs = (1 to 3).map(_ => timePlan(ReadOptions()))
    runs.foreach { case (p, reads, _) =>
      assert(p.dataFiles.size == NManifests * PerManifest)
      assert(reads == NManifests, s"expected $NManifests manifest reads, got $reads")
    }
    val best = runs.map(_._3).min
    assert(best < 10.0, f"unfiltered planning took $best%.2fs (min of 3) for $NManifests manifests — budget 10s")

    // Partition predicate: manifest-level summary pruning keeps ONE manifest,
    // so only one manifest is ever read; its 33 files survive.
    val (pPart, partReads, _) = timePlan(ReadOptions(filterSql = Some("part = 137")))
    assert(partReads == 1, s"partition filter should read 1 manifest, read $partReads")
    assert(pPart.dataFiles.size == PerManifest)
    assert(pPart.prunedManifests == NManifests - 1)

    // Stats predicate on id: no manifest-level signal (id isn't a partition
    // column) but file-level bounds keep exactly one file of the 9900.
    val (pStats, statsReads, _) = timePlan(ReadOptions(filterSql = Some("id = 4567890")))
    assert(statsReads == NManifests)
    assert(pStats.dataFiles.size == 1,
      s"id bounds should keep 1 of ${NManifests * PerManifest} files, kept ${pStats.dataFiles.size}")

    // Aggregate pushdown at metadata scale: commit the synthetic snapshot
    // and count(*) through the DSv2 path. The 9.9M-row answer comes from
    // manifests alone — none of the 9900 data files exists on disk, so any
    // attempt to open one would fail loudly.
    graft.write.IcebergWrite.commitMetadataNextVersion(bigMeta, conf)
    val t0 = System.nanoTime()
    val counted = spark.read.format("graft").load(path)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).collect()(0).getLong(0)
    val aggSec = (System.nanoTime() - t0) / 1e9
    assert(counted == NManifests.toLong * PerManifest * 1000L,
      s"metadata count(*) got $counted")
    assert(aggSec < 10.0, f"metadata count(*) took $aggSec%.2fs — budget 10s")
  }

  test("rewrite_manifests at metadata scale: 300 manifests collapse; planning reads drop to the bin count") {
    import spark.implicits._
    val path = tmpDir("graft_bigmeta_rwm")
    val seed = Seq((0L, 0, "x")).toDF("id", "part", "payload")
    IcebergTable.write(seed, path, TableWriteOptions(
      partitionBy = Seq(("part", Transforms.Identity))))
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val schema = meta.currentSchema
    val idF = schema.fieldByPath("id")
    val spec = meta.defaultSpec
    val partitionFields = spec.fields.map { pf =>
      (pf.name, pf.transform.resultType(schema.idToField(pf.sourceId).fieldType), pf.fieldId)
    }
    val snapId = meta.currentSnapshot.get.snapshotId
    val manifests = (0 until NManifests).map { m =>
      val entries = (0 until PerManifest).map { j =>
        val gid = (m * PerManifest + j).toLong
        ManifestEntry(EntryStatus.Added, Some(snapId), Some(1L), Some(1L), DataFileInfo(
          content = 0, filePath = s"${meta.location}/data/fake-$m-$j.parquet",
          fileFormat = "parquet", partitionValues = Seq(m), recordCount = 1000L,
          fileSizeInBytes = 1L << 20, columnSizes = Map.empty,
          valueCounts = Map(idF.id -> 1000L), nullValueCounts = Map(idF.id -> 0L),
          nanValueCounts = Map.empty,
          lowerBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L, IcebergTypes.LongT)),
          upperBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L + 999L, IcebergTypes.LongT)),
          splitOffsets = Nil, equalityIds = Nil, sortOrderId = None))
      }
      val mPath = s"${meta.location}/metadata/rwm-$m.avro"
      val len = ManifestIO.writeManifest(mPath, conf, partitionFields, entries, Map.empty)
      ManifestFile(mPath, len, spec.specId, 0, 1L, 1L, snapId,
        PerManifest, 0, 0, PerManifest * 1000L, 0L, 0L,
        partitions = Seq(FieldSummary(containsNull = false, containsNan = None,
          lowerBound = Some(SingleValue.serialize(m, IcebergTypes.IntT)),
          upperBound = Some(SingleValue.serialize(m, IcebergTypes.IntT)))))
    }
    val listPath = s"${meta.location}/metadata/rwm-list.avro"
    ManifestIO.writeManifestList(listPath, conf, manifests)
    val snap = meta.currentSnapshot.get.copy(snapshotId = 997L, manifestList = listPath)
    graft.write.IcebergWrite.commitMetadataNextVersion(
      meta.copy(snapshots = Seq(snap), currentSnapshotId = Some(997L)), conf)

    def reads[A](f: => A): (A, Long) = {
      val r0 = ManifestIO.manifestReads.get()
      val a = f
      (a, ManifestIO.manifestReads.get() - r0)
    }
    val (pBefore, rBefore) = reads(IcebergTable.plan(spark, path))
    assert(pBefore.dataFiles.size == NManifests * PerManifest && rBefore == NManifests)

    val r = graft.write.Maintenance.rewriteManifests(spark, path)
    assert(r.rewrittenManifests == NManifests)
    assert(r.addedManifests < NManifests / 10,
      s"300 micro-manifests should bin to a handful, got ${r.addedManifests}")

    // Planning now reads the merged manifests; same file set survives.
    val (pAfter, rAfter) = reads(IcebergTable.plan(spark, path))
    assert(rAfter == r.addedManifests,
      s"post-rewrite planning should read ${r.addedManifests} manifests, read $rAfter")
    assert(pAfter.dataFiles.size == NManifests * PerManifest)

    // Manifest-level pruning works THROUGH the merged summaries (the bins
    // are re-summarized, not summary-less): a partition predicate reads a
    // strict subset of the merged manifests.
    val (pPart, rPart) = reads(IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some("part = 137"))))
    assert(pPart.dataFiles.size == PerManifest)
    assert(rPart < r.addedManifests || r.addedManifests == 1,
      s"merged summaries should prune manifests: read $rPart of ${r.addedManifests}")

    // count(*) fast path stays manifest-exact.
    assert(pAfter.fastRowCount.contains(NManifests.toLong * PerManifest * 1000L))
  }

  test("delete planning at scale: 1000 delete entries; per-query delete survivors stay O(touched partitions)") {
    import spark.implicits._
    val path = tmpDir("graft_bigmeta_del")
    val seed = Seq((0L, 0, "x")).toDF("id", "part", "payload")
    IcebergTable.write(seed, path, TableWriteOptions(
      partitionBy = Seq(("part", Transforms.Identity))))
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val schema = meta.currentSchema
    val idF = schema.fieldByPath("id")
    val spec = meta.defaultSpec
    val partitionFields = spec.fields.map { pf =>
      (pf.name, pf.transform.resultType(schema.idToField(pf.sourceId).fieldType), pf.fieldId)
    }
    val snapId = meta.currentSnapshot.get.snapshotId
    def dataPath(part: Int, j: Int) = s"${meta.location}/data/fake-$part-$j.parquet"

    // Data: 300 partitions x 33 files, one manifest per partition,
    // id-ranges globally disjoint (same shape as the read-side probe).
    val dataManifests = (0 until NManifests).map { m =>
      val entries = (0 until PerManifest).map { j =>
        val gid = (m * PerManifest + j).toLong
        ManifestEntry(EntryStatus.Added, Some(snapId), Some(1L), Some(1L), DataFileInfo(
          content = FileContent.Data, filePath = dataPath(m, j), fileFormat = "parquet",
          partitionValues = Seq(m), recordCount = 1000L, fileSizeInBytes = 1L << 20,
          columnSizes = Map.empty,
          valueCounts = Map(idF.id -> 1000L), nullValueCounts = Map(idF.id -> 0L),
          nanValueCounts = Map.empty,
          lowerBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L, IcebergTypes.LongT)),
          upperBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L + 999L, IcebergTypes.LongT)),
          splitOffsets = Nil, equalityIds = Nil, sortOrderId = None))
      }
      val mPath = s"${meta.location}/metadata/del-data-$m.avro"
      val len = ManifestIO.writeManifest(mPath, conf, partitionFields, entries, Map.empty)
      ManifestFile(mPath, len, spec.specId, 0, 1L, 1L, snapId,
        PerManifest, 0, 0, PerManifest * 1000L, 0L, 0L,
        partitions = Seq(FieldSummary(containsNull = false, containsNan = None,
          lowerBound = Some(SingleValue.serialize(m, IcebergTypes.IntT)),
          upperBound = Some(SingleValue.serialize(m, IcebergTypes.IntT)))))
    }

    // Deletes: 100 delete manifests x 10 entries = 1000, each manifest
    // spanning partitions [3m, 3m+2]. Per partition: two positional deletes
    // pinned by path bounds to data files j=0 / j=1, plus (every third
    // entry) one equality delete with a narrow id range inside file j=2.
    val NDelManifests = 100
    val pathFid = DataFileInfo.PosDeletePathFieldId
    val deleteManifests = (0 until NDelManifests).map { m =>
      val entries = (0 until 10).map { i =>
        val part = 3 * m + i % 3
        val info =
          if (i < 6) { // positional, referenced file via exact path bounds
            val ref = dataPath(part, i % 2)
            val b = ref.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            DataFileInfo(
              content = FileContent.PositionDeletes, filePath = s"${meta.location}/data/del-$m-$i.parquet",
              fileFormat = "parquet", partitionValues = Seq(part), recordCount = 5L,
              fileSizeInBytes = 1L << 10, columnSizes = Map.empty,
              valueCounts = Map.empty, nullValueCounts = Map.empty, nanValueCounts = Map.empty,
              lowerBounds = Map(pathFid -> b), upperBounds = Map(pathFid -> b),
              splitOffsets = Nil, equalityIds = Nil, sortOrderId = None)
          } else { // equality delete: id range inside file (part, j=2)
            val gid = (part * PerManifest + 2).toLong
            DataFileInfo(
              content = FileContent.EqualityDeletes, filePath = s"${meta.location}/data/eqdel-$m-$i.parquet",
              fileFormat = "parquet", partitionValues = Seq(part), recordCount = 3L,
              fileSizeInBytes = 1L << 10, columnSizes = Map.empty,
              valueCounts = Map(idF.id -> 3L), nullValueCounts = Map(idF.id -> 0L),
              nanValueCounts = Map.empty,
              lowerBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L, IcebergTypes.LongT)),
              upperBounds = Map(idF.id -> SingleValue.serialize(gid * 1000L + 10L, IcebergTypes.LongT)),
              splitOffsets = Nil, equalityIds = Seq(idF.id), sortOrderId = None)
          }
        ManifestEntry(EntryStatus.Added, Some(snapId), Some(2L), Some(2L), info)
      }
      val mPath = s"${meta.location}/metadata/del-del-$m.avro"
      val len = ManifestIO.writeManifest(mPath, conf, partitionFields, entries, Map.empty)
      ManifestFile(mPath, len, spec.specId, 1, 2L, 2L, snapId,
        10, 0, 0, 0L, 0L, 10L * 5,
        partitions = Seq(FieldSummary(containsNull = false, containsNan = None,
          lowerBound = Some(SingleValue.serialize(3 * m, IcebergTypes.IntT)),
          upperBound = Some(SingleValue.serialize(3 * m + 2, IcebergTypes.IntT)))))
    }

    val listPath = s"${meta.location}/metadata/del-list.avro"
    ManifestIO.writeManifestList(listPath, conf, dataManifests ++ deleteManifests)
    val snap = meta.currentSnapshot.get.copy(snapshotId = 998L, manifestList = listPath,
      sequenceNumber = 2L)
    val bigMeta = meta.copy(snapshots = Seq(snap), currentSnapshotId = Some(998L),
      lastSequenceNumber = 2L)

    def probe(opts: ReadOptions): (graft.read.ScanPlan, Long) = {
      val r0 = ManifestIO.manifestReads.get()
      val p = IcebergRead.planWithMetadata(spark, bigMeta, conf, opts)
      (p, ManifestIO.manifestReads.get() - r0)
    }

    // Stable across 3 runs: same counts every time.
    (1 to 3).foreach { _ =>
      // Unfiltered: everything read once, all deletes survive planning.
      val (pAll, rAll) = probe(ReadOptions())
      assert(rAll == NManifests + NDelManifests, s"expected ${NManifests + NDelManifests} reads, got $rAll")
      assert(pAll.dataFiles.size == NManifests * PerManifest)
      assert(pAll.deleteFiles.size == NDelManifests * 10)

      // Partition-scoped query: ONE data manifest + ONE delete manifest read
      // (summary pruning), and only the touched partition's deletes survive
      // — the per-query delete-open set is O(touched partitions), not
      // O(total deletes). Partition 137 lives in delete manifest 45
      // (parts 135-137) with entries i in {2,5,8}: two positional + one eq.
      val (pPart, rPart) = probe(ReadOptions(filterSql = Some("part = 137")))
      assert(rPart == 2, s"partition query should read 2 manifests (1 data + 1 delete), read $rPart")
      assert(pPart.dataFiles.size == PerManifest)
      assert(pPart.deleteFiles.size == 3,
        s"partition 137 has 3 deletes, planner kept ${pPart.deleteFiles.size}")
      assert(pPart.deleteFiles.forall(_.info.partitionValues == Seq(137)))

      // Narrowing to one data file drops positional deletes whose path
      // bounds reference other files: only the equality delete survives.
      val gid137 = (137 * PerManifest + 5).toLong // file (137, j=5)
      val (pOne, _) = probe(ReadOptions(
        filterSql = Some(s"part = 137 AND id = ${gid137 * 1000L + 7L}")))
      assert(pOne.dataFiles.size == 1)
      assert(pOne.deleteFiles.size == 1 &&
        pOne.deleteFiles.head.info.content == FileContent.EqualityDeletes,
        s"path-bounds should drop both positional deletes, kept ${pOne.deleteFiles.map(_.info.filePath)}")

      // MERGE planning analog (the DML side of the same probe): the target
      // filter Dml.merge derives from a partition-keyed ON condition plans
      // exactly the touched partition — one data + one delete manifest
      // read, O(touched partitions) surviving deletes, over the same
      // 10k-file/1000-delete fixture.
      val mergeFilter = graft.write.Dml.targetOnlyConjuncts(spark,
        "t.part = s.part AND t.id = s.id AND t.part = 137", "t")
      assert(mergeFilter.isDefined, "partition-literal ON conjunct must extract")
      val (pMerge, rMerge) = probe(ReadOptions(filterSql = mergeFilter))
      assert(rMerge == 2, s"MERGE planning should read 2 manifests, read $rMerge")
      assert(pMerge.dataFiles.size == PerManifest)
      assert(pMerge.deleteFiles.size == 3,
        s"MERGE planning kept ${pMerge.deleteFiles.size} deletes, expected 3")
    }
  }
}
