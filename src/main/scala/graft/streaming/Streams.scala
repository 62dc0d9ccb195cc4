package graft.streaming

import graft.core._
import graft.manifest.ManifestIO
import graft.read.{IcebergRead, ReadOptions, ScanPlan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader

/**
 * Streaming + incremental-read surface.
 *
 * The reference has no streaming operators; its incremental hooks are
 * snapshots + sequence numbers (SURVEY §2.9). Here:
 *  - `appendsSince` is the batch incremental read (files added after a given
 *    snapshot) that a Structured Streaming source polls per micro-batch.
 *  - `readEventStream` is the Structured Streaming ingestion path (file
 *    source -> watermark -> windowed aggregation), the Spark-native way to
 *    keep an Iceberg table fed by a stream.
 */
object Streams {

  /** Incremental read: rows from data files ADDED strictly after
    * `afterSnapshotId` (exclusive), up to the current snapshot. The
    * building block for a micro-batch Iceberg source: each batch calls this
    * with the last processed snapshot id. */
  def appendsSince(spark: SparkSession, path: String, afterSnapshotId: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val after = meta.snapshots.find(_.snapshotId == afterSnapshotId)
      .getOrElse(throw new IllegalArgumentException(s"Unknown snapshot $afterSnapshotId"))
    val schema = meta.currentSchema
    meta.currentSnapshot match {
      case None => IcebergRead.emptyDF(spark, schema.toSpark)
      case Some(cur) =>
        val manifests = ManifestIO.readManifestList(
          TableMetadata.resolvePath(meta.location, cur.manifestList, conf), conf)
        // Only manifests added after the cutoff can contain new files.
        val newer = manifests.filter(m => m.content == 0 && m.sequenceNumber > after.sequenceNumber)
        val files = newer.flatMap { m =>
          ManifestIO.readManifest(TableMetadata.resolvePath(meta.location, m.path, conf), conf, m)
            .filter(e => e.isLive && e.sequenceNumber.exists(_ > after.sequenceNumber))
            .map(e => graft.read.PlannedFile(e.dataFile,
              TableMetadata.resolvePath(meta.location, e.dataFile.filePath, conf),
              m.partitionSpecId, e.sequenceNumber.getOrElse(0L), e.status, e.dataFile.firstRowId))
        }
        if (files.isEmpty) IcebergRead.emptyDF(spark, schema.toSpark)
        else {
          // Route through the normal scan assembly so field-id projection,
          // initial-defaults, and partition constants apply — a plain
          // read-by-name returns nulls after a column rename/add.
          val plan = graft.read.ScanPlan(meta, Some(cur), schema, files, Nil,
            files.size, 0, newer.size, 0)
          IcebergRead.assemble(spark, plan, conf, ReadOptions())
        }
    }
  }

  /** Bounded incremental read for the micro-batch source: rows from data
    * files live at `toSnapshotId` but NOT live at `fromSnapshotId`
    * (set-difference on file paths — robust across v1 tables where data
    * sequence numbers are all 0, and across manifest rewrites/compaction
    * that re-sequence entries). `fromSnapshotId = None` reads the table from
    * the beginning up to `toSnapshotId`. Deletes that apply to the fresh
    * files at `to` are honored via the normal scan assembly. */
  def appendsBetween(spark: SparkSession, path: String,
      fromSnapshotId: Option[Long], toSnapshotId: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val toOpts = ReadOptions(snapshotId = Some(toSnapshotId))
    val toPlan = IcebergRead.planWithMetadata(spark, meta, conf, toOpts)
    val prevPaths: Set[String] = fromSnapshotId match {
      case None => Set.empty
      case Some(id) =>
        IcebergRead.planWithMetadata(spark, meta, conf, ReadOptions(snapshotId = Some(id)))
          .dataFiles.map(_.resolvedPath).toSet
    }
    val fresh = toPlan.dataFiles.filterNot(f => prevPaths(f.resolvedPath))
    if (fresh.isEmpty) IcebergRead.emptyDF(spark, toPlan.schema.toSpark)
    else IcebergRead.assemble(spark, toPlan.copy(dataFiles = fresh), conf, toOpts)
  }

  /** [[changesBetween]] with defaulted bounds: `to` = current snapshot
    * (empty table → empty CDC frame), `from` = table creation. Backs the
    * DSv2 `changelog` read option and the `<table>.changes` SQL metadata
    * table. */
  def changes(spark: SparkSession, path: String,
      fromSnapshotId: Option[Long] = None,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    toSnapshotId.orElse(meta.currentSnapshotId) match {
      case Some(to) => changesBetween(spark, path, fromSnapshotId, to)
      case None =>
        IcebergRead.emptyDF(spark, meta.currentSchema.toSpark)
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_snapshot_id", lit(0L))
          .withColumn("_change_ordinal", lit(0))
    }
  }

  /** [[appendsBetween]] with defaulted bounds (DSv2 `start-snapshot-id` /
    * `end-snapshot-id` read options — the Iceberg-Spark incremental-read
    * convention). */
  def appendsRange(spark: SparkSession, path: String,
      fromSnapshotId: Option[Long], toSnapshotId: Option[Long]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    toSnapshotId.orElse(meta.currentSnapshotId) match {
      case Some(to) => appendsBetween(spark, path, fromSnapshotId, to)
      case None => IcebergRead.emptyDF(spark, meta.currentSchema.toSpark)
    }
  }

  /** Relabel paired delete+insert rows as updates: within one commit
    * (`_change_ordinal`) a key that has BOTH a delete and an insert is an
    * UPDATE — the delete row becomes `update_preimage`, the insert row
    * `update_postimage` (the Iceberg-Spark `create_changelog_view
    * (compute_updates)` semantics). `identifierColumns` must uniquely key
    * rows, as Iceberg requires of its identifier fields.
    *
    * Scale shape: one hash shuffle on (key, ordinal) for the window — no
    * global sort, no driver state. */
  def computeUpdates(changelog: DataFrame, identifierColumns: Seq[String]): DataFrame = {
    require(identifierColumns.nonEmpty, "computeUpdates needs at least one identifier column")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(
      (identifierColumns.map(col) :+ col("_change_ordinal")): _*)
    changelog
      .withColumn("_has_ins",
        max(when(col("_change_type") === "insert", 1).otherwise(0)).over(w))
      .withColumn("_has_del",
        max(when(col("_change_type") === "delete", 1).otherwise(0)).over(w))
      .withColumn("_change_type",
        when(col("_has_ins") === 1 && col("_has_del") === 1,
          when(col("_change_type") === "delete", lit("update_preimage"))
            .otherwise(lit("update_postimage")))
          .otherwise(col("_change_type")))
      .drop("_has_ins", "_has_del")
  }

  /** CDC changelog read (the Spark-Iceberg `table_changes` shape): every
    * row-level change on the main ancestry between `fromSnapshotId`
    * (exclusive; None = table creation) and `toSnapshotId` (inclusive),
    * with `_change_type` ('insert' | 'delete'), `_commit_snapshot_id`, and
    * `_change_ordinal` (commit position within the range). An UPDATE
    * surfaces as delete + insert in the same ordinal.
    *
    * Scale shape: the walk is metadata-only per snapshot; data IO is
    * bounded by CHANGED files — added files are scanned once, removed
    * files once, and surviving files are re-read only when a new delete
    * file could apply to them (narrowed by positional-delete path bounds
    * to exactly the referenced files where recorded). Compaction commits
    * (operation 'replace') rewrite bytes, not rows, and are skipped
    * entirely. */
  def changesBetween(spark: SparkSession, path: String,
      fromSnapshotId: Option[Long], toSnapshotId: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = TableMetadata.load(path, conf)
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    require(byId.contains(toSnapshotId), s"Unknown snapshot $toSnapshotId")
    fromSnapshotId.foreach(f => require(byId.contains(f), s"Unknown snapshot $f"))

    // Ancestry chain (to .. from], oldest first.
    var chain = List.empty[SnapshotInfo]
    var cur: Option[Long] = Some(toSnapshotId)
    while (cur.isDefined && cur != fromSnapshotId) {
      val s = byId(cur.get)
      chain = s :: chain
      cur = s.parentSnapshotId
    }
    require(cur == fromSnapshotId || fromSnapshotId.isEmpty,
      s"Snapshot ${fromSnapshotId.get} is not an ancestor of $toSnapshotId")

    // Memoize the single most recent plan: walking the chain, snapshot s's
    // plan IS the next iteration's parent plan, so without this every
    // commit in a long history is planned twice (2× driver manifest IO —
    // the dominant changelog cost on a 10k-commit table). One entry, not a
    // map: O(1) memory on arbitrarily long histories.
    var memo: Option[(Long, ScanPlan)] = None
    def planAt(id: Long): ScanPlan = memo match {
      case Some((mid, p)) if mid == id => p
      case _ =>
        val p = IcebergRead.planWithMetadata(spark, meta, conf,
          ReadOptions(snapshotId = Some(id)))
        memo = Some((id, p))
        p
    }
    def tag(df: DataFrame, change: String, snap: SnapshotInfo, ordinal: Int): DataFrame =
      df.withColumn("_change_type", lit(change))
        .withColumn("_commit_snapshot_id", lit(snap.snapshotId))
        .withColumn("_change_ordinal", lit(ordinal))

    val empty = tag(IcebergRead.emptyDF(spark, meta.currentSchema.toSpark),
      "insert", chain.headOption.getOrElse(byId(toSnapshotId)), 0).limit(0)

    var prev: Option[SnapshotInfo] = fromSnapshotId.map(byId)
    val parts = Seq.newBuilder[DataFrame]
    chain.zipWithIndex.foreach { case (s, ordinal) =>
      val p = prev
      prev = Some(s)
      if (s.operation != "replace") {
        // Parent first: it is the memoized plan from the previous iteration;
        // planning s afterwards refills the memo for the next one.
        val planP = p.map(x => planAt(x.snapshotId))
        val planS = planAt(s.snapshotId)
        val pPaths = planP.map(_.dataFiles.map(_.resolvedPath).toSet).getOrElse(Set.empty)
        val sPaths = planS.dataFiles.map(_.resolvedPath).toSet

        val added = planS.dataFiles.filterNot(f => pPaths(f.resolvedPath))
        if (added.nonEmpty)
          parts += tag(IcebergRead.assemble(spark, planS.copy(dataFiles = added), conf,
            ReadOptions()), "insert", s, ordinal)

        planP.foreach { pp =>
          val removed = pp.dataFiles.filterNot(f => sPaths(f.resolvedPath))
          if (removed.nonEmpty)
            parts += tag(IcebergRead.assemble(spark, pp.copy(dataFiles = removed), conf,
              ReadOptions()), "delete", s, ordinal)

          // Rows deleted from SURVIVING files by delete files new in s
          // (positional, DV, or equality): net-out as before-except-after
          // over only the affected files — correct for every delete format
          // without re-deriving its semantics.
          val pDel = pp.deleteFiles.map(d => (d.resolvedPath, d.info.contentOffset)).toSet
          val newDel = planS.deleteFiles.filterNot(d => pDel((d.resolvedPath, d.info.contentOffset)))
          if (newDel.nonEmpty) {
            val surviving = planS.dataFiles.filter(f => pPaths(f.resolvedPath))
            // Narrow to files a new delete can actually reference.
            val referenced: Option[Set[String]] = {
              val sets = newDel.map { d =>
                if (d.info.content == graft.manifest.FileContent.PositionDeletes) d.info.referencedPath
                else None // equality delete: no per-file reference
              }
              if (sets.forall(_.isDefined)) Some(sets.flatten.toSet) else None
            }
            val affected = referenced match {
              case Some(refs) => surviving.filter(f => refs.contains(f.recordedPath))
              case None => surviving
            }
            if (affected.nonEmpty) {
              val paths = affected.map(_.resolvedPath).toSet
              val beforeFiles = pp.dataFiles.filter(f => paths(f.resolvedPath))
              val before = IcebergRead.assemble(spark, pp.copy(dataFiles = beforeFiles), conf, ReadOptions())
              val after = IcebergRead.assemble(spark, planS.copy(dataFiles = affected), conf, ReadOptions())
              parts += tag(before.exceptAll(after), "delete", s, ordinal)
            }
          }
        }
      }
    }
    val built = parts.result()
    if (built.isEmpty) empty else built.reduce(_ unionByName _)
  }

  /** Latest snapshot id + its ordinal in the snapshot log (the micro-batch
    * offset), or None for an empty table. */
  def latestCursor(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val meta = TableMetadata.load(path, spark.sessionState.newHadoopConf())
    meta.currentSnapshot.map(s => (s.snapshotId, meta.snapshots.indexWhere(_.snapshotId == s.snapshotId).toLong))
  }

  /** Rate-limited cursor (`maxFilesPerTrigger` backpressure): the newest
    * main-ancestry snapshot whose cumulative added data files since
    * `afterSnapshotId` (exclusive) stays within `maxFiles` — always
    * admitting at least one snapshot so the stream progresses. Per-snapshot
    * counts come from the snapshot summary's `added-data-files` (stamped by
    * every engine write; a snapshot without it is admitted alone,
    * conservatively). Metadata-only: no manifest IO — at 100 TB the summary
    * read is the whole cost of pacing a backlog. */
  def cappedCursor(spark: SparkSession, path: String,
      afterSnapshotId: Option[Long], maxFiles: Int): Option[(Long, Long)] = {
    require(maxFiles > 0, s"maxFilesPerTrigger must be positive, got $maxFiles")
    val meta = TableMetadata.load(path, spark.sessionState.newHadoopConf())
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    meta.currentSnapshotId.flatMap { head =>
      var chain = List.empty[SnapshotInfo]
      var cur: Option[Long] = Some(head)
      while (cur.isDefined && cur != afterSnapshotId && byId.contains(cur.get)) {
        val s = byId(cur.get)
        chain = s :: chain
        cur = s.parentSnapshotId
      }
      val admitted = chain.foldLeft((Option.empty[SnapshotInfo], maxFiles)) {
        case ((done, budget), s) =>
          val files = s.summary.get("added-data-files")
            .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(maxFiles)
          if (done.isEmpty) (Some(s), budget - files) // at least one
          else if (files <= budget) (Some(s), budget - files)
          else (done, -1) // budget spent: stop admitting (fold keeps `done`)
      }._1
      // No new snapshots (caught up): report the head unchanged.
      admitted.orElse(Some(byId(head)))
        .map(s => (s.snapshotId, meta.snapshots.indexWhere(_.snapshotId == s.snapshotId).toLong))
    }
  }

  /** Structured Streaming reader over a directory of event parquet files
    * (schema must be supplied for file streams). */
  def readEventStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Watermarked tumbling-window aggregation — the canonical streaming shape
    * (event-time window + late-data bound). Works on both streaming and
    * batch frames. Event times are normalized to a session-timezone
    * TIMESTAMP via [[graft.core.EventTime]] — `withWatermark` rejects both
    * LONG and TIMESTAMP_NTZ event-time columns, and the driver fixture has
    * shipped as each at different times. */
  def windowedEventCounts(events: DataFrame, tsCol: String, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val tsTyped = events.withColumn(tsCol, graft.core.EventTime.asTimestamp(events, tsCol))
    val withWm =
      if (tsTyped.isStreaming) tsTyped.withWatermark(tsCol, watermark) else tsTyped
    withWm
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window).as("w"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))
  }
}
