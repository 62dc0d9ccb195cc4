package graftbench

import graft.{Fixtures, IcebergTable, SparkEntry}
import graft.core.{TableMetadata, Transforms}
import graft.read.{IcebergRead, ReadOptions}
import graft.write.{Dml, TableWriteOptions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Shared helpers for workloads that read one graft table. */
abstract class TableWorkload(ctx: Ctx) extends Workload {
  protected val spark = ctx.spark
  protected var table: String = _

  /** `IcebergTable.load`; traced, the same three calls it composes, one
    * span each (TableMetadata.load, planWithMetadata, assemble). */
  protected def load(opts: ReadOptions): DataFrame =
    if (!ctx.traced) IcebergTable.load(spark, table, opts)
    else {
      val (conf, p) = tracedPlan(opts)
      ctx.span("assemble", "read")(IcebergRead.assemble(spark, p, conf, opts))
    }

  /** `IcebergTable.count`, traced through the same composition. */
  protected def countRows(opts: ReadOptions): Long =
    if (!ctx.traced) IcebergTable.count(spark, table, opts)
    else {
      val (conf, p) = tracedPlan(opts)
      p.fastRowCount.getOrElse(ctx.span("action", "spark_exec")(
        ctx.span("assemble", "read")(IcebergRead.assemble(spark, p, conf, opts)).count()))
    }

  private def tracedPlan(opts: ReadOptions) = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ctx.span("TableMetadata.load", "core")(TableMetadata.load(table, conf))
    val p = ctx.span("planWithMetadata", "read")(IcebergRead.planWithMetadata(spark, meta, conf, opts))
    ctx.add("read.manifests_scanned", p.scannedManifests)
    ctx.add("read.manifests_pruned", p.prunedManifests)
    ctx.add("read.data_files_total", p.totalDataFiles)
    ctx.add("read.data_files_kept", p.dataFiles.size)
    ctx.add("read.delete_files_total", p.totalDeleteFiles)
    ctx.add("read.delete_files_kept", p.deleteFiles.size)
    (conf, p)
  }

  override def afterOp(op: Op, out: OpOut, traced: Boolean): Unit =
    if (traced) {
      val conf = spark.sessionState.newHadoopConf()
      val f = new org.apache.hadoop.fs.Path(TableMetadata.findMetadataFile(table, conf))
      ctx.sums("core.metadata_json_bytes") += f.getFileSystem(conf).getFileStatus(f).getLen
    }

  override def layerMetrics(nOps: Int): Map[String, Double] = {
    val s = ctx.sums
    Map("read.file_keep_ratio" ->
      (if (s("read.data_files_total") > 0) s("read.data_files_kept") / s("read.data_files_total") else 0.0))
  }
}

/** `suite`: SparkEntry queries over the generated tables; one pass runs
  * every query of the plan once, in the plan's seeded order. */
final class SuiteWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val names = ctx.plan.get("passes").get(0).elements().asScala.map(_.asText).toSeq.sorted
  private var dir: String = ctx.input
  private def isPipeline(q: String) = Seq("dedup_", "ann_", "text_").exists(q.startsWith)

  /** Fixture caches are keyed by input directory, so each build gets its
    * own link to the inputs and therefore its own fresh tables. */
  private def inputLink(d: String): String = {
    val link = java.nio.file.Paths.get(d, "input")
    java.nio.file.Files.createDirectories(link.getParent)
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(ctx.input).toAbsolutePath)
    link.toString
  }

  /** The graft Iceberg tables the queries read (TpchExtra routes orders and
    * lineitem through a graft write and read). */
  def setup(d: String): Unit = {
    val in = inputLink(d)
    Seq("orders", "lineitem").foreach(Fixtures.plain(spark, in, _))
  }
  def use(d: String): Unit = dir = inputLink(d)

  def pass(i: Int): Seq[Op] = {
    val passes = ctx.plan.get("passes")
    passes.get(i % passes.size).elements().asScala.map(_.asText).toSeq.map { q =>
      Op(q, if (isPipeline(q)) "pipeline" else "query", q, Map.empty, () => {
        val df = ctx.span("construct", if (isPipeline(q)) "pipeline" else "plans")(
          SparkEntry.queries(q)(spark, dir))
        val rows = ctx.execute(df)
        if (isPipeline(q)) ctx.add("pipeline.output_rows", rows.length)
        OpOut(Map("rows" -> rows.length), Some((df.columns.toSeq, rows)))
      })
    }
  }

  override def oracleSql: Map[String, String] = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  override def layerMetrics(nOps: Int): Map[String, Double] = {
    val traced = ctx.tracer.spans.filter(_.op > 0)
    val opSpans = traced.filter(_.layer == "bench")
    def famMs(prefix: String): Double = {
      val ops = opSpans.filter(_.name.startsWith(prefix))
      if (ops.isEmpty) 0.0 else ops.map(s => s.endUs - s.startUs).sum / 1000.0 / ops.size
    }
    val constructIds = traced.filter(s => s.name == "construct" && s.layer == "pipeline").map(_.id).toSet
    Map(
      "pipeline.dedup_ms" -> famMs("dedup_"),
      "pipeline.ann_ms" -> famMs("ann_"),
      "pipeline.text_ms" -> famMs("text_"),
      "pipeline.jobs" -> traced.count(s => s.name.startsWith("job ") && constructIds(s.parent)).toDouble / nOps)
  }
}

/** `point_scan`: lineitem as a month-partitioned v3 table written in
  * orderkey-range slices, then one-month DELETE commits stored as deletion
  * vectors. Ops: point lookups, half-month ranges, counts and time travel,
  * alternating between `IcebergTable` and the DSv2 source. */
final class PointScan(ctx: Ctx) extends TableWorkload(ctx) {
  private val passes = ctx.plan.get("passes")
  private var preDeleteSnapshot = 0L

  def setup(d: String): Unit = {
    val path = s"$d/lineitem"
    val src = spark.read.parquet(s"${ctx.input}/lineitem.parquet")
    val slices = ctx.plan.get("slices").elements().asScala.map(b => (b.get(0).asLong, b.get(1).asLong)).toSeq
    def slice(b: (Long, Long)) = src.filter(col("l_orderkey") >= b._1 && col("l_orderkey") < b._2)
    IcebergTable.write(slice(slices.head), path,
      TableWriteOptions(partitionBy = Seq(("l_shipdate", Transforms.Month)), formatVersion = 3))
    slices.tail.foreach(b => IcebergTable.append(slice(b), path))
    ctx.plan.get("deletes").elements().asScala.foreach(dl => IcebergTable.delete(spark, path, PointScan.deletePredicate(dl)))
  }

  def use(d: String): Unit = {
    table = s"$d/lineitem"
    val meta = TableMetadata.load(table, spark.sessionState.newHadoopConf())
    val n = ctx.plan.get("deletes").size
    preDeleteSnapshot = Iterator.iterate(meta.currentSnapshot.get)(s =>
      meta.snapshots.find(x => s.parentSnapshotId.contains(x.snapshotId)).get).drop(n).next().snapshotId
  }

  private def dsv2(opts: Map[String, String]): DataFrame =
    spark.read.format("graft").options(opts).load(table)

  /** The warm pass runs one op of each kind through each API. */
  def pass(i: Int): Seq[Op] =
    (if (i == 0) ctx.plan.get("warm") else passes.get((i - 1) % passes.size)).elements().asScala.map(op).toSeq

  private def op(o: com.fasterxml.jackson.databind.JsonNode): Op = {
    val kind = o.get("kind").asText
    val api = o.get("api").asText
    val params: Map[String, Any] = o.fields().asScala.map(e => e.getKey -> (e.getValue match {
      case v if v.isNumber => v.asLong: Any
      case v => v.asText: Any
    })).toMap
    Op(s"${kind}_$api", kind, "", params, () => {
      def viaApi(pred: Option[String]): DataFrame =
        if (api == "load") load(ReadOptions(filterSql = pred))
        else pred.foldLeft(dsv2(Map.empty))((df, p) => df.filter(expr(p)))
      val layer = if (api == "load") "plans" else "sources"
      kind match {
        case "lookup" =>
          val pred = s"l_orderkey = ${o.get("key").asLong}"
          val r = ctx.execute(viaApi(Some(pred)).filter(expr(pred)).agg(count(lit(1)).as("n"),
            sum(col("l_linenumber").cast("long")).as("s1"), sum(col("l_partkey")).as("s2")), layer).head
          OpOut(Map("n" -> r.getLong(0), "s1" -> r.get(1), "s2" -> r.get(2)))
        case "range" =>
          val pred = s"l_shipdate >= TIMESTAMP '${o.get("lo").asText} 00:00:00' AND " +
            s"l_shipdate < TIMESTAMP '${o.get("hi").asText} 00:00:00'"
          val r = ctx.execute(viaApi(Some(pred)).filter(expr(pred))
            .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("s1")), layer).head
          OpOut(Map("n" -> r.getLong(0), "s1" -> r.get(1)))
        case "count" | "time_travel" =>
          val snap = if (kind == "count") None else Some(preDeleteSnapshot)
          val n =
            if (api == "load") countRows(ReadOptions(snapshotId = snap))
            else ctx.execute(dsv2(snap.map(s => "snapshot-id" -> s.toString).toMap)
              .agg(count(lit(1))), "sources").head.getLong(0)
          OpOut(Map("n" -> n))
      }
    })
  }
}

object PointScan {
  def deletePredicate(d: com.fasterxml.jackson.databind.JsonNode): String = {
    val (y, m) = (d.get("year").asInt, d.get("month").asInt)
    val (ny, nm) = if (m == 12) (y + 1, 1) else (y, m + 1)
    f"l_shipdate >= TIMESTAMP '$y%04d-$m%02d-01 00:00:00' AND l_shipdate < TIMESTAMP '$ny%04d-$nm%02d-01 00:00:00'" +
      s" AND l_orderkey % ${d.get("mod").asInt} = ${d.get("rem").asInt}"
  }
}

/** `dml_mixed`: orders as a v2 table. Each pass is one round: append, delete
  * a key slice, update another, merge a batch, read back an aggregate, and
  * compact. */
final class DmlMixed(ctx: Ctx) extends TableWorkload(ctx) {
  private val rounds = ctx.plan.get("rounds")
  private lazy val appends = spark.read.parquet(s"${ctx.input}/append_batches.parquet")
  private lazy val merges = spark.read.parquet(s"${ctx.input}/merge_batches.parquet")

  def setup(d: String): Unit =
    IcebergTable.write(spark.read.parquet(s"${ctx.input}/orders.parquet"), s"$d/orders",
      TableWriteOptions(formatVersion = 2))
  def use(d: String): Unit = table = s"$d/orders"

  private def commit(name: String, params: Map[String, Any])(body: => graft.core.TableMetadata): Op =
    Op(name, "commit", "", params, () => {
      val meta = ctx.span(name, "write")(body)
      val sum = meta.currentSnapshot.map(_.summary).getOrElse(Map.empty)
      OpOut(sum.filter(_._1.startsWith("added-")).map { case (k, v) => k -> (v.toLong: Any) } ++
        Map("total-delete-files" -> (sum.getOrElse("total-delete-files", "0").toLong: Any)))
    })

  def pass(i: Int): Seq[Op] = {
    val r = rounds.get(i % rounds.size)
    val dl = r.get("delete"); val up = r.get("update")
    val b = r.get("append_batch").asInt; val mb = r.get("merge_batch").asInt
    val delPred = s"o_orderkey % ${dl.get("mod").asInt} = ${dl.get("rem").asInt}"
    val upPred = s"o_orderkey % ${up.get("mod").asInt} = ${up.get("rem").asInt}"
    val delta = up.get("delta").asInt
    Seq(
      commit("append", Map("batch" -> b))(
        IcebergTable.append(appends.filter(col("batch") === b).drop("batch"), table)),
      commit("delete", Map("mod" -> dl.get("mod").asInt, "rem" -> dl.get("rem").asInt))(
        IcebergTable.delete(spark, table, delPred)),
      commit("update", Map("mod" -> up.get("mod").asInt, "rem" -> up.get("rem").asInt, "delta" -> delta))(
        IcebergTable.update(spark, table, upPred, Map("o_totalprice" -> s"o_totalprice + $delta"))),
      commit("merge", Map("batch" -> mb))(
        IcebergTable.merge(spark, table, merges.filter(col("batch") === mb).drop("batch"),
          "t.o_orderkey = s.o_orderkey",
          Dml.MergeActions(matchedUpdate = Some(Map(
            "o_totalprice" -> "s.o_totalprice", "o_orderstatus" -> "s.o_orderstatus")), insertAll = true))),
      Op("read", "read", "", Map.empty, () => {
        val r = ctx.execute(load(ReadOptions()).agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))).head
        OpOut(Map("n" -> r.getLong(0), "sum_key" -> r.get(1), "sum_cents" -> r.get(2)))
      }),
      commit("compact", Map.empty)(IcebergTable.rewriteDataFiles(spark, table)))
  }

  override def afterOp(op: Op, out: OpOut, traced: Boolean): Unit = {
    super.afterOp(op, out, traced)
    if (traced && op.cls == "commit") {
      def v(k: String) = out.check.get(k).map(_.asInstanceOf[Long].toDouble).getOrElse(0.0)
      ctx.sums("write.files_added") += v("added-data-files")
      ctx.sums("write.delete_files_added") += v("added-delete-files")
      ctx.sums("write.bytes_added") += v("added-files-size")
      ctx.sums("write.live_delete_files") += v("total-delete-files")
      ctx.sums("write.commits") += 1
      if (op.name != "compact") ctx.sums("write.rows_changed") += v("added-records") + v("added-position-deletes")
    }
  }

  override def layerMetrics(nOps: Int): Map[String, Double] = {
    val s = ctx.sums
    val traced = ctx.tracer.spans.filter(_.op > 0)
    val commits = math.max(1.0, s("write.commits"))
    val writeSpans = traced.filter(_.layer == "write")
    val writeIds = writeSpans.map(_.id).toSet
    val jobUs = traced.filter(j => j.name.startsWith("job ") && writeIds(j.parent)).map(j => j.endUs - j.startUs).sum
    val writeUs = writeSpans.map(x => x.endUs - x.startUs).sum
    super.layerMetrics(nOps) ++ Seq("append", "delete", "update", "merge", "compact").map { n =>
      val xs = writeSpans.filter(_.name == n).map(x => (x.endUs - x.startUs) / 1000.0).sorted.toSeq
      s"write.${n}_ms" -> Main.median(xs)
    } ++ Map(
      "write.job_ms" -> jobUs / 1000.0 / commits,
      "write.driver_ms" -> (writeUs - jobUs) / 1000.0 / commits,
      "write.files_added" -> s("write.files_added") / commits,
      "write.delete_files_added" -> s("write.delete_files_added") / commits,
      "write.bytes_added" -> s("write.bytes_added") / commits,
      "write.live_delete_files" -> s("write.live_delete_files") / commits,
      "write.bytes_per_row" -> (if (s("write.rows_changed") > 0) s("write.bytes_added") / s("write.rows_changed") else 0.0))
  }
}
