package graft

import graft.core.Transforms
import graft.read.ReadOptions
import graft.write.TableWriteOptions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.functions._

/** `spark.read.format("graft")` and `IcebergTable.load` read the same rows
  * from the same tables, and the DSv2 route plans one graft batch scan:
  * no parquet file scan and no V1 bridge beneath it. */
class ScanDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def dsv2(path: String, opts: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("graft").options(opts).load(path)

  /** Same rows both ways, with the DSv2 side read by the batch scan. */
  private def same(label: String, viaDsv2: DataFrame, viaLoad: DataFrame): Unit = {
    withClue(s"$label: ")(assertSameResult(viaLoad, viaDsv2))
    val plan = viaDsv2.queryExecution.executedPlan
    assert(graftScans(viaDsv2).size == 1, s"$label: no graft batch scan in\n$plan")
    val other = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s
      case s: RowDataSourceScanExec => s
    }
    assert(other.isEmpty, s"$label: file scan or V1 bridge in\n$plan")
  }

  /** Every projection and filter shape of one table, both APIs. */
  private def compare(label: String, path: String, opts: ReadOptions = ReadOptions(),
      dsOpts: Map[String, String] = Map.empty, filter: String, narrow: String): Unit = {
    same(s"$label full", dsv2(path, dsOpts), IcebergTable.load(spark, path, opts))
    same(s"$label narrow", dsv2(path, dsOpts).select(narrow),
      IcebergTable.load(spark, path, opts).select(narrow))
    same(s"$label filtered", dsv2(path, dsOpts).where(filter),
      IcebergTable.load(spark, path, opts).where(filter))
    same(s"$label filtered count", dsv2(path, dsOpts).where(filter).agg(count(lit(1))),
      IcebergTable.load(spark, path, opts).where(filter).agg(count(lit(1))))
  }

  private def rows(n: Int, off: Int = 0) =
    (off until off + n).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "k", "v").repartition(3)

  test("v3 deletion vectors") {
    val path = tmpDir("graft_diff_dv")
    IcebergTable.write(rows(3000), path, TableWriteOptions(formatVersion = 3,
      partitionBy = Seq(("k", Transforms.Identity))))
    IcebergTable.delete(spark, path, "id % 5 = 0")
    assert(IcebergTable.plan(spark, path).deleteFiles.forall(_.info.contentOffset.isDefined))
    compare("dv", path, filter = "id >= 1000 AND k = 2", narrow = "v")
    // EXPLAIN shows one graft scan node with its pushed filter and file counts.
    val p = IcebergTable.plan(spark, path, ReadOptions(filterSql = Some("k = 2")))
    val explained = dsv2(path).where("k = 2").queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("BatchScan graft".r.findAllIn(explained).size == 2 && // tree line + node details
      explained.contains("pushed=[(`k` = 2)]") &&
      explained.contains(s"dataFiles=${p.dataFiles.size}/${p.totalDataFiles}") &&
      explained.contains(s"deleteFiles=${p.deleteFiles.size}"), explained)
    assert(p.dataFiles.size < p.totalDataFiles && p.deleteFiles.nonEmpty)
    // A count with nothing projected reads the row index alone.
    assert(dsv2(path).count() == 2400)
  }

  test("v2 position deletes: one-file and several-file delete files") {
    // Partitioned with one file per partition: each delete file names one
    // data file. Unpartitioned over three files: one delete file names all.
    val single = tmpDir("graft_diff_pos1")
    IcebergTable.write(rows(2000).repartition(col("k")), single, TableWriteOptions(formatVersion = 2,
      partitionBy = Seq(("k", Transforms.Identity))))
    IcebergTable.delete(spark, single, "id % 7 = 0")
    val multi = tmpDir("graft_diff_posn")
    IcebergTable.write(rows(2000), multi, TableWriteOptions(formatVersion = 2))
    IcebergTable.delete(spark, multi, "id % 7 = 0")
    IcebergTable.delete(spark, multi, "id % 11 = 0")
    val one = IcebergTable.plan(spark, single).deleteFiles
    assert(one.nonEmpty && one.forall(_.info.referencedPath.isDefined))
    val many = IcebergTable.plan(spark, multi)
    assert(many.dataFiles.size > 1 && many.deleteFiles.forall(_.info.referencedPath.isEmpty))
    compare("pos single", single, filter = "id < 1500", narrow = "id")
    compare("pos multi", multi, filter = "k = 1", narrow = "v")
  }

  test("an identity column that older files lack, and identity values read as constants") {
    val path = tmpDir("graft_diff_identity")
    IcebergTable.write(rows(500).select("id", "v"), path, TableWriteOptions(formatVersion = 2))
    IcebergTable.addColumn(spark, path, "k", "int")
    IcebergTable.addPartitionField(spark, path, "k")
    IcebergTable.append(rows(500, 500).select("id", "v", "k"), path)
    compare("added identity", path, filter = "k IS NULL OR k = 3", narrow = "k")
    // A table declaring its partition values unwritten reads them from the
    // partition tuple in every file.
    IcebergTable.setTableProperties(spark, path, Map("write.parquet.write-partition-values" -> "false"))
    compare("identity constants", path, filter = "k = 3", narrow = "k")
  }

  test("an initial default fills older files") {
    val path = tmpDir("graft_diff_default")
    IcebergTable.write(rows(600), path, TableWriteOptions(formatVersion = 3))
    IcebergTable.addColumn(spark, path, "d", "long", Some("42"))
    IcebergTable.append(rows(300, 600).withColumn("d", col("id") * 2), path)
    compare("default", path, filter = "d = 42 OR id > 800", narrow = "d")
    assert(dsv2(path).where("d = 42").count() == 600)
  }

  test("time travel, with deletes after the snapshot") {
    val path = tmpDir("graft_diff_tt")
    IcebergTable.write(rows(1000), path, TableWriteOptions(formatVersion = 3))
    IcebergTable.append(rows(1000, 1000), path)
    val snap = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
      .currentSnapshot.get.snapshotId
    IcebergTable.delete(spark, path, "id % 3 = 0")
    compare("time travel", path, ReadOptions(snapshotId = Some(snap)),
      Map("snapshot-id" -> snap.toString), filter = "id >= 500", narrow = "id")
    compare("current", path, filter = "id >= 500", narrow = "id")
  }

  test("a DSv2 count(*) over an equality-deleted table plans no V1 bridge") {
    val path = tmpDir("graft_diff_eq")
    IcebergTable.write(rows(1000), path, TableWriteOptions(formatVersion = 2))
    IcebergTable.deleteEquality(spark, path, Seq(3L, 5L, 700L).toDF("id"))
    val counted = dsv2(path).agg(count(lit(1)))
    assert(counted.collect()(0).getLong(0) == IcebergTable.load(spark, path).count())
    assert(counted.collect()(0).getLong(0) == 997)
    val plan = counted.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) { case s: RowDataSourceScanExec => s }.isEmpty,
      s"count(*) went through the V1 bridge:\n$plan")
  }
}
