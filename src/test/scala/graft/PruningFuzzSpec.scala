package graft

import graft.core.Transforms
import graft.read.ReadOptions
import graft.write.TableWriteOptions
import org.apache.spark.sql.functions._

/** Seeded-random pruning soundness: for ANY pushable predicate, the pruned
  * scan (manifest + partition + stats pruning, then residual filter) must
  * return exactly the rows of an unpruned scan with the same filter.
  * Complements the reference's expression_filter sqllogictest (which fixes
  * the predicates); here the predicates are generated — comparisons on
  * partition-transformed, stats-only, and string columns composed with
  * AND/OR/NOT, plus IN/NULL shapes. */
class PruningFuzzSpec extends SparkSpec {

  private def randPredicates(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val dates = Seq("1992-03-15", "1994-07-01", "1996-01-31", "1997-11-20", "1998-06-02")
    val ops = Seq("<", "<=", "=", ">=", ">")
    def leaf(): String = rnd.nextInt(6) match {
      case 0 => s"o_orderdate ${ops(rnd.nextInt(ops.size))} timestamp'${dates(rnd.nextInt(dates.size))} 00:00:00'"
      case 1 => s"o_custkey ${ops(rnd.nextInt(ops.size))} ${rnd.nextInt(1500)}"
      case 2 => s"o_totalprice ${ops(rnd.nextInt(ops.size))} ${10000 + rnd.nextInt(400000)}.0"
      case 3 =>
        val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        s"o_orderpriority ${if (rnd.nextBoolean()) "=" else "<>"} '${prio(rnd.nextInt(prio.size))}'"
      case 4 => s"o_custkey IN (${Seq.fill(3)(rnd.nextInt(1500)).mkString(", ")})"
      case 5 => s"o_orderstatus IS ${if (rnd.nextBoolean()) "" else "NOT "}NULL"
    }
    def tree(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"(${tree(depth - 1)}) AND (${tree(depth - 1)})"
        case 1 => s"(${tree(depth - 1)}) OR (${tree(depth - 1)})"
        case 2 => s"NOT (${tree(depth - 1)})"
      }
    Seq.fill(n)(tree(2))
  }

  test("random predicates never lose rows on a month+bucket partitioned table") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_fuzz_prune")
    IcebergTable.write(src, path, TableWriteOptions(partitionBy = Seq(
      ("o_orderdate", Transforms.Month), ("o_custkey", Transforms.Bucket(4)))))
    val full = IcebergTable.load(spark, path).cache()
    try {
      val totalFiles = IcebergTable.plan(spark, path).dataFiles.size
      var prunedSomething = 0
      for (p <- randPredicates(seed = 20260813L, n = 40)) {
        val plan = IcebergTable.plan(spark, path, ReadOptions(filterSql = Some(p)))
        if (plan.dataFiles.size < totalFiles) prunedSomething += 1
        val pruned = IcebergTable.load(spark, path, ReadOptions(filterSql = Some(p)))
        val expected = full.where(expr(p))
        val got = pruned.count()
        val want = expected.count()
        assert(got == want, s"predicate [$p]: pruned scan $got rows, expected $want " +
          s"(kept ${plan.dataFiles.size}/$totalFiles files)")
      }
      // The generator must actually exercise pruning, not just no-op filters.
      assert(prunedSomething >= 10, s"only $prunedSomething/40 predicates pruned files")
    } finally full.unpersist()
  }

  test("random predicates stay sound under delete files and schema evolution") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    val path = tmpDir("graft_fuzz_prune_mor")
    IcebergTable.write(src, path, TableWriteOptions(partitionBy = Seq(
      ("o_orderdate", Transforms.Month))))
    IcebergTable.delete(spark, path, "o_custkey % 3 = 0")
    IcebergTable.renameColumn(spark, path, "o_totalprice", "price_total")
    val full = IcebergTable.load(spark, path).cache()
    try {
      for (p0 <- randPredicates(seed = 4242L, n = 20)) {
        val p = p0.replace("o_totalprice", "price_total")
        val got = IcebergTable.load(spark, path, ReadOptions(filterSql = Some(p))).count()
        val want = full.where(expr(p)).count()
        assert(got == want, s"predicate [$p]: pruned MOR scan $got rows, expected $want")
      }
    } finally full.unpersist()
  }

  test("DECIMAL(38,2) bounds merged across row groups stay exact beyond double precision") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Both values are the same double: a merge through doubleValue ties and
    // keeps the first row group's minimum (.02) as the file's lower bound.
    val hi = new java.math.BigDecimal("123456789012345678901234.02")
    val lo = new java.math.BigDecimal("123456789012345678901234.01")
    val rows = (0 until 6000).map(i => Row(i.toLong, if (i < 3000) hi else lo))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("id", LongType), StructField("d", DecimalType(38, 2)))))
    val path = tmpDir("graft_fuzz_dec38")
    IcebergTable.write(df, path, TableWriteOptions(
      properties = Map("write.parquet.row-group-size-bytes" -> "1024")))
    val files = IcebergTable.plan(spark, path).dataFiles
    assert(files.size == 1)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.resolvedPath), spark.sessionState.newHadoopConf()))
    try assert(footer.getFooter.getBlocks.size > 1, "the file must hold several row groups")
    finally footer.close()

    val full = IcebergTable.load(spark, path).cache()
    try {
      for (v <- Seq(hi, lo); op <- Seq("=", "<", ">=")) {
        val p = s"d $op ${v.toPlainString}"
        val want = full.where(expr(p)).count()
        val got = IcebergTable.load(spark, path, ReadOptions(filterSql = Some(p))).count()
        assert(got == want, s"predicate [$p]: pruned scan $got rows, expected $want")
        val viaSource = spark.read.format("graft").load(path).where(p).count()
        assert(viaSource == want, s"predicate [$p]: format(graft) $viaSource rows, expected $want")
      }
      assert(full.where(expr(s"d = ${lo.toPlainString}")).count() == 3000)
    } finally full.unpersist()
  }
}
