package graft

import graft.read.ReadOptions
import org.apache.spark.sql.functions._

/**
 * Golden reads of the reference's per-type identity-partition fixtures —
 * partition values arrive through Avro manifests in each type's encoding
 * and (write.parquet.write-partition-values=false) must be materialized as
 * identity constants. Expectations from
 * test/sql/local/partitioning/identity/identity_*.test.
 */
class PartitionTypesSpec extends SparkSpec {
  private val P = "/root/reference/data/persistent"

  private def userIdsWhere(path: String, filter: String): Seq[Long] =
    IcebergTable.load(spark, path, ReadOptions(filterSql = Some(filter)))
      .select("user_id").collect().map(_.getAs[Number](0).longValue()).sorted.toSeq

  test("partition_integer / partition_bigint: values + pruned filter") {
    assert(IcebergTable.count(spark, s"$P/partition_integer") == 2)
    val vals = IcebergTable.load(spark, s"$P/partition_integer")
      .select("partition_col").collect().map(_.getInt(0)).sorted.toSeq
    assert(vals.size == 2 && vals.distinct.size == 2)
    assert(IcebergTable.count(spark, s"$P/partition_bigint") == 2)
  }

  test("partition_bool: identity constants for booleans (identity_bool.test:13-21)") {
    val df = IcebergTable.load(spark, s"$P/partition_bool")
    val rows = df.select("partition_col", "user_id").collect()
      .map(r => (r.getBoolean(0), r.getAs[Number](1).longValue())).toSet
    assert(rows == Set((true, 12345L), (false, 67890L)))
    assert(userIdsWhere(s"$P/partition_bool", "partition_col = true") == Seq(12345L))
  }

  test("partition_decimal_integer: decimal partition values (identity_decimal_integer.test:12-21)") {
    val df = IcebergTable.load(spark, s"$P/partition_decimal_integer")
    assert(df.count() == 3)
    val byUser = df.select("user_id", "partition_col").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getDecimal(1).toPlainString).toMap
    assert(byUser(12345L) == "42.5630")
    assert(byUser(67890L) == "1.2300")
    assert(byUser(111213L) == "1234.5432")
    assert(userIdsWhere(s"$P/partition_decimal_integer", "partition_col = 42.5630") == Seq(12345L))
  }

  test("partition_timestamp: timestamp partition values (identity_timestamp.test:12-21)") {
    val path = s"$P/partition_timestamp/default.db/partition_timestamp/metadata/00001-0c9938a5-103e-4185-b46d-331368ae4db7.metadata.json"
    val df = IcebergTable.load(spark, path)
    assert(df.count() == 2)
    assert(userIdsWhere(path, "partition_col = TIMESTAMP '2023-05-15 14:30:45'") == Seq(12345L))
  }

  test("partition_time: time surfaces as micros LONG with iceberg.type=time metadata (identity_time.test:12-21)") {
    import graft.core.IcebergTypes
    val path = s"$P/partition_time/default.db/partition_time"
    val df = IcebergTable.load(spark, path)
    // Documented surface: LongType micros + intent marker in column metadata.
    val f = df.schema("partition_col")
    assert(f.dataType == org.apache.spark.sql.types.LongType)
    assert(f.metadata.getString("iceberg.type") == "time")
    // Values format back to the reference's expected wall-clock strings.
    val byUser = df.collect()
      .map(r => r.getAs[Number](df.schema.fieldIndex("user_id")).longValue() ->
        IcebergTypes.formatTimeMicros(r.getAs[Long]("partition_col"))).toMap
    assert(byUser(12345L) == "12:34:56")
    assert(byUser(67890L) == "08:21:09")
    // Round-trip: deriving an Iceberg schema from the Spark schema
    // re-declares `time`, not `long`.
    val derived = IcebergTypes.fromSpark(df.schema)
    assert(derived.fields.find(_.name == "partition_col").get.fieldType == IcebergTypes.TimeT)
    assert(IcebergTypes.formatTimeMicros(45296000000L + 123456L) == "12:34:56.123456")
  }

  test("partition_float / partition_double / partition_timestamptz load and count") {
    for (t <- Seq(s"$P/partition_float", s"$P/partition_double",
        s"$P/partition_timestamptz/default.db/partition_timestamptz")) {
      val df = IcebergTable.load(spark, t)
      assert(df.count() >= 2, t)
      assert(df.select("partition_col").collect().forall(!_.isNullAt(0)), t)
    }
  }

  test("partition_decimal_bigint: long-backed decimal values + pruned filter (identity_decimal_bigint.test:12-29)") {
    val df = IcebergTable.load(spark, s"$P/partition_decimal_bigint")
    assert(df.count() == 10)
    val byUser = df.select("user_id", "partition_col").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getDecimal(1).toPlainString).toMap
    assert(byUser(123456L) == "123.45678901234")
    assert(byUser(222333L) == "-9876.54321098765")
    assert(byUser(987654L) == "0.00000000000")
    assert(userIdsWhere(s"$P/partition_decimal_bigint", "partition_col = 123.45678901234") == Seq(123456L))
  }

  test("partition_decimal_smallint: small-precision decimals (identity_decimal_smallint.test:12-21)") {
    val df = IcebergTable.load(spark, s"$P/partition_decimal_smallint")
    val byUser = df.select("user_id", "partition_col").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getDecimal(1).toPlainString).toMap
    assert(byUser == Map(12345L -> "1.23", 67890L -> "4.56"))
    assert(userIdsWhere(s"$P/partition_decimal_smallint", "partition_col = 1.23") == Seq(12345L))
  }

  test("partition_decimal_hugeint: 16-byte decimal encodings (identity_decimal_hugeint.test:12-33)") {
    val df = IcebergTable.load(spark, s"$P/partition_decimal_hugeint")
    assert(df.count() == 15)
    val byUser = df.select("user_id", "partition_col").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getDecimal(1).toPlainString).toMap
    assert(byUser(314159L) == "3.14159265358979323846264")
    assert(byUser(666777L) == "9999999999999.99999999999999999999000")
    assert(byUser(246802L) == "-1000000000000.00000000000000000001000")
    assert(userIdsWhere(s"$P/partition_decimal_hugeint",
      "partition_col = 3.14159265358979323846264") == Seq(314159L))
  }

  test("partition_binary: blob identity partitions + filter (identity_binary.test:12-27)") {
    val df = IcebergTable.load(spark, s"$P/partition_binary")
    val rows = df.select("partition_col", "user_id").collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Number](1).longValue())).toSet
    assert(rows == Set(
      (Seq[Byte](1, 2, 3), 12345L),
      (Seq(0xAA.toByte, 0xBB.toByte, 0xCC.toByte), 67890L)))
    assert(userIdsWhere(s"$P/partition_binary", "partition_col = X'010203'") == Seq(12345L))
  }

  test("partition_fixed_length_binary: fixed(n) identity partitions (identity_fixed_length_binary.test:12-27)") {
    val path = s"$P/partition_fixed_length_binary/default.db/partition_fixed_length_binary/metadata/00001-b4b3d6d2-cac2-4480-952e-0e4b3b88b5d7.metadata.json"
    val df = IcebergTable.load(spark, path)
    val rows = df.select("partition_col", "user_id").collect()
      .map(r => (new String(r.getAs[Array[Byte]](0), "UTF-8"), r.getAs[Number](1).longValue())).toSet
    assert(rows == Set(("hello world", 12345L), ("fixed value", 67890L)))
  }

  test("hive_partitioned_table: evolved two-field spec, hive-style paths (identity_date_and_string.test:12-37)") {
    val df = IcebergTable.load(spark, s"$P/hive_partitioned_table")
    val rows = df.select("event_date", "user_id", "event_type").collect()
      .map(r => (r.getDate(0).toString, r.getAs[Number](1).longValue(), r.getString(2))).toSet
    assert(rows == Set(
      ("2024-01-01", 12345L, "click"),
      ("2024-01-02", 67890L, "purchase"),
      ("2024-01-03", 13579L, "view"),
      ("2024-01-03", 24680L, "click"),
      ("2024-01-04", 86420L, "view"),
      ("2024-01-04", 97531L, "purchase")))
    assert(userIdsWhere(s"$P/hive_partitioned_table", "event_date = DATE '2024-01-02'") == Seq(67890L))
  }

  test("written identity partitions round-trip: timestamptz under a non-UTC session zone, binary") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val df = spark.sql("SELECT 1L AS id, TIMESTAMP '2024-01-01 12:00:00' AS ts")
      val path = tmpDir("graft_ts_part")
      IcebergTable.write(df, path, graft.write.TableWriteOptions(
        partitionBy = Seq(("ts", graft.core.Transforms.Identity))))
      // The partition value is the row's instant, not its local wall time.
      val micros = df.select(unix_micros(col("ts"))).head().getLong(0)
      assert(IcebergTable.plan(spark, path).dataFiles.map(_.info.partitionValues) == Seq(Seq(micros)))
      val window = "ts >= '2024-01-01 11:59' AND ts < '2024-01-01 12:01'"
      assert(spark.read.format("graft").load(path).where(window).count() == 1)
      assert(IcebergTable.load(spark, path, ReadOptions(filterSql = Some(window))).count() == 1)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)

    val bin = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, Array[Byte](1, 2)), Row(2L, Array[Byte](1, 2)), Row(3L, Array.empty[Byte]),
        Row(4L, Array[Byte](-1, 0, 47)), Row(5L, null)), 1),
      StructType(Seq(StructField("id", LongType), StructField("b", BinaryType))))
    val bpath = tmpDir("graft_bin_part")
    IcebergTable.write(bin, bpath, graft.write.TableWriteOptions(
      partitionBy = Seq(("b", graft.core.Transforms.Identity))))
    assert(IcebergTable.plan(spark, bpath).dataFiles.size == 4)
    // Row.toString prints byte arrays by identity: compare hex.
    def hexed(d: org.apache.spark.sql.DataFrame) = d.select(col("id"), hex(col("b")))
    assertSameResult(hexed(bin), hexed(IcebergTable.load(spark, bpath)))
    assert(idsWhere(bpath, "b = X'0102'") == Seq(1L, 2L))
    assert(IcebergTable.plan(spark, bpath, ReadOptions(filterSql = Some("b = X'0102'"))).dataFiles.size == 1)
  }

  private def idsWhere(path: String, filter: String): Seq[Long] =
    IcebergTable.load(spark, path, ReadOptions(filterSql = Some(filter)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("partition source can be a NESTED struct leaf (reference hour_struct_timestamp/identity_struct_bool)") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType, IntegerType, StringType}
    import org.apache.spark.sql.Row
    def mk(lo: Int, hi: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize((lo until hi).map(i =>
        Row(i.toLong, Row(i % 4, s"v$i"))), 1),
      StructType(Seq(
        StructField("id", LongType),
        StructField("payload", StructType(Seq(
          StructField("bucket_key", IntegerType),
          StructField("label", StringType)))))))
    val path = tmpDir("graft_nested_psrc")
    IcebergTable.write(mk(0, 100), path, graft.write.TableWriteOptions(
      partitionBy = Seq(("payload.bucket_key", graft.core.Transforms.Identity))))
    // Partition spec binds the nested leaf as source.
    val meta = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
    val leafId = meta.currentSchema.fieldByPath("payload.bucket_key").id
    assert(meta.defaultSpec.fields.head.sourceId == leafId)
    // One file per partition value; nested predicate prunes to one.
    val plan = IcebergTable.plan(spark, path)
    assert(plan.dataFiles.size == 4, s"expected 4 partition files, got ${plan.dataFiles.size}")
    val pruned = IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some("payload.bucket_key = 2")))
    assert(pruned.dataFiles.size == 1,
      s"nested identity partition must prune to 1 file, kept ${pruned.dataFiles.size}")
    // Roundtrip stays exact.
    assertSameResult(mk(0, 100), IcebergTable.load(spark, path))
    val got = IcebergTable.load(spark, path,
      graft.read.ReadOptions(filterSql = Some("payload.bucket_key = 2"))).count()
    assert(got == 25, s"expected 25 rows in partition 2, got $got")
  }
}
