package graft

import graft.write.{FooterStats, MetricsMode, MetricsSpec, TableWriteOptions}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Written manifest bound truncation — reference
 * src/core/expression/iceberg_value.cpp (TruncateString /
 * TruncateAndIncrementString), src/core/expression/iceberg_metrics.cpp
 * (write.metadata.metrics.* parsing), and
 * test/sql/local/generated_bounds.test behaviors.
 */
class BoundsTruncationSpec extends SparkSpec {

  // ---- unit: string truncation kernels ----

  test("lower-bound string truncation is a UTF-8-safe prefix") {
    assert(FooterStats.truncateLowerString("short", 16) == "short")
    assert(FooterStats.truncateLowerString("a" * 40, 16) == "a" * 16)
    // 'é' is 2 bytes; cutting at an odd byte boundary must back off.
    val s = "ééééééééé" // 18 bytes
    val t = FooterStats.truncateLowerString(s, 15)
    assert(t == "é" * 7, s"got ${t.length} chars")
    assert(t.getBytes("UTF-8").length == 14)
    // Exactly 16 bytes fits untouched.
    assert(FooterStats.truncateLowerString("é" * 8, 16) == "é" * 8)
  }

  test("upper-bound truncation increments the last code point") {
    assert(FooterStats.truncateUpperString("short", 16).contains("short"))
    assert(FooterStats.truncateUpperString("a" * 40, 16).contains("a" * 15 + "b"))
    // multi-byte last code point increments as a code point, not a byte
    val up = FooterStats.truncateUpperString("abcdefghijklmnoéxxxx", 17).get
    assert(up == "abcdefghijklmnoê")
  }

  test("upper-bound increment skips the UTF-16 surrogate range") {
    // 13 'a' bytes + U+D7FF (3 bytes) = exactly 16; incrementing lands in
    // the surrogate range -> next valid scalar is U+E000.
    val s = ("a" * 13) + "\uD7FF" + ("z" * 20)
    val up = FooterStats.truncateUpperString(s, 16).get
    assert(up == ("a" * 13) + "\uE000")
  }

  test("upper-bound increment carries past U+10FFFF and omits when impossible") {
    val max = new String(Character.toChars(0x10FFFF))
    // 12 'a' bytes + U+10FFFF (4 bytes) = exactly 16; the max code point
    // cannot increment -> drop it and carry into the preceding 'a'.
    val s = ("a" * 12) + max + ("x" * 10)
    val up = FooterStats.truncateUpperString(s, 16).get
    assert(up == ("a" * 11) + "b")
    // every code point at the max -> no representable bound
    assert(FooterStats.truncateUpperString(max * 8, 16).isEmpty)
  }

  test("binary bounds truncate with byte increment and 0xFF carry") {
    val b = Array.tabulate(40)(_.toByte)
    assert(FooterStats.truncateLowerBinary(b, 16).toSeq == b.take(16).toSeq)
    val up = FooterStats.truncateUpperBinary(b, 16).get
    assert(up.length == 16 && up(15) == 16.toByte)
    // trailing 0xFF bytes are dropped, increment carries left
    val ff = Array[Byte](1, 2, -1, -1) ++ Array.fill(20)(7.toByte)
    val up2 = FooterStats.truncateUpperBinary(ff, 4).get
    assert(up2.toSeq == Seq[Byte](1, 3))
    // all 0xFF -> None
    assert(FooterStats.truncateUpperBinary(Array.fill(20)(-1.toByte), 4).isEmpty)
    // short values pass through exact
    assert(FooterStats.truncateUpperBinary(Array[Byte](1, 2), 16).get.toSeq == Seq[Byte](1, 2))
  }

  // ---- unit: metrics property parsing (reference iceberg_metrics.cpp) ----

  test("write.metadata.metrics modes parse with reference error parity") {
    assert(MetricsSpec.parseMode("none") == MetricsMode.NoMetrics)
    assert(MetricsSpec.parseMode("COUNTS") == MetricsMode.Counts)
    assert(MetricsSpec.parseMode("full") == MetricsMode.Full)
    assert(MetricsSpec.parseMode("truncate(32)") == MetricsMode.Truncate(32))
    val e1 = intercept[IllegalArgumentException](MetricsSpec.parseMode("truncate(0)"))
    assert(e1.getMessage.contains("truncate length must be a positive integer"))
    val e2 = intercept[IllegalArgumentException](MetricsSpec.parseMode("bogus"))
    assert(e2.getMessage.contains(
      "expected 'none', 'counts', 'truncate(<n>)', or 'full'"))
    val spec = MetricsSpec.fromProperties(Map(
      "write.metadata.metrics.default" -> "counts",
      "write.metadata.metrics.column.text" -> "truncate(8)"))
    assert(spec.forColumn("text") == MetricsMode.Truncate(8))
    assert(spec.forColumn("other") == MetricsMode.Counts)
  }

  // ---- e2e: written manifests carry truncated bounds ----

  private def mkLongText(rows: Seq[(Long, String)]) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 1),
    StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  test("default truncate(16): long string bounds are truncated, pruning stays sound") {
    val path = tmpDir("graft_bounds_trunc")
    val doc = (c: Char) => c.toString * 100
    IcebergTable.write(mkLongText(Seq((1L, doc('b')), (2L, doc('d')))), path)
    IcebergTable.append(mkLongText(Seq((3L, doc('p')), (4L, doc('r')))), path)

    val hconf = spark.sessionState.newHadoopConf()
    val meta = graft.core.TableMetadata.load(path, hconf)
    val textId = meta.currentSchema.fieldByPath("text").id
    val plan = IcebergTable.plan(spark, path)
    assert(plan.dataFiles.size == 2)
    plan.dataFiles.foreach { f =>
      val lo = f.info.lowerBounds(textId)
      val up = f.info.upperBounds(textId)
      assert(lo.length <= 16, s"lower bound ${lo.length} bytes > 16")
      assert(up.length <= 17, s"upper bound ${up.length} bytes")
      val loS = graft.core.SingleValue.deserialize(lo, graft.core.IcebergTypes.StringT).asInstanceOf[String]
      val upS = graft.core.SingleValue.deserialize(up, graft.core.IcebergTypes.StringT).asInstanceOf[String]
      assert(loS.length == 16 && upS.length == 16)
    }
    // bound semantics: file-1 bounds are ["b"*16, "d"*15+"e"], containing both values
    val f1 = plan.dataFiles.map(f =>
      graft.core.SingleValue.deserialize(f.info.lowerBounds(textId), graft.core.IcebergTypes.StringT).asInstanceOf[String])
      .sorted
    assert(f1 == Seq("b" * 16, "p" * 16))

    // Pruning on the long value keeps only the right file and results are exact.
    val pruned = IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some(s"text = '${doc('p')}'")))
    assert(pruned.dataFiles.size == 1, s"kept ${pruned.dataFiles.size} of 2 files")
    val got = IcebergTable.load(spark, path)
      .filter(org.apache.spark.sql.functions.col("text") === doc('p'))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
    // A value outside every bound prunes all files.
    val none = IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some("text = 'zzz'")))
    assert(none.dataFiles.isEmpty)
  }

  test("metrics modes: none drops counts+bounds, counts drops bounds, full keeps exact") {
    def boundsFor(props: Map[String, String]): (Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long]) = {
      val path = tmpDir("graft_bounds_mode")
      IcebergTable.write(mkLongText(Seq((1L, "x" * 50), (2L, "y" * 50))), path,
        TableWriteOptions(properties = props))
      val hconf = spark.sessionState.newHadoopConf()
      val meta = graft.core.TableMetadata.load(path, hconf)
      val textId = meta.currentSchema.fieldByPath("text").id
      val f = IcebergTable.plan(spark, path).dataFiles.head.info
      (f.lowerBounds.filter(_._1 == textId), f.upperBounds.filter(_._1 == textId),
        f.valueCounts.filter(_._1 == textId))
    }
    val (noneLo, noneUp, noneCounts) =
      boundsFor(Map("write.metadata.metrics.column.text" -> "none"))
    assert(noneLo.isEmpty && noneUp.isEmpty && noneCounts.isEmpty)
    val (cLo, cUp, cCounts) =
      boundsFor(Map("write.metadata.metrics.column.text" -> "counts"))
    assert(cLo.isEmpty && cUp.isEmpty && cCounts.values.toSeq == Seq(2L))
    val (fLo, fUp, fCounts) =
      boundsFor(Map("write.metadata.metrics.default" -> "full"))
    assert(fLo.head._2.length == 50 && fUp.head._2.length == 50 && fCounts.values.toSeq == Seq(2L))
    val (tLo, _, _) =
      boundsFor(Map("write.metadata.metrics.default" -> "truncate(4)"))
    assert(tLo.head._2.length == 4)
  }

  test("partition field-summary string bounds truncate with ROUNDED-UP upper bound") {
    // Reference test_partition_summary_string_upper_bound (duckdb-iceberg
    // #1047): a truncate(20) partition value is longer than the 16-byte
    // summary truncation; the upper bound must round up (truncate +
    // increment) or the manifest prunes away from its own partition.
    import spark.implicits._
    val path = tmpDir("graft_summary_bounds")
    val df = Seq((1, "0123456789abcdef0123456789abcdef")).toDF("id", "p")
    IcebergTable.write(df, path, graft.write.TableWriteOptions(
      partitionBy = Seq(("p", graft.core.Transforms.Truncate(20)))))

    val conf = spark.sessionState.newHadoopConf()
    val meta = graft.core.TableMetadata.load(path, conf)
    val manifests = graft.manifest.ManifestIO.manifestsOf(meta, meta.currentSnapshot.get, conf)
    val summary = manifests.head.partitions.head
    val partitionValue = "0123456789abcdef0123" // truncate(20, value)
    val lower = new String(summary.lowerBound.get, java.nio.charset.StandardCharsets.UTF_8)
    val upper = new String(summary.upperBound.get, java.nio.charset.StandardCharsets.UTF_8)
    assert(lower <= partitionValue, s"lower '$lower' must be <= '$partitionValue'")
    assert(upper >= partitionValue, s"upper '$upper' must be >= '$partitionValue' (rounded up)")
    assert(summary.lowerBound.get.length <= 16)
    assert(summary.upperBound.get.length <= 17) // increment may not shorten

    // End-to-end: the #1047 failure mode is the partition pruning itself
    // away — the filtered read must still find the row.
    val got = IcebergTable.load(spark, path,
      graft.read.ReadOptions(filterSql = Some("p = '0123456789abcdef0123456789abcdef'")))
    assert(got.count() == 1)
  }

  test("truncated-bound pruning soundness fuzz: filters never drop a matching file") {
    val rnd = new scala.util.Random(4242)
    // Picked by code point: U+1F600 is a surrogate pair in UTF-16, where it
    // sorts below U+FFFD; by code point (Spark's order) it sorts above.
    val alphabet = Seq("a", "b", "c", "é", "世", "z", "z", "z", "\uFFFD", "\uD83D\uDE00")
    def randString() = (0 until (5 + rnd.nextInt(40)))
      .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    val rows = (1L to 60L).map(i => (i, randString()))
    val path = tmpDir("graft_bounds_fuzz")
    // 3 files of 20 rows each
    rows.grouped(20).zipWithIndex.foreach { case (g, i) =>
      if (i == 0) IcebergTable.write(mkLongText(g.toSeq), path)
      else IcebergTable.append(mkLongText(g.toSeq), path)
    }
    val full = IcebergTable.load(spark, path).select("id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(full.size == 60)
    // Equality + range probes for existing values must return exactly the
    // base-table answer even though every file's string bounds are truncated.
    rows.foreach { case (_, probe) =>
      val esc = probe.replace("'", "''")
      val eq = IcebergTable.load(spark, path,
        graft.read.ReadOptions(filterSql = Some(s"text = '$esc'")))
        .collect().map(_.getLong(0)).toSet
      val expectEq = rows.filter(_._2 == probe).map(_._1).toSet
      assert(eq == expectEq, s"equality probe '$probe'")
      val gt = IcebergTable.load(spark, path,
        graft.read.ReadOptions(filterSql = Some(s"text > '$esc'")))
        .count()
      val expectGt = rows.count(r => UTF8String.fromString(r._2).compareTo(UTF8String.fromString(probe)) > 0)
      assert(gt == expectGt, s"range probe '$probe': $gt vs $expectGt")
    }
  }

  test("string bounds order by code point, as Spark does: U+FFFD and U+1F600 in one file") {
    val path = tmpDir("graft_bounds_codepoint")
    IcebergTable.write(mkLongText(Seq((1L, "\uFFFD"), (2L, "\uD83D\uDE00"))), path)
    for ((id, v) <- Seq((1L, "\uFFFD"), (2L, "\uD83D\uDE00"))) {
      val p = s"text = '$v'"
      val got = IcebergTable.load(spark, path, graft.read.ReadOptions(filterSql = Some(p)))
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(id), s"[$p] via IcebergTable.load")
      val viaSource = spark.read.format("graft").load(path).where(p)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(viaSource == Seq(id), s"[$p] via format(graft)")
    }
  }
}
