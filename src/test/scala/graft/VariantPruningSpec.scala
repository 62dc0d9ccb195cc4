package graft

import graft.core.TableMetadata
import graft.read.{ReadOptions, VariantBounds}
import graft.write.IcebergWrite
import org.apache.spark.sql.functions._
import org.apache.spark.types.variant.VariantBuilder

/** Variant-bounds pruning (reference iceberg_file_pruner.cpp:117-135,
  * iceberg_variant_statistics.cpp): manifest bounds for a VARIANT column
  * are a serialized variant object keyed by shredded-field JSON path;
  * `variant_get(v, path)` predicates prune on them, everything else stays
  * conservative. */
class VariantPruningSpec extends SparkSpec {

  private def hconf = spark.sessionState.newHadoopConf()

  private def boundsBlob(json: String): Array[Byte] = {
    val v = VariantBuilder.parseJson(json, false)
    v.getMetadata ++ v.getValue
  }

  test("normalizePath canonicalizes variant_get paths to Iceberg bounds keys") {
    assert(VariantBounds.normalizePath("$.age") == Some("$['age']"))
    assert(VariantBounds.normalizePath("$['age']") == Some("$['age']"))
    assert(VariantBounds.normalizePath("$.person.name") == Some("$['person']['name']"))
    assert(VariantBounds.normalizePath("$['person'].name") == Some("$['person']['name']"))
    assert(VariantBounds.normalizePath("$") == None) // root: no field
    assert(VariantBounds.normalizePath("$.tags[0]") == None) // array index: no pruning
    assert(VariantBounds.normalizePath("age") == None)
  }

  test("decode reads a metadata||value bounds blob back to typed primitives") {
    val m = VariantBounds.decode(boundsBlob("""{"$['age']": 20, "$['name']": "Alice", "$['score']": 1.5}"""))
    assert(m("$['age']") == 20L)
    assert(m("$['name']") == "Alice")
    assert(m("$['score']") match { case d: java.math.BigDecimal => d.doubleValue == 1.5; case d: Double => d == 1.5; case _ => false })
    // Malformed / truncated / non-object blobs decode to empty (no pruning).
    assert(VariantBounds.decode(Array[Byte](0x7f, 0x00)) == Map.empty)
    assert(VariantBounds.decode(Array.empty[Byte]) == Map.empty)
    assert(VariantBounds.decode(boundsBlob("""[1, 2]""")) == Map.empty)
    assert(VariantBounds.decode(boundsBlob(""""just-a-string"""")) == Map.empty)
  }

  /** Two-file variant table with real data and injected per-file bounds:
    * ages [20,60] in file 1, [70,110] in file 2. */
  private def buildBoundedTable(): String = {
    val path = tmpDir("graft_variant_prune")
    def mk(lo: Int, hi: Int) = spark.range(lo, hi + 1).toDF("id")
      .withColumn("v", parse_json(concat(lit("{\"age\": "), col("id"), lit(", \"name\": \"p\"}"))))
      .coalesce(1)
    IcebergWrite.createTable(spark, path, mk(0, 1).schema)
    def appendWithBounds(lo: Int, hi: Int): Unit = {
      val meta = TableMetadata.load(path, hconf)
      val entries = IcebergWrite.writeDataFiles(mk(lo, hi), meta, hconf)
      val vid = meta.currentSchema.fields.find(_.name == "v").get.id
      val patched = entries.map(e => e.copy(dataFile = e.dataFile.copy(
        lowerBounds = e.dataFile.lowerBounds + (vid -> boundsBlob(s"""{"$$['age']": $lo}""")),
        upperBounds = e.dataFile.upperBounds + (vid -> boundsBlob(s"""{"$$['age']": $hi}""")))))
      IcebergWrite.commitSnapshot(meta, patched, Nil, "append", hconf)
    }
    appendWithBounds(20, 60)
    appendWithBounds(70, 110)
    path
  }

  test("variant_get predicates prune files on variant bounds; results stay exact") {
    val path = buildBoundedTable()
    assert(IcebergTable.plan(spark, path).dataFiles.size == 2)

    def planned(filter: String): Int =
      IcebergTable.plan(spark, path, ReadOptions(filterSql = Some(filter))).dataFiles.size

    // > 60 excludes file 1 ([20,60]); < 20 excludes both; = 80 only file 2;
    // <= 60 only file 1; dotted and bracketed paths both normalize.
    assert(planned("variant_get(v, '$.age', 'int') > 60") == 1)
    assert(planned("variant_get(v, '$[''age'']', 'int') > 60") == 1)
    assert(planned("variant_get(v, '$.age', 'int') < 20") == 0)
    assert(planned("variant_get(v, '$.age', 'int') = 80") == 1)
    assert(planned("variant_get(v, '$.age', 'int') <= 60") == 1)
    // A path with no bounds key can't prune; nor can a whole-variant filter.
    assert(planned("variant_get(v, '$.name', 'string') = 'nobody'") == 2)
    assert(planned("variant_get(v, '$.missing', 'int') = 1") == 2)
    assert(planned("v IS NOT NULL") == 2) // must not crash on variant bounds

    // End-to-end soundness: pruned scan returns exactly the right rows.
    val got = IcebergTable.load(spark, path,
      ReadOptions(filterSql = Some("variant_get(v, '$.age', 'int') > 60"))).count()
    assert(got == 41, s"expected ages 70..110 = 41 rows, got $got")
  }

  test("graft-WRITTEN variant table: unshredded files carry no shredded bounds, " +
      "so scans stay conservative (no pruning) and exact") {
    val path = tmpDir("graft_variant_written")
    def mk(lo: Int, hi: Int) = spark.range(lo, hi + 1).toDF("id")
      .withColumn("v", parse_json(concat(lit("{\"age\": "), col("id"), lit(", \"name\": \"p\"}"))))
      .coalesce(1)
    // Through the normal writer (v3 — variant is a v3 type): Spark writes
    // variant UNSHREDDED (metadata/value binaries), so per the spec there
    // are no shredded-field bounds to record — exactly the reference's
    // behavior for unshredded files.
    IcebergTable.write(mk(20, 60), path, graft.write.TableWriteOptions(formatVersion = 3))
    IcebergTable.append(mk(70, 110), path)
    assert(IcebergTable.plan(spark, path).dataFiles.size == 2)
    val vid = TableMetadata.load(path, hconf).currentSchema.fields.find(_.name == "v").get.id
    IcebergTable.plan(spark, path).dataFiles.foreach { f =>
      assert(!f.info.lowerBounds.contains(vid), "unshredded variant must not fake bounds")
    }
    // Probe-count: the variant_get filter cannot prune (conservative — both
    // files planned), and the row result is still exact.
    val planned = IcebergTable.plan(spark, path,
      ReadOptions(filterSql = Some("variant_get(v, '$.age', 'int') > 60"))).dataFiles.size
    assert(planned == 2, s"unshredded variant files must plan conservatively, planned $planned")
    val got = IcebergTable.load(spark, path,
      ReadOptions(filterSql = Some("variant_get(v, '$.age', 'int') > 60"))).count()
    assert(got == 41, s"expected ages 70..110 = 41 rows, got $got")
  }

  test("fuzz: random variant_get predicates never lose rows against true bounds") {
    val path = buildBoundedTable()
    val full = IcebergTable.load(spark, path).cache()
    try {
      val rnd = new scala.util.Random(20260814L)
      val ops = Seq("<", "<=", "=", ">=", ">")
      var prunedSomething = 0
      for (_ <- 1 to 30) {
        val p = s"variant_get(v, '$$.age', 'int') ${ops(rnd.nextInt(ops.size))} ${rnd.nextInt(140)}"
        val plan = IcebergTable.plan(spark, path, ReadOptions(filterSql = Some(p)))
        if (plan.dataFiles.size < 2) prunedSomething += 1
        val got = IcebergTable.load(spark, path, ReadOptions(filterSql = Some(p))).count()
        val want = full.where(expr(p)).count()
        assert(got == want, s"predicate [$p]: pruned scan $got rows, expected $want " +
          s"(kept ${plan.dataFiles.size}/2 files)")
      }
      assert(prunedSomething >= 5, s"only $prunedSomething/30 variant predicates pruned")
    } finally full.unpersist()
  }
}
