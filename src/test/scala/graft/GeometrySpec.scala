package graft

import graft.core.{IcebergTypes, Wkb}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Geometry: WKB envelope parsing, Appendix D bbox bounds on write, and
  * bbox-predicate file pruning on read (reference
  * test_read_geometry_read_with_stats.test: `geom && box` skips files by
  * geometry stats; iceberg_data_file_stats.cpp:146-168 Appendix D encode). */
class GeometrySpec extends SparkSpec {

  /** Little-endian WKB point. */
  private def wkbPoint(x: Double, y: Double): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(1); bb.putDouble(x); bb.putDouble(y)
    bb.array()
  }

  private def wkbLineString(pts: (Double, Double)*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(9 + 16 * pts.size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(2); bb.putInt(pts.size)
    pts.foreach { case (x, y) => bb.putDouble(x); bb.putDouble(y) }
    bb.array()
  }

  test("Wkb.envelope: points, linestrings, polygons, collections, Z/M and EWKB variants") {
    assert(Wkb.envelope(wkbPoint(3.0, -7.5)).contains((3.0, -7.5, 3.0, -7.5)))
    assert(Wkb.envelope(wkbLineString((152.0, -35.0), (147.0, 34.0)))
      .contains((147.0, -35.0, 152.0, 34.0)))

    // Big-endian point
    val be = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.BIG_ENDIAN)
    be.put(0.toByte); be.putInt(1); be.putDouble(1.0); be.putDouble(2.0)
    assert(Wkb.envelope(be.array()).contains((1.0, 2.0, 1.0, 2.0)))

    // ISO PointZ (type 1001): Z skipped
    val z = java.nio.ByteBuffer.allocate(29).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    z.put(1.toByte); z.putInt(1001); z.putDouble(5.0); z.putDouble(6.0); z.putDouble(99.0)
    assert(Wkb.envelope(z.array()).contains((5.0, 6.0, 5.0, 6.0)))

    // EWKB point with Z flag + SRID
    val e = java.nio.ByteBuffer.allocate(33).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    e.put(1.toByte); e.putInt(0x80000000 | 0x20000000 | 1); e.putInt(4326)
    e.putDouble(-1.0); e.putDouble(-2.0); e.putDouble(3.0)
    assert(Wkb.envelope(e.array()).contains((-1.0, -2.0, -1.0, -2.0)))

    // Polygon (1 ring, 4 pts)
    val ring = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 0.0))
    val pg = java.nio.ByteBuffer.allocate(13 + 16 * ring.size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    pg.put(1.toByte); pg.putInt(3); pg.putInt(1); pg.putInt(ring.size)
    ring.foreach { case (x, y) => pg.putDouble(x); pg.putDouble(y) }
    assert(Wkb.envelope(pg.array()).contains((0.0, 0.0, 4.0, 3.0)))

    // GeometryCollection of two points
    val gc = java.nio.ByteBuffer.allocate(9 + 21 * 2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    gc.put(1.toByte); gc.putInt(7); gc.putInt(2)
    gc.put(wkbPoint(10.0, 10.0)); gc.put(wkbPoint(-10.0, 20.0))
    assert(Wkb.envelope(gc.array()).contains((-10.0, 10.0, 10.0, 20.0)))

    // Empty point (NaN coords), null, corrupt -> None
    val nan = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    nan.put(1.toByte); nan.putInt(1); nan.putDouble(Double.NaN); nan.putDouble(Double.NaN)
    assert(Wkb.envelope(nan.array()).isEmpty)
    assert(Wkb.envelope(null).isEmpty)
    assert(Wkb.envelope(Array[Byte](1, 99, 0, 0, 0)).isEmpty)

    // Appendix D blob round-trip; 24/32-byte (XYZ/XYZM) blobs decode too
    assert(Wkb.decodeBound(Wkb.encodeBound(1.5, -2.5)).contains((1.5, -2.5)))
    val xyz = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xyz.putDouble(7.0); xyz.putDouble(8.0); xyz.putDouble(9.0)
    assert(Wkb.decodeBound(xyz.array()).contains((7.0, 8.0)))
    assert(Wkb.decodeBound(Array.fill[Byte](8)(0)).isEmpty)
  }

  test("partitioned geometry: bbox keying survives identical part-file names across partition dirs") {
    // One INSERT into two partitions: Spark's dynamic-partition writer
    // reuses part-file NAMES across partition dirs, so bbox bookkeeping
    // keyed by leaf name would assign one partition's bbox to the other
    // and prune wrongly.
    val geomField = IcebergTypes.NestedField(3, "geom", required = false,
      IcebergTypes.GeometryT(None)).toSpark
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("cat", StringType, nullable = false), geomField))
    val rows = (0 until 20).map { i =>
      if (i % 2 == 0) Row(i, "west", wkbPoint(-50.0 - i, 0.0))
      else Row(i, "east", wkbPoint(50.0 + i, 0.0))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val path = tmpDir("graft_geometry_part")
    IcebergTable.write(df, path, graft.write.TableWriteOptions(
      partitionBy = Seq(("cat", graft.core.Transforms.Identity))))

    val conf = spark.sessionState.newHadoopConf()
    val meta = graft.core.TableMetadata.load(path, conf)
    val gid = meta.currentSchema.fields.find(_.name == "geom").get.id
    val p = IcebergTable.plan(spark, path)
    assert(p.dataFiles.size == 2)
    // Each file's bbox is on ITS side of the axis, not a shared copy.
    val boxes = p.dataFiles.map(f => f.info.lowerBounds.get(gid).flatMap(Wkb.decodeBound)
      .getOrElse(fail(s"missing bound on ${f.recordedPath}"))._1).sorted
    assert(boxes.head < -50 && boxes.last > 50,
      s"east and west files must carry distinct bboxes, got $boxes")
    // A west-only box prunes the east file and returns the west rows.
    val west = IcebergTable.plan(spark, path, graft.read.ReadOptions(
      filterSql = Some("st_intersects_bbox(geom, -100.0D, -1.0D, -40.0D, 1.0D)")))
    assert(west.dataFiles.size == 1, s"kept ${west.dataFiles.size} of 2")
    assert(IcebergTable.load(spark, path, graft.read.ReadOptions(
      filterSql = Some("st_intersects_bbox(geom, -100.0D, -1.0D, -40.0D, 1.0D)")))
      .count() == 10)
  }

  test("Z/M bounds: XYZ files write 24-byte bounds, XYM pads Z with infinities, mixed files fall back to XY") {
    def wkbPointZ(x: Double, y: Double, z: Double): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(29).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte); bb.putInt(1001); bb.putDouble(x); bb.putDouble(y); bb.putDouble(z)
      bb.array()
    }
    def wkbPointM(x: Double, y: Double, m: Double): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(29).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte); bb.putInt(2001); bb.putDouble(x); bb.putDouble(y); bb.putDouble(m)
      bb.array()
    }
    val geomField = IcebergTypes.NestedField(2, "geom", required = false,
      IcebergTypes.GeometryT(None)).toSpark
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false), geomField))
    def oneFile(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

    val path = tmpDir("graft_geometry_zm")
    IcebergTable.write(oneFile((0 until 5).map(i => Row(i, wkbPointZ(i, i, 10.0 + i)))), path)
    IcebergTable.append(oneFile((10 until 15).map(i => Row(i, wkbPointM(i, i, 5.0 + i)))), path)
    IcebergTable.append(oneFile(Seq(Row(20, wkbPoint(1, 1)), Row(21, wkbPointZ(2, 2, 7)))), path)

    val conf = spark.sessionState.newHadoopConf()
    val meta = graft.core.TableMetadata.load(path, conf)
    val gid = meta.currentSchema.fields.find(_.name == "geom").get.id
    val p = IcebergTable.plan(spark, path)
    val bySize = p.dataFiles.map(f => f.info.lowerBounds(gid).length -> f).toMap
    // XYZ file: 24-byte bounds with the z range.
    val z = bySize(24)
    val zl = java.nio.ByteBuffer.wrap(z.info.lowerBounds(gid)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    zl.getDouble(); zl.getDouble()
    assert(zl.getDouble() == 10.0)
    val zu = java.nio.ByteBuffer.wrap(z.info.upperBounds(gid)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    zu.getDouble(); zu.getDouble()
    assert(zu.getDouble() == 14.0)
    // XYM file: 32-byte bounds with Z padded -inf/+inf, M range real.
    val m = bySize(32)
    val ml = java.nio.ByteBuffer.wrap(m.info.lowerBounds(gid)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ml.getDouble(); ml.getDouble()
    assert(ml.getDouble() == Double.NegativeInfinity && ml.getDouble() == 15.0)
    val mu = java.nio.ByteBuffer.wrap(m.info.upperBounds(gid)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    mu.getDouble(); mu.getDouble()
    assert(mu.getDouble() == Double.PositiveInfinity && mu.getDouble() == 19.0)
    // Mixed XY+XYZ file: Z unknown for some rows -> plain 16-byte XY bound.
    assert(bySize.contains(16))

    // bbox pruning still reads the leading XY pair of every width.
    val plan = IcebergTable.plan(spark, path, graft.read.ReadOptions(
      filterSql = Some("st_intersects_bbox(geom, 9.5D, 9.5D, 16.0D, 16.0D)")))
    assert(plan.dataFiles.size == 1 && plan.totalDataFiles == 3)

    // Column stats render the axes: z on the XYZ file, m (z null) on XYM.
    val stats = IcebergTable.columnStats(spark, path)
      .filter(org.apache.spark.sql.functions.col("column_name") === "geom")
      .collect().map(_.getAs[String]("upper_bound")).toSet
    assert(stats.contains("""{"bbox_x":4.0,"bbox_y":4.0,"bbox_z":14.0,"bbox_m":null}"""), s"$stats")
    assert(stats.contains("""{"bbox_x":14.0,"bbox_y":14.0,"bbox_z":null,"bbox_m":19.0}"""))
  }

  test("seeded fuzz: bbox pruning is SOUND — no query box ever loses a matching row") {
    val rnd = new scala.util.Random(20260814L)
    val geomField = IcebergTypes.NestedField(2, "geom", required = false,
      IcebergTypes.GeometryT(None)).toSpark
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false), geomField))

    // 12 appends of mixed random points/linestrings (plus some nulls),
    // envelopes tracked Scala-side as the oracle.
    val path = tmpDir("graft_geometry_fuzz")
    var oracle = Vector.empty[(Int, Option[(Double, Double, Double, Double)])]
    var nextId = 0
    def randGeom(): (Array[Byte], (Double, Double, Double, Double)) =
      if (rnd.nextBoolean()) {
        val x = rnd.nextDouble() * 200 - 100; val y = rnd.nextDouble() * 200 - 100
        (wkbPoint(x, y), (x, y, x, y))
      } else {
        val pts = Seq.fill(2 + rnd.nextInt(4))(
          (rnd.nextDouble() * 200 - 100, rnd.nextDouble() * 200 - 100))
        (wkbLineString(pts: _*),
          (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max))
      }
    (0 until 12).foreach { _ =>
      val rows = (0 until 15).map { _ =>
        val id = nextId; nextId += 1
        if (rnd.nextInt(10) == 0) { oracle :+= (id, None); Row(id, null) }
        else {
          val (wkb, env) = randGeom()
          oracle :+= (id, Some(env))
          Row(id, wkb)
        }
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      if (!graft.write.IcebergWrite.tableExists(path, spark.sessionState.newHadoopConf()))
        IcebergTable.write(df, path)
      else IcebergTable.append(df, path)
    }

    var pruned = 0
    (1 to 25).foreach { _ =>
      val x1 = rnd.nextDouble() * 240 - 120; val y1 = rnd.nextDouble() * 240 - 120
      val x2 = x1 + rnd.nextDouble() * 80; val y2 = y1 + rnd.nextDouble() * 80
      val expected = oracle.collect {
        case (id, Some((ex1, ey1, ex2, ey2)))
          if Wkb.intersects(ex1, ey1, ex2, ey2, x1, y1, x2, y2) => id
      }.toSet
      val q = s"st_intersects_bbox(geom, ${x1}D, ${y1}D, ${x2}D, ${y2}D)"
      val plan = IcebergTable.plan(spark, path, graft.read.ReadOptions(filterSql = Some(q)))
      pruned += plan.totalDataFiles - plan.dataFiles.size
      val got = IcebergTable.load(spark, path, graft.read.ReadOptions(filterSql = Some(q)))
        .select("id").collect().map(_.getInt(0)).toSet
      assert(got == expected,
        s"box ($x1,$y1)-($x2,$y2): missing=${expected -- got} extra=${got -- expected}")
    }
    assert(pruned > 0, "across 25 random boxes, pruning should have skipped some files")
  }

  test("geometry table: Appendix D bounds written per file; bbox predicate prunes files and filters rows") {
    val path = tmpDir("graft_geometry")
    // Four appends = four files, each a distinct spatial tile.
    val geomField = IcebergTypes.NestedField(2, "geom", required = false,
      IcebergTypes.GeometryT(Some("srid:4326"))).toSpark
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false), geomField))
    def tile(x0: Double, y0: Double, idBase: Int) = {
      val rows = (0 until 25).map(i =>
        Row(idBase + i, wkbPoint(x0 + (i % 5) * 2.0, y0 + (i / 5) * 2.0)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
    IcebergTable.write(tile(0, 0, 0), path)        // bbox [0,8]x[0,8]
    IcebergTable.append(tile(100, 0, 100), path)   // [100,108]x[0,8]
    IcebergTable.append(tile(0, 100, 200), path)   // [0,8]x[100,108]
    IcebergTable.append(tile(100, 100, 300), path) // [100,108]x[100,108]

    // Schema round-trip keeps geometry typing (the marker re-declares it).
    val conf = spark.sessionState.newHadoopConf()
    val meta = graft.core.TableMetadata.load(path, conf)
    val gf = meta.currentSchema.fields.find(_.name == "geom").get
    assert(gf.fieldType == IcebergTypes.GeometryT(Some("srid:4326")))

    // Every file carries 16-byte Appendix D bounds with the tile's bbox.
    val plan = IcebergTable.plan(spark, path)
    assert(plan.dataFiles.size == 4)
    plan.dataFiles.foreach { f =>
      val lo = f.info.lowerBounds.get(gf.id).flatMap(Wkb.decodeBound)
        .getOrElse(fail(s"no geometry lower bound on ${f.recordedPath}"))
      val hi = f.info.upperBounds.get(gf.id).flatMap(Wkb.decodeBound)
        .getOrElse(fail(s"no geometry upper bound on ${f.recordedPath}"))
      assert(hi._1 - lo._1 == 8.0 && hi._2 - lo._2 == 8.0, s"tile bbox wrong: $lo..$hi")
    }

    // A query box covering only the first tile plans exactly ONE file.
    val q = "st_intersects_bbox(geom, -1.0D, -1.0D, 9.0D, 9.0D)"
    val pruned = IcebergTable.plan(spark, path, graft.read.ReadOptions(filterSql = Some(q)))
    assert(pruned.dataFiles.size == 1,
      s"bbox should prune to 1 of 4 files, kept ${pruned.dataFiles.size}")

    // Row-level semantics: a box overlapping part of one tile keeps only
    // the points inside it.
    val q2 = "st_intersects_bbox(geom, -1.0D, -1.0D, 3.0D, 3.0D)"
    val rows = IcebergTable.load(spark, path, graft.read.ReadOptions(filterSql = Some(q2)))
    assert(rows.count() == 4) // points (0,0),(2,0),(0,2),(2,2)
    // And the disjoint box matches nothing (all four files pruned).
    val none = IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some("st_intersects_bbox(geom, 500.0D, 500.0D, 600.0D, 600.0D)")))
    assert(none.dataFiles.isEmpty)

    // Full table reads still work and null-safety holds.
    assert(IcebergTable.load(spark, path).count() == 100)

    // DSv2 SQL route: the bbox UDF cannot be pushed as a source Filter, but
    // the optimizer pre-pass feeds it to the scan — same 1-of-4 file prune
    // as the direct API, with the residual Filter keeping row semantics.
    graft.functions.IcebergFunctions.register(spark)
    val dsv2 = spark.read.format("graft").load(path)
      .where(org.apache.spark.sql.functions.expr(
        "st_intersects_bbox(geom, -1.0D, -1.0D, 3.0D, 3.0D)"))
    assert(dsv2.count() == 4)
    val m = graftScanMetrics(dsv2)
    assert(m("dataFilesTotal") == 4 && m("dataFiles") == 1,
      s"DSv2 route should prune to 1 of 4 files via the bbox, kept ${m("dataFiles")} of ${m("dataFilesTotal")}")

    // iceberg_column_stats renders the bbox as the reference's JSON object
    // (test_geometry_column_stats.test: absent Z/M are JSON null).
    val stats = IcebergTable.columnStats(spark, path)
      .filter(org.apache.spark.sql.functions.col("column_name") === "geom")
      .collect()
    assert(stats.nonEmpty)
    val lows = stats.map(_.getAs[String]("lower_bound")).toSet
    assert(lows.contains("""{"bbox_x":0.0,"bbox_y":0.0,"bbox_z":null,"bbox_m":null}"""),
      s"geometry lower bounds rendered as: $lows")
    assert(stats.map(_.getAs[String]("upper_bound")).toSet
      .contains("""{"bbox_x":108.0,"bbox_y":108.0,"bbox_z":null,"bbox_m":null}"""))
  }
}
