package graft

import graft.pipeline.Multimodal
import graft.streaming.Streams
import org.apache.spark.sql.functions._

class PipelineExtrasSpec extends SparkSpec {

  test("commit-time manifest merge compacts manifests under min-count policy") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_manifest_merge")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(
      properties = Map("commit.manifest.min-count-to-merge" -> "3",
        "commit.manifest.target-size-bytes" -> (64L * 1024 * 1024).toString)))
    IcebergTable.append(src, path)
    // third commit reaches min-count: manifests merge into one
    IcebergTable.append(src, path)
    val p = IcebergTable.plan(spark, path)
    assert(p.scannedManifests == 1, s"expected 1 merged manifest, got ${p.scannedManifests}")
    assert(p.fastRowCount.contains(3 * src.count()))
    assert(IcebergTable.load(spark, path).count() == 3 * src.count())
  }

  test("commit.manifest-merge.enabled=false keeps FastAppend: one manifest per commit (test_merge_append_disabled)") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_manifest_nomerge")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(
      properties = Map("commit.manifest-merge.enabled" -> "false",
        "commit.manifest.min-count-to-merge" -> "2")))
    IcebergTable.append(src, path)
    IcebergTable.append(src, path)
    val p = IcebergTable.plan(spark, path)
    assert(p.scannedManifests >= 3,
      s"merge disabled: three commits must keep >= 3 manifests, got ${p.scannedManifests}")
    assert(IcebergTable.load(spark, path).count() == 3 * src.count())
  }

  test("malformed commit.manifest.* properties fall back to defaults, never fail the commit (test_merge_append_invalid_properties)") {
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val path = tmpDir("graft_manifest_badprops")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(
      properties = Map(
        "commit.manifest-merge.enabled" -> "maybe",
        "commit.manifest.min-count-to-merge" -> "-2",
        "commit.manifest.target-size-bytes" -> "abc")))
    // Second commit triggers the merge-config read; invalid values must warn
    // and use defaults (enabled=true, min-count=100 -> no merge at 2).
    IcebergTable.append(src, path)
    assert(IcebergTable.load(spark, path).count() == 2 * src.count())
    val p = IcebergTable.plan(spark, path)
    assert(p.scannedManifests == 2, "default min-count 100 must not merge 2 manifests")
  }

  test("multimodal: payload sniffing, metadata, features, resize, frame sampling") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("payload", Multimodal.syntheticPayload(col("text"), col("doc_id")))
    val withMeta = Multimodal.attachMetadata(docs, "payload")
    val types = withMeta.groupBy("media_meta.media_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.keySet == Set("image/png", "image/jpeg", "audio/wav", "video/mp4"))
    assert(types.values.sum == docs.count())
    // byte_length = magic + utf8 text bytes
    val one = withMeta.filter(col("doc_id") === 0)
      .select(col("media_meta.byte_length"), octet_length(col("text"))).collect()(0)
    assert(one.getLong(0) == one.getInt(1) + 4) // doc 0 -> PNG magic of 4 bytes

    val feats = Multimodal.extractFeatures(withMeta, "payload", dim = 8)
    assert(feats.schema("feature").dataType.typeName == "array")
    val f0 = feats.select("feature").limit(1).collect()(0).getSeq[Float](0)
    assert(f0.size == 8)
    // determinism
    val f1 = Multimodal.extractFeatures(withMeta, "payload", dim = 8)
      .select("feature").limit(1).collect()(0).getSeq[Float](0)
    assert(f0 == f1)

    val resized = Multimodal.resizeStub(withMeta, 256)
    val maxEdge = resized.agg(max(col("media_meta.width")), max(col("media_meta.height"))).collect()(0)
    assert(maxEdge.getInt(0) <= 256 && maxEdge.getInt(1) <= 256)

    val frames = Multimodal.frameSampleStub(
      withMeta.filter(col("media_meta.media_type") === "video/mp4"), "payload", everyK = 8)
    assert(frames.count() == withMeta.filter(col("media_meta.media_type") === "video/mp4").count() * 4) // 32/8
    assert(frames.schema.fieldNames.contains("frame_index"))
  }

  test("PII detection: counts + redaction over mixed text, builtins only") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "write to a.b-c_d@ex-ample.co.uk or x@y.io; see https://ex.org/a_b/c%20d page"),
      (2L, "call +14155551234 or +4930123456 now"),
      (3L, "no pii here at all"),
      (4L, "edge: not-an-email @@ http:// bare, short +123456 too short")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiFeatures(docs, "text")
      .select("doc_id", "n_emails", "n_urls", "n_phones", "redacted")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2 && out(1L).getLong(2) == 1)
    assert(out(2L).getLong(3) == 2)
    assert(out(3L).getLong(1) == 0 && out(3L).getLong(2) == 0 && out(3L).getLong(3) == 0)
    assert(out(4L).getLong(1) == 0 && out(4L).getLong(2) == 0 && out(4L).getLong(3) == 0)
    val red1 = out(1L).getString(4)
    assert(red1.contains("[EMAIL]") && red1.contains("[URL]") && !red1.contains("@"))
    assert(out(2L).getString(4) == "call [PHONE] or [PHONE] now")
    // The plan stays inside codegen: no UDF in the PII path.
    val plan = TextAnalysis.piiFeatures(docs, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("chunkDocuments: overlapping token windows cover every token exactly") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val words = (1 to 150).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words), (2L, "a b c"), (3L, "single")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(docs, "text", "doc_id", maxTokens = 64, overlap = 16)
      .collect().groupBy(_.getLong(0))
    // 150 tokens, stride 48: starts 0,48,96,144 -> 4 chunks.
    val c1 = chunks(1L).sortBy(_.getLong(1))
    assert(c1.map(_.getLong(1)).toSeq == Seq(0L, 48L, 96L, 144L))
    assert(c1.map(_.getLong(3)).toSeq == Seq(64L, 64L, 54L, 6L))
    assert(c1.head.getString(2).startsWith("w1 w2 ") && c1.head.getString(2).endsWith(" w64"))
    assert(c1.last.getString(2) == "w145 w146 w147 w148 w149 w150")
    // Consecutive chunks overlap by exactly `overlap` tokens.
    assert(c1(0).getString(2).split(" ").takeRight(16).toSeq ==
      c1(1).getString(2).split(" ").take(16).toSeq)
    // Short docs: one chunk, intact.
    assert(chunks(2L).length == 1 && chunks(2L).head.getString(2) == "a b c")
    assert(chunks(3L).head.getLong(3) == 1L)
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(docs, "text", "doc_id", maxTokens = 16, overlap = 16)
    }
  }

  test("deterministic split + token-budget packing: reproducible, bounded bins, no global sort") {
    import spark.implicits._
    import graft.pipeline.Sampling
    val docs = (1L to 5000L).map(i => (i, 50L + (i * 37) % 400)).toDF("doc_id", "n_tokens")

    val s1 = Sampling.deterministicSplit(docs, "doc_id", valPct = 5, testPct = 5)
    val s2 = Sampling.deterministicSplit(docs, "doc_id", valPct = 5, testPct = 5)
    assertSameResult(s1, s2) // bit-for-bit reproducible
    val byKind = s1.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind.keySet == Set("train", "val", "test"))
    // hash buckets are near-uniform: each 5% slice within [2%, 8%]
    assert(byKind("val") > 100 && byKind("val") < 400, s"val size ${byKind("val")}")
    assert(byKind("test") > 100 && byKind("test") < 400)
    assert(byKind.values.sum == 5000)
    intercept[IllegalArgumentException](Sampling.deterministicSplit(docs, "doc_id", 60, 50))

    // Near-dup cluster resolution: components from pairs, singletons kept,
    // a 30-link chain converges via pointer jumping (plain propagation
    // would need 29 rounds; the default cap is 20).
    {
      import graft.pipeline.Dedup
      val docsC = ((1L to 31L) ++ Seq(100L, 101L, 200L)).map(Tuple1(_)).toDF("doc_id")
      val chain = (1L until 31L).map(i => (i, i + 1)) :+ (100L, 101L)
      val pairsC = chain.toDF("id_a", "id_b")
      val clustered = Dedup.resolveClusters(docsC, "doc_id", pairsC)
      val m = clustered.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 31L).forall(m(_) == 1L), "30-link chain must collapse to min id 1")
      assert(m(100L) == 100L && m(101L) == 100L)
      assert(m(200L) == 200L, "doc in no pair is its own singleton cluster")
      assert(m.size == 34)
      // Lineage guard: the 30-link chain needs several propagation rounds;
      // with the per-round localCheckpoint the loop's analyzed plan stays a
      // constant few dozen nodes. The r10 persist-based loop quadrupled it
      // per round (677 MB plan STRINGS at sf0.001) — catch any regression
      // here, where it costs milliseconds.
      assert(Dedup.maxClusterLoopPlanNodes > 0, "plan-size probe did not run")
      assert(Dedup.maxClusterLoopPlanNodes < 100,
        s"cluster loop plan grew to ${Dedup.maxClusterLoopPlanNodes} nodes — lineage is not being truncated")
      clustered.unpersist()
    }

    // Stride decorrelation: ids at stride exactly 1,000,003 (one of the
    // reducing moduli) must NOT co-move between buckets — the dual-modulus
    // mix makes co-movement require a multiple of lcm(1000003, 1000033).
    val strided = (0L until 500L).map(i => Tuple1(7L + i * 1000003L)).toDF("doc_id")
    val strideBuckets = strided.select(Sampling.hashBucket(col("doc_id")).as("b"))
      .distinct().count()
    assert(strideBuckets > 50, s"stride-1000003 ids hit only $strideBuckets distinct buckets")

    // Domain-mix resampling: reproducible, per-domain rates approximately
    // honored, rate 1.0 keeps everything, invalid rates refused.
    val domains = docs.withColumn("dom",
      org.apache.spark.sql.functions.when(col("doc_id") % 2 === 0, "big").otherwise("small"))
    val mixed = Sampling.resampleByRates(domains, "dom", "doc_id", Map("big" -> 0.25))
    assertSameResult(mixed, Sampling.resampleByRates(domains, "dom", "doc_id", Map("big" -> 0.25)))
    val kept = mixed.groupBy("dom").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 2500, "default rate 1.0 keeps every row")
    assert(kept("big") > 400 && kept("big") < 850, s"25% of 2500 expected, got ${kept("big")}")
    intercept[IllegalArgumentException](
      Sampling.resampleByRates(domains, "dom", "doc_id", Map("big" -> 1.5)))

    val packed = Sampling.packByTokenBudget(docs, "doc_id", "n_tokens",
      tokenBudget = 2048, shards = 8)
    // Reproducible; shard = id % 8; bins contiguous from 0 per shard;
    // every bin's span stays within budget + one max-doc overhang.
    assertSameResult(packed, Sampling.packByTokenBudget(docs, "doc_id", "n_tokens", 2048, 8))
    val rows = packed.orderBy("pack_shard", "doc_id")
      .select("pack_shard", "pack_bin", "n_tokens").as[(Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val bins = rs.map(_._2)
      assert(bins.head == 0L)
      bins.sliding(2).foreach { case Array(a, b) => assert(b == a || b == a + 1); case _ => }
      rs.groupBy(_._2).foreach { case (_, binRows) =>
        assert(binRows.map(_._3).sum <= 2048 + 449, // budget + max doc size
          s"bin overflow: ${binRows.map(_._3).sum}")
      }
    }
    // no global single-partition window: the plan partitions by pack_shard
    val planStr = packed.queryExecution.executedPlan.toString
    assert(!planStr.contains("SinglePartition"), "packing must not use a global window")
  }

  test("embedding-cosine near-dup finds exact duplicates without crossJoin") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val dup = e.union(e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val pairs = graft.pipeline.Similarity.cosineNearDuplicates(dup, "embedding", "vec_id", 0.99)
    val n = e.count()
    val found = pairs.filter(col("id_b") - col("id_a") === 1000000).count()
    // every original/copy pair shares all signature bands -> full recall
    assert(found == n, s"expected $n exact-dup pairs, found $found")
  }

  test("cosineNearDuplicates: pair set AND scores bit-equal to a driver-side banding reference") {
    // Pins the operator's exact semantics (same banding via signatureOf,
    // same bucket cap, float products widened into double accumulators,
    // dot / (sqrt * sqrt)): every emitted cosine must match the reference
    // bit-for-bit, not approximately. Added in r15 after a self-join
    // rewrite attempt — measured 6-10x SLOWER (pair rows carry both
    // vectors through the join, guide §8 anti-pattern) and reverted; this
    // net stays so the next restructuring attempt can prove equivalence.
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val dup = e.union(e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val threshold = 0.9
    val got = graft.pipeline.Similarity
      .cosineNearDuplicates(dup, "embedding", "vec_id", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val rows = dup.select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val buckets = scala.collection.mutable.Map
      .empty[(Int, Long), Vector[(Long, Seq[Float])]].withDefaultValue(Vector())
    rows.foreach { case (id, v) =>
      val sig = graft.pipeline.Similarity.signatureOf(v, 32)
      (0 until 4).foreach { b => buckets((b, (sig >>> (b * 8)) & 0xFFL)) :+= ((id, v)) }
    }
    val want = scala.collection.mutable.Map.empty[(Long, Long), Double]
    buckets.values.filter(ms => ms.size >= 2 && ms.size <= 1000).foreach { ms =>
      val s = ms.sortBy(_._1)
      for (i <- s.indices; j <- i + 1 until s.size) {
        val (ia, va) = s(i); val (ib, vb) = s(j)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
        val n = math.min(va.length, vb.length)
        while (k < n) { dot += va(k) * vb(k); na += va(k) * va(k); nb += vb(k) * vb(k); k += 1 }
        val cos = if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        if (cos >= threshold) want.getOrElseUpdate((ia, ib), cos)
      }
    }
    assert(got.keySet == want.keySet,
      s"pair-set mismatch: only-got=${(got.keySet -- want.keySet).take(3)}, " +
        s"only-want=${(want.keySet -- got.keySet).take(3)}")
    got.foreach { case (k, c) =>
      assert(c == want(k), s"cosine not bit-equal at $k: got $c, want ${want(k)}") }
  }

  test("estimateRows: manifest-derived cardinality with and without filters") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val path = tmpDir("graft_cardinality")
    IcebergTable.write(src, path, graft.write.TableWriteOptions(
      partitionBy = Seq(("n_regionkey", graft.core.Transforms.Identity))))
    assert(IcebergTable.estimateRows(spark, path) == src.count())
    val est = IcebergTable.estimateRows(spark, path, Some("n_regionkey = 2"))
    val actual = src.filter("n_regionkey = 2").count()
    assert(est >= actual && est < src.count(), s"estimate $est should be pruned below ${src.count()}")
  }

  test("incremental read: appendsSince returns only files added after a snapshot") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val path = tmpDir("graft_incremental")
    IcebergTable.write(src, path)
    val first = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
      .currentSnapshotId.get
    val batch2 = src.withColumn("n_nationkey", col("n_nationkey") + 100)
    IcebergTable.append(batch2, path)
    val inc = Streams.appendsSince(spark, path, first)
    assertSameResult(batch2, inc)
    val cur = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
      .currentSnapshotId.get
    assert(Streams.appendsSince(spark, path, cur).count() == 0)
  }

  test("multimodal: real PNG dims decoded via javax.imageio; stub only for fakes") {
    // Build a real 3x2 PNG in memory.
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val realPng = baos.toByteArray
    assert(graft.pipeline.Multimodal.sniffType(realPng) == "image/png")
    assert(graft.pipeline.Multimodal.decodeImageDims(realPng).contains((3, 2)))
    import spark.implicits._
    val df = Seq((1L, realPng)).toDF("id", "payload")
    val meta = graft.pipeline.Multimodal.attachMetadata(df, "payload")
      .select("media_meta.media_type", "media_meta.width", "media_meta.height")
      .collect()(0)
    assert((meta.getString(0), meta.getInt(1), meta.getInt(2)) == ("image/png", 3, 2))
    // A synthetic payload (magic header, garbage body) falls back to the stub.
    val fake = Array[Byte](0x89.toByte, 'P', 'N', 'G') ++ "not an image".getBytes
    assert(graft.pipeline.Multimodal.decodeImageDims(fake).isEmpty)

    // Real WAV header decode via javax.sound: build a minimal PCM WAV at
    // 22050 Hz mono and read its true rate; a fake WAV (magic only) falls
    // back to the 16000 stub.
    val fmt = new javax.sound.sampled.AudioFormat(22050f, 16, 1, true, false)
    val pcm = new Array[Byte](44100) // 1 second of silence
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / fmt.getFrameSize)
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    val realWav = wavOut.toByteArray
    assert(graft.pipeline.Multimodal.sniffType(realWav) == "audio/wav")
    assert(graft.pipeline.Multimodal.decodeAudioMeta(realWav).contains((22050, 1, 22050)))
    val fakeWav = "RIFFxxxxWAVE".getBytes ++ "no fmt chunk".getBytes
    assert(graft.pipeline.Multimodal.decodeAudioMeta(fakeWav).isEmpty)
    val audioDf = Seq((1L, realWav), (2L, fakeWav)).toDF("id", "payload")
    val rates = graft.pipeline.Multimodal.attachMetadata(audioDf, "payload")
      .select("id", "media_meta.sample_rate").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rates == Map(1L -> 22050, 2L -> 16000))
  }

  test("multimodal: real MP4 container metadata round trip (tkhd dims, stsz count)") {
    import spark.implicits._
    val mp4 = graft.pipeline.Multimodal.encodeMp4(w = 640, h = 360, nFrames = 123)
    assert(graft.pipeline.Multimodal.sniffType(mp4) == "video/mp4")
    assert(graft.pipeline.Multimodal.parseMp4Meta(mp4).contains((640, 360, 123)))
    // Structural robustness: ftyp magic with trailing junk (no moov) and a
    // truncated container both fall back to None, never throw.
    val bare = Array[Byte](0, 0, 0, 8) ++ "ftyp".getBytes ++ "xx".getBytes
    assert(graft.pipeline.Multimodal.parseMp4Meta(bare).isEmpty)
    assert(graft.pipeline.Multimodal.parseMp4Meta(mp4.take(40)).isEmpty)
    // 64-bit `size==1` largesize header: rewrite the top-level moov box to
    // the extended form (size=1, type, 64-bit largesize, body shifted by
    // 8) — the walker must read largesize at absolute offset +8 (after
    // the type bytes) and still find tkhd/stsz. Real >4GB-mdat files use
    // exactly this header shape.
    val moovOff = {
      val ftypSize = java.nio.ByteBuffer.wrap(mp4).getInt(0)
      ftypSize
    }
    val moovSize = java.nio.ByteBuffer.wrap(mp4).getInt(moovOff)
    assert(new String(mp4, moovOff + 4, 4, "ASCII") == "moov")
    val ext = java.nio.ByteBuffer.allocate(16)
    ext.putInt(1); ext.put("moov".getBytes("ASCII")); ext.putLong(moovSize + 8L)
    val large = mp4.take(moovOff) ++ ext.array() ++
      mp4.slice(moovOff + 8, moovOff + moovSize)
    assert(graft.pipeline.Multimodal.parseMp4Meta(large).contains((640, 360, 123)))
    // Truncated largesize header (8 bytes of a 16-byte header) → None.
    assert(graft.pipeline.Multimodal.parseMp4Meta(large.take(moovOff + 8)).isEmpty)
    // attachMetadata surfaces the real values for parseable video and the
    // stub fallbacks for unparseable ftyp-magic blobs.
    val df = Seq((1L, mp4), (2L, bare)).toDF("id", "payload")
    val meta = graft.pipeline.Multimodal.attachMetadata(df, "payload")
      .select("id", "media_meta.width", "media_meta.height", "media_meta.n_frames")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(meta == Map(1L -> ((640, 360, 123)), 2L -> ((0, 0, 32))))
    // frameSampleStub walks the REAL sample count: every 10th index.
    val frames = graft.pipeline.Multimodal.frameSampleStub(
      graft.pipeline.Multimodal.attachMetadata(Seq((1L, mp4)).toDF("id", "payload"), "payload"),
      "payload", everyK = 10)
    assert(frames.select("frame_index").collect().map(_.getInt(0)).toSeq ==
      (0 until 123 by 10))
  }

  test("multimodal: real encode→decode round trips (PNG pixels, WAV frames, resize transcode)") {
    import graft.pipeline.Multimodal
    // PNG is lossless: dims and every pixel round-trip exactly.
    val png = Multimodal.encodePng(21, 17, 0x51A2F3)
    assert(Multimodal.sniffType(png) == "image/png")
    assert(Multimodal.decodeImageDims(png).contains((21, 17)))
    // JPEG: dims exact (pixels lossy by design).
    val jpg = Multimodal.encodeJpeg(14, 13, 0x804020)
    assert(Multimodal.sniffType(jpg) == "image/jpeg")
    assert(Multimodal.decodeImageDims(jpg).contains((14, 13)))
    // Hand-assembled WAV parses with exact rate/channels/frames.
    val wav = Multimodal.encodeWav(12000, 77)
    assert(Multimodal.sniffType(wav) == "audio/wav")
    assert(Multimodal.decodeAudioMeta(wav).contains((12000, 1, 77)))

    import spark.implicits._
    // realPayload fixtures hit the REAL decode path (closed-form dims, not
    // the fnv stub) for every image row, and real rates/frames for audio.
    val ids = (0L until 40L).toDF("doc_id")
      .withColumn("payload", Multimodal.realPayload(org.apache.spark.sql.functions.col("doc_id")))
    val meta = Multimodal.attachMetadata(ids, "payload")
      .select("doc_id", "media_meta.media_type", "media_meta.width",
        "media_meta.height", "media_meta.sample_rate", "media_meta.n_frames")
      .collect()
    meta.foreach { r =>
      val id = r.getLong(0)
      (id % 4) match {
        case 0 =>
          assert(r.getString(1) == "image/png")
          assert(r.getInt(2) == 16 + id % 13 && r.getInt(3) == 16 + (id / 13) % 11)
        case 1 =>
          assert(r.getString(1) == "image/jpeg")
          assert(r.getInt(2) == 12 + id % 9 && r.getInt(3) == 12 + (id / 9) % 7)
        case 2 =>
          assert(r.getString(1) == "audio/wav")
          assert(r.getInt(4) == 8000 + (id % 5) * 4000 && r.getInt(5) == 64 + id % 64)
        case _ =>
          assert(r.getString(1) == "video/mp4")
          assert(r.getInt(2) == 32 + (id % 10) * 8 && r.getInt(3) == 32 + (id / 10) % 10 * 8)
          assert(r.getInt(5) == 24 + id % 48)
      }
    }

    // Pixel decode: solid-color PNG means equal the fill exactly.
    val px = Multimodal.pixelStats(
      Seq((1L, Multimodal.encodePng(9, 7, 0x3C8051))).toDF("id", "payload"), "payload")
      .select("mean_r", "mean_g", "mean_b").collect()(0)
    assert((px.getInt(0), px.getInt(1), px.getInt(2)) == (0x3C, 0x80, 0x51))

    // Resize: a 40x30 PNG scaled to fit 24 → 24x18, re-encoded losslessly
    // (the transcoded bytes re-decode to the new dims AND the same color);
    // an already-small JPEG passes through byte-identical.
    val big = Seq((1L, Multimodal.encodePng(40, 30, 0x102030)), (2L, jpg)).toDF("id", "payload")
    val resized = Multimodal.resizeImages(big, "payload", maxEdge = 24)
    val out = resized.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(Multimodal.decodeImageDims(out(1L)).contains((24, 18)))
    val rpx = Multimodal.pixelStats(
      Seq((1L, out(1L))).toDF("id", "payload"), "payload").collect()(0)
    assert((rpx.getInt(2), rpx.getInt(3), rpx.getInt(4)) == (0x10, 0x20, 0x30))
    assert(java.util.Arrays.equals(out(2L), jpg))
  }

  test("incremental read survives a column rename (field-id projection, not by-name)") {
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val path = tmpDir("graft_incremental_rename")
    IcebergTable.write(src, path)
    val first = graft.core.TableMetadata.load(path, spark.sessionState.newHadoopConf())
      .currentSnapshotId.get
    // Append under the OLD name, then rename: the incremental files carry
    // the old physical name — only field-id projection maps them to the
    // current schema; a by-name read returns nulls.
    val batch2 = src.withColumn("n_nationkey", col("n_nationkey") + 100)
    IcebergTable.append(batch2, path)
    graft.write.Evolution.renameColumn(spark, path, "n_name", "nation_name")
    val inc = Streams.appendsSince(spark, path, first)
    assertSameResult(batch2.withColumnRenamed("n_name", "nation_name"), inc)
    assert(inc.filter(col("nation_name").isNull).count() == 0,
      "incremental read returned nulls for a renamed column")
  }

  test("LSH ANN top-k recall vs brute-force cosine") {
    val sf01 = "/root/testdata/sf0.01"
    val e = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = e.filter(col("vec_id") === 1).select("embedding").collect()(0).getSeq[Float](0)
    val rest = e.filter(col("vec_id") =!= 1)
    val brute = graft.pipeline.Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val idx = graft.pipeline.Similarity.buildSignatureIndex(rest, "embedding", "vec_id")
    val lsh = graft.pipeline.Similarity.lshTopKIndexed(idx, "embedding", "vec_id", q, 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.75, s"LSH top-20 recall $recall below 0.75 (hits ${brute.intersect(lsh).size}/20)")
  }

  test("IVF ANN recovers planted near-neighbors from nprobe cells") {
    // The driver's synthetic embeddings are near-isotropic (top-20 cosine
    // maxes at ~0.37, labels scattered): NO index can recover an arbitrary
    // noise-ranking while scanning a quarter of such data. IVF's contract
    // is recovering GENUINELY near vectors, so the recall oracle plants 25
    // high-cosine (~0.995) noisy copies of the query in the corpus and
    // requires the probe to find them through the quantizer.
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.01"
    val e = spark.read.parquet(s"$sf01/embeddings.parquet")
    val q = e.filter(col("vec_id") === 1).select("embedding").collect()(0).getSeq[Float](0)
    val rnd = new scala.util.Random(7L)
    val planted = (0 until 25).map { i =>
      (9000000L + i, q.map(v => v + (rnd.nextGaussian() * 0.05f * math.abs(v)).toFloat))
    }.toDF("vec_id", "embedding")
    val corpus = e.filter(col("vec_id") =!= 1).select("vec_id", "embedding")
      .union(planted)

    val brute = graft.pipeline.Similarity.bruteForceTopK(corpus, "embedding", "vec_id", q, 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(brute.count(_ >= 9000000L) == 20, "planted neighbors must dominate the true top-20")

    val idx = graft.pipeline.Similarity.buildIvfIndex(corpus, "embedding", "vec_id", numCells = 16)
    // Index invariants: 16 centroids, every vector in exactly one cell, and
    // the probe is genuinely bounded (4 largest cells < whole corpus).
    assert(idx.centroids.length == 16)
    assert(idx.cells.count() == corpus.count())
    val cellSizes = idx.cells.groupBy("_ivf_cell").count()
      .collect().map(_.getLong(1)).sorted.reverse
    assert(cellSizes.take(4).sum < corpus.count(),
      s"4/16 cells hold the entire corpus (sizes: ${cellSizes.mkString(",")})")

    val ivf = graft.pipeline.Similarity.ivfTopKIndexed(idx, "embedding", "vec_id", q, 20, nprobe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF top-20 recall $recall below 0.9 (hits ${brute.intersect(ivf).size}/20)")
  }

  test("multi-hundred-file append collects footer stats in a Spark job, not on the driver") {
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet").repartition(80)
    val path = tmpDir("graft_dist_stats")
    IcebergTable.write(src, path)
    assert(graft.write.IcebergWrite.lastStatsMode == "distributed",
      s"80-file append used '${graft.write.IcebergWrite.lastStatsMode}' stats mode")
    // Stats must be identical to the driver path: bounds feed pruning.
    val loaded = IcebergTable.load(spark, path)
    assertSameResult(src, loaded)
    val p = IcebergTable.plan(spark, path,
      graft.read.ReadOptions(filterSql = Some("l_quantity > 1e9")))
    assert(p.dataFiles.isEmpty, "distributed stats failed to prune an impossible predicate")
    // Small appends stay on the driver thread pool.
    val small = tmpDir("graft_driver_stats")
    IcebergTable.write(src.limit(100).coalesce(1), small)
    assert(graft.write.IcebergWrite.lastStatsMode == "driver")
  }

  test("structured streaming: watermarked windowed aggregation matches batch") {
    val dir = tmpDir("graft_stream_events")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    events.write.mode("overwrite").parquet(dir)
    val stream = Streams.readEventStream(spark, dir, events.schema)
    assert(stream.isStreaming)
    val agg = Streams.windowedEventCounts(stream, "ts")
    val q = agg.writeStream.format("memory").queryName("ev_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ev_counts")
      val expected = Streams.windowedEventCounts(events, "ts")
      assertSameResult(expected, got)
    } finally q.stop()
  }
}
