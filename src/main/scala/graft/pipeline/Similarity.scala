package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (Array[Float]).
 *
 * - Brute-force cosine top-k: one distributed pass, `zip_with` +
 *   `aggregate` (codegen'd higher-order functions, no UDF in the hot path),
 *   then a tiny top-k sort. The correctness baseline.
 * - LSH-bucketed top-k: deterministic random-hyperplane signatures; only
 *   candidates sharing >= `minBandMatches` signature bands are scored — the
 *   100 TB path (shuffle on band keys, never an all-pairs crossJoin).
 */
object Similarity {

  /** Cosine similarity of two array columns as a codegen'd Column. */
  def cosineCol(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(b, lit(0.0d), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** Brute-force cosine top-k against a single query vector. Output:
    * (rank, <idCol>, cosine). */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val qCol = array(query.map(v => lit(v.toDouble)): _*)
    val scored = df.withColumn("_cos", cosineCol(col(embCol).cast("array<double>"), qCol))
    scored.orderBy(col("_cos").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("_cos").desc, col(idCol))).cast("long"))
      .select(col("rank"), col(idCol), col("_cos").as("cosine"))
  }

  // Deterministic pseudo-random hyperplanes (seeded xorshift).
  private def hyperplanes(dims: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s.toDouble / Long.MaxValue)
    }
    Array.fill(bits)(Array.fill(dims)(next()))
  }

  /** Random-hyperplane signature (bits-wide) of an embedding. */
  def signatureUdf(dims: Int, bits: Int, seed: Long = 42L) = {
    val planes = hyperplanes(dims, bits, seed)
    udf((emb: Seq[Float]) => {
      var sig = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        var i = 0
        val p = planes(b)
        val n = math.min(dims, emb.length)
        while (i < n) { dot += p(i) * emb(i); i += 1 }
        if (dot >= 0) sig |= (1L << b)
        b += 1
      }
      sig
    })
  }

  /** Embedding-cosine near-duplicate pairs: vectors sharing a signature
    * band become candidates (shuffle on band keys — never an all-pairs
    * crossJoin), then candidates are exactly re-scored and kept when cosine
    * >= threshold. Oversized buckets are capped like MinHash-LSH. */
  def cosineNearDuplicates(df: DataFrame, embCol: String, idCol: String,
      threshold: Double = 0.95, bits: Int = 32, seed: Long = 42L,
      maxBucket: Int = 1000): DataFrame = {
    val dims = df.select(embCol).limit(1).collect() match {
      case Array(r) => r.getSeq[Float](0).length
      case _ => return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("id_a"), lit(0L).as("id_b"), lit(0.0).as("cosine")).limit(0)
    }
    val sigU = signatureUdf(dims, bits, seed)
    val bands = bits / 8 // wider bands than topK: near-dups are near-identical
    val withSig = df.select(col(idCol).cast("long").as("_id"), col(embCol).as("_emb"))
      .withColumn("_sig", sigU(col("_emb")))
    val banded = withSig.withColumn("_b", explode(array((0 until bands).map(lit): _*)))
      .withColumn("_h", expr(s"shiftrightunsigned(_sig, _b * 8)").bitwiseAND(lit(0xFFL)))
    val buckets = banded.groupBy("_b", "_h")
      .agg(collect_list(struct(col("_id"), col("_emb"))).as("_members"))
      .filter(size(col("_members")).between(2, maxBucket))
    val pairUdf = udf((members: Seq[org.apache.spark.sql.Row]) => {
      val ms = members.map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      val out = Seq.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < ms.length) {
        var j = i + 1
        while (j < ms.length) {
          val (ia, va) = ms(i); val (ib, vb) = ms(j)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
          val n = math.min(va.length, vb.length)
          while (k < n) { dot += va(k) * vb(k); na += va(k) * va(k); nb += vb(k) * vb(k); k += 1 }
          val cos = if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
          out += ((ia, ib, cos))
          j += 1
        }
        i += 1
      }
      out.result()
    })
    buckets.select(explode(pairUdf(col("_members"))).as("_p"))
      .select(col("_p._1").as("id_a"), col("_p._2").as("id_b"), col("_p._3").as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Signature of a single vector, driver-side, with the same planes the
    * distributed [[signatureUdf]] uses. */
  def signatureOf(vec: Seq[Float], bits: Int, seed: Long = 42L): Long = {
    val dims = vec.length
    val planes = hyperplanes(dims, bits, seed)
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < dims) { dot += planes(b)(i) * vec(i); i += 1 }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Materializable LSH index: the input plus a stored `_sig` column. At
    * 100 TB this is computed ONCE at ingest and persisted alongside the
    * embeddings (parquet/Iceberg column); every top-k probe then reads the
    * stored column and never touches the signature UDF. */
  def buildSignatureIndex(df: DataFrame, embCol: String, idCol: String,
      bits: Int = 32, seed: Long = 42L): DataFrame = {
    val dims = df.select(embCol).limit(1).collect() match {
      case Array(r) => r.getSeq[Float](0).length
      case _ => return df.select(col(idCol), col(embCol), lit(0L).as("_sig")).limit(0)
    }
    df.select(col(idCol), col(embCol), signatureUdf(dims, bits, seed)(col(embCol)).as("_sig"))
  }

  /** Top-k probe over a PRE-BUILT signature index (`_sig` a stored column —
    * see [[buildSignatureIndex]]). Candidate selection is a codegen'd bit
    * test on the stored long (no UDF at query time, pushdown-friendly);
    * only candidates sharing >= one 4-bit band with the query are exactly
    * scored. Scales as O(candidates), not O(n). */
  def lshTopKIndexed(index: DataFrame, embCol: String, idCol: String,
      query: Seq[Float], k: Int, bits: Int = 32, seed: Long = 42L): DataFrame =
    bruteForceTopK(lshCandidates(index, query, bits, seed), embCol, idCol, query, k)

  /** The LSH candidate subset for a query (rows sharing >= one 4-bit
    * signature band) — deterministic given (corpus, seed); exposed so an
    * external oracle can verify the exact re-scored top-k over it. */
  def lshCandidates(index: DataFrame, query: Seq[Float], bits: Int = 32,
      seed: Long = 42L): DataFrame = {
    val qSig = signatureOf(query, bits, seed)
    val bands = bits / 4
    val qBands = (0 until bands).map(b => ((qSig >>> (b * 4)) & 0xF).toInt)
    val candidate = (0 until bands).map { b =>
      (shiftrightunsigned(col("_sig"), b * 4).bitwiseAND(lit(0xFL)) === lit(qBands(b).toLong))
    }.reduce(_ || _)
    index.filter(candidate)
  }

  /** LSH-bucketed cosine top-k over a raw table: builds the signature
    * in-flight, then probes. Prefer [[buildSignatureIndex]] +
    * [[lshTopKIndexed]] when more than one query runs — the in-flight
    * variant re-signs the full corpus per query. */
  def lshTopK(df: DataFrame, embCol: String, idCol: String, query: Seq[Float],
      k: Int, bits: Int = 32, seed: Long = 42L): DataFrame =
    lshTopKIndexed(buildSignatureIndex(df, embCol, idCol, bits, seed),
      embCol, idCol, query, k, bits, seed)

  // ---------- IVF (inverted-file) ANN ----------

  /** IVF index: a coarse k-means quantizer (`centroids`, small — lives on
    * the driver / in a broadcast) plus the corpus with each vector's
    * nearest-centroid cell id as a stored INT column (`_ivf_cell`).
    *
    * The 100 TB shape: centroids are trained once (on a sample), the cell
    * id is materialized at ingest, and the table is partitioned or
    * clustered by `_ivf_cell` — a probe with `nprobe` cells then reads only
    * `nprobe / numCells` of the data, with cell selection pushed down as a
    * plain column predicate (partition pruning, no UDF at query time). */
  case class IvfIndex(cells: DataFrame, centroids: Array[Array[Double]])

  /** Cosine-normalized copy of a float vector (zero vectors pass through). */
  private def normalized(v: Seq[Float]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    val inv = if (n == 0) 0.0 else 1.0 / math.sqrt(n)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** Train the quantizer (Spark ML k-means on cosine-normalized vectors —
    * Euclidean on the unit sphere orders like cosine) and assign every
    * vector its cell. `trainFraction` bounds the fit cost on huge corpora:
    * centroid quality needs a sample, assignment is one cheap pass. */
  def buildIvfIndex(df: DataFrame, embCol: String, idCol: String,
      numCells: Int = 16, seed: Long = 42L, maxIter: Int = 10,
      trainFraction: Double = 1.0): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val norm = udf((v: Seq[Float]) => normalized(v))
    val prepared = df.select(col(idCol), col(embCol))
      .withColumn("_nrm", array_to_vector(norm(col(embCol))))
    val train = if (trainFraction >= 1.0) prepared
      else prepared.sample(withReplacement = false, trainFraction, seed)
    val model = new KMeans().setK(numCells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("_nrm").setPredictionCol("_ivf_cell")
      .fit(train)
    val cells = model.transform(prepared)
      .select(col(idCol), col(embCol), col("_ivf_cell").cast("int").as("_ivf_cell"))
    IvfIndex(cells, model.clusterCenters.map(_.toArray))
  }

  /** Top-k probe over a pre-built IVF index: rank centroids against the
    * query driver-side (numCells dot products), scan only the `nprobe`
    * nearest cells — the cell filter is a plain `IN` predicate on the
    * stored column — and exactly score the survivors. */
  def ivfTopKIndexed(index: IvfIndex, embCol: String, idCol: String,
      query: Seq[Float], k: Int, nprobe: Int = 4): DataFrame =
    bruteForceTopK(ivfCandidates(index, query, nprobe), embCol, idCol, query, k)

  /** The IVF candidate subset (rows in the `nprobe` cells nearest the
    * query) — a plain `IN` predicate on the stored cell column, so the
    * filter pushes down to the scan; exposed for oracle verification. */
  def ivfCandidates(index: IvfIndex, query: Seq[Float], nprobe: Int = 4): DataFrame = {
    val q = normalized(query)
    val ranked = index.centroids.zipWithIndex.map { case (c, i) =>
      var dot = 0.0; var j = 0
      val n = math.min(c.length, q.length)
      while (j < n) { dot += c(j) * q(j); j += 1 }
      (i, dot)
    }.sortBy(-_._2).take(math.min(nprobe, index.centroids.length)).map(_._1)
    index.cells.filter(col("_ivf_cell").isin(ranked.map(Int.box): _*))
  }

  /** Persist an IVF index: the cell-tagged corpus as parquet (the scale
    * body — at 100 TB this is the table itself, clustered by `_ivf_cell`)
    * plus the tiny centroid codebook alongside it. */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.cells.write.mode("overwrite").parquet(s"$dir/cells")
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load a persisted IVF index; the codebook (numCells rows) comes to the
    * driver, the corpus stays a lazy scan. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    IvfIndex(spark.read.parquet(s"$dir/cells"), cents)
  }

  /** IVF cosine top-k over a raw table: builds the index in-flight, then
    * probes. Prefer [[buildIvfIndex]] once + [[ivfTopKIndexed]] per query
    * when more than one query runs. */
  def ivfTopK(df: DataFrame, embCol: String, idCol: String, query: Seq[Float],
      k: Int, numCells: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame =
    ivfTopKIndexed(buildIvfIndex(df, embCol, idCol, numCells, seed),
      embCol, idCol, query, k, nprobe)
}
