package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The MinHash re-score shared by [[Dedup.minhashNearDuplicates]] and
 * [[Dedup.minhashNearDuplicatesExact]]: bit-equality against a plain-Scala
 * banding reference, the feature-side broadcast gate, and the corpus-scale
 * branches (shuffle semi-join pruning, shuffled re-score joins) forced on a
 * small corpus.
 */
class MinhashRescoreSpec extends SparkSpec {

  import spark.implicits._

  /** sf0.001 documents plus a mutated copy of each (near-dup, not exact). */
  private def docsWithCopies: DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    d.union(d.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" appended-tail-token")).as("text")))
  }

  private def exactPairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  private def estimatedPairs(df: DataFrame): Map[(Long, Long), Double] =
    df.select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap

  /** The executed plan, cached inner plans included (a materialized result
    * prints its InMemoryRelation's AQE-final plan). */
  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Runs `body` with AQE's size-based broadcast conversion off, so every
    * BroadcastExchange in a plan is one the Dedup gates asked for. */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("minhashNearDuplicates: pairs AND est_jaccard bit-equal to a plain-Scala banding reference") {
    val all = docsWithCopies
    val got = estimatedPairs(Dedup.minhashNearDuplicates(all, "text", "doc_id"))

    // Same banding (minhashBandHashes), same bucket cap (1000), same
    // estimate (matching signature slots / 64) as the operator defaults.
    val rows = all.select(col("doc_id").cast("long"), col("text")).as[(Long, String)].collect()
    val cands = rows
      .flatMap { case (id, t) => Dedup.minhashBandHashes(t, 3).zipWithIndex.map { case (h, b) => (b, h) -> id } }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
      .filter(_.length <= 1000)
      .flatMap(ids => for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j)))
      .toSet
    val sig = rows.map { case (id, t) => id -> Dedup.minhashSignature(t, 3) }.toMap
    val want = cands.iterator.map { case (a, b) =>
      (a, b) -> sig(a).zip(sig(b)).count { case (x, y) => x == y } / Dedup.MinhashPerms.toDouble
    }.filter(_._2 >= 0.8).toMap

    assert(want.size >= 400, s"reference found only ${want.size} pairs")
    assert(got.keySet == want.keySet,
      s"pair-set mismatch: only-got=${(got.keySet -- want.keySet).take(3)}, " +
        s"only-want=${(want.keySet -- got.keySet).take(3)}")
    got.foreach { case (k, j) =>
      assert(j == want(k), s"est_jaccard not bit-equal at $k: got $j, want ${want(k)}") }
  }

  test("feature-side broadcast is gated on the pruned feature rows, not the candidate count") {
    // n families of disjoint 40-token texts, each with a one-token-longer
    // copy: exactly n candidate pairs over 2n distinct ids. A limit between
    // the two must not broadcast the 2n-row feature frame.
    val n = 200
    val corpus = (0 until n).flatMap { i =>
      val base = (1 to 40).map(j => s"w${i}a$j").mkString(" ")
      Seq((i.toLong, base), (i + 1000000L, base + " tail"))
    }.toDF("doc_id", "text")
    val want = (0 until n).map(i => (i.toLong, i + 1000000L)).toSet
    val saved = Dedup.broadcastCandidateLimit
    try withoutAutoBroadcast {
      Dedup.broadcastCandidateLimit = n + n / 2
      val exact = Dedup.minhashNearDuplicatesExact(corpus, "text", "doc_id")
      val est = Dedup.minhashNearDuplicates(corpus, "text", "doc_id")
      assert(exactPairs(exact) == want)
      assert(estimatedPairs(est).keySet == want)
      Seq(exact, est).foreach { df =>
        assert(!planOf(df).contains("BroadcastExchange"), s"feature frame broadcast:\n${planOf(df)}")
      }
      // Above 2n the same frame does broadcast — the check above can fail.
      Dedup.broadcastCandidateLimit = 2L * n + 1
      val small = Dedup.minhashNearDuplicatesExact(corpus, "text", "doc_id")
      assert(exactPairs(small) == want)
      assert(planOf(small).contains("BroadcastExchange"), "feature frame under the limit not broadcast")
    } finally Dedup.broadcastCandidateLimit = saved
  }

  test("zero limits force the semi-join and shuffle branches: same output, no BroadcastExchange") {
    val all = docsWithCopies
    val wantExact = exactPairs(Dedup.minhashNearDuplicatesExact(all, "text", "doc_id"))
    val wantEst = estimatedPairs(Dedup.minhashNearDuplicates(all, "text", "doc_id"))
    assert(wantExact.nonEmpty && wantEst.nonEmpty)
    val (savedBloom, savedBroadcast) = (Dedup.bloomCandidateLimit, Dedup.broadcastCandidateLimit)
    try withoutAutoBroadcast {
      Dedup.bloomCandidateLimit = 0L
      Dedup.broadcastCandidateLimit = 0L
      val exact = Dedup.minhashNearDuplicatesExact(all, "text", "doc_id")
      val est = Dedup.minhashNearDuplicates(all, "text", "doc_id")
      assert(exactPairs(exact) == wantExact)
      assert(estimatedPairs(est) == wantEst)
      Seq(exact, est).foreach { df =>
        assert(!planOf(df).contains("BroadcastExchange"), s"corpus-scale branch broadcast:\n${planOf(df)}")
      }
    } finally {
      Dedup.bloomCandidateLimit = savedBloom
      Dedup.broadcastCandidateLimit = savedBroadcast
    }
  }
}
