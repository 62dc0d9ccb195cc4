package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.catalog.GraftSparkExtensions].getName)
      // The suite shares ONE session across ~30 suites / ~280 tests. The
      // app-status store retains up to 1000 SQL execution infos by default,
      // each holding a full plan-description string — accumulated, that
      // OOM'd an 8g suite JVM inside explainString. Tests never read the
      // status store; keep it tiny and bound any single plan string.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Deterministic content digest of a DataFrame (order-insensitive). */
  def digest(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toIndexedSeq
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** The graft batch scans in `df`'s executed plan, subqueries and
    * adaptive stages included. */
  def graftScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("GraftIcebergScan") => b
    }

  /** Runs `df`, which must not have run before (each action resets the
    * plan's metrics, and the scan reports its driver metrics once), and
    * returns the metrics of its one graft batch scan. */
  def graftScanMetrics(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    df.collect()
    val scans = graftScans(df)
    assert(scans.size == 1, s"expected one graft scan in\n${df.queryExecution.executedPlan}")
    scans.head.metrics.map { case (k, m) => k -> m.value }
  }

  def assertSameResult(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    val (na, ha) = digest(a)
    val (nb, hb) = digest(b)
    assert(na == nb, s"row counts differ: $na vs $nb")
    assert(ha == hb, s"content hashes differ ($na rows)")
  }
}
