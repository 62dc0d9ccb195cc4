package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.internal.SQLConf

/** Shuffle-volume probe (measurement tooling, not part of the driver
  * contract): runs each named query twice in the tuned session — once as
  * configured, once with the optimizer rules named in SPARK_GRAFT_PROBE_CONF
  * (comma-separated; default graft.plans.PushAggThroughInnerJoin) put into
  * `spark.sql.optimizer.excludedRules` — and reports total shuffle WRITE
  * bytes/records per run. Wall-clock at local[4] hides shuffle volume
  * (the "network" is the page cache); bytes-over-the-wire is the quantity
  * that scales with executor count, so plan rewrites that trade local
  * neutrality for less exchange are judged on this number.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_ONLY=q3_shipping ShuffleProbe
  */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val rules = sys.env.getOrElse("SPARK_GRAFT_PROBE_CONF", "graft.plans.PushAggThroughInnerJoin")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "q3_shipping").split(",").toSeq
    val spark = BenchSession.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val bytes = new AtomicLong(); val records = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    def run(name: String, on: Boolean): (Long, Long, Double) = {
      if (on) spark.conf.unset(SQLConf.OPTIMIZER_EXCLUDED_RULES.key)
      else spark.conf.set(SQLConf.OPTIMIZER_EXCLUDED_RULES.key, rules)
      spark.catalog.clearCache()
      val b0 = bytes.get(); val r0 = records.get()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      // Listener events are async; drain the bus deterministically so a
      // late stage-completed event can't be attributed to the next run.
      org.apache.spark.graft.BusDrain.drain(spark.sparkContext, 30000L)
      (bytes.get() - b0, records.get() - r0, (System.nanoTime() - t0) / 1e9)
    }

    names.foreach { name =>
      // Records/bytes are deterministic, so volume-only probes at big SF
      // can skip the warmup execution (SPARK_GRAFT_PROBE_NOWARMUP=1);
      // keep it when wall-clock is also being read.
      if (!sys.env.get("SPARK_GRAFT_PROBE_NOWARMUP").contains("1"))
        run(name, on = true) // warmup (fixtures + JIT), discarded
      val (bOn, rOn, sOn) = run(name, on = true)
      val (bOff, rOff, sOff) = run(name, on = false)
      println(f"""{"query":"$name","conf":"$rules",""" +
        f""""on":{"shuffle_mb":${bOn / 1e6}%.1f,"records":$rOn,"sec":$sOn%.2f},""" +
        f""""off":{"shuffle_mb":${bOff / 1e6}%.1f,"records":$rOff,"sec":$sOff%.2f}}""")
    }
    spark.stop()
  }
}
