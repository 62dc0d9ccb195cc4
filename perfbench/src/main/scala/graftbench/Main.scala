package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What an op produced: check values, and for SparkEntry ops the rows. */
final case class OpOut(check: Map[String, Any], rows: Option[(Seq[String], Array[Row])] = None)

/** One benchmark operation. Ops with the same `key` must give the same output. */
final case class Op(name: String, cls: String, key: String, params: Map[String, Any], run: () => OpOut)

/** A workload: fixtures it builds, then passes of ops over them. */
trait Workload {
  /** Build every fixture from scratch under `dir`. */
  def setup(dir: String): Unit
  /** Use the fixtures built under `dir` from now on. */
  def use(dir: String): Unit
  def pass(i: Int): Seq[Op]
  /** Bookkeeping after an op, outside its timed interval. */
  def afterOp(op: Op, out: OpOut, traced: Boolean): Unit = ()
  /** Per-layer counters only this workload can give. */
  def layerMetrics(nOps: Int): Map[String, Double] = Map.empty
  def oracleSql: Map[String, String] = Map.empty
}

final class Ctx(val spark: SparkSession, val tracer: Tracer, val input: String,
    val work: String, val plan: JsonNode) {
  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)
  def traced: Boolean = tracer.enabled
  /** Per-layer sums, recorded only while tracing. */
  val sums: mutable.Map[String, Double] = mutable.Map[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = if (traced) sums(k) += v

  /** Plan and run a query the way a user's action does, with a span per
    * planning phase. `optLayer` names the layer doing optimizer-time work
    * (the DSv2 source plans its scan there). */
  def execute(df: DataFrame, optLayer: String = "plans"): Array[Row] = {
    val qe = df.queryExecution
    span("analyzed", "plans")(qe.analyzed)
    span("optimizedPlan", optLayer)(qe.optimizedPlan)
    span("executedPlan", "plans")(qe.executedPlan)
    val rows = span("action", "spark_exec")(df.collect())
    if (traced) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("plans.analysis_ms", ms("analysis"))
      add("plans.optimization_ms", ms("optimization"))
      add("plans.physical_ms", ms("planning"))
      if (optLayer == "sources") add("sources.optimize_ms", ms("optimization"))
      val graftRules = qe.tracker.rules.filter(_._1.startsWith("graft."))
      add("plans.graft_rule_ms", graftRules.values.map(_.totalTimeNs).sum / 1e6)
      add("plans.graft_rule_effective", graftRules.values.map(_.numEffectiveInvocations).sum.toDouble)
      add("spark_exec.broadcast_bytes", Ctx.broadcastBytes(qe.executedPlan).toDouble)
    }
    rows
  }
}

object Ctx {
  def broadcastBytes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => broadcastBytes(a.executedPlan)
    case q: QueryStageExec => broadcastBytes(q.plan)
    case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L) + broadcastBytes(b.child)
    case other => (other.children ++ other.subqueries).map(broadcastBytes).sum
  }
}

/** Benchmark entry point: builds the workload's fixtures [[Reps]] times,
  * runs [[WarmPasses]] untimed passes, then whole passes until `seconds` have
  * elapsed and at least [[MinPasses]] have run, and writes one JSON result
  * file. Run through `perfbench/run.py`. */
object Main {
  private val mapper = new ObjectMapper()
  /** Fixture builds per run; setup_s takes their median. */
  private val Reps = 3
  /** Untimed passes before the timed region: after a single one, the first
    * timed pass still ran 10-40% slower per op than the second (JIT). */
  private val WarmPasses = 2
  /** Timed passes per run at least, whatever `seconds` says. The first
    * timed pass is still the slowest; with three, wall_s, the median pass,
    * leaves it out. */
  private val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traceMode = a("trace") == "1"
    val work = a("work")
    val plan = mapper.readTree(new java.io.File(a("input"), "plan.json"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.BenchSession.session(a("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    val listener = new ExecListener(tracer)
    if (traceMode) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, tracer, a("input"), work, plan)
    val w: Workload = workload match {
      case "suite" => new SuiteWorkload(ctx)
      case "point_scan" => new PointScan(ctx)
      case "dml_mixed" => new DmlMixed(ctx)
    }

    // Set-up: the fixtures are built Reps times, each from scratch into
    // a fresh directory; the last build is the one the ops use.
    val buildS = (1 to Reps).map { r =>
      val dir = s"$work/fixture_$r"
      val t0 = System.nanoTime()
      w.setup(dir)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] fixture build $r: $sec%.2f s")
      sec
    }
    w.use(s"$work/fixture_$Reps")

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isValid).toSeq
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def storageMb(): Double = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1024 * 1024)
    // Hygiene between ops, never inside a timed interval: drop cached
    // datasets and RDD blocks (blocking, so no async cleanup lands in the
    // next op). No System.gc(): it slows the ops that follow.
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    val reference = mutable.LinkedHashMap[String, (String, Seq[String], Array[Row])]()
    final case class Rec(op: Op, ms: Double, ok: Boolean, err: String, out: OpOut, traced: Boolean, timed: Boolean)
    val recs = mutable.ArrayBuffer[Rec]()
    var opSeq = 0L
    var peakHeap = 0.0
    var storageMax = 0.0

    def runOp(op: Op, timed: Boolean, traceIt: Boolean): (Double, Boolean) = {
      opSeq += 1
      tracer.enabled = traceIt
      tracer.currentOp = opSeq
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.OpProp, if (traceIt) opSeq.toString else null)
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      val res = try Right(tracer.span(op.name, "bench")(op.run())) catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.enabled = false
      sc.setLocalProperty(Tracer.OpProp, null)
      sc.setLocalProperty(Tracer.SpanProp, null)
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024)
      val (ok, err, out) = res match {
        case Left(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), OpOut(Map.empty))
        case Right(o) =>
          o.rows match {
            case Some((cols, rows)) =>
              val d = Canon.digest(cols, rows)
              reference.get(op.key) match {
                case None => reference(op.key) = (d, cols, rows); (true, "", o.copy(check = Map("digest" -> d)))
                case Some((ref, _, _)) =>
                  (ref == d, if (ref == d) "" else "output differs from the warm-up", o.copy(check = Map("digest" -> d)))
              }
            case None => (true, "", o)
          }
      }
      if (res.isRight) w.afterOp(op, out, traceIt)
      recs += Rec(op, ms, ok, err, out, traceIt, timed)
      if (timed) peakHeap = math.max(peakHeap, heapMb)
      cleanup()
      if (timed) storageMax = math.max(storageMax, storageMb())
      (ms, ok)
    }

    // Warm-up: fills caches and JIT before anything is timed.
    val tw = System.nanoTime()
    (0 until WarmPasses).foreach(i => w.pass(i).foreach(op => runOp(op, timed = false, traceIt = false)))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(buildS) + warmS
    System.err.println(f"[perfbench] session $sessionS%.2f s, warm-up $warmS%.2f s")

    // Timed region: whole passes until `seconds` have elapsed and at least
    // MinPasses have run. A traced run alternates traced and untraced passes
    // so the overhead is measured on the same JVM, host state and op mix.
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val gcN0 = gcBeans.map(_.getCollectionCount).sum
    val passMs = mutable.ArrayBuffer[(Double, Boolean)]()
    val start = System.nanoTime()
    var p = WarmPasses
    while (passMs.size < MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traceIt = traceMode && passMs.size % 2 == 0
      val t0 = System.nanoTime()
      w.pass(p).foreach(op => runOp(op, timed = true, traceIt))
      passMs += (((System.nanoTime() - t0) / 1e6, traceIt))
      System.err.println(f"[perfbench] pass $p: ${passMs.last._1}%.0f ms${if (traceIt) " (traced)" else ""}")
      p += 1
    }
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val gcCount = gcBeans.map(_.getCollectionCount).sum - gcN0
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext, 10000)

    val lat = recs.filter(r => r.timed && !r.traced).map(_.ms).sorted.toSeq
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!traceMode) {
      metrics("setup_s") = setupS
      metrics("wall_s") = median(passMs.map(_._1).toSeq) / 1000.0
      metrics("op_p50_ms") = hdQuantile(lat, 0.5)
    } else {
      val tr = recs.filter(_.traced)
      val nOps = math.max(1, tr.size)
      val traced = tracer.spans.filter(_.op > 0).toSeq
      Tracer.selfTimeUs(traced).foreach { case (layer, us) => metrics(s"self.${layer}_ms") = us / 1000.0 / nOps }
      ctx.sums.foreach { case (k, v) => metrics(k) = v / nOps }
      def spanMs(n: String) = traced.filter(_.name == n).map(s => s.endUs - s.startUs).sum / 1000.0 / nOps
      metrics("core.metadata_load_ms") = spanMs("TableMetadata.load")
      metrics("read.plan_ms") = spanMs("planWithMetadata")
      metrics("read.assemble_ms") = spanMs("assemble")
      val assembleIds = traced.filter(_.name == "assemble").map(_.id).toSet
      metrics("read.listing_jobs") = traced.count(j => j.name.startsWith("job ") && assembleIds(j.parent)).toDouble / nOps
      val ag = listener.agg
      metrics("spark_exec.exec_ms") = traced.filter(_.name == "action").map(s => s.endUs - s.startUs).sum / 1000.0 / nOps
      metrics("spark_exec.jobs") = ag.jobs.toDouble / nOps
      metrics("spark_exec.stages") = ag.stages.toDouble / nOps
      metrics("spark_exec.tasks") = ag.tasks.toDouble / nOps
      metrics("spark_exec.task_cpu_ms") = ag.cpuNs / 1e6 / nOps
      metrics("spark_exec.task_wait_ms") = ag.waitMs.toDouble / nOps
      metrics("spark_exec.input_bytes") = ag.inputBytes.toDouble / nOps
      metrics("spark_exec.shuffle_read_bytes") = ag.shReadBytes.toDouble / nOps
      metrics("spark_exec.shuffle_write_bytes") = ag.shWriteBytes.toDouble / nOps
      metrics("spark_exec.spill_bytes") = ag.spillBytes.toDouble / nOps
      w.layerMetrics(nOps).foreach { case (k, v) => metrics(k) = v }
      metrics("jvm.gc_ms") = gcMs.toDouble
      metrics("jvm.gc_count") = gcCount.toDouble
      metrics("jvm.heap_peak_mb") = peakHeap
      metrics("jvm.storage_mb_between_ops") = storageMax
      val trPass = passMs.filter(_._2).map(_._1).toSeq
      val unPass = passMs.filterNot(_._2).map(_._1).toSeq
      val byCls = tr.filter(_.timed).groupBy(_.op.cls).map { case (c, rs) => c -> rs.map(_.ms).sorted.toSeq }
      metrics("write.commit_p50_ms") = pct(byCls.getOrElse("commit", Nil), 0.5)
      metrics("write.commit_p90_ms") = pct(byCls.getOrElse("commit", Nil), 0.9)
      metrics("read.after_write_p50_ms") = pct(byCls.getOrElse("read", Nil), 0.5)
      metrics("trace.overhead_s") = (median(trPass) - median(unPass)) / 1000.0
      metrics("trace.op_p50_ms") = pct(tr.map(_.ms).sorted.toSeq, 0.5)
      writeSpans(s"$work/spans.json", traced)
    }

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("metrics", metrics.asJava)
    out.put("passes", passMs.size)
    out.put("setup", Map("session_s" -> sessionS, "builds_s" -> buildS.asJava, "warm_s" -> warmS).asJava)
    out.put("ops", recs.map { r =>
      Map[String, Any]("name" -> r.op.name, "cls" -> r.op.cls, "key" -> r.op.key, "ms" -> r.ms,
        "ok" -> r.ok, "err" -> r.err, "traced" -> r.traced, "timed" -> r.timed,
        "params" -> r.op.params.asJava, "check" -> r.out.check.asJava).asJava
    }.asJava)
    out.put("reference", reference.map { case (k, (d, cols, rows)) =>
      k -> Map[String, Any]("digest" -> d, "columns" -> cols.map(_.toLowerCase).sorted.asJava,
        "rows" -> rows.map(r => mapper.readTree(Canon.rowJson(cols, r))).toSeq.asJava).asJava
    }.asJava)
    out.put("oracle_sql", w.oracleSql.asJava)
    mapper.writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }

  /** Median; the mean of the two middle values when the count is even. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis quantile estimate: a Beta-weighted mean of all order
    * statistics. With a few dozen ops of unlike kinds it moves smoothly
    * instead of jumping from one op's latency to the next one's. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(0.0)
    else {
      val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
    }
  }

  /** Nearest-rank percentile of a sorted sample. */
  def pct(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.size - 1, math.ceil(q * sorted.size).toInt - 1 max 0))

  private def writeSpans(path: String, spans: Seq[Span]): Unit =
    mapper.writeValue(new java.io.File(path), spans.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "op" -> s.op).asJava
    }.asJava)
}

/** Engine-neutral row encoding shared with the DuckDB checker: columns in
  * name order; timestamps as epoch microseconds, dates as epoch days,
  * decimals as {"dec": plain string}, nested values as arrays. */
object Canon {
  private val mapper = new ObjectMapper()

  def value(v: Any): Any = v match {
    case null => null
    case f: Float => f.toDouble
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case b: java.math.BigDecimal => java.util.Map.of("dec", b.toPlainString)
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case r: Row => r.toSeq.map(value).asJava
    case s: scala.collection.Seq[_] => s.map(value).asJava
    case other => other
  }

  def rowJson(cols: Seq[String], r: Row): String = {
    val order = cols.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    mapper.writeValueAsString(order.map(i => value(r.get(i))).asJava)
  }

  def digest(cols: Seq[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(rowJson(cols, _)).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
