package graft

import org.apache.spark.sql.SparkSession

/**
 * The one benchmark/inspection session configuration, shared by [[Bench]]
 * and [[Explain]] so the plan inspected is always the plan benchmarked
 * (the two had drifted: Explain was missing the shuffle floor, the AQE
 * initial-partition setting, the static/adaptive broadcast split and the
 * engine extensions — its audits described a different engine).
 *
 * Rationale for each tuned value lives with the setting; BASELINE.md
 * carries the A/B evidence.
 */
object BenchSession {

  /** The fully-tuned session: [[builder]]'s configuration plus the one
    * registration a Builder cannot carry — [[graft.plans.InjectLateBlooms]]
    * in `experimental.extraOptimizations`, the only optimizer position
    * after `RewriteSubquery` (where EXISTS/IN become semi/anti joins) and
    * after Spark's own `InjectRuntimeFilter` (whose absolute
    * creation-threshold gives up as scan estimates grow with data; the late
    * rule's carrier-leaf-vs-fact-leaf RELATIVE gate does not). r10 scaled
    * the threshold from the benchmarked file's size via SPARK_GRAFT_SF_DIR
    * — an env-var hack; the late rule replaces it with engine logic. */
  def session(cpus: String): SparkSession = {
    val s = builder(cpus).getOrCreate()
    // ReuseSemiAggregate first: it must see fact subtrees before
    // InjectLateBlooms filters them (and once it fires, the redundant
    // fact join a bloom would have protected no longer exists). The rule
    // is unconditionally sound (see its soundness scaladoc); it lives
    // HERE rather than in the every-session extensions because it is a
    // perf-targeted rewrite, and this exact session is what the
    // SPARK_GRAFT_TUNED=1 Verify mode oracles each round.
    // Rebuild the registration wholesale rather than appending whichever
    // rule happens to be missing: on a reused session that already carries
    // InjectLateBlooms (test/tooling pre-registration), a missing-only
    // append would place ReuseSemiAggregate AFTER it, violating the
    // required ordering above.
    // PushAggThroughOuterJoin between them: independent shape, but the
    // pre-aggregate it creates must exist before InjectLateBlooms sizes
    // carrier subtrees.
    registerLateRules(s)
    s
  }

  /** The tuned session's late optimizer rules, in required order. Public
    * and applied through one code path so the differential parity suite
    * (TunedParitySpec) provably exercises the same list the bench runs —
    * a rule added here is automatically under both the random-shape
    * parity net and the SPARK_GRAFT_TUNED Verify oracle. To run without
    * one, name it in `spark.sql.optimizer.excludedRules`. */
  val lateRules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    Seq(graft.plans.ReuseSemiAggregate,
      graft.plans.PushAggThroughOuterJoin, graft.plans.PushAggThroughInnerJoin,
      graft.plans.InjectLateBlooms)

  /** Idempotently (re-)register [[lateRules]] on a session, preserving
    * their relative order even when some subset was already present. */
  def registerLateRules(s: SparkSession): Unit =
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations.filterNot(lateRules.contains) ++ lateRules

  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // Scale-robust shuffle parallelism: at least 32 initial partitions so
      // big joins (60M-row lineitem self-joins at sf10) hash into tables
      // that fit memory instead of spilling — AQE coalescing merges the
      // excess at small SF, so low-SF runs pay nothing (A/B: sf10 tq21
      // 66.2s->37.5s, tq18 32.9s->18.9s; sf0.1 unchanged-to-better).
      .config("spark.sql.shuffle.partitions", math.max(32, cpus.toInt))
      // ...and let AQE START each shuffle at 256 partitions before
      // coalescing to its advisory size: the static floor alone re-bottlenecks
      // at sf30 (tq2 52.6s with 32 fixed -> 19.1s), while small SF gets
      // slightly FASTER (sf0.1 tq2 1.70s->0.87s) because AQE picks the
      // size instead of inheriting the floor.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      // ...and let AQE coalesce INSIDE cached plans too. Spark pins the
      // output partitioning of anything persist()ed (default false here),
      // so the pipeline operators' cached intermediates (banded rows,
      // candidate sets, cluster-loop labels) materialized at the full
      // 256-start granularity — the source of the r10 dedup "drift": an
      // interleaved r9-vs-r10 A/B this round showed identical dedup code
      // +75-110% purely from this conf pair (sf1: simhash 2.8→4.8 s,
      // minhash 11.7→15.8 s at init=256). With coalescing allowed in
      // cached plans: simhash 3.5 s, minhash 13.6 s, dedup_clusters
      // 36.6→26.7 s, join shapes untouched (they cache nothing).
      // parallelismFirst stays at its default true — false over-coalesces
      // the UDF-heavy band pass to one partition (minhash 27 s).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Defensive cap: plan strings are debug output; a lineage regression
      // must truncate text, not exhaust the driver heap (r10's
      // resolveClusters loop built ~0.7 GB plan strings before its fix).
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Engine-tuned execution defaults (documented in BASELINE.md):
      // hash joins over sort-merge (the reference is a vectorized hash-join
      // engine; SMJ pays two sorts per join), and scan splits small enough
      // to parallelize single-file tables at low core counts.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // Split broadcast decision between plan time and runtime: a modest
      // STATIC threshold (16m) so stats-free size estimates can never pick
      // the fact side of a join to broadcast (observed on q3: a 6M-row
      // lineitem build side, 2.6x slower than the right plan), and a larger
      // ADAPTIVE threshold (64m) so AQE still converts to broadcast from
      // ACCURATE runtime sizes once the small side has materialized.
      .config("spark.sql.autoBroadcastJoinThreshold", "16m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      // Sideways information passing (the reference engine pushes build-side
      // join filters into probe-side scans unconditionally; Trino calls this
      // dynamic filtering). Spark ships it as runtime bloom-filter injection
      // (on by default) but the defaults gate it off everywhere that matters
      // here:
      //   - applicationSideScanSizeThreshold defaults to 10GB, so a 2.3 GB
      //     sf10 lineitem scan never qualifies. 64MB admits any scan whose
      //     shuffle could dominate, while still skipping sf0.1-class inputs
      //     where the probe overhead outweighs the saved shuffle.
      //   - creationSideThreshold defaults to 10MB of ESTIMATED size; without
      //     CBO the estimate never shrinks through a Filter, so a selective
      //     date-filtered mid-table scan (sf10 orders: 286MB file, ~70-128MB
      //     after the column-pruning Project's width ratio) "looks" like its
      //     full table and is rejected. The threshold must ALSO stay below
      //     the fact table's pruned estimate (sf10 lineitem: ~150-250MB):
      //     a fact-side bloom costs a second full fact scan and its key
      //     domain saturates expectedNumItems into a no-op filter. Measured
      //     when 4GB admitted lineitem as a creation side: tq10 +39%, tq12
      //     +59%, q_semi_join +27% — all lineitem-builds-bloom-to-prune-
      //     orders shapes where the filter passed >25% of rows. 128MB is
      //     the measured separator at sf10 (explain-verified: orders-side
      //     blooms in tq4/tq10 survive, lineitem-side blooms in
      //     q_semi/tq12 drop out). Erring LOW only loses a bloom (no
      //     regression); erring HIGH re-admits the fact-scan creation pass,
      //     so the value sits at the bottom of the separating band.
      //   - expectedNumItems=1M saturates on fact-side key domains (7.3M
      //     F-status orderkeys at sf10 -> useless filter); 4M with the
      //     default 64M-bit cap keeps fpp in the low percent at that scale.
      // Measured (isolated sf10): tq4 14.2s -> 4.6s; full-suite A/B in
      // BASELINE.md.
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "64MB")
      //   - creationSideThreshold stays the PLAIN sf10-tuned constant. Its
      //     absolute-estimate gate inevitably rejects the same creation
      //     sides at larger SF (estimates scale, the constant doesn't —
      //     measured tq4 26.5s vs 8.8s at sf30); that regime is now covered
      //     by graft's InjectLateBlooms, whose carrier-leaf ≤ fact-leaf/2
      //     RELATIVE gate is scale-invariant (see session()). The bloom's
      //     SIZE also does not scale: the interleaved sf30 A/B had the 4MB
      //     cache-resident filter (fpp ~30%) BEATING the fpp-exact 12.5MB
      //     one by 40-50% — 180M per-row probes that miss cache cost more
      //     than the false positives they admit.
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "128MB")
      //   - numBits must scale WITH expectedNumItems (Spark keeps it at the
      //     8M-bit default regardless): 4M items at 8M bits is 2 bits/item,
      //     a ~60% fpp — the filter costs its creation pass and removes
      //     nothing. 8 bits/item restores the ~2% design point; the bloom
      //     broadcast is 4MB.
      .config("spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "4000000")
      .config("spark.sql.optimizer.runtime.bloomFilter.numBits", "33554432")
      //   - maxNumItems stays at its 4M default although graft's chain
      //     blooms size themselves from their carrier estimate up to it
      //     (ChainBloomInjection sizedParams): a 16M cap helped sf30 q3
      //     another ~15% but regressed q5 ~35% through Spark's OWN
      //     InjectRuntimeFilter (which reads the same cap when sizing
      //     native filters from creation-side stats).
      // Streaming: skip the extra NO-DATA micro-batch Spark appends after
      // the last data batch (it exists to fire event-time timers; none of
      // the streaming operators here uses event-time timeouts, and state
      // eviction timing is the only thing it can change — never output).
      // The stage trace showed it re-opening and re-committing all 32
      // state-store partitions for zero rows: stream_dedup paid a second
      // 32-task stateful stage (4.05 s cold / 0.04 s warm) per run.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.catalog.GraftSparkExtensions].getName)
    // Experiment passthrough: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" for A/B
    // runs (e.g. CBO on/off) without editing the tuned defaults above.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .foldLeft(b) { case (acc, Array(k, v)) => acc.config(k, v); case (acc, _) => acc }
  }
}
