package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line of per-query seconds.
  *
  * Methodology: a warmup action first absorbs JVM/codegen/parquet-footer
  * costs (otherwise whichever query runs first eats ~4 s of startup);
  * results are forced through the `noop` sink so every output column is
  * actually computed — `.count()` would let Catalyst prune a
  * projection-only query down to a scan. Each query runs
  * SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the per-query
  * MEDIAN — a single contended run on a shared machine must not
  * masquerade as a regression (round 2's single-shot artifact read 1.9×
  * on noise alone).
  *
  * Steady-state window (round 11): before the timed passes, the whole
  * surface is swept SPARK_GRAFT_BENCH_WARMUP times untimed (default 1).
  * Measured motivation: at 124 queries the JVM's first ~2 sweeps are a
  * JIT recompilation storm — each query's freshly loaded generated
  * classes invalidate speculative inlining in shared hot paths, and on a
  * verified-idle machine pass 2 read up to 11× pin (q_audio_g711
  * 1.39/15.41/0.27 s across passes; the fixed-plan compute canary
  * 0.70/2.02/0.44) while pass 3 sat at or under every pin. A median of
  * 3 cannot survive two warmup-regime passes, so the timed window now
  * starts in the steady state the pins describe; `warmup_passes` on the
  * JSON line says how many warmup sweeps actually completed (budget cap:
  * warmup aborts past 35% of the wall budget, ledger event
  * `warmup_stop_budget`).
  *
  * Crash/timeout survivability (round 10; round 9's driver run was
  * killed by its timeout AFTER all timed passes but BEFORE the artifact
  * write, leaving `rc:124, parsed:null` — a complete measurement with
  * zero usable evidence). Three rules now make any truncation leave a
  * parseable artifact:
  *   - every completed query sample appends one JSON line to
  *     `bench_ledger.jsonl` the moment it finishes — the ledger IS
  *     evidence even if the process dies mid-pass;
  *   - after pass 1 (and every later pass) the FULL summary line is
  *     (re)written to `bench_last.json` with `"passes_completed"` —
  *     a kill in pass 2+ or the metrics pass still leaves a
  *     full-surface artifact on disk;
  *   - a wall budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 1500)
  *     degrades gracefully instead of dying: pass 1 always completes
  *     (every query gets ≥1 sample), later passes stop mid-pass once
  *     elapsed exceeds 70% of budget (heavy loop queries effectively
  *     drop to 1 run under pressure, exactly the degradation round 9's
  *     contended driver needed), and the untimed metrics pass is
  *     skipped past 85% of budget (`metrics_skipped_budget` says so).
  *     `budget_stopped` is true whenever the budget curtailed ANY timed
  *     pass — mid-pass or between passes; a run with
  *     `passes_completed < runs` always says why.
  *
  * The whole pipeline lives in [[Bench.run]] with an explicit
  * [[BenchConfig]] (round 11) so the degradation contract is PINNED by
  * HarnessGuardSpec calling it with a tiny budget, not just demonstrated
  * once by a contended driver run; `main` only parses the env.
  *
  * Contention canary (round 7): round 6's driver bench ran on a machine
  * so contended the artifact was unusable (sbt 1192 s vs 191 s idle;
  * per-query inflation NON-uniform — single-stage controls ~1.5–2× but
  * multi-stage queries 10–80×, because the per-stage scheduling floor
  * multiplies). Medians can't save a run where EVERY pass is contended,
  * so the bench measures the machine itself with two fixed-cost,
  * data-independent probes and emits the ratio against pinned idle
  * values:
  *   - compute canary: one 10M-row in-memory shuffle+agg (one exchange,
  *     codegen arithmetic) — tracks raw CPU/memory-bandwidth contention;
  *   - scheduling canary: 8 consecutive tiny shuffled actions — tracks
  *     the per-stage scheduling floor that inflates multi-stage queries
  *     far more than single-stage ones.
  * A canary sample runs before each query pass and once after the last,
  * and the JSON line carries the medians plus
  * `contention_factor` (compute) and `sched_factor` (scheduling).
  *
  * Round 10 closes the canary's demonstrated false negative: round 9's
  * 405 s driver run carried factors 1.402/0.821 — "evidence" by the old
  * ≤1.5 rule — while its own q_agg control read 2.3× its idle band (the
  * canaries sample BETWEEN passes and miss sustained load arriving
  * mid-pass; the real queries don't). The benched control queries are
  * therefore folded into the verdict itself: `controls_in_band` is true
  * iff every benched control RAN OK and its median is within 1.5× the
  * top of its pinned idle band (a control that fails fast is not a fast
  * control), and `evidence` = factors ≤ 1.5 AND controls_in_band.
  * Reading rule (also in BASELINE.md): trust per-query medians as
  * evidence iff `"evidence": true`; otherwise adjudicate any apparent
  * regression with an idle `SPARK_GRAFT_BENCH_ONLY` re-run before
  * believing it, expecting multi-stage queries to inflate
  * ~sched_factor (or worse, when the controls are the only signal) and
  * single-stage ones ~contention_factor. Round 12: the line also
  * carries `queries_min`/`queries_max` (per-query extremes across the
  * timed passes) so the artifact self-documents its noise floor —
  * compare pins median-to-median, and call a move drift only when the
  * new median falls OUTSIDE the old run's [min, max] spread. Round 13:
  * the spreads cover SUCCESSFUL samples only (a fast failure is not a
  * noise floor). The bench always times the full surface: pass 1
  * completes even when the warmup sweep aborted on budget, and the
  * mid-pass budget stops degrade passes 2+ to fewer samples.
  */
object Bench {
  /** Idle-machine pinned canary medians (this sandbox, local[32]).
    * Re-pinned round 17 from three independent idle BENCH_ONLY
    * sessions (compute 0.31/0.41/0.43 s, sched 0.94/1.17/1.34 s —
    * medians 0.41/1.17): the round-7 pins (0.60/2.10) were ~1.5×
    * today's idle floor, so every factor since read "faster than
    * pin" even when the machine was at its ordinary floor, which is
    * exactly the canary/sweep contradiction VERDICT r16 flagged (a
    * closing sweep at 1.2× the query pins with contention 0.603 —
    * 0.603·0.60 = 0.36 s is simply today's idle canary, not a fast
    * machine). If the harness hardware changes, re-pin by running the
    * bench idle and copying the canary medians from the JSON line.
    */
  val PinnedComputeSec = 0.41
  val PinnedSchedSec = 1.17
  /** The pins above are only valid at this parallelism (the driver's
    * `cpus: 32` in every BENCH artifact). The canary cost scales with
    * `local[N]` — at other cpus the factors are emitted as -1 rather
    * than as a false contention signal. */
  val PinnedCpus = 32

  /** Control-query idle bands at local[32]/sf0.1, re-pinned in r13 from
    * FULL-SWEEP idle evidence (q_agg 0.353–0.376 / q_filter 0.268–0.334
    * across the r12+r13 closing sweeps at contention 0.65–0.81). The
    * r7–r9 bands (q_agg 0.32 / q_filter 0.21) were pinned when the
    * surface was ~99 queries; at 134 the controls run inside a JVM
    * holding ~35% more compiled query classes and their IN-SWEEP floor
    * moved up while the isolated floor did not (BENCH_ONLY at idle
    * still reads q_filter 0.29 median, and
    * goldens/control_plan_snapshot.txt pins both plans structurally
    * unchanged: q_filter 2 stages/4 tasks/zero shuffle, q_agg 3/5/one
    * exchange — environment drift, not regression). `controls_in_band`
    * allows 1.5× the band top — the same headroom the canary factors
    * get — so ordinary scheduling variance can't flip the verdict,
    * while real contamination (r9's 2.3× q_agg 0.71; the driver's r12
    * artifact q_agg 5.94) still reads false. */
  val ControlBands: Map[String, Double] = Map(
    "q_agg" -> 0.40,
    "q_filter" -> 0.33)
  val ControlHeadroom = 1.5

  /** Everything the pipeline needs, env-free so specs can drive it. */
  final case class BenchConfig(
      sfDir: String,
      cpus: Int,
      runs: Int,
      budgetSec: Double,
      only: Option[Set[String]],
      metricsOn: Boolean,
      summaryPath: String,
      ledgerPath: String,
      metricsPath: String,
      warmup: Int = 1,
      // test seam (r14): extra queries merged into the surface so
      // BenchBudgetSpec can plant a deterministically-failing query
      // and pin the failure-handling contract (errors named, spread
      // over successful samples only). The driver's main() never sets
      // it.
      extraQueries: Map[String,
        (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map.empty)

  /** Aggregate execution-metric fields for the main JSON line: totals
    * over the queries the metrics pass actually covered (the per-query
    * detail is in bench_metrics.json). A budget-stopped metrics pass
    * covers only a prefix of the surface, so the coverage count rides
    * next to the totals — partial totals are structurally
    * distinguishable from full-surface ones, not just hinted at by the
    * `metrics_skipped_budget` boolean (ADVICE r10). Empty string when
    * the metrics pass is off. */
  private def metricAggFields(rows: Seq[(String, BenchMetrics.Snap)],
                              surface: Int): String =
    if (rows.isEmpty) "" else {
      val w = rows.map(_._2.shuffleWriteB).sum
      val sp = rows.map(_._2.spillB).sum
      s""","shuffle_write_mb_total":${BenchMetrics.mb(w)},"spill_mb_total":${BenchMetrics.mb(sp)},""" +
        s""""metrics_queries_covered":${rows.size},"metrics_queries_total":$surface"""
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // wall budget: sized under the driver's observed kill window so a
    // contended machine degrades (fewer samples) instead of truncating
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, must be set on the FIRST session in the JVM: the
      // 100-entry default re-Janino-compiles ~every plan on every pass
      // of a 124-query sweep and churns the JIT code cache until even
      // the fixed-plan canary degrades ~2x (measured r11, idle machine)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b narrows the surface for local
    // iteration on one query's plan; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // BENCH_ONLY scratch reads get their own artifact files — round 9's
    // final commit shipped a 6-query BENCH_ONLY read in place of the
    // graded 109-query sweep, and this separation makes that clobber
    // structurally impossible.
    val scratch = only.isDefined
    val cfg = BenchConfig(
      sfDir = sfDir,
      cpus = cpus.toInt,
      runs = runs,
      budgetSec = budgetSec,
      only = only,
      metricsOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_METRICS", "1") != "0",
      summaryPath = if (scratch) "bench_only_last.json" else "bench_last.json",
      ledgerPath = if (scratch) "bench_only_ledger.jsonl" else "bench_ledger.jsonl",
      metricsPath = if (scratch) "bench_only_metrics.json" else "bench_metrics.json",
      warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0))
    println(run(spark, cfg))
    spark.stop()
  }

  /** The full bench pipeline against an existing session; returns the
    * summary JSON line (also persisted to `cfg.summaryPath` — the
    * driver's stdout capture has truncated the tail of this line in past
    * rounds, BENCH_r07 showed 56/88 queries, so the artifact never
    * depends on a capture window). */
  def run(spark: SparkSession, cfg: BenchConfig): String = {
    val cpus = cfg.cpus
    val runs = cfg.runs.max(1)
    val budgetSec = cfg.budgetSec
    val sfDir = cfg.sfDir
    val wallStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wallStart) / 1e9

    // testdata-drift tripwire (round 7: a silent regeneration broke six
    // queries) — loud stderr diff, and the drift count rides the JSON line
    val schemaDrift = SchemaGuard.warn(spark, sfDir)

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: one small end-to-end action per table family
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      force(li.groupBy("l_returnflag").agg(count(lit(1))))
      force(spark.read.parquet(s"$sfDir/documents.parquet").limit(100))
      force(spark.read.parquet(s"$sfDir/embeddings.parquet").limit(100))
    } catch { case _: Throwable => () }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // Fixed-cost machine probes — in-memory `range` sources, so the cost
    // is pure compute + scheduling and never parquet/page-cache state.
    def canarySample(): (Double, Double) = {
      import org.apache.spark.sql.functions._
      val par = cpus
      val t0 = System.nanoTime()
      // xxhash64 gives real per-row compute; % 1e6 keeps the 10M-row sum
      // far from Long overflow under ANSI mode
      force(spark.range(0L, 10000000L, 1L, par)
        .select((col("id") % 1024).as("k"),
          (xxhash64(col("id")) % 1000000L).as("v"))
        .groupBy("k").agg(sum("v").as("s"), avg("v").as("a"),
          max("v").as("m")))
      val compute = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      (1 to 8).foreach { _ =>
        force(spark.range(0L, 1000L, 1L, par)
          .select((col("id") % 7).as("k"))
          .groupBy("k").agg(count(lit(1)).as("c")))
      }
      val sched = (System.nanoTime() - t1) / 1e9
      (compute, sched)
    }
    // one throwaway canary absorbs its own codegen compilation
    canarySample()

    // run-major order (all queries, then the next full pass) so repeated
    // runs of one query don't benefit from a still-hot page cache more
    // than the driver's single-pass methodology would
    val only = cfg.only
    val allQueries = SparkEntry.queries ++ cfg.extraQueries
    only.foreach { o =>
      val unknown = o -- allQueries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the query surface: " +
          s"${unknown.toSeq.sorted.mkString(",")} — a typo would silently bench nothing")
    }
    val names = allQueries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    def writeFile(path: String, body: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    // fresh ledger per run; each completed sample appends immediately so
    // ANY truncation point leaves line-parseable evidence
    writeFile(cfg.ledgerPath, "")
    def ledger(line: String): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cfg.ledgerPath), line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Exception => () }

    def r3(x: Double): Double = math.rint(x * 1000) / 1000

    // ---- untimed WARMUP sweeps (round 11). A 124-query surface makes
    // the JVM itself non-stationary for its first ~2 sweeps: every query
    // loads fresh generated classes, each load can invalidate speculative
    // inlining in SHARED hot paths (driver plan stringification, codegen
    // glue, even the fixed-plan canary), and the resulting recompilation
    // storm inflated pass-2 readings up to 11x on a VERIFIED-IDLE machine
    // (r11 ledger: canary compute 0.70/2.02/0.44 across passes;
    // q_audio_g711 1.39 -> 15.41 -> 0.27 s; 62k JIT compilations, 449 s
    // of compile time in a 612 s run) while pass 3 sat at or under every
    // pin. Medians of 3 can't survive two warmup-regime passes, so the
    // timed window now starts AFTER the surface has been swept untimed.
    // Budget-aware: warmup never eats past 35% of the wall budget — under
    // pressure it aborts (said in the ledger) and the timed passes, whose
    // pass 1 always completes, still produce a full-surface artifact.
    var warmupCompleted = 0
    locally {
      var w = 0
      while (w < cfg.warmup && elapsedSec <= budgetSec * 0.35) {
        w += 1
        val t0 = System.nanoTime()
        var aborted = false
        names.foreach { case (_, fn) =>
          if (!aborted && elapsedSec > budgetSec * 0.35) {
            aborted = true
            ledger(s"""{"event":"warmup_stop_budget","pass":$w,"elapsed_sec":${r3(elapsedSec)}}""")
          }
          if (!aborted) try force(fn(spark, sfDir)) catch { case _: Throwable => () }
        }
        if (!aborted) warmupCompleted = w
        ledger(s"""{"event":"warmup_pass","n":$w,"sec":${r3((System.nanoTime() - t0) / 1e9)},"complete":${!aborted}}""")
      }
    }

    val canaries = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    // per-query samples accumulate across passes; pass 2+ may stop early
    // on budget, so sample counts can differ per query (≥1 always)
    val acc = scala.collection.mutable.LinkedHashMap(
      names.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)] }: _*)
    var passesCompleted = 0
    var budgetStopped = false

    // ---- summary assembly, callable after every pass so the artifact
    // on disk is always the full current surface
    val pinsValid = cpus == PinnedCpus
    var metricRowsOut: Seq[(String, BenchMetrics.Snap)] = Nil
    var metricsSkippedBudget = false
    def summaryLine(): String = {
      val results = names.map { case (name, _) =>
        val mine = acc(name)
        val ts = mine.map(_._1).toSeq
        // the jitter spread covers SUCCESSFUL samples only (ADVICE r12):
        // a fast failure is a time-to-failure, not a noise-floor reading
        // — a query with zero successful passes gets a null spread (it
        // is already named in `errors`)
        val okTs = mine.collect { case (t, true) => t }.toSeq
        (name, median(ts), mine.forall(_._2), okTs)
      }
      val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // per-query min/max across the timed passes, beside the median:
      // sub-second queries swing ~2x between same-day evidence sweeps
      // (r11: q_scd2 0.73→1.73), so pins compare on the median while
      // the artifact self-documents its per-query noise floor — a
      // median outside [min, max] of a later run is drift, a median
      // inside the earlier spread is jitter
      val qsMin = results.map { case (k, _, _, okTs) =>
        "\"" + k + "\":" + (if (okTs.isEmpty) "null" else r3(okTs.min).toString)
      }.mkString("{", ",", "}")
      val qsMax = results.map { case (k, _, _, okTs) =>
        "\"" + k + "\":" + (if (okTs.isEmpty) "null" else r3(okTs.max).toString)
      }.mkString("{", ",", "}")
      // failed queries are named explicitly — a time-to-failure must
      // never read as a fast success
      val errs = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val total = results.map(_._2).sum
      val canaryCompute = r3(median(canaries.map(_._1).toSeq))
      val canarySched = r3(median(canaries.map(_._2).toSeq))
      // factors against pins measured at a DIFFERENT parallelism would
      // be systematically wrong in both directions (local[4] idle reads
      // >2× the local[32] compute pin) — emit the sentinel instead
      val contentionFactor = if (pinsValid) r3(canaryCompute / PinnedComputeSec) else -1.0
      val schedFactor = if (pinsValid) r3(canarySched / PinnedSchedSec) else -1.0
      // in-band iff every benched control median ≤ 1.5× its band top;
      // emitted only when the pins apply and a control was benched
      val controls = results.filter { case (n, _, _, _) => ControlBands.contains(n) }
      val controlFields = controls.map { case (n, v, _, _) =>
        s""""control_$n":${r3(v)},"band_$n":${ControlBands(n)}"""
      }.mkString(",")
      // a control that FAILED fast must not read as in-band: its
      // time-to-failure is not a measurement, so ok rides the forall
      // with the band check (ADVICE r10)
      val controlsInBand: Option[Boolean] =
        if (!pinsValid || controls.isEmpty) None
        else Some(controls.forall { case (n, v, ok, _) =>
          ok && v <= ControlBands(n) * ControlHeadroom })
      val evidence: Option[Boolean] = controlsInBand.map { cb =>
        cb && contentionFactor >= 0 && contentionFactor <= 1.5 &&
          schedFactor >= 0 && schedFactor <= 1.5
      }
      def jb(o: Option[Boolean]): String = o.map(_.toString).getOrElse("null")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"queries_max":$qsMax,"errors":$errs,"runs":$runs,"cpus":$cpus,""" +
        s""""passes_completed":$passesCompleted,"warmup_passes":$warmupCompleted,"budget_sec":$budgetSec,"budget_stopped":$budgetStopped,""" +
        s""""canary_compute_sec":$canaryCompute,"canary_sched_sec":$canarySched,""" +
        s""""pinned_compute_sec":$PinnedComputeSec,"pinned_sched_sec":$PinnedSchedSec,"pinned_cpus":$PinnedCpus,""" +
        s""""contention_factor":$contentionFactor,"sched_factor":$schedFactor,""" +
        (if (controlFields.nonEmpty) controlFields + "," else "") +
        s""""controls_in_band":${jb(controlsInBand)},"evidence":${jb(evidence)},""" +
        s""""metrics_skipped_budget":$metricsSkippedBudget,""" +
        s""""schema_drift":${schemaDrift.size},"sf":"$sfDir"""" +
        metricAggFields(metricRowsOut, names.size) + "}"
    }

    // ---- timed passes. Pass 1 always completes (every query needs ≥1
    // sample); later passes check the budget before EACH query and stop
    // mid-pass — under pressure the heavy tail effectively drops to 1
    // run while the artifact stays full-surface.
    val timedBudget = budgetSec * 0.70
    var pass = 0
    while (pass < runs && !(pass > 0 && elapsedSec > timedBudget)) {
      pass += 1
      val (cc, cs) = canarySample()
      canaries += ((cc, cs))
      ledger(s"""{"event":"canary","pass":$pass,"compute_sec":${r3(cc)},"sched_sec":${r3(cs)}}""")
      var stopped = false
      names.foreach { case (name, fn) =>
        if (!stopped && pass > 1 && elapsedSec > timedBudget) {
          stopped = true; budgetStopped = true
          ledger(s"""{"event":"budget_stop","pass":$pass,"elapsed_sec":${r3(elapsedSec)}}""")
        }
        if (!stopped) {
          val t0 = System.nanoTime()
          val ok =
            try { force(fn(spark, sfDir)); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
            }
          val sec = (System.nanoTime() - t0) / 1e9
          acc(name) += ((sec, ok))
          ledger(s"""{"event":"query","pass":$pass,"q":"$name","sec":${r3(sec)},"ok":$ok}""")
        }
      }
      if (!stopped) passesCompleted = pass else passesCompleted = pass - 1
      // keep the on-disk artifact current: a kill in any later pass (or
      // the metrics pass) still finds a full-surface summary here — every
      // query has ≥1 sample from pass 1, so this is always full-surface
      writeFile(cfg.summaryPath, summaryLine() + "\n")
    }
    if (passesCompleted == 0) passesCompleted = 1 // pass 1 always ran to completion
    // a between-pass exit is a budget stop too: samples degraded from
    // `runs` to fewer, and `passes_completed < runs` must always carry
    // its reason (also makes the degradation contract deterministic to
    // pin in a spec — pass 1 over budget guarantees budget_stopped)
    if (pass < runs && !budgetStopped) {
      budgetStopped = true
      ledger(s"""{"event":"budget_stop_between_passes","after_pass":$pass,"elapsed_sec":${r3(elapsedSec)}}""")
    }
    canaries += canarySample()

    // ---- evidence pass (untimed): per-query shuffle/input/spill
    // accounting via task metrics. Runs AFTER the timed passes so the
    // listener-bus drain points can't perturb the timing methodology.
    // SCALING.md's "shuffles carry ids/sketches, not documents" and
    // "no spill at this SF" claims become measured numbers here.
    val metricsOn = cfg.metricsOn
    val metricErrors = scala.collection.mutable.ArrayBuffer.empty[String]
    if (metricsOn && elapsedSec > budgetSec * 0.85) {
      metricsSkippedBudget = true
      ledger(s"""{"event":"metrics_skipped_budget","elapsed_sec":${r3(elapsedSec)}}""")
    }
    val metricRows: Seq[(String, BenchMetrics.Snap)] =
      if (!metricsOn || metricsSkippedBudget) Nil else {
        val ml = BenchMetrics.attach(spark)
        val rows = scala.collection.mutable.ArrayBuffer.empty[(String, BenchMetrics.Snap)]
        val it = names.iterator
        var stopped = false
        while (it.hasNext && !stopped) {
          val (name, fn) = it.next()
          if (elapsedSec > budgetSec) {
            stopped = true; metricsSkippedBudget = true
            ledger(s"""{"event":"metrics_budget_stop","elapsed_sec":${r3(elapsedSec)}}""")
          } else {
            ml.resetPeak()
            val before = ml.snapshot()
            val ok =
              try { force(fn(spark, sfDir)); true }
              catch { case e: Throwable =>
                // same contract as the timed pass: a failure is NAMED, and
                // its truncated metrics never masquerade as a measurement
                System.err.println(s"[bench] metrics pass: $name FAILED: ${e.getMessage}")
                metricErrors += name
                false
              }
            org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
            // drain again after a failure: cancelled tasks can still post
            // TaskEnd events that would smear into the NEXT query's delta
            if (!ok) org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
            if (ok) {
              val snap = ml.snapshot() - before
              rows += ((name, snap))
              ledger(s"""{"event":"metrics","q":"$name",${snap.jsonFields}}""")
              // metrics file stays current per-query for the same
              // truncation-survival reason as the summary
              val body = rows.map { case (n, s) => "\"" + n + "\":{" + s.jsonFields + "}" }
                .mkString("{", ",", "}")
              val mErrs = metricErrors.map("\"" + _ + "\"").mkString("[", ",", "]")
              writeFile(cfg.metricsPath,
                s"""{"sf":"$sfDir","cpus":$cpus,"metrics_errors":$mErrs,"queries":$body}""" + "\n")
            }
          }
        }
        BenchMetrics.detach(spark, ml)
        rows.toSeq
      }
    metricRowsOut = metricRows

    val line = summaryLine()
    writeFile(cfg.summaryPath, line + "\n")
    line
  }
}
