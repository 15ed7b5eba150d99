package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the bench's budget-degradation contract (round 10's flagship,
  * previously demonstrated only by one contended driver run): an
  * exhausted wall budget must DEGRADE the run — pass 1 complete,
  * later passes dropped, metrics skipped, everything said out loud in
  * the artifact — never truncate it. Driven through [[Bench.run]] with
  * an explicit config; no env vars, no subprocess, deterministic by
  * construction (a sub-millisecond budget is over before pass 1 ends,
  * so the between-pass stop is guaranteed, and pass 1 still completes
  * because the contract says it always does).
  */
class BenchBudgetSpec extends SparkSpec {
  private val mapper = new ObjectMapper()
  private val surface = Set("q_agg", "q_filter", "q_select_rename_cast")

  private def cfg(dir: String, budget: Double) = Bench.BenchConfig(
    sfDir = "/root/testdata/sf0.001",
    cpus = 4, runs = 3, budgetSec = budget, only = Some(surface),
    metricsOn = true,
    summaryPath = s"$dir/summary.json",
    ledgerPath = s"$dir/ledger.jsonl",
    metricsPath = s"$dir/metrics.json")

  private def ledgerEvents(dir: String): Seq[String] =
    Files.readAllLines(Paths.get(s"$dir/ledger.jsonl")).asScala.toSeq
      .filter(_.nonEmpty).map(l => mapper.readTree(l).get("event").asText())

  test("exhausted budget degrades to a full-surface 1-pass artifact") {
    val dir = Files.createTempDirectory("graft_benchbudget").toString
    val line = Bench.run(spark, cfg(dir, budget = 0.001))
    val root = mapper.readTree(line) // the whole line parses
    // pass 1 always completes: every query sampled exactly once, ok
    assert(root.get("passes_completed").asInt() === 1)
    assert(root.get("queries").properties().asScala.map(_.getKey).toSet === surface)
    root.get("queries").properties().asScala.foreach { e =>
      assert(e.getValue.asDouble() > 0.0, s"${e.getKey} has no real sample")
    }
    assert(root.get("errors").size() === 0)
    // one pass ⇒ the jitter spread collapses onto the single sample
    surface.foreach { q =>
      assert(root.get("queries_min").get(q).asDouble() ===
        root.get("queries_max").get(q).asDouble())
    }
    // the curtailment is SAID, both ways it can happen
    assert(root.get("budget_stopped").asBoolean(), "between-pass budget exit must set budget_stopped")
    assert(root.get("metrics_skipped_budget").asBoolean())
    // an exhausted budget also means no warmup sweep completed — the
    // artifact must not claim a steady-state window it never had
    assert(root.get("warmup_passes").asInt() === 0)
    // skipped metrics ⇒ no aggregate totals that could masquerade as a
    // full-surface measurement
    assert(root.get("shuffle_write_mb_total") == null)
    assert(root.get("metrics_queries_covered") == null)
    // the persisted summary equals the returned line, and the ledger is
    // line-parseable with the stop events on record
    assert(Files.readString(Paths.get(s"$dir/summary.json")).trim === line)
    val events = ledgerEvents(dir)
    assert(events.count(_ == "query") === surface.size)
    assert(events.contains("budget_stop_between_passes"))
    assert(events.contains("metrics_skipped_budget"))
    // an aborted warmup never narrows the timed surface
    assert(!events.contains("surface_narrowed_budget"))
  }

  test("planted mid-run failure (r14): errors name the query, the jitter " +
    "spread covers SUCCESSFUL samples only, a zero-success query nulls out") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_benchfail").toString
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    // fails on its SECOND timed invocation only (warmup=0 below, so the
    // call sequence is exactly pass1 ok, pass2 FAIL, pass3 ok)
    val flaky: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = (s, _) =>
      if (calls.incrementAndGet() == 2)
        s.range(1).select(raise_error(lit("planted pass-2 failure")).as("x"))
      else s.range(1000).select((col("id") % 7).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
    // fails on EVERY invocation: the zero-success shape
    val dead: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = (s, _) =>
      s.range(1).select(raise_error(lit("planted always-fail")).as("x"))
    val c = cfg(dir, budget = 3600.0).copy(
      only = Some(surface ++ Set("q_flaky_planted", "q_dead_planted")),
      warmup = 0, metricsOn = false,
      extraQueries = Map("q_flaky_planted" -> flaky, "q_dead_planted" -> dead))
    val line = Bench.run(spark, c)
    val root = mapper.readTree(line)
    assert(root.get("passes_completed").asInt() === 3)
    // a time-to-failure must never read as a fast success
    val errs = root.get("errors").asScala.map(_.asText()).toSet
    assert(errs === Set("q_flaky_planted", "q_dead_planted"))
    // recompute the expected spread from the ledger's per-sample truth:
    // min/max must equal the extremes of the OK samples alone
    val samples = Files.readAllLines(Paths.get(s"$dir/ledger.jsonl")).asScala
      .filter(_.nonEmpty).map(mapper.readTree(_))
      .filter(n => n.get("event").asText() == "query" &&
        n.get("q").asText() == "q_flaky_planted")
    assert(samples.size === 3)
    assert(samples.map(_.get("ok").asBoolean()).toSeq === Seq(true, false, true))
    val okSecs = samples.filter(_.get("ok").asBoolean()).map(_.get("sec").asDouble())
    assert(root.get("queries_min").get("q_flaky_planted").asDouble() === okSecs.min)
    assert(root.get("queries_max").get("q_flaky_planted").asDouble() === okSecs.max)
    // zero successful passes: spread is null (the query is already in
    // errors), never a min/max synthesized from failure times
    assert(root.get("queries_min").get("q_dead_planted").isNull)
    assert(root.get("queries_max").get("q_dead_planted").isNull)
    assert(!ledgerEvents(dir).contains("surface_narrowed_budget"))
    // untouched queries keep a full non-null spread
    surface.foreach { q =>
      assert(!root.get("queries_min").get(q).isNull)
      assert(root.get("queries_min").get(q).asDouble() > 0.0)
    }
  }

  test("ample budget completes all passes and reports full metrics coverage") {
    val dir = Files.createTempDirectory("graft_benchbudget").toString
    val line = Bench.run(spark, cfg(dir, budget = 3600.0))
    val root = mapper.readTree(line)
    assert(root.get("passes_completed").asInt() === 3)
    // the default single warmup sweep ran to completion under an ample
    // budget, so the timed window measured the steady state
    assert(root.get("warmup_passes").asInt() === 1)
    assert(!root.get("budget_stopped").asBoolean())
    assert(!root.get("metrics_skipped_budget").asBoolean())
    assert(!ledgerEvents(dir).contains("surface_narrowed_budget"))
    // full coverage is structurally visible (ADVICE r10): covered==total
    assert(root.get("metrics_queries_covered").asInt() === surface.size)
    assert(root.get("metrics_queries_total").asInt() === surface.size)
    // cpus=4 ≠ pinned 32 → factors are sentinels and evidence is null,
    // never a false contention verdict
    assert(root.get("contention_factor").asDouble() === -1.0)
    assert(root.get("evidence").isNull)
    // per-query jitter fields (r12): min/max across the 3 passes bracket
    // the median, on the full surface — the artifact self-documents its
    // noise floor so pins compare median-to-median against a spread
    for (f <- Seq("queries_min", "queries_max"))
      assert(root.get(f).properties().asScala.map(_.getKey).toSet === surface)
    surface.foreach { q =>
      val mn = root.get("queries_min").get(q).asDouble()
      val mx = root.get("queries_max").get(q).asDouble()
      val med = root.get("queries").get(q).asDouble()
      assert(mn > 0.0 && mn <= mx, s"$q spread [$mn, $mx] inverted")
      // r3 rounding on the extremes: tolerate half-a-milli on the edges
      assert(med >= mn - 0.0005 && med <= mx + 0.0005,
        s"$q median $med outside [$mn, $mx]")
    }
    val mRoot = mapper.readTree(Files.readString(Paths.get(s"$dir/metrics.json")))
    assert(mRoot.get("queries").properties().asScala.map(_.getKey).toSet === surface)
  }
}
