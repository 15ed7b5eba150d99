package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Kernels}
import org.apache.spark.sql.functions._

/** Robots Exclusion Protocol (RFC 9309) evaluation at corpus scale —
  * the politeness gate between URL discovery and fetch, and the
  * retroactive honor-robots filter over an already-crawled corpus.
  *
  * Scale shape: robots.txt is a PER-HOST dimension (one small text per
  * host) while the URL side is the corpus. [[filter]] therefore:
  *
  *  1. parses the robots side into rule rows (codegen
  *     the `robots_parse` kernel), selects the agent's rule
  *     group per host (the named group when one exists, else the `*`
  *     group — RFC 9309 §2.2.1), and packs each host's rules into ONE
  *     array row — a dimension-only aggregation;
  *  2. broadcast-joins that one-row-per-host table to the URLs and
  *     decides each URL in a PURE PROJECTION: match the rules with the
  *     codegen glob (the `robots_match` kernel), pick the
  *     most specific match (longest pattern; allow wins ties — the
  *     published Google semantics) with one `array_max` over structs.
  *
  * The corpus never shuffles: the plan is scan → broadcast hash join →
  * projection, so the gate runs at scan speed on 100 TB of URLs. Hosts
  * with no robots row, or no matching rule, default to ALLOWED (the
  * protocol's default-permit).
  */
object Robots {

  /** Parsed rule rows: (host, agent, allow, pattern) — one per rule
    * per agent token, RFC 9309 grouping. */
  def rules(robots: DataFrame, hostCol: String, textCol: String): DataFrame = {
    val parsed = Kernels.robotsParse(coalesce(col(textCol), lit("")))
    robots.select(col(hostCol).as("host"), explode(parsed).as("r"))
      .select(col("host"), col("r.agent").as("agent"),
        col("r.allow").as("allow"), col("r.pattern").as("pattern"))
  }

  private def robotsMatch(path: Column, pattern: Column): Column =
    Kernels.robotsMatch(path, pattern)

  /** URLs + `allowed` (+ `robots_rule`, the winning pattern or NULL)
    * for `agent`, honoring each host's robots.txt. `urls` keeps all
    * its columns; `robots(robotsHost, robotsText)` is the per-host
    * dimension (broadcast by contract — one row per host).
    */
  def filter(urls: DataFrame, hostCol: String, pathCol: String,
             robots: DataFrame, robotsHost: String, robotsText: String,
             agent: String): DataFrame = {
    val agentL = agent.toLowerCase(java.util.Locale.ROOT)
    val ruleRows = rules(robots, robotsHost, robotsText)
    // agent's group per host: the named group when present, else '*'
    val hostFlag = ruleRows.groupBy(col("host"))
      .agg(max(when(col("agent") === agentL, 1).otherwise(0)).as("has_named"))
    val selected = ruleRows.join(hostFlag, "host")
      .where(col("agent") === agentL ||
        (col("agent") === "*" && col("has_named") === 0))
    // one array row per host; rules carry (plen, allow, pattern) so the
    // most-specific-match pick is one array_max (longest pattern, allow
    // on ties, pattern text as the deterministic final tie-break)
    val ruleArr = selected.groupBy(col("host"))
      .agg(collect_list(struct(
        length(col("pattern")).as("plen"),
        col("allow").as("allow"),
        col("pattern").as("pattern"))).as("__robots_rules"))
      .withColumnRenamed("host", "__robots_host")
    val joined = urls.join(broadcast(ruleArr),
      urls(hostCol) === col("__robots_host"), "left")
    val matched = org.apache.spark.sql.functions.filter(col("__robots_rules"),
      (r: Column) => robotsMatch(col(pathCol), r.getField("pattern")))
    val best = array_max(matched)
    joined
      .withColumn("allowed", coalesce(best.getField("allow"), lit(true)))
      .withColumn("robots_rule", best.getField("pattern"))
      .drop("__robots_host", "__robots_rules")
  }

  /** Per-host Crawl-delay for `agent`: the named group's delay when one
    * exists, else the `*` group's, first directive in file order wins
    * within a group — one (host, delay) row per host that declares
    * one. Dimension-sized, like [[rules]]. */
  def crawlDelays(robots: DataFrame, hostCol: String, textCol: String,
                  agent: String): DataFrame = {
    val agentL = agent.toLowerCase(java.util.Locale.ROOT)
    val parsed = Kernels.robotsCrawlDelays(coalesce(col(textCol), lit("")))
    robots.select(col(hostCol).as("host"),
        posexplode(parsed).as(Seq("__i", "d")))
      .select(col("host"), col("d.agent").as("agent"),
        col("d.delay").as("delay"), col("__i"))
      .where(col("agent") === agentL || col("agent") === "*")
      .groupBy(col("host"))
      // named group beats '*'; within a priority, the FIRST directive
      // in file order wins (min_by on (priority, position))
      .agg(min_by(col("delay"), struct(
        when(col("agent") === agentL, 0).otherwise(1).as("p"),
        col("__i").as("i"))).as("crawl_delay"))
  }

  /** POLITENESS SCHEDULE for a fetch frontier (round 14): every URL
    * gets its host's fetch slot — `fetch_rank` (0-based position in
    * the host's deterministic queue, ordered by the URL text) and
    * `fetch_offset_sec` = rank × the host's Crawl-delay (named-agent
    * group, else `*`, else `defaultDelaySec`). `within_budget` marks
    * the first `maxPerHost` slots — crawl budgeting stays VISIBLE
    * (rows are never silently dropped; the fetcher filters).
    *
    * Scale shape: the per-host dimension (delays) broadcasts; the one
    * exchange is the window's hash partitioning on host — exactly the
    * partitioning a polite fetcher needs anyway (all of a host's
    * fetches serialize through one worker BY DESIGN; a host so large
    * its queue dwarfs a partition is a politeness problem, not a skew
    * problem — its schedule span makes that visible). */
  def fetchSchedule(urls: DataFrame, urlCol: String, hostCol: String,
                    robots: DataFrame, robotsHost: String, robotsText: String,
                    agent: String, defaultDelaySec: Double = 1.0,
                    maxPerHost: Long = Long.MaxValue): DataFrame = {
    require(defaultDelaySec >= 0.0, s"negative default delay: $defaultDelaySec")
    val delays = crawlDelays(robots, robotsHost, robotsText, agent)
      .withColumnRenamed("host", "__rb_host")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hostCol)).orderBy(col(urlCol))
    urls
      .join(broadcast(delays), urls(hostCol) === col("__rb_host"), "left")
      .drop("__rb_host")
      .withColumn("crawl_delay",
        coalesce(col("crawl_delay"), lit(defaultDelaySec)))
      .withColumn("fetch_rank", (row_number().over(w) - 1).cast("bigint"))
      .withColumn("fetch_offset_sec", col("fetch_rank") * col("crawl_delay"))
      .withColumn("within_budget", col("fetch_rank") < maxPerHost)
  }
}
