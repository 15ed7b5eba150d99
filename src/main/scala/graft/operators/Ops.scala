package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Relational operator helpers mirroring the reference's step library
  * (SURVEY.md §2): projection/rename/retype, two-way filter routing,
  * join with Kettle-style `_N` duplicate-name suffixing, sort-based
  * group-bys, window rank, deterministic contiguous sequence ids, union
  * append, keep-first dedup. All are thin, composable
  * `DataFrame => DataFrame` transforms over stock Catalyst operators —
  * the optimizer (pushdown, pruning, join strategy, AQE) does the rest.
  */
object Ops {

  /** Plan-tree search that descends into adaptive query plans. */
  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** SelectValues: keep columns in order, with optional rename + retype.
    * (reference: 24 live `SelectValues` steps, motogp.ktr:5256-6239)
    */
  def selectValues(df: DataFrame, cols: Seq[(String, String, Option[DataType])]): DataFrame =
    df.select(cols.map { case (from, to, t) =>
      val c = col(from)
      t.fold(c)(c.cast).as(to)
    }: _*)

  def renameAll(df: DataFrame, renames: (String, String)*): DataFrame =
    df.withColumnsRenamed(renames.toMap)

  /** FilterRows true/false routing (reference motogp.ktr:2695-3020):
    * a 2-way router, not just a WHERE. Both branches share one scan via
    * Catalyst plan reuse; call-site decides whether to cache.
    */
  def filterRouter(df: DataFrame, cond: Column): (DataFrame, DataFrame) =
    (df.filter(cond), df.filter(!coalesce(cond, lit(false))))

  /** Join that emulates Kettle's duplicate-column `_N` suffix convention
    * (SURVEY.md §1 "name-collision semantics"): columns of the right side
    * that collide with left (and are not join keys) come out as `name_1`.
    * Collision detection is CASE-INSENSITIVE, as in Kettle — the
    * reference relies on this (`Position` vs `position` → `Position_1`,
    * `Year` vs `year` → `Year_1` in the quali join, motogp.ktr:3654).
    */
  def suffixJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 joinType: String = "inner"): DataFrame = {
    val leftLower = left.columns.map(_.toLowerCase).toSet
    val keyLower = keys.map(_.toLowerCase).toSet
    // names already taken, updated as suffixes are allocated — two
    // case-variant collisions (position / Position) must not both land
    // on the same _1 suffix (ambiguous under case-insensitive resolution).
    // Renames are positional (toDF): withColumnRenamed itself resolves
    // case-insensitively and would rename both variants at once.
    val used = scala.collection.mutable.Set.empty[String]
    used ++= leftLower
    used ++= right.columns.map(_.toLowerCase)
    val newNames = right.columns.map { c =>
      if (leftLower.contains(c.toLowerCase) && !keyLower.contains(c.toLowerCase)) {
        var n = 1
        while (used.contains(s"${c}_$n".toLowerCase)) n += 1
        val renamed = s"${c}_$n"
        used += renamed.toLowerCase
        renamed
      } else c
    }
    left.join(right.toDF(newNames.toIndexedSeq: _*), keys, joinType)
  }

  /** GroupBy with no aggregates = DISTINCT on listed keys
    * (reference `Group by 3`, motogp.ktr:3482).
    */
  def distinctRows(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col): _*).distinct()

  /** Sequential rank resetting per group, ties broken by arrival order —
    * the reference's hand-rolled JavaScript ranking (motogp.ktr:4046-4066)
    * over a pre-sorted stream. `row_number` (not `rank`): the JS
    * increments unconditionally on ties.
    */
  def rankInGroup(df: DataFrame, partitionBy: Seq[String],
                  orderBy: Seq[Column], as: String = "rank"): DataFrame =
    df.withColumn(as,
      row_number().over(Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)))

  /** Deterministic contiguous 1-based sequence id (reference `Add
    * sequence` steps, motogp.ktr:1204-1344: single-threaded arrival-order
    * counters). Spark has no arrival order, so the contract here is ids
    * in the order given by `orderBy` — contiguous, deterministic,
    * documented. NOT `monotonically_increasing_id` (non-contiguous).
    *
    * Scale note: a global row_number forces all rows through one window
    * partition. Fine for dimension tables (the only place the reference
    * uses sequences); for fact-scale id assignment use
    * `zipWithIndexOrdered` below.
    */
  def sequenceId(df: DataFrame, orderBy: Seq[Column], as: String): DataFrame =
    df.withColumn(as, row_number().over(Window.orderBy(orderBy: _*)).cast("bigint"))

  /** Contiguous ids at fact scale without a single-partition window:
    * range-partition on the order keys (partition boundaries then align
    * with the global order), collect the per-partition row counts (a
    * #partitions-row aggregate — the only driver materialization), and
    * assign id = prior-partitions' cumulative count + row_number within
    * the partition. Pure DataFrame plan — no RDD round-trip, so
    * whole-stage codegen, columnar scans and AQE survive around it
    * (the previous rdd.zipWithIndex formulation cut the plan in half
    * with an ExistingRDD barrier).
    *
    * The window partitions by the materialized partition id, so each
    * window group is one range partition — #partitions-way parallel,
    * never a single reducer, and row_number over a running frame
    * buffers one row at a time. Cost shape: the counts pass re-executes
    * the range exchange's lineage (same second pass rdd.zipWithIndex
    * ran), plus one hash exchange on the partition id.
    *
    * Contract: the ids are 1..n in `orderBy` order only when both
    * passes put every row in the same partition. Spark's range
    * partitioner seeds its boundary sample with the id of the RDD it
    * samples, which is new on every execution, so two passes over more
    * than one range partition can draw different bounds (ids then
    * repeat or come out NULL). Today that holds where adaptive
    * execution coalesces the range exchange to a single partition
    * (small inputs under the default settings), so every row sits in
    * partition 0 in both passes.
    */
  def zipWithIndexOrdered(df: DataFrame, orderBy: Seq[Column], as: String): DataFrame = {
    val ranged = df.repartitionByRange(orderBy: _*)
      .withColumn("__zwi_pid", spark_partition_id())
    val counts = ranged.groupBy("__zwi_pid").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val nPart = if (counts.isEmpty) 0 else counts.keys.max + 1
    val offsets = (0 until nPart).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offsetOf =
      if (nPart == 0) lit(0L)
      else element_at(
        map_from_arrays(
          array((0 until nPart).map(lit): _*),
          array(offsets.take(nPart).map(lit): _*)),
        col("__zwi_pid"))
    val w = Window.partitionBy(col("__zwi_pid")).orderBy(orderBy: _*)
    ranged
      .withColumn(as, (row_number().over(w).cast("bigint") + offsetOf))
      .drop("__zwi_pid")
  }

  /** Contiguous 1-based id in FILE order — the pure-DataFrame twin of
    * `rdd.zipWithIndex` for source streams (Kettle `Add sequence` on a
    * file read, motogp.ktr:1204-1344). `monotonically_increasing_id()`
    * evaluated directly above the scan is
    * `(partitionId << 33) + row-position-in-partition`, so ordering by
    * it reproduces EXACTLY the order zipWithIndex assigned (partition
    * index, then arrival within the partition) — while the plan stays
    * declarative: no ExistingRDD barrier, so whole-stage codegen,
    * columnar scans and AQE survive across the fact table's id
    * assignment. Determinism contract is zipWithIndex's own: stable for
    * a fixed input file set (partition ids are a pure function of the
    * splits, and lineage re-execution across the range exchange's
    * sampling pass sees the same ids).
    */
  def zipWithIndexFileOrder(df: DataFrame, as: String): DataFrame = {
    val mid = "__zwi_file_mid"
    zipWithIndexOrdered(df.withColumn(mid, monotonically_increasing_id()),
      Seq(col(mid)), as).drop(mid)
  }

  /** Deterministic seeded global shuffle — the epoch-reshuffle primitive
    * of a training pipeline: order the corpus by a seeded cryptographic
    * hash of the id (a different `seed` gives an independent permutation
    * of the SAME corpus, reproducible on any cluster size), assign the
    * contiguous 1-based position along that order, and deal rows
    * round-robin into `shards` equal-size output shards.
    *
    * Scale shape: the hash is a codegen projection; the global order
    * costs one range exchange + in-partition sorts (what any total order
    * costs on a cluster); positions come from [[zipWithIndexOrdered]] —
    * no global window, no RDD barrier, no driver materialization beyond
    * the per-partition count map. Round-robin dealing (pos % shards)
    * gives every shard an interleaved sample of the permutation, so
    * shard sizes differ by at most one row and any prefix of shards is
    * itself an unbiased sample — the property curriculum schedulers and
    * partial-epoch restarts rely on.
    *
    * The id (not the content) is hashed: two epochs of the same corpus
    * permute independently, but re-running one epoch is bit-identical —
    * ties are impossible because `idCol` joins the sort key.
    */
  def trainingOrder(df: DataFrame, idCol: String, seed: String,
                    shards: Int, posCol: String = "pos",
                    shardCol: String = "shard"): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    // refuse to silently overwrite caller data — "pos"/"shard" are
    // plausible user column names, unlike the reserved __ prefix
    for (c <- Seq(posCol, shardCol))
      require(!df.columns.contains(c),
        s"trainingOrder: input already has a '$c' column — pass " +
          "posCol/shardCol to rename the outputs")
    val keyed = df.withColumn("__to_key",
      md5(concat(col(idCol).cast("string"), lit(":"), lit(seed))))
    zipWithIndexOrdered(keyed, Seq(col("__to_key").asc, col(idCol).asc), posCol)
      .withColumn(shardCol, pmod(col(posCol) - 1, lit(shards.toLong)))
      .drop("__to_key")
  }

  /** Skew-resistant equi-join: left rows get a deterministic salt in
    * [0, buckets), the (small-enough-to-replicate) right side is
    * exploded across every salt value, and the join runs on
    * keys :+ salt — a hot key's rows spread over `buckets` reducers
    * instead of one. Use when AQE's skew split isn't available (e.g.
    * pre-AQE clusters) or the skew is in a broadcast-ineligible dim.
    * Result is identical to the plain join (salt is derived, not
    * random — resilient to task retries).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 buckets: Int = 16, joinType: String = "inner"): DataFrame = {
    require(buckets > 0)
    // right/full outer would emit one null-padded (or duplicate) row per
    // salt replica of an unmatched right key — only join types where the
    // replicated side never survives unmatched are equivalent
    require(Set("inner", "cross", "left", "leftouter", "leftsemi", "leftanti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left-side join types, not $joinType")
    // the salt column must not clobber (or ambiguously resolve against) a
    // pre-existing column on either side — resolution is case-insensitive
    val taken = (left.columns ++ right.columns).map(_.toLowerCase).toSet
    var saltCol = "__salt"
    while (taken.contains(saltCol.toLowerCase)) saltCol += "_"
    val salted = left.withColumn(saltCol,
      pmod(xxhash64(struct(left.columns.map(col): _*)), lit(buckets)).cast("int"))
    val exploded = right.withColumn(saltCol,
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(exploded, keys :+ saltCol, joinType).drop(saltCol)
  }

  /** As-of (point-in-time) join — for every left row, the single most
    * recent right row with `right.ts <= left.ts` on the same key(s);
    * left rows with no prior right row get nulls (LEFT semantics).
    * Matches DuckDB's native `ASOF LEFT JOIN` (the oracle for
    * `q_asof_join`), inclusive at equal timestamps.
    *
    * Plan: the union-sentinel construction — tag both sides, ONE
    * shuffle on the keys, one ordered window pass carrying the latest
    * right payload forward (`last(..., ignoreNulls)` over a running
    * frame), filter back to left rows. No range-condition join: a
    * naive `l.ts >= r.ts` theta-join explodes to O(|L|·|R|) pairs per
    * key before picking the max, and Spark plans it as BNLJ.
    *
    * Contract: right rows should be unique per (keys, ts) — equal-ts
    * duplicates make "the" as-of row ill-defined (pre-aggregate them).
    * SQL-equality semantics on nulls, matching the oracle exactly:
    * right rows with a NULL key or NULL ts can never match and are
    * dropped; the matched right row travels as ONE struct, so a
    * matched row whose value column is NULL yields NULL (never an
    * older row's value) and value columns can't mix across rows.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "asofJoin needs at least one right value column")
    val lCols = left.columns.toSeq
    val vType = org.apache.spark.sql.types.StructType(
      valueCols.map(c => right.schema(c)))
    val lSide = left.select(
      keys.map(col) :+ col(tsCol).as("__ts") :+ lit(1).as("__tag")
        :+ struct(lCols.map(col): _*).as("__l")
        :+ lit(null).cast(vType).as("__vrow"): _*)
    val rSide = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(tsCol).isNotNull)
      .select(
        keys.map(col) :+ col(tsCol).as("__ts") :+ lit(0).as("__tag")
          :+ lit(null).cast(lSide.schema("__l").dataType).as("__l")
          :+ struct(valueCols.map(col): _*).as("__vrow"): _*)
    // right rows order BEFORE left rows at equal ts (tag 0 < 1), making
    // the join inclusive: a right row at exactly left.ts is visible.
    // A left row with a NULL ts sorts before every (non-null-ts) right
    // row and so matches nothing — same as SQL's `l.ts >= r.ts`.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .select(col("__tag"), col("__l"),
        last(col("__vrow"), ignoreNulls = true).over(w).as("__cv"))
      .filter(col("__tag") === 1)
      .select(lCols.map(c => col("__l").getField(c).as(c)) ++
        valueCols.map(c => col("__cv").getField(c).as(c)): _*)
  }

  /** Deterministic "take n per group" for dataset balancing: rows are
    * pseudo-randomly ordered by a seeded hash of the whole row and the
    * n hash-smallest per group survive. Runs as ONE bounded aggregation
    * — the per-group buffer never exceeds n rows map-side or final-side
    * (see [[graft.operators.Dedup.collectSmallest]]), so a billion-row
    * hot class costs the same memory as a tiny one; the shuffle carries
    * at most n rows per group per map task. A `row_number` over a
    * random order would shuffle EVERY row to rank it. Deterministic
    * under retries (hash of content, not `rand()`), ties broken by full
    * row comparison.
    */
  def samplePerGroup(df: DataFrame, groupCols: Seq[String], n: Int,
                     seed: Long = 42L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val cols = df.columns.toSeq
    val rowStruct = struct(cols.map(col): _*)
    val packed = df.select(
      struct(xxhash64(rowStruct, lit(seed)).as("__h"), rowStruct.as("__row")).as("__m")
        +: groupCols.map(col): _*)
    packed
      .groupBy(groupCols.map(col): _*)
      .agg(Dedup.collectSmallest(col("__m"), n).as("__sample"))
      .select(explode(col("__sample")).as("__m"))
      .select(cols.map(c => col("__m").getField("__row").getField(c).as(c)): _*)
  }

  /** Content-hash Bernoulli sample: keep a row iff a seeded hash of the
    * whole row falls under `fraction`. Unlike `df.sample`, the draw is a
    * pure function of row CONTENT — stable under repartitioning, task
    * retries, and AQE re-planning (`sample`'s per-partition RNG changes
    * membership whenever partitioning does), and reproducible across
    * runs for lineage/debugging. Duplicate rows are kept or dropped
    * together (same hash) — the sensible semantics for corpus sampling.
    */
  def deterministicSample(df: DataFrame, fraction: Double,
                          seed: Long = 42L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"fraction must be in [0, 1], got $fraction")
    val bound = (fraction * (1L << 32).toDouble).toLong
    df.filter(pmod(xxhash64(struct(df.columns.map(col): _*), lit(seed)),
      lit(1L << 32)) < bound)
  }

  /** Deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis exponential race): each row draws
    * `u ∈ (0, 1)` from a seeded hash of its content and competes with
    * key `-ln(u) / w`; the k smallest keys win, which selects exactly k
    * rows with inclusion odds proportional to `weightCol` — the
    * standard way to draw a quality- or token-weighted corpus subset.
    *
    * Determinism: `u` is a pure function of row content + seed (like
    * [[deterministicSample]]), so membership survives repartitioning,
    * task retries, and AQE re-plans, and reruns are reproducible.
    * `u = (h mod 2^32 + 1) / (2^32 + 1)` never hits 0 or 1, so the log
    * is always finite. Rows with NULL, NaN, or non-positive weight
    * cannot win a race and are excluded (SQL-NULL semantics, documented
    * over erroring: a quality score of 0 legitimately means "never
    * sample"). The NaN exclusion is explicit because Spark orders NaN
    * ABOVE every number — `NaN > 0` is true — so without the guard a
    * 0/0-normalized quality score would survive the filter with a NaN
    * race key that sorts last yet still wins once k exceeds the
    * finite-weight row count.
    *
    * Scale shape: `ORDER BY key LIMIT k` plans as TakeOrderedAndProject
    * — a bounded top-k heap per partition and a k-bounded merge, no
    * global sort, no full-row shuffle (plan-pinned). Driver holds
    * O(k) rows; for k beyond driver comfort, switch to the
    * [[graft.operators.Dedup.collectSmallest]] aggregation the
    * per-group sampler uses.
    *
    * Float caveat (same class as the ANN oracles): the race key divides
    * a natural log by the weight; `ln` may differ by ~1 ulp across
    * engines, so cross-engine selection agreement rests on adjacent
    * keys not being within ~2^-52 relative of each other — OpsSpec
    * measures the realized margin (orders of magnitude above that) and
    * exact content ties break identically everywhere (equal content ⇒
    * equal key ⇒ the full-row tie-break below).
    */
  def sampleWeighted(df: DataFrame, weightCol: String, k: Int,
                     seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cols = df.columns.toSeq
    val h = pmod(xxhash64(struct(cols.map(col): _*), lit(seed)), lit(1L << 32))
    val u = (h.cast("double") + lit(1.0)) / lit((1L << 32).toDouble + 1.0)
    val key = -log(u) / col(weightCol).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0 &&
        !isnan(col(weightCol).cast("double")))
      .orderBy(key.asc, struct(cols.map(col): _*).asc)
      .limit(k)
      .select(cols.map(col): _*)
  }

  /** [[sampleWeighted]]'s bounded-aggregation form: n weighted winners
    * PER GROUP (per-language mixture shaping), or the scale path when
    * the global k is too large for TakeOrdered's driver merge — run it
    * with a constant group column. Same exponential race key, but the
    * selection is ONE partial aggregation whose per-group buffer never
    * exceeds n race entries map-side or final-side
    * ([[graft.operators.Dedup.collectSmallest]]); nothing resembling a
    * global sort or window exists in the plan, and the shuffle carries
    * at most n winners per group per map task. Same determinism and
    * same float caveat as [[sampleWeighted]] (the race keys are
    * identical; OpsSpec's margin measurement covers both).
    */
  def sampleWeightedPerGroup(df: DataFrame, groupCols: Seq[String],
                             weightCol: String, n: Int,
                             seed: Long = 42L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val cols = df.columns.toSeq
    val rowStruct = struct(cols.map(col): _*)
    val h = pmod(xxhash64(rowStruct, lit(seed)), lit(1L << 32))
    val u = (h.cast("double") + lit(1.0)) / lit((1L << 32).toDouble + 1.0)
    val key = -log(u) / col(weightCol).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0 &&
        !isnan(col(weightCol).cast("double")))
      .select(struct(key.as("__k"), rowStruct.as("__row")).as("__m")
        +: groupCols.map(col): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(Dedup.collectSmallest(col("__m"), n).as("__sample"))
      .select(explode(col("__sample")).as("__m"))
      .select(cols.map(c => col("__m").getField("__row").getField(c).as(c)): _*)
  }

  /** Append streams = UNION ALL by name (reference motogp.ktr:1379).
    * `evolved = true` tolerates schema drift: columns present on only
    * one side come through as nulls on the other (the ingestion shape
    * when upstream adds a field mid-corpus).
    */
  def unionAppend(head: DataFrame, tail: DataFrame,
                  evolved: Boolean = false): DataFrame =
    head.unionByName(tail, allowMissingColumns = evolved)

  /** Range (interval) join without the cartesian trap: every left row
    * whose `pointCol` falls in `[loCol, hiCol]` (BETWEEN semantics,
    * inclusive both ends) of a right row. Spark plans a naive
    * `p >= lo AND p <= hi` theta-join as broadcast-nested-loop — every
    * left row probes EVERY range. Here both sides are bucketed into
    * fixed-width bins (points to their one bin, ranges exploded over
    * every bin they touch), so the match runs as a hash equi-join on
    * the bin id + a residual filter; a (point, range) pair meets in
    * exactly one bin (the point's), so no dedup pass is needed.
    *
    * `binWidth` trades replication for selectivity: ranges are
    * replicated `width/binWidth + 1` times, and each bin's candidates
    * are ranges genuinely near the point. Pick it near the typical
    * range width. Extra equality keys (`keys`) ride along in the join.
    * NULL points or bounds never match, exactly like SQL BETWEEN.
    */
  def binnedRangeJoin(points: DataFrame, ranges: DataFrame,
                      pointCol: String, loCol: String, hiCol: String,
                      binWidth: Double, keys: Seq[String] = Nil,
                      joinType: String = "inner"): DataFrame = {
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    require(Set("inner", "leftsemi").contains(joinType.toLowerCase.replace("_", "")),
      s"binnedRangeJoin supports inner/left_semi, not $joinType " +
        "(outer variants would need an unmatched-row pass)")
    val taken = (points.columns ++ ranges.columns).map(_.toLowerCase).toSet
    def fresh(base: String): String = {
      var c = base
      while (taken.contains(c.toLowerCase)) c += "_"
      c
    }
    val bin = fresh("__bin")
    if (joinType.toLowerCase.replace("_", "") == "leftsemi") {
      // A bare left-semi join can't carry the BETWEEN residual (the
      // range columns aren't visible above a semi join), so run the
      // inner binned join, reduce to the distinct matched point ROWS,
      // and null-safe semi-join back on every point column — value
      // duplicates in `points` survive per-row, and no synthetic row id
      // is needed (monotonically_increasing_id would be re-evaluated
      // independently on the two sides of the self-join, which is
      // unsound when the input's partition order isn't deterministic).
      val pb = points.withColumn(bin, floor(col(pointCol) / binWidth).cast("long"))
      val rb = ranges.withColumn(bin,
        explode(sequence(floor(col(loCol) / binWidth).cast("long"),
          floor(col(hiCol) / binWidth).cast("long"))))
      val matched = pb.join(rb, keys :+ bin, "inner")
        .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
        .select(points.columns.map(n => pb(n)): _*)
        .distinct().alias("__m")
      val lhs = points.alias("__pts")
      lhs.join(matched,
        points.columns.map(n => col(s"__pts.`$n`") <=> col(s"__m.`$n`"))
          .reduce(_ && _),
        "leftsemi")
    } else {
      val p = points.withColumn(bin,
        floor(col(pointCol) / binWidth).cast("long"))
      val r = ranges.withColumn(bin,
        explode(sequence(floor(col(loCol) / binWidth).cast("long"),
          floor(col(hiCol) / binWidth).cast("long"))))
      p.join(r, keys :+ bin, joinType)
        .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
        .drop(bin)
    }
  }

  /** Deterministic stratified split assignment (train/val/test): rows
    * are round-robined over the split weights in `orderBy` order WITHIN
    * each stratum, so every stratum gets exact `weight/total`
    * proportions (up to remainder) — the balanced-split shape for
    * building eval sets per language/source. Adds a `split` column.
    *
    * Scale note: exact proportions need a per-stratum total order (one
    * window; a huge stratum funnels through one reducer). At corpus
    * scale prefer [[hashSplit]] — fully parallel, proportions exact
    * only in expectation.
    */
  def stratifiedSplit(df: DataFrame, strataCols: Seq[String],
                      orderBy: Seq[Column], splits: Seq[(String, Int)],
                      as: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"bad weights: $splits")
    val total = splits.map(_._2).sum
    val rn = row_number().over(
      Window.partitionBy(strataCols.map(col): _*).orderBy(orderBy: _*)) - 1
    df.withColumn(as, assignByWeights(pmod(rn, lit(total)), splits))
  }

  /** Maps a slot in [0, sum(weights)) to its split name by cumulative
    * weight — the shared tail of every split-assignment operator. */
  private def assignByWeights(slot: Column,
                              splits: Seq[(String, Int)]): Column =
    splits.foldLeft((lit(null).cast("string"), 0)) {
      case ((acc, offset), (name, w)) =>
        (when(slot >= offset && slot < offset + w, lit(name)).otherwise(acc),
          offset + w)
    }._1

  /** Content-hash split: like [[deterministicSample]] but partitioning
    * the whole corpus into named splits — no shuffle, no window, stable
    * under retries/repartitioning; proportions hold in expectation.
    */
  /** Deterministic per-group token-budget sampling — the mixture-shaping
    * step that takes documents per domain/language until each group's
    * token budget is met (e.g. "30B tokens web, 5B code"). Rows are
    * taken in `orderBy` order within each group; a row is kept iff the
    * running token total INCLUDING it stays within the group's budget,
    * so the output never exceeds a budget (it may undershoot by less
    * than one document). `budgets` carries `groupCols` + a
    * `token_budget` column and is broadcast (mixture specs are tiny);
    * groups absent from `budgets` are dropped — a budget join, not an
    * outer passthrough.
    *
    * Scale note: the running total needs a per-group total order (one
    * window), so a single huge group funnels through one reducer's
    * sort. For budget >> document size, prefer the two-phase shape:
    * [[deterministicSample]] at fraction ≈ budget/total(group) to get
    * within a few percent without any window, then this operator on the
    * (much smaller) sample to land exactly.
    */
  def sampleToTokenBudget(df: DataFrame, groupCols: Seq[String],
                          tokenCol: String, budgets: DataFrame,
                          orderBy: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "sampleToTokenBudget needs group columns")
    require(budgets.columns.contains("token_budget"),
      s"budgets must carry token_budget, has ${budgets.columns.mkString(",")}")
    // df carrying its own token_budget would make the post-join column
    // ambiguous (analysis error at best, silently-wrong budget at worst)
    require(!df.columns.map(_.toLowerCase).contains("token_budget"),
      "df already has a token_budget column — rename it before budgeting")
    val taken = df.columns.map(_.toLowerCase).toSet
    var cum = "__cum"
    while (taken.contains(cum.toLowerCase)) cum += "_"
    // only the join key + budget from the spec table: any extra columns
    // on budgets must not silently leak into the output
    val spec = budgets.select((groupCols :+ "token_budget").map(col): _*)
    df.join(broadcast(spec), groupCols)
      // ROWS frame, not the default RANGE one: orderBy ties must not
      // share one peer-inclusive total (two tied 600-token docs under a
      // 1000 budget would BOTH see cum = 1200 and both drop). With a
      // non-unique orderBy the winner among ties is still plan-order-
      // dependent — pass a unique key (append the doc id) for exact
      // reproducibility.
      .withColumn(cum, sum(col(tokenCol)).over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(orderBy: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col(cum) <= col("token_budget"))
      .drop(cum, "token_budget")
  }

  /** Mixture reweighting — the step that turns "the corpus is 48% web,
    * 3% code" into per-source sampling rates hitting a TARGET mixture
    * (e.g. equal shares, or "30% code"): for each group,
    * `rate = min(1, target_share * total / group_units)`, where units
    * is any additive weight column (docs, chars, tokens). Downsampling
    * only — a group below its target keeps rate 1.0 (upsampling is a
    * repetition-count decision the caller makes explicitly). Feed the
    * rates into [[deterministicSample]] per group to apply them
    * retry-stably. One aggregate + one broadcast of the (tiny) per-group
    * stats row set — no second pass over the data to compute rates.
    *
    * @param targets group value (of the single `groupCol`) -> target
    *                share; groups absent from the map get rate 1.0
    *                (pass-through). Shares needn't sum to 1 — they are
    *                interpreted against the whole corpus' unit total.
    */
  def mixtureWeights(df: DataFrame, groupCol: String, unitCol: Column,
                     targets: Map[String, Double]): DataFrame = {
    require(targets.values.forall(s => s >= 0.0 && s <= 1.0),
      s"target shares must be in [0, 1]: $targets")
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), sum(unitCol).cast("double").as("units"))
    val total = stats.agg(sum(col("units")).as("__total"))
    val share = targets.foldLeft(lit(null).cast("double")) {
      case (acc, (g, s)) => when(col(groupCol) === g, lit(s)).otherwise(acc)
    }
    stats.crossJoin(broadcast(total))
      .withColumn("share", round(col("units") / col("__total"), 6))
      .withColumn("rate",
        when(share.isNull, lit(1.0)).otherwise(
          round(least(lit(1.0), share * col("__total") / col("units")), 6)))
      .drop("__total")
  }

  def hashSplit(df: DataFrame, splits: Seq[(String, Int)],
                seed: Long = 42L, as: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"bad weights: $splits")
    val total = splits.map(_._2).sum
    val slot = pmod(xxhash64(struct(df.columns.map(col): _*), lit(seed)), lit(total))
    df.withColumn(as, assignByWeights(slot, splits))
  }

  /** Leakage-safe split: near-dup CLUSTERS land in one split as a unit,
    * so no held-out document has a near-duplicate in train — the
    * train/test contamination that per-document splitting silently
    * produces (a benchmark answer's paraphrase in the training set).
    *
    * `clusters` is a (id, cluster) frame as produced by
    * [[graft.operators.Dedup.dupClusters]]; documents absent from it
    * (the non-duplicated bulk of any corpus) form singleton units keyed
    * by their own id. The split unit is `coalesce(cluster, id)`, and
    * assignment hashes the UNIT — `md5(unit ":" seed)` first 8 hex
    * digits mod total weight — so every member of a cluster computes
    * the identical slot with no second shuffle, and the whole
    * assignment is a pure function of (data, seed): stable under
    * repartitioning, retries, and incremental re-runs (md5, not
    * xxhash64, so an ANSI oracle can recompute the full mapping).
    *
    * Plan shape at 100 TB: ONE left equi-join corpus⋈clusters on the id
    * (the cluster map covers only documents that appear in a near-dup
    * pair — typically a small fraction, broadcast when it fits) plus
    * per-row hash arithmetic. No window, no global order.
    */
  def clusterSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                       seed: String, splits: Seq[(String, Int)],
                       as: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"bad weights: $splits")
    require(df.columns.contains(idCol), s"no $idCol column on df")
    val total = splits.map(_._2).sum
    val cl = clusters.select(col("id").as("__css_id"),
      col("cluster").as("__css_cluster"))
    val unit = coalesce(col("__css_cluster"), col(idCol))
    // first 8 md5 hex digits -> [0, 2^32): unbiased enough for split
    // weights and exactly reproducible outside the JVM
    val slot = pmod(
      conv(substring(md5(concat(unit.cast("string"), lit(":"), lit(seed))),
        1, 8), 16, 10).cast("bigint"),
      lit(total.toLong))
    df.join(cl, df(idCol) === col("__css_id"), "left")
      .withColumn(as, assignByWeights(slot, splits))
      .drop("__css_id", "__css_cluster")
  }

  /** Deterministic repetition by a (possibly fractional) rate — the
    * UPSAMPLING half of mixture shaping, the decision [[mixtureWeights]]
    * deliberately leaves to the caller: a row with rate 2.3 appears
    * twice always, three times iff its seeded md5 fraction falls under
    * 0.3. Every copy is numbered (`copy_no`, 1-based) so downstream
    * epoch shuffling can interleave repeats instead of emitting them
    * adjacent. rate <= 0 drops the row (a rate table can therefore also
    * filter); rate < 1 behaves as a deterministic Bernoulli sample —
    * [[deterministicSample]]'s per-row form.
    *
    * The draw hashes `idCol` + seed (md5, like [[clusterSafeSplit]]):
    * reproducible across runs/partitionings, recomputable by an ANSI
    * oracle, and independent draws per row. The explode multiplies rows
    * map-side — no shuffle; at 100 TB the output is written straight to
    * shards or fed to [[trainingOrder]].
    */
  /** Deterministic negative sampling for contrastive training: k
    * pseudo-random negative ids per anchor, drawn uniformly from the
    * OTHER members of a contiguous [0, n) id domain — the (anchor,
    * negative) pair generator contrastive/embedding training feeds on.
    *
    * Each draw is `h mod (n−1)` bumped past the anchor (the classic
    * skip trick: uniform over the n−1 non-anchor ids, never the anchor
    * itself); `h` is a 60-bit md5 slice (15 hex chars, the
    * fingerprint-family width — r14, ADVICE r13: an 8-hex/32-bit slice
    * is only uniform for n up to ~2³², too narrow for a 100 TB id
    * domain), so draws are a pure function of (id, tag,
    * rank) — stable under repartitioning, retries, and re-runs, and
    * exactly replayable by the ANSI oracle. Draws are independent
    * across ranks (sampling WITH replacement: two ranks of one anchor
    * may collide — at corpus n the collision odds are k²/n, and
    * contrastive losses tolerate repeats; dedup in the caller if not).
    *
    * Pure projection + explode: no shuffle, no state — at 100 TB the
    * pairs stream straight into the training-shard writer. Callers
    * whose ids are not [0, n) map them first (a zipWithIndex-style
    * dense rank); `n` is a parameter rather than a discovered count so
    * the operator stays shuffle-free.
    */
  def negativeSample(df: DataFrame, idCol: String, k: Int, n: Long,
                     tag: String = "neg"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(n >= 2, s"need at least 2 ids to have a non-anchor, got $n")
    val id = col(idCol)
    val j = explode(sequence(lit(0), lit(k - 1)))
    val withJ = df.select(id.as("anchor_id"), j.as("neg_rank"))
    val h = conv(substring(md5(concat(col("anchor_id").cast("string"),
      lit(s":$tag:"), col("neg_rank").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val draw = pmod(h, lit(n - 1))
    withJ.withColumn("neg_id",
      draw + when(draw >= col("anchor_id"), 1L).otherwise(0L))
  }

  def repeatByRate(df: DataFrame, idCol: String, rate: Column,
                   seed: String, copyCol: String = "copy_no"): DataFrame = {
    require(df.columns.contains(idCol), s"no $idCol column on df")
    require(!df.columns.contains(copyCol),
      s"repeatByRate: input already has a '$copyCol' column — pass copyCol")
    // first 8 md5 hex digits / 2^32: uniform fraction in [0, 1)
    val frac = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":"), lit(seed))), 1, 8), 16, 10).cast("double") / 4294967296.0
    val copies = (floor(rate) + when(frac < rate - floor(rate), 1)
      .otherwise(0)).cast("int")
    // bare sequence(1, 0) would count DOWN to [1, 0] — guard to an empty
    // array so copies <= 0 (and a NULL rate) drops the row via explode
    df.withColumn(copyCol, explode(when(copies >= 1,
      sequence(lit(1), copies)).otherwise(array().cast("array<int>"))))
  }

  /** One-pass column profiling — the ANALYZE step run on every new
    * corpus drop before anything else touches it: per column, null
    * count, distinct count, and min/max, computed in ONE aggregation
    * over the data (all aggregates fuse into a single scan with
    * map-side partials; the unpivot to one-row-per-column happens on
    * the single aggregated row, not the data).
    *
    * Numeric columns report `min_num`/`max_num` (rounded to 6 places);
    * everything else reports `min_str`/`max_str` via string cast — keep
    * timestamps out (cast to date first): their string form is
    * engine-dependent, dates and integers are not.
    *
    * `exactDistinct = true` uses exact per-column distinct counts —
    * Spark plans multiple distinct aggregates with an Expand that
    * replicates every row once per profiled column, fine at audit scale
    * and for the oracle. At 100 TB pass `false`:
    * `approx_count_distinct` (HLL, ~2% rsd) keeps the plan a plain
    * single-pass aggregate with no Expand.
    */
  def profileColumns(df: DataFrame, cols: Seq[String],
                     exactDistinct: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(", ")}")
    import org.apache.spark.sql.types.NumericType
    val aggs = count(lit(1)).as("__n") +: cols.zipWithIndex.flatMap {
      case (c, i) => Seq(
        count(col(c)).as(s"__p${i}_cnt"),
        (if (exactDistinct) count_distinct(col(c))
         else approx_count_distinct(col(c))).as(s"__p${i}_nd"),
        min(col(c)).as(s"__p${i}_min"),
        max(col(c)).as(s"__p${i}_max"))
    }
    val rows = cols.zipWithIndex.map { case (c, i) =>
      val isNum = df.schema(c).dataType.isInstanceOf[NumericType]
      def num(side: String) =
        if (isNum) round(col(s"__p${i}_$side").cast("double"), 6)
        else lit(null).cast("double")
      def str(side: String) =
        if (isNum) lit(null).cast("string")
        else col(s"__p${i}_$side").cast("string")
      struct(lit(c).as("col_name"),
        (col("__n") - col(s"__p${i}_cnt")).cast("bigint").as("n_nulls"),
        col(s"__p${i}_nd").cast("bigint").as("n_distinct"),
        num("min").as("min_num"), num("max").as("max_num"),
        str("min").as("min_str"), str("max").as("max_str"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Keep-first dedup by key with an explicit deterministic order
    * (reference `Unique rows` motogp.ktr:8722 keeps the first row of a
    * sorted stream; `dropDuplicates` alone is nondeterministic, so the
    * port requires the caller to name the tie-break order).
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Recall gate for APPROXIMATE operators (LSH/IVF/minhash/simhash):
    * measures what fraction of `truth`'s key-tuples appear in `out` and
    * returns `out` (plus a constant `recall` column) when the measured
    * recall clears `floor` — and ZERO ROWS otherwise. This turns a
    * "returned something" check into a load-bearing one: if the hash
    * family silently degrades, the output vanishes instead of quietly
    * shrinking. Empty truth is a vacuous pass (recall 1.0).
    *
    * Plan shape: the recall is ONE scalar — a left join of the
    * (typically small, post-threshold) truth set against `out`'s keys,
    * aggregated to a single row, broadcast back over `out`. No
    * all-pairs work happens here; the caller chooses how `truth` is
    * produced (exact-at-validation-scale reference, exhaustive banding,
    * or a SAMPLED subset at 100 TB — recall on a deterministic sample
    * gates just as hard at a fraction of the cost).
    *
    * Cost note: `out`'s plan appears twice in the gated query (keys for
    * the recall scalar, full rows for the output). AQE's exchange reuse
    * often collapses the duplicate at runtime, but when the approximate
    * operator's compute dominates, persist or checkpoint `out` before
    * gating rather than relying on it.
    */
  def recallGate(out: DataFrame, truth: DataFrame, keys: Seq[String],
                 floor: Double): DataFrame = {
    require(keys.nonEmpty, "recallGate needs at least one key column")
    require(floor >= 0.0 && floor <= 1.0, s"floor must be in [0, 1], got $floor")
    val hits = truth.select(keys.map(col): _*)
      .join(out.select(keys.map(col): _*).dropDuplicates(keys)
          .withColumn("__hit", lit(1L)),
        keys, "left")
    // gate on the UNROUNDED ratio — rounding first would let a floor of
    // 1.0 pass with one truth pair missing out of >2.3M (0.99999967
    // rounds to 1.0), defeating the exactness contract; the reported
    // column is rounded for stable display/hashing only.
    // empty truth: sum -> NULL, count -> 0 -> NULL ratio -> vacuous 1.0
    val recall = hits.agg(coalesce(
      sum(coalesce(col("__hit"), lit(0L))).cast("double") /
        count(lit(1L)).cast("double"),
      lit(1.0)).as("__recall_raw"))
    out.crossJoin(broadcast(recall))
      .filter(col("__recall_raw") >= floor)
      .withColumn("recall", round(col("__recall_raw"), 6))
      .drop("__recall_raw")
  }

  /** Scale-adaptive compute fan-out (optimization guide §2.5 "input
    * skew" / §1.2 "the distributed algorithm"): when a stage's cost is
    * CPU per row — blob decode, quadratic pair verification, shingle
    * hashing — an under-split source starves every core. This corpus's
    * tables are single-row-group parquet files, so every scan is ONE
    * task at every SF and a per-row-expensive projection runs serially
    * on a 32-core machine; the same happens in production whenever one
    * unsplittable file (gzip, a single huge row group) feeds an
    * expensive kernel.
    *
    * The fix is the guide's own: "repartition immediately after the
    * read" — but ONLY when the source is actually under-split. The
    * exchange, when it fires, is hash-partitioned on the caller's key
    * (deterministic under retries — guide §2.5 warns off rand-derived
    * keys; a unique id hash spreads evenly) and carries whatever the
    * caller projected — callers fan out the NARROW pre-kernel
    * projection (ids, text), never decoded payloads, so the
    * blobs-never-shuffle contract of the media operators is preserved
    * by construction.
    *
    * `keys` empty falls back to round-robin (pays Spark's
    * sort-before-repartition of the input rows — prefer a key).
    */
  def fanOutForCompute(df: DataFrame, keys: Column*): DataFrame =
    fanOutForCompute(df, 1L, keys: _*)

  /** Size-derived partition count (r18, guide §2 "make partitioning
    * scale-adaptive — derive from input size, not a constant tuned for
    * either local mode or the cluster"): one partition per
    * `bytesPerPartition` of the frame's LEAF-relation size estimate
    * (real file bytes after column pruning — never a join-cardinality
    * guess), clamped to [1, spark.sql.shuffle.partitions]. Iterative
    * operators size their loop-state partitioning through this, so a
    * benched-SF input stops paying full task waves over near-empty
    * partitions while any real corpus saturates the configured
    * parallelism (where the clamp is a no-op). Planning only — no job
    * runs.
    */
  def sizedPartitions(df: DataFrame, bytesPerPartition: Long): Int = {
    require(bytesPerPartition >= 1, s"bad bytesPerPartition $bytesPerPartition")
    val cap = BigInt(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val sized = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum / bytesPerPartition + 1
    sized.min(cap).max(BigInt(1)).toInt
  }

  /** Cost-aware fan-out (r18, VERDICT r17 #1): the r17 gate fanned any
    * under-split source out to `defaultParallelism`, which regressed
    * cheap-kernel queries 2× at the benched SF — the exchange plus 32
    * near-empty tasks cost more than the kernel they parallelized
    * (driver-verified: q_dedup_simhash 0.69→1.34 s). The target task
    * count is now sized to the work: the optimizer's size estimate of
    * THIS frame (`optimizedPlan.stats.sizeInBytes` — column-pruned, no
    * job) divided by `maxTaskBytes`, the caller's declaration of how
    * many pre-kernel bytes keep one task busy, clamped to
    * [1, defaultParallelism]. A tiny input therefore gets FEW OR ZERO
    * extra tasks while a 100 TB one still reaches every core — and at
    * real scan parallelism (splits >= target) the plan is UNCHANGED,
    * exactly as before. Callers calibrate `maxTaskBytes` to the
    * kernel: per-byte-cheap text sketches declare ~1 MB, per-row
    * multi-frame blob decodes a few KB (the frame is an id projection,
    * so its bytes are small relative to the decode they fan out).
    * `maxTaskBytes = 1` reproduces the maximal fan-out.
    *
    * ADVICE r17: probing partition count via `df.rdd` finalizes AQE
    * and eagerly RUNS any upstream shuffle or broadcast stages as
    * discarded jobs. Fan-out is only meant for bare scan+project
    * frames, so a plan that contains any exchange is returned
    * unchanged — its parallelism is shuffle-partition-governed, not
    * scan-governed — and the `.rdd` probe below only ever sees
    * exchange-free plans, where it plans without running anything.
    * The gate reads the prepared plan: join and aggregate exchanges
    * exist only after `EnsureRequirements` (the planner's `sparkPlan`
    * has just explicit repartitions), and the adaptive wrapper is
    * looked through.
    */
  def fanOutForCompute(df: DataFrame, maxTaskBytes: Long,
                       keys: Column*): DataFrame = {
    require(maxTaskBytes >= 1, s"maxTaskBytes must be >= 1, got $maxTaskBytes")
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val qe = df.queryExecution
    val hasExchange = PlanWalk.find(qe.executedPlan)(_.isInstanceOf[Exchange]).isDefined
    if (hasExchange) df
    else {
      val estBytes = qe.optimizedPlan.stats.sizeInBytes
      val target = (estBytes / maxTaskBytes)
        .min(BigInt(cores)).max(BigInt(1)).toInt
      if (target <= 1 || df.rdd.getNumPartitions >= target) df
      else if (keys.nonEmpty) df.repartition(target, keys: _*)
      else df.repartition(target)
    }
  }

  /** Self-verifying predicate for sketch queries: the approximate value
    * sits within `relTol` of its exact twin. Rows that drift vanish, so
    * a query emitting the EXACT column filtered by this gate is both
    * hash-checkable against an exact oracle AND a live assertion on the
    * sketch — the same evidence pattern as [[recallGate]], per-row.
    * NULL exact/approx fails the gate (no silent pass on missing data).
    */
  def withinTolerance(approx: Column, exact: Column,
                      relTol: Double): Column = {
    require(relTol >= 0.0, s"relTol must be >= 0, got $relTol")
    abs(approx.cast("double") - exact.cast("double")) <=
      abs(exact.cast("double")) * lit(relTol)
  }

  /** Point estimate from a `count_min_sketch(...)` binary column for a
    * string item — pairs with Spark's own sketch aggregate to form the
    * CMS side of the sketch-calibration family. CMS only over-counts:
    * `exact <= estimate <= exact + eps*N` at the sketch's confidence,
    * which is exactly the two-sided gate the calibration query asserts.
    */
  def cmsEstimate(sketch: Column, item: Column): Column =
    org.apache.spark.sql.Kernels.cmsEstimate(sketch, item)

  /** Modulus for [[integrityChecksum]]: 2^61 − 1 (Mersenne prime) — big
    * enough that collisions across runs are ~2^-61 per row pair, small
    * enough that the reduced checksum is a plain BIGINT everywhere. */
  val ChecksumModulus: Long = 2305843009213693951L

  /** Order-independent corpus content checksum — the migration /
    * replication validation aggregate. Each row folds to a 60-bit
    * fingerprint (15 hex digits of md5 over a null-safe, delimiter-safe
    * encoding of `cols`); the per-group checksum is the SUM of
    * fingerprints mod 2^61−1. Sum is commutative and associative, so
    * the checksum is independent of row order, partitioning, task
    * retries, AQE re-plans — and of which ENGINE computed it: a copy of
    * a 100 TB corpus (cluster A → cluster B, parquet → ORC, Spark →
    * anything with md5) verifies by comparing one tiny frame from each
    * side, no sort, no join, no co-location. The fingerprint sum is
    * carried as DECIMAL(38,0) (exact in Spark and, as HUGEINT, in
    * DuckDB) and reduced to BIGINT only after the mod.
    *
    * Null-safety: `NULL` encodes as a 0x01 byte (not 0x00 — DuckDB
    * refuses to build strings containing NUL) where a value encodes
    * as `'v' + cast(value as string)`, and fields join on the 0x1f unit
    * separator — so (NULL, "a") ≠ ("", "a") and ("a","b") ≠ ("ab").
    * Cast-to-string is the cross-engine contract: keep `cols` to
    * string/integral/date columns (float formatting differs between
    * engines; hash a rounded/cast form instead).
    *
    * Scale shape: one narrow md5 pass + one partial-aggregated shuffle
    * of (group, decimal) rows — nothing else moves.
    */
  def integrityChecksum(df: DataFrame, groupCols: Seq[String],
                        cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "integrityChecksum needs at least one content column")
    val encoded = cols.map { c =>
      when(col(c).isNull, lit("\u0001"))
        .otherwise(concat(lit("v"), col(c).cast("string")))
    }
    val rowStr = concat_ws("\u001f", encoded: _*)
    val fp = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("decimal(38,0)")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(fp), lit(ChecksumModulus).cast("decimal(38,0)"))
          .cast("long").as("checksum"))
  }
}
