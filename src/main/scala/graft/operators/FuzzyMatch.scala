package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Kernels}
import org.apache.spark.sql.functions._

/** Similarity best-match join — the reference's `FuzzyMatch` step
  * (motogp.ktr:3022-3152): for every main-stream row, find the single
  * closest lookup row by Jaro-Winkler similarity (case-insensitive,
  * unfiltered best match, ties resolved to the first lookup row in load
  * order) and append chosen lookup columns plus the match value + score.
  *
  * Spark plan: broadcast the (small, dimension-sized) lookup side,
  * cross-join, score with the codegen'd
  * `jaro_winkler` kernel, then pick
  * the winner per main row with a `max_by` AGGREGATION keyed on
  * `struct(score, -lookupOrder)` — max score wins, ties fall to the
  * lowest load order, exactly Kettle's first-wins rule. The aggregation
  * (not a `row_number` window) is the load-bearing choice at scale:
  * partial (map-side) aggregation collapses each task's |lookup|
  * candidates down to ONE row per main row before any exchange, so the
  * shuffle moves |main| rows — a window formulation would exchange the
  * whole |main| × |lookup| cross product to rank it (for the reference's
  * FM2 join against 313 races, a 313× amplification of the stream).
  *
  * The cross-join is BroadcastNestedLoopJoin — embarrassingly parallel
  * over the main side, so it scales linearly with main-side partitions;
  * the lookup side must be broadcast-sized (dimension tables), which
  * matches every use in the reference (68 circuits, 313 races). The
  * contract is ENFORCED, not advisory: a plan-time row-count guard
  * ([[maxLookupRows]]) refuses an oversized lookup with a named error
  * before the broadcast build can OOM an executor.
  *
  * "Load order" is DECLARED, not observed: Kettle reads its lookup from
  * a file, so "first row wins" has a physical meaning there — but a
  * Spark DataFrame's row order shifts under repartitioning, AQE
  * replanning and task retry, so an observed order
  * (`monotonically_increasing_id` on whatever partitions arrive) is not
  * a stable tie-break. Callers pass `lookupOrder` (e.g. the dimension's
  * id — the file order every reference lookup was written in) or get a
  * deterministic default sort on (lookupField, appendCols). The sort is
  * totalized either way — every projected column trails the caller's
  * order as a tie-break — so even a non-total `lookupOrder` cannot make
  * the winner depend on upstream partitioning. The winner is a pure
  * function of the DATA, invariant to physical layout.
  *
  * Appended lookup columns whose names collide with main columns are
  * dropped from the output — mirroring the reference, where such
  * collisions become `_N` debris that the downstream SelectValues never
  * keep.
  */
object FuzzyMatch {

  /** Hard cap on lookup rows — ENFORCES the "broadcast-sized by
    * contract" scaladoc. Without it, an oversized lookup fed to
    * `coalesce(1)` + `broadcast()` surfaces as an executor OOM with no
    * name on it; with it, the job dies at plan time with an error that
    * says what to fix. Tunable per-deployment via the
    * `graft.fuzzy.maxLookupRows` system property or the
    * `GRAFT_FUZZY_MAX_LOOKUP_ROWS` environment variable. The default
    * (1M rows) is already far beyond sense for this operator: the
    * cross product scores |main| x |lookup| Jaro-Winkler pairs, so a
    * lookup that big is a design error, not a tuning problem (the
    * reference's lookups are 68 and 313 rows).
    */
  def maxLookupRows: Long =
    sys.props.get("graft.fuzzy.maxLookupRows")
      .orElse(sys.env.get("GRAFT_FUZZY_MAX_LOOKUP_ROWS"))
      .map(_.toLong).getOrElse(1000000L)

  private def prepared(lookup: DataFrame, lookupField: String,
                       appendCols: Seq[String],
                       lookupOrder: Seq[Column]): DataFrame = {
    // one bounded job at plan time — the price of making the contract
    // enforceable (the guard must trip BEFORE the broadcast build can
    // OOM an executor). limit(cap + 1) means the guard reads at most
    // cap + 1 rows even in the very case it protects against — an
    // unbounded count() would fully compute the oversized lookup it is
    // about to refuse (ADVICE r12). In the normal case the lookup
    // lineage still computes twice (guard + broadcast): dimension-sized
    // by contract, so the second pass is cheap.
    val cap = maxLookupRows
    val capProbe = (math.min(cap, Int.MaxValue - 2L) + 1).toInt
    val n = lookup.limit(capProbe).count()
    require(n <= cap,
      s"FuzzyMatch lookup side has more than $cap rows (guard stopped " +
        s"counting at $n), over the broadcast contract's " +
        s"cap of $cap. This operator broadcasts the lookup and scores " +
        s"|main| x |lookup| pairs, so it is for dimension-sized lookups " +
        s"only; raise graft.fuzzy.maxLookupRows / GRAFT_FUZZY_MAX_LOOKUP_ROWS " +
        s"if the deployment really has the memory for it.")
    val cols = (lookupField +: appendCols).distinct
    // The caller's lookupOrder is totalized by appending every projected
    // column as a trailing tie-break: a no-op when lookupOrder is already
    // total (the documented contract), and when it is NOT — two lookup
    // rows tied on every order column — the winner is still a pure
    // function of the data instead of of whatever row order the upstream
    // partitioning happened to deliver. Rows identical in the order AND
    // all projected columns are interchangeable, so any residual tie is
    // unobservable in the output.
    val order = lookupOrder ++ cols.map(col)
    // single partition (broadcast-sized by contract) + explicit sort:
    // __lk_order is then 0..n-1 in DECLARED order — deterministic under
    // any upstream partitioning and across task retries; also avoids a
    // partitionless-window warning a row_number formulation would emit.
    // Sort BEFORE projecting so lookupOrder may name columns that are
    // neither matched on nor appended (a pure load-order column); the
    // single-partition projection preserves the sorted order.
    lookup
      .coalesce(1)
      .sortWithinPartitions(order: _*)
      .select(cols.map(col): _*)
      .withColumn("__lk_order", monotonically_increasing_id())
      .select(col(lookupField).as("__lk_key") +: col("__lk_order") +:
        appendCols.distinct.map(c => col(c).as(s"__lk_$c")): _*)
  }

  /** Score the broadcast cross product, then collapse to one winner per
    * `keyCol` group with max_by. The payload struct carries every output
    * column through the aggregation; `keyCol` itself need not be in it.
    * Tie-break ordering: (score asc-for-max, negated load order) — the
    * struct comparison is field-by-field, so the max is (highest score,
    * lowest load order). A null score (null main field) sorts below every
    * real score, matching the previous window's DESC-nulls-last order.
    */
  private def bestByKey(withKey: DataFrame, keyCol: String, mainField: String,
                        mainCols: Seq[String],
                        lookup: DataFrame, lookupField: String,
                        appendCols: Seq[String],
                        matchCol: String, scoreCol: String,
                        lookupOrder: Seq[Column]): DataFrame = {
    val keep = appendCols.distinct.filterNot(mainCols.contains)
    val scored = withKey
      .crossJoin(broadcast(prepared(lookup, lookupField, appendCols, lookupOrder)))
      .withColumn("__sim", Kernels.jaroWinkler(lower(col(mainField)), lower(col("__lk_key"))))
    val payload = struct(
      mainCols.map(col) ++
        keep.map(c => col(s"__lk_$c")) ++
        Seq(col("__lk_key"), col("__sim")): _*)
    val best = scored
      .groupBy(col(keyCol))
      .agg(max_by(payload,
        struct(col("__sim").as("s"), (lit(0L) - col("__lk_order")).as("neg_order")))
        .as("__best"))
    best.select(mainCols.map(c => col("__best").getField(c).as(c)) ++
      keep.map(c => col("__best").getField(s"__lk_$c").as(c)) ++
      Seq(col("__best").getField("__lk_key").as(matchCol),
        col("__best").getField("__sim").as(scoreCol)): _*)
  }

  /** @param main       large stream
    * @param mainField  column of `main` to match on
    * @param lookup     broadcast-sized lookup table
    * @param lookupField column of `lookup` to match against
    * @param appendCols lookup columns to carry onto matched rows
    * @param matchCol   output name for the matched lookup value
    *                   (reference calls it `corrispondenza`)
    * @param scoreCol   output name for the similarity score
    * @param lookupOrder Kettle "load order" for tie-breaks, as an
    *                   explicit sort; empty = deterministic default
    *                   (lookupField, appendCols)
    *
    * Main-row identity is the row CONTENT, not a synthetic id: duplicate
    * rows are collapsed to (distinct row, multiplicity) before scoring
    * and re-expanded after the argmax, so a task retry or AQE replan can
    * never re-key rows mid-job (a `monotonically_increasing_id` here
    * could assign different ids on re-execution, splitting or merging
    * argmax groups). The content groupBy shuffles |main| rows — the same
    * volume the argmax aggregation already exchanges — and scoring then
    * touches only DISTINCT rows, which on dirty real-world streams
    * (repeated header lines, replayed events) shrinks the cross product.
    *
    * Re-expansion is CHUNKED (nested explodes over `expandChunk`-sized
    * blocks): a single `sequence(1, mult)` would materialize one
    * in-memory array of `mult` elements per distinct row — a ~1.6 GB
    * allocation for a row replayed 200M times, on exactly the
    * high-duplication streams this path exists for.
    *
    * Rows containing non-orderable columns (maps) cannot be content-
    * grouped; they fall back to the synthetic-id formulation, whose
    * only weakness is duplicate-row identity under a mid-job retry.
    */
  def bestMatch(main: DataFrame, mainField: String,
                lookup: DataFrame, lookupField: String,
                appendCols: Seq[String],
                matchCol: String = "match_value",
                scoreCol: String = "match_score",
                lookupOrder: Seq[Column]): DataFrame = {
    val cols = main.columns.toSeq
    val groupable = !main.schema.exists(f => hasMap(f.dataType))
    if (!groupable) {
      val withId = main.withColumn("__main_row", monotonically_increasing_id())
      return bestByKey(withId, "__main_row", mainField, cols,
        lookup, lookupField, appendCols, matchCol, scoreCol, lookupOrder)
    }
    val grouped = main.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__mult"))
      .withColumn("__main_key", struct(cols.map(col): _*))
    val best = bestByKey(grouped, "__main_key", mainField, cols :+ "__mult",
      lookup, lookupField, appendCols, matchCol, scoreCol, lookupOrder)
    // one output row per input OCCURRENCE (Kettle emits per input row):
    // outer explode walks whole chunks, inner explode fills each chunk —
    // peak allocation is one expandChunk-long array, independent of mult
    val chunk = lit(expandChunk.toLong)
    best
      .withColumn("__chunk_i", explode(sequence(lit(0L),
        floor((col("__mult") - 1) / chunk).cast("long"))))
      .withColumn("__rep", explode(sequence(lit(1L),
        least(chunk, col("__mult") - col("__chunk_i") * chunk))))
      .drop("__chunk_i", "__rep", "__mult")
  }

  private val expandChunk = 4096

  private def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.exists(f => hasMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Thresholded fuzzy join — the documented NON-BROADCAST path
    * (round 12, the scale twin of [[bestMatch]]'s argmax): every
    * (main, lookup) pair with Jaro-Winkler >= `tau`, case-insensitive,
    * with neither side required to fit in memory.
    *
    * An unfiltered argmax cannot prune (a poor match still wins when
    * nothing beats it), but a THRESHOLD can, with two provable bounds
    * on the Jaro core (derivations at
    * [[graft.functions.JaroWinkler.lengthBand]]/`signature`): a
    * qualifying pair's length ratio is >= r = 3·jmin − 2 and its
    * char-bag overlap >= (3·jmin − 1)·L₁L₂/(L₁+L₂), where
    * jmin = (tau − 0.4)/0.6. Candidates are therefore generated by an
    * EQUI-join on (integer length band, occurrence-tagged
    * sorted-prefix signature char) — the PPJoin prefix-filter scheme —
    * then deduped and verified with the exact codegen JW. Both bounds
    * only bite above tau = 0.8, which is the enforced contract (below
    * it JW admits arbitrarily dissimilar lengths and no sound blocking
    * key exists — use [[bestMatch]] or raise tau).
    *
    * Scale shape: candidate generation, scoring and the pair dedup run
    * over DISTINCT lowered values, never rows — real corpora are
    * exact-dup heavy (sf0.1 part: 64 names across 20k rows, so a
    * row-level join would re-score every surviving pair ~10⁵×; the
    * same lesson [[bestMatch]]'s content-grouping learned), and ids
    * re-expand by two hash joins on the lowered value at the end.
    * Shuffles carry (band, sig-char, value) and qualifying value
    * pairs — short match fields by construction; a corpus with long
    * fields would hash the value for the re-expansion key. Hot
    * (band, char) keys are the skew story of any prefix filter — AQE
    * skew-join splits them (enabled session-wide), and the signature
    * tags occurrences so a run of one char fans out across distinct
    * keys instead of one.
    */
  /** Distinct candidate VALUE pairs (`__ft_mf`, `__ft_lf`) generated by
    * the (band, signature) equi-join, BEFORE exact verification —
    * [[thresholdJoin]] scores and filters exactly these. Exposed
    * package-private so FuzzyMatchSpec can count candidates against the
    * brute-force |distinct main| × |distinct lookup| without
    * re-implementing the construction it checks.
    */
  private[graft] def thresholdCandidates(main: DataFrame, mainField: String,
                                         lookup: DataFrame, lookupField: String,
                                         tau: Double): DataFrame = {
    // the output filter compares the 6-decimal ROUNDED score (oracle
    // parity), which admits jw >= tau − 0.5e-6 — the pruning bounds
    // are derived from that effective threshold inside
    // [[signatureFrames]] or a pair rounding up across tau could be
    // pruned away yet demanded by the oracle
    val (m, l) = signatureFrames(main, mainField, lookup, lookupField, tau)
    m.join(l, Seq("__ft_band", "__ft_sig"))
      .select(col("__ft_mf"), col("__ft_lf"))
      .distinct()
  }

  /** Pre-flight REGIME PROBE for [[thresholdJoin]] (round 14, the
    * boilerplate finding): the EXACT deduped candidate count of the
    * (band, signature) prefix filter vs the distinct-value brute
    * force. Returns (candidates, bruteForcePairs, share).
    *
    * A share ≥ ~1 diagnoses the templated-boilerplate regime
    * (SCALING.md r13: one length band, near-identical char bags —
    * candidates ≈ 100% of brute force BY CONSTRUCTION, because the
    * pairs genuinely qualify and the cost is the OUTPUT); diverse
    * corpora read the 16–67% shares of the measured tau ladder.
    *
    * Cost honesty: the probe runs candidate GENERATION (the hash join
    * + pair dedup — cheap rows) to predict whether VERIFICATION (the
    * O(len²) exact Jaro-Winkler per pair — the expensive half, and on
    * boilerplate also the quadratic OUTPUT re-expansion) is about to
    * degenerate. On a degenerate corpus the probe itself materializes
    * ~brute-force count rows once; that is the price of a certain
    * answer, and still orders below verifying + emitting them. */
  def prefixFilterDegeneracy(main: DataFrame, mainField: String,
                             lookup: DataFrame, lookupField: String,
                             tau: Double): (Long, Long, Double) = {
    val cands =
      thresholdCandidates(main, mainField, lookup, lookupField, tau).count()
    val mD = main.filter(col(mainField).isNotNull)
      .select(lower(col(mainField))).distinct().count()
    val lD = lookup.filter(col(lookupField).isNotNull)
      .select(lower(col(lookupField))).distinct().count()
    // mD * lD overflows Long at ~3e9 × 3e9 distinct values (plausible at
    // 100 TB), which would flip share negative and silently pass the regime
    // guard on exactly the inputs it exists to refuse (ADVICE r14).
    // Saturate to Long.MaxValue instead: share then underestimates toward 0
    // only in the sense of a gigantic denominator, and a genuinely
    // quadratic candidate count still trips the guard via cands itself.
    val brute =
      try Math.multiplyExact(mD, lD)
      catch { case _: ArithmeticException => Long.MaxValue }
    (cands, brute, if (brute == 0L) 0.0 else cands.toDouble / brute)
  }

  /** [[thresholdJoin]] behind the regime guard: runs
    * [[prefixFilterDegeneracy]] first and REFUSES — a named error,
    * never a silent quadratic grind — when the projected candidate
    * share exceeds `maxShare`. The refusal message carries the
    * numbers and the way out (the cost is the output: raise tau,
    * pre-dedup the template, or accept the quadratic output and call
    * thresholdJoin directly). */
  def thresholdJoinChecked(main: DataFrame, mainId: String, mainField: String,
                           lookup: DataFrame, lookupId: String,
                           lookupField: String, tau: Double,
                           maxShare: Double = 0.9,
                           matchCol: String = "match_value",
                           scoreCol: String = "match_score"): DataFrame = {
    val (proj, brute, share) =
      prefixFilterDegeneracy(main, mainField, lookup, lookupField, tau)
    require(share <= maxShare,
      f"thresholdJoin regime guard: projected candidates $proj%d are " +
        f"$share%.2f of the $brute%d distinct-value brute force " +
        f"(> maxShare=$maxShare%.2f) — templated/boilerplate values " +
        "defeat the prefix filter BY CONSTRUCTION (the pairs genuinely " +
        "qualify; the cost is the output). Raise tau, pre-deduplicate " +
        "the template, or call thresholdJoin directly to accept the " +
        "quadratic output.")
    thresholdJoin(main, mainId, mainField, lookup, lookupId, lookupField,
      tau, matchCol, scoreCol)
  }

  /** The two signature frames of [[thresholdCandidates]] — shared with
    * [[prefixFilterDegeneracy]] so the guard measures EXACTLY the
    * join keys the candidate generation uses. */
  private def signatureFrames(main: DataFrame, mainField: String,
                              lookup: DataFrame, lookupField: String,
                              tau: Double): (DataFrame, DataFrame) = {
    require(tau >= 0.801 && tau <= 1.0,
      s"thresholdJoin prunes with length-ratio and char-overlap bounds " +
        s"that are vacuous at tau <= 0.8 (ratio bound 3*((tau-0.4)/0.6)-2 " +
        s"<= 0); got tau = $tau. Use bestMatch (broadcast argmax) or a " +
        s"higher threshold.")
    val tauEff = tau - 5e-7
    val jmin = (tauEff - 0.4) / 0.6
    val r = 3 * jmin - 2
    val frac = (3 * jmin - 1) * r / (1 + r)
    val m = main
      .filter(col(mainField).isNotNull)
      .select(lower(col(mainField)).as("__ft_mf")).distinct()
      .withColumn("__ft_band", Kernels.fuzzyLengthBand(col("__ft_mf"), r))
      .select(col("__ft_mf"), col("__ft_band"),
        explode(Kernels.fuzzySignature(col("__ft_mf"), frac)).as("__ft_sig"))
    val l = lookup
      .filter(col(lookupField).isNotNull)
      .select(lower(col(lookupField)).as("__ft_lf")).distinct()
      .withColumn("__ft_b0", Kernels.fuzzyLengthBand(col("__ft_lf"), r))
      // a qualifying pair's bands differ by at most 1: the lookup side
      // fans into its three neighbor bands, each pair meets on exactly
      // one shift (plus possibly several shared signature chars — the
      // value-pair distinct below collapses those)
      .select(col("__ft_lf"),
        explode(array(col("__ft_b0") - 1, col("__ft_b0"), col("__ft_b0") + 1))
          .as("__ft_band"))
      .select(col("__ft_lf"), col("__ft_band"),
        explode(Kernels.fuzzySignature(col("__ft_lf"), frac)).as("__ft_sig"))
    (m, l)
  }

  def thresholdJoin(main: DataFrame, mainId: String, mainField: String,
                    lookup: DataFrame, lookupId: String, lookupField: String,
                    tau: Double,
                    matchCol: String = "match_value",
                    scoreCol: String = "match_score"): DataFrame = {
    // verify exact JW on distinct VALUE pairs; the rounded score is the
    // one compared (oracle parity)
    val scoredVals = thresholdCandidates(main, mainField, lookup, lookupField, tau)
      .withColumn(scoreCol,
        round(Kernels.jaroWinkler(col("__ft_mf"), col("__ft_lf")), 6))
      .filter(col(scoreCol) >= tau)
    // re-expand to rows: every (main row, lookup row) whose lowered
    // values form a qualifying pair, carrying the lookup row's ORIGINAL
    // value (scoring lowercases, mirroring bestMatch/Kettle)
    scoredVals
      .join(main.select(col(mainId).as("__ft_mid"),
        lower(col(mainField)).as("__ft_mf")), Seq("__ft_mf"))
      .join(lookup.select(col(lookupId).as("__ft_lid"),
        col(lookupField).as("__ft_orig"),
        lower(col(lookupField)).as("__ft_lf")), Seq("__ft_lf"))
      .select(col("__ft_mid").as(mainId), col("__ft_lid").as(lookupId),
        col("__ft_orig").as(matchCol), col(scoreCol))
  }

  /** Variant keyed by an explicit unique id on the main side — the
    * zero-extra-shuffle path when main rows already carry one.
    */
  def bestMatchById(main: DataFrame, mainId: String, mainField: String,
                    lookup: DataFrame, lookupField: String,
                    appendCols: Seq[String],
                    matchCol: String = "match_value",
                    scoreCol: String = "match_score",
                    lookupOrder: Seq[Column]): DataFrame =
    bestByKey(main, mainId, mainField, main.columns.toSeq,
      lookup, lookupField, appendCols, matchCol, scoreCol, lookupOrder)
}
