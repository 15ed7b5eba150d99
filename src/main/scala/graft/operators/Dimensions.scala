package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dimension-maintenance operators — the Kettle signature steps the
  * reference's transformation family implies but its KTR never wires
  * (`Insert / Update`, `Dimension lookup/update`): keyed upsert and
  * type-2 slowly-changing-dimension history. Both are expressed as
  * joins + unions over immutable frames (Spark has no in-place MERGE
  * without a table format; the caller rewrites the dimension path —
  * at dimension scale that rewrite is the cheap part of the job).
  *
  * Validation: every operator checks its input invariants eagerly
  * (each check is a real Spark job over the small input — the right
  * rule for a dimension tool, where a silently broken invariant
  * corrupts history forever).
  */
object Dimensions {

  /** Eager duplicate check on `cols`. The count alias uses a reserved
    * prefix — `groupBy(...).count()` would break if a key column were
    * itself named `count` (the filter reference turns ambiguous).
    */
  private def requireUnique(df: DataFrame, cols: Seq[String],
                            what: String): Unit = {
    val dups = df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__cnt")).filter(col("__cnt") > 1)
    require(dups.isEmpty,
      s"$what: " + dups.select(cols.map(col): _*).limit(5)
        .collect().mkString(", "))
  }

  /** Snapshot diff — the CDC-EXTRACT side of this family: compare two
    * keyed snapshots (yesterday's crawl vs today's, the mirror of a
    * source table before/after) and emit the delta that [[upsert]] /
    * [[scd2Apply]] consume. Kettle ships this as `Merge rows (diff)`;
    * at corpus scale it is how a 100 TB recrawl becomes an O(changes)
    * downstream job instead of a full reload.
    *
    * One full-outer join on the keys — with both snapshots bucketed on
    * them, zero exchanges. `identical` rows (the overwhelming bulk of
    * any recrawl) are DROPPED: emitting them would materialize the
    * whole corpus to say "nothing happened".
    *
    * Comparison is null-safe per column (`<=>`): a value appearing or
    * disappearing is a change, two NULLs are not. Rows flagged `new` /
    * `changed` carry the NEW side's values, `deleted` the old side's —
    * exactly the payload the downstream apply needs.
    *
    * @param compareCols columns whose difference makes a row `changed`
    * @return keys ++ compareCols ++ `change` ∈ new|deleted|changed
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    // a duplicated key on either side fans out through the full-outer
    // join and emits phantom change rows — the same eager check as
    // upsert/scd2Apply
    requireUnique(oldDf, keys, "snapshotDiff: duplicate key in old snapshot")
    requireUnique(newDf, keys, "snapshotDiff: duplicate key in new snapshot")
    val o = oldDf.select((keys ++ compareCols).map(col): _*)
      .withColumn("__in_old", lit(1))
      .withColumnsRenamed(compareCols.map(c => c -> s"__old_$c").toMap)
    val n = newDf.select((keys ++ compareCols).map(col): _*)
      .withColumn("__in_new", lit(1))
    val differs = compareCols.map(c => !(col(c) <=> col(s"__old_$c")))
      .reduce(_ || _)
    n.join(o, keys, "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, lit("new"))
          .when(col("__in_new").isNull, lit("deleted"))
          .when(differs, lit("changed"))
          .otherwise(lit("identical")))
      .filter(col("change") =!= "identical")
      .select(keys.map(col) ++
        compareCols.map(c => when(col("change") === "deleted", col(s"__old_$c"))
          .otherwise(col(c)).as(c)) :+ col("change"): _*)
  }

  /** Keyed upsert: `updates` rows win on key collision, `existing`
    * rows pass through otherwise, new keys append. One anti-join (the
    * update keyset broadcasts at dimension scale) + one union — the
    * whole dimension never shuffles on anything but the key.
    * Schemas must agree by name ([[DataFrame.unionByName]] enforces).
    */
  def upsert(existing: DataFrame, updates: DataFrame,
             keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    // duplicate update keys would BOTH survive the union, breaking the
    // keyed-dimension invariant this operator exists to maintain —
    // enforced like scd2Apply's change batch (dedupe the CDC feed first)
    requireUnique(updates, keys, "upsert: multiple update rows for one key")
    val keyset = updates.select(keys.map(col): _*).distinct()
    updates.unionByName(existing.join(keyset, keys, "left_anti"))
  }

  /** Type-2 SCD apply: fold one batch of `changes` (at most one row
    * per key — enforced) into a validity-interval dimension.
    *
    *  - an OPEN dim row (NULL `toCol`) whose tracked attributes differ
    *    from its change closes at the change's `effectiveCol`, and the
    *    change opens a new row;
    *  - an open row whose attributes already match its change is left
    *    untouched (no spurious version);
    *  - a change for an unseen key opens the key's first row;
    *  - CLOSED history rows pass through verbatim.
    *
    * `changes` must carry `keys ++ attrCols ++ effectiveCol`; output
    * has the dimension's (keys ++ attrCols ++ fromCol ++ toCol) shape.
    * Attribute comparison is null-safe (a NULL attr equals NULL).
    *
    * For a batch with SEVERAL changes per key (a replayed CDC day),
    * use [[scd2ApplyOrdered]] — this one rejects such batches because
    * "which version wins" is undefined without an order.
    *
    * Scale shape: one equi-join of the OPEN slice against the change
    * batch (change batches are small next to history — broadcast), a
    * column-level close/open rewrite, and a union with the untouched
    * closed history, which never joins anything.
    */
  def scd2Apply(dim: DataFrame, changes: DataFrame, keys: Seq[String],
                attrCols: Seq[String], fromCol: String, toCol: String,
                effectiveCol: String): DataFrame = {
    require(keys.nonEmpty, "scd2Apply needs at least one key column")
    require(attrCols.nonEmpty, "scd2Apply needs at least one tracked attribute")

    val closed = dim.filter(col(toCol).isNotNull)
    // explicit presence markers on BOTH join sides: testing presence
    // via a data column's NULL-ness would silently delete an open row
    // whose fromCol happens to be NULL (or drop a change whose
    // effective date is NULL) — markers are never NULL except where
    // the full-outer join itself produced the absence
    val open = dim.filter(col(toCol).isNull)
      .withColumn("__has_open", lit(true))

    val ch = changes.select(
      (keys.map(col) ++ attrCols.map(c => col(c).as(s"__new_$c")) :+
        col(effectiveCol).as("__eff")): _*)
      .withColumn("__has_change", lit(true))
    // one change per key per batch, or "which version wins" is undefined
    requireUnique(ch, keys,
      "scd2Apply: multiple changes for one key in a single batch " +
        "(use scd2ApplyOrdered for ordered multi-change batches)")
    // a NULL effective date has no defined close/open point — reject it
    // loudly rather than silently treating the change as a no-op
    require(ch.filter(col("__eff").isNull).isEmpty,
      "scd2Apply: changes with a NULL effective value: " +
        ch.filter(col("__eff").isNull).select(keys.map(col): _*)
          .limit(5).collect().mkString(", "))
    // two OPEN rows for one key is a corrupt dimension — the full-outer
    // join would silently fan the change out into duplicate versions
    requireUnique(open, keys, "scd2Apply: dimension has multiple OPEN rows for one key")

    val joined = open.join(ch, keys, "full_outer")
    val changed = attrCols
      .map(c => !(col(c) <=> col(s"__new_$c")))
      .reduce(_ || _)
    val hasChange = coalesce(col("__has_change"), lit(false))
    val hasOpen = coalesce(col("__has_open"), lit(false))
    val toType = dim.schema(toCol).dataType

    // surviving open/closed versions of pre-existing open rows
    val existingRows = joined.filter(hasOpen)
      .select((keys.map(col) ++ attrCols.map(col) :+ col(fromCol) :+
        when(hasChange && changed, col("__eff").cast(toType))
          .otherwise(lit(null).cast(toType))
          .as(toCol)): _*)
    // freshly opened versions: changed attrs or brand-new keys
    val openedRows = joined.filter(hasChange && (!hasOpen || changed))
      .select((keys.map(col) ++
        attrCols.map(c => col(s"__new_$c").as(c)) :+
        col("__eff").cast(dim.schema(fromCol).dataType).as(fromCol) :+
        lit(null).cast(toType).as(toCol)): _*)

    closed.select((keys ++ attrCols :+ fromCol :+ toCol).map(col): _*)
      .unionByName(existingRows)
      .unionByName(openedRows)
  }

  /** Type-2 SCD apply for a batch with an arbitrary number of changes
    * per key — the Kettle `Dimension lookup/update` stream contract: a
    * replayed CDC day is folded per key in `effectiveCol` order,
    * versioning sequentially, in ONE plan (no per-change loop).
    *
    * Semantics per key: the version stream is the key's OPEN dim row
    * (if any) followed by its changes ordered by (`effectiveCol`,
    * `orderCol`). Consecutive stream entries with null-safely
    * equal tracked attributes collapse (a change that repeats the
    * current version is a no-op); each surviving entry becomes a
    * version valid from its effective value until the next surviving
    * entry's, the last staying open (NULL `toCol`). Two changes with
    * the same effective value produce a zero-width `[eff, eff)` version
    * for the earlier one — the standard intra-batch-correction shape;
    * `orderCol` adjudicates which is earlier, and validation rejects
    * changes tied on all three (key, effective value, order) as
    * ambiguous.
    * CLOSED history passes through verbatim, exactly as [[scd2Apply]].
    *
    * Scale shape: the change stream unions with the open slice and
    * shuffles ONCE on the key; both window passes (collapse via `lag`,
    * interval close via `lead`) reuse that partitioning. Per-key state
    * is a window frame, never a collected buffer, so a key with a
    * million replayed changes streams through sort-based windowing.
    */
  def scd2ApplyOrdered(dim: DataFrame, changes: DataFrame, keys: Seq[String],
                       attrCols: Seq[String], fromCol: String, toCol: String,
                       effectiveCol: String, orderCol: String): DataFrame = {
    require(keys.nonEmpty, "scd2ApplyOrdered needs at least one key column")
    require(attrCols.nonEmpty, "scd2ApplyOrdered needs at least one tracked attribute")

    val closed = dim.filter(col(toCol).isNotNull)
    val open = dim.filter(col(toCol).isNull)

    val ch = changes.select(
      (keys.map(col) ++ attrCols.map(col) :+
        col(effectiveCol).as("__eff") :+ col(orderCol).cast("long").as("__ord")): _*)
      .withColumn("__is_change", lit(1))
    require(ch.filter(col("__eff").isNull).isEmpty,
      "scd2ApplyOrdered: changes with a NULL effective value: " +
        ch.filter(col("__eff").isNull).select(keys.map(col): _*)
          .limit(5).collect().mkString(", "))
    // exact order ties are unresolvable — "which change is current"
    // would depend on partition layout
    requireUnique(ch, keys :+ "__eff" :+ "__ord",
      s"scd2ApplyOrdered: tied changes (same key, effective value, $orderCol)")
    requireUnique(open, keys,
      "scd2ApplyOrdered: dimension has multiple OPEN rows for one key")

    // seed entry 0 = the key's open row; __is_change=0 sorts it before
    // every change regardless of effective values, and __from carries
    // its original validity start (a change's __from is its __eff)
    val seed = open.select(
      (keys.map(col) ++ attrCols.map(col) :+
        col(fromCol).cast(dim.schema(fromCol).dataType).as("__from") :+
        lit(null).cast(changes.schema(effectiveCol).dataType).as("__eff") :+
        lit(0L).as("__ord")): _*)
      .withColumn("__is_change", lit(0))
    val stream = seed.unionByName(
      ch.withColumn("__from",
        col("__eff").cast(dim.schema(fromCol).dataType)))

    val byKey = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__is_change"), col("__eff"), col("__ord"))
    // collapse consecutive no-op entries: a dropped entry's attrs equal
    // its predecessor's, so by induction comparing against the IMMEDIATE
    // predecessor is comparing against the last surviving version
    val attrsStruct = struct(attrCols.map(col): _*)
    val survivors = stream
      .withColumn("__prev_attrs", lag(attrsStruct, 1).over(byKey))
      .withColumn("__has_prev", lag(lit(1), 1).over(byKey))
      .filter(col("__has_prev").isNull ||
        !(attrsStruct <=> col("__prev_attrs")))

    val toType = dim.schema(toCol).dataType
    val byKeySurv = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__is_change"), col("__eff"), col("__ord"))
    val versions = survivors
      .withColumn("__close", lead(col("__eff"), 1).over(byKeySurv))
      .select((keys.map(col) ++ attrCols.map(col) :+
        col("__from").as(fromCol) :+
        col("__close").cast(toType).as(toCol)): _*)

    closed.select((keys ++ attrCols :+ fromCol :+ toCol).map(col): _*)
      .unionByName(versions)
  }

  /** Point-in-time dimension lookup — the READ side of SCD2: each fact
    * row is enriched with the dimension version whose validity interval
    * `[fromCol, toCol)` covers the fact's `tsCol` (half-open, matching
    * what [[scd2Apply]]/[[scd2ApplyOrdered]] write: a change effective
    * on day D closes the old version AT D and opens the new one AT D,
    * so a fact ON day D sees the new version). A NULL or sentinel
    * `toCol` means open-ended. Facts no version covers keep NULL
    * dimension columns (LEFT join) — an out-of-range timestamp is a
    * data question for the caller, not a dropped row.
    *
    * Because versions of one key are disjoint by construction, each
    * fact matches AT MOST one dim row — the plan is a plain equi-join
    * on the keys with the interval test as a residual filter (no
    * window, no dedup, dim side broadcasts at dimension scale). That
    * disjointness is the dimension invariant the write path validates;
    * a corrupt dim with overlapping versions would fan facts out here.
    *
    * `factKeys`/`dimKeys` pair positionally (fact `o_custkey` ⋈ dim
    * `c_custkey`). The dim's key and validity columns are dropped from
    * the output; its attribute columns must not collide with fact
    * column names (rename before the call).
    */
  def asOfLookup(facts: DataFrame, dim: DataFrame,
                 factKeys: Seq[String], dimKeys: Seq[String],
                 tsCol: String, fromCol: String, toCol: String): DataFrame = {
    require(factKeys.nonEmpty && factKeys.length == dimKeys.length,
      s"key lists must pair up: $factKeys vs $dimKeys")
    val cond = factKeys.zip(dimKeys)
      .map { case (f, d) => facts(f) === dim(d) }.reduce(_ && _) &&
      facts(tsCol) >= dim(fromCol) &&
      (dim(toCol).isNull || facts(tsCol) < dim(toCol))
    val joined = facts.join(dim, cond, "left")
      .drop(dim(fromCol)).drop(dim(toCol))
    dimKeys.foldLeft(joined)((df, k) => df.drop(dim(k)))
  }
}
