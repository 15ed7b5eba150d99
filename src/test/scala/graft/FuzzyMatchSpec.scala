package graft

import graft.operators.FuzzyMatch
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

class FuzzyMatchSpec extends SparkSpec {
  import spark.implicits._

  test("bestMatch finds the closest lookup row, case-insensitive") {
    val main = Seq((1L, "jerez de la frontera"), (2L, "MUGELLO CIRCUIT"))
      .toDF("id", "name")
    val lookup = Seq((10L, "Circuito de Jerez"), (20L, "Mugello"), (30L, "Assen"))
      .toDF("cid", "cname")
    val byId = FuzzyMatch.bestMatchById(main, "id", "name",
        lookup, "cname", Seq("cid"), lookupOrder = Nil)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    assert(byId == Map(1L -> 10L, 2L -> 20L))
  }

  test("unfiltered best-match: even a poor match is returned (minimal=0)") {
    val main = Seq((1L, "zzzzz")).toDF("id", "name")
    val lookup = Seq((10L, "alpha"), (20L, "beta")).toDF("cid", "cname")
    val out = FuzzyMatch.bestMatchById(main, "id", "name", lookup, "cname", Seq("cid"),
        lookupOrder = Nil)
    assert(out.count() == 1) // always exactly one match per main row
  }

  test("ties resolve to the first lookup row in load order") {
    val main = Seq((1L, "ab")).toDF("id", "name")
    // two equally-distant candidates; first in load order must win
    val lookup = Seq((10L, "ax"), (20L, "xb")).toDF("cid", "cname")
    val out = FuzzyMatch.bestMatchById(main, "id", "name", lookup, "cname", Seq("cid"),
        lookupOrder = Nil)
      .select("cid").as[Long].collect()
    assert(out.toSeq == Seq(10L))
  }

  test("duplicate main rows each emit their own match (Kettle 1:1 contract)") {
    val main = Seq("MUGELLO", "MUGELLO", "ASSEN").toDF("name")
    val lookup = Seq((1L, "Mugello"), (2L, "Assen")).toDF("cid", "cname")
    val out = FuzzyMatch.bestMatch(main, "name", lookup, "cname", Seq("cid"), lookupOrder = Nil)
    assert(out.count() == 3)
    assert(out.filter(col("name") === "MUGELLO").count() == 2)
  }

  test("tie winners are invariant to lookup partitioning (declared order, not physical)") {
    val main = Seq((1L, "ab")).toDF("id", "name")
    val lookup = Seq((20L, "xb"), (10L, "ax")).toDF("cid", "cname")
    def winner(lk: org.apache.spark.sql.DataFrame): Long =
      FuzzyMatch.bestMatchById(main, "id", "name", lk, "cname", Seq("cid"),
          lookupOrder = Seq(col("cid")))
        .select("cid").as[Long].collect().head
    val base = winner(lookup)
    assert(base == 10L) // declared order: lowest cid wins the tie
    // physical layout must not matter: repartitioned, reverse-sorted,
    // single-partition variants all pick the same winner
    assert(winner(lookup.repartition(7)) == base)
    assert(winner(lookup.orderBy(col("cid").desc)) == base)
    assert(winner(lookup.coalesce(1)) == base)
  }

  test("non-total lookupOrder: winner is still data-determined, not layout-determined") {
    val main = Seq((1L, "ab")).toDF("id", "name")
    // both tie candidates share grp=1, so the caller's order is NOT a
    // total order — the totalized sort (projected columns trail it as
    // tie-breaks) must settle the winner from the data: cname "ax" < "xb"
    val lookup = Seq((20L, "xb", 1), (10L, "ax", 1)).toDF("cid", "cname", "grp")
    def winner(lk: org.apache.spark.sql.DataFrame): Long =
      FuzzyMatch.bestMatchById(main, "id", "name", lk, "cname", Seq("cid"),
          lookupOrder = Seq(col("grp")))
        .select("cid").as[Long].collect().head
    val base = winner(lookup)
    assert(base == 10L)
    assert(winner(lookup.repartition(5)) == base)
    assert(winner(lookup.orderBy(col("cid").desc)) == base)
  }

  test("lookupOrder is honored: reversing it flips the tie winner") {
    val main = Seq((1L, "ab")).toDF("id", "name")
    val lookup = Seq((10L, "ax"), (20L, "xb")).toDF("cid", "cname")
    val w = FuzzyMatch.bestMatchById(main, "id", "name", lookup, "cname", Seq("cid"),
        lookupOrder = Seq(col("cid").desc))
      .select("cid").as[Long].collect().head
    assert(w == 20L)
  }

  test("bestMatch duplicate rows: multiplicity preserved under main repartitioning") {
    val main = Seq("MUGELLO", "MUGELLO", "MUGELLO", "ASSEN").toDF("name")
      .repartition(5)
    val lookup = Seq((1L, "Mugello"), (2L, "Assen")).toDF("cid", "cname")
    val out = FuzzyMatch.bestMatch(main, "name", lookup, "cname", Seq("cid"), lookupOrder = Nil)
    assert(out.count() == 4)
    assert(out.filter(col("name") === "MUGELLO").count() == 3)
    assert(out.filter(col("name") === "MUGELLO").select("cid")
      .as[Long].collect().toSet == Set(1L))
  }

  test("bestMatch multiplicity above the expansion chunk re-expands exactly") {
    // 5000 > the 4096-row expansion chunk: the nested-explode rebuild
    // must emit exactly one row per input occurrence, never chunk-sized
    // over- or under-counts
    val main = (Seq.fill(5000)("MUGELLO") ++ Seq("ASSEN")).toDF("name")
    val lookup = Seq((1L, "Mugello"), (2L, "Assen")).toDF("cid", "cname")
    val out = FuzzyMatch.bestMatch(main, "name", lookup, "cname", Seq("cid"), lookupOrder = Nil)
    assert(out.count() == 5001)
    assert(out.filter(col("name") === "MUGELLO").count() == 5000)
  }

  test("bestMatch tolerates map-typed main columns (synthetic-id fallback)") {
    val main = Seq(("MUGELLO", Map("k" -> "v")), ("ASSEN", Map.empty[String, String]))
      .toDF("name", "props")
    val lookup = Seq((1L, "Mugello"), (2L, "Assen")).toDF("cid", "cname")
    val out = FuzzyMatch.bestMatch(main, "name", lookup, "cname", Seq("cid"), lookupOrder = Nil)
    assert(out.count() == 2)
    assert(out.filter(col("name") === "MUGELLO").select("cid").as[Long].head() == 1L)
    assert(out.columns.contains("props")) // the map column rides through
  }

  test("lookupOrder may name a column that is neither matched nor appended") {
    val main = Seq((1L, "ab")).toDF("id", "name")
    val lookup = Seq((10L, "ax", 2L), (20L, "xb", 1L)).toDF("cid", "cname", "load_ts")
    val w = FuzzyMatch.bestMatchById(main, "id", "name", lookup, "cname", Seq("cid"),
        lookupOrder = Seq(col("load_ts")))
      .select("cid").as[Long].head()
    assert(w == 20L) // load_ts order: the later-keyed row loaded first
  }

  test("oversized lookup trips the broadcast guard before any broadcast build") {
    // the guard is the enforcement of "broadcast-sized by contract":
    // it must fail at plan time with a named error, not as an executor
    // OOM mid-broadcast
    val main = Seq((1L, "mugello")).toDF("id", "name")
    val lookup = spark.range(0, 50).select(col("id").as("cid"),
      concat(lit("name_"), col("id")).as("cname"))
    val prev = sys.props.get("graft.fuzzy.maxLookupRows")
    sys.props("graft.fuzzy.maxLookupRows") = "10"
    try {
      val e = intercept[IllegalArgumentException] {
        FuzzyMatch.bestMatchById(main, "id", "name", lookup, "cname", Seq("cid"), lookupOrder = Nil)
      }
      // r13: the guard counts through limit(cap + 1), so it reads at
      // most 11 rows of the 50-row lookup before refusing — the message
      // reports the bounded count, not the (never computed) total
      assert(e.getMessage.contains("more than 10 rows") &&
        e.getMessage.contains("stopped counting at 11") &&
        e.getMessage.contains("graft.fuzzy.maxLookupRows"), e.getMessage)
      // at the cap is fine
      sys.props("graft.fuzzy.maxLookupRows") = "50"
      assert(FuzzyMatch.bestMatchById(main, "id", "name",
        lookup, "cname", Seq("cid"), lookupOrder = Nil).count() == 1)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.fuzzy.maxLookupRows") = v
        case None => sys.props.remove("graft.fuzzy.maxLookupRows")
      }
    }
  }

  test("thresholdJoin equals the brute-force cross join, at several taus") {
    // adversarial generator: shared fragments, single-char edits,
    // duplicated chars (occurrence-tag path), case differences, exact
    // dups, and length outliers — if either pruning bound (length
    // ratio, prefix overlap) were unsound, some near-pair here would
    // vanish from the banded output
    val rnd = new scala.util.Random(41)
    val frags = Vector("mugello", "jerez", "assen", "catalunya", "aaa", "zz")
    def word(): String = {
      val base = frags(rnd.nextInt(frags.size))
      rnd.nextInt(5) match {
        case 0 => base
        case 1 => base.updated(rnd.nextInt(base.length), ('a' + rnd.nextInt(26)).toChar)
        case 2 => base + ('a' + rnd.nextInt(26)).toChar
        case 3 => (base + " " + frags(rnd.nextInt(frags.size))).take(4 + rnd.nextInt(12))
        case _ => base.toUpperCase
      }
    }
    val mains = (0 until 120).map(i => (i.toLong, word())).toDF("id", "name")
    val lookups = (0 until 60).map(i => (1000L + i, word())).toDF("cid", "cname")
    for (tau <- Seq(0.85, 0.9, 0.95)) {
      val got = FuzzyMatch.thresholdJoin(mains, "id", "name",
          lookups, "cid", "cname", tau)
        .select("id", "cid", "match_score")
        .as[(Long, Long, Double)].collect().toSet
      val want = mains.crossJoin(lookups)
        .withColumn("s", round(Kernels.jaroWinkler(
          lower(col("name")), lower(col("cname"))), 6))
        .filter(col("s") >= tau)
        .select("id", "cid", "s").as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty, s"generator produced no pairs at tau=$tau — test is vacuous")
      assert(got == want,
        s"tau=$tau: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("thresholdJoin stays lossless on a skewed boilerplate corpus " +
    "(one hot band, near-identical signatures, Zipf row duplication)") {
    // the adversarial regime for any prefix filter: every value is one
    // boilerplate template with a tiny varying suffix, so the whole
    // corpus lands in ONE length band and shares almost every signature
    // char (maximally hot (band, sig) keys), and rows duplicate
    // Zipf-style so the distinct-value collapse is load-bearing.
    // Lossless means: banded output == brute force, exactly.
    val rnd = new scala.util.Random(13)
    def v(i: Int): String = s"connection timeout contacting upstream host $i"
    // Zipf-ish row duplication over 97 distinct values
    val mains = (0 until 800).map { _ =>
      val idx = rnd.nextInt(rnd.nextInt(96) + 1)
      (rnd.nextLong().abs, v(idx))
    }.toDF("id", "name")
    val lookups = (0 until 97).map(i => (2000L + i, v(i))).toDF("cid", "cname")
    for (tau <- Seq(0.93, 0.97)) {
      val got = FuzzyMatch.thresholdJoin(mains, "id", "name",
          lookups, "cid", "cname", tau)
        .select("id", "cid", "match_score")
        .as[(Long, Long, Double)].collect().toSet
      val want = mains.crossJoin(lookups)
        .withColumn("s", round(Kernels.jaroWinkler(
          lower(col("name")), lower(col("cname"))), 6))
        .filter(col("s") >= tau)
        .select("id", "cid", "s").as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty, s"skewed fixture produced no pairs at tau=$tau")
      assert(got == want,
        s"tau=$tau: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
    // the candidate set thresholdCandidates counts is the one the join verifies:
    // bounded above by brute force, bounded below by the qualifying pairs
    val cands = FuzzyMatch.thresholdCandidates(
      mains, "name", lookups, "cname", 0.93).count()
    val distinctVals = mains.select(lower(col("name"))).distinct().count() *
      lookups.select(lower(col("cname"))).distinct().count()
    assert(cands <= distinctVals)
  }

  test("regime guard (r14): degeneracy probe reads ~1.0 on boilerplate " +
    "and thresholdJoinChecked refuses loudly; diverse values pass") {
    def v(i: Int): String = s"connection timeout contacting upstream host $i"
    val mains = (0 until 60).map(i => (i.toLong, v(i))).toDF("id", "name")
    val lookups = (0 until 40).map(i => (2000L + i, v(i))).toDF("cid", "cname")
    // boilerplate: one band, near-identical char bags — projected
    // candidate share >= 1 (upper bound counts multi-entry meets)
    val (proj, brute, share) = FuzzyMatch.prefixFilterDegeneracy(
      mains, "name", lookups, "cname", 0.93)
    assert(brute == 60L * 40L)
    assert(share >= 0.9, s"boilerplate share read $share (proj=$proj)")
    val err = intercept[IllegalArgumentException] {
      FuzzyMatch.thresholdJoinChecked(mains, "id", "name",
        lookups, "cid", "cname", tau = 0.93).count()
    }
    assert(err.getMessage.contains("regime guard"), err.getMessage)
    assert(err.getMessage.contains("boilerplate"), err.getMessage)

    // diverse values (the names regime of the SCALING tau ladder —
    // short distinct words, tau high enough that the kept prefix is a
    // few scrambled chars): the filter prunes, the probe says so, the
    // checked join proceeds and equals the unchecked join
    val rnd = new scala.util.Random(7)
    def word(): String =
      (0 until 8 + rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val dm = (0 until 300).map(i => (i.toLong, word())).toDF("id", "name")
    val dl = (0 until 100).map(i => (5000L + i, word())).toDF("cid", "cname")
    val (_, _, dShare) = FuzzyMatch.prefixFilterDegeneracy(
      dm, "name", dl, "cname", 0.95)
    assert(dShare < 0.7, s"diverse share read $dShare")
    val checked = FuzzyMatch.thresholdJoinChecked(dm, "id", "name",
      dl, "cid", "cname", tau = 0.95)
      .select("id", "cid").as[(Long, Long)].collect().toSet
    val plain = FuzzyMatch.thresholdJoin(dm, "id", "name",
      dl, "cid", "cname", tau = 0.95)
      .select("id", "cid").as[(Long, Long)].collect().toSet
    assert(checked == plain)
  }

  test("thresholdJoin: empty strings pair only with each other; nulls drop; low tau refused") {
    val m = Seq((1L, ""), (2L, "x"), (3L, null.asInstanceOf[String])).toDF("id", "name")
    val l = Seq((10L, ""), (20L, "y")).toDF("cid", "cname")
    val out = FuzzyMatch.thresholdJoin(m, "id", "name", l, "cid", "cname", 0.9)
      .select("id", "cid", "match_score").as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 10L, 1.0))) // JW("","") = 1; empty-vs-x absent; null row dropped
    val e = intercept[IllegalArgumentException] {
      FuzzyMatch.thresholdJoin(m, "id", "name", l, "cid", "cname", 0.8)
    }
    assert(e.getMessage.contains("vacuous"), e.getMessage)
  }

  test("thresholdJoin plan: equi-join candidates, never a cross product") {
    val m = Seq((1L, "abc")).toDF("id", "name")
    val l = Seq((10L, "abd")).toDF("cid", "cname")
    val p = FuzzyMatch.thresholdJoin(m, "id", "name", l, "cid", "cname", 0.9)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("appended score equals the scalar jaro_winkler") {
    val main = Seq((1L, "MARTHA")).toDF("id", "name")
    val lookup = Seq((10L, "MARHTA")).toDF("cid", "cname")
    val score = FuzzyMatch.bestMatchById(main, "id", "name", lookup, "cname", Seq("cid"),
        lookupOrder = Nil)
      .select("match_score").as[Double].collect().head
    assert(math.abs(score - graft.functions.JaroWinkler.sim("martha", "marhta")) < 1e-12)
  }
}
