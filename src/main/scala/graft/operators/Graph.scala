package graft.operators

import java.util.Arrays

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Link-graph centrality for corpus curation.
  *
  * Web-scale training corpora weight and filter documents by the
  * standing of their source in the link graph (Common Crawl publishes
  * harmonic-centrality / PageRank domain rankings for exactly this
  * purpose). This operator computes PageRank over an arbitrary
  * (src, dst) edge frame on hash-partitioned per-node state — no
  * driver-side graph materialization, so it scales to edge sets that
  * never fit one machine.
  *
  * Determinism by design: ranks are carried as FIXED-POINT integers
  * (`scale` units = rank 1.0, default nano-rank 1e9), all updates are
  * integer multiply/divide, and every aggregation is a sum of longs —
  * associative and exact. A float PageRank changes in the last ulps
  * whenever Spark re-orders a partial sum (task retry, re-partitioning,
  * speculative execution); this one returns bit-identical ranks on
  * every run, which makes it safe to hash-compare, cache, and
  * incrementally diff — and lets an external engine replay the exact
  * recurrence (see [[graft.OracleSqlGen.pageRank]]).
  *
  * Update rule (classic damped PageRank, Page et al. 1999, with
  * dangling-mass redistribution):
  * {{{
  *   contrib(u)  = rank(u) div outdeg(u)                 (u non-dangling)
  *   dangShare   = sum(rank(d) for dangling d) div N
  *   rank'(v)    = base + dampNum * (inbound(v) + dangShare) div dampDen
  *   base        = scale * (dampDen - dampNum) div dampDen
  * }}}
  * All divisions are floor divisions on non-negative longs (Scala `/`
  * and DuckDB `//` agree there). Truncation loses at most 1 unit per
  * division — at nano-rank resolution a relative error of 1e-9 per
  * step, irrelevant for ranking and identical on every engine.
  *
  * Overflow bound: the damping multiply is the widest intermediate —
  * `dampNum * totalMass` with totalMass = N * scale must stay under
  * 2^63, so at the default scale=1e9, dampNum=17 the operator is safe
  * to ~5×10^8 nodes; drop `scale` to 1e6 for a 5×10^11-node graph.
  * Every sum and multiply is `Math.addExact` / `multiplyExact`, so an
  * overflow throws an ArithmeticException, never a wrapped rank.
  *
  * Scale shape: plain RDD jobs, no Catalyst plan inside the loop.
  *   - Setup: the (src, dst) pairs shuffle ONCE, hash-partitioned on
  *     src ([[edgePartitions]] ways). Each partition becomes one cached
  *     [[Part]]: its node ids, sorted, and a CSR edge layout holding
  *     every src's distinct dsts. Nodes that are only ever a dst reach
  *     their home partition through a second, node-sized shuffle on
  *     the same partitioner. One action builds it and returns N and
  *     the sink count.
  *   - Each round is ONE job: a `zipPartitions(graph, ranks)` pass
  *     sums the contributions per dst in a map-side `LongMap`, so at
  *     most partitions × nodes (dst, sum) records shuffle and edges
  *     never move after setup; the sums zip back onto the
  *     co-partitioned graph to give the new rank array and the round's
  *     dangling mass, which the round's action returns to the driver.
  *     That action also materializes the persisted, `localCheckpoint`ed
  *     rank state, after which the previous round's state is released.
  *     On a real cluster prefer reliable `checkpoint()`.
  * Measured on `q_pagerank` (6 rounds, sf0.1, Spark local[4] on a
  * 4-vCPU VM, traced): its build went from 27 jobs in 3.4–4.3 s, when
  * each round planned SQL joins that adaptive execution split into 3
  * jobs (~300–450 ms a round), to 10 jobs in 1.6–1.8 s, with rounds of
  * 60–100 ms (SCALING.md "Link-graph centrality").
  *
  * Fixed `iters` rather than a convergence test: curation wants a
  * reproducible artifact, and a convergence probe would cost an extra
  * global aggregate per round for a stopping point that data drift
  * then moves between runs.
  *
  * Semantics notes: parallel edges collapse (`DISTINCT src, dst`);
  * self-loops are ordinary edges (count toward outdeg, contribute to
  * self); NULL endpoints are dropped; nodes appearing only as `dst`
  * are dangling (outdeg 0).
  */
object Graph {

  /** One hash partition of the graph. `ids` are its nodes, ascending;
    * node i's distinct out-neighbors are `dst(off(i) until off(i + 1))`,
    * ascending, so its outdegree is `off(i + 1) - off(i)` (0 for a
    * sink). */
  private final class Part(val ids: Array[Long], val off: Array[Int], val dst: Array[Long])
      extends Serializable {
    def outdeg(i: Int): Int = off(i + 1) - off(i)
    def sinks: Long = ids.indices.count(outdeg(_) == 0).toLong
  }

  /** One partition's rank state: `rank(i)` belongs to `ids(i)` (the
    * [[Part]]'s array), `dang` is the rank mass on its sinks. */
  private final class Ranks(val ids: Array[Long], val rank: Array[Long], val dang: Long)
    extends Serializable

  /** PageRank over `edges(srcCol, dstCol)` (long-compatible ids).
    * Returns (id LONG, rank LONG) — rank in `scale` fixed-point units,
    * total mass ≈ N * scale.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               iters: Int = 8, scale: Long = 1_000_000_000L,
               dampNum: Long = 17L, dampDen: Long = 20L): DataFrame =
    pageRank(edges, srcCol, dstCol, iters, scale, dampNum, dampDen, edgePartitions(edges))

  /** [[pageRank]] over `parts` hash partitions of the graph. */
  private[graft] def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
                              iters: Int, scale: Long, dampNum: Long, dampDen: Long,
                              parts: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen outside [0, 1]")
    require(scale > 0, s"scale must be positive, got $scale")
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val base = Math.multiplyExact(scale, dampDen - dampNum) / dampDen
    val part = new HashPartitioner(parts)
    val bySrc = srcLayouts(edges, srcCol, dstCol, part)
    val graph = withDstNodes(bySrc, part)
    try {
      // the setup action: builds and caches the graph, and returns N
      // and the initial sink mass
      var state = graph.map(g => new Ranks(g.ids, Array.fill(g.ids.length)(scale),
        Math.multiplyExact(g.sinks, scale))).localCheckpoint()
      val (n, dang0) = state.map(r => (r.ids.length.toLong, r.dang))
        .fold((0L, 0L)) { case ((n1, d1), (n2, d2)) => (n1 + n2, Math.addExact(d1, d2)) }
      var dang = dang0
      if (n > 0) for (_ <- 0 until iters) {
        val next = round(graph, state, part, base, dampNum, dampDen, dang / n)
          .localCheckpoint()
        dang = next.map(_.dang).fold(0L)(Math.addExact)
        state.unpersist(blocking = false)
        state = next
      }
      val rows = state.flatMap(r => r.ids.indices.iterator.map(i => Row(r.ids(i), r.rank(i))))
      edges.sparkSession.createDataFrame(rows, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("rank", LongType, nullable = false))))
    } finally {
      bySrc.unpersist(blocking = false)
      graph.unpersist(blocking = false)
    }
  }

  /** The src side of the graph, cached: ONE shuffle of the (src, dst)
    * pairs on `part`, then each partition's [[srcLayout]]. */
  private def srcLayouts(edges: DataFrame, srcCol: String, dstCol: String,
                         part: HashPartitioner): RDD[Part] =
    edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .queryExecution.toRdd.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None else Some((r.getLong(0), r.getLong(1)))
      }
      .partitionBy(part)
      .mapPartitions(it => Iterator(srcLayout(it)))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The whole graph, cached: every dst id shuffles to its home
    * partition on `part` (one record per partition it is a dst in —
    * node-sized, read from the cached src side, so the edges move
    * once) and joins there as a sink unless it is a src already. */
  private def withDstNodes(bySrc: RDD[Part], part: HashPartitioner): RDD[Part] = {
    val dstIds = bySrc.flatMap(g => distinctSorted(g.dst).iterator.map(d => (d, ())))
      .partitionBy(part)
    bySrc.zipPartitions(dstIds) { (gs, ds) =>
      Iterator(withNodes(gs.next(), distinctSorted(ds.map(_._1).toArray)))
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One round: the new rank state, with each partition's sink mass. */
  private def round(graph: RDD[Part], state: RDD[Ranks], part: HashPartitioner,
                    base: Long, dampNum: Long, dampDen: Long, dangShare: Long): RDD[Ranks] = {
    val inbound = graph.zipPartitions(state) { (gs, rs) =>
      val g = gs.next()
      val r = rs.next().rank
      // map-side combine: one (dst, sum) record per dst of this
      // partition, however many edges point at it
      val sums = new mutable.LongMap[Long]()
      var i = 0
      while (i < g.ids.length) {
        val deg = g.outdeg(i)
        if (deg > 0) {
          val c = r(i) / deg
          var j = g.off(i)
          while (j < g.off(i + 1)) {
            val d = g.dst(j)
            sums.update(d, Math.addExact(sums.getOrElse(d, 0L), c))
            j += 1
          }
        }
        i += 1
      }
      sums.iterator
    }.partitionBy(part)
    graph.zipPartitions(inbound) { (gs, ins) =>
      val g = gs.next()
      val in = new Array[Long](g.ids.length)
      ins.foreach { case (d, s) =>
        val i = Arrays.binarySearch(g.ids, d)
        in(i) = Math.addExact(in(i), s)
      }
      var dang = 0L
      var i = 0
      while (i < in.length) {
        in(i) = Math.addExact(base,
          Math.multiplyExact(dampNum, Math.addExact(in(i), dangShare)) / dampDen)
        if (g.outdeg(i) == 0) dang = Math.addExact(dang, in(i))
        i += 1
      }
      Iterator(new Ranks(g.ids, in, dang))
    }
  }

  /** The src side of one partition's layout from its (src, dst) pairs:
    * every src with its distinct dsts. */
  private def srcLayout(pairs: Iterator[(Long, Long)]): Part = {
    val srcB = new mutable.ArrayBuilder.ofLong
    val dstB = new mutable.ArrayBuilder.ofLong
    pairs.foreach { case (s, d) => srcB += s; dstB += d }
    val src = srcB.result()
    val dst = dstB.result()
    val ids = distinctSorted(src)
    // counting sort of the dsts into per-src slices
    val slot = src.map(Arrays.binarySearch(ids, _))
    val off = new Array[Int](ids.length + 1)
    slot.foreach(i => off(i + 1) += 1)
    for (i <- ids.indices) off(i + 1) += off(i)
    val fill = Arrays.copyOf(off, ids.length)
    val sorted = new Array[Long](dst.length)
    for (k <- dst.indices) { sorted(fill(slot(k))) = dst(k); fill(slot(k)) += 1 }
    // sort each slice and drop parallel edges, compacting in place
    val dedup = new Array[Int](ids.length + 1)
    var w = 0
    for (i <- ids.indices) {
      Arrays.sort(sorted, off(i), off(i + 1))
      for (k <- off(i) until off(i + 1) if k == off(i) || sorted(k) != sorted(k - 1)) {
        sorted(w) = sorted(k)
        w += 1
      }
      dedup(i + 1) = w
    }
    new Part(ids, dedup, Arrays.copyOf(sorted, w))
  }

  /** `g` with the sorted, distinct node ids `extra` merged in — those
    * that are not already a src here join as sinks. */
  private def withNodes(g: Part, extra: Array[Long]): Part = {
    val ids = new mutable.ArrayBuilder.ofLong
    val off = new mutable.ArrayBuilder.ofInt
    off += 0
    var i = 0
    var k = 0
    while (i < g.ids.length || k < extra.length) {
      if (k == extra.length || i < g.ids.length && g.ids(i) <= extra(k)) {
        if (k < extra.length && g.ids(i) == extra(k)) k += 1
        ids += g.ids(i)
        off += g.off(i + 1)
        i += 1
      } else {
        ids += extra(k)
        off += g.off(i)
        k += 1
      }
    }
    new Part(ids.result(), off.result(), g.dst)
  }

  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    Arrays.sort(s)
    var w = 0
    for (k <- s.indices if k == 0 || s(k) != s(k - 1)) { s(w) = s(k); w += 1 }
    Arrays.copyOf(s, w)
  }

  /** Graph partition count from the edge source's size (r18, guide §2
    * "make partitioning scale-adaptive — derive from input size"):
    * every setup and round stage runs one task per partition, and at
    * the benched SF the inherited spark.sql.shuffle.partitions = cores
    * meant near-empty tasks whose fixed cost (launch + deserialize,
    * ~10-25 ms each) dominated every round. One partition per ~4 MB of
    * source keeps task compute well above the fixed cost; the
    * leaf-relation size estimate is real file bytes (never a
    * join-cardinality guess), and any real edge set saturates the
    * configured shuffle parallelism, where this clamp is a no-op. */
  private[graft] def edgePartitions(edges: DataFrame): Int =
    Ops.sizedPartitions(edges, 4L * 1024 * 1024)
}
