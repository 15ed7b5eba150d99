package graft.operators

import java.util.Arrays

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
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
  * Scale shape: plain RDD jobs, no Catalyst plan inside the loop, and
  * every exchange moves blocks of primitive arrays, not one record per
  * edge or node (Spark's default Java serialization writes each record
  * with its own framing).
  *   - Setup: each input task buckets its (src, dst) pairs by the src's
  *     home partition ([[edgePartitions]] hash partitions) into
  *     interleaved `long[]` blocks of at most [[EdgeBlockPairs]] pairs,
  *     and the blocks shuffle ONCE. Each partition builds a CSR edge
  *     layout over its srcs and fixes its slot layout: its distinct
  *     dsts grouped by home partition, each edge pointing at its dst's
  *     slot. Each partition then ships one block of its distinct dsts
  *     to every dst's home partition, which merges them in as sinks
  *     and records where each block entry sits in its node array. The
  *     result is one cached [[Part]] per partition; one action builds
  *     it and returns N and the sink count.
  *   - Each round is ONE job: a `zipPartitions(graph, ranks)` pass
  *     scatter-adds each src's contribution into a flat sum array by
  *     slot and ships one block of sums to each dst home partition, so
  *     a round shuffles at most partitions² records and edges never
  *     move after setup; there the sums add into the nodes by the
  *     recorded index, on the co-partitioned graph, to give the new
  *     rank array and the round's dangling mass, which the round's
  *     action returns to the driver. That action also materializes the
  *     persisted, `localCheckpoint`ed rank state, after which the
  *     previous round's state is released. On a real cluster prefer
  *     reliable `checkpoint()`.
  * Measured on `q_pagerank` (6 rounds over 1.2 M edges, sf0.1, Spark
  * local[4] on a 4-vCPU VM, traced): with one record per edge and per
  * (partition, node) sum the setup job took 284–326 ms and a round
  * 20–35 ms; with blocks and the slot layout, 219–297 ms and 11–20 ms
  * (one 34 ms outlier), and the query 632–696 → 462–578 ms
  * (SCALING.md "Link-graph centrality").
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

  /** Pairs per block of the setup's edge shuffle: an input task holds
    * at most one open block per target partition, so its memory stays
    * bounded whatever its split size. */
  private[graft] val EdgeBlockPairs: Int = 1 << 16

  /** The src side of one partition. `ids` are its srcs, ascending; src
    * i's distinct out-neighbors are `out(slot(j))` for j in
    * `off(i) until off(i + 1)`. `out` holds the partition's distinct
    * dsts grouped by home partition: those of partition q are
    * `out(outOff(q) until outOff(q + 1))`, ascending. */
  private final class Src(val ids: Array[Long], val off: Array[Int], val slot: Array[Int],
                          val out: Array[Long], val outOff: Array[Int]) extends Serializable

  /** One hash partition of the graph. `ids` are its nodes, ascending;
    * node i's out-edges are `slot(off(i) until off(i + 1))`, indexes
    * into a per-round sum array laid out by `outOff` as in [[Src]], so
    * its outdegree is `off(i + 1) - off(i)` (0 for a sink). `inIdx(p)(k)`
    * is the index in `ids` of entry k of the block that partition p
    * sends here (empty when p sends none). */
  private final class Part(val ids: Array[Long], val off: Array[Int], val slot: Array[Int],
                           val outOff: Array[Int], val inIdx: Array[Array[Int]])
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
    pageRank(edges, srcCol, dstCol, iters, scale, dampNum, dampDen, edgePartitions(edges),
      EdgeBlockPairs)

  /** [[pageRank]] over `parts` hash partitions of the graph, shipping
    * edge blocks of at most `blockPairs` pairs. */
  private[graft] def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
                              iters: Int, scale: Long, dampNum: Long, dampDen: Long,
                              parts: Int, blockPairs: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen outside [0, 1]")
    require(scale > 0, s"scale must be positive, got $scale")
    require(parts >= 1, s"parts must be >= 1, got $parts")
    require(blockPairs >= 1, s"blockPairs must be >= 1, got $blockPairs")
    val base = Math.multiplyExact(scale, dampDen - dampNum) / dampDen
    val part = new HashPartitioner(parts)
    val bySrc = srcLayouts(edges, srcCol, dstCol, part, blockPairs)
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
    * pairs in blocks keyed by the src's partition on `part`, then each
    * partition's [[srcLayout]]. */
  private def srcLayouts(edges: DataFrame, srcCol: String, dstCol: String,
                         part: HashPartitioner, blockPairs: Int): RDD[Src] =
    edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .queryExecution.toRdd.mapPartitions(edgeBlocks(_, part, blockPairs))
      .partitionBy(part)
      .mapPartitions(bs => Iterator(srcLayout(bs.map(_._2), part)))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The non-NULL (src, dst) pairs of `rows` as (src's partition,
    * interleaved src, dst block) records of at most `blockPairs` pairs:
    * a block is emitted when it fills, the partly filled ones last. */
  private def edgeBlocks(rows: Iterator[InternalRow], part: HashPartitioner,
                         blockPairs: Int): Iterator[(Int, Array[Long])] = {
    val open = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
    rows.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else {
        val s = r.getLong(0)
        val q = part.getPartition(s)
        val b = open(q)
        b += s
        b += r.getLong(1)
        if (b.length < 2 * blockPairs) None
        else {
          open(q) = new mutable.ArrayBuilder.ofLong
          Some((q, b.result()))
        }
      }
    } ++ open.indices.iterator.filter(open(_).length > 0).map(q => (q, open(q).result()))
  }

  /** The whole graph, cached: each partition ships one block of its
    * distinct dsts to every dst's home partition on `part` (read from
    * the cached src side, so the edges move once), where they join as
    * sinks unless they are a src already. */
  private def withDstNodes(bySrc: RDD[Src], part: HashPartitioner): RDD[Part] = {
    val dstBlocks = bySrc.mapPartitionsWithIndex { (p, ss) =>
      val s = ss.next()
      outBlocks(p, s.outOff, s.out)
    }.partitionBy(part)
    bySrc.zipPartitions(dstBlocks) { (ss, bs) =>
      Iterator(withNodes(ss.next(), bs.map(_._2).toArray, part.numPartitions))
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One round: the new rank state, with each partition's sink mass. */
  private def round(graph: RDD[Part], state: RDD[Ranks], part: HashPartitioner,
                    base: Long, dampNum: Long, dampDen: Long, dangShare: Long): RDD[Ranks] = {
    val inbound = graph.zipPartitions(state) { (gs, rs) =>
      val g = gs.next()
      val r = rs.next().rank
      // one sum per distinct dst of this partition, however many edges
      // point at it
      val sums = new Array[Long](g.outOff(part.numPartitions))
      var i = 0
      while (i < g.ids.length) {
        val deg = g.outdeg(i)
        if (deg > 0) {
          val c = r(i) / deg
          var j = g.off(i)
          while (j < g.off(i + 1)) {
            val s = g.slot(j)
            sums(s) = Math.addExact(sums(s), c)
            j += 1
          }
        }
        i += 1
      }
      // zipPartitions keeps partition indexes: this task's is the graph's p
      outBlocks(TaskContext.getPartitionId(), g.outOff, sums)
    }.partitionBy(part)
    graph.zipPartitions(inbound) { (gs, ins) =>
      val g = gs.next()
      val in = new Array[Long](g.ids.length)
      ins.foreach { case (_, (p, sums)) =>
        val idx = g.inIdx(p)
        var k = 0
        while (k < sums.length) {
          in(idx(k)) = Math.addExact(in(idx(k)), sums(k))
          k += 1
        }
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

  /** Partition p's slot-ordered `xs` as one (q, (p, block)) record per
    * partition q with a non-empty slice `outOff(q) until outOff(q + 1)`. */
  private def outBlocks(p: Int, outOff: Array[Int],
                        xs: Array[Long]): Iterator[(Int, (Int, Array[Long]))] =
    Iterator.range(0, outOff.length - 1).filter(q => outOff(q) < outOff(q + 1))
      .map(q => (q, (p, Arrays.copyOfRange(xs, outOff(q), outOff(q + 1)))))

  /** The src side of one partition's layout from its blocks of
    * interleaved (src, dst) pairs: every src with its distinct dsts,
    * and the slot layout of those dsts by home partition on `part`. */
  private def srcLayout(blocks: Iterator[Array[Long]], part: HashPartitioner): Src = {
    val bs = blocks.toArray
    val src = new Array[Long](bs.iterator.map(_.length / 2).sum)
    val dst = new Array[Long](src.length)
    var e = 0
    for (b <- bs) {
      var k = 0
      while (k < b.length) { src(e) = b(k); dst(e) = b(k + 1); e += 1; k += 2 }
    }
    val ids = distinctSorted(src)
    // counting sort of the dsts into per-src slices
    val row = src.map(Arrays.binarySearch(ids, _))
    val off = offsets(row, ids.length)
    val fill = Arrays.copyOf(off, ids.length)
    val sorted = new Array[Long](dst.length)
    for (k <- dst.indices) { sorted(fill(row(k))) = dst(k); fill(row(k)) += 1 }
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
    // the slot layout: distinct dsts grouped by home partition, each
    // group ascending (a stable counting sort of the ascending dsts)
    val uniq = distinctSorted(Arrays.copyOf(sorted, w))
    val home = uniq.map(part.getPartition(_))
    val outOff = offsets(home, part.numPartitions)
    val next = Arrays.copyOf(outOff, part.numPartitions)
    val pos = new Array[Int](uniq.length)
    val out = new Array[Long](uniq.length)
    for (u <- uniq.indices) { pos(u) = next(home(u)); out(pos(u)) = uniq(u); next(home(u)) += 1 }
    val slot = Array.tabulate(w)(k => pos(Arrays.binarySearch(uniq, sorted(k))))
    new Src(ids, dedup, slot, out, outOff)
  }

  /** Offsets of a counting sort of `keys` in `[0, n)`: key q's run is
    * `off(q) until off(q + 1)`. */
  private def offsets(keys: Array[Int], n: Int): Array[Int] = {
    val off = new Array[Int](n + 1)
    keys.foreach(q => off(q + 1) += 1)
    for (q <- 0 until n) off(q + 1) += off(q)
    off
  }

  /** The graph partition of `s` with the (p, dst block) blocks it
    * receives: those dsts that are not already a src here join as
    * sinks, and each block's entries are located in the merged ids. */
  private def withNodes(s: Src, blocks: Array[(Int, Array[Long])], parts: Int): Part = {
    val extra = distinctSorted(blocks.flatMap(_._2))
    val ids = new mutable.ArrayBuilder.ofLong
    val off = new mutable.ArrayBuilder.ofInt
    off += 0
    var i = 0
    var k = 0
    while (i < s.ids.length || k < extra.length) {
      if (k == extra.length || i < s.ids.length && s.ids(i) <= extra(k)) {
        if (k < extra.length && s.ids(i) == extra(k)) k += 1
        ids += s.ids(i)
        off += s.off(i + 1)
        i += 1
      } else {
        ids += extra(k)
        off += s.off(i)
        k += 1
      }
    }
    val all = ids.result()
    val inIdx = Array.fill(parts)(Array.emptyIntArray)
    for ((p, b) <- blocks) inIdx(p) = b.map(Arrays.binarySearch(all, _))
    new Part(all, off.result(), s.slot, s.outOff, inIdx)
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
