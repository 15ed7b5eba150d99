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
  *     and the blocks shuffle ONCE. Each partition numbers its srcs and
  *     its dsts through a hash index in one pass over its blocks, sorts
  *     only those distinct ids (never a per-edge array), and builds a
  *     CSR edge layout over its srcs, dropping parallel edges by a
  *     per-dst marker. It fixes its slot layout: its distinct dsts
  *     grouped by home partition, each edge pointing at its dst's slot.
  *     Each partition then ships one block of its distinct dsts to
  *     every dst's home partition, which merges them in as sinks and
  *     records where each block entry sits in its node array. The
  *     result is one cached [[Part]] per partition.
  *   - Each round is one stage and runs no action of its own: a
  *     `zipPartitions(graph, ranks)` pass scatter-adds each src's
  *     contribution into a flat sum array by slot and ships one block
  *     of sums to every partition, with its node count and sink mass,
  *     so a round shuffles exactly partitions² records and edges never
  *     move after setup. Each receiver derives the round's dangling
  *     share from those counts and adds the sums into its nodes by the
  *     recorded index, on the co-partitioned graph; its new rank array
  *     feeds the next round's map side in the same stage.
  *   - The setup and up to [[RoundsPerJob]] rounds run as ONE job, which
  *     materializes the persisted, `localCheckpoint`ed rank state; the
  *     previous chunk's state is released after it. On a real cluster
  *     prefer reliable `checkpoint()`.
  * Measured on `q_pagerank` (6 rounds over 1.2 M edges, sf0.1, Spark
  * local[4] on a 4-vCPU VM, traced, timed passes 1 and 3 of seeds 8301
  * and 8302): with per-edge sorts and binary searches in the layout
  * build and one job per round, the CSR build with the dst shuffle took
  * 97–120 ms, the graph merge and the six rounds 98–135 ms, and the
  * query 447–541 ms; with the linear-time layout and the rounds in the
  * setup job, 20–44 ms, 51–92 ms and 350–426 ms
  * (SCALING.md "Link-graph centrality"). 1000 rounds over 3000 edges
  * at 4 partitions: 10.3–13.6 s in 1002 jobs → 5.4–6.9 s in 33.
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

  /** Rounds chained into one Spark job before a `localCheckpoint` cuts
    * the lineage. Planning a job recurses once per chained shuffle, so
    * an unbounded chain overflows the planning thread's stack (300
    * rounds did); 32 keeps the depth far from that and the job count at
    * one per 32 rounds. */
  private[graft] val RoundsPerJob: Int = 32

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

  /** What partition p sends each partition in a round: its node count
    * `n` and sink mass `dang`, from which every receiver derives the
    * round's dangling share, and its `sums` for the receiver's nodes in
    * `inIdx(p)` order (empty when it has none). */
  private final class Sums(val p: Int, val n: Long, val dang: Long, val sums: Array[Long])
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
      var state = graph.map(g => new Ranks(g.ids, Array.fill(g.ids.length)(scale),
        Math.multiplyExact(g.sinks, scale)))
      var done = 0
      // one job per chunk of rounds, the first one with the setup; each
      // chunk's state is checkpointed before the previous one is released
      do {
        val prev = state
        val k = math.min(RoundsPerJob, iters - done)
        for (_ <- 0 until k) state = round(graph, state, part, base, dampNum, dampDen)
        state = state.localCheckpoint()
        state.count()
        if (prev ne state) prev.unpersist(blocking = false)
        done += k
      } while (done < iters)
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
                         part: HashPartitioner, blockPairs: Int): RDD[Src] = {
    val parts = part.numPartitions
    edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .queryExecution.toRdd.mapPartitions(edgeBlocks(_, parts, blockPairs))
      .partitionBy(part)
      .mapPartitions(bs => Iterator(srcLayout(bs.map(_._2), parts)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The non-NULL (src, dst) pairs of `rows` as (src's partition,
    * interleaved src, dst block) records of at most `blockPairs` pairs:
    * a block is emitted when it fills, the partly filled ones last. */
  private def edgeBlocks(rows: Iterator[InternalRow], parts: Int,
                         blockPairs: Int): Iterator[(Int, Array[Long])] = {
    val open = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
    rows.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
      else {
        val s = r.getLong(0)
        val q = home(s, parts)
        val b = open(q)
        b += s
        b += r.getLong(1)
        if (b.length < 2 * blockPairs) Iterator.empty
        else {
          open(q) = new mutable.ArrayBuilder.ofLong
          Iterator.single((q, b.result()))
        }
      }
    } ++ open.indices.iterator.filter(open(_).length > 0).map(q => (q, open(q).result()))
  }

  /** The partition of `id` on a `HashPartitioner(parts)`, without boxing. */
  private[graft] def home(id: Long, parts: Int): Int = {
    val m = java.lang.Long.hashCode(id) % parts
    if (m < 0) m + parts else m
  }

  /** The whole graph, cached: each partition ships one block of its
    * distinct dsts to every dst's home partition on `part` (read from
    * the cached src side, so the edges move once), where they join as
    * sinks unless they are a src already. */
  private def withDstNodes(bySrc: RDD[Src], part: HashPartitioner): RDD[Part] = {
    val dstBlocks = bySrc.mapPartitionsWithIndex { (p, ss) =>
      val s = ss.next()
      Iterator.range(0, part.numPartitions).filter(q => s.outOff(q) < s.outOff(q + 1))
        .map(q => (q, (p, Arrays.copyOfRange(s.out, s.outOff(q), s.outOff(q + 1)))))
    }.partitionBy(part)
    bySrc.zipPartitions(dstBlocks) { (ss, bs) =>
      Iterator(withNodes(ss.next(), bs.map(_._2).toArray, part.numPartitions))
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One round: the new rank state, with each partition's sink mass.
    * It submits no job: its reduce side runs in the same stage as the
    * next round's map side. */
  private def round(graph: RDD[Part], state: RDD[Ranks], part: HashPartitioner,
                    base: Long, dampNum: Long, dampDen: Long): RDD[Ranks] = {
    val parts = part.numPartitions
    val inbound = graph.zipPartitions(state) { (gs, rs) =>
      val g = gs.next()
      val r = rs.next()
      // one sum per distinct dst of this partition, however many edges
      // point at it
      val sums = new Array[Long](g.outOff(parts))
      var i = 0
      while (i < g.ids.length) {
        val deg = g.outdeg(i)
        if (deg > 0) {
          val c = r.rank(i) / deg
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
      val p = TaskContext.getPartitionId()
      Iterator.range(0, parts).map(q => (q, new Sums(p, g.ids.length.toLong, r.dang,
        Arrays.copyOfRange(sums, g.outOff(q), g.outOff(q + 1)))))
    }.partitionBy(part)
    graph.zipPartitions(inbound) { (gs, ins) =>
      val g = gs.next()
      val in = new Array[Long](g.ids.length)
      var n = 0L
      var dangAll = 0L
      ins.foreach { case (_, b) =>
        n += b.n
        dangAll = Math.addExact(dangAll, b.dang)
        val idx = g.inIdx(b.p)
        var k = 0
        while (k < b.sums.length) {
          in(idx(k)) = Math.addExact(in(idx(k)), b.sums(k))
          k += 1
        }
      }
      val dangShare = if (n == 0) 0L else dangAll / n
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

  /** The src side of one partition's layout from its blocks of
    * interleaved (src, dst) pairs: every src with its distinct dsts,
    * and the slot layout of those dsts by home partition. Linear in the
    * pairs: every endpoint is numbered through a hash index, and only
    * the distinct ids are sorted. */
  private def srcLayout(blocks: Iterator[Array[Long]], parts: Int): Src = {
    val srcs = new LongIndex
    val dsts = new LongIndex
    val es = new mutable.ArrayBuilder.ofInt
    val ed = new mutable.ArrayBuilder.ofInt
    blocks.foreach { b =>
      var k = 0
      while (k < b.length) { es += srcs.add(b(k)); ed += dsts.add(b(k + 1)); k += 2 }
    }
    val src = es.result()
    val dst = ed.result()
    val ids = srcs.keys
    Arrays.sort(ids)
    val row = new Array[Int](ids.length)
    for (i <- ids.indices) row(srcs(ids(i))) = i
    // counting sort of the dsts into per-src slices
    var e = 0
    while (e < src.length) { src(e) = row(src(e)); e += 1 }
    val off = offsets(src, ids.length)
    val fill = Arrays.copyOf(off, ids.length)
    val sorted = new Array[Int](dst.length)
    e = 0
    while (e < src.length) { sorted(fill(src(e))) = dst(e); fill(src(e)) += 1; e += 1 }
    // drop parallel edges, compacting in place: a dst is kept once per
    // src, by the first edge whose src it has not yet been kept for
    val kept = Array.fill(dsts.size)(-1)
    val dedup = new Array[Int](ids.length + 1)
    var w = 0
    var i = 0
    while (i < ids.length) {
      var k = off(i)
      while (k < off(i + 1)) {
        val d = sorted(k)
        if (kept(d) != i) { kept(d) = i; sorted(w) = d; w += 1 }
        k += 1
      }
      i += 1
      dedup(i) = w
    }
    // the slot layout: distinct dsts grouped by home partition, each
    // group ascending (a stable counting sort of the ascending dsts)
    val uniq = dsts.keys
    Arrays.sort(uniq)
    val homes = uniq.map(home(_, parts))
    val outOff = offsets(homes, parts)
    val next = Arrays.copyOf(outOff, parts)
    val pos = new Array[Int](uniq.length) // by dst number
    val out = new Array[Long](uniq.length)
    for (u <- uniq.indices) {
      val q = homes(u)
      pos(dsts(uniq(u))) = next(q)
      out(next(q)) = uniq(u)
      next(q) += 1
    }
    val slot = new Array[Int](w)
    for (k <- 0 until w) slot(k) = pos(sorted(k))
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
    val index = new LongIndex // src i is number i, the sinks follow
    s.ids.foreach(index.add)
    val at = blocks.map(_._2.map(index.add))
    val extra = Arrays.copyOfRange(index.keys, s.ids.length, index.size)
    Arrays.sort(extra)
    // merge the ascending srcs and sinks; pos(number) = merged index
    val ids = new Array[Long](index.size)
    val off = new Array[Int](index.size + 1)
    val pos = new Array[Int](index.size)
    var i = 0
    var k = 0
    while (i + k < ids.length) {
      val j = i + k
      if (k == extra.length || i < s.ids.length && s.ids(i) < extra(k)) {
        ids(j) = s.ids(i)
        off(j + 1) = s.off(i + 1)
        pos(i) = j
        i += 1
      } else {
        ids(j) = extra(k)
        off(j + 1) = s.off(i)
        pos(index(extra(k))) = j
        k += 1
      }
    }
    val inIdx = Array.fill(parts)(Array.emptyIntArray)
    for (((p, _), a) <- blocks.zip(at)) inIdx(p) = a.map(pos)
    new Part(ids, off, s.slot, s.outOff, inIdx)
  }

  /** A set of longs that numbers each one in the order it arrived:
    * open addressing with linear probing over a power-of-two table. */
  private final class LongIndex {
    private var shift = 60 // 64 - log2(table size)
    private var tk = new Array[Long](16)
    private var tv = Array.fill(16)(-1) // a key's number, -1 when empty
    private var byNum = new Array[Long](8)
    var size = 0

    private def at(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt

    /** The number of `k`, -1 when absent. */
    def apply(k: Long): Int = {
      var h = at(k)
      while (tv(h) >= 0 && tk(h) != k) h = (h + 1) & (tv.length - 1)
      tv(h)
    }

    /** The number of `k`, numbering it next when it is new. */
    def add(k: Long): Int = {
      var h = at(k)
      while (tv(h) >= 0) {
        if (tk(h) == k) return tv(h)
        h = (h + 1) & (tv.length - 1)
      }
      if (size == byNum.length) byNum = Arrays.copyOf(byNum, 2 * size)
      byNum(size) = k
      tk(h) = k
      tv(h) = size
      size += 1
      if (2 * size > tv.length) grow()
      size - 1
    }

    private def grow(): Unit = {
      shift -= 1
      tk = new Array[Long](2 * tk.length)
      tv = Array.fill(tk.length)(-1)
      for (n <- 0 until size) {
        var h = at(byNum(n))
        while (tv(h) >= 0) h = (h + 1) & (tv.length - 1)
        tk(h) = byNum(n)
        tv(h) = n
      }
    }

    /** The keys by number. */
    def keys: Array[Long] = Arrays.copyOf(byNum, size)
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
