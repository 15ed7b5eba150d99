package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int,
                    scale: Long = 1000000000L): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), iters = iters, scale = scale)
      .as[(Long, Long)].collect().toMap

  test("pageRank: hand-computed two-node cycle is exact") {
    // 1 ⇄ 2, scale 1000, damping 17/20: base = 1000*3/20 = 150.
    // Symmetric, no dangling: every iteration rank = 150 + 17*1000/20 = 1000.
    val out = ranks(Seq((1L, 2L), (2L, 1L)), iters = 3, scale = 1000L)
    assert(out == Map(1L -> 1000L, 2L -> 1000L))
  }

  test("pageRank: hand-computed chain with dangling sink, one iteration") {
    // 1 → 2 → 3; node 3 dangling. scale 1000, base 150, N = 3.
    // iter 1: dangling = rank(3) = 1000, dangShare = 333.
    //   in(2) = 1000 div 1 = 1000; in(3) = 1000; in(1) = 0.
    //   rank(1) = 150 + 17 *  333          div 20 = 150 + 283 = 433
    //   rank(2) = 150 + 17 * (1000 + 333)  div 20 = 150 + 1133 = 1283
    //   rank(3) likewise = 1283
    val out = ranks(Seq((1L, 2L), (2L, 3L)), iters = 1, scale = 1000L)
    assert(out == Map(1L -> 433L, 2L -> 1283L, 3L -> 1283L))
  }

  test("pageRank: iters = 0 returns the uniform initial mass") {
    val out = ranks(Seq((1L, 2L), (2L, 3L)), iters = 0, scale = 777L)
    assert(out == Map(1L -> 777L, 2L -> 777L, 3L -> 777L))
  }

  test("pageRank: star center out-ranks its spokes") {
    val spokes = (2L to 9L)
    val edges = spokes.flatMap(s => Seq((s, 1L), (1L, s)))
    val out = ranks(edges, iters = 8)
    assert(spokes.forall(s => out(1L) > out(s)))
    assert(spokes.map(out).toSet.size == 1) // spokes symmetric → identical
  }

  test("pageRank: mass is conserved up to floor-division truncation") {
    // per-iteration truncation loss L < |E| (contrib divs) + N
    // (dangling div) + N (damping divs) + 1; the teleport term pumps
    // lost mass back, so the steady-state deficit is bounded by
    // L / (1 - d) = L * 20/3 ≈ 110 units here — invisible at
    // nano-rank resolution but asserted to stay bounded, not drift
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L))
    val out = ranks(edges, iters = 6)
    val total = out.values.sum
    val n = out.size
    assert(out.size == 5)
    assert(total <= n * 1000000000L)
    assert(total >= n * 1000000000L - 1000L)
  }

  test("pageRank: bit-identical across partitioning layouts (retry-determinism)") {
    val edges = (1L to 200L).map(i => (i, i * 7 % 97 + 1)).toDF("src", "dst")
    val a = Graph.pageRank(edges.repartition(1), iters = 4)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(edges.repartition(13, col("dst")), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRank: parallel edges collapse, self-loops and nulls handled") {
    // duplicate edge (1,2) must count once in outdeg; 3's self-loop is
    // an ordinary edge; the null-endpoint EDGE vanishes entirely (node
    // 9 has no surviving edge, so it is not a node of the graph)
    val edges = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (java.lang.Long.valueOf(3L), java.lang.Long.valueOf(3L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(9L))
    ).toDF("src", "dst")
    val dup = Graph.pageRank(edges, iters = 2).as[(Long, Long)].collect().toMap
    // hand-replay at N=3 (nodes 1,2,3), scale 1e9, base 1.5e8: the
    // exact values below hold ONLY if the duplicate edge collapsed
    // (outdeg(1) = 1 — an outdeg of 2 would halve node 2's inbound)
    assert(dup == Map(1L -> 513611110L, 2L -> 881944443L,
      3L -> 1604444443L))
  }

  test("pageRank: an edge frame with no usable edges returns an empty mapping") {
    val out = Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L)))
      .toDF("src", "dst")
    assert(Graph.pageRank(out, iters = 3).count() == 0)
  }

  test("pageRank: rejects nonsense damping and iteration counts") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(e, iters = -1))
    intercept[IllegalArgumentException](Graph.pageRank(e, dampNum = 21L, dampDen = 20L))
    intercept[IllegalArgumentException](Graph.pageRank(e, scale = 0L))
  }

  private type Edge = (java.lang.Long, java.lang.Long)

  /** The recurrence of [[Graph.pageRank]] replayed on the driver in
    * exact BigInt arithmetic: DISTINCT non-NULL edges, nodes = every
    * endpoint, floor divisions on non-negative values. */
  private def reference(edges: Seq[Edge], iters: Int, scale: Long,
                        dampNum: Long, dampDen: Long): Map[Long, Long] = {
    val e = edges.collect { case (s, d) if s != null && d != null =>
      (s.longValue, d.longValue) }.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = BigInt(nodes.size)
    val outdeg = e.groupMapReduce(_._1)(_ => BigInt(1))(_ + _).withDefaultValue(BigInt(0))
    val base = BigInt(scale) * (dampDen - dampNum) / dampDen
    var rank = nodes.map(_ -> BigInt(scale)).toMap
    for (_ <- 0 until iters) {
      val dangShare = nodes.filter(outdeg(_) == 0).map(rank).sum / n
      val in = e.groupMapReduce(_._2)(p => rank(p._1) / outdeg(p._1))(_ + _)
      rank = nodes.map(v =>
        v -> (base + dampNum * (in.getOrElse(v, BigInt(0)) + dangShare) / dampDen)).toMap
    }
    rank.map { case (v, r) => v -> r.toLong }
  }

  /** A random graph with every input shape the operator has to get
    * right: self-loops, parallel edges, NULL endpoints, extreme and
    * negative ids, dst-only sinks, and one hub dst with 10k in-edges. */
  private def messyGraph(seed: Int): Seq[Edge] = {
    val r = new scala.util.Random(seed)
    val pool = Array(Long.MinValue, Long.MaxValue, Long.MinValue + 1, -1L, 0L) ++
      Array.fill(60)(r.nextLong() % 1000)
    def node: java.lang.Long = pool(r.nextInt(pool.length))
    val random = Seq.fill(400)((node, node))
    val loops = pool.take(5).toSeq.map(v => (java.lang.Long.valueOf(v), java.lang.Long.valueOf(v)))
    val hub = java.lang.Long.valueOf(1L << 40)
    val fans = (0 until 10000).map(i => (java.lang.Long.valueOf(5000L + i), hub))
    val sinks = (1 to 5).map(i => (node, java.lang.Long.valueOf((7L << 50) + i)))
    val nulls = Seq[Edge]((null, node), (node, null), (null, null))
    r.shuffle(random ++ random.take(40) ++ loops ++ fans ++ Seq((hub, node)) ++ sinks ++ nulls)
  }

  test("pageRank: bit-identical to an exact driver-side replay at 1, 5 and 16 partitions") {
    // at 16 partitions some hold no src and some receive no block; an
    // edge block of 1 pair ships every pair as its own block
    val layouts = Seq(1, 5, 16).map((_, Graph.EdgeBlockPairs)) :+ ((5, 1))
    for (iters <- 0 to 8) {
      val edges = messyGraph(iters)
      val (dampNum, dampDen) = if (iters % 2 == 0) (17L, 20L) else (5L, 7L)
      val want = reference(edges, iters, 1000000000L, dampNum, dampDen)
      for ((parts, blockPairs) <- layouts) {
        val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters,
          1000000000L, dampNum, dampDen, parts, blockPairs).as[(Long, Long)].collect()
        val at = s"iters $iters parts $parts blockPairs $blockPairs"
        assert(got.length == want.size, at)
        assert(got.toMap == want, at)
      }
    }
  }

  test("pageRank: an overflowing damping multiply throws, never wraps") {
    // 1 ⇄ 2: round 1 computes 17 * scale, past 2^63 at this scale
    val scale = Long.MaxValue / 10
    assert(ranks(Seq((1L, 2L), (2L, 1L)), iters = 0, scale = scale) ==
      Map(1L -> scale, 2L -> scale))
    val e = intercept[Exception](ranks(Seq((1L, 2L), (2L, 1L)), iters = 1, scale = scale))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("pageRank: one job per round; rounds shuffle per-node sums, never edges") {
    // 64 nodes, each a src; within every hash partition the srcs' dst
    // windows cover all 64 nodes at either fanout, so every partition
    // sends a block of sums to every partition whether there are 512
    // edges or 4x
    val parts = 4
    val byPart = (0L until 64L).groupBy(new org.apache.spark.HashPartitioner(parts).getPartition)
    def edges(fanout: Int) = byPart.values.toSeq.flatMap(_.zipWithIndex.flatMap {
      case (s, q) => (0 until fanout).map(j => (s, (q * fanout + j) % 64L)) }).toDF("src", "dst")
    def shape(fanout: Int, iters: Int) =
      JobShape.of(spark, s"pagerank-$fanout-$iters") {
        Graph.pageRank(edges(fanout), "src", "dst", iters, 1000000000L, 17L, 20L, parts,
          Graph.EdgeBlockPairs).collect()
      }._2
    for (iters <- Seq(1, 5)) {
      val jobs = shape(8, iters).jobs
      assert(jobs <= iters + 4, s"pageRank(iters = $iters) submitted $jobs jobs")
    }
    // setup ships edges and dst ids in blocks, not one record per edge
    val setupRecords = shape(32, 0).shuffleRecords
    assert(setupRecords < 2048 / 10, s"setup shuffle records at 2048 edges: $setupRecords")
    def perRound(fanout: Int) = {
      val (a, b) = (shape(fanout, 1), shape(fanout, 5))
      ((b.shuffleRecords - a.shuffleRecords) / 4, (b.shuffleBytes - a.shuffleBytes) / 4)
    }
    val (smallRecords, smallBytes) = perRound(8)
    val (bigRecords, bigBytes) = perRound(32)
    assert(smallRecords <= parts * parts && bigRecords == smallRecords,
      s"records per round: $smallRecords at 512 edges, $bigRecords at 2048")
    // bytes are compressed, so equal records may differ by a few bytes
    assert(bigBytes <= smallBytes * 5 / 4,
      s"shuffle bytes per round: $smallBytes at 512 edges, $bigBytes at 2048")
  }
}
