package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Traversals

/** ScalaCheck-generated property tests from SURVEY.md §5.2, over random
  * digraphs (n ≤ 20, deterministic seeds to keep Spark-job count sane):
  * BFS level == hop distance, BFS visits exactly the reachable set,
  * DFS leaves ⊆ reachable set; every operator on the shared frontier
  * loop (reachableFrom, multiSourceDistances, bfsBidirectional) agrees
  * with a per-source reference BFS on both its local and its
  * distributed path. */
class TraversalPropertySpec extends SparkSpec {
  import spark.implicits._

  def genGraph(maxN: Int): Gen[(Int, Set[(Int, Int)])] = for {
    n <- Gen.choose(2, maxN)
    density <- Gen.choose(1, 4)
    edges <- Gen.listOfN(n * density,
      Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, edges.toSet)

  def sample(i: Int, maxN: Int = 20): (Int, Set[(Int, Int)]) =
    genGraph(maxN).pureApply(Gen.Parameters.default, Seed(42L + i))

  /** First vertex of the padding chain: no sampled vertex reaches it. */
  val PadBase = 1000000L

  /** `edges` as a `(src, dst)` table plus `pad` edges on a chain of
    * vertices from [[PadBase]] up, which no sampled seed can reach:
    * padding past a local-path edge bound forces the distributed loop
    * without changing any answer. */
  def edgeDf(edges: Set[(Int, Int)], pad: Int = 0): org.apache.spark.sql.DataFrame =
    (edges.toSeq.map { case (a, b) => (a.toLong, b.toLong) } ++
      (0 until pad).map(i => (PadBase + i, PadBase + i + 1))).toDF("src", "dst")

  def refBfsLevels(edges: Set[(Int, Int)], start: Int): Map[Int, Int] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var levels = Map(start -> 0)
    var frontier = Set(start)
    var l = 0
    while (frontier.nonEmpty) {
      l += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(levels.contains)
      levels ++= frontier.map(_ -> l)
    }
    levels
  }

  test("BFS levels equal hop distance and cover exactly the reachable set") {
    (0 until 8).foreach { i =>
      val (_, edges) = sample(i)
      val e = edgeDf(edges)
      val got = Traversals.bfsLevels(e, 0).collect()
        .map(r => r.getAs[Long]("vertex").toInt -> r.getAs[Int]("level")).toMap
      assert(got === refBfsLevels(edges, 0), s"graph #$i: $edges")
      // the distributed superstep loop, forced on the same input
      val ep = Traversals.partitionEdges(e)
      try {
        val dist = Traversals.bfsLevelsPrepared(ep, Seq(0L), localMaxEdges = 0L).collect()
          .map(r => r.getAs[Long]("vertex").toInt -> r.getAs[Int]("level")).toMap
        assert(dist === got, s"distributed loop, graph #$i: $edges")
      } finally ep.unpersist(blocking = false)
    }
  }

  test("reachableFrom equals the union of per-seed BFS on its local and distributed paths") {
    (0 until 4).foreach { i =>
      val (n, edges) = sample(500 + i)
      val seeds = Seq(0, n / 2).distinct
      val want = seeds.flatMap(s => refBfsLevels(edges, s).keySet).map(_.toLong).toSet
      for (pad <- Seq(0, Traversals.bfsLocalMaxEdges.toInt + 1)) {
        val got = Traversals.reachableFrom(edgeDf(edges, pad),
          seeds.map(_.toLong).toDF("vertex")).collect().map(_.getLong(0))
        assert(got.length === got.distinct.length, s"duplicate rows, graph #$i pad=$pad")
        assert(got.toSet === want, s"graph #$i pad=$pad: $edges")
      }
    }
  }

  test("multiSourceDistances: every root's slice equals its own single-source BFS") {
    (0 until 3).foreach { i =>
      val (n, edges) = sample(600 + i)
      val roots = (0 until n by 3).map(_.toLong)
      val got = Traversals.multiSourceDistances(edgeDf(edges), roots.toDF("root")).collect()
        .map(r => (r.getAs[Long]("root"), r.getAs[Long]("vertex"), r.getAs[Int]("level")))
      val want = roots.flatMap(r =>
        refBfsLevels(edges, r.toInt).map { case (v, l) => (r, v.toLong, l) })
      assert(got.toSeq.sorted === want.sorted, s"graph #$i: $edges")
    }
  }

  test("bfsBidirectional equals the single-source BFS distance for every vertex pair") {
    (0 until 2).foreach { i =>
      val (n, edges) = sample(700 + i, maxN = 6)
      val e = edgeDf(edges)
      for (s <- 0 until n) {
        val want = refBfsLevels(edges, s)
        for (t <- 0 until n)
          assert(Traversals.bfsBidirectional(e, s.toLong, t.toLong) === want.get(t).map(_.toLong),
            s"graph #$i pair ($s, $t): $edges")
      }
    }
  }

  test("DFS leaves are a non-empty subset of the reachable set") {
    (0 until 8).foreach { i =>
      val (_, edges) = sample(i)
      val e = edgeDf(edges)
      val reach = refBfsLevels(edges, 0).keySet
      val leaves = Traversals.dfsLeaves(e, 0).collect().map(_.getLong(0).toInt).toSet
      assert(leaves.nonEmpty && leaves.subsetOf(reach), s"graph #$i: $edges")
    }
  }

  test("connectedComponents agrees with a reference union-find on random graphs") {
    (0 until 6).foreach { i =>
      val (n, edges) = sample(200 + i)
      val e = edgeDf(edges)
      // reference union-find (undirected)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }
      val expected = touched.map(v => v.toLong -> find(v).toLong).toMap
      val got = Traversals.connectedComponents(e).collect()
        .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("component")).toMap
      // components must partition identically; representative = min id,
      // and union-find with min-root merging yields exactly that
      assert(got === expected, s"graph #$i: $edges")
    }
  }

  test("multi-source BFS equals the min over per-source BFS levels") {
    (0 until 4).foreach { i =>
      val (n, edges) = sample(400 + i)
      val e = edgeDf(edges)
      val starts = Seq(0L, (n / 2).toLong)
      val multi = Traversals.bfsLevelsMulti(e, starts).collect()
        .map(r => r.getAs[Long]("vertex") -> r.getAs[Int]("level")).toMap
      val expected = starts.map(s => refBfsLevels(edges, s.toInt)
          .map { case (v, l) => v.toLong -> l })
        .reduce { (a, b) =>
          (a.keySet ++ b.keySet).map(v =>
            v -> math.min(a.getOrElse(v, Int.MaxValue), b.getOrElse(v, Int.MaxValue))).toMap
        }
      assert(multi === expected, s"graph #$i: $edges")
    }
  }

  test("sssp agrees with a reference Dijkstra on random weighted digraphs") {
    (0 until 6).foreach { i =>
      val (n, edges0) = sample(300 + i)
      val weighted = edges0.toSeq.map { case (a, b) => (a, b, (a + b) % 7 + 1) }
      val e = weighted.map { case (a, b, w) => (a.toLong, b.toLong, w.toLong) }
        .toDF("src", "dst", "w")
      // reference Dijkstra
      val adj = weighted.groupBy(_._1).map { case (s, es) => s -> es.map(t => (t._2, t._3)) }
      val dist = scala.collection.mutable.Map(0 -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, 0))(Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (d == dist(v)) adj.getOrElse(v, Nil).foreach { case (u, w) =>
          if (d + w < dist.getOrElse(u, Long.MaxValue)) { dist(u) = d + w; pq.enqueue((d + w, u)) }
        }
      }
      val got = Traversals.sssp(e, 0L).collect()
        .map(r => r.getAs[Long]("vertex").toInt -> r.getAs[Long]("dist")).toMap
      assert(got === dist.toMap, s"graph #$i: $weighted")
    }
  }

  test("kcore: every vertex of the k-core has >= k neighbors inside the core") {
    (0 until 3).foreach { i =>
      val (_, edges) = sample(200 + i)
      val e = edgeDf(edges)
      val k = 2 + (i % 2)
      val core = Traversals.kcore(e, k).collect().map(_.getLong(0)).toSet
      // undirected adjacency restricted to the core
      val und = edges.flatMap { case (a, b) => Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
        .filter { case (a, b) => a != b && core(a) && core(b) }
      val degIn = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).size }
      core.foreach { v =>
        assert(degIn.getOrElse(v, 0) >= k, s"graph #$i k=$k vertex $v: $edges")
      }
    }
  }

  test("pageRankDeterministic conserves total mass (no dangling vertices)") {
    (0 until 2).foreach { i =>
      val (_, edges) = sample(300 + i)
      // mirror so every vertex has out-edges -> total rank stays |V|
      val und = edges.flatMap { case (a, b) => Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
        .filter { case (a, b) => a != b }.toSeq.distinct
      if (und.nonEmpty) {
        val e = und.toDF("src", "dst")
        val pr = Traversals.pageRankDeterministic(e, iters = 8).collect()
          .map(r => r.getAs[Long]("vertex") -> r.getAs[Double]("rank")).toMap
        val n = und.flatMap(t => Seq(t._1, t._2)).distinct.size
        assert(math.abs(pr.values.sum - n) < 1e-6 * n,
          s"graph #$i: mass ${pr.values.sum} != $n")
        assert(pr.values.forall(_ >= 0.15 - 1e-12))
      }
    }
  }

  test("Pregel BFS agrees with driver-loop BFS on random graphs") {
    (0 until 3).foreach { i =>
      val (_, edges) = sample(100 + i)
      val e = edgeDf(edges)
      val a = Traversals.bfsLevels(e, 0).collect()
        .map(r => (r.getAs[Long]("vertex"), r.getAs[Int]("level"))).toSet
      val b = Traversals.bfsLevelsPregel(e, 0).collect()
        .map(r => (r.getAs[Long]("vertex"), r.getAs[Int]("level"))).toSet
      assert(a === b, s"graph #$i: $edges")
    }
  }
}
