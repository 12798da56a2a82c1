package graftbench

import scala.collection.mutable

/** Reference answers computed in plain Scala, independent of the
  * engine, for every op the benchmark checks. */
object Check {

  /** Directed adjacency: each source's distinct targets, ascending. */
  def adjacency(edges: Iterator[(Long, Long)]): Map[Long, Array[Long]] = {
    val m = mutable.HashMap.empty[Long, mutable.Set[Long]]
    edges.foreach { case (s, d) => m.getOrElseUpdate(s, mutable.HashSet.empty[Long]) += d }
    m.iterator.map { case (s, ds) => s -> ds.toArray.sorted }.toMap
  }

  /** BFS as the engine defines it: `(order, level, vertex)` over the
    * vertices reachable from `start`, ordered by (level, vertex). */
  def bfs(adj: Map[Long, Array[Long]], start: Long): Seq[(Long, Int, Long)] = {
    val seen = mutable.HashSet(start)
    val out = mutable.ArrayBuffer.empty[(Long, Int, Long)]
    var frontier = Array(start)
    var level = 0
    while (frontier.nonEmpty) {
      frontier.sorted.foreach(v => out += ((out.size.toLong, level, v)))
      frontier = frontier.iterator.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .filter(seen.add).toArray
      level += 1
    }
    out.toSeq
  }

  /** DFS-tree leaves from `start`: an explicit-stack walk that always
    * descends into the smallest unvisited neighbour; a vertex is a leaf
    * when it pushed no child. Ascending. */
  def dfsLeaves(adj: Map[Long, Array[Long]], start: Long): Seq[Long] = {
    val visited = mutable.HashSet(start)
    val leaves = mutable.ArrayBuffer.empty[Long]
    // frame = (vertex, next neighbour index, children pushed)
    val stack = mutable.Stack((start, 0, 0))
    while (stack.nonEmpty) {
      val (v, i0, kids) = stack.pop()
      val ns = adj.getOrElse(v, Array.empty[Long])
      var i = i0
      while (i < ns.length && visited.contains(ns(i))) i += 1
      if (i < ns.length) {
        visited += ns(i)
        stack.push((v, i + 1, kids + 1))
        stack.push((ns(i), 0, 0))
      } else if (kids == 0) leaves += v
    }
    leaves.sorted.toSeq
  }

  /** Connected components with edges taken as undirected, by union-find:
    * every endpoint labelled with the smallest vertex of its component. */
  def components(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.iterator.map(v => v -> find(v)).toMap
  }

  /** Sizes of the components, ascending — a summary for mismatch logs. */
  def sizeHistogram(labels: Map[Long, Long]): Seq[(Int, Int)] =
    labels.values.groupBy(identity).values.map(_.size).groupBy(identity)
      .map { case (size, cs) => size -> cs.size }.toSeq.sorted

  /** Power iteration of `pageRankDeterministic`'s definition: every
    * endpoint starts at rank 1; each step a vertex gets
    * `reset + (1 - reset) * Σ rank(u) / outdeg(u)` over its in-edges,
    * counting duplicate edges with their multiplicity. */
  def pageRank(edges: EdgeList, iters: Int, reset: Double): Map[Long, Double] = {
    val ids = (edges.src ++ edges.dst).distinct.sorted
    val index = ids.zipWithIndex.toMap
    val s = edges.src.map(index)
    val d = edges.dst.map(index)
    val outDeg = new Array[Double](ids.length)
    s.foreach(i => outDeg(i) += 1)
    var rank = Array.fill(ids.length)(1.0)
    (1 to iters).foreach { _ =>
      val sum = new Array[Double](ids.length)
      var e = 0
      while (e < s.length) { sum(d(e)) += rank(s(e)) / outDeg(s(e)); e += 1 }
      rank = sum.map(x => reset + (1 - reset) * x)
    }
    ids.indices.iterator.map(i => ids(i) -> rank(i)).toMap
  }

  /** The engine sums fixed-point contributions rounded at 1e-18; a
    * double power iteration differs from it only in the last bits. */
  def rankClose(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** The golden traversals of the reference's sample graphs
    * (`FIXTURES.md`): (name, edges, start, BFS order, DFS leaves). */
  val goldens: Seq[(String, Seq[(Long, Long)], Long, Seq[Long], Seq[Long])] = {
    def und(ps: (Long, Long)*) = ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val g7 = und((0, 1), (0, 4), (1, 2), (2, 3), (4, 5), (4, 6))
    Seq(
      ("G1", Seq((0L, 0L), (1L, 1L)), 0L, Seq(0L), Seq(0L)),
      ("G2", und((0, 1)), 0L, Seq(0L, 1L), Seq(1L)),
      ("G5", und((0, 1), (0, 4), (1, 2), (1, 3)), 0L, Seq(0L, 1L, 4L, 2L, 3L), Seq(2L, 3L, 4L)),
      ("G6", und((0, 1), (0, 2), (0, 3), (1, 4)), 0L, Seq(0L, 1L, 2L, 3L, 4L), Seq(2L, 3L, 4L)),
      ("G7", g7, 0L, Seq(0L, 1L, 4L, 2L, 5L, 6L, 3L), Seq(3L, 5L, 6L)),
      ("G7", g7, 3L, Seq(3L, 2L, 1L, 0L, 4L, 5L, 6L), Seq(5L, 6L)))
  }

  /** Names of the golden cases this checker gets wrong (empty = valid). */
  def goldenFailures(): Seq[String] = goldens.flatMap { case (name, es, start, order, leaves) =>
    val adj = adjacency(es.iterator)
    val okBfs = bfs(adj, start).map(_._3) == order
    val okDfs = dfsLeaves(adj, start) == leaves
    if (okBfs && okDfs) None else Some(s"$name@$start")
  }
}
