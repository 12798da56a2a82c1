package graftbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  test("the checker reproduces the golden traversals of the reference graphs") {
    assert(Check.goldenFailures().isEmpty)
  }

  test("BFS levels and order; unreached vertices are absent") {
    val adj = Check.adjacency(Iterator((0L, 2L), (0L, 1L), (2L, 3L), (1L, 3L), (5L, 0L)))
    assert(Check.bfs(adj, 0) == Seq((0L, 0, 0L), (1L, 1, 1L), (2L, 1, 2L), (3L, 2, 3L)))
    assert(Check.bfs(adj, 4) == Seq((0L, 0, 4L)))
  }

  test("DFS leaves follow the smallest unvisited neighbour first") {
    // 0 -> 1 -> 2, 0 -> 2: 2 is visited through 1, so 1 is not a leaf
    val adj = Check.adjacency(Iterator((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(Check.dfsLeaves(adj, 0) == Seq(2L))
    // a start with no out-edges is itself the only leaf
    assert(Check.dfsLeaves(adj, 2) == Seq(2L))
  }

  test("components treat edges as undirected and label by the smallest id") {
    val labels = Check.components(Iterator((3L, 1L), (5L, 4L), (7L, 7L)))
    assert(labels == Map(1L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 7L -> 7L))
    assert(Check.sizeHistogram(labels) == Seq((1, 1), (2, 2)))
  }

  test("PageRank: a 2-cycle keeps rank 1; duplicate edges count twice") {
    val cyc = Check.pageRank(EdgeList(Array(0L, 1L), Array(1L, 0L)), 5, 0.15)
    assert(cyc.values.forall(Check.rankClose(_, 1.0)))
    // 0 -> 1 twice, 0 -> 2 once: vertex 1 gets 2/3 of 0's rank
    val r = Check.pageRank(EdgeList(Array(0L, 0L, 0L), Array(1L, 1L, 2L)), 1, 0.15)
    assert(Check.rankClose(r(1), 0.15 + 0.85 * 2.0 / 3))
    assert(Check.rankClose(r(2), 0.15 + 0.85 / 3))
    assert(Check.rankClose(r(0), 0.15))
  }
}
