package graftbench

import java.util.SplittableRandom

/** A small graph in the reference's shape: vertices `0 until n`,
  * directed edges as sorted distinct `(src, dst)` pairs. */
final case class SmallGraph(n: Int, edges: Array[(Long, Long)]) {
  /** The reference's adjacency-matrix text: `n`, then `n` rows of `n`
    * space-separated 0/1 cells (row `i`, column `j` = edge `i -> j`). */
  def matrixText: String = {
    val cells = Array.ofDim[Boolean](n, n)
    edges.foreach { case (s, d) => cells(s.toInt)(d.toInt) = true }
    val sb = new StringBuilder
    sb.append(n).append('\n')
    cells.foreach { row =>
      sb.append(row.map(c => if (c) '1' else '0').mkString(" ")).append('\n')
    }
    sb.toString
  }
}

/** Edge list as two parallel arrays (a million boxed tuples would
  * dominate the benchmark's own heap). */
final case class EdgeList(src: Array[Long], dst: Array[Long]) {
  def size: Int = src.length
  def ++(o: EdgeList): EdgeList = EdgeList(src ++ o.src, dst ++ o.dst)
  def pairs: Iterator[(Long, Long)] = src.indices.iterator.map(i => (src(i), dst(i)))
}

/** Seeded input generators. Every generator draws only from the
  * `SplittableRandom` it is handed, whose algorithm is fixed by the
  * JDK specification, so one seed gives the same bytes on every JVM. */
object Gen {

  /** Shapes of the reference-envelope graphs: tree-sparse (density
    * ≈ 2/n), 5 % and 30 % random digraphs, and the degenerate shapes
    * the reference's own samples contain (self-loops only, a forest
    * with several components). */
  val shapes: Seq[String] = Seq("tree", "p05", "p30", "selfloops", "forest")

  /** One graph of stratum `k` in [0, 20): shape `shapes(k % 5)` and `n`
    * uniform in the k-th of 20 bands over [2, 100]. A workload keeps each
    * named graph in its stratum, so every seed holds the same mix of
    * sizes and shapes. Never edgeless, so every traversal has an edge
    * table to read. */
  def smallGraph(k: Int, rnd: SplittableRandom): SmallGraph = {
    val n = 2 + (k * 99 + rnd.nextInt(99)) / 20
    val es = scala.collection.mutable.SortedSet.empty[(Long, Long)]
    def undirected(a: Int, b: Int): Unit = { es += ((a.toLong, b.toLong)); es += ((b.toLong, a.toLong)) }
    def random(p: Double): Unit =
      for (i <- 0 until n; j <- 0 until n) if (rnd.nextDouble() < p) es += ((i.toLong, j.toLong))
    shapes(k % shapes.size) match {
      case "tree" => (1 until n).foreach(v => undirected(v, rnd.nextInt(v)))
      case "p05" => random(0.05)
      case "p30" => random(0.30)
      case "selfloops" => (0 until n).foreach(v => es += ((v.toLong, v.toLong)))
      case "forest" => (1 until n).foreach(v => if (rnd.nextInt(4) != 0) undirected(v, rnd.nextInt(v)))
    }
    if (es.isEmpty) undirected(0, 1)
    SmallGraph(n, es.toArray)
  }

  /** `count` R-MAT edges over `2^scale` vertices (Chakrabarti et al.,
    * SDM 2004) with the Graph500 quadrant probabilities a = .57,
    * b = c = .19, d = .05. Duplicates and self-loops are kept: the
    * catalog stores a multiset edge list. */
  def rmat(scale: Int, count: Int, rnd: SplittableRandom): EdgeList = {
    val src = new Array[Long](count)
    val dst = new Array[Long](count)
    var i = 0
    while (i < count) {
      var s = 0L
      var d = 0L
      var bit = 0
      while (bit < scale) {
        val r = rnd.nextDouble()
        s <<= 1; d <<= 1
        if (r >= 0.57 && r < 0.76) d |= 1
        else if (r >= 0.76 && r < 0.95) s |= 1
        else if (r >= 0.95) { s |= 1; d |= 1 }
        bit += 1
      }
      src(i) = s; dst(i) = d
      i += 1
    }
    EdgeList(src, dst)
  }

  /** The `k` vertices of highest out-degree (ties to the smaller id). */
  def hubs(src: Array[Long], k: Int): Array[Long] =
    src.groupBy(identity).toArray.map { case (v, xs) => (-xs.length, v) }.sorted.take(k).map(_._2)

  /** A start vertex drawn uniformly from `candidates`. */
  def root(candidates: Array[Long], rnd: SplittableRandom): Long = candidates(rnd.nextInt(candidates.length))

  /** The op-kind sequence of a run: repeated blocks of `kinds`, each
    * block in seeded order, so every prefix holds near-fixed shares. */
  def opKinds(kinds: Seq[String], rnd: SplittableRandom): Iterator[String] =
    Iterator.continually {
      val b = kinds.toArray
      var i = b.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t; i -= 1 }
      b.toSeq
    }.flatten
}
