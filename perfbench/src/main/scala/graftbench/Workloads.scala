package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{GraphCatalog, Traversals}
import graft.sources.MatrixIO

/** One client request. Only `run`, the call into the engine, is timed.
  * `prepare` (input generation) runs before it and `commit` (the
  * workload's model of the stored graphs follows a write) after it
  * returned. `check` compares the answer with the reference model and
  * returns a mismatch description; checks run after the timed loop, so
  * a check reads only what was captured when the op was made. */
final class Op(val kind: String, val graph: String,
               val prepare: () => Unit, val run: () => Any,
               val commit: () => Unit, val check: Any => Option[String])

/** A named set of inputs and the request stream a closed-loop client
  * sends. Inputs and requests derive only from the seed. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path, val tracer: Tracer) {
  var catalog: GraphCatalog = _

  /** Generate the inputs and write them into a fresh catalog. */
  def populate(cat: GraphCatalog): Unit

  /** The op kinds of the timed loop; the others run only as probes in
    * a traced run, so every layer is traced on every workload. */
  def loopKinds: Seq[String]

  /** Blocks of the request stream run untimed before the loop. Latency
    * keeps falling while the JVM compiles Spark's and graft's hot paths;
    * these blocks absorb most of that fall. */
  def warmupBlocks: Int

  /** The next request of the given kind. */
  def op(kind: String): Op

  /** The next block of requests, built one at a time as the loop asks
    * (a read's expected answer depends on the writes before it). The
    * loop only stops between blocks, so every loop kind is sampled. */
  def nextBlock(): Iterator[Op]

  /** Edges currently stored, for the catalog's bytes-per-edge figure. */
  def liveEdges: Long

  protected def rng(stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  protected def edgesDf(edges: Iterator[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toSeq.toDF("src", "dst")
  }

  /** Load the graph and run one traversal, collecting its answer. */
  protected def read(kind: String, graph: String, start: Long): Array[Row] = {
    val edges = tracer.span("catalog.load")(catalog.load(graph))
    val result = tracer.span(s"traversals.$kind") {
      kind match {
        case "bfs" => Traversals.bfs(edges, start)
        case "dfs" => Traversals.dfsLeaves(edges, start)
        case "cc" => Traversals.connectedComponents(edges)
        case "pagerank" => Traversals.pageRankDeterministic(edges, Workload.PageRankIters, Workload.Reset)
      }
    }
    tracer.span("collect")(result.collect())
  }

  /** A read op over `edges` (the model's edge set when the op was
    * made), checked against the plain-Scala reference answer. */
  protected def readOp(kind: String, graph: String, start: Long, edges: () => EdgeList,
                       adj: () => Map[Long, Array[Long]]): Op = {
    def long(x: Any) = x.asInstanceOf[Number].longValue
    def mismatch[T](got: T, want: T, show: T => String): Option[String] =
      if (got == want) None else Some(s"$kind($graph, $start): got ${show(got)}, want ${show(want)}")
    new Op(kind, graph, () => (), () => read(kind, graph, start), () => (), { res =>
      val rows = res.asInstanceOf[Array[Row]]
      kind match {
        case "bfs" =>
          val got = rows.map(r => (long(r.get(0)), r.getInt(1), long(r.get(2)))).sortBy(_._1).toSeq
          mismatch(got, Check.bfs(adj(), start), (s: Seq[(Long, Int, Long)]) => s.take(8).mkString(",") + s"..(${s.size})")
        case "dfs" =>
          mismatch(rows.map(r => long(r.get(0))).sorted.toSeq, Check.dfsLeaves(adj(), start),
            (s: Seq[Long]) => s.take(8).mkString(",") + s"..(${s.size})")
        case "cc" =>
          val got = rows.map(r => long(r.get(0)) -> long(r.get(1))).toMap
          mismatch(got, Check.components(edges().pairs),
            (m: Map[Long, Long]) => Check.sizeHistogram(m).mkString(","))
        case "pagerank" =>
          val got = rows.map(r => long(r.get(0)) -> r.getDouble(1)).toMap
          val want = Check.pageRank(edges(), Workload.PageRankIters, Workload.Reset)
          val bad = want.count { case (v, x) => !got.get(v).exists(Check.rankClose(_, x)) }
          if (got.size == want.size && bad == 0) None
          else Some(s"pagerank($graph): ${got.size} ranks for ${want.size} vertices, $bad differ")
      }
    })
  }
}

object Workload {
  val PageRankIters = 5
  val Reset = 0.15
  val Kinds: Seq[String] = Seq("write", "bfs", "dfs", "cc", "pagerank")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path, tracer: Tracer): Workload =
    name match {
      case "ref_ops" => new RefOps(spark, seed, work, tracer)
      case "scale" => new ScaleOps(spark, seed, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}

/** The reference envelope: 20 named graphs `G1`..`G20` of at most 100
  * vertices, each kept in its own size/shape stratum, and the
  * reference's ops — write, BFS, DFS leaves — in equal thirds on a
  * random graph and start vertex. Writes parse a freshly generated
  * adjacency-matrix file and replace the whole graph. CC and PageRank
  * run only as traced-run probes: a small-graph PageRank costs as much
  * as six reference ops and would take over the loop. */
final class RefOps(spark: SparkSession, seed: Long, work: Path, tracer: Tracer)
    extends Workload(spark, seed, work, tracer) {
  private val graphs = mutable.HashMap.empty[Int, SmallGraph]
  private def name(k: Int) = s"G${k + 1}"
  private val ops = rng(2)
  private val kinds = Gen.opKinds(loopKinds, ops)
  private var files = 0

  private def writeFile(g: SmallGraph): String = {
    files += 1
    val p = work.resolve(s"matrix-$files.txt")
    Files.write(p, g.matrixText.getBytes("US-ASCII"))
    p.toString
  }

  private def ingest(name: String, path: String): Unit = {
    val edges = tracer.span("sources.readMatrix")(MatrixIO.readMatrix(spark, path))
    tracer.span("catalog.write") {
      if (catalog.exists(name)) catalog.modifyGraph(name, edges) else catalog.addGraph(name, edges)
    }
  }

  def populate(cat: GraphCatalog): Unit = {
    catalog = cat
    graphs.clear()
    val rnd = rng(1)
    (0 until RefOps.Graphs).foreach { k =>
      val g = Gen.smallGraph(k, rnd)
      ingest(name(k), writeFile(g))
      graphs(k) = g
    }
  }

  def loopKinds: Seq[String] = Seq("write", "bfs", "dfs")

  def warmupBlocks: Int = 5

  def nextBlock(): Iterator[Op] = Iterator.fill(loopKinds.size)(op(kinds.next()))

  def op(kind: String): Op = {
    val k = ops.nextInt(RefOps.Graphs)
    if (kind == "write") {
      val g = Gen.smallGraph(k, ops)
      var path = ""
      new Op(kind, name(k), () => path = writeFile(g), () => ingest(name(k), path),
        () => graphs(k) = g, _ => None)
    } else {
      val g = graphs(k)
      lazy val edges = EdgeList(g.edges.map(_._1), g.edges.map(_._2))
      lazy val adj = Check.adjacency(g.edges.iterator)
      readOp(kind, name(k), ops.nextInt(g.n).toLong, () => edges, () => adj)
    }
  }

  def liveEdges: Long = graphs.values.map(_.edges.length.toLong).sum
}

object RefOps {
  /** The reference client's cap on named graphs. */
  val Graphs = 20
}

/** One R-MAT graph far above every local-path threshold, so each
  * traversal takes the distributed superstep loop. Each block appends
  * a seeded 1 % R-MAT delta, then runs one BFS and one DFS leaves: the
  * BFS reads a graph that just grew, the DFS re-reads it unchanged.
  * Reads are checked against the grown edge set, so a stale answer
  * counts as an error, and each append adds files the next load must
  * list. CC and PageRank (2-3.5 s each here) are left to the traced
  * run's probes: in the loop they would halve its samples. */
final class ScaleOps(spark: SparkSession, seed: Long, work: Path, tracer: Tracer)
    extends Workload(spark, seed, work, tracer) {
  private val name = "rmat"
  private val baseEdges = ScaleOps.EdgeFactor << ScaleOps.Scale
  private var edges: EdgeList = _
  private var adjCache: (EdgeList, Map[Long, Array[Long]]) = (null, Map.empty)
  private var roots: Array[Long] = _
  private val ops = rng(2)

  def populate(cat: GraphCatalog): Unit = {
    catalog = cat
    edges = Gen.rmat(ScaleOps.Scale, baseEdges, rng(1))
    // the base graph's 64 largest hubs all reach the giant component
    // within 4-5 levels, so the root draw does not swing the latency
    roots = Gen.hubs(edges.src, 64)
    tracer.span("catalog.write")(catalog.addGraph(name, edgesDf(edges.pairs)))
  }

  /** The reference adjacency of an edge-set snapshot; the BFS and DFS
    * of a block read the same snapshot and share it. */
  private def adjacency(es: EdgeList) = {
    if (adjCache._1 ne es) adjCache = (es, Check.adjacency(es.pairs))
    adjCache._2
  }

  def loopKinds: Seq[String] = Seq("write", "bfs", "dfs")

  def warmupBlocks: Int = 2

  def op(kind: String): Op =
    if (kind != "write") {
      val snapshot = edges
      readOp(kind, name, Gen.root(roots, ops), () => snapshot, () => adjacency(snapshot))
    } else {
      val delta = Gen.rmat(ScaleOps.Scale, baseEdges / 100, ops)
      var df: DataFrame = null
      new Op("write", name, () => df = edgesDf(delta.pairs),
        () => tracer.span("catalog.write")(catalog.addEdges(name, df)),
        () => edges = edges ++ delta, _ => None)
    }

  def nextBlock(): Iterator[Op] = Iterator("write", "bfs", "dfs").map(op)

  def liveEdges: Long = edges.size.toLong
}

object ScaleOps {
  /** 2^13 vertices x 16 = 131k edges: above `denseLocalMaxEdges` and
    * the CC union-find bound (65,536) and 8x above `bfsLocalMaxEdges`,
    * so BFS, DFS, CC and PageRank all run distributed. Scale 16 takes
    * the same paths at two to three times the latency per read, which
    * would leave only two append cycles in a run. */
  val Scale = 13
  val EdgeFactor = 16
}
