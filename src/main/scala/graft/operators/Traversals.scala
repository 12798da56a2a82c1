package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.storage.StorageLevel

/** Distributed graph traversals re-expressing the reference's two read
  * queries (ops 3/4, `secondary_server.c:117-248`) Spark-first.
  *
  * Determinism contract (SURVEY.md §2.3 / FIXTURES.md): BFS emits
  * `(order, level, vertex)` with ascending vertex id within a level
  * (the reference's within-level order is racy thread interleaving —
  * we define it); DFS leaves follow the reference's effectively
  * sequential ascending-neighbor-order DFS exactly.
  *
  * Scale design: BFS is a driver-controlled level-synchronous loop —
  * the same BSP structure as the reference's thread-per-frontier-node +
  * per-level join barrier (`secondary_server.c:219-234`), and the
  * superstep-on-a-dataflow-engine mapping described by Pregelix
  * (VLDB 2014, see PAPERS.md) — where each level is one distributed
  * `frontier ⋈ edges` hash join. The frontier
  * is re-checkpointed per level (`localCheckpoint`) so lineage stays
  * O(1) per iteration, and the visited set stays a DataFrame (never
  * collected). On a 1000-executor cluster the per-level join shuffles
  * only the frontier (small) against edges partitioned by `src`;
  * pre-partitioning `edges` by `src` once makes every level's join
  * shuffle-free on the edge side.
  */
object Traversals {

  /** RDD ids of the `localCheckpoint` blocks behind `df` (the
    * LogicalRDD leaves of its analyzed plan). */
  private[graft] def checkpointRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  /** Eager localCheckpoint + stats reset ([[graftshim.Bridge
    * .resetCheckpointStats]]): `Dataset.localCheckpoint` inherits the
    * pre-checkpoint size ESTIMATE, and the size-only estimator
    * multiplies child sizes at every join — so an iterative
    * self-joining loop compounds the estimate exponentially across
    * rounds (measured: by round ~10 of the SCC fixpoint the BigInt
    * had millions of digits and single iterations took minutes of
    * driver-side BigInteger math). Every iterative operator here
    * checkpoints through this instead. */
  private implicit class SizedCheckpoint(df: DataFrame) {
    def checkpointSized(): DataFrame =
      org.apache.spark.sql.graftshim.Bridge.resetCheckpointStats(
        df.localCheckpoint(eager = true))
  }

  /** Drop the storage blocks behind a SUPERSEDED eager
    * `localCheckpoint`. Every iterative operator here re-checkpoints
    * its state table per superstep; without an explicit drop the
    * superseded blocks linger until the ContextCleaner's next GC
    * cycle, so a k-superstep run holds k copies of the state table in
    * block storage — harmless at test SF, but at 100 TB (or in a
    * long bench/verify session on a small heap) that accumulation
    * evicts useful blocks and forces execution-memory spills. Only
    * call on checkpoints wholly replaced by an already-materialised
    * successor (`eager = true`): unpersisting a localCheckpoint a
    * live plan still reads would be unrecoverable (lineage is
    * truncated). `keep` exempts blocks shared with a still-live
    * DataFrame (e.g. BFS's current frontier inside the old visited
    * union). */
  private[graft] def dropCheckpoint(df: DataFrame, keep: Set[Int] = Set.empty): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
        if !keep.contains(lr.rdd.id) => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Normalise + cache edges hash-partitioned by `src`, so every BFS
    * level's join reuses the same partitioning instead of reshuffling
    * edges (used by [[bfsLevels]]; callers running many traversals
    * over one graph can pre-partition once and share). */
  def partitionEdges(edges: DataFrame, numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
            else edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // tiny graphs (optimizer size estimate < 1 MiB): the repartition
    // shuffle costs more than it saves — cache as-is
    val tiny = e.queryExecution.optimizedPlan.stats.sizeInBytes < (1L << 20)
    (if (tiny) e else e.repartition(n, col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Frontier rows below this bound are broadcast to the edge side;
    * above it the superstep falls back to a shuffle hash join against
    * the (persisted, src-partitioned) edges — force-broadcasting an
    * O(V) mid-BFS frontier would ship the whole frontier to every
    * executor. */
  val broadcastFrontierMax: Long = 500000L

  /** Edge-count bound for the driver-local BFS fast path: covers the
    * reference's whole graph envelope (≤100 vertices, dense adjacency
    * ⇒ ≤10 000 edges, `client.c:11`) with headroom, while staying a
    * trivially-bounded collect (≤16k × 16 B) — the same bounded-
    * collect contract as the DFS replay (`dfsReplayMaxEdges`). Below
    * it, each BSP superstep's fixed job-scheduling latency (~0.3 s ×
    * depth on a contended host) dwarfs the actual work; at/above it
    * the distributed level loop runs unchanged. */
  val bfsLocalMaxEdges: Long = 16384L

  /** One BSP superstep of the frontier loop: expand the `(key*,
    * vertex)` frontier (`size` rows) one hop along `e`, drop what
    * `visited` already holds for the same key, and pin the result —
    * the caller owns the returned checkpoint. */
  private def expandFrontier(e: DataFrame, frontier: DataFrame, size: Long,
                             visited: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val f = if (size <= broadcastFrontierMax) frontier.hint("broadcast") else frontier
    f.join(e, f("vertex") === e("src"))
      .select(keys.map(f(_)) :+ e("dst").as("vertex"): _*).distinct()
      .join(visited, keys :+ "vertex", "left_anti")
      .checkpointSized() // cut lineage growth per iteration
  }

  /** The distributed level-synchronous frontier loop behind every
    * BFS-shaped operator. `seeds` is a checkpointed `(key*, vertex,
    * level = 0)` table of `seedCount` rows; each superstep is one
    * [[expandFrontier]], and the rows it finds join the visited set
    * at the next level. A vertex joins the visited set the first level
    * it is reached, so level = min hop distance. Keys (e.g. `root`)
    * run independent searches side by side in the same supersteps.
    * Output `(key*, vertex, level)`. */
  private def frontierLevels(e: DataFrame, seeds: DataFrame, seedCount: Long,
                             maxLevels: Int, keys: Seq[String] = Nil): DataFrame = {
    val kv = (keys :+ "vertex").map(col)
    var visited = seeds
    var frontier = visited.select(kv: _*)
    var level = 0
    var sinceCompact = 0
    var frontierSize = seedCount
    while (frontierSize > 0 && level < maxLevels) {
      level += 1
      val next = expandFrontier(e, frontier, frontierSize, visited, keys)
      frontierSize = next.count()
      if (frontierSize > 0) {
        // visited stays a lazy union of already-checkpointed frontiers —
        // no O(|visited|) copy per level; compact every 8 levels so deep
        // graphs keep bounded plan depth
        visited = visited.union(next.select(kv :+ lit(level).as("level"): _*))
        sinceCompact += 1
        if (sinceCompact >= 8) {
          val old = visited
          visited = visited.checkpointSized(); sinceCompact = 0
          // the compacted copy supersedes the per-level checkpoints it
          // unioned — except the current frontier (= next), which the
          // next superstep still joins
          dropCheckpoint(old, keep = checkpointRddIds(next))
        }
        frontier = next
      } else {
        dropCheckpoint(next) // empty expansion: nothing references it
      }
    }
    visited
  }

  /** Driver-local twin of [[frontierLevels]] over a collected edge
    * array: vertex → min hop level from `starts` (level 0), in visit
    * order (seeds, then each level in expansion order). The fast path
    * of every BFS-shaped operator below its bounded-collect bound. */
  private def localBfs(raw: Array[(Long, Long)], starts: Seq[Long],
      maxLevels: Int = Int.MaxValue): scala.collection.mutable.LinkedHashMap[Long, Int] = {
    val adj = raw.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val lvl = scala.collection.mutable.LinkedHashMap[Long, Int](starts.distinct.map(_ -> 0): _*)
    var frontier = starts.distinct
    var level = 0
    while (frontier.nonEmpty && level < maxLevels) {
      level += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .distinct.filterNot(lvl.contains)
      frontier.foreach(v => lvl(v) = level)
    }
    lvl
  }

  /** `(src, dst)` of `e` as longs, collected to the driver. */
  private def collectEdges(e: DataFrame): Array[(Long, Long)] = {
    import e.sparkSession.implicits._
    e.select(col("src").cast("long"), col("dst").cast("long")).as[(Long, Long)].collect()
  }

  /** Level-synchronous BFS: `(vertex: Long, level: Int)` for every vertex
    * reachable from `start` (start itself at level 0). Level = shortest
    * hop distance, because a vertex joins the visited set the first
    * level it is reached. */
  def bfsLevels(edges: DataFrame, start: Long, maxLevels: Int = 10000): DataFrame =
    bfsLevelsMulti(edges, Seq(start), maxLevels)

  /** Multi-source BFS: level(v) = min hop distance from ANY start
    * (landmark-distance shape). Same superstep loop, seeded with the
    * whole start set at level 0. */
  def bfsLevelsMulti(edges: DataFrame, starts: Seq[Long], maxLevels: Int = 10000): DataFrame = {
    // Materialise the (possibly derived/unioned) edge table ONCE,
    // hash-partitioned by src so non-broadcast supersteps reuse the
    // partitioning instead of reshuffling edges every level.
    val e = partitionEdges(edges)
    try bfsLevelsPrepared(e, starts, maxLevels)
    finally e.unpersist(blocking = false)
  }

  /** [[bfsLevelsMulti]] over an edge table the CALLER already
    * normalised and persisted via [[partitionEdges]] — for running many
    * traversals over one graph without re-shuffling/re-caching per call
    * (the shared table is NOT unpersisted here). Graphs of at most
    * `localMaxEdges` edges take the driver-local path. */
  def bfsLevelsPrepared(e: DataFrame, starts: Seq[Long], maxLevels: Int = 10000,
                        localMaxEdges: Long = bfsLocalMaxEdges): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    require(starts.nonEmpty, "at least one start vertex")
    val seeds = starts.distinct
    // Tiny-graph fast path: identical (vertex, min-hop level) output,
    // computed in one pass on the driver. The count also materialises
    // the persisted edge cache, which the distributed loop's first
    // superstep would otherwise pay.
    if (e.count() <= localMaxEdges)
      return localBfs(collectEdges(e), seeds, maxLevels).toSeq.toDF("vertex", "level")
    // the seed frontier's size is known on the driver: no count job
    frontierLevels(e, seeds.map((_, 0)).toDF("vertex", "level").checkpointSized(),
      seeds.length.toLong, maxLevels)
  }

  /** Per-root hop distances from a SET of root vertices — the
    * landmark-distance table behind closeness / harmonic centrality.
    * Unlike [[bfsLevelsMulti]] (which folds all seeds into one
    * min-distance), state and frontier here are keyed `(root,
    * vertex)`, so k roots run as ONE level-synchronous BFS with
    * k-fold state: each superstep is a single frontier⋈edges join no
    * matter how many roots are in flight, not k sequential BFS jobs
    * (k jobs would pay k× the superstep barrier latency — the
    * dominant cost of iterative ops on a cluster). At 100 TB the
    * roots are a sampled landmark set, state is O(k·V) rows
    * hash-partitioned like any other table; exact centrality (roots =
    * all vertices) is only for small/medium graphs by construction.
    * Output: `(root: Long, vertex: Long, level: Int)`, one row per
    * reachable pair, level = shortest hop distance (root itself 0). */
  def multiSourceDistances(edges: DataFrame, roots: DataFrame,
                           maxLevels: Int = 10000): DataFrame = {
    val e = partitionEdges(edges)
    try {
      val seeds = roots.select(col("root").cast("long"))
        .distinct()
        .select(col("root"), col("root").as("vertex"), lit(0).as("level"))
        .checkpointSized()
      frontierLevels(e, seeds, seeds.count(), maxLevels, keys = Seq("root"))
    } finally e.unpersist(blocking = false)
  }

  /** Reference op=4: BFS traversal sequence. Output
    * `(order: Long, level: Int, vertex: Long)`, order 0-based over
    * (level asc, vertex asc).
    *
    * The global (level, vertex) rank is computed as a TWO-PHASE scan,
    * not one unpartitioned `Window.orderBy` (which funnels the whole
    * reachable set through a single task): phase 1 ranks vertices
    * WITHIN each level (parallel across levels), phase 2
    * window-cumsums the per-level counts (one row per level — tiny)
    * and broadcasts each level's starting offset back. */
  def bfs(edges: DataFrame, start: Long): DataFrame = {
    val lv = bfsLevels(edges, start)
    val wInLevel = Window.partitionBy(col("level")).orderBy(col("vertex"))
    val wLevels = Window.orderBy(col("level"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = lv.groupBy(col("level")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wLevels), lit(0)))
      .select(col("level"), col("off"))
    lv.join(broadcast(offsets), Seq("level"))
      .select((row_number().over(wInLevel) - 1 + col("off")).cast("long").as("order"),
        col("level").cast("int").as("level"), col("vertex").cast("long").as("vertex"))
  }

  /** GraphX Pregel variant of [[bfsLevels]] (cross-check + the
    * "GraphX for analytics" path). Same output contract. */
  def bfsLevelsPregel(edges: DataFrame, start: Long): DataFrame =
    bfsLevelsPregelOn(edges.sparkSession, GraphAlgos.unitGraph(edges), start)

  /** [[bfsLevelsPregel]] over an ALREADY BUILT (possibly session-
    * staged, [[GraphAlgos.stagedUnitGraph]]) unit graph: the
    * fromEdges build is per-fixture derivation a caller stages once;
    * reps/traversals pay only the supersteps. Identical output — the
    * mapVertices seeding reproduces the fromEdges[Int,...] default
    * attribute exactly, and Pregel's per-iteration unpersist touches
    * only its own wrapper RDDs, never the staged parent's blocks. */
  def bfsLevelsPregelOn(spark: SparkSession, g0: Graph[Unit, Unit],
                        start: Long): DataFrame = {
    import spark.implicits._
    GraphAlgos.ensureGraphCheckpointDir(spark.sparkContext)
    val g = g0.mapVertices((id, _) => if (id == start) 0 else Int.MaxValue)
    val res = g.pregel(Int.MaxValue)(
      (_, attr, msg) => math.min(attr, msg),
      t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
             Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    val out = res.vertices.filter(_._2 != Int.MaxValue)
      .map { case (v, l) => (v, l) }.toDF("vertex", "level")
    // Isolated start vertex: fromEdges only materialises endpoint vertices.
    if (out.where(col("vertex") === start).isEmpty)
      out.union(Seq((start, 0)).toDF("vertex", "level"))
    else out
  }

  /** Replay inputs above this edge count abort with a clear error
    * instead of a driver OOM (the reference contract bounds graphs at
    * n=100; this guard is ~4 orders of magnitude above that). 5 M
    * edges ≈ 80 MB collected — safe on any plausible driver heap,
    * where the previous 50 M default permitted an ~800 MB collect
    * before the guard tripped (r10 VERDICT watch item). Callers with
    * a big driver opt in per call via `maxReplayEdges`. */
  val dfsReplayMaxEdges: Long = 5000000L

  /** The [[dfsLeaves]] r13 replay-input reduction on a collected edge
    * array: reachable-src, self-loop-free, not-into-start, deduped —
    * exactly the distributed reduction's row set. */
  private def localReducedAdjacency(raw: Array[(Long, Long)],
      start: Long): Array[(Long, Long)] = {
    val reach = localBfs(raw, Seq(start)).keySet
    raw.filter { case (s, d0) => s != d0 && d0 != start && reach(s) }.distinct
  }

  /** Reference op=3: leaf nodes of the DFS tree from `start`
    * (`secondary_server.c:142-176`). A vertex is a leaf iff its DFS
    * expansion finds no unvisited neighbor (checked incrementally in
    * ascending neighbor order, each child fully explored before the
    * next check — the reference joins each child thread immediately,
    * so its DFS is sequential and deterministic).
    *
    * Two phases: (1) distributed reachability (the part that scales —
    * same machinery as BFS); (2) deterministic replay over the
    * *reachable* adjacency only, collected to the driver. The replay is
    * O(reachable edges); DFS-tree-with-order is inherently sequential
    * (P-complete), so the collected-replay split is the honest design:
    * phase 1 bounds phase 2's input to the component actually reached.
    * Output: `(vertex: Long)` ascending.
    */
  def dfsLeaves(edges: DataFrame, start: Long,
                maxReplayEdges: Long = dfsReplayMaxEdges,
                localMaxEdges: Long = GraphAlgos.denseLocalMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // dense-small-graph fast path (r20): below the audited bounded-
    // collect contract the reachability pass, the r13 reduction, and
    // the (already driver-side) replay all run on one collected edge
    // array — the distributed path paid ~8 jobs of pure barrier
    // latency on the memoized mod-150 fixture (packed task time
    // ~0.01 s under a ~1 s wall). The reduction classes are identical,
    // so the replay — and therefore the leaf set — is bit-identical.
    val eCast = edges.select(col("src").cast("long"), col("dst").cast("long"))
    if (eCast.count() <= localMaxEdges) {
      val raw = eCast.as[(Long, Long)].collect()
      val reduced = localReducedAdjacency(raw, start)
      // the caller's driver-memory refusal contract is on the REDUCED
      // adjacency — the local reduction produces the identical row
      // set, so the guard fires exactly where the distributed path's
      // require fires
      require(reduced.length <= maxReplayEdges,
        s"DFS-tree replay needs the reachable adjacency on the driver: " +
          s"${reduced.length} reduced edges exceed dfsReplayMaxEdges=$maxReplayEdges " +
          "(DFS order is inherently sequential; use dfsLeafClasses for a " +
          "distributed any-scale leaf/internal classification, or " +
          "bfsLevels/sssp for traversals that must scale past driver memory)")
      return replayDfsLeaves(reduced, start).toSeq.sorted.toDF("vertex")
    }
    val reach = bfsLevels(edges, start).select("vertex")
    // Replay-input REDUCTION (r13, exactness-preserving — spec-pinned):
    // an edge whose target is always-already-visited when its source
    // is expanded can never push a child, never increments childCount,
    // and never extends reachability — dropping it leaves the replay's
    // visit order, tree, and leaf set bit-identical. Three such
    // classes are droppable DISTRIBUTIVELY before the collect:
    // self-loops (v visited when v expands), edges into `start`
    // (visited from step 0), and duplicate rows (the replay dedups
    // per-vertex anyway — dedup on the cluster instead of the driver,
    // which on a multigraph shrinks the collect by the multiplicity).
    // The 5M bound now applies to the REDUCED adjacency: graphs over
    // the raw bound still replay exactly when their reduced form fits.
    val reachableEdges = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst") && col("dst") =!= lit(start))
      .join(reach, col("src") === reach("vertex"), "left_semi")
      .distinct()
    val nEdges = reachableEdges.count()
    require(nEdges <= maxReplayEdges,
      s"DFS-tree replay needs the reachable adjacency on the driver: " +
        s"$nEdges reduced edges exceed dfsReplayMaxEdges=$maxReplayEdges " +
        "(DFS order is inherently sequential; use dfsLeafClasses for a " +
        "distributed any-scale leaf/internal classification, or " +
        "bfsLevels/sssp for traversals that must scale past driver memory)")
    val adjRows = reachableEdges.as[(Long, Long)].collect()
    replayDfsLeaves(adjRows, start).toSeq.sorted.toDF("vertex")
  }

  /** The sequential explicit-stack DFS replay (smallest-unvisited-
    * neighbor order — the reference's recursion with childCount per
    * frame): returns the DFS-tree leaf set. Shared by [[dfsLeaves]]
    * and [[dfsLeafResidual]]; both feed it a REDUCED adjacency whose
    * dropped edges provably never push a child, so the walk is
    * bit-identical to the full-graph replay. */
  private def replayDfsLeaves(adjRows: Array[(Long, Long)], start: Long): Array[Long] = {
    val adj: Map[Long, Array[Long]] =
      adjRows.groupBy(_._1).map { case (s, a) => s -> a.map(_._2).sorted }
    val visited = scala.collection.mutable.Set[Long](start)
    val leaves = scala.collection.mutable.ArrayBuffer[Long]()
    final class Frame(val v: Long) {
      val it: Iterator[Long] = adj.getOrElse(v, Array.empty[Long]).iterator
      var childCount = 0
    }
    val stack = scala.collection.mutable.Stack(new Frame(start))
    while (stack.nonEmpty) {
      val f = stack.top
      var pushed = false
      while (!pushed && f.it.hasNext) {
        val u = f.it.next()
        if (!visited(u)) {
          f.childCount += 1
          visited += u
          stack.push(new Frame(u))
          pushed = true
        }
      }
      if (!pushed) {
        stack.pop()
        if (f.childCount == 0) leaves += f.v
      }
    }
    leaves.toArray
  }

  /** Distributed DFS-leaf classification at ANY scale — the path past
    * [[dfsReplayMaxEdges]] (r12 VERDICT item 4). Labels every vertex
    * reachable from `start` as
    *  - `leaf`: a DFS-tree leaf in EVERY DFS order,
    *  - `internal`: a non-leaf in EVERY DFS order,
    *  - `undecided`: order-dependent — only a replay can settle it.
    *
    * Sound rules (each holds for every traversal order, so no replay
    * is needed):
    *  - `leaf`      — v's out-neighbors ⊆ {v, start}: a self-loop
    *                  target is visited the moment v is expanded and
    *                  `start` is visited from step 0, so v can never
    *                  push an unvisited child.
    *  - `internal`  — some out-neighbor u ∉ {v, start} has v as its
    *                  ONLY reachable non-self in-neighbor: u can only
    *                  ever be DISCOVERED from v, so u joins the tree
    *                  as v's child in every DFS. `start` itself is
    *                  internal whenever it has any out-neighbor
    *                  outside {start} (at its first expansion nothing
    *                  else is visited, so the smallest one is pushed).
    *
    * NOT sound (documented because it looks tempting): "every
    * out-neighbor at a strictly smaller BFS level ⇒ leaf".
    * Counterexample: edges 0→1, 0→2, 1→3, 3→2 with start 0. Vertex 3
    * (level 2) has the single out-neighbor 2 (level 1), yet the DFS
    * visits 0,1,3 and THEN discovers 2 from 3 — vertex 3 is a push
    * parent. BFS levels say nothing about what a depth-first walk has
    * already visited; only dominator-style arguments (the rules
    * above are the degree-1 instances) survive every order.
    *
    * Cost: the BFS reachability plus two edge-keyed aggregations and
    * vertex-keyed joins — every step an equi-shuffle on vertex/edge
    * keys, no quadratic blowup, no driver state; at 100 TB this is
    * the operator a pipeline runs where the sequential replay cannot.
    * Output `(vertex, cls)`; `cls` string per the labels above. */
  def dfsLeafClasses(edges: DataFrame, start: Long): DataFrame = {
    // Stage the (possibly expensive) edge derivation ONCE: the same
    // src-partitioned cache feeds both the BFS supersteps and the
    // classification side's semi-join. Before r21 the raw `edges`
    // lineage was computed twice — once into partitionEdges' cache
    // inside bfsLevels, once more for `e` — which for a derived input
    // (q_graph_dfs_classes: lineitem scan + distinct + union) doubles
    // the derivation work. Self-loops are dropped up front: they never
    // change reachability or levels, and the classification side
    // filtered them anyway, so reach and e are row-identical.
    val ePart = partitionEdges(
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .where(col("src") =!= col("dst")))
    try dfsLeafClassesOn(ePart, start)
    finally ePart.unpersist(blocking = false)
  }

  /** [[dfsLeafClasses]] over an ALREADY staged src-partitioned,
    * self-loop-free, long-typed edge table ([[partitionEdges]]
    * contract) — for callers that memoize the derivation per fixture
    * generation (the pageRankDeterministicStaged convention); the
    * input's cache is never released here. Output identical to
    * [[dfsLeafClasses]] on the same edge set. */
  def dfsLeafClassesPrepared(ePart: DataFrame, start: Long): DataFrame =
    dfsLeafClassesOn(ePart, start)

  private def dfsLeafClassesOn(ePart: DataFrame, start: Long): DataFrame = {
    val reach = bfsLevelsPrepared(ePart, Seq(start))
      .select("vertex").checkpointSized()
    // reachable-src, deduped edge set (self-loops already dropped by
    // the caller); every dst is then reachable too (one BFS step from
    // a reachable src). Pinned: both classification aggregations read
    // it (measured r21: leaving it lazy re-runs the semi-join subtree
    // per consumer inside the final plan and reads ~15% SLOWER — the
    // checkpoint stays)
    val e = ePart
      .join(reach, ePart("src") === reach("vertex"), "left_semi")
      .distinct()
      .checkpointSized()
    // "expanding" edges — those that could ever push a child
    val ex = e.where(col("dst") =!= lit(start))
    val hasChildCandidate = ex.select(col("src").as("vertex")).distinct()
    // u with exactly one distinct reachable non-self in-neighbor v:
    // v is internal-certain (u is discoverable only through v)
    val onlyParents = ex.groupBy("dst")
      .agg(count(lit(1)).as("nin"), min(col("src")).as("v"))
      .where(col("nin") === 1)
      .select(col("v").as("vertex")).distinct()
    val internalStart = hasChildCandidate
      .where(col("vertex") === lit(start))
    val internals = onlyParents.union(internalStart).distinct()
    val out = reach
      .join(hasChildCandidate.withColumn("has_out", lit(true)), Seq("vertex"), "left_outer")
      .join(internals.withColumn("is_int", lit(true)), Seq("vertex"), "left_outer")
      .select(col("vertex"),
        when(col("has_out").isNull, lit("leaf"))
          .when(col("is_int").isNotNull, lit("internal"))
          .otherwise(lit("undecided")).as("cls"))
    // pin the result BEFORE releasing the intermediates its plan reads
    val pinned = out.localCheckpoint(eager = true)
    dropCheckpoint(reach)
    dropCheckpoint(e)
    pinned
  }

  /** The [[dfsLeafClasses]] order-invariant rules on a collected edge
    * array — (vertex, cls) for every reachable vertex, identical
    * labels to the distributed aggregation. */
  private def localLeafClasses(raw: Array[(Long, Long)],
      start: Long): Seq[(Long, String)] = {
    val reach = localBfs(raw, Seq(start)).keySet
    val e = raw.filter { case (s, d0) => s != d0 && reach(s) }.distinct
    val ex = e.filter(_._2 != start)
    val hasOut = ex.map(_._1).toSet
    val onlyParents = ex.groupBy(_._2).collect {
      case (_, ins) if ins.length == 1 => ins.head._1
    }.toSet
    val internals =
      onlyParents ++ (if (hasOut(start)) Set(start) else Set.empty[Long])
    reach.toSeq.sorted.map { v =>
      val cls =
        if (!hasOut(v)) "leaf"
        else if (internals(v)) "internal"
        else "undecided"
      (v, cls)
    }
  }

  /** [[dfsLeafClasses]] with the `undecided` residue SETTLED exactly
    * (r13 VERDICT item 4): output `(vertex, cls_rule, cls_final)` —
    * `cls_rule` is the order-invariant rule label (leaf / internal /
    * undecided), `cls_final` the exact class under the deterministic
    * smallest-neighbor DFS, obtained by a RESIDUAL replay when rules
    * alone don't settle everything.
    *
    * The residual replay's input is the reachable adjacency after two
    * exactness-preserving reductions, both distributed:
    *  1. the [[dfsLeaves]] r13 reduction (self-loops, edges into
    *     `start`, duplicate rows — never push, never count);
    *  2. iterated CERTAIN-PARENT back-edge drops: when v's only live
    *     in-neighbor is p, every DFS discovers v from p, so p is
    *     always visited before v and the back-edge v→p can never push
    *     — drop it. Each drop shrinks in-neighbor sets, which can
    *     mint new unique parents, so the rule iterates to fixpoint
    *     (each round: one dst-keyed agg + one anti-join). Dropped
    *     edges provably never discover their target, so unique-
    *     in-neighbor over the LIVE set remains "unique possible
    *     discoverer" at every round — the induction that keeps the
    *     replay bit-identical;
    *  3. when the parent rule stalls, one forest-ANCESTOR pass
    *     ([[certainAncestorInert]], r14 VERDICT item 5): deeper
    *     back-edges v→g where g sits anywhere on v's certain-parent
    *     CHAIN are equally inert (every DFS visits g strictly before
    *     v, same induction) but invisible to the length-1 rule; the
    *     pointer-jump walk finds them in O(log depth) rounds. An
    *     ancestor drop shrinks in-neighbor sets and can mint new
    *     unique parents, so the cheap parent fixpoint resumes after
    *     any movement — alternating until neither rule drops.
    *
    * When the reduced adjacency still exceeds `maxResidualEdges`, the
    * replay is refused with the same honest error as [[dfsLeaves]] —
    * callers keep the rule classes (with `undecided` as the measured
    * residue) via [[dfsLeafClasses]]. When no vertex is undecided the
    * replay is skipped outright. */
  def dfsLeafResidual(edges: DataFrame, start: Long,
                      maxResidualEdges: Long = dfsReplayMaxEdges,
                      maxReduceRounds: Int = 30,
                      localMaxEdges: Long = GraphAlgos.denseLocalMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // dense-small-graph fast path (r20): rule classes + replay on one
    // collected edge array. The distributed path's certain-parent /
    // certain-ancestor reductions exist to FIT the replay input on the
    // driver; every reduction is exactness-preserving (the replay
    // result is invariant to them — the soundness induction in the
    // scaladoc), so below the bounded-collect contract the replay runs
    // directly on the r13-reduced adjacency and cls_final is
    // bit-identical. Measured motivation: packed task time ~0.05 s
    // under a 3.3-3.5 s wall — ~30 reduction-round barriers on a
    // ≤ 22k-edge memoized fixture.
    val eCastL = edges.select(col("src").cast("long"), col("dst").cast("long"))
    if (eCastL.count() <= localMaxEdges) {
      val raw = eCastL.as[(Long, Long)].collect()
      val reduced = localReducedAdjacency(raw, start)
      // honour the refusal contract: the distributed path decides on
      // the adjacency AFTER its certain-parent/ancestor reductions, so
      // when the r13-reduced set alone exceeds the cap, fall through
      // (the deeper reductions may still fit it; a local refusal here
      // would fire where the old path succeeded)
      if (reduced.length <= maxResidualEdges) {
        val classes = localLeafClasses(raw, start)
        val leaves = replayDfsLeaves(reduced, start).toSet
        return classes.map { case (v, cls) =>
          (v, cls, if (leaves(v)) "leaf" else "internal")
        }.toDF("vertex", "cls_rule", "cls_final")
      }
    }
    val classes = dfsLeafClasses(edges, start)
    val nUndecided = classes.where(col("cls") === "undecided").count()
    if (nUndecided == 0L) {
      val settled = classes
        .select(col("vertex"), col("cls").as("cls_rule"), col("cls").as("cls_final"))
        .localCheckpoint(true)
      dropCheckpoint(classes)
      return settled
    }
    val reachVerts = classes.select(col("vertex"))
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst") && col("dst") =!= lit(start))
    var e = e0.join(reachVerts, e0("src") === reachVerts("vertex"), "left_semi")
      .distinct().checkpointSized()
    var nLive = e.count()
    var round = 0
    var outer = 1L
    while (outer > 0 && round < maxReduceRounds) {
      // the cheap certain-PARENT rounds, to their own fixpoint
      var dropped = 1L
      while (dropped > 0 && round < maxReduceRounds) {
        round += 1
        val uniq = e.groupBy("dst")
          .agg(count(lit(1)).as("nin"), min(col("src")).as("p"))
          .where(col("nin") === 1)
          .select(col("dst").as("cv"), col("p"))
        val e2 = e.join(uniq, e("src") === col("cv") && e("dst") === col("p"),
            "left_anti")
          .checkpointSized()
        val n2 = e2.count()
        dropped = nLive - n2
        dropCheckpoint(e)
        e = e2
        nLive = n2
      }
      // parent rule stalled: one forest-ANCESTOR pass (rule 3 above);
      // any movement can mint new unique parents, so resume the cheap
      // fixpoint — alternate until neither rule drops an edge
      if (round < maxReduceRounds) {
        round += 1
        val inert = certainAncestorInert(e)
        val e2 = e.join(inert, Seq("src", "dst"), "left_anti").checkpointSized()
        dropCheckpoint(inert)
        dropCheckpoint(e)
        e = e2
        val n2 = e.count()
        outer = nLive - n2
        nLive = n2
      } else outer = 0L
    }
    require(nLive <= maxResidualEdges,
      s"DFS residual replay needs the reduced reachable adjacency on the " +
        s"driver: $nLive live edges exceed maxResidualEdges=$maxResidualEdges " +
        "(use dfsLeafClasses for the rule classes with the undecided residue)")
    val leaves = replayDfsLeaves(e.as[(Long, Long)].collect(), start)
    dropCheckpoint(e)
    val leafDf = leaves.toSeq.toDF("lv").withColumn("is_leaf", lit(true))
    val out = classes.join(leafDf, classes("vertex") === col("lv"), "left_outer")
      .select(col("vertex"), col("cls").as("cls_rule"),
        when(col("is_leaf").isNotNull, lit("leaf"))
          .otherwise(lit("internal")).as("cls_final"))
    val pinned = out.localCheckpoint(true)
    dropCheckpoint(classes)
    pinned
  }

  /** Forest-ancestor back-edge detection (r14 VERDICT item 5), the
    * generalization of the certain-PARENT rule: over the live edge set
    * `e`, build the unique-parent forest F (v → its unique live
    * in-neighbor), and return every edge (v, a) whose dst `a` lies on
    * v's certain-ancestor CHAIN — v, parent(v), parent(parent(v)), …
    * Such an edge can never push: by induction each chain vertex is
    * discoverable only from the next, so EVERY DFS visits a strictly
    * before v, and when v expands, a is already visited. (The parent
    * rule is the chain-length-1 case.)
    *
    * F restricted to reachable vertices is ACYCLIC: a certain-parent
    * cycle would make every member discoverable only from inside the
    * cycle, contradicting reachability from `start` (edges into
    * `start` are already excluded from `e`), so pointer machinery
    * terminates. All state is bounded and distributed:
    *   - depth(v) = exact chain length to v's root, by pointer
    *     DOUBLING on F (≤ ⌈log₂ depth⌉ rounds, table ≤ |F| rows);
    *   - jump tables J_k (v → ancestor at exactly 2^k), J_{k+1} =
    *     J_k ∘ J_k, each ≤ |F| rows;
    *   - the ancestry test per candidate edge (v, a): walk v up
    *     exactly depth(v) − depth(a) steps by binary decomposition
    *     over the J_k (≤ ⌈log₂ depth⌉ joins over ≤ |E| rows) and
    *     compare the landing vertex to a. depth is exact, so the
    *     required jumps always exist; a lands on the chain iff the
    *     walk hits it. No transitive-closure materialization — the
    *     ancestor-PAIR set is O(V·depth) on a path graph, while this
    *     is O((V+E)·log depth). */
  private[graft] def certainAncestorInert(e: DataFrame): DataFrame = {
    val f = e.groupBy("dst")
      .agg(count(lit(1)).as("nin"), min(col("src")).as("p"))
      .where(col("nin") === 1)
      .select(col("dst").as("v"), col("p"))
      .checkpointSized()
    // jump tables: J_0 = F; J_{k+1} = J_k ∘ J_k (empty once 2^k
    // exceeds the max depth — the loop's termination witness)
    var jk = f.select(col("v"), col("p").as("a")).checkpointSized()
    val jumps = scala.collection.mutable.ArrayBuffer(jk)
    var jn = jk.count()
    while (jn > 0 && jumps.size < 34) {
      val nxt = jk.as("x").join(jk.as("y"), col("x.a") === col("y.v"))
        .select(col("x.v").as("v"), col("y.a").as("a"))
        .checkpointSized()
      jumps += nxt
      jk = nxt
      jn = nxt.count()
    }
    // depth by doubling over the same forest: (v, up, d) with up the
    // farthest known ancestor and d its distance; converged when no
    // up still has a parent
    var depth = f.select(col("v"), col("p").as("up"), lit(1L).as("d"))
      .checkpointSized()
    var open = 1L
    var dk = 0
    while (open > 0 && dk < 34) {
      dk += 1
      val nd = depth.as("x").join(depth.as("y"),
          col("x.up") === col("y.v"), "left_outer")
        .select(col("x.v").as("v"),
          coalesce(col("y.up"), col("x.up")).as("up"),
          (col("x.d") + coalesce(col("y.d"), lit(0L))).as("d"))
        .checkpointSized()
      dropCheckpoint(depth)
      depth = nd
      open = depth.as("x").join(f.as("y"),
        col("x.up") === col("y.v"), "left_semi").count()
    }
    val dep = depth.select(col("v"), col("d"))
    // candidate edges: dst strictly shallower than src on SOME chain
    val cand = e
      .join(dep.select(col("v").as("src"), col("d").as("ds")), Seq("src"), "left_outer")
      .join(dep.select(col("v").as("dst"), col("d").as("dd")), Seq("dst"), "left_outer")
      .select(col("src"), col("dst"),
        (coalesce(col("ds"), lit(0L)) - coalesce(col("dd"), lit(0L))).as("delta"))
      .where(col("delta") >= 1)
    var w = cand.select(col("src"), col("dst"),
        col("src").as("cur"), col("delta").as("rem"))
      .checkpointSized()
    for (k <- jumps.indices.reverse) {
      val step = 1L << k
      val m = jumps(k).select(col("v").as("jv"), col("a").as("ja"))
      val nw = w.join(m, w("cur") === col("jv") && w("rem") >= lit(step), "left_outer")
        .select(w("src"), w("dst"),
          when(col("ja").isNotNull, col("ja")).otherwise(w("cur")).as("cur"),
          when(col("ja").isNotNull, w("rem") - lit(step)).otherwise(w("rem")).as("rem"))
        .checkpointSized()
      dropCheckpoint(w)
      w = nw
    }
    val inert = w.where(col("rem") === 0 && col("cur") === col("dst"))
      .select("src", "dst")
      .checkpointSized()
    dropCheckpoint(f)
    jumps.foreach(dropCheckpoint(_))
    dropCheckpoint(depth)
    dropCheckpoint(w)
    inert
  }

  /** Per-round live-edge trace of the unified certain-ANCESTOR
    * reduction on the reachable adjacency — the measured evidence
    * that the r14 forest-ancestor rule shrinks the residual replay
    * input (gate entry q_graph_dfs_reduce; the DuckDB oracle
    * replays the identical rounds with a recursive ancestor-closure
    * CTE). Round r: build the unique-parent forest over the current
    * live set, drop every edge whose dst is a certain ancestor of its
    * src (parent = chain length 1 included), count. Dropping edges
    * shrinks in-neighbor sets and can mint new unique parents — the
    * reason the rule iterates. Output (round, n_live, n_dropped),
    * one row per round 1..rounds. */
  def certainReductionTrace(edges: DataFrame, start: Long,
                            rounds: Int = 3): DataFrame = {
    val live = reductionLiveSet(edges, start)
    val out = certainReductionTraceLive(live, rounds)
    dropCheckpoint(live)
    out
  }

  /** The reachability-restricted live edge set
    * [[certainReductionTraceLive]] iterates over: self-loops and
    * edges into `start` removed, sources restricted to the vertices
    * BFS reaches from `start`, deduped, pinned. Exposed so callers
    * can STAGE it per graph generation (the pageRankEdgeTable /
    * IVF-index convention): the BFS here is a depth-many sequence of
    * driver-loop supersteps — on a deep chain it dominates the trace
    * wall time while being pure per-fixture derivation, exactly the
    * rebuild a production deployment materializes once. Caller owns
    * the returned checkpoint. */
  def reductionLiveSet(edges: DataFrame, start: Long): DataFrame = {
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val reach = bfsLevels(e0, start).select("vertex").checkpointSized()
    val live = e0.where(col("src") =!= col("dst") && col("dst") =!= lit(start))
      .join(reach, e0("src") === reach("vertex"), "left_semi")
      .distinct().checkpointSized()
    dropCheckpoint(reach)
    live
  }

  /** The per-round reduction trace over a pre-built
    * [[reductionLiveSet]]. Never drops the INPUT's checkpoint — the
    * caller (possibly a session memo) owns it. */
  def certainReductionTraceLive(live: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = live.sparkSession
    import spark.implicits._
    var e = live
    var nLive = e.count()
    val trace = (1 to rounds).map { r =>
      val inert = certainAncestorInert(e)
      val e2 = e.join(inert, Seq("src", "dst"), "left_anti").checkpointSized()
      dropCheckpoint(inert)
      if (e ne live) dropCheckpoint(e)
      e = e2
      val n2 = e.count()
      val row = (r.toLong, n2, nLive - n2)
      nLive = n2
      row
    }
    if (e ne live) dropCheckpoint(e)
    trace.toDF("round", "n_live", "n_dropped")
  }

  /** Weighted single-source shortest paths by iterative relaxation
    * (distributed Bellman-Ford): each round relaxes every edge once;
    * distances only decrease, so the monotone sum is the convergence
    * witness (same pattern as [[connectedComponents]]). Converges in
    * ≤ |V| rounds; non-negative integer weights. Input
    * `(src, dst, w)`; output `(vertex, dist)` for reachable vertices. */
  def sssp(edges: DataFrame, start: Long, maxIters: Int = 10000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("long")).persist(StorageLevel.MEMORY_AND_DISK)
    var dists = Seq((start, 0L)).toDF("vertex", "dist").checkpointSized()
    // decimal(38,0) sum: a Long sum would wrap (non-ANSI) once
    // |V| × max(dist) passes 2^63 and the monotone-witness argument dies
    def witness(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)), sum(col("dist").cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    var prev: (Long, java.math.BigDecimal) = (-1L, null)
    var cur = witness(dists)
    var it = 0
    // stop when neither the reached-set nor the total distance improves
    while (cur != prev && it < maxIters) {
      it += 1
      val relaxed = dists.join(e, dists("vertex") === e("src"))
        .select(e("dst").as("vertex"), (dists("dist") + e("w")).as("dist"))
        .union(dists)
        .groupBy("vertex").agg(min(col("dist")).as("dist"))
        .checkpointSized()
      dropCheckpoint(dists) // superseded by the materialised `relaxed`
      dists = relaxed
      prev = cur
      cur = witness(dists)
    }
    e.unpersist(blocking = false)
    dists
  }

  /** Phase wall-times of the most recent [[pageRankDeterministic]] run
    * in this JVM: (phase name, seconds) for the edge/vertex staging
    * pass and each fused-superstep segment's materialization. Written
    * on every run; read by Bench so the artifact records WHERE a slow
    * pagerank execution spent its time (staging scan vs superstep
    * barriers) — the in-artifact evidence that separates host CPU
    * steal from a plan regression (r11 VERDICT item 2). */
  private[graft] val lastPageRankPhases =
    new java.util.concurrent.atomic.AtomicReference[Seq[(String, Double)]](Nil)

  /** Deterministic PageRank (fixed iteration count): the standard
    * recurrence rank' = reset + (1-reset)·Σ rank(u)/outdeg(u), with
    * each edge contribution converted to an exact fixed-point long at
    * 1e-18 (graft.functions.expressions.FixedPoint — allocation-free,
    * half-up at the 18th decimal) before the sum, so the aggregation
    * is accumulation-order independent — the same ranks bit-for-bit
    * on any partitioning (unlike GraphX's double message-sums, whose
    * low bits vary run to run) — AND a primitive Tungsten long sum
    * rather than a per-edge-allocating decimal(38,18) sum. Per
    * iteration: one vertex-keyed join + one hash agg; lineage cut by
    * localCheckpoint. Input directed `(src, dst)`; every edge endpoint
    * is a vertex. */
  def pageRankDeterministic(edges: DataFrame, iters: Int = 10,
                            reset: Double = 0.15): DataFrame = {
    val eo = pageRankEdgeTable(edges)
    // the staged run materializes its result eagerly, so the one-shot
    // wrapper can release the edge table immediately
    val r = pageRankDeterministicStaged(eo, iters, reset)
    eo.unpersist(blocking = false)
    r
  }

  /** The (src, dst, odeg) edges-with-degrees table
    * [[pageRankDeterministicStaged]] iterates over, hash-partitioned
    * on src and persisted — the materialized edge view a production
    * deployment computes once per graph generation and shares across
    * pagerank runs (the staged-artifact pattern of the IVF index and
    * signature memos). NOT materialized here: the first consumer's
    * job fills the cache. */
  def pageRankEdgeTable(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("odeg"))
    // ONE cached table, (src, dst, odeg), hash-partitioned on src: the
    // cached partitioning is visible to the planner (InMemoryRelation
    // preserves outputPartitioning), so every iteration's src-keyed
    // join shuffles only the small (vertex, rank) table — the big edge
    // side never re-shuffles. The input plan appears in both the
    // outDeg branch and the edge branch of the join; exchange reuse
    // computes any derivation (e.g. a distinct) once, so caching `e`
    // separately first — a second full materialization pass — buys
    // nothing. Same per-edge w = rank/odeg doubles, so ranks are
    // bit-identical to the unfused plan (the oracle contract).
    // Callers running MANY pagerank passes over one graph build this
    // table once via [[pageRankEdgeTable]] and call
    // [[pageRankDeterministicStaged]] — the materialized
    // edges-with-degrees view a production deployment persists.
    e.join(outDeg, "src").repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The vertex set of a [[pageRankEdgeTable]], pinned. Every edge's
    * src has odeg >= 1 by construction, so the inner join drops no edge
    * row — the table's endpoint set IS the vertex set, and deriving it
    * from the cache spares another pass over the input edges. */
  private def edgeTableVertices(eo: DataFrame): DataFrame =
    eo.select(col("src").as("vertex"))
      .union(eo.select(col("dst").as("vertex"))).distinct()
      .checkpointSized()

  /** Exact per-group Σ w over `(key*, w)` rows: the contribution sum of
    * every PageRank superstep. Each w becomes a PRIMITIVE fixed-point
    * long (`fixed18`: exact binary value rounded half-up at 1e-18 — see
    * FixedPoint's value contract), split hi/lo by `SplitMod` so
    * per-group partial sums stay exact without 128-bit state: the hash
    * agg is then pure Tungsten long addition instead of a
    * decimal(38,18) sum whose every add allocates BigDecimals (r13:
    * 9–28 s of task GC in the big superstep stages was this allocation
    * pressure). The rare |w| ≥ 9 contribution (a rank ≥ 9·odeg hub)
    * falls back to the exact decimal cast (`wbig`) and is recombined
    * exactly per group by `fixed_combine`. The sum is
    * accumulation-order independent, so ranks are bit-identical on any
    * partitioning. Output `(key*, m)`. */
  private def fixedPointSum(rows: DataFrame, keys: String*): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(rows.sparkSession)
    val splitMod = graft.functions.expressions.FixedPoint.SplitMod
    val k = keys.map(col)
    rows.select(k :+ expr("fixed18(w)").as("u") :+ col("w"): _*)
      .select(k :+ col("u") :+ when(col("u").isNull && col("w").isNotNull,
        col("w").cast("decimal(38,18)")).as("wbig"): _*)
      .groupBy(k: _*)
      .agg(sum(expr(s"u div $splitMod")).as("shi"),
           sum(expr(s"u % $splitMod")).as("slo"),
           sum(col("wbig")).as("sbig"))
      // coalesce: a group whose every contribution took the decimal
      // fallback leaves the long sums NULL
      .select(k :+ expr("fixed_combine(coalesce(shi, 0L), coalesce(slo, 0L), sbig)").as("m"): _*)
  }

  /** [[pageRankDeterministic]] over an ALREADY staged
    * [[pageRankEdgeTable]] — the input's cache blocks are never
    * released here, so a memoizing caller keeps serving them across
    * runs/reps. Ranks are bit-identical to the one-shot wrapper. */
  def pageRankDeterministicStaged(eo: DataFrame, iters: Int = 10,
                                  reset: Double = 0.15): DataFrame = {
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val res = body
      phases += name -> (System.nanoTime() - t0) / 1e9
      res
    }
    val verts = phase("stage_edges_verts") { edgeTableVertices(eo) }
    // Missing-vertex fill by UNION, not by a per-iteration left-outer
    // rebuild join: a zero-contribution row per vertex rides into the
    // same hash agg that sums the edge contributions, so each
    // superstep is ONE exchange (contrib ∪ zeros, keyed by vertex)
    // instead of two (agg, then verts ⋈ sums). Adding an exact 0 term
    // leaves the sum bit-identical, and a vertex with no in-edges gets
    // m = 0 exactly as coalesce(null, 0.0) did — the oracle contract
    // is unchanged. Fewer barriers per superstep is also the
    // noisy-host story: less steal surface under suite load.
    val zeros = verts.select(col("vertex"), lit(0.0).as("w"))
    // The loop builds ONE lazy plan across up to `pageRankFuseDepth`
    // supersteps before materializing (unlike BFS, whose unbounded
    // frontier loop must checkpoint per level): the fused segment runs
    // as a single job whose stages pipeline under AQE, instead of
    // `iters` sequential checkpoint jobs each paying scheduling +
    // barrier latency. On a noisy host that barrier count was the
    // dominant recorded cost, not the shuffled bytes. `iters` is
    // caller-supplied on the public API, so depth CANNOT be unbounded
    // — analysis/optimizer time and driver memory grow with plan depth
    // (r10 ADVICE) — hence the segment cut every pageRankFuseDepth
    // iterations; each cut drops its superseded predecessor's blocks.
    var r = verts.withColumn("rank", lit(1.0))
    var prevSeg: Option[DataFrame] = None
    (1 to iters).foreach { i =>
      // Per-edge contributions sum through [[fixedPointSum]]. Join
      // strategy pinned to shuffled-hash with the RANK side as the
      // build (guide §3.1): the planner's default sort-merge
      // re-sorts the big cached edge table EVERY superstep (the cache
      // is hash-partitioned on src but unsorted), which the r21 probe
      // measured at ~3.7x the whole superstep cost (2.6 s SMJ vs
      // 0.7 s SHJ per step at sf0.1). The rank table is one narrow
      // row per vertex — per-partition builds stay bounded at any
      // scale by the same partition sizing as the agg that produced
      // it. Join output is a row set; the fixed-point sum is
      // accumulation-order independent, so ranks are bit-identical.
      val rh = r.hint("shuffle_hash")
      val contrib = eo.join(rh, eo("src") === rh("vertex"))
        .select(eo("dst").as("vertex"),
          (col("rank") / col("odeg")).as("w"))
      r = fixedPointSum(contrib.union(zeros), "vertex")
        .select(col("vertex"), (lit(reset) + lit(1 - reset) * col("m")).as("rank"))
      if (i % pageRankFuseDepth == 0 && i < iters) {
        r = phase(s"supersteps_to_$i") { r.checkpointSized() }
        prevSeg.foreach(dropCheckpoint(_, keep = checkpointRddIds(r)))
        prevSeg = Some(r)
      }
    }
    // cut the final segment's lineage
    r = phase(s"supersteps_to_$iters") { r.checkpointSized() }
    prevSeg.foreach(dropCheckpoint(_, keep = checkpointRddIds(r)))
    dropCheckpoint(verts, keep = checkpointRddIds(r))
    lastPageRankPhases.set(phases.toSeq)
    r
  }

  /** Supersteps fused into one lazy plan between [[pageRankDeterministic]]
    * materialization points. 10 keeps the default/benchmark runs
    * single-segment (identical plans to r10) while bounding plan and
    * codegen depth for any caller-supplied iteration count. */
  val pageRankFuseDepth: Int = 10

  /** Bidirectional BFS point-to-point distance: expand whichever
    * frontier is currently SMALLER, alternating ends until the
    * visited sets meet — supersteps drop from d to ~d/2 and expanded
    * state from O(b^d) to O(2·b^(d/2)), the classic point-to-point
    * win on high-branching graphs (at 100 TB a unidirectional BFS
    * between two vertices floods most of the graph; bidirectional
    * touches two shallow balls). Termination is exact, not
    * first-meet: after every superstep the candidate distance is
    * min(df+db) over the intersection, and the search only stops once
    * `best <= levelsF + levelsB` — any path found later must be
    * strictly longer. Edges are treated as directed (backward search
    * runs on the reversed table); pass a symmetrized table for
    * undirected semantics. Returns None when disconnected. Search
    * depth is ~d/2 per side by construction, so the per-level union
    * lineage stays shallow without compaction. */
  def bfsBidirectional(edges: DataFrame, source: Long, target: Long,
                       maxLevels: Int = 10000): Option[Long] = {
    if (source == target) return Some(0L)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = partitionEdges(edges)
    val er = partitionEdges(edges.select(col("dst").as("src"), col("src").as("dst")))
    try {
      var vf = Seq((source, 0L)).toDF("vertex", "df").checkpointSized()
      var vb = Seq((target, 0L)).toDF("vertex", "db").checkpointSized()
      var ff = vf.select("vertex")
      var fb = vb.select("vertex")
      var nf = 1L; var nb = 1L
      var dF = 0L; var dB = 0L
      var best = Long.MaxValue
      def meet(): Unit = {
        val m = vf.join(vb, "vertex").agg(min(col("df") + col("db"))).head()
        if (!m.isNullAt(0)) best = math.min(best, m.getLong(0))
      }
      while (best > dF + dB && nf > 0 && nb > 0 && dF + dB < 2L * maxLevels) {
        if (nf <= nb) {
          dF += 1
          val next = expandFrontier(e, ff, nf, vf)
          nf = next.count()
          if (nf > 0) { vf = vf.union(next.select(col("vertex"), lit(dF).as("df"))); ff = next }
          else dropCheckpoint(next)
        } else {
          dB += 1
          val next = expandFrontier(er, fb, nb, vb)
          nb = next.count()
          if (nb > 0) { vb = vb.union(next.select(col("vertex"), lit(dB).as("db"))); fb = next }
          else dropCheckpoint(next)
        }
        meet()
      }
      if (best == Long.MaxValue) None else Some(best)
    } finally {
      e.unpersist(blocking = false)
      er.unpersist(blocking = false)
    }
  }

  /** Personalized PageRank: identical recurrence to
    * [[pageRankDeterministic]] except the restart mass returns ONLY
    * to the seed set — `r(v) = reset·[v ∈ seeds] + (1−reset)·Σ` with
    * `r₀(v) = [v ∈ seeds]` — so rank concentrates around the seeds'
    * neighborhoods (the recsys/similar-items ranking primitive; at
    * scale seeds are per-query and small, the edge table is the same
    * pre-joined, src-partitioned cache as the global variant, and one
    * loop serves any seed set). Contributions are summed through the
    * same fixed-point long path as [[pageRankDeterministic]] —
    * deterministic AND primitive — so all-seeds PPR degenerates to
    * global PR bit-exactly (spec-pinned). Dangling mass is dropped,
    * matching [[pageRankDeterministic]]'s documented contract. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long], iters: Int = 10,
                           reset: Double = 0.15): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    val eo = pageRankEdgeTable(edges)
    val verts = edgeTableVertices(eo)
    val isSeed = col("vertex").isInCollection(seeds)
    var r = verts.withColumn("rank", when(isSeed, lit(1.0)).otherwise(lit(0.0)))
      .checkpointSized()
    (1 to iters).foreach { _ =>
      val sums = fixedPointSum(eo.join(r, eo("src") === r("vertex"))
        .select(eo("dst").as("vertex"), (col("rank") / col("odeg")).as("w")), "vertex")
      val prev = r
      r = verts.join(sums, Seq("vertex"), "left_outer")
        .select(col("vertex"),
          (when(isSeed, lit(reset)).otherwise(lit(0.0)) +
            lit(1 - reset) * coalesce(col("m"), lit(0.0))).as("rank"))
        .checkpointSized()
      dropCheckpoint(prev)
    }
    eo.unpersist(blocking = false)
    dropCheckpoint(verts, keep = checkpointRddIds(r))
    r
  }

  /** BATCH personalized PageRank — the per-seed PPR vector for EVERY
    * seed computed in ONE superstep loop: state is keyed
    * (seed, vertex), each iteration is one src-keyed join + one
    * (seed, vertex)-keyed hash agg for ALL seeds together, so k seeds
    * cost k× the shuffled rows but 1× the supersteps/barriers — the
    * shape a recsys/GNN-sampling precompute runs nightly over
    * thousands of query seeds, where per-seed loops would pay the
    * scheduling latency k times. Semantics: for each seed s
    * independently, the single-seed [[personalizedPageRank]]
    * recurrence with seeds = {s} — same fixed-point contribution path,
    * so each (seed, ·) slice is BIT-IDENTICAL to the single-seed
    * operator (spec-pinned). Output (seed, vertex, rank). */
  def personalizedPageRankBatch(edges: DataFrame, seeds: Seq[Long],
                                iters: Int = 10,
                                reset: Double = 0.15): DataFrame = {
    require(seeds.nonEmpty, "batch PPR needs at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    val eo = pageRankEdgeTable(edges)
    val verts = edgeTableVertices(eo)
    val seedDf = seeds.distinct.toDF("seed")
    val spine = verts.crossJoin(broadcast(seedDf))
    var r = spine
      .select(col("seed"), col("vertex"),
        when(col("vertex") === col("seed"), lit(1.0))
          .otherwise(lit(0.0)).as("rank"))
      .checkpointSized()
    (1 to iters).foreach { _ =>
      val sums = fixedPointSum(eo.join(r, eo("src") === r("vertex"))
        .select(col("seed"), eo("dst").as("vertex"), (col("rank") / col("odeg")).as("w")),
        "seed", "vertex")
      val prev = r
      r = spine.join(sums, Seq("seed", "vertex"), "left_outer")
        .select(col("seed"), col("vertex"),
          (when(col("vertex") === col("seed"), lit(reset)).otherwise(lit(0.0)) +
            lit(1 - reset) * coalesce(col("m"), lit(0.0))).as("rank"))
        .checkpointSized()
      dropCheckpoint(prev)
    }
    eo.unpersist(blocking = false)
    dropCheckpoint(verts, keep = checkpointRddIds(r))
    r
  }

  /** Symmetrize a directed edge list in ONE pass over the (possibly
    * derived) source: explode each row into both directions, then
    * dedup. union(e, e.reversed) would execute the upstream plan once
    * per branch (measured in round 2); the explode form reads it once.
    * Output: distinct (src, dst) longs, both directions present. */
  private[operators] def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst")).distinct()

  /** Bounded Luby maximal-independent-set rounds (Luby 1986) — the
    * classic symmetry-breaking primitive distributed graph systems are
    * built on (coloring, scheduling, parallel matching all reduce to
    * it). Each round: a vertex with live neighbours joins the set iff
    * its deterministic md5 priority is strictly smaller than every
    * live neighbour's; a live vertex with NO live neighbours joins
    * unconditionally; winners and their neighbours leave the graph.
    * Rounds are FIXED, not run-to-fixpoint (the kcore/trussPeel
    * contract: the DuckDB oracle unrolls the identical rounds at any
    * SF); with rounds ≥ the graph's Luby depth the result is a true
    * MIS. Priorities hash only the vertex id — content-independent and
    * reproducible under retries/speculation, the same determinism
    * argument as the hash-argmin walks; md5 on distinct ids cannot
    * tie. Each round is two vertex-keyed aggs + two anti-joins — all
    * key-partitioned, superstep shape. Output: (vertex, round)
    * per selected vertex. */
  def lubyMis(edges: DataFrame, rounds: Int,
      localMaxEdges: Long = GraphAlgos.denseLocalMaxEdges): DataFrame = {
    require(rounds >= 1, s"lubyMis needs rounds >= 1, got $rounds")
    def pri(c: org.apache.spark.sql.Column) =
      md5(concat(lit("mis|"), c.cast("string")))
    // dense-small-graph fast path (r20): same bounded-collect contract
    // as the GraphAlgos wedge operators — each distributed round is
    // 2 vertex aggs + 2 anti-joins + 3 checkpoints of a ≤ 64k-row
    // symmetric edge set (measured mostly barrier latency on the
    // saturated modulus fixture); the identical md5-priority
    // competition on collected arrays is microseconds. Priorities via
    // GraphAlgos.md5Hex ≡ Spark md5() byte-for-byte; the early break
    // matches the distributed early exit (later rounds emit no rows).
    val e0 = symmetrize(edges.where(col("src") =!= col("dst"))).checkpointSized()
    // gate on the CANONICAL edge count (symmetric rows / 2) and
    // collect only the src < dst half, mirroring locally — the
    // 64k × 16 B bounded-collect contract holds while a saturated
    // modulus fixture (~90k symmetric rows at sf0.1) still qualifies
    if (e0.count() <= 2 * localMaxEdges) {
      import e0.sparkSession.implicits._
      var eL = e0.where(col("src") < col("dst"))
        .select(col("src"), col("dst")).as[(Long, Long)].collect()
        .flatMap(p => Array(p, (p._2, p._1)))
      dropCheckpoint(e0)
      val priL = scala.collection.mutable.HashMap.empty[Long, String]
      def p(v: Long): String =
        priL.getOrElseUpdate(v, GraphAlgos.md5Hex(s"mis|$v"))
      var live = eL.map(_._1).toSet
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var r = 1
      while (r <= rounds && (live.nonEmpty || eL.nonEmpty)) {
        val nmin = scala.collection.mutable.HashMap.empty[Long, String]
        eL.foreach { case (s0, d0) =>
          val pd = p(d0)
          if (nmin.get(s0).forall(pd < _)) nmin(s0) = pd
        }
        val winE = nmin.collect { case (v, nm) if p(v) < nm => v }.toSet
        val srcs = eL.map(_._1).toSet
        val winI = live.filterNot(srcs.contains)
        val win = winE ++ winI
        win.foreach(v => out += ((v, r.toLong)))
        val dead = win ++ eL.collect { case (s0, d0) if winE(s0) => d0 }
        eL = eL.filter(pr => !dead(pr._1) && !dead(pr._2))
        live = live -- dead
        r += 1
      }
      return out.toSeq.toDF("vertex", "round")
    }
    var e = e0
    var lv = e.select(col("src").as("vertex")).distinct().checkpointSized()
    var out: DataFrame = null
    (1 to rounds).foreach { r =>
      val nm = e.groupBy("src").agg(min(pri(col("dst"))).as("nmin"))
      val winE = nm.where(pri(col("src")) < col("nmin"))
        .select(col("src").as("vertex"))
      val winI = lv.join(e.select(col("src").as("vertex")).distinct(),
        Seq("vertex"), "left_anti")
      val win = winE.union(winI).distinct()
        .select(col("vertex"), lit(r.toLong).as("round")).checkpointSized()
      out = if (out == null) win else out.union(win)
      val dead = win.select("vertex").union(
          e.join(winE.select(col("vertex").as("w")), e("src") === col("w"))
            .select(e("dst").as("vertex"))).distinct()
      val prevE = e; val prevLv = lv
      e = prevE
        .join(dead.select(col("vertex").as("ds")), prevE("src") === col("ds"), "left_anti")
        .join(dead.select(col("vertex").as("dd")), prevE("dst") === col("dd"), "left_anti")
        .select(prevE("src"), prevE("dst")).checkpointSized()
      lv = prevLv.join(dead, Seq("vertex"), "left_anti").checkpointSized()
      dropCheckpoint(prevE, keep = checkpointRddIds(e) ++ checkpointRddIds(win))
      dropCheckpoint(prevLv, keep = checkpointRddIds(lv) ++ checkpointRddIds(win))
      // early exit once nothing is live: the remaining fixed rounds
      // would emit empty winner sets either way (output-identical —
      // the unrolled oracle's later rounds contribute zero rows), so
      // skip their barrier cost; counts are cheap on the fresh
      // checkpoints (a dense graph resolves in round 1 — the modulus
      // fixture saturates — and paid 2 empty supersteps before this)
      if (r < rounds && lv.isEmpty && e.isEmpty) return out
    }
    out
  }

  /** k-core decomposition by iterative peeling: repeatedly drop
    * vertices whose (undirected) degree is below `k` until the edge set
    * is stable; returns the vertices of the k-core — the maximal
    * subgraph where every vertex keeps degree ≥ k. Each peel round is
    * one degree hash-agg plus two semi-join-shaped filters, all keyed
    * on vertex id (same partitioning reused), so a round costs O(|E|)
    * shuffled once; rounds = peel depth (bounded by the degeneracy
    * ordering, usually shallow on real graphs). Input `(src, dst)`
    * directed pairs, treated as undirected. Output `(vertex: Long)`. */
  def kcore(edges: DataFrame, k: Int, maxIters: Int = 10000): DataFrame = {
    // self-loops don't count toward coreness
    var cur = symmetrize(edges.where(col("src") =!= col("dst")))
      .checkpointSized()
    var prevEdges = -1L
    var curEdges = cur.count()
    var it = 0
    while (curEdges != prevEdges && it < maxIters) {
      it += 1
      val keep = cur.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
      val ka = keep.select(col("src").as("ks"))
      val kb = keep.select(col("src").as("kd"))
      val prev = cur
      cur = prev
        .join(ka, prev("src") === ka("ks"))
        .join(kb, prev("dst") === kb("kd"))
        .select(prev("src"), prev("dst"))
        .checkpointSized()
      dropCheckpoint(prev) // superseded by the materialised peel
      prevEdges = curEdges
      curEdges = cur.count()
    }
    cur.select(col("src").as("vertex")).distinct()
  }

  /** Connected components by min-label propagation with pointer
    * jumping: each round takes the min over neighbour labels, then
    * short-circuits `component := component(component)` — labels reach
    * 2^k hops after k rounds, so rounds are O(log diameter) instead of
    * O(diameter). That's the difference between ~40 and ~6 shuffles on
    * a long-chain 100 TB graph. Output `(vertex, component)`,
    * component = min vertex id; edges treated as undirected. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 10000,
                          jumps: Int = 2,
                          localMaxEdges: Long = GraphAlgos.denseLocalMaxEdges): DataFrame = {
    val sym = symmetrize(edges)
      .persist(StorageLevel.MEMORY_AND_DISK) // reused every round
    // Small-graph fast path (same bounded-collect contract as
    // bfsLevelsPrepared): the distributed loop costs O(log diameter)
    // superstep BARRIERS, which dominate data work by 100x on
    // fixture-sized graphs (q_graph_cc's 20-edge chains measured
    // ~1.5 s of pure scheduling). Union-find on the driver emits the
    // identical (vertex, min-id component) labels. The count also
    // materialises the persisted edge cache the distributed first
    // round would otherwise pay. CC's own bound is 64k (vs BFS's 16k
    // reference-envelope bound): union-find's collect is a flat edge
    // array (64k x 16 B = 1 MB, trivially driver-safe), and r13's
    // q_er_cluster measured the cliff directly — its 30.7k-edge match
    // graph paid 6.4 s of pointer-jump barriers for work union-find
    // does in microseconds. Graphs that GROW with the data (cc_big's
    // 600k+, any 100 TB input) stay on the distributed loop.
    if (sym.count() <= localMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = sym.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      sym.unpersist(blocking = false)
      return unionFindComponents(spark, es)
    }
    // Fused first round: with identity labels, round 1's neighbour-min
    // join degenerates to component := min(v, min of in-neighbours) —
    // one hash aggregate over the edge table, no labels join. At scale
    // the first round is the most expensive (every vertex active), so
    // skipping its join is the cheapest round we'll ever save. The
    // mirrored edge set guarantees every vertex appears as a dst.
    var labels = sym.groupBy(col("dst").as("vertex"))
      .agg(min(col("src")).as("nbrMin"))
      .select(col("vertex"), least(col("vertex"), col("nbrMin")).as("component"))
      .checkpointSized()
    // Labels only ever decrease, so sum(component) is a strictly
    // monotone convergence witness — one cheap scan instead of a
    // change-detection join per round. Summed as decimal(38,0): a Long
    // sum wraps (non-ANSI) at billions of large vertex ids, and a
    // wrapped sum is no longer monotone.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("component").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0) // empty graph: sum() is NULL
    }
    var prevSum: java.math.BigDecimal = null
    var curSum = labelSum(labels)
    var it = 0
    while ((prevSum == null || curSum.compareTo(prevSum) < 0) && it < maxIters) {
      it += 1
      // (1) neighbour-min step
      val better = labels.join(sym, labels("vertex") === sym("src"))
        .groupBy(sym("dst").as("vertex"))
        .agg(min(col("component")).as("nbrMin"))
      val stepped = labels.join(better, Seq("vertex"), "left_outer")
        .select(col("vertex"),
          least(col("component"), coalesce(col("nbrMin"), col("component"))).as("component"))
      // (2) pointer jumps: component := component(component), `jumps`
      // times — label chains compress ~2^jumps x per round, so rounds
      // ≈ log_{2^jumps}(diameter)
      var jumped = stepped
      (1 to jumps).foreach { _ =>
        val ptr = jumped.select(col("vertex").as("cv"), col("component").as("cc"))
        jumped = jumped.join(ptr, jumped("component") === ptr("cv"), "left_outer")
          .select(jumped("vertex"),
            least(jumped("component"), coalesce(col("cc"), jumped("component"))).as("component"))
      }
      val prevLabels = labels
      labels = jumped.checkpointSized()
      dropCheckpoint(prevLabels) // superseded: one label table live at a time
      prevSum = curSum
      curSum = labelSum(labels)
    }
    sym.unpersist(blocking = false)
    labels
  }

  /** Driver-side union-find over a collected symmetric edge array —
    * the shared small-graph fast path of [[connectedComponents]] and
    * [[contractedComponents]]. Union toward the smaller root: the
    * surviving root of any merge chain is the component's min id,
    * matching the distributed min-label fixpoint exactly. */
  private def unionFindComponents(spark: SparkSession,
                                  es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.sorted.map(v => (v, find(v)))
      .toDF("vertex", "component")
  }

  /** [[connectedComponents]] with leading HASH-TO-MIN contraction
    * rounds (r18, the q_spatial_dbscan_auto finding): the pointer-
    * jumping loop's cost at local[*] is superstep BARRIERS, and a
    * mid-size graph (10⁵–10⁷ edges — above the union-find collect
    * bound, below "big data") pays tens of seconds of scheduling for
    * data work DuckDB does in under a second. Each contraction round
    * is ONE hash agg (every vertex's provisional label = min of
    * itself and its neighbours) plus one label-translation join and a
    * distinct — plain equi-shuffles, no iteration — and collapses
    * every radius-1 neighbourhood onto its min vertex, shrinking the
    * graph ~avg-degree× per round (measured on the sf10 auto-DBSCAN
    * core graph: 1.67 M edges → 183 k after one round → 49 k after
    * two, under the union-find fast path). EXACT: l(v) = min({v} ∪
    * N(v)) stays inside v's component, quotient components biject
    * with original components, and the component's min vertex m has
    * l(m) = m (m is ≤ every neighbour), so min-labels are preserved
    * verbatim — callers get bit-identical output to
    * [[connectedComponents]]. At cluster scale the same two rounds
    * cut the iterated loop's input by the same degree factor, so this
    * is a pure win whenever average degree is high — exactly the
    * density regime DBSCAN core graphs live in. */
  def contractedComponents(edges: DataFrame, rounds: Int = 2,
                           maxIters: Int = 10000, jumps: Int = 2,
                           localMaxEdges: Long = GraphAlgos.denseLocalMaxEdges): DataFrame = {
    var cur = symmetrize(edges).checkpointSized() // (src, dst), both orders
    // below the union-find collect bound, contraction is pure overhead
    // (two agg+join rounds to shrink a graph union-find already eats
    // in microseconds — measured +0.7 s on q_spatial_dbscan's sf0.1
    // fixture); collect the already-materialized checkpoint straight
    // into the shared union-find — same cost profile as the plain
    // loop's small path, not a re-symmetrizing delegation
    if (cur.count() <= localMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = cur.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      dropCheckpoint(cur)
      return unionFindComponents(spark, es)
    }
    // vertex -> current quotient label, composed across rounds
    var map: DataFrame = null
    (1 to rounds).foreach { _ =>
      // least(src, dst) folds the self term into the neighbour min, so
      // isolated self-loop vertices and degree-1 chains contract too
      val lbl = cur.groupBy(col("dst").as("v"))
        .agg(min(least(col("src"), col("dst"))).as("l"))
        .checkpointSized()
      val prevMap = map
      // the new map is checkpointed in its OWN blocks before lbl's are
      // dropped below — a bare projection would share lbl's RDD and
      // die on the drop (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
      map = (if (map == null) lbl.select(col("v").as("vertex"), col("l"))
        else map.join(lbl, map("l") === lbl("v"))
          .select(map("vertex"), lbl("l"))).checkpointSized()
      if (prevMap != null) dropCheckpoint(prevMap)
      val li = lbl.select(col("v").as("sv"), col("l").as("sl"))
      val lj = lbl.select(col("v").as("dv"), col("l").as("dl"))
      val prevCur = cur
      cur = cur.join(li, col("src") === col("sv"))
        .join(lj, col("dst") === col("dv"))
        .select(col("sl").as("src"), col("dl").as("dst"))
        .distinct().checkpointSized()
      dropCheckpoint(prevCur)
      dropCheckpoint(lbl)
    }
    val qComp = connectedComponents(cur, maxIters, jumps, localMaxEdges)
    // materialize the composed result into its OWN blocks, then drop
    // the vertex→label map's and the quotient labels' checkpoints —
    // without this each call on the hot dedup/ER/cluster/DBSCAN paths
    // retained BOTH intermediates until ContextCleaner GC, doubling
    // the terminal retention of plain connectedComponents (r18
    // ADVICE). keep-set guards any block the result happens to share.
    val out = map.join(qComp, map("l") === qComp("vertex"))
      .select(map("vertex"), qComp("component")).checkpointSized()
    val keep = checkpointRddIds(out)
    dropCheckpoint(cur, keep)
    dropCheckpoint(map, keep)
    dropCheckpoint(qComp, keep)
    out
  }

  /** Max-id label fixpoint over a directed propagation table
    * `(from, to)`: label(to) adopts the greatest label among its
    * `from` sources until stable, pointer-jumped — sound because the
    * labels are realizable reachability witnesses that compose
    * (label(v) = u means u reaches v — or v reaches u, depending on
    * the caller's propagation direction — so label(label(v)) is
    * transitively valid too). Labels only increase, so a decimal
    * label-sum is the convergence witness (one cheap scan per round,
    * same trick as [[connectedComponents]]). */
  private def maxLabelFixpoint(prop: DataFrame, verts: DataFrame,
                               maxIters: Int, jumps: Int): DataFrame = {
    var labels = verts.select(col("vertex"), col("vertex").as("lab"))
      .checkpointSized()
    def labSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("lab").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum: java.math.BigDecimal = null
    var curSum = labSum(labels)
    var it = 0
    while ((prevSum == null || curSum.compareTo(prevSum) > 0) && it < maxIters) {
      it += 1
      // Pointer jumps compose against the CHECKPOINTED label table
      // (a LogicalRDD leaf), not against the in-flight jump result: a
      // self-referencing jump pyramid (jumpK joins jumpK-1 with
      // itself) re-executes its whole un-materialised subtree once
      // per reference — stream side AND broadcast build — nesting
      // broadcast builds through the aggregation shuffle, and was
      // measured going exponential in wall-clock (~×7 per iteration
      // by iteration 10 on a 128-vertex fixture). Leaf-composed jumps
      // keep every join input a materialised block read; the label
      // radius still compounds ×(jumps+1) per iteration on top of
      // the radius already encoded in `labels`, so convergence stays
      // O(log diameter) iterations.
      var jumped: DataFrame = labels
      (1 to jumps).foreach { _ =>
        val ptr = labels.select(col("vertex").as("pv"), col("lab").as("pl"))
        jumped = jumped.join(ptr, jumped("lab") === ptr("pv"), "left_outer")
          .select(jumped("vertex"),
            greatest(jumped("lab"), coalesce(col("pl"), jumped("lab"))).as("lab"))
      }
      val stepped = jumped.join(prop, jumped("vertex") === prop("from"))
        .groupBy(col("to").as("vertex")).agg(max(col("lab")).as("nm"))
      val merged = jumped.join(stepped, Seq("vertex"), "left_outer")
        .select(col("vertex"),
          greatest(col("lab"), coalesce(col("nm"), col("lab"))).as("lab"))
      val prev = labels
      labels = merged.checkpointSized()
      dropCheckpoint(prev)
      prevSum = curSum
      curSum = labSum(labels)
    }
    labels
  }

  /** Vertices reachable (along edge direction) from a SEED SET given
    * as a DataFrame — the set-source sibling of [[bfsLevels]] for
    * callers whose seeds are themselves a distributed result (e.g.
    * the bow-tie decomposition's core SCC) and must never transit the
    * driver. The [[frontierLevels]] loop with the levels projected
    * away; the edge cache is shared across supersteps via
    * [[partitionEdges]]. Output: one `vertex` column, seeds included.
    * Reverse the edge columns at the call site for reaches-TO-set. */
  def reachableFrom(edges: DataFrame, seeds: DataFrame,
                    maxIters: Int = 10000): DataFrame = {
    val e = partitionEdges(edges)
    try {
      // Tiny-graph fast path (same contract and bound as the BFS
      // local path): below bfsLocalMaxEdges the distributed loop's
      // per-superstep scheduling latency dwarfs the work, and the
      // seed set is bounded by the vertex count, so both collects are
      // trivially bounded. Identical output set.
      if (e.count() <= bfsLocalMaxEdges) {
        val spark = e.sparkSession
        import spark.implicits._
        val raw = collectEdges(e)
        val sd = seeds.select(col("vertex").cast("long")).as[Long].collect()
        return localBfs(raw, sd.toSeq, maxIters).keys.toSeq.toDF("vertex")
      }
      val s = seeds.select(col("vertex").cast("long").as("vertex")).distinct()
        .select(col("vertex"), lit(0).as("level"))
        .checkpointSized()
      frontierLevels(e, s, s.count(), maxIters).select("vertex")
    } finally e.unpersist(blocking = false)
  }

  /** Driver-local SCC for the tiny-graph fast path: iterative Tarjan
    * (explicit stack), component keyed by its min member — the same
    * output contract as the distributed FW-BW peel. An independent
    * copy lives in GraphAlgosSpec as the equivalence-test reference
    * (deliberately NOT shared: the test's value is two separate
    * derivations agreeing). */
  private def localTarjanScc(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- verts if !index.contains(root)) {
      val work = scala.collection.mutable.Stack(
        (root, adj.getOrElse(root, Array.empty[Long]).iterator))
      index(root) = counter; low(root) = counter; counter += 1
      stack.push(root); onStack += root
      while (work.nonEmpty) {
        val (v, it) = work.top
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.push(w); onStack += w
            work.push((w, adj.getOrElse(w, Array.empty[Long]).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.pop()
          if (work.nonEmpty) {
            val p = work.top._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ListBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
            val cid = members.min
            members.foreach(m => comp(m) = cid)
          }
        }
      }
    }
    comp.toSeq
  }

  /** Strongly connected components of a DIRECTED graph by iterated
    * max-id coloring — the coloring/FW-BW family of the
    * distributed-SCC literature (Orzan's algorithm, with vertex ids
    * as colors). Each round, over the remaining subgraph:
    *
    *  1. `color(v)` = max id that reaches v (max-label fixpoint along
    *     edge direction). Every color class c contains its root
    *     vertex c (nothing higher reaches c, else the class would be
    *     that higher id's), and class edges never leave the class.
    *  2. `fm(v)` = max id v reaches WITHIN its color class (max-label
    *     fixpoint against edge direction, over the class-restricted
    *     edge set). `fm(v) = color(v) = c` iff v reaches the root c
    *     inside the class — and since c also reaches v (that is what
    *     color c means), exactly the members of SCC(c) qualify: an
    *     intermediate vertex on any v→..→c path is reached by c and
    *     reaches c, so whole paths stay in the class and membership
    *     is exact.
    *
    * Every color root's SCC peels per round — sink-region SCCs all
    * resolve in parallel (expected O(log n) rounds on random ids; the
    * global max vertex is always a root, so progress is guaranteed).
    * Assigned vertices and their incident edges leave the subgraph.
    *
    * Scale: both per-round fixpoints are pointer-jumped label
    * propagations (O(log diameter) shuffle-join rounds each, each
    * round one labels×edges join plus a hash agg); all state tables
    * are localCheckpointed per step with superseded checkpoints
    * dropped eagerly, so lineage and block storage stay O(1) across
    * both loop levels; nothing collects to the driver but the
    * convergence-witness scalars. Output: (vertex, component),
    * component = MIN vertex id of the SCC (re-keyed from the max-id
    * root by one small per-component agg, matching the convention of
    * [[connectedComponents]]). Self-loop EDGES are dropped (they
    * never affect SCC membership) but their vertices are kept — a
    * vertex whose only incident edge is a self-loop is a singleton
    * SCC, so the vertex set derives from the UNFILTERED edge list. */
  def stronglyConnectedComponents(edges: DataFrame, maxPeels: Int = 1000,
                                  maxIters: Int = 10000, jumps: Int = 2,
                                  localMaxEdges: Long = bfsLocalMaxEdges): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // Tiny-graph fast path (the BFS/CC localMaxEdges contract): below
    // the bound, each FW-BW peel round's fixed job latency dwarfs the
    // work. Identical output (vertex, min-member component).
    if (localMaxEdges > 0 && e0.count() <= localMaxEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      return localTarjanScc(e0.as[(Long, Long)].collect())
        .toDF("vertex", "component")
    }
    var e = e0.where(col("src") =!= col("dst")).distinct()
      .checkpointSized()
    var verts = e0.select(explode(array(col("src"), col("dst"))).as("vertex"))
      .distinct().checkpointSized()
    val done = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var peel = 0
    var nVerts = verts.count()
    while (nVerts > 0 && peel < maxPeels) {
      peel += 1
      // (1) colors: max id reaching each vertex (flows src -> dst)
      val color = maxLabelFixpoint(
        e.select(col("src").as("from"), col("dst").as("to")), verts,
        maxIters, jumps)
      // (2) class-restricted edges, then max id reached within the
      // class (flows dst -> src against edge direction)
      val cs = color.select(col("vertex").as("csv"), col("lab").as("csl"))
      val cd = color.select(col("vertex").as("cdv"), col("lab").as("cdl"))
      val ec = e.join(cs, e("src") === cs("csv")).join(cd, e("dst") === cd("cdv"))
        .where(col("csl") === col("cdl"))
        .select(e("src"), e("dst")).checkpointSized()
      val fm = maxLabelFixpoint(
        ec.select(col("dst").as("from"), col("src").as("to")), verts,
        maxIters, jumps)
      val cf = color.withColumnRenamed("lab", "color")
        .join(fm.withColumnRenamed("lab", "fm"), Seq("vertex"))
        .checkpointSized()
      dropCheckpoint(color); dropCheckpoint(fm); dropCheckpoint(ec)
      val members = cf.where(col("color") === col("fm"))
        .select(col("vertex"), col("color"))
      // re-key each SCC from its max-id root to its min member id
      val minId = members.groupBy(col("color"))
        .agg(min(col("vertex")).as("component"))
      done += members.join(minId, Seq("color"))
        .select(col("vertex"), col("component"))
        .checkpointSized()
      val remaining = cf.where(col("color") =!= col("fm"))
        .select("vertex").checkpointSized()
      dropCheckpoint(cf)
      val vs = remaining.select(col("vertex").as("vs"))
      val vd = remaining.select(col("vertex").as("vd"))
      val prevE = e; val prevVerts = verts
      e = e.join(vs, e("src") === vs("vs")).join(vd, e("dst") === vd("vd"))
        .select(e("src"), e("dst")).checkpointSized()
      verts = remaining
      dropCheckpoint(prevE); dropCheckpoint(prevVerts)
      nVerts = verts.count()
    }
    done.reduceOption(_.union(_)).getOrElse(
      edges.sparkSession.range(0)
        .select(col("id").as("vertex"), col("id").as("component")))
  }

  /** Synchronous label propagation (community detection), `iters`
    * fixed rounds for determinism: every vertex starts labelled with
    * its own id, and each round adopts the most frequent label among
    * its IN-neighbours over the mirrored edge set, ties broken by the
    * SMALLEST label (classic LPA leaves tie-breaking to chance; the
    * deterministic variant is what makes an exact cross-engine oracle
    * possible — the DuckDB twin unrolls the same rounds). The
    * per-round argmax is a max-of-(cnt, -label) struct hash aggregate
    * — one partial+final agg, no window sort. Vertices with no
    * neighbours cannot occur here (the mirrored edge set gives every
    * endpoint a neighbour). Output: (vertex, label).
    *
    * Scale: each round is one shuffle join (labels × edges on src)
    * plus two hash aggs keyed by vertex — all partial-aggregated;
    * label tables are localCheckpointed per round so lineage stays
    * O(1) regardless of `iters`. */
  def labelPropagation(edges: DataFrame, iters: Int = 2,
      localMaxEdges: Long = GraphAlgos.denseLocalMaxEdges): DataFrame = {
    val sym = symmetrize(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // dense-small-graph fast path (r20, the lubyMis gate shape:
    // canonical-half collect within the 64k × 16 B contract, local
    // mirror): synchronous rounds of "most-frequent neighbour label,
    // ties to the smallest" are exact integer counting — identical
    // label tables to the fused DataFrame rounds.
    if (sym.count() <= 2 * localMaxEdges) {
      val spark = sym.sparkSession
      import spark.implicits._
      val eL = sym.where(col("src") <= col("dst"))
        .select(col("src"), col("dst")).as[(Long, Long)].collect()
        .flatMap(p => if (p._1 == p._2) Array(p) else Array(p, (p._2, p._1)))
      sym.unpersist(blocking = false)
      val inc = eL.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      var lab: Map[Long, Long] = eL.map(_._1).distinct.map(v => v -> v).toMap
      (1 to iters).foreach { _ =>
        lab = inc.map { case (v, srcs) =>
          val cnt = srcs.groupBy(lab).view.mapValues(_.length)
          v -> cnt.toSeq.sortWith { case ((l1, c1), (l2, c2)) =>
            if (c1 != c2) c1 > c2 else l1 < l2
          }.head._1
        }
      }
      return lab.toSeq.toDF("vertex", "label")
    }
    var labels = sym.select(col("src").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
      .checkpointSized()
    // rounds FUSE into one lazy plan between checkpoints (the
    // pageRankFuseDepth pattern): a 2-round run is one job instead of
    // two checkpoint barriers, halving the superstep scheduling cost
    // that dominates small-graph LPA; the cut every 5 rounds bounds
    // plan depth for caller-supplied iteration counts. Labels are
    // identical — checkpoints are plan-only.
    var prevCk = labels
    (1 to iters).foreach { i =>
      labels = sym.join(labels, sym("src") === labels("vertex"))
        .groupBy(sym("dst").as("vertex"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("vertex")
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("vertex"), (-col("m.nl")).as("label"))
      if (i % 5 == 0 || i == iters) {
        labels = labels.checkpointSized()
        dropCheckpoint(prevCk, keep = checkpointRddIds(labels))
        prevCk = labels
      }
    }
    sym.unpersist(blocking = false)
    labels
  }

  /** Minimum spanning forest of an UNDIRECTED weighted graph
    * `(src, dst, weight)` by Borůvka rounds — the textbook
    * distributed-MST algorithm (each round every component picks its
    * cheapest outgoing edge, picked edges merge components, component
    * count at least halves, so O(log V) rounds).
    *
    * Determinism: the effective edge order is the LEXICOGRAPHIC triple
    * `(weight, a, b)` over canonicalised endpoints `a < b` — so the
    * forest is unique even with duplicate scalar weights (the classic
    * uniqueness argument applies to any total order on edges), and an
    * exact cross-engine oracle is possible. Parallel (a,b) multi-edges
    * collapse to their min weight; self-loops are dropped (never in an
    * MSF).
    *
    * Scale: each round is (1) one edges×labels join pair to tag
    * endpoint components, (2) a per-component min-struct hash agg (the
    * cheapest-edge pick — partial-aggregated, no window sort), and
    * (3) a [[connectedComponents]] contraction over the PICKED edge
    * graph only, which has at most one edge per live component and
    * shrinks geometrically — so the contraction input is tiny relative
    * to the data graph after round 1. State tables are re-checkpointed
    * per round with superseded blocks dropped; nothing collects to the
    * driver but the cross-edge-count witness. Output: one row per
    * forest edge `(src, dst, weight)` with `src < dst`. */
  def minimumSpanningForest(edges: DataFrame, maxRounds: Int = 100,
                            maxIters: Int = 10000, jumps: Int = 2): DataFrame = {
    val e = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"),
        col("weight").cast("double").as("w"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
      .checkpointSized()
    var comp = e.select(explode(array(col("a"), col("b"))).as("vertex"))
      .distinct().select(col("vertex"), col("vertex").as("comp"))
      .checkpointSized()
    val picked = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var round = 0
    var cross = 1L
    while (cross > 0 && round < maxRounds) {
      round += 1
      val ca = comp.select(col("vertex").as("va"), col("comp").as("ca"))
      val cb = comp.select(col("vertex").as("vb"), col("comp").as("cb"))
      val ex = e.join(ca, e("a") === ca("va")).join(cb, e("b") === cb("vb"))
        .where(col("ca") =!= col("cb"))
        .select(e("a"), e("b"), e("w"), col("ca"), col("cb"))
        .checkpointSized()
      cross = ex.count()
      if (cross > 0) {
        // cheapest outgoing edge per component, min over (w, a, b)
        val cand = ex.select(col("ca").as("c"),
            struct(col("w"), col("a"), col("b"), col("cb").as("oc")).as("e"))
          .union(ex.select(col("cb").as("c"),
            struct(col("w"), col("a"), col("b"), col("ca").as("oc")).as("e")))
        val pick = cand.groupBy("c").agg(min(col("e")).as("e"))
          .select(col("c"), col("e.w").as("w"), col("e.a").as("a"),
            col("e.b").as("b"), col("e.oc").as("oc"))
          .checkpointSized()
        // mutual picks surface the same (a, b) from both sides — dedup
        picked += pick.select(col("a"), col("b"), col("w")).distinct()
        // contract along picked edges: CC over the component graph
        // (≤ one edge per live component — tiny, shrinks geometrically)
        val cc = connectedComponents(
          pick.select(col("c").as("src"), col("oc").as("dst")),
          maxIters, jumps)
        val prevComp = comp
        comp = comp.join(
            cc.select(col("vertex").as("oc0"), col("component").as("nc")),
            comp("comp") === col("oc0"), "left_outer")
          .select(col("vertex"), coalesce(col("nc"), col("comp")).as("comp"))
          .checkpointSized()
        dropCheckpoint(prevComp); dropCheckpoint(cc)
      }
      dropCheckpoint(ex) // superseded by the materialised pick table
    }
    dropCheckpoint(e); dropCheckpoint(comp) // result reads only pick tables
    picked.reduceOption(_.union(_))
      .map(_.select(col("a").as("src"), col("b").as("dst"), col("w").as("weight")))
      .getOrElse(edges.sparkSession.range(0)
        .select(col("id").as("src"), col("id").as("dst"),
          col("id").cast("double").as("weight")))
  }
}
