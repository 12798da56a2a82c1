package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.GraphCatalog
import graft.sources.MatrixIO

/** Closed-loop benchmark of graft's graph client: one client thread
  * sends each request after the previous reply, against one local
  * Spark session. Usage (normally through `run.py`):
  *
  * {{{
  * graftbench.Main --workload ref_ops|scale --seed N --seconds S --trace 0|1 --work DIR --out DIR
  * }}}
  *
  * The last stdout line is the JSON result. With `--trace 0` it holds
  * the end-to-end metrics; with `--trace 1` the per-layer ones, taken
  * from spans recorded around every call into graft, which a traced
  * run also writes to `--out` as JSON lines. `--work` is scratch space
  * for the catalog and Spark's files. */
object Main {

  /** Each setup repeats input generation and catalog population this
    * many times into fresh catalogs; `setup_s` takes the median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace must be 0 or 1")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(need("workload"), need("seed").toLong, seconds, trace == "1",
      Paths.get(need("work")), Paths.get(need("out")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      // the session conf graft.Verify and graft.Bench use
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.graphx.pregel.checkpointInterval", "25")
      // everything the session writes stays under the run's work dir
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def storageMiB(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)

  /** Data files under a directory and their sizes (hidden and `_`
    * files excluded). Spark names every written file uniquely, so the
    * files a write added are the names not present before it. */
  private[graftbench] def dataFiles(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** One op of the timed loop, with the JVM's GC time during its call;
    * file listings only when traced. `ok` until its check fails or the
    * call threw. */
  final case class Done(index: Int, kind: String, traced: Boolean, ms: Double, gcMs: Long, ok: Boolean,
                        filesBefore: Map[String, Long], filesAfter: Map[String, Long])

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: Exception => System.err.println(s"graftbench: ${e.getMessage}"); sys.exit(2)
    }
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val goldenFailures = Check.goldenFailures()
    goldenFailures.foreach(g => System.err.println(s"graftbench: checker disagrees with golden $g"))

    val spark = session(cores, o.work)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(sc)
    val listener = new SpanListener
    if (o.trace) sc.addSparkListener(listener)
    val wl = Workload(o.workload, spark, o.seed, o.work, tracer)

    var attempted = 0
    var failed = 0
    // the benchmark's own work between engine calls, kept out of the
    // loop's throughput; answers wait in `pending` (loop index, or -1
    // outside the loop) for the checks after the loop
    var untimedNs = 0L
    def untimed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      untimedNs += System.nanoTime() - t0
    }
    val pending = mutable.ArrayBuffer.empty[(Int, Op, Any)]
    def attempt(i: Int, op: Op, call: (() => Any) => Any = f => f()): (Double, Boolean) = {
      attempted += 1
      untimed(op.prepare())
      val t0 = System.nanoTime()
      val outcome = try Right(call(op.run)) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      outcome match {
        case Right(res) =>
          untimed(op.commit())
          pending += ((i, op, res))
        case Left(e) =>
          failed += 1
          System.err.println(s"graftbench: ${op.kind}(${op.graph}) failed: $e")
      }
      (ms, outcome.isRight)
    }

    // set-up: populate fresh catalogs (median of SetupReps), then the
    // workload's untimed warm-up ops
    val catalogDir = (r: Int) => o.work.resolve(s"catalog-$r")
    val populateS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.populate(new GraphCatalog(spark, catalogDir(r).toString))
      (System.nanoTime() - t0) / 1e9
    }
    val warmT0 = System.nanoTime()
    (1 to wl.warmupBlocks).foreach(_ => wl.nextBlock().foreach(op => attempt(-1, op)))
    val setupS = sessionS + Stats.median(populateS) + (System.nanoTime() - warmT0) / 1e9

    // timed closed loop: whole blocks until the run's time is spent;
    // in a traced run every other op of each kind is traced, the rest
    // give the untraced baseline for the tracing overhead
    val done = mutable.ArrayBuffer.empty[Done]
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val storage = mutable.ArrayBuffer.empty[Double]
    def loopOp(op: Op, traced: Boolean): Unit = {
      val i = done.size
      val dir = catalogDir(SetupReps).resolve(op.graph)
      val before = if (traced) dataFiles(dir) else Map.empty[String, Long]
      var gcMs = 0L
      tracer.on = traced
      val (ms, ok) = attempt(i, op, { call =>
        val gc0 = gcMillis()
        try tracer.forOp(i)(call()) finally gcMs = gcMillis() - gc0
      })
      tracer.on = false
      val after = if (traced) dataFiles(dir) else Map.empty[String, Long]
      if (o.trace) storage += storageMiB(spark)
      done += Done(i, op.kind, traced, ms, gcMs, ok, before, after)
      System.err.println(f"graftbench: op $i%3d ${op.kind}%-8s ${op.graph}%-4s $ms%9.1f ms${if (traced) " traced" else ""}")
    }
    val loopT0 = System.nanoTime()
    val untimed0 = untimedNs
    val deadline = loopT0 + o.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      wl.nextBlock().foreach { op =>
        loopOp(op, o.trace && seen(op.kind) % 2 == 0)
        seen(op.kind) += 1
      }
    }
    val loopS = (System.nanoTime() - loopT0 - (untimedNs - untimed0)) / 1e9

    if (o.trace) {
      // kinds the loop skips: one warm-up op, then three traced ones
      Workload.Kinds.filterNot(wl.loopKinds.contains).foreach { k =>
        attempt(-1, wl.op(k))
        (1 to 3).foreach(_ => loopOp(wl.op(k), traced = true))
      }
    }

    // every answer is checked here, after the timed work
    val wrong = pending.toSeq.flatMap { case (i, op, res) =>
      val err = try op.check(res) catch { case e: Exception => Some(s"check failed: $e") }
      err.map { msg => System.err.println(s"graftbench: wrong answer: $msg"); i }
    }
    failed += wrong.size
    val wrongOps = wrong.toSet
    val checked = done.toSeq.map(d => d.copy(ok = d.ok && !wrongOps(d.index)))
    val good = checked.filter(_.ok)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("ops_per_s") = (good.size / loopS, "1/s")
      wl.loopKinds.foreach { k =>
        val xs = good.filter(_.kind == k).map(_.ms).toSeq
        metrics(s"${k}_p50_ms") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      }
      System.err.println(f"graftbench: session ${sessionS}%.2f s, populate ${populateS.map(x => f"$x%.2f").mkString("/")} s")
      Workload.Kinds.foreach { k =>
        val xs = good.filter(_.kind == k).map(_.ms).toSeq
        val tail = if (Stats.reportable(xs.size, 0.9)) f", p90 ${Stats.percentile(xs, 0.9)}%.1f ms" else ""
        if (xs.nonEmpty) System.err.println(f"graftbench: $k%-8s n=${xs.size}%3d p50 ${Stats.median(xs)}%.1f ms$tail")
      }
    } else {
      attempted += ProbeFiles
      failed += ingestProbe(spark, tracer, o)
      org.apache.spark.GraftBenchBus.drain(sc)
      Layers.report(metrics, tracer.spans.toSeq, listener.work, checked, storage.toSeq, cores,
        dataFiles(catalogDir(SetupReps)).values.sum.toDouble / wl.liveEdges)
      Files.createDirectories(o.out)
      Layers.writeSpans(tracer.spans.toSeq, listener.work, Tracer.selfTimes(tracer.spans.toSeq),
        o.out.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
    }
    spark.stop()

    val correct = failed == 0 && goldenFailures.isEmpty && done.nonEmpty
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    sys.exit(0)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The sources layer on its own: parse seeded matrix files through
    * `MatrixIO.readMatrix`, collect and check the edges, traced. Runs in
    * every traced run, so `sources.*` is measured on every workload.
    * Returns the number of files parsed wrong. */
  private val ProbeFiles = 10

  private def ingestProbe(spark: SparkSession, tracer: Tracer, o: Opts): Int = {
    val rnd = new java.util.SplittableRandom(o.seed ^ 0x5DEECE66DL)
    tracer.on = true
    val wrong = (1 to ProbeFiles).count { i =>
      val g = Gen.smallGraph(i * 2 - 1, rnd)
      val p = o.work.resolve(s"probe-$i.txt")
      Files.write(p, g.matrixText.getBytes("US-ASCII"))
      val rows = tracer.forOp(-i)(tracer.span("sources.parse")(MatrixIO.readMatrix(spark, p.toString).collect()))
      rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq != g.edges.toSeq
    }
    tracer.on = false
    if (wrong > 0) System.err.println(s"graftbench: $wrong matrix files parsed wrong")
    wrong
  }
}
