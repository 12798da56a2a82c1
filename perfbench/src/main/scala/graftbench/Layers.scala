package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Per-layer metrics of a traced run, rolled up from its spans. */
object Layers {
  val Reads: Seq[String] = Seq("bfs", "dfs", "cc", "pagerank")

  def report(out: mutable.LinkedHashMap[String, (Double, String)], spans: Seq[Span],
             work: Map[Int, SparkWork], done: Seq[Main.Done], storageMiB: Seq[Double],
             cores: Int, diskBytesPerEdge: Double): Unit = {
    val self = Tracer.selfTimes(spans)
    val traced = done.filter(d => d.traced && d.ok)
    val kindOf = traced.map(d => d.index -> d.kind).toMap
    def w(s: Span) = work.getOrElse(s.id, new SparkWork)
    def ms(ns: Double) = ns / 1e6
    def named(name: String) = spans.filter(s => s.name == name && (s.op < 0 || kindOf.contains(s.op)))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val parse = named("sources.parse")
    out("sources.parse_ms") = (med(parse.map(s => ms(s.dur))), "ms")
    out("sources.jobs") = (Stats.mean(parse.map(w(_).jobs.toDouble)), "count")

    val writes = named("catalog.write")
    val tracedWrites = traced.filter(_.kind == "write")
    def added(d: Main.Done) = d.filesAfter.filter { case (f, _) => !d.filesBefore.contains(f) }
    out("catalog.write_ms") = (med(writes.map(s => ms(s.dur))), "ms")
    out("catalog.write_jobs") = (Stats.mean(writes.map(w(_).jobs.toDouble)), "count")
    out("catalog.files_written") = (Stats.mean(tracedWrites.map(added(_).size.toDouble)), "count")
    out("catalog.bytes_written") = (Stats.mean(tracedWrites.map(added(_).values.sum.toDouble)), "bytes")
    out("catalog.load_ms") = (med(named("catalog.load").map(s => ms(s.dur))), "ms")
    out("catalog.files_listed") =
      (Stats.mean(traced.filter(_.kind != "write").map(_.filesBefore.size.toDouble)), "count")
    out("catalog.disk_bytes_per_edge") = (diskBytesPerEdge, "bytes")

    Reads.foreach { k =>
      val ops = traced.filter(_.kind == k).map(_.index).toSet
      val calls = spans.filter(s => s.name == s"traversals.$k" && ops(s.op)).sortBy(_.op)
      val collects = spans.filter(s => s.name == "collect" && ops(s.op)).sortBy(_.op)
      // per op: the traversal call and its collect, as one unit of work
      val units = calls.zip(collects).map { case (c, l) =>
        val ws = Seq(w(c), w(l))
        val wall = (l.end - c.start).toDouble
        val jobs = ws.flatMap(_.jobIntervals).toSeq
        val taskS = ws.map(_.runMs).sum / 1e3
        (c, l, ws, wall, Stats.uncovered(c.start, l.end, jobs).toDouble, taskS)
      }
      def sum(f: SparkWork => Double) = Stats.mean(units.map(_._3.map(f).sum))
      val p = s"traversals.$k."
      out(p + "wall_ms") = (med(units.map(u => ms(u._1.dur))), "ms")
      out(p + "collect_ms") = (med(units.map(u => ms(u._2.dur))), "ms")
      out(p + "jobs") = (sum(_.jobs), "count")
      out(p + "stages") = (sum(_.stages), "count")
      out(p + "tasks") = (sum(_.tasks), "count")
      out(p + "task_s") = (Stats.mean(units.map(_._6)), "s")
      // JVM-wide GC during the op: in local mode executors share the
      // driver's heap, and a pause stalls tasks and driver alike
      out(p + "gc_s") = (Stats.mean(traced.filter(_.kind == k).map(_.gcMs / 1e3)), "s")
      out(p + "shuffle_bytes") = (sum(_.shuffleBytes.toDouble), "bytes")
      out(p + "spill_bytes") = (sum(_.spillBytes.toDouble), "bytes")
      out(p + "driver_ms") = (med(units.map(u => ms(u._5))), "ms")
      out(p + "pack") = (Stats.mean(units.map(u => u._6 / (u._4 / 1e9 * cores))), "ratio")
    }

    val opSpans = spans.filter(s => s.name == "op" && kindOf.contains(s.op))
    val jobsPerOp = opSpans.map(o => spans.filter(_.op == o.op).map(w(_).jobs).sum.toDouble)
    out("spark.gc_s") = (Stats.mean(done.map(_.gcMs / 1e3)), "s")
    out("spark.storage_mib") = (if (storageMiB.isEmpty) 0.0 else storageMiB.max, "MiB")
    out("spark.jobs_per_op") = (Stats.mean(jobsPerOp), "count")
    out("op.self_ms") = (med(opSpans.map(s => ms(self(s.id).toDouble))), "ms")

    // tracing overhead: traced vs untraced median latency, per kind,
    // summed over the kinds both halves sampled
    val ok = done.filter(_.ok)
    val pairs = Workload.Kinds.flatMap { k =>
      val (t, u) = ok.filter(_.kind == k).partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some((Stats.median(t.map(_.ms)), Stats.median(u.map(_.ms))))
    }
    val overhead = if (pairs.isEmpty) 0.0 else 100 * (pairs.map(_._1).sum / pairs.map(_._2).sum - 1)
    out("trace.overhead_pct") = (overhead, "%")
  }

  /** Spans as JSON lines, with their self time and Spark work. */
  def writeSpans(spans: Seq[Span], work: Map[Int, SparkWork], self: Map[Int, Long], path: Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val w = work.getOrElse(s.id, new SparkWork)
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_ns": ${self(s.id)}, "jobs": ${w.jobs}, """ +
        s""""stages": ${w.stages}, "tasks": ${w.tasks}, "task_ms": ${w.runMs}, "gc_ms": ${w.gcMs}, """ +
        s""""shuffle_bytes": ${w.shuffleBytes}, "spill_bytes": ${w.spillBytes}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
