package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Per-layer metrics of a traced run: `<span>.<counter>` for every span
  * below, and the counters the workloads read off the engine's callbacks
  * and results. A span that a workload never enters reports 0.
  */
object Layers {
  val Spans: Seq[String] =
    Seq("chechik", "pagerank", "bitset", "ingest", "graph.build", "cc", "lpa", "triangles")
  val SpanCounters: Seq[String] = Seq(
    "wall_s", "jobs", "task_s", "exec_cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "driver_gap_s")
  val Results: Seq[String] = Seq(
    "chechik.supersteps", "chechik.sample_size", "chechik.exact_bfs", "chechik.total_bfs",
    "chechik.certify_yield", "pagerank.iterations", "pagerank.superstep_s",
    "bitset.supersteps", "bitset.frontier_rows", "bitset.superstep_s",
    "cc.rounds", "cc.ckpt_mb", "graph.arcs", "ingest.vertices")

  def unitOf(metric: String): String = metric.substring(metric.lastIndexOf('.') + 1) match {
    case c if c.endsWith("_s") => "s"
    case c if c.endsWith("_mb") => "MB"
    case "certify_yield" | "overhead" => "ratio"
    case _ => "count"
  }

  final case class Report(metrics: Seq[(String, Double)], drift: Seq[String])

  /** The figures of the first traced pass, which runs each operator for the
    * first time in the JVM as the untraced run's timed pass does, and every
    * exact-repeat count that differed between the traced passes. A span
    * that ran only in set-up (pass -1) reports set-up's figures.
    */
  def report(tracer: Tracer, passes: Seq[Pass], exact: Set[String], setup: Seq[(String, Double)]): Report = {
    val traced = tracer.spans.filter(s => s.name != "pass")
    val tracedPassNos = traced.map(_.pass).filter(_ >= 0).distinct.sorted
    val first = tracedPassNos.headOption.getOrElse(-1)
    // a span entered twice in one pass sums
    def figures(ss: Seq[Span]): Map[String, Double] =
      ss.map(s => tracer.counters(s).toMap).reduce { (a, b) =>
        a.map { case (k, v) => k -> (if (k == "peak_exec_mem_mb") math.max(v, b(k)) else v + b(k)) }
      }
    val spanMetrics = for (s <- Spans; c <- SpanCounters) yield {
      val mine = traced.filter(_.name == s)
      val inPass = mine.filter(_.pass == first)
      val use = if (inPass.nonEmpty) inPass else mine.filter(_.pass == -1)
      s"$s.$c" -> (if (use.isEmpty) 0.0 else figures(use)(c))
    }
    val setupMap = setup.toMap
    val resultMetrics = Results.map { k =>
      k -> passes.headOption.flatMap(_.counts.get(k)).getOrElse(setupMap.getOrElse(k, 0.0))
    }

    val drift = mutable.ArrayBuffer.empty[String]
    for ((name, ss) <- traced.filter(_.pass >= 0).groupBy(_.name)) {
      val byPass = ss.groupBy(_.pass).map { case (p, g) =>
        p -> g.flatMap(tracer.exactCounts).groupMapReduce(_._1)(_._2)(_ + _)
      }
      if (byPass.size == tracedPassNos.size)
        for (k <- byPass.values.head.keys) {
          val vs = byPass.toSeq.sortBy(_._1).map(_._2(k))
          if (vs.distinct.size > 1) drift += s"$name.$k ${vs.mkString(" vs ")}"
        }
      else drift += s"$name entered in ${byPass.size} of ${tracedPassNos.size} traced passes"
    }
    for (k <- exact.toSeq.sorted) {
      val vs = passes.map(_.counts.get(k))
      if (vs.distinct.size > 1) drift += s"$k ${vs.map(_.getOrElse("-")).mkString(" vs ")}"
    }
    Report(spanMetrics ++ resultMetrics, drift.toSeq)
  }

  /** Every span as one JSON line: name, start, end, parent, pass, counters. */
  def writeJsonl(tracer: Tracer, path: String, workload: String, seed: Int): Unit = {
    val lines = tracer.spans.sortBy(_.id).map { s =>
      val cs = tracer.counters(s).map { case (k, v) => s"\"$k\": ${BigDecimal(v).bigDecimal.toPlainString}" }
      s"""{"workload": "$workload", "seed": $seed, "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""pass": ${s.pass}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "counters": {${cs.mkString(", ")}}}"""
    }
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}
