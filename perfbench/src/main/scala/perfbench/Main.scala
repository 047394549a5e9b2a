package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Runs one workload: set-up several times, timed passes for the requested
  * seconds, output checks, and one JSON result line. The set-up's
  * repetitions run the shared Spark SQL paths (parquet, joins, aggregates,
  * checkpoints) and so warm the fresh JVM; the first timed pass is each
  * operator's first run, as a batch job submitted on its own sees it.
  * `setup_s` is the median repetition; the session start, one cold start
  * per process that the engine does not control, is printed beside it.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --work <dir> [--trace-out <file>]
  * }}}
  */
object Main {

  final case class Sample(wallS: Double, cpuS: Double, heapMb: Double, traced: Boolean)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else BigDecimal(x).bigDecimal.toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    Files.createDirectories(Paths.get(work))

    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      // Spark sizes its memory pages to the heap: 64 MB here, each one
      // array allocated at once. The heap after a collection then counted
      // whole pages of the tasks running at that instant and read 903 or
      // 1,180 MB by that chance alone; at 1 MB it follows the data.
      "spark.buffer.pageSize" -> "1m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val heap = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"config ${conf.map { case (k, v) => s"$k=$v" }.mkString(" ")} heap_mb=$heap " +
      s"java=${System.getProperty("java.version")}")

    val (spark, sessionS) = timed {
      val b = SparkSession.builder().appName("perfbench")
      conf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val wl = Workloads(workload, spark, seed, work, tracer)

    // a traced run traces the last set-up repetition's graph builds
    val setupReps = (1 to wl.setupReps).map { r =>
      tracer.active = trace && r == wl.setupReps
      timed(wl.prepare())._2
    }
    tracer.active = false
    val setupS = median(setupReps)
    println(f"setup session_s=$sessionS%.3f prepare_s=${setupReps.map(x => f"$x%.3f").mkString(",")}")
    wl.sizes.foreach { case (k, v) => println(s"input $k $v") }

    // Timed passes until `seconds` have elapsed, at least the workload's
    // fixed number, so that the pass count does not depend on how fast the
    // machine ran. Traced runs alternate traced and untraced passes, at
    // least three, so the tracing overhead is measured in the same window.
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[(Pass, Boolean)]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val window0 = System.nanoTime()
    def elapsed = (System.nanoTime() - window0) / 1e9
    def enough =
      samples.size >= (if (trace) 3 else wl.timedPasses) && elapsed >= seconds
    while (!enough) {
      val traced = trace && samples.size % 2 == 0
      tracer.active = traced
      val heap = HeapWatch.startPass()
      val pass = new Pass(tracer)
      tracer.beginPass(samples.size)
      tracer.span("pass")(wl.run(pass))
      heap.close()
      val s = Sample(pass.wallS, pass.cpuS, heap.peakMb, traced)
      samples += s
      tracer.active = false
      val verdicts = pass.checks.map { case (name, check) =>
        name -> (try check() catch { case scala.util.control.NonFatal(e) => Some(s"check threw $e") })
      }
      wl.afterPass()
      attempted += verdicts.size
      verdicts.collect { case (name, Some(why)) => failures += s"pass ${samples.size}: $name: $why" }
      passes += ((pass, traced))
      println(f"pass ${samples.size} traced=${if (traced) 1 else 0} wall_s=${s.wallS}%.3f cpu_s=${s.cpuS}%.3f " +
        f"heap_peak_mb=${s.heapMb}%.1f gcs=${heap.collections} ops=${verdicts.map { case (n, v) => s"$n:${if (v.isEmpty) "ok" else "FAIL"}" }.mkString(",")} " +
        s"op_s=${pass.times.map { case (n, t, _) => f"$n:$t%.2f" }.mkString(",")}")
    }
    failures.foreach(f => println(s"check FAILED $f"))

    val untraced = samples.filter(!_.traced)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("run_s", median(untraced.map(_.wallS).toSeq), "s"),
        ("cpu_s", median(untraced.map(_.cpuS).toSeq), "s"),
        ("heap_peak_mb", median(untraced.map(_.heapMb).toSeq), "MB"),
        ("ok_ratio", (attempted - failures.size).toDouble / attempted, "fraction"))
      else {
        val tracedPasses = passes.collect { case (p, true) => p }.toSeq
        val layer = Layers.report(tracer, tracedPasses, wl.exactCounters, wl.setupCounts)
        layer.drift.foreach(d => println(s"selfcheck DRIFT $d"))
        failures ++= layer.drift.map(d => s"selfcheck: nondeterministic count $d")
        attempted += 1
        // passes run traced, untraced, traced: the mean of the traced pair
        // against the untraced pass between them, which cancels a steady
        // drift in speed between passes
        val overhead = ((samples(0).wallS + samples(2).wallS) / 2) / samples(1).wallS
        opts.get("trace-out").foreach(Layers.writeJsonl(tracer, _, workload, seed))
        layer.metrics.map { case (k, v) => (k, v, Layers.unitOf(k)) } :+
          (("trace.overhead", overhead, "ratio"))
      }

    println(f"metric samples ${untraced.size} untraced, ${samples.size - untraced.size} traced")
    metrics.foreach { case (k, v, u) => println(s"metric $k ${num(v)} $u") }
    println(s"metric fail_ratio ${num(failures.size.toDouble / attempted)} fraction (${failures.size}/$attempted)")
    val correct = failures.isEmpty
    println(s"verdict ${if (correct) "all output checks passed" else s"${failures.size} failed"}")
    val json = metrics.map { case (k, v, u) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failures.size}, "metrics": {${json.mkString(", ")}}}""")
    spark.stop()
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
