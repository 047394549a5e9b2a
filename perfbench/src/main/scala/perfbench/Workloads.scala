package perfbench

import graft.algo.{BitsetBfs, Chechik, Components, LabelProp, PageRank, Triangles}
import graft.core.{DirMaterializer, Graph, Materializer}
import graft.data.{Synth, Tpch}
import graft.ingest.{EdgeDeriver, FilesTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed pass: the operations it ran, each with its wall and CPU time
  * and a deferred output check, and the counters the engine's public
  * callbacks and results gave.
  */
final class Pass(val tracer: Tracer) {
  val checks = mutable.ArrayBuffer.empty[(String, () => Option[String])]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** (operation, wall seconds, process CPU seconds), in order. */
  val times = mutable.ArrayBuffer.empty[(String, Double, Double)]

  /** Runs one operation inside its span. A throw fails the operation; the
    * check runs later, outside the timed region.
    */
  def op[A](name: String)(body: => A)(check: A => Option[String]): Option[A] = {
    val cpu0 = Pass.cpuNs()
    val t0 = System.nanoTime()
    val out =
      try {
        val a = tracer.span(name)(body)
        checks += name -> (() => check(a))
        Some(a)
      } catch {
        case NonFatal(e) =>
          checks += name -> (() => Some(s"threw $e"))
          None
      }
    times += ((name, (System.nanoTime() - t0) / 1e9, (Pass.cpuNs() - cpu0) / 1e9))
    out
  }

  def skipped(name: String): Unit =
    checks += name -> (() => Some("not run: an operation it depends on failed"))

  def wallS: Double = times.map(_._2).sum
  def cpuS: Double = times.map(_._3).sum
}

object Pass {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
}

trait Workload {
  /** Set-up repetitions; `setup_s` reports their median. */
  def setupReps: Int = 3
  /** Timed passes of an untraced run, at the least; `run_s`, `cpu_s` and
    * `heap_peak_mb` report their median.
    */
  def timedPasses: Int = 1
  /** One set-up repetition: generate the inputs and build what the timed
    * pass reads, replacing the previous repetition's.
    */
  def prepare(): Unit
  /** Input sizes, printed so that drift in input size shows. */
  def sizes: Seq[(String, Long)]
  def run(p: Pass): Unit
  /** Frees what one pass left behind, after its checks ran. */
  def afterPass(): Unit = ()
  /** Counters of [[Pass.counts]] that must repeat exactly pass to pass. */
  def exactCounters: Set[String]
  /** Counters of the inputs built in set-up. */
  def setupCounts: Seq[(String, Double)] = Nil
}

object Workloads {
  val Names: Seq[String] = Seq("topk_pagerank", "repo_pipeline")

  def apply(name: String, spark: SparkSession, seed: Int, work: String, tracer: Tracer): Workload = name match {
    case "topk_pagerank" => new TopkPagerank(spark, seed, work, tracer)
    case "repo_pipeline" => new RepoPipeline(spark, work, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def persistAdjacency(sym: DataFrame): (DataFrame, Long, Long) = {
    val adj = Graph.adjacency(sym).persist()
    val r = adj.agg(countDistinct("src"), sum("degree")).head()
    (adj, r.getLong(0), r.getLong(1))
  }

  private[perfbench] def edgesOf(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("src").cast("long"), col("dst").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private[perfbench] def close(a: Double, b: Double, rtol: Double, atol: Double): Boolean =
    math.abs(a - b) <= atol + rtol * math.abs(b)

  private[perfbench] def firstMismatch[K](what: String, got: Map[K, Any], want: Map[K, Any]): Option[String] =
    if (got.size != want.size) Some(s"$what: ${got.size} rows, expected ${want.size}")
    else want.collectFirst {
      case (k, v) if !got.get(k).contains(v) => s"$what: at $k got ${got.get(k)}, expected $v"
    }
}

/** Chechik top-k closeness on the TPC-H part–supplier graph, then
  * PageRank to L∞ < 1e-6 and the bitset BFS harmonic centrality of seeded
  * pivots on a seeded synthetic graph. Both graphs, and the bitset BFS's
  * chunk-keyed adjacency, are built in set-up.
  */
final class TopkPagerank(spark: SparkSession, seed: Int, work: String, tracer: Tracer) extends Workload {
  import Workloads._

  val Sf = 0.001
  val K = 10
  val Eps = 0.1
  val Tol = 1e-6
  val Damping = 0.85
  val N = 2000L
  /** Bitset BFS pivots: one wave of 8 mask columns. */
  val Pivots = 512
  // Chechik's time varied 13–20 s between single passes, in runs a minute
  // apart and between passes of one JVM alike; two passes halve the weight
  // of one slow pass, and the run still fits the budget
  override def timedPasses: Int = 2
  private val dir = s"$work/tpch"
  private var lineitems = 0L
  private var tpch: (DataFrame, Long, Long) = _
  private var synth: (DataFrame, Long, Long) = _
  private var prep: BitsetBfs.Prep = _
  private var pivots: Array[Long] = _

  def prepare(): Unit = {
    Seq(tpch, synth).filter(_ != null).foreach(_._1.unpersist(true))
    Option(prep).foreach(_.release())
    lineitems = Inputs.writeLineitem(spark, dir, Sf)
    tpch = tracer.span("graph.build")(persistAdjacency(Graph.symmetrize(Tpch.bipartiteEdges(spark, dir))))
    synth = tracer.span("graph.build")(persistAdjacency(Graph.symmetrize(Synth.edges(spark, N, seed = seed))))
    prep = tracer.span("graph.build")(BitsetBfs.prepare(synth._1))
    val ids = synth._1.select(col("src").cast("long")).collect().map(_.getLong(0)).distinct.sorted
    pivots = new scala.util.Random(seed).shuffle(ids.toSeq).take(Pivots).sorted.toArray
  }

  override def setupCounts: Seq[(String, Double)] = Seq("graph.arcs" -> (tpch._3 + synth._3).toDouble)

  def sizes: Seq[(String, Long)] = Seq(
    "lineitem_rows" -> lineitems,
    "tpch_vertices" -> tpch._2, "tpch_arcs" -> tpch._3,
    "synth_vertices" -> synth._2, "synth_arcs" -> synth._3)

  private lazy val tpchCsr = Oracle.csr(edgesOf(Tpch.bipartiteEdges(spark, dir)))
  private lazy val exactTopk = Oracle.topkCloseness(tpchCsr, K)
  private lazy val synthCsr = Oracle.csr(edgesOf(Synth.edges(spark, N, seed = seed)))

  def exactCounters: Set[String] = Set(
    "chechik.supersteps", "chechik.sample_size", "chechik.exact_bfs", "chechik.total_bfs",
    "pagerank.iterations", "bitset.supersteps", "bitset.frontier_rows")

  def run(p: Pass): Unit = {
    p.op("chechik") {
      val (topk, tel) = Chechik.topkCloseness(spark, tpch._1, k = K, eps = Eps, seed = seed)
      (topk.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("farness")).toMap, tel)
    } { case (got, tel) =>
      p.counts ++= Seq(
        "chechik.supersteps" -> tel.supersteps.toDouble,
        "chechik.sample_size" -> tel.sampleSize.toDouble,
        "chechik.exact_bfs" -> tel.exactBfs.toDouble,
        "chechik.total_bfs" -> tel.totalBfs.toDouble,
        "chechik.certify_yield" -> K.toDouble / math.max(1L, tel.exactBfs))
      firstMismatch("top-k closeness (id -> farness)", got, exactTopk)
    }

    p.op("pagerank") {
      PageRank.run(spark, synth._1, damping = Damping, tol = Tol)
    } { r =>
      p.counts("pagerank.iterations") = r.iterations.toDouble
      // chained supersteps finish inside one job, so their share of the
      // loop's wall time is the only per-superstep time visible from outside
      p.counts("pagerank.superstep_s") = p.times.find(_._1 == "pagerank").get._2 / math.max(1, r.iterations)
      val g = synthCsr
      val (want, deltas) = Oracle.pagerank(g, Damping, r.iterations)
      val got = r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val stopsHere = deltas.last <= Tol && (deltas.size == 1 || deltas(deltas.size - 2) > Tol)
      if (!stopsHere) Some(s"stopped after ${r.iterations} iterations; L∞ changes ${deltas.takeRight(2)}")
      else if (got.size != g.n) Some(s"${got.size} ranks for ${g.n} vertices")
      else g.ids.indices.collectFirst {
        case v if !got.get(g.ids(v)).exists(close(_, want(v), 1e-6, 1e-12)) =>
          s"rank of ${g.ids(v)}: got ${got.get(g.ids(v))}, expected ${want(v)}"
      }
    }

    p.op("bitset") {
      var supersteps = 0L
      var frontierRows = 0L
      val pv = spark.createDataFrame(pivots.toSeq.map(Tuple1(_))).toDF("pivot")
      val v = BitsetBfs.visit(spark, synth._1, pv, maskCols = Pivots / 64,
        onSuperstep = (_, rows) => { supersteps += 1; frontierRows += rows }, prep = prep)
      try {
        val h = BitsetBfs.harmonic(v).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        (h, supersteps, frontierRows)
      } finally v.release()
    } { case (got, supersteps, frontierRows) =>
      p.counts ++= Seq(
        "bitset.supersteps" -> supersteps.toDouble,
        "bitset.frontier_rows" -> frontierRows.toDouble,
        "bitset.superstep_s" -> p.times.find(_._1 == "bitset").get._2 / math.max(1L, supersteps))
      val g = synthCsr
      if (got.keySet != pivots.toSet) Some(s"harmonic of ${got.size} pivots, expected ${pivots.length}")
      else pivots.collectFirst {
        case id if !close(got(id), Oracle.harmonic(g, java.util.Arrays.binarySearch(g.ids, id)), 1e-9, 1e-12) =>
          s"harmonic of $id: got ${got(id)}, expected " +
            s"${Oracle.harmonic(g, java.util.Arrays.binarySearch(g.ids, id))}"
      }
    }
  }
}

/** The repository-table pipeline: file rows → file graph → adjacency →
  * connected components with a parquet checkpoint per round, label
  * propagation and the global triangle count.
  */
final class RepoPipeline(spark: SparkSession, work: String, tracer: Tracer) extends Workload {
  import Workloads._

  val FileRows = 3000L
  val LpaRounds = 5
  // one repetition only writes a small table, so more of them steady the median
  override def setupReps: Int = 7
  private val dir = s"$work/files"
  private var passNo = 0
  private val live = mutable.ArrayBuffer.empty[DataFrame]

  def prepare(): Unit = Inputs.writeRowCount(spark, dir, 2 * FileRows)

  def sizes: Seq[(String, Long)] = Seq("file_rows" -> FilesTable.numRows(spark, dir))

  private lazy val files: Seq[(String, String, String)] =
    FilesTable.files(spark, dir).select("commit", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
  private lazy val oracle = {
    val (ids, edges) = Oracle.fileGraph(files)
    (ids, edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }, Oracle.csr(edges))
  }

  def exactCounters: Set[String] = Set("ingest.vertices", "graph.arcs", "cc.rounds")

  def run(p: Pass): Unit = {
    passNo += 1
    val ingest = p.op("ingest") {
      val (vmap, sym) = EdgeDeriver.fileGraph(spark, dir)
      val s = sym.persist()
      live ++= Seq(vmap, s)
      (vmap, s, vmap.count(), s.count())
    } { case (vmap, sym, nv, _) =>
      p.counts("ingest.vertices") = nv.toDouble
      val (ids, arcs, _) = oracle
      val gotIds = vmap.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val gotArcs = edgesOf(sym).toSet
      firstMismatch("vertex ids", gotIds, ids).orElse(
        if (gotArcs == arcs) None
        else Some(s"${gotArcs.size} arcs, expected ${arcs.size}; " +
          s"${(gotArcs diff arcs).size} unexpected, ${(arcs diff gotArcs).size} missing"))
    }
    if (ingest.isEmpty) {
      Seq("graph.build", "cc").foreach(p.skipped)
      return
    }
    val sym = ingest.get._2

    val build = p.op("graph.build") {
      val g = persistAdjacency(sym)
      live += g._1
      g
    } { case (_, _, arcs) =>
      p.counts("graph.arcs") = arcs.toDouble
      if (arcs == oracle._3.arcs) None else Some(s"$arcs arcs, expected ${oracle._3.arcs}")
    }
    if (build.isEmpty) {
      Seq("cc", "lpa", "triangles").foreach(p.skipped)
    } else {
      val adj = build.get._1
      val ck = s"$work/cc-ckpt-$passNo"
      p.op("cc") {
        val r = Components.run(spark, adj, mat = new DirMaterializer(spark, ck))
        val labels = r.labels.localCheckpoint(true)
        live += labels
        (r.iterations, labels)
      } { case (rounds, labels) =>
        p.counts("cc.rounds") = rounds.toDouble
        p.counts("cc.ckpt_mb") = dirBytes(Paths.get(ck)) / (1024.0 * 1024.0)
        val g = oracle._3
        val want = Oracle.components(g)
        firstMismatch("component labels",
          labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
          g.ids.indices.map(v => g.ids(v) -> want(v)).toMap)
      }

      p.op("lpa") {
        val labels = LabelProp.run(spark, adj, rounds = LpaRounds)
        live += labels
        labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } { got =>
        val g = oracle._3
        val want = Oracle.labelProp(g, LpaRounds)
        firstMismatch("label propagation labels", got, g.ids.indices.map(v => g.ids(v) -> want(v)).toMap)
      }

      p.op("triangles") {
        Triangles.globalCount(spark, Graph.canonicalize(sym)).head().getLong(0)
      } { got =>
        val want = Oracle.triangles(oracle._3)
        if (got == want) None else Some(s"$got triangles, expected $want")
      }
    }
  }

  override def afterPass(): Unit = {
    live.foreach { df =>
      df.unpersist(false)
      Materializer.unpersistCheckpoint(df)
    }
    live.clear()
    Files.list(Paths.get(work)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("cc-ckpt-"))
      .foreach(deleteTree)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()

  private def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
}
