package perfbench

import scala.collection.mutable

/** Plain-Scala reference computations over collected inputs. They share no
  * code with the engine: each check recomputes its answer from the raw edge
  * or file rows on the driver.
  */
object Oracle {

  /** An undirected graph over dense indices 0..n-1, vertex ids ascending,
    * each adjacency list sorted and free of duplicates.
    */
  final class Csr(val ids: Array[Long], val off: Array[Int], val nbr: Array[Int]) {
    def n: Int = ids.length
    def arcs: Long = nbr.length.toLong
    def neighbors(v: Int): Iterator[Int] = Iterator.range(off(v), off(v + 1)).map(nbr)
    def degree(v: Int): Int = off(v + 1) - off(v)
  }

  /** Symmetric closure of `edges`: both orientations of every edge, a self
    * loop once, duplicates dropped.
    */
  def csr(edges: Iterable[(Long, Long)]): Csr = {
    val ids = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toArray.distinct.sorted
    def at(id: Long): Long = java.util.Arrays.binarySearch(ids, id).toLong
    // both orientations packed as (from << 32 | to), sorted and deduplicated
    val arcs = edges.iterator.flatMap { case (a, b) =>
      val (i, j) = (at(a), at(b))
      Iterator((i << 32) | j, (j << 32) | i)
    }.toArray
    java.util.Arrays.sort(arcs)
    val uniq = arcs.iterator.zipWithIndex.collect { case (x, k) if k == 0 || arcs(k - 1) != x => x }.toArray
    val off = new Array[Int](ids.length + 1)
    uniq.foreach(x => off((x >>> 32).toInt + 1) += 1)
    for (v <- 0 until ids.length) off(v + 1) += off(v)
    new Csr(ids, off, uniq.map(x => (x & 0xffffffffL).toInt))
  }

  /** Hop distances from `src`, -1 where unreachable. */
  def bfs(g: Csr, src: Int): Array[Int] = {
    val dist = Array.fill(g.n)(-1)
    val queue = new Array[Int](g.n)
    var head = 0
    var tail = 0
    dist(src) = 0
    queue(tail) = src
    tail += 1
    while (head < tail) {
      val u = queue(head)
      head += 1
      var k = g.off(u)
      while (k < g.off(u + 1)) {
        val v = g.nbr(k)
        if (dist(v) < 0) {
          dist(v) = dist(u) + 1
          queue(tail) = v
          tail += 1
        }
        k += 1
      }
    }
    dist
  }

  /** Σ d(src, v) over the vertices `src` reaches. */
  def farness(g: Csr, src: Int): Long = bfs(g, src).iterator.filter(_ > 0).map(_.toLong).sum

  /** Σ 1 / d(src, v) over the vertices `src` reaches. */
  def harmonic(g: Csr, src: Int): Double = bfs(g, src).iterator.filter(_ > 0).map(1.0 / _).sum

  /** Exact top-k closeness with ties on the k-th farness: (id, farness),
    * ranked by farness ascending, farness 0 (isolated) last.
    */
  def topkCloseness(g: Csr, k: Int): Map[Long, Long] = {
    val far = Array.tabulate(g.n)(v => farness(g, v))
    val rank = (f: Long) => if (f > 0) f else Long.MaxValue
    val kth = far.map(rank).sorted.apply(math.min(k, g.n) - 1)
    g.ids.indices.filter(v => rank(far(v)) <= kth).map(v => g.ids(v) -> far(v)).toMap
  }

  /** PageRank power iteration from the uniform vector: the ranks after
    * `iters` supersteps, and every superstep's L∞ change.
    */
  def pagerank(g: Csr, damping: Double, iters: Int): (Array[Double], Seq[Double]) = {
    var pr = Array.fill(g.n)(1.0 / g.n)
    val deltas = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to iters) {
      val msg = new Array[Double](g.n)
      for (u <- 0 until g.n) {
        val w = pr(u) / g.degree(u)
        g.neighbors(u).foreach(v => msg(v) += w)
      }
      val next = msg.map(m => (1 - damping) / g.n + damping * m)
      deltas += next.indices.iterator.map(i => math.abs(next(i) - pr(i))).max
      pr = next
    }
    (pr, deltas.toSeq)
  }

  /** Component label = smallest vertex id of the component. */
  def components(g: Csr): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (u <- 0 until g.n; v <- g.neighbors(u)) {
      val (a, b) = (find(u), find(v))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(v => g.ids(find(v)))
  }

  /** Synchronous label propagation from labels = ids: each round, every
    * vertex takes the label most frequent among its neighbours, the smallest
    * such label on a tie.
    */
  def labelProp(g: Csr, rounds: Int): Array[Long] = {
    var label = g.ids.clone()
    for (_ <- 1 to rounds) {
      label = Array.tabulate(g.n) { v =>
        val counts = g.neighbors(v).toSeq.groupMapReduce(label)(_ => 1)(_ + _)
        counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    label
  }

  /** Number of triangles: each {u < v < w} with all three edges, once. */
  def triangles(g: Csr): Long = {
    def adjacent(a: Int, b: Int): Boolean =
      java.util.Arrays.binarySearch(g.nbr, g.off(a), g.off(a + 1), b) >= 0
    var t = 0L
    for (u <- 0 until g.n; v <- g.neighbors(u) if v > u; w <- g.neighbors(u) if w > v && adjacent(v, w))
      t += 1
    t
  }

  private val ImportRe = "import pkg\\d+\\.File(\\d+)".r
  private val StemRe = "/File(\\d+)\\.".r

  /** The file graph of a files table: vertices are distinct paths numbered in
    * path order; edges join two paths touched by one commit, and a path to
    * each file its content imports. Returns (path → id, undirected edges).
    */
  def fileGraph(rows: Seq[(String, String, String)]): (Map[String, Long], Set[(Long, Long)]) = {
    val paths = rows.map(_._2).distinct.sorted
    val id = paths.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
    val cocommit = rows.groupBy(_._1).valuesIterator.flatMap { rs =>
      val ids = rs.map(r => id(r._2)).distinct.sorted
      for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator) yield (ids(i), ids(j))
    }
    val byStem = paths.flatMap(p => StemRe.findFirstMatchIn(p).map(m => m.group(1) -> id(p)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val imports = rows.map(r => (r._2, r._3)).distinct.iterator.flatMap { case (p, content) =>
      ImportRe.findAllMatchIn(content).flatMap(m => byStem.getOrElse(m.group(1), Nil))
        .filter(_ != id(p)).map(d => (id(p), d))
    }
    (id, (cocommit ++ imports).toSet)
  }
}
