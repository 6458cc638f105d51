package perfbench

import java.security.MessageDigest

/** Plain single-threaded reference computations the benchmark checks the
  * engine's outputs against. Inputs are collected edge lists (src, dst). */
object Reference {

  /** Dense index over every vertex id that appears in the edge list. */
  final class Indexed(src: Array[Long], dst: Array[Long]) {
    val vids: Array[Long] = (src ++ dst).distinct.sorted
    val n: Int = vids.length
    val s: Array[Int] = src.map(idx)
    val d: Array[Int] = dst.map(idx)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(vids, v)
  }

  /** Damped power iteration with the engine's semantics: ranks start at
    * 1/n, dangling mass (1 − Σ rank of vertices with out-edges) is spread
    * uniformly, multi-edges count in the out-degree. Runs `iters` steps and
    * returns the ranks (indexed like `g.vids`) and the L1 change per step. */
  def powerIteration(g: Indexed, iters: Int, damping: Double = 0.85): (Array[Double], Array[Double]) = {
    val n = g.n
    val outDeg = new Array[Int](n)
    g.s.foreach(i => outDeg(i) += 1)
    var r = Array.fill(n)(1.0 / n)
    def transmitted(x: Array[Double]): Double = {
      var t = 0.0; var i = 0
      while (i < n) { if (outDeg(i) > 0) t += x(i); i += 1 }
      t
    }
    var trans = transmitted(r)
    val l1s = new Array[Double](iters)
    var it = 0
    while (it < iters) {
      val dangling = math.max(0.0, 1.0 - trans)
      val sums = new Array[Double](n)
      var e = 0
      while (e < g.s.length) { sums(g.d(e)) += r(g.s(e)) / outDeg(g.s(e)); e += 1 }
      val base = (1.0 - damping) / n + damping * dangling / n
      val next = new Array[Double](n)
      var l1 = 0.0; var i = 0
      while (i < n) { next(i) = base + damping * sums(i); l1 += math.abs(next(i) - r(i)); i += 1 }
      l1s(it) = l1
      r = next
      trans = transmitted(r)
      it += 1
    }
    (r, l1s)
  }

  /** Connected-component label (smallest vertex id of the component) of
    * every vertex, by union-find over the undirected edges. */
  def components(g: Indexed): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    var e = 0
    while (e < g.s.length) {
      val a = find(g.s(e)); val b = find(g.d(e))
      // vids are sorted, so the smaller index is the smaller id: keep it as root
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      e += 1
    }
    Array.tabulate(g.n)(i => g.vids(find(i)))
  }

  /** Triangles of the undirected simple graph (self-loops and duplicate
    * pairs dropped), counted once each by degree-ordered orientation. */
  def triangles(g: Indexed): Long = {
    val pairs = g.s.indices.iterator
      .filter(e => g.s(e) != g.d(e))
      .map(e => (math.min(g.s(e), g.d(e)).toLong << 32) | math.max(g.s(e), g.d(e)).toLong)
      .toArray.distinct
    val deg = new Array[Int](g.n)
    pairs.foreach { p => deg((p >>> 32).toInt) += 1; deg((p & 0xFFFFFFFFL).toInt) += 1 }
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = Array.fill(g.n)(scala.collection.mutable.ArrayBuffer[Int]())
    pairs.foreach { p =>
      val a = (p >>> 32).toInt; val b = (p & 0xFFFFFFFFL).toInt
      if (before(a, b)) out(a) += b else out(b) += a
    }
    val adj = out.map(_.toArray.sorted)
    var count = 0L
    var u = 0
    while (u < g.n) {
      val nu = adj(u)
      nu.foreach { v =>
        val nv = adj(v)
        var i = 0; var j = 0
        while (i < nu.length && j < nv.length) {
          if (nu(i) == nv(j)) { count += 1; i += 1; j += 1 }
          else if (nu(i) < nv(j)) i += 1 else j += 1
        }
      }
      u += 1
    }
    count
  }

  /** Order-independent digest of result rows. */
  def digest(rows: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.toArray.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
