package perfbench

import graft.sources.SyntheticPages

/** Exact reference answers computed on the driver from the page generator's
  * own link definition, independently of the engine's ingest and operators:
  * the directed edge count, the vertex count, the number of weakly connected
  * components and the number of triangles of the symmetrized simple graph.
  * Page indices stand in for vertex ids; every answer here is invariant under
  * relabeling, so it must equal the engine's answer on its hashed ids. */
final case class Oracle(edges: Long, vertices: Long, components: Long,
                        triangles: Long)

object Oracle {
  def apply(n: Long, seed: Long): Oracle = {
    require(n < Int.MaxValue, s"oracle indexes pages as ints; n=$n")
    val targets = Array.tabulate(n.toInt)(i =>
      SyntheticPages.targetsOf(i.toLong, n, seed).map(_.toInt))
    val isVertex = new Array[Boolean](n.toInt)
    var edges = 0L
    var i = 0
    while (i < targets.length) {
      val ts = targets(i)
      if (ts.nonEmpty) isVertex(i) = true
      ts.foreach(t => isVertex(t) = true)
      edges += ts.length
      i += 1
    }
    val und = undirected(targets)
    Oracle(edges, isVertex.count(identity).toLong,
      components(und, isVertex), triangles(und))
  }

  /** Sorted, deduplicated neighbour lists of the symmetrized graph. */
  private def undirected(targets: Array[Array[Int]]): Array[Array[Int]] = {
    val n = targets.length
    val deg = new Array[Int](n)
    targets.indices.foreach { s => targets(s).foreach { t =>
      deg(s) += 1; deg(t) += 1 } }
    val adj = Array.tabulate(n)(v => new Array[Int](deg(v)))
    val fill = new Array[Int](n)
    targets.indices.foreach { s => targets(s).foreach { t =>
      adj(s)(fill(s)) = t; fill(s) += 1
      adj(t)(fill(t)) = s; fill(t) += 1 } }
    adj.map { a => java.util.Arrays.sort(a); a.distinct }
  }

  private def components(und: Array[Array[Int]],
                         isVertex: Array[Boolean]): Long = {
    val parent = Array.tabulate(und.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    und.indices.foreach { v => und(v).foreach { w =>
      val a = find(v); val b = find(w)
      if (a != b) parent(math.max(a, b)) = math.min(a, b) } }
    und.indices.count(v => isVertex(v) && find(v) == v).toLong
  }

  /** Each triangle counted once: orient every edge from lower to higher
    * (degree, id) rank and intersect out-lists. */
  private def triangles(und: Array[Array[Int]]): Long = {
    def before(a: Int, b: Int): Boolean =
      und(a).length < und(b).length ||
        (und(a).length == und(b).length && a < b)
    val out = und.indices.map(v => und(v).filter(w => before(v, w))).toArray
    var count = 0L
    out.indices.foreach { v =>
      val ov = out(v)
      ov.foreach { w =>
        val ow = out(w)
        var i = 0; var j = 0
        while (i < ov.length && j < ow.length) {
          if (ov(i) == ow(j)) { count += 1; i += 1; j += 1 }
          else if (ov(i) < ow(j)) i += 1
          else j += 1
        }
      }
    }
    count
  }
}
