package graft.graph

/** Core typed rows of the link-graph engine (SURVEY.md §1.2). */

/** Directed edge over dense vertex ids. */
case class Edge(src: Long, dst: Long)

/** A url ↔ dense-vid dictionary entry. */
case class VertexUrl(vid: Long, url: String)

/** Extracted link over urls (pre-dictionary). */
case class LinkRow(src_url: String, dst_url: String)

/** Per-vertex adjacency slab: the engine's CSR row. `dsts` is sorted so
  * iteration order — and therefore every float reduction fed from it — is
  * deterministic and partition-independent. */
case class VertexAdj(src: Long, dsts: Array[Long]) {
  def outDeg: Int = dsts.length
}

/** Per-partition CSR block (SURVEY.md §1.2): struct-of-arrays packing of
  * all adjacency slabs whose source hashes into `part`. One row per
  * partition; built once, persisted; joined 1:1 with the grouped frontier
  * each superstep. `srcIds` sorted ascending; vertex i owns
  * `dsts[offsets(i) until offsets(i+1))`. */
case class CsrBlock(part: Int, srcIds: Array[Long], offsets: Array[Int],
                    dsts: Array[Long]) {
  def indexOf(vid: Long): Int = java.util.Arrays.binarySearch(srcIds, vid)
}

/** In-memory CSR as the push cascades and walk kernels read it; never
  * persisted. The fast paths broadcast the whole graph in this form, and
  * the join path views one part's persisted block through it (no copy).
  *
  * The push direction lives here and nowhere else. Without weights this
  * is the out-CSR of forward push: a push divides the residue by the
  * out-degree, the threshold is rmax·max(deg, 1), and a vertex without a
  * slab absorbs. With weights it is the transposed in-CSR of backward
  * push: entry weight 1/outdeg of the sender, a flat rmax threshold, and
  * a dangling vertex carries an explicit w = 1 self-loop that absorbs.
  * The backward divisor and the forward weight are 1.0, and x/1.0 and
  * x·1.0 are exact in IEEE, so one cascade runs both directions with each
  * one's own float operations. */
case class FlatCsr(srcIds: Array[Long], offsets: Array[Int],
                   dsts: Array[Long], wts: Array[Double] = null) {
  def indexOf(vid: Long): Int = java.util.Arrays.binarySearch(srcIds, vid)
  def degOf(idx: Int): Int = offsets(idx + 1) - offsets(idx)

  /** The degree rmax scales with for the slab at idx (< 0: no slab). */
  def thresholdDeg(idx: Int): Int =
    if (wts == null && idx >= 0) math.max(degOf(idx), 1) else 1
  /** What a push at slab idx divides its spread residue by. */
  def divisor(idx: Int): Double = if (wts == null) degOf(idx) else 1.0
  /** Entry e's share of a push's spread residue. */
  def weight(e: Int): Double = if (wts == null) 1.0 else wts(e)
  /** A push at vid (slab idx) converts its whole residue to reserve: the
    * closed form of the dangling self-loop's geometric series. */
  def absorbs(idx: Int, vid: Long): Boolean =
    if (wts == null) idx < 0 || degOf(idx) == 0
    else idx >= 0 && degOf(idx) == 1 && dsts(offsets(idx)) == vid &&
      wts(offsets(idx)) == 1.0

  /** O(1) vid→index table for the walk kernels. A walk step's binary
    * search costs ~log2(n) dependent cache misses; at ~10⁸ random steps
    * per query batch those probes ARE the walk phase's memory wall
    * (measured: walks scale 0.46 on the 2→8-core window while the
    * better-localized push cascade scales 0.89). 2×-sized linear-probe
    * table ⇒ 1–2 touches per lookup. @transient lazy: rebuilt once per
    * executor JVM after broadcast deserialization, never shipped. */
  @transient lazy val fastIndex: graft.util.Prim.LongSlotMap = {
    val t = new graft.util.Prim.LongSlotMap(srcIds.length)
    var i = 0
    while (i < srcIds.length) { t.getOrInsert(srcIds(i), i); i += 1 }
    t
  }
  /** As indexOf (negative when absent), via the O(1) table. */
  def fastIndexOf(vid: Long): Int = fastIndex.get(vid)
}

/** Per-superstep, per-partition execution metrics (north rule: checkpoint
  * with per-partition lineage + push/walk metrics). */
case class PartMetrics(part: Int, rows: Long, pushes: Long, walks: Long,
                       rsum: Double)
