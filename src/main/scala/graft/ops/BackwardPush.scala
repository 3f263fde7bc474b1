package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{FlatCsr, LinkGraph}

/** Backward (reverse) push from target vertices (SURVEY.md O15;
  * Andersen et al. 2007; the backward half of BiPPR [KDD17 §2.3]).
  *
  * Estimates π(·, t): with residual r_t and reserve π°_t,
  *   π(s,t) = π°_t(s) + Σ_v r_t(v)·π(s,v)
  * push at v: π°_t(v) += α·r; every in-neighbor u gains
  * (1−α)·r/outdeg(u); r(v) = 0. Unlike forward push the weight depends on
  * the SENDER-side out-degree, so the in-CSR stores a weight per entry.
  *
  * Dangling (absorb convention): a dangling u has a self-loop in P', so
  * the in-CSR gets an explicit (v=u ← u, w=1) entry; the cascade's
  * closed form then converts the whole residual (geometric series), same
  * as forward.
  *
  * Execution: ForwardPush's engine over the weighted in-CSR — forward
  * push over transposed edges. The broadcast fast path is
  * ForwardPush.runFast over [[flatInCsr]]; the join path is
  * ForwardPush.joinSupersteps over [[inCsr]]'s per-part blocks. The
  * weights, with the flat threshold and the self-loop absorb that come
  * with them, travel in the FlatCsr, so each path runs one driver loop
  * and one cascade for both directions.
  */
object BackwardPush {

  case class BCsr(part: Int, srcIds: Array[Long], offsets: Array[Int],
                  dsts: Array[Long], wts: Array[Double])

  /** Weighted in-adjacency CSR blocks pinned one-per-content-part: an
    * RDD with exactly `numParts` partitions (partition i = part i's
    * block), built once per graph dir and cached per graph instance —
    * the backward mirror of LinkGraph.csrZip. The parquet table remains
    * the durable artifact; the pinned RDD is what the superstep loop
    * zips against, so the (static) in-CSR is never re-exchanged per
    * round (guide §2.4). */
  def inCsr(graph: LinkGraph): org.apache.spark.rdd.RDD[BCsr] =
    graph.registerRdd("inCsrZip") {
      val spark = graph.spark
      import spark.implicits._
      val r = inCsrBlocks(graph).rdd.map(b => (b.part, b))
        .partitionBy(
          new graft.graph.LinkGraph.PartIdPartitioner(graph.numParts))
        .values
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }

  /** The weighted in-CSR block table: read back from the parquet
    * artifact when it exists, else built with one sort-shuffle + a
    * streaming packer (the LinkGraph.packCsrStream shape) instead of
    * groupByKey + a boxed-tuple sort per group — identical blocks
    * (rows sorted (part, v, u), srcIds ascending, entries in (v, u)
    * order; the entry set is already unique so no dedup arises). The
    * fresh build is served from its cache while the durable write
    * rides the overlapped artifact queue — the old build paid a
    * synchronous write + full read-back before the first superstep. */
  private def inCsrBlocks(graph: LinkGraph)
      : org.apache.spark.sql.Dataset[BCsr] = {
    val spark = graph.spark
    import spark.implicits._
    val path = s"${graph.storageDir}/in_csr_weighted"
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
      spark.read.parquet(path).as[BCsr]
    else {
      val p = graph.numParts
      // entries straight off the cached CSR blocks (round 6, guide
      // §1.2): a source's out-degree IS its slab length, so the old
      // edges ⋈ outDegrees join (a full edge-set join per build) is a
      // narrow flatMap; weights are the identical 1.0/outDeg division.
      // Dangling self-loop rows still come from outDegrees (the only
      // place outDeg = 0 vertices exist).
      val entries = graph.csr.flatMap { b =>
        Iterator.range(0, b.srcIds.length).flatMap { i =>
          val u = b.srcIds(i)
          val deg = b.offsets(i + 1) - b.offsets(i)
          val w = 1.0 / deg
          Iterator.range(b.offsets(i), b.offsets(i + 1))
            .map(j => (b.dsts(j), u, w))
        }
      }.toDF("v", "u", "w")
        .unionByName(graph.outDegrees.where($"outDeg" === 0)
          .select($"vid".as("v"), $"vid".as("u"), lit(1.0).as("w")))
      val built = entries
        .withColumn("part",
          pmod(xxhash64($"v"), lit(p.toLong)).cast("int"))
        .repartition(p, $"part")
        .sortWithinPartitions($"part", $"v", $"u")
        .select($"part", $"v", $"u", $"w").as[(Int, Long, Long, Double)]
        .mapPartitions(packBCsrStream(_))
        .persist(StorageLevel.MEMORY_AND_DISK)
      built.count()
      graph.enqueueWrite(built.toDF(), "in_csr_weighted")
      built
    }
  }

  /** Streaming weighted-CSR packer over one physical partition of the
    * sort-shuffle output (rows sorted by (part, v, u); a physical
    * partition may carry several content parts — blocks cut at part
    * boundaries). */
  private def packBCsrStream(rows: Iterator[(Int, Long, Long, Double)])
      : Iterator[BCsr] = new Iterator[BCsr] {
    private val it = rows.buffered
    def hasNext: Boolean = it.hasNext
    def next(): BCsr = {
      val part = it.head._1
      var srcIds = new Array[Long](64)
      var offs = new Array[Int](65)
      var dsts = new Array[Long](1024)
      var wts = new Array[Double](1024)
      var nSrc = 0
      var nDst = 0
      var cur = Long.MinValue
      var any = false
      while (it.hasNext && it.head._1 == part) {
        val (_, v, u, w) = it.next()
        if (!any || v != cur) {
          if (nSrc == srcIds.length) {
            srcIds = java.util.Arrays.copyOf(srcIds, nSrc * 2)
            offs = java.util.Arrays.copyOf(offs, nSrc * 2 + 1)
          }
          srcIds(nSrc) = v
          offs(nSrc) = nDst
          nSrc += 1
          cur = v
          any = true
        }
        if (nDst == dsts.length) {
          dsts = java.util.Arrays.copyOf(dsts, nDst * 2)
          wts = java.util.Arrays.copyOf(wts, nDst * 2)
        }
        dsts(nDst) = u
        wts(nDst) = w
        nDst += 1
      }
      offs(nSrc) = nDst
      BCsr(part,
        java.util.Arrays.copyOf(srcIds, nSrc),
        java.util.Arrays.copyOf(offs, nSrc + 1),
        java.util.Arrays.copyOf(dsts, nDst),
        java.util.Arrays.copyOf(wts, nDst))
    }
  }

  /** Build (once per graph INSTANCE — lifetime tracked by the LinkGraph,
    * destroyed in unpersistAll; a storageDir-keyed global cache served
    * stale CSRs after same-dir rebuilds) the broadcast weighted in-CSR:
    * a FlatCsr with entry weights, dangling vertices carrying their
    * explicit (v ← v, w = 1) self-loop entry.
    * Collects the adjacency to the driver — legitimate under the same
    * memory budget as LinkGraph.flatCsr (~24 B/edge), gated by
    * fastPathMaxEdges. */
  def flatInCsr(graph: LinkGraph): Broadcast[FlatCsr] =
    graph.registerBroadcast("flatInCsr") {
      val slabs = graph.adj.collect()
      val verts = graph.vertices.collect()
      val srcSet = new java.util.HashSet[java.lang.Long](slabs.length * 2)
      slabs.foreach(s => srcSet.add(s.src))
      val nDangling = verts.count(v => !srcSet.contains(v))
      val total = slabs.map(_.dsts.length.toLong).sum + nDangling
      require(total < Int.MaxValue, "flat in-CSR too large")
      val tgt = new Array[Long](total.toInt)
      val us = new Array[Long](total.toInt)
      val ws = new Array[Double](total.toInt)
      var i = 0
      slabs.foreach { s =>
        val w = 1.0 / s.dsts.length
        s.dsts.foreach { d => tgt(i) = d; us(i) = s.src; ws(i) = w; i += 1 }
      }
      verts.foreach { v =>
        if (!srcSet.contains(v)) { tgt(i) = v; us(i) = v; ws(i) = 1.0; i += 1 }
      }
      // sort entries by (target, u) in place — primitive three-array
      // quicksort (ADVICE r3/VERDICT r3 "what's wrong" #3: the index sort
      // via Array[Integer] boxed O(m) ints and paid comparator
      // indirection on a 20M-edge-gated path)
      graft.util.Prim.sort2k(tgt, us, ws, 0, i - 1)
      val srcIds = new Array[Long](verts.length)
      val offsets = new Array[Int](verts.length + 1)
      var k = 0; var nSrc = 0
      while (k < i) {
        val t = tgt(k)
        if (nSrc == 0 || srcIds(nSrc - 1) != t) {
          srcIds(nSrc) = t; offsets(nSrc) = k; nSrc += 1
        }
        k += 1
      }
      offsets(nSrc) = i
      // every vertex has >= 1 in-entry OR is a pure source with none;
      // compact to the actually-present targets. After the in-place sort
      // `us`/`ws` ARE the entry arrays (trim to the filled prefix).
      val b = FlatCsr(srcIds.take(nSrc), offsets.take(nSrc + 1),
        java.util.Arrays.copyOf(us, i), java.util.Arrays.copyOf(ws, i))
      graph.spark.sparkContext.broadcast(b)
    }

  /** Run backward push to threshold rmax from each target (qid → t).
    * Dispatches to the packed-key broadcast fast path when the graph fits
    * the broadcast budget, else the per-partition pinned-CSR join path. */
  def run(graph: LinkGraph, targets: Map[Int, Long], alpha: Double,
          rmax: Double, maxSupersteps: Int = 10000): ForwardPush.Result = {
    if (graph.numEdges <= ForwardPush.fastPathMaxEdges &&
        ForwardPush.packableKeys(graph, targets))
      runFast(graph, targets, alpha, rmax, maxSupersteps)
    else runJoin(graph, targets, alpha, rmax, maxSupersteps)
  }

  /** Broadcast fast path: ForwardPush.runFast's StateBlock loop and
    * block cascade over the flat weighted in-CSR. */
  def runFast(graph: LinkGraph, targets: Map[Int, Long], alpha: Double,
              rmax: Double, maxSupersteps: Int = 10000,
              chainLen: Int = 8): ForwardPush.Result =
    ForwardPush.runFast(graph, targets, alpha, rmax, maxSupersteps,
      chainLen, csr = Some(flatInCsr(graph)))

  /** Per-partition pinned-CSR path (beyond broadcast memory): the forward
    * join path's superstep loop and cascade over the weighted in-CSR
    * blocks (inCsr, partition i = part i). */
  def runJoin(graph: LinkGraph, targets: Map[Int, Long], alpha: Double,
              rmax: Double, maxSupersteps: Int = 10000,
              chainLen: Int = 16): ForwardPush.Result =
    ForwardPush.joinSupersteps(graph.spark, graph.numParts,
      ForwardPush.partCsrs(inCsr(graph), FlatCsr(Array.emptyLongArray,
        Array(0), Array.emptyLongArray, Array.emptyDoubleArray))(
        b => FlatCsr(b.srcIds, b.offsets, b.dsts, b.wts)),
      targets, alpha, rmax, maxSupersteps, chainLen, ckpt = None,
      resume = false)

  /** BiPPR pair query (SURVEY.md O16): π̂(s,t) = π°_t(s) +
    * (1/ω)·Σ_w r_t(endpoint of forward walk w from s). */
  def biPprPair(graph: LinkGraph, s: Long, t: Long, alpha: Double = 0.2,
                rmaxB: Double = 1e-4, omega: Long = 10000,
                seed: Long = 42L): Double = {
    val spark = graph.spark
    import spark.implicits._
    val back = run(graph, Map(0 -> t), alpha, rmaxB)
    val rt = back.state.select($"vid", $"reserve", $"residue")
    val reserveAtS = rt.where($"vid" === s).select($"reserve")
      .as[Double].collect().headOption.getOrElse(0.0)
    val seeds = spark.range(omega)
      .select(lit(0).as("qid"), lit(s).as("origin"), $"id".as("slot"),
        lit(s).as("cur"), lit(1.0 / omega).as("mass"))
    val hits = RandomWalks.run(graph, seeds, alpha, seed, estWalks = omega)
      .groupBy($"vid").agg(sum($"mass").as("w"))
      .join(rt.select($"vid", $"residue"), "vid")
      .agg(coalesce(sum($"w" * $"residue"), lit(0.0))).as[Double].head()
    reserveAtS + hits
  }
}
