package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.LinkGraph
import graft.util.Hashing

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
  * Execution shape mirrors ForwardPush: one row-level exchange per
  * superstep + a 1:1 per-part join against the persisted weighted in-CSR.
  */
object BackwardPush {

  case class BCsr(part: Int, srcIds: Array[Long], offsets: Array[Int],
                  dsts: Array[Long], wts: Array[Double])

  case class Result(state: DataFrame, rsum: Double, supersteps: Int,
                    pushes: Long)

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

  /** Flat weighted in-CSR for the broadcast fast path; dangling vertices
    * carry their explicit (v ← v, w=1) self-loop entry. */
  case class FlatBCsr(srcIds: Array[Long], offsets: Array[Int],
                      dsts: Array[Long], wts: Array[Double]) {
    def indexOf(vid: Long): Int = java.util.Arrays.binarySearch(srcIds, vid)
    def degOf(idx: Int): Int = offsets(idx + 1) - offsets(idx)
  }

  /** Build (once per graph INSTANCE — lifetime tracked by the LinkGraph,
    * destroyed in unpersistAll; a storageDir-keyed global cache served
    * stale CSRs after same-dir rebuilds) the broadcast reverse CSR.
    * Collects the adjacency to the driver — legitimate under the same
    * memory budget as LinkGraph.flatCsr (~24 B/edge), gated by
    * fastPathMaxEdges. */
  def flatInCsr(graph: LinkGraph): org.apache.spark.broadcast.Broadcast[FlatBCsr] =
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
      val b = FlatBCsr(srcIds.take(nSrc), offsets.take(nSrc + 1),
        java.util.Arrays.copyOf(us, i), java.util.Arrays.copyOf(ws, i))
      graph.spark.sparkContext.broadcast(b)
    }

  /** Run backward push to threshold rmax from each target (qid → t).
    * Dispatches to the packed-key broadcast fast path when the graph fits
    * the broadcast budget, else the per-partition pinned-CSR join path. */
  def run(graph: LinkGraph, targets: Map[Int, Long], alpha: Double,
          rmax: Double, maxSupersteps: Int = 10000): Result = {
    if (graph.numEdges <= ForwardPush.fastPathMaxEdges &&
        ForwardPush.packableKeys(graph, targets))
      runFast(graph, targets, alpha, rmax, maxSupersteps)
    else runJoin(graph, targets, alpha, rmax, maxSupersteps)
  }

  /** Broadcast fast path: packed keys qid<<40|vid, primitive cascade
    * against the flat in-CSR, chained rounds per job — the backward
    * mirror of ForwardPush.runFast. */
  def runFast(graph: LinkGraph, targets: Map[Int, Long], alpha: Double,
              rmax: Double, maxSupersteps: Int = 10000,
              chainLen: Int = 8): Result = {
    val spark = graph.spark
    import spark.implicits._
    // same two-regime content-derived rule as the forward fast path:
    // a small graph's cascade drains locally in one chained job (p=1)
    // instead of paying ~supersteps × p near-empty shuffle tasks
    val p = ForwardPush.fastStateParts(graph.numEdges)
    val sc = spark.sparkContext
    val csrB = flatInCsr(graph)
    // round 6: plain RDD rounds with the VidPartitioner — placement is
    // the SAME pmod(murmur3(key & VidMask), p) the old Dataset
    // repartition computed, and cascadeFastB sorts its input, so
    // results are bitwise unchanged while the per-epoch Catalyst
    // planning/encoding of an 8-deep repartition chain is gone (the
    // runJoin treatment applied to the packed fast path).
    val vp = new ForwardPush.VidPartitioner(p)

    var state: org.apache.spark.rdd.RDD[ForwardPush.KRow] = sc.parallelize(
      targets.toSeq.sortBy(_._1)
        .map { case (q, v) =>
          ForwardPush.KRow((q.toLong << 40) | v, 0.0, 1.0) }, 1)
    var pinned: Option[org.apache.spark.rdd.RDD[ForwardPush.KRow]] = None
    var step = 0
    var converged = false
    var totalPushes = 0L
    // p == 1 makes remote deltas structurally impossible — chain 1
    // (see ForwardPush.runFastK: later chained rounds are identity
    // re-shuffles of the full state)
    val effChain = if (p == 1) 1 else chainLen
    while (!converged && step < maxSupersteps) {
      val rounds = math.min(effChain, maxSupersteps - step)
      // per-round accumulators + last-round-quiet convergence (see
      // ForwardPush.runFastK): skips the all-no-op trailing epoch
      val pushAccs = Array.tabulate(rounds)(r =>
        sc.longAccumulator(s"bfpushes_${step}_$r"))
      val remoteAccs = Array.tabulate(rounds)(r =>
        sc.longAccumulator(s"bfremote_${step}_$r"))
      var out = state
      (0 until rounds).foreach { r =>
        val pushAcc = pushAccs(r)
        val remoteAcc = remoteAccs(r)
        out = out.map(kr => (kr.key, kr)).partitionBy(vp)
          .mapPartitions({ it =>
            cascadeFastB(it.map(_._2), csrB.value, alpha, rmax, p,
              pushAcc.add(_), remoteAcc.add(_))
          }, preservesPartitioning = true)
      }
      val ck = out.localCheckpoint()
      ck.count()
      pinned.foreach(_.unpersist(blocking = false))
      pinned = Some(ck)
      state = ck
      totalPushes += pushAccs.map(_.value.toLong).sum
      converged = remoteAccs(rounds - 1).value == 0
      step += rounds
    }
    val finalState = ForwardPush.unpackK(spark,
      spark.createDataset(state).toDF())
    val rsum = finalState.agg(coalesce(sum($"residue"), lit(0.0)))
      .as[Double].head()
    Result(finalState, rsum, step, totalPushes)
  }

  /** Primitive-array backward cascade for one hash partition. */
  private def cascadeFastB(it: Iterator[ForwardPush.KRow], csr: FlatBCsr,
                           alpha: Double, rmax: Double, p: Int,
                           onPush: Long => Unit, onRemote: Long => Unit)
      : Iterator[ForwardPush.KRow] = {
    import graft.util.Prim
    val VidMask = ForwardPush.VidMask
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val in = new Prim.Rows3(1024)
    it.foreach(r => in.append(r.key, r.reserve, r.residue))
    if (in.n == 0) { onPush(0L); onRemote(0L); return Iterator.empty }
    Prim.sort3(in.keys, in.a, in.b, 0, in.n - 1)

    val map = new Prim.LongSlotMap(in.n)
    val store = new Prim.Rows3(in.n)
    var idxs = new Array[Int](store.keys.length)
    def slotOf(key: Long): Int = {
      val s = map.getOrInsert(key, store.n)
      if (s == store.n) {
        store.append(key, 0.0, 0.0)
        if (idxs.length < store.keys.length)
          idxs = java.util.Arrays.copyOf(idxs, store.keys.length)
        idxs(s) = csr.indexOf(key & VidMask)
      }
      s
    }
    var i = 0
    while (i < in.n) {
      val s = slotOf(in.keys(i))
      store.a(s) += in.a(i); store.b(s) += in.b(i)
      i += 1
    }
    val queue = new Prim.IntQueue(store.n)
    val inQ = new java.util.BitSet(store.n)
    i = 0
    while (i < store.n) {
      if (store.b(i) > rmax) { queue.add(i); inQ.set(i) }
      i += 1
    }
    val remoteMap = new Prim.LongSlotMap(64)
    val remote = new Prim.Rows3(64)
    var pushes = 0L
    while (queue.nonEmpty) {
      val s = queue.poll()
      inQ.clear(s)
      val r = store.b(s)
      if (r > rmax) {
        pushes += 1
        val idx = idxs(s)
        val vid = store.keys(s) & VidMask
        // pure self-loop row (dangling absorb): closed-form conversion
        if (idx >= 0 && csr.degOf(idx) == 1 &&
            csr.dsts(csr.offsets(idx)) == vid &&
            csr.wts(csr.offsets(idx)) == 1.0) {
          store.a(s) += r
          store.b(s) = 0.0
        } else {
          store.a(s) += alpha * r
          store.b(s) = 0.0
          if (idx >= 0) {
            val qbits = store.keys(s) & ~VidMask
            var e = csr.offsets(idx)
            val end = csr.offsets(idx + 1)
            while (e < end) {
              val u = csr.dsts(e)
              val m = (1.0 - alpha) * r * csr.wts(e)
              if (java.lang.Math.floorMod(
                  org.apache.spark.unsafe.hash.Murmur3_x86_32
                    .hashLong(u, 42), p) == pid) {
                val s2 = slotOf(qbits | u)
                store.b(s2) += m
                if (store.b(s2) > rmax && !inQ.get(s2)) {
                  queue.add(s2); inQ.set(s2)
                }
              } else {
                val rs = remoteMap.getOrInsert(qbits | u, remote.n)
                if (rs == remote.n) remote.append(qbits | u, 0.0, 0.0)
                remote.b(rs) += m
              }
              e += 1
            }
          }
        }
      }
    }
    onPush(pushes)
    onRemote(remote.n.toLong)
    val localIt = (0 until store.n).iterator
      .filter(s => store.a(s) != 0.0 || store.b(s) != 0.0)
      .map(s => ForwardPush.KRow(store.keys(s), store.a(s), store.b(s)))
    val remoteIt = (0 until remote.n).iterator
      .map(s => ForwardPush.KRow(remote.keys(s), 0.0, remote.b(s)))
    localIt ++ remoteIt
  }

  /** Per-partition pinned-CSR path (beyond broadcast memory): the
    * backward cascade over the weighted in-CSR (inCsr, partition i =
    * part i), driven by the forward join path's superstep loop
    * (ForwardPush.joinSupersteps) — same batched exchange, same
    * `chainLen` rounds per job between localCheckpoint truncations. */
  def runJoin(graph: LinkGraph, targets: Map[Int, Long], alpha: Double,
              rmax: Double, maxSupersteps: Int = 10000,
              chainLen: Int = 16): Result = {
    val p = graph.numParts
    val r = ForwardPush.joinSupersteps(graph.spark, p, inCsr(graph), targets,
      maxSupersteps, chainLen, ckpt = None, resume = false, Map.empty) {
      (part, rows, block, onPush, onRemote, _) =>
        cascade(part, rows, block, alpha, rmax, p, onPush, onRemote)
    }
    Result(r.state, r.rsum, r.supersteps, r.pushes)
  }

  /** Primitive-array rewrite of the boxed cascade (round 6 — see
    * ForwardPush.cascade's equivalence notes; the backward thresholds are
    * flat rmax and entries carry weights, otherwise the operation order
    * is reproduced identically, so results are bitwise unchanged). */
  private def cascade(part: Int,
                      states: Iterator[(Int, Long, Double, Double)],
                      block: Option[BCsr], alpha: Double, rmax: Double,
                      p: Int, onPush: Long => Unit, onRemote: Long => Unit)
      : Iterator[(Int, Long, Double, Double)] = {
    import graft.util.Prim
    val srcIds = block.map(_.srcIds).getOrElse(Array.empty[Long])
    val offsets = block.map(_.offsets).getOrElse(Array.empty[Int])
    val dsts = block.map(_.dsts).getOrElse(Array.empty[Long])
    val wts = block.map(_.wts).getOrElse(Array.empty[Double])

    val in = new Prim.PairRows(256)
    states.foreach { case (q, v, re, rs) => in.append(q, v, re, rs) }
    if (in.n == 0) { onPush(0L); onRemote(0L); return Iterator.empty }
    if (in.n > 1) Prim.sort4p(in.qids, in.vids, in.a, in.b, 0, in.n - 1)

    val map = new Prim.PairSlotMap(in.n)
    val store = new Prim.PairRows(in.n)
    var degIdx = new Array[Int](store.qids.length)
    java.util.Arrays.fill(degIdx, -2)
    def slotOf(q: Int, v: Long): Int = {
      val s = map.getOrInsert(q, v, store.n)
      if (s == store.n) {
        store.append(q, v, 0.0, 0.0)
        if (degIdx.length < store.qids.length) {
          val old = degIdx.length
          degIdx = java.util.Arrays.copyOf(degIdx, store.qids.length)
          java.util.Arrays.fill(degIdx, old, degIdx.length, -2)
        }
      }
      s
    }
    def idxOf(s: Int): Int = {
      if (degIdx(s) == -2) {
        val r = java.util.Arrays.binarySearch(srcIds, store.vids(s))
        degIdx(s) = if (r >= 0) r else -1
      }
      degIdx(s)
    }

    var i = 0
    while (i < in.n) {
      val s = slotOf(in.qids(i), in.vids(i))
      store.a(s) += in.a(i); store.b(s) += in.b(i)
      i += 1
    }

    val queue = new Prim.IntQueue(64)
    val inQ = new java.util.BitSet(store.n + 64)
    var s0 = 0
    while (s0 < store.n) {
      if (store.b(s0) > rmax) { queue.add(s0); inQ.set(s0) }
      s0 += 1
    }

    val remoteMap = new Prim.PairSlotMap(64)
    val remote = new Prim.PairRows(64)
    var pushes = 0L
    while (queue.nonEmpty) {
      val s = queue.poll()
      inQ.clear(s)
      val r = store.b(s)
      if (r > rmax) {
        pushes += 1
        val idx = idxOf(s)
        val vid = store.vids(s)
        // self-loop entries make the dangling geometric series explicit;
        // detect pure self-loop rows for the closed form
        if (idx >= 0 && offsets(idx + 1) - offsets(idx) == 1 &&
            dsts(offsets(idx)) == vid && wts(offsets(idx)) == 1.0) {
          store.a(s) += r; store.b(s) = 0.0 // absorb closed form
        } else {
          store.a(s) += alpha * r
          store.b(s) = 0.0
          if (idx >= 0) {
            val qid = store.qids(s)
            var e = offsets(idx)
            val end = offsets(idx + 1)
            while (e < end) {
              val u = dsts(e); val m = (1.0 - alpha) * r * wts(e)
              if (Hashing.partOf(u, p) == part) {
                val s2 = slotOf(qid, u)
                store.b(s2) += m
                if (store.b(s2) > rmax && !inQ.get(s2)) {
                  queue.add(s2); inQ.set(s2)
                }
              } else {
                val rs = remoteMap.getOrInsert(qid, u, remote.n)
                if (rs == remote.n) remote.append(qid, u, 0.0, 0.0)
                remote.b(rs) += m
              }
              e += 1
            }
          }
        }
      }
    }
    onPush(pushes)
    onRemote(remote.n.toLong)
    val local = new Prim.PairRows(store.n)
    i = 0
    while (i < store.n) {
      if (store.a(i) != 0.0 || store.b(i) != 0.0)
        local.append(store.qids(i), store.vids(i), store.a(i), store.b(i))
      i += 1
    }
    if (local.n > 1)
      Prim.sort4p(local.qids, local.vids, local.a, local.b, 0, local.n - 1)
    if (remote.n > 1)
      Prim.sort4p(remote.qids, remote.vids, remote.a, remote.b, 0,
        remote.n - 1)
    Iterator.range(0, local.n).map(j =>
      (local.qids(j), local.vids(j), local.a(j), local.b(j))) ++
      Iterator.range(0, remote.n).map(j =>
        (remote.qids(j), remote.vids(j), 0.0, remote.b(j)))
  }

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
