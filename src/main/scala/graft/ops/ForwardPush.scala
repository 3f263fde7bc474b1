package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import graft.graph.{FlatCsr, LinkGraph, PartMetrics}
import graft.ckpt.CheckpointStore
import graft.util.Hashing

/** FORA Forward Push (SURVEY.md O4/O5/O7/O17; [FOCS06] Alg., [KDD17 §2.2])
  * — and, over the transposed weighted in-CSR, backward push
  * ([[BackwardPush]]): one engine, two paths, both directions. The
  * direction lives only in the [[FlatCsr]] a cascade is handed.
  *
  * Local-push invariant: for every target t,
  *   π(s,t) = π°(t) + Σ_v r(v)·π(v,t)
  * so at termination (∀v: r(v) ≤ rmax·outdeg(v)) the reserves π° estimate
  * PPR with per-vertex additive error ≤ rsum; the deterministic 1e-6 mode
  * sets rmax = tol/(m+n) so rsum ≤ tol at convergence.
  *
  * Execution model (SURVEY.md §3.2), one driver loop and one cascade per
  * path:
  *   - Broadcast fast path ([[runFastK]] / [[cascadeBlock]]): the whole
  *     adjacency is a broadcast FlatCsr; each partition holds its state
  *     as one key-sorted primitive [[StateBlock]] pinned in the RDD cache,
  *     and only frontier deltas cross the shuffle, routed by
  *     murmur3(vid) mod p ([[VidPartitioner]]), p = [[fastStateParts]].
  *   - Join path ([[joinSupersteps]] / [[cascade]]): the persisted CSR
  *     blocks stay pinned one per content part (Hashing.partOf(vid, p),
  *     xxhash64) and each round ships only state rows, as primitive
  *     batches; with a [[CheckpointStore]] every superstep commits.
  * Inside each partition a sequential cascade pushes to *local*
  * quiescence, so residual mass only crosses the shuffle boundary when it
  * leaves the partition — the "residual-push frontier exchange" of the
  * north rule, with far fewer supersteps than one push per superstep.
  * Rounds chain inside one job per epoch between lineage truncations.
  *
  * Determinism: cascade processing order is sorted and content-keyed, all
  * float accumulation happens in that order, and the routing depends only
  * on vid and p (never on physical parallelism) ⇒ identical results at
  * local[8] vs local[32].
  *
  * Dangling convention (pinned; SURVEY.md §2.4 item 1): a vertex with no
  * out-edges ABSORBS — equivalent to a self-loop, so its entire residual
  * converts to reserve in closed form (π°(v) += r, geometric series of
  * self-pushes) and a random walk reaching it terminates there. Chosen
  * over dangling→source because it keeps the chain independent of the
  * query source, which the FORA+ walk index requires (an index walk from
  * v cannot know s). Σ_t π(s,t) = 1 is preserved.
  *
  * Multi-source batching: FORA is embarrassingly parallel across sources;
  * state is keyed by qid so one run answers a whole query set (the
  * `sspr_qps` metric batches ≥64 sources per BASELINE.md).
  */
object ForwardPush {

  case class Result(state: DataFrame, // (qid, vid, reserve, residue)
                    rsum: Double, supersteps: Int, pushes: Long,
                    // fast-path handle: the partition-pinned state blocks
                    // + their partition count, so downstream phases (the
                    // FORA estimate merge) can zipPartitions against the
                    // state instead of shuffling it (Fora.query)
                    fastBlocks: Option[(org.apache.spark.rdd.RDD[StateBlock],
                      Int)] = None,
                    // per-epoch wall seconds (fast path: one entry per
                    // chained-round job group) + the post-loop
                    // kstate/rsum assembly — the phase split behind the
                    // hub-scaling analysis (VERDICT r3 #2)
                    epochSecs: Seq[Double] = Nil,
                    tailSec: Double = 0.0)

  /** Compact state row for the broadcast-CSR fast path:
    * key = qid<<40 | vid (vid < 2^40, qid < 2^23). */
  case class KRow(key: Long, reserve: Double, residue: Double)

  final val VidMask: Long = (1L << 40) - 1

  /** Above this edge count the broadcast-CSR fast path is off and the
    * per-partition CSR-join path (the 100 TB shape) runs instead. */
  var fastPathMaxEdges: Long = 20L * 1000 * 1000

  /** State-partition count for the packed fast paths (forward AND
    * backward), content-derived from graph size — deliberately decoupled
    * from graph.numParts (which sizes the CSR block tables for the join
    * path) and NEVER from parallelism (the routing function fixes float
    * summation order, so p must be a pure function of content for the
    * two-level determinism gate). Two regimes:
    *
    *   - ≤ 2M edges: the whole cascade's working set is one task's —
    *     distributing it buys nothing and every extra partition
    *     multiplies per-round fixed cost (~32 supersteps × 2 stages of
    *     near-empty tasks measured as the bulk of small-graph push
    *     time). p = 1–4 lets the cascade drain locally in one chained
    *     job.
    *   - above: parallel regime. Floor at 16 (cores any executor tier
    *     actually has — the r2 rule's ~1M edges/part gave the 4.8M-edge
    *     hub graph 5 partitions, capping local[8] at 5 cores, push-phase
    *     scaling efficiency 0.40), cap at 64, ~1M edges/part between
    *     (34 parts at 16.5M edges measured ~200ms/round of fixed stage
    *     cost; 16 parts halves it without starving an 8-core level),
    *     ROUNDED to a multiple of 16 — wave quantization (VERDICT r3
    *     #2, solved by the round-4 epoch series): the 17.3M-edge hub
    *     graph got p=17, which schedules as 3 task waves on 8 cores vs
    *     9 on 2, capping epoch speedup at 9/3=3× (measured epoch eff
    *     0.749 ≈ the 0.75 quantization bound, on every epoch, while the
    *     p=16 fora64 graph scaled at 1.02 with identical code). A
    *     multiple of 16 divides evenly into 2/4/8/16-core waves.
    */
  private[graft] def fastStateParts(numEdges: Long): Int =
    if (numEdges <= 2000000L) math.max(1, (numEdges / 500000L).toInt)
    else {
      val raw = (numEdges / 1000000L).toInt
      math.max(16, math.min(64, ((raw + 8) / 16) * 16))
    }

  /** The packed-key fast path is sound only when every key fits
    * qid<<40|vid: vids in [0, 2^40), qids in [0, 2^23). LinkGraph accepts
    * arbitrary longs (the 10^12-key plan is xxhash64-as-vid), so guard
    * here and fall back to the join path instead of corrupting keys. */
  private[ops] def packableKeys(graph: LinkGraph, sources: Map[Int, Long]): Boolean = {
    val (lo, hi) = graph.vidBounds
    lo >= 0 && hi < (1L << 40) &&
      sources.keys.forall(q => q >= 0 && q < (1 << 23))
  }

  /** Run forward push to threshold convergence.
    *
    * Dispatches to the broadcast-CSR fast path (compact keys, primitive
    * cascade, chained shuffle rounds inside one job) when the graph fits
    * the broadcast budget and no durable checkpointing is requested;
    * otherwise the per-partition CSR-join path runs (the shape that
    * scales beyond memory; with `ckpt` it commits every superstep).
    *
    * @param sources  qid → source vid
    * @param rmax     push threshold scale: push while r(v) > rmax·max(deg,1)
    * @param ckpt     optional durable checkpoint store (N9)
    * @param resume   when true and `ckpt` has committed supersteps, continue
    *                 from the latest manifest instead of the seeds; ignored
    *                 without a store
    */
  def run(graph: LinkGraph, sources: Map[Int, Long], alpha: Double,
          rmax: Double, ckpt: Option[CheckpointStore] = None,
          resume: Boolean = false, maxSupersteps: Int = 10000,
          qidShard: Int = 1): Result = {
    if (ckpt.isEmpty && graph.numEdges <= fastPathMaxEdges &&
        packableKeys(graph, sources))
      runFast(graph, sources, alpha, rmax, maxSupersteps, qidShard = qidShard)
    else runJoin(graph, sources, alpha, rmax, ckpt, resume, maxSupersteps)
  }

  /** Broadcast-CSR fast path: state rows are (key, reserve, residue);
    * each round re-hash-partitions the frontier by vid and cascades with
    * primitive structures against the broadcast whole-graph CSR;
    * `chainLen` rounds run inside ONE Spark job before a lineage
    * truncation, amortizing job/driver latency (the scaling-efficiency
    * killer measured on the join path). Bitwise deterministic: partition
    * ownership is pmod(murmur3(vid), P) — fixed by P, not by parallelism
    * — and every merge happens in sorted key order.
    *
    * @param csr the adjacency pushed over (see runFastK) */
  def runFast(graph: LinkGraph, sources: Map[Int, Long], alpha: Double,
              rmax: Double, maxSupersteps: Int = 10000,
              chainLen: Int = 8, qidShard: Int = 1,
              csr: Option[Broadcast[FlatCsr]] = None): Result = {
    val spark = graph.spark
    import spark.implicits._
    val init: DataFrame = sources.toSeq.sortBy(_._1)
      .map { case (q, v) => KRow((q.toLong << 40) | v, 0.0, 1.0) }
      .toDF()
    val fr = runFastK(graph, init, alpha, rmax, maxSupersteps, chainLen,
      qidShard, csr)
    Result(unpackK(spark, fr.kstate), fr.rsum, fr.supersteps, fr.pushes,
      fr.blocks, fr.epochSecs, fr.tailSec)
  }

  /** Packed fast-path state plus run stats; `kstate` feeds warm-started
    * continuation runs (top-k refinement re-pushes from here at a finer
    * rmax instead of restarting from the seeds — push is incremental by
    * construction: any (reserve, residue) state satisfying the invariant
    * is a valid starting point). */
  case class FastResult(kstate: DataFrame, rsum: Double, supersteps: Int,
                        pushes: Long,
                        blocks: Option[(org.apache.spark.rdd.RDD[StateBlock],
                          Int)] = None,
                        epochSecs: Seq[Double] = Nil,
                        tailSec: Double = 0.0)

  def unpackK(spark: org.apache.spark.sql.SparkSession, kstate: DataFrame)
      : DataFrame = {
    import spark.implicits._
    kstate.select(
      shiftrightunsigned($"key", 40).cast("int").as("qid"),
      ($"key".bitwiseAND(lit(VidMask))).as("vid"),
      $"reserve", $"residue")
  }

  /** Routes a packed key to its owning partition exactly like the
    * cascade's local/remote test: murmur3(vid, seed 42) mod p — a pure
    * function of content, never of physical parallelism. */
  private[ops] final class VidPartitioner(p: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = p
    override def getPartition(key: Any): Int =
      vidPartOf(key.asInstanceOf[Long], p)
  }

  /** The VidPartitioner rule on an unboxed packed key. */
  private[ops] def vidPartOf(key: Long, p: Int): Int =
    java.lang.Math.floorMod(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(key & VidMask, 42),
      p)

  /** Whole-partition push state as primitive arrays, key-sorted. One
    * StateBlock per partition lives in the RDD cache BY REFERENCE
    * (deserialized MEMORY_ONLY) — no per-row boxing, no serialization,
    * no shuffle for the settled state, ever. ~24 B/row; a partition's
    * block at the 20M-edge fast-path ceiling is a few MB. */
  case class StateBlock(keys: Array[Long],
                                     reserve: Array[Double],
                                     residue: Array[Double])

  /** Fast-path core over packed KRow state (see runFast docs).
    *
    * Frontier-exchange execution. The r2 shape re-shuffled the ENTIRE
    * state — settled reserves included — every round: ~24 B × |touched
    * state| × supersteps of exchange for a frontier that is usually a
    * few % of it (measured as the non-scaling 60% of the hub workload,
    * push-phase efficiency 0.70 on the 2→8 window). Here each partition
    * holds its state as ONE primitive-array StateBlock pinned in the
    * RDD cache; rounds zipPartitions the block with that round's
    * shuffled remote deltas, cascade locally at primitive speed, and
    * emit (new block, remote deltas) — so the only rows that ever cross
    * the wire are frontier deltas. `chainLen` rounds chain inside one
    * job between lineage truncations, as before. Partition routing
    * (VidPartitioner = the cascade's own local/remote test) is
    * content-derived, so results are parallelism-independent.
    *
    * @param qidShard opt-in multi-source sharding for the SMALL-graph
    * regime (fastStateParts == 1): a batch of q sources otherwise runs
    * its q independent cascades serially inside the single state task.
    * Sharding routes state by QID instead of vid, so each source's whole
    * cascade drains locally in one task — and because no float operation
    * ever crosses qids and a FIFO queue preserves each qid's enqueue
    * subsequence, every source's state is bit-identical to its solo run
    * (which the batched==solo spec already pins against the unsharded
    * batch). ONLY the cross-qid rsum fold can differ in the last ulp —
    * callers that consume rsum (Fora.query's ω) must not opt in; the
    * exact-oracle and hub-build call sites ignore rsum.
    *
    * @param csr the adjacency pushed over: the graph's out-CSR
    * (graph.flatCsr, forward push) when None; BackwardPush passes the
    * weighted in-CSR, which makes this loop backward push. */
  def runFastK(graph: LinkGraph, init: DataFrame, alpha: Double,
               rmax: Double, maxSupersteps: Int = 10000,
               chainLen: Int = 8, qidShard: Int = 1,
               csr: Option[Broadcast[FlatCsr]] = None): FastResult = {
    val spark = graph.spark
    import spark.implicits._
    val pv = fastStateParts(graph.numEdges)
    val byQid = qidShard > 1 && pv == 1
    val p = if (byQid) math.min(qidShard, 64) else pv
    val sc = spark.sparkContext
    val csrB = csr.getOrElse(graph.flatCsr)

    // frontier rows travel as per-DESTINATION-partition batches of
    // primitive arrays (round 6): row-at-a-time partitionBy picked the
    // bypass-merge shuffle writer (p temp files per reduce partition per
    // map task per round — the join path's measured dominant per-round
    // cost), while batch values under a list-concat combiner take the
    // single-file sort writer. The cascade sorts its delta input by key
    // before any accumulation, so batch/concat order cannot change which
    // values a key receives; same-key deltas from different source
    // partitions merge in the same arrival-order class as the previous
    // row form (local-mode fetch order is mapId-deterministic either
    // way). keys/reserves/residues parallel arrays; reserves carry the
    // warm-start seed reserves of round 1 (zero for remote deltas).
    type FBatch = (Array[Long], Array[Double], Array[Double])
    val empty = StateBlock(Array.emptyLongArray, Array.emptyDoubleArray,
      Array.emptyDoubleArray)
    var blocks: org.apache.spark.rdd.RDD[StateBlock] =
      sc.parallelize(0 until p, p).map(_ => empty)
    // init enters as frontier: round 1 seeds every init key into the
    // cascade queue, which warm-started ladder runs (finer rmax than the
    // state was converged at) rely on
    val pC = p; val byQidC = byQid // primitives only in task closures
    var frontier: org.apache.spark.rdd.RDD[(Int, FBatch)] =
      init.as[KRow].rdd.mapPartitions { it =>
        val rows = it.toArray
        splitFrontierByDest(rows.map(_.key), rows.map(_.reserve),
          rows.map(_.residue), pC, byQidC)
      }
    var step = 0
    var converged = false
    var totalPushes = 0L
    val epochSecs = scala.collection.mutable.ArrayBuffer.empty[Double]

    // single-partition drain (p == 1) and qid sharding both make remote
    // deltas structurally impossible: round 1 cascades to full local
    // quiescence and every later chained round is a no-op re-shuffle of
    // nothing — chain length 1 skips those stages with bitwise-identical
    // state (the no-op rounds are identity maps)
    val effChain = if (p == 1 || byQid) 1 else chainLen
    while (!converged && step < maxSupersteps) {
      val tEpoch0 = System.nanoTime()
      val rounds = math.min(effChain, maxSupersteps - step)
      // per-ROUND accumulators (round 6): with one epoch-level pair the
      // convergence test had to demand push==0 over the whole epoch, so
      // a run whose last real work happened mid-epoch paid one extra
      // all-no-op epoch just to observe quiescence. The last chained
      // round being remote-quiet is already the fixpoint proof (every
      // partition's cascade exits at local quiescence and nothing is in
      // flight — the runJoin rule); state content is unchanged either
      // way, the empty trailing epoch is simply not scheduled.
      val pushAccs = Array.tabulate(rounds)(r =>
        sc.longAccumulator(s"fpushes_${step}_$r"))
      val remoteAccs = Array.tabulate(rounds)(r =>
        sc.longAccumulator(s"fremote_${step}_$r"))
      val epochCaches =
        scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
      var b = blocks
      var f = frontier
      (0 until rounds).foreach { r =>
        val fP = routeToParts(f, p)
        val pushAcc = pushAccs(r)
        val remoteAcc = remoteAccs(r)
        // out: one (newBlock, remoteKeys, remoteResidues) per partition;
        // persisted deserialized so both consumers below read references
        val out = b.zipPartitions(fP) { (bIt, dIt) =>
          val rows = dIt.flatMap { case (_, batches) =>
            batches.iterator.flatMap { case (ks, res, rss) =>
              Iterator.range(0, ks.length)
                .map(i => (ks(i), (res(i), rss(i)))) } }
          Iterator.single(cascadeBlock(
            if (bIt.hasNext) bIt.next() else empty, rows, csrB.value,
            alpha, rmax, p, pushAcc.add(_), remoteAcc.add(_), byQid))
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        epochCaches += out
        b = out.map(_._1)
        f = out.flatMap { case (_, rk, rv) =>
          splitFrontierByDest(rk, new Array[Double](rk.length), rv,
            pC, byQidC) }
      }
      // pin BOTH epoch survivors before dropping the per-round caches
      // (recomputing through unpersisted cascades would double-count
      // accumulators). One zipPartitions action materializes both
      // localCheckpoints — each task consumes its partition of blocks
      // AND frontier (they share the VidPartitioner layout), so the
      // second per-epoch count job is gone (round 6, guide §1.2).
      blocks = b.localCheckpoint()
      frontier = f.localCheckpoint()
      blocks.zipPartitions(frontier) { (bi, fi) =>
        while (bi.hasNext) bi.next()
        while (fi.hasNext) fi.next()
        Iterator.single(0)
      }.count()
      epochCaches.foreach(_.unpersist(blocking = false))
      totalPushes += pushAccs.map(_.value.toLong).sum
      converged = remoteAccs(rounds - 1).value == 0
      step += rounds
      epochSecs += (System.nanoTime() - tEpoch0) / 1e9
    }

    val tTail0 = System.nanoTime()
    val kstate = spark.createDataset(blocks.flatMap { blk =>
      blk.keys.indices.iterator
        .filter(i => blk.reserve(i) != 0.0 || blk.residue(i) != 0.0)
        .map(i => KRow(blk.keys(i), blk.reserve(i), blk.residue(i)))
    }).toDF()
    val rsum = kstate.agg(coalesce(sum($"residue"), lit(0.0)))
      .as[Double].head()
    // qid-sharded blocks are NOT VidPartitioner-aligned — withhold the
    // block handle so no consumer zips vid-routed rows against them
    FastResult(kstate, rsum, step, totalPushes,
      if (byQid) None else Some((blocks, p)),
      epochSecs.toSeq, (System.nanoTime() - tTail0) / 1e9)
  }

  /** Route per-destination batches to partition `dest` of p, as one list
    * per destination. The list-concat combiner forces the single-file
    * sort-based shuffle writer (a plain partitionBy picks bypass-merge:
    * p temp files per map task); consumers that depend on batch order
    * must order the list themselves. */
  private[ops] def routeToParts[T: ClassTag](f: RDD[(Int, T)], p: Int)
      : RDD[(Int, List[T])] = {
    import org.apache.spark.rdd.RDD.rddToPairRDDFunctions
    f.combineByKeyWithClassTag[List[T]](
      (b: T) => List(b), (l: List[T], b: T) => b :: l,
      (a: List[T], b: List[T]) => a ::: b,
      new graft.graph.LinkGraph.PartIdPartitioner(p), mapSideCombine = true)
  }

  /** Split packed-key frontier rows into one (destPid, (keys, reserves,
    * residues)) batch per destination partition — the same routing as
    * the cascade's local/remote test (murmur3-vid, or qid under
    * sharding). Top-level so task closures capture only primitives. */
  private def splitFrontierByDest(keys: Array[Long], res: Array[Double],
      rss: Array[Double], p: Int, byQid: Boolean)
      : Iterator[(Int, (Array[Long], Array[Double], Array[Double]))] = {
    val counts = new Array[Int](p)
    val dest = new Array[Int](keys.length)
    var i = 0
    while (i < keys.length) {
      val d =
        if (byQid) java.lang.Math.floorMod((keys(i) >>> 40).toInt, p)
        else vidPartOf(keys(i), p)
      dest(i) = d; counts(d) += 1
      i += 1
    }
    val outK = Array.tabulate(p)(d => new Array[Long](counts(d)))
    val outA = Array.tabulate(p)(d => new Array[Double](counts(d)))
    val outB = Array.tabulate(p)(d => new Array[Double](counts(d)))
    val fill = new Array[Int](p)
    i = 0
    while (i < keys.length) {
      val d = dest(i); val j = fill(d)
      outK(d)(j) = keys(i); outA(d)(j) = res(i); outB(d)(j) = rss(i)
      fill(d) = j + 1
      i += 1
    }
    Iterator.range(0, p).filter(counts(_) > 0)
      .map(d => (d, (outK(d), outA(d), outB(d))))
  }

  /** Primitive-array cascade for one hash partition (fast path), either
    * direction (the FlatCsr carries it). The
    * block's keys are SORTED, so settled-state lookups are binary
    * searches and only keys first seen this round go through a hash map
    * (the appended tail). Only dIt-touched keys can exceed threshold
    * (every settled key reached local quiescence when it last changed),
    * so the queue seeds from them alone; per-round work is
    * O(|block| copy + frontier·cascade), with nothing state-sized
    * hashed, shuffled, or boxed.
    *
    * @return (new sorted block, remote delta keys, remote residues) */
  private def cascadeBlock(block: StateBlock,
                           dIt: Iterator[(Long, (Double, Double))],
                           csr: FlatCsr,
                           alpha: Double, rmax: Double, p: Int,
                           onPush: Long => Unit, onRemote: Long => Unit,
                           byQid: Boolean = false)
      : (StateBlock, Array[Long], Array[Double]) = {
    import graft.util.Prim
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val dIn = new Prim.Rows3(64)
    dIt.foreach { case (k, (a, b)) => dIn.append(k, a, b) }
    if (dIn.n == 0) {
      onPush(0L); onRemote(0L)
      return (block, Array.emptyLongArray, Array.emptyDoubleArray)
    }
    if (dIn.n > 1) Prim.sort3(dIn.keys, dIn.a, dIn.b, 0, dIn.n - 1)

    val n0 = block.keys.length
    val store = new Prim.Rows3(math.max(n0 + dIn.n, 16))
    System.arraycopy(block.keys, 0, store.keys, 0, n0)
    System.arraycopy(block.reserve, 0, store.a, 0, n0)
    System.arraycopy(block.residue, 0, store.b, 0, n0)
    store.n = n0

    // csr index per slot, memoized lazily: only frontier-touched slots
    // pay the csr lookup (-2 unknown, -1 dangling, else index)
    var degIdx = new Array[Int](store.keys.length)
    java.util.Arrays.fill(degIdx, -2)
    def idxOf(s: Int): Int = {
      if (degIdx(s) == -2) {
        val r = csr.fastIndexOf(store.keys(s) & VidMask)
        degIdx(s) = if (r >= 0) r else -1
      }
      degIdx(s)
    }

    // tail map covers ONLY keys appended this round; sorted-region hits
    // resolve by binary search
    val tailMap = new Prim.LongSlotMap(dIn.n + 64)
    def slotOf(key: Long): Int = {
      val pos = java.util.Arrays.binarySearch(store.keys, 0, n0, key)
      if (pos >= 0) pos
      else {
        val s = tailMap.getOrInsert(key, store.n)
        if (s == store.n) {
          store.append(key, 0.0, 0.0)
          if (degIdx.length < store.keys.length) {
            val old = degIdx.length
            degIdx = java.util.Arrays.copyOf(degIdx, store.keys.length)
            java.util.Arrays.fill(degIdx, old, degIdx.length, -2)
          }
        }
        s
      }
    }
    def thresholdOf(s: Int): Double = rmax * csr.thresholdDeg(idxOf(s))

    val queue = new Prim.IntQueue(64)
    val inQ = new java.util.BitSet(store.n + 64)
    var i = 0
    while (i < dIn.n) { // delta-touched keys are the only push candidates
      val s = slotOf(dIn.keys(i))
      store.a(s) += dIn.a(i); store.b(s) += dIn.b(i)
      if (store.b(s) > thresholdOf(s) && !inQ.get(s)) {
        queue.add(s); inQ.set(s)
      }
      i += 1
    }

    val remoteMap = new Prim.LongSlotMap(64)
    val remote = new Prim.Rows3(64)
    var pushes = 0L
    while (queue.nonEmpty) {
      val s = queue.poll()
      inQ.clear(s)
      val r = store.b(s)
      if (r > thresholdOf(s)) {
        pushes += 1
        val idx = idxOf(s)
        // a dangling self-loop series converts all of r in closed form;
        // a vertex without a slab (backward: no in-entries) spreads nothing
        val absorb = csr.absorbs(idx, store.keys(s) & VidMask)
        store.a(s) += (if (absorb) r else alpha * r)
        store.b(s) = 0.0
        if (!absorb && idx >= 0) {
          val share = (1.0 - alpha) * r / csr.divisor(idx)
          val qbits = store.keys(s) & ~VidMask
          // qid routing: deposits share the pusher's qid, so locality is
          // constant per push (always local — remote stays empty)
          val qidLocal = byQid &&
            java.lang.Math.floorMod((qbits >>> 40).toInt, p) == pid
          var e = csr.offsets(idx)
          val end = csr.offsets(idx + 1)
          while (e < end) {
            val dv = csr.dsts(e)
            val dkey = qbits | dv
            val m = share * csr.weight(e)
            if (if (byQid) qidLocal
                else java.lang.Math.floorMod(
                  org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(dv, 42),
                  p) == pid) {
              val s2 = slotOf(dkey)
              store.b(s2) += m
              if (store.b(s2) > thresholdOf(s2) && !inQ.get(s2)) {
                queue.add(s2); inQ.set(s2)
              }
            } else {
              val rs = remoteMap.getOrInsert(dkey, remote.n)
              if (rs == remote.n) remote.append(dkey, 0.0, 0.0)
              remote.b(rs) += m
            }
            e += 1
          }
        }
      }
    }
    onPush(pushes)
    onRemote(remote.n.toLong)

    // re-establish the sorted invariant: sort the appended tail, then
    // merge the two sorted runs (tail keys are distinct from the sorted
    // region by construction)
    val n = store.n
    val outBlock =
      if (n == n0) StateBlock(java.util.Arrays.copyOf(store.keys, n),
        java.util.Arrays.copyOf(store.a, n),
        java.util.Arrays.copyOf(store.b, n))
      else {
        if (n - n0 > 1) Prim.sort3(store.keys, store.a, store.b, n0, n - 1)
        val ok = new Array[Long](n)
        val oa = new Array[Double](n)
        val ob = new Array[Double](n)
        var x = 0; var y = n0; var z = 0
        while (x < n0 && y < n) {
          if (store.keys(x) < store.keys(y)) {
            ok(z) = store.keys(x); oa(z) = store.a(x); ob(z) = store.b(x)
            x += 1
          } else {
            ok(z) = store.keys(y); oa(z) = store.a(y); ob(z) = store.b(y)
            y += 1
          }
          z += 1
        }
        while (x < n0) {
          ok(z) = store.keys(x); oa(z) = store.a(x); ob(z) = store.b(x)
          x += 1; z += 1
        }
        while (y < n) {
          ok(z) = store.keys(y); oa(z) = store.a(y); ob(z) = store.b(y)
          y += 1; z += 1
        }
        StateBlock(ok, oa, ob)
      }
    (outBlock,
      java.util.Arrays.copyOf(remote.keys, remote.n),
      java.util.Arrays.copyOf(remote.b, remote.n))
  }

  /** Per-partition CSR-join path (scales beyond broadcast memory;
    * supports durable per-superstep checkpoint + resume): the cascade
    * over LinkGraph.csrZip's out-CSR blocks, driven by [[joinSupersteps]].
    *
    * @param chainLen rounds chained lazily inside ONE job between
    *   lineage truncations when no checkpoint store is attached — the
    *   same job-overhead amortization as the fast path's chained rounds
    *   (driver/job latency was ~0.25 s/superstep on the toy verification
    *   graphs, dominating the ~120-superstep deterministic runs; VERDICT
    *   r4 #6). With `ckpt` defined the chain is forced to 1 so every
    *   superstep commits durably (north rule N9). */
  def runJoin(graph: LinkGraph, sources: Map[Int, Long], alpha: Double,
              rmax: Double, ckpt: Option[CheckpointStore] = None,
              resume: Boolean = false, maxSupersteps: Int = 10000,
              chainLen: Int = 16): Result =
    joinSupersteps(graph.spark, graph.numParts,
      partCsrs(graph.csrZip, FlatCsr(Array.emptyLongArray, Array(0),
        Array.emptyLongArray))(b => FlatCsr(b.srcIds, b.offsets, b.dsts)),
      sources, alpha, rmax, maxSupersteps, chainLen, ckpt, resume)

  /** One adjacency per content part for the join cascade: part i's
    * pinned block viewed as a FlatCsr (no copy), or `none` — an empty
    * adjacency of the same direction — where the part has no block. */
  private[ops] def partCsrs[B](blocks: RDD[B], none: FlatCsr)(
      view: B => FlatCsr): RDD[FlatCsr] =
    blocks.mapPartitions(it =>
      Iterator.single(if (it.hasNext) view(it.next()) else none))

  /** The superstep driver loop of the join path, for both directions:
    * forward push over csrZip, backward push over the weighted in-CSR
    * (`csrs` holds exactly one adjacency per part, see partCsrs).
    *
    * Pinned-CSR formulation (round 6, guide §2.4 / §1.2): the CSR blocks
    * sit ONCE in a cached RDD (csrZip, BackwardPush.inCsr), partition
    * i = content part i; each round routes ONLY the state rows with a
    * PartIdPartitioner on Hashing.partOf(vid, p) and zipPartitions
    * feeds each part's row multiset into its cascade (which sorts its
    * input), so a round costs ONE shuffle of frontier+state rows and the
    * static CSR is never re-exchanged. Rounds chain lazily in RDD lineage inside one job per
    * epoch, then a localCheckpoint truncates.
    *
    * Durability (N9): with a store attached the chain is 1 and every
    * superstep k commits its unmerged (qid, vid, reserve, residue) rows
    * as manifest v<k>, with the running push total and per-part
    * PartMetrics, AFTER the epoch's localCheckpoint has materialized —
    * so the accumulators are final before the manifest reads them.
    * `resume` continues from the latest manifest: its rows re-enter the
    * exchange through packByDest, and since the cascade sorts its input
    * the next superstep sees the identical row multiset — a resumed run
    * is bitwise equal to the uninterrupted one. */
  private[ops] def joinSupersteps(spark: SparkSession, p: Int,
      csrs: RDD[FlatCsr], seeds: Map[Int, Long], alpha: Double,
      rmax: Double, maxSupersteps: Int, chainLen: Int,
      ckpt: Option[CheckpointStore], resume: Boolean): Result = {
    import spark.implicits._
    val sc = spark.sparkContext
    val vpart = new LinkGraph.PartIdPartitioner(p)
    val resumeStep = if (resume) ckpt.flatMap(_.latestSuperstep()) else None
    var state: RDD[(Int, StateBatch)] = resumeStep match {
      case Some(k) =>
        ckpt.get.loadState(k).select($"qid", $"vid", $"reserve", $"residue")
          .as[(Int, Long, Double, Double)].rdd
          .mapPartitions(packByDest(_, p))
      case None =>
        sc.parallelize(packByDest(seeds.toSeq.sortBy(_._1)
          .map { case (q, v) => (q, v, 0.0, 1.0) }.iterator, p).toSeq, 1)
    }
    var pinned: Option[RDD[(Int, StateBatch)]] = None
    var step = resumeStep.fold(0)(_ + 1)
    var totalPushes = resumeStep
      .flatMap(ckpt.get.scalar(_, "totalPushes")).fold(0L)(_.toLong)
    // a commit whose superstep sent no remote delta is the fixpoint: a
    // run resumed from it has nothing left to push
    var converged = resumeStep
      .flatMap(ckpt.get.scalar(_, "remoteDeltas")).contains(0.0)
    val chain = if (ckpt.isDefined) 1 else math.max(1, chainLen)

    while (!converged && step < maxSupersteps) {
      val rounds = math.min(chain, maxSupersteps - step)
      val pushAccs = Array.tabulate(rounds)(r =>
        sc.longAccumulator(s"pushes_${step}_$r"))
      val remoteAccs = Array.tabulate(rounds)(r =>
        sc.longAccumulator(s"remoteDeltas_${step}_$r"))
      val metricsAcc =
        ckpt.map(_ => sc.collectionAccumulator[PartMetrics](s"metrics_$step"))
      val onMetrics: PartMetrics => Unit =
        metricsAcc.fold[PartMetrics => Unit](_ => ())(acc => acc.add(_))
      var out = state
      (0 until rounds).foreach { r =>
        val routed = routeBatches(out, vpart)
        // capture ONLY this round's accumulators (not the whole epoch
        // arrays) so each stage's task binary stays minimal
        val pushAcc = pushAccs(r)
        val remoteAcc = remoteAccs(r)
        // preservesPartitioning MUST stay false: the zip output's batch
        // keys are DESTINATION parts (remote deltas included), so it
        // does not satisfy vpart's contract — claiming it would make
        // the next partitionBy(vpart) short-circuit the exchange
        out = routed.zipPartitions(csrs, preservesPartitioning = false) {
          (sIt, cIt) =>
            packByDest(cascade(TaskContext.getPartitionId(),
              unpackBatches(sIt), cIt.next(), alpha, rmax, p,
              pushAcc.add(_), remoteAcc.add(_), onMetrics), p)
        }
      }
      val ck = out.localCheckpoint()
      ck.count() // materializes the epoch; accumulators final after this
      pinned.foreach(_.unpersist(blocking = false))
      pinned = Some(ck)
      state = ck
      totalPushes += pushAccs.map(_.value.toLong).sum
      // last chained round all-quiet ⇒ every partition reached local
      // quiescence with nothing in flight ⇒ global fixpoint (an earlier
      // all-quiet round makes the remaining chained rounds no-op
      // re-shuffles, so the last round's count is the authoritative one)
      val remote = remoteAccs(rounds - 1).value
      for (store <- ckpt; acc <- metricsAcc)
        store.commit(step, rowsOf(spark, ck),
          Map("totalPushes" -> totalPushes.toDouble,
            "remoteDeltas" -> remote.toDouble),
          acc.value.asScala.toSeq, Map("alpha" -> alpha.toString,
            "rmax" -> rmax.toString, "numParts" -> p.toString))
      converged = remote == 0
      step += rounds
    }

    val finalState = rowsOf(spark, state).groupBy($"qid", $"vid")
      .agg(sum($"reserve").as("reserve"), sum($"residue").as("residue"))
    val rsum = finalState.agg(coalesce(sum($"residue"), lit(0.0)))
      .as[Double].head()
    Result(finalState, rsum, step, totalPushes)
  }

  /** Unmerged (qid, vid, reserve, residue) rows of a batched state RDD. */
  private def rowsOf(spark: SparkSession, state: RDD[(Int, StateBatch)])
      : DataFrame = {
    import spark.implicits._
    spark.createDataset(state.mapPartitions(unpackBatches))
      .toDF("qid", "vid", "reserve", "residue")
  }

  /** Primitive-array batch of state rows for one destination part of
    * the join-path exchange (guide §2.3 — shuffle fewer, bulkier
    * things): the per-round shuffle moves ≤p² array payloads instead of
    * one Java-serialized case-class object per state row, which was
    * ~85% of the measured per-round cost (95 ms/round vs a 14 ms pure
    * stage floor at p=16). Batches are unpacked BEFORE the cascade, so
    * its input multiset — and therefore every result — is bitwise
    * unchanged. */
  final case class StateBatch(qids: Array[Int], vids: Array[Long],
                              reserves: Array[Double],
                              residues: Array[Double])

  /** Concatenate two state batches (the per-round exchange's reduce-side
    * combiner). Row ORDER inside a batch is immaterial: the cascade sorts
    * its input by (qid, vid, reserve, residue) before any accumulation,
    * so any concatenation order yields the same multiset and therefore
    * bitwise-identical results. */
  private def concatBatches(x: StateBatch, y: StateBatch): StateBatch = {
    val n = x.vids.length + y.vids.length
    val q = java.util.Arrays.copyOf(x.qids, n)
    System.arraycopy(y.qids, 0, q, x.qids.length, y.qids.length)
    val v = java.util.Arrays.copyOf(x.vids, n)
    System.arraycopy(y.vids, 0, v, x.vids.length, y.vids.length)
    val re = java.util.Arrays.copyOf(x.reserves, n)
    System.arraycopy(y.reserves, 0, re, x.reserves.length, y.reserves.length)
    val rs = java.util.Arrays.copyOf(x.residues, n)
    System.arraycopy(y.residues, 0, rs, x.residues.length, y.residues.length)
    StateBatch(q, v, re, rs)
  }

  /** Route batches to their destination part. A plain partitionBy picks
    * the bypass-merge shuffle writer, which creates one temp file per
    * reduce partition per map task (p² file creates per round) — on a
    * slow-metadata FS that machinery, not compute, dominated the
    * ~100 ms/round floor (measured: closure body 13.7 s of 142 s task
    * time). Declaring a map-side combiner forces the sort-based writer —
    * ONE data + index file per map task — and merely concatenates
    * batches per destination (row multiset unchanged ⇒ results bitwise
    * unchanged; see concatBatches). */
  private def routeBatches(
      rdd: org.apache.spark.rdd.RDD[(Int, StateBatch)],
      vpart: org.apache.spark.Partitioner)
      : org.apache.spark.rdd.RDD[(Int, StateBatch)] = {
    import org.apache.spark.rdd.RDD.rddToPairRDDFunctions
    rdd.combineByKeyWithClassTag[StateBatch](
      (b: StateBatch) => b, concatBatches, concatBatches,
      vpart, mapSideCombine = true)
  }

  /** Group (qid, vid, reserve, residue) rows into one StateBatch per
    * destination part (dest = the cascade's own routing key
    * Hashing.partOf(vid, p) — local rows already live at theirs). */
  private def packByDest(rows: Iterator[(Int, Long, Double, Double)],
                              p: Int): Iterator[(Int, StateBatch)] = {
    val qb = new Array[mutable.ArrayBuilder.ofInt](p)
    val vb = new Array[mutable.ArrayBuilder.ofLong](p)
    val rb = new Array[mutable.ArrayBuilder.ofDouble](p)
    val sb = new Array[mutable.ArrayBuilder.ofDouble](p)
    rows.foreach { case (q, v, re, rs) =>
      val d = Hashing.partOf(v, p)
      if (qb(d) == null) {
        qb(d) = new mutable.ArrayBuilder.ofInt
        vb(d) = new mutable.ArrayBuilder.ofLong
        rb(d) = new mutable.ArrayBuilder.ofDouble
        sb(d) = new mutable.ArrayBuilder.ofDouble
      }
      qb(d) += q; vb(d) += v; rb(d) += re; sb(d) += rs
    }
    Iterator.range(0, p).filter(qb(_) != null).map(d =>
      (d, StateBatch(qb(d).result(), vb(d).result(), rb(d).result(),
        sb(d).result())))
  }

  private def unpackBatches(it: Iterator[(Int, StateBatch)])
      : Iterator[(Int, Long, Double, Double)] =
    it.flatMap { case (_, b) =>
      Iterator.range(0, b.vids.length).map(i =>
        (b.qids(i), b.vids(i), b.reserves(i), b.residues(i)))
    }

  /** Sequential, deterministic push cascade within one part of the join
    * path, either direction (the FlatCsr carries it).
    *
    * Primitive-array implementation (round 6, guide §1.2 "per-task
    * work"): the boxed form (tuple-keyed LinkedHashMap + Option-churning
    * updateWith) cost ~120 ms/task against a ~12 ms stage floor — at
    * p=16 roughly (p−1)/p of all deposits are remote, and each paid a
    * tuple + Some + boxed-double allocation. This form does the SAME
    * operations in the SAME order on flat arrays:
    *   - input rows sorted by (qid, vid, reserve, residue) (sort4p uses
    *     Double.compare — the boxed Ordering[Double]'s total order);
    *   - accumulation per key in sorted row order, keys first-touch
    *     appended ⇒ slot order == sorted unique-key order, so seeding the
    *     queue by slot index reproduces the boxed sorted-key seeding;
    *   - FIFO queue of slots, deposits in CSR slab order, remote sums in
    *     deposit order — float-accumulation order identical throughout;
    *   - output local-then-remote, each sorted by (qid, vid).
    * Results are bitwise unchanged (the push-path pin spec + the
    * g_ppr_join / b_push_join oracles pin this). */
  private def cascade(part: Int,
                      states: Iterator[(Int, Long, Double, Double)],
                      csr: FlatCsr, alpha: Double, rmax: Double,
                      p: Int, onPush: Long => Unit,
                      onRemote: Long => Unit, onMetrics: PartMetrics => Unit)
      : Iterator[(Int, Long, Double, Double)] = {
    import graft.util.Prim
    val in = new Prim.PairRows(256)
    states.foreach { case (q, v, re, rs) => in.append(q, v, re, rs) }
    if (in.n == 0) { // CSR-only part with no state this superstep
      onPush(0L); onRemote(0L)
      return Iterator.empty
    }
    if (in.n > 1) Prim.sort4p(in.qids, in.vids, in.a, in.b, 0, in.n - 1)

    val map = new Prim.PairSlotMap(in.n)
    val store = new Prim.PairRows(in.n)
    // csr index per slot, memoized (-2 unknown, -1 absent): the boxed
    // form re-ran the binary search per threshold check — same value
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
        val r = csr.indexOf(store.vids(s))
        degIdx(s) = if (r >= 0) r else -1
      }
      degIdx(s)
    }
    def thresholdOf(s: Int): Double = rmax * csr.thresholdDeg(idxOf(s))

    var i = 0
    while (i < in.n) {
      val s = slotOf(in.qids(i), in.vids(i))
      store.a(s) += in.a(i); store.b(s) += in.b(i)
      i += 1
    }

    // slots were appended first-touch over sorted input ⇒ slot order is
    // the boxed form's sorted unique-key seeding order
    val queue = new Prim.IntQueue(64)
    val inQ = new java.util.BitSet(store.n + 64)
    var s0 = 0
    while (s0 < store.n) {
      if (store.b(s0) > thresholdOf(s0)) { queue.add(s0); inQ.set(s0) }
      s0 += 1
    }

    val remoteMap = new Prim.PairSlotMap(64)
    val remote = new Prim.PairRows(64)
    var pushes = 0L
    while (queue.nonEmpty) {
      val s = queue.poll()
      inQ.clear(s)
      val r = store.b(s)
      if (r > thresholdOf(s)) {
        pushes += 1
        val idx = idxOf(s)
        val absorb = csr.absorbs(idx, store.vids(s)) // as in cascadeBlock
        store.a(s) += (if (absorb) r else alpha * r)
        store.b(s) = 0.0
        if (!absorb && idx >= 0) {
          val share = (1.0 - alpha) * r / csr.divisor(idx)
          val qid = store.qids(s)
          var e = csr.offsets(idx)
          val end = csr.offsets(idx + 1)
          while (e < end) {
            val dv = csr.dsts(e)
            val m = share * csr.weight(e)
            if (Hashing.partOf(dv, p) == part) {
              val s2 = slotOf(qid, dv)
              store.b(s2) += m
              if (store.b(s2) > thresholdOf(s2) && !inQ.get(s2)) {
                queue.add(s2); inQ.set(s2)
              }
            } else {
              val rs = remoteMap.getOrInsert(qid, dv, remote.n)
              if (rs == remote.n) remote.append(qid, dv, 0.0, 0.0)
              remote.b(rs) += m
            }
            e += 1
          }
        }
      }
    }

    onPush(pushes)
    onRemote(remote.n.toLong)
    var rsumLocal = 0.0
    i = 0
    while (i < store.n) { rsumLocal += store.b(i); i += 1 }
    onMetrics(PartMetrics(part, store.n.toLong, pushes, 0L, rsumLocal))

    // output: nonzero local rows then remote deltas, each (qid, vid)-
    // sorted — exactly the boxed form's emission order
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

  /** Deterministic PPR to additive tolerance `tol` (SURVEY.md O17 note):
    * rmax = tol/(m+n) ⇒ per-vertex |π̂−π| ≤ rsum ≤ tol.
    *
    * @param qidShard see runFastK — opt-in ONLY for callers that never
    * consume Result.rsum (the cross-qid fold order changes). */
  def deterministicPpr(graph: LinkGraph, sources: Map[Int, Long],
                       alpha: Double = 0.2, tol: Double = 1e-7,
                       ckpt: Option[CheckpointStore] = None,
                       resume: Boolean = false, qidShard: Int = 1): Result = {
    val rmax = tol / (graph.numEdges + graph.numVertices).toDouble
    run(graph, sources, alpha, rmax, ckpt, resume, qidShard = qidShard)
  }
}
