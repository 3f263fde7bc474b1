package graft.ops

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.ckpt.CheckpointStore
import graft.util.{Hashing, Prim}

/** FORA: Forward Push + Random Walks with (ε,δ,p_f) error budgeting
  * (SURVEY.md O6/O7/O11/O14; [KDD17 §2].)
  *
  * Guarantee at defaults (δ=1/n, p_f=1/n): for every t with π(s,t) > δ,
  * relative error ≤ ε with probability 1−p_f.
  *
  * Budget formulas [KDD17 §4]:
  *   rmax = (ε/3)·sqrt(δ / ((2ε/3+2)·m·ln(2/p_f))) · rmaxScale
  *   ω    = rsum·(2ε/3 + 2)·ln(2/p_f) / (ε²·δ)
  * (ω computed from the ACTUAL post-push rsum, as the reference does.)
  *
  * Each residual vertex v launches ω_v = ⌈r(v)·ω/rsum⌉ walks, each
  * depositing r(v)/ω_v at its endpoint — unbiased since a walk from v
  * ends at t with probability π(v,t) and the push invariant is
  * π(s,t) = π°(t) + Σ_v r(v)·π(v,t).
  *
  * Phase timers (`QueryResult`): `tPushSec` is `ForwardPush.run`.
  * `tWalkSec` depends on the walk-phase shape `query` picks. On the
  * broadcast path without a walk index it is the whole walk job: slot
  * expansion, the walks and the estimate merge, so `scores` is already
  * materialized. On the column pipeline it is the slot expansion and
  * the walks (or the index lookup); the salted mass sum and the merge
  * run lazily when `scores` is consumed, and a checkpoint commit comes
  * after it.
  */
object Fora {

  case class Params(alpha: Double = 0.2, eps: Double = 0.5,
                    delta: Double = Double.NaN, pfail: Double = Double.NaN,
                    rmaxScale: Double = 1.0, seed: Long = 42L)

  // not `private`: Catalyst encoder codegen can't access private classes
  case class ScoreRow(qid: Int, vid: Long, score: Double)

  case class QueryResult(scores: DataFrame, // (qid, vid, score)
                         rsum: Double, rmax: Double, omega: Double,
                         pushes: Long, walks: Long, walkSteps: Long,
                         pushSupersteps: Int = 0,
                         // push phase (ForwardPush.run)
                         tPushSec: Double = 0.0,
                         // walk phase: walk job incl. the merge on the
                         // broadcast path, expansion + walks (or index
                         // lookup) on the column pipeline (see above)
                         tWalkSec: Double = 0.0,
                         // push-phase split: per chained-round epoch +
                         // the kstate/rsum assembly tail (VERDICT r3 #2
                         // — evidence for the hub scaling analysis)
                         pushEpochSecs: Seq[Double] = Nil,
                         pushTailSec: Double = 0.0)

  def rmaxOf(p: Params, m: Long, delta: Double, pfail: Double): Double =
    (p.eps / 3.0) * math.sqrt(
      delta / ((2.0 * p.eps / 3.0 + 2.0) * m * math.log(2.0 / pfail))) *
      p.rmaxScale

  def omegaOf(p: Params, rsum: Double, delta: Double, pfail: Double): Double =
    rsum * (2.0 * p.eps / 3.0 + 2.0) * math.log(2.0 / pfail) /
      (p.eps * p.eps * delta)

  /** Walk slots per chunk: the expandSlots explode chunk, and the unit
    * the broadcast-path walk phase routes to a walk task. */
  private val SlotChunk = 4096L

  /** Expand rows carrying an `nwalks` count into one row per slot in
    * [0, nwalks) WITHOUT materializing an ω_v-length array per vertex
    * (VERDICT r2 #6: explode(sequence(0, nwalks−1)) builds the whole
    * per-vertex slot array in ONE row — multi-MB exchange rows once a
    * hot residual vertex wants 10⁶⁺ walks at δ=1/n web scale).
    *
    * Two-level streaming shape: explode ⌈nwalks/4096⌉ chunk ids, then
    * explode each chunk's OWN slot range — a sequence of exactly
    * min(4096, nwalks − chunk·4096) elements, so per-row arrays stay
    * ≤ 32 KB and total output is exactly Σ nwalks. (The first fix of
    * this crossJoined a broadcast 4096-row range and filtered
    * slot < nwalks: output-exact, but it GENERATED 4096 rows per chunk
    * row pre-filter — with millions of residual vertices wanting ~1
    * walk each, billions of filtered rows dominated the whole walk
    * phase.) Slot values are identical to the direct explode, so
    * counter-RNG walks (origin, slot, step) are bitwise unchanged. */
  private[graft] def expandSlots(rows: DataFrame,
                                 estWalks: Long = -1L): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      // guard, not dead code: sequence(0, -1) DESCENDS in Spark, so a
      // nwalks=0 row would emit two bogus chunk rows instead of zero
      // (ADVICE r3 #2); current callers all pre-filter nwalks >= 1, but
      // the helper's contract must not depend on that
      .where($"nwalks" > 0)
      .withColumn("_chunk", explode(sequence(lit(0L),
        floor(($"nwalks" - 1) / lit(SlotChunk)).cast("long"))))
      // spread CHUNK rows (≤4096 walks each) before expansion: the input
      // inherits its producer's partitioning (the push state block RDD
      // may have only a handful of partitions) and per-vertex walk
      // counts are hub-skewed, so balancing at chunk granularity keeps
      // the expansion both parallel and even. Width is data-derived
      // (walkWidth, VERDICT r4 #3) — callers pass the walk-volume
      // estimate (ω is exact to within the residual-vertex count)
      .repartition(RandomWalks.walkWidth(spark, estWalks))
      .withColumn("_off", explode(sequence(lit(0L),
        least(lit(SlotChunk), $"nwalks" - $"_chunk" * lit(SlotChunk)) - 1)))
      .withColumn("slot", $"_chunk" * lit(SlotChunk) + $"_off")
      .drop("_chunk", "_off")
  }

  /** Whole-graph SSPPR for a batch of sources (EP-A′, SURVEY.md §3.2).
    *
    * The walk phase takes one of two shapes. When the push ran on the
    * broadcast fast path (it returns its state blocks) and no walk index
    * is given, `walkBlocks` runs slot expansion, the walks and the
    * estimate merge as ONE primitive-array job over the state blocks.
    * Otherwise — a walk index, a checkpoint store, or the join path,
    * which has no broadcast CSR — the column pipeline runs:
    * `expandSlots` → `RandomWalks.runCounted` or `WalkIndex.lookup` →
    * `Salting.saltedSum` → merge. */
  def query(graph: LinkGraph, sources: Map[Int, Long], p: Params = Params(),
            ckpt: Option[CheckpointStore] = None,
            walkIndex: Option[WalkIndex.Index] = None): QueryResult = {
    val n = graph.numVertices
    val delta = if (p.delta.isNaN) 1.0 / n else p.delta
    val pfail = if (p.pfail.isNaN) 1.0 / n else p.pfail
    val m = graph.numEdges
    val rmax = rmaxOf(p, m, delta, pfail)

    val t0 = System.nanoTime()
    val push = ForwardPush.run(graph, sources, p.alpha, rmax, ckpt)
    val tPush = (System.nanoTime() - t0) / 1e9
    val omega = omegaOf(p, push.rsum, delta, pfail)

    push.fastBlocks match {
      case Some((blocks, bp)) if walkIndex.isEmpty =>
        val t1 = System.nanoTime()
        val (scores, walks, steps) =
          walkBlocks(graph, blocks, bp, omega, push.rsum, p)
        QueryResult(scores, push.rsum, rmax, omega, push.pushes, walks,
          steps, push.supersteps, tPush, (System.nanoTime() - t1) / 1e9,
          push.epochSecs, push.tailSec)
      case _ =>
        columnWalks(graph, push, rmax, omega, tPush, p, ckpt, walkIndex)
    }
  }

  /** The column-pipeline walk phase of `query`: walk-index lookup,
    * checkpointed queries and the join path. `tWalkSec` covers the
    * expansion and the walks (or the index lookup); the estimate merge
    * stays lazy and runs when `scores` is consumed. */
  private def columnWalks(graph: LinkGraph, push: ForwardPush.Result,
                          rmax: Double, omega: Double, tPush: Double,
                          p: Params, ckpt: Option[CheckpointStore],
                          walkIndex: Option[WalkIndex.Index]): QueryResult = {
    val spark = graph.spark
    import spark.implicits._
    val residuals = push.state.where($"residue" > 0)
      .select($"qid", $"vid", $"residue")
    // ω_v = ceil(r_v·ω/rsum); each walk deposits r_v/ω_v
    // Σ ceil(r_v·ω/rsum) ≈ ω + |residual vertices| (ω already scales with
    // the batch via rsum) — the right order-of-magnitude width estimate
    // without an extra count action
    val estWalks = math.max(omega.toLong, 1L)
    val seeds = expandSlots(residuals
      .withColumn("nwalks",
        ceil($"residue" * lit(omega) / lit(math.max(push.rsum, 1e-300)))
          .cast("long")), estWalks)
      .select($"qid", $"vid".as("origin"), $"slot", $"vid".as("cur"),
        ($"residue" / $"nwalks").as("mass"))

    val t1 = System.nanoTime()
    val (endpoints, steps, nWalks) = walkIndex match {
      case Some(idx) =>
        val e = WalkIndex.lookup(graph, idx, seeds, p.alpha, p.seed)
        (e, 0L, seeds.count())
      case None =>
        val w = RandomWalks.runCounted(graph, seeds, p.alpha, p.seed,
          preSpread = true)
        (w.endpoints, w.steps, w.walks)
    }

    val tWalk = (System.nanoTime() - t1) / 1e9
    // when checkpointing, endpoints are consumed 3× (scores write, walkMass,
    // per-partition metrics) and the walk job would re-execute each time —
    // pin it once and release after commit (ADVICE r2 #4)
    val pinnedEndpoints =
      if (ckpt.isDefined) endpoints.localCheckpoint(true) else endpoints
    // walk endpoints concentrate on high-PPR hubs (hot keys); salt the
    // endpoint aggregation over the walk slot before the final merge (N8)
    val walkMass = graft.util.Salting.saltedSum(
      pinnedEndpoints.select($"qid", $"vid", $"mass", $"slot"),
      keys = Seq("qid", "vid"), valueCol = "mass",
      saltFrom = $"slot", salts = 64)
    // Estimate assembly (SURVEY.md O11): score = reserve + Σ walk mass.
    // With state blocks (an indexed query on the fast path) the already
    // unique walk mass goes through the block merge `walkBlocks` uses;
    // each key's score is then reserve + one mass value (a two-term IEEE
    // add — order-independent), bitwise equal to the union+groupBy plan
    // that runs when no block handle exists.
    var scores = push.fastBlocks match {
      case Some((blocks, bp)) if ckpt.isEmpty =>
        val massKV = walkMass.select($"qid", $"vid", $"mass")
          .as[(Int, Long, Double)].rdd
          .mapPartitionsWithIndex { (part, it) =>
            val rows = new Prim.Rows3(64)
            it.foreach { case (q, v, mm) =>
              rows.append((q.toLong << 40) | v, mm, 0.0) }
            massByDest(part, rows, bp, 0L, 0L)
          }
        scoreRows(spark, mergeBlocks(blocks, massKV, bp))
      case _ =>
        push.state.select($"qid", $"vid", $"reserve".as("mass"))
          .unionByName(walkMass.select($"qid", $"vid", $"mass"))
          .groupBy($"qid", $"vid").agg(sum($"mass").as("score"))
    }

    // per-partition WALK metrics manifest (north rule: checkpoints carry
    // push AND walk metrics; push supersteps only record pushes).
    // phase="walk" commits under its own namespace (w<k>.json manifests,
    // state_walk/ dir) so a later resume=true push run can never load
    // walk scores as push state (ADVICE r2 #2)
    ckpt.foreach { store =>
      val pm = pinnedEndpoints
        .groupBy(pmod(xxhash64($"vid"), lit(graph.numParts)).cast("int")
          .as("part"))
        .agg(count(lit(1)).as("walks"))
        .collect()
        .map(r => graft.graph.PartMetrics(r.getInt(0), 0L, 0L,
          r.getLong(1), 0.0)).toSeq.sortBy(_.part)
      scores = store.commit(push.supersteps, scores,
        Map("omega" -> omega, "rsumAfterPush" -> push.rsum,
          "walks" -> nWalks.toDouble),
        pm, Map.empty, phase = "walk")
    }
    QueryResult(scores, push.rsum, rmax, omega, push.pushes, nWalks, steps,
      push.supersteps, tPush, tWalk, push.epochSecs, push.tailSec)
  }

  /** Walks per task of the block walk phase. */
  private val WalksPerTask = 32768.0

  /** Walk-task count of the block walk phase, from ω alone — never from
    * cores: which walks share a task, and so the order in which a key's
    * endpoint mass is summed, must be a pure function of content. */
  private[graft] def walkTasks(omega: Double): Int =
    math.max(1, math.min(64, math.ceil(omega / WalksPerTask).toInt))

  /** Up to SlotChunk consecutive walk slots per residual key, as parallel
    * arrays: chunk c covers slots [firsts(c), firsts(c) + counts(c)) of
    * key keys(c), each walk carrying mass(c). `src` is the state block
    * the chunks came from. */
  private[ops] final case class SlotChunks(src: Int, keys: Array[Long],
      firsts: Array[Long], counts: Array[Int], mass: Array[Double])

  /** Endpoint mass pre-summed per packed (qid, vid) key by walk task
    * `task` (or, for an indexed query, by one partition of the unique
    * walk mass), with the task's walk and step counts. */
  private[ops] final case class MassBatch(task: Int, keys: Array[Long],
      mass: Array[Double], walks: Long, steps: Long)

  /** Merged estimate of one state block: score = reserve + walk mass for
    * every block key and walk endpoint, key-sorted. */
  private[ops] final case class ScoreBlock(keys: Array[Long],
      scores: Array[Double], walks: Long, steps: Long)

  /** The broadcast-path walk phase: slot expansion, walks and the
    * estimate merge in one job over the push state blocks.
    *
    *   1. Each block emits slot chunks for its residual keys: ω_v =
    *      ceil(r_v·ω/rsum) walks in chunks of ≤ SlotChunk slots (the
    *      column pipeline's operands in its order, so walk counts and
    *      masses are bitwise the same), each routed to one of
    *      `walkTasks(ω)` walk tasks by a hash of (key, first slot).
    *   2. A walk task takes its chunks in block order — each block's in
    *      key order — walks every slot on the broadcast CSR with the
    *      shared `RandomWalks.Walker` kernel, and pre-sums endpoint mass
    *      per (qid, vid) in walk order.
    *   3. The partials are routed by the VidPartitioner rule and merged
    *      into the blocks in walk-task order (`mergeBlock`).
    *
    * Every routing key and order is content-derived, so scores are
    * bitwise repeatable at any parallelism; against the column pipeline
    * they differ only in the order of each key's mass sum.
    *
    * @return (scores, walks, walk steps); the merged blocks are pinned by
    *         the one job that counts the walks */
  private def walkBlocks(graph: LinkGraph,
                         blocks: RDD[ForwardPush.StateBlock], bp: Int,
                         omega: Double, rsum: Double, p: Params)
      : (DataFrame, Long, Long) = {
    val w = walkTasks(omega)
    val scale = math.max(rsum, 1e-300)
    val csrB = graph.flatCsr
    val alpha = p.alpha; val seed = p.seed
    val chunks = blocks.mapPartitionsWithIndex { (src, it) =>
      it.flatMap(slotChunks(src, _, omega, scale, w)) }
    val partials = ForwardPush.routeToParts(chunks, w)
      .mapPartitionsWithIndex { (task, it) =>
        val walker = new RandomWalks.Walker(csrB.value, alpha, seed,
          RandomWalks.MaxSteps)
        walkChunks(task, it.flatMap(_._2).toArray.sortBy(_.src), walker, bp)
      }
    val merged = mergeBlocks(blocks, partials, bp).localCheckpoint()
    val (walks, steps) = merged.map(b => (b.walks, b.steps))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (scoreRows(graph.spark, merged), walks, steps)
  }

  /** Slot chunks of one state block, one SlotChunks per walk task. */
  private def slotChunks(src: Int, blk: ForwardPush.StateBlock,
                         omega: Double, scale: Double, w: Int)
      : Iterator[(Int, SlotChunks)] = {
    val kb = Array.fill(w)(new mutable.ArrayBuilder.ofLong)
    val fb = Array.fill(w)(new mutable.ArrayBuilder.ofLong)
    val cb = Array.fill(w)(new mutable.ArrayBuilder.ofInt)
    val mb = Array.fill(w)(new mutable.ArrayBuilder.ofDouble)
    var i = 0
    while (i < blk.keys.length) {
      val r = blk.residue(i)
      if (r > 0) {
        val nw = math.ceil(r * omega / scale).toLong
        val mass = r / nw
        var first = 0L
        while (first < nw) {
          val d = java.lang.Math.floorMod(
            Hashing.h64(Hashing.SqlSeed, blk.keys(i), first), w.toLong).toInt
          kb(d) += blk.keys(i); fb(d) += first
          cb(d) += math.min(SlotChunk, nw - first).toInt; mb(d) += mass
          first += SlotChunk
        }
      }
      i += 1
    }
    Iterator.range(0, w).filter(kb(_).length > 0).map(d => (d,
      SlotChunks(src, kb(d).result(), fb(d).result(), cb(d).result(),
        mb(d).result())))
  }

  /** Walk every slot of `chunks` (in the given order) and pre-sum the
    * endpoint mass per packed key, as MassBatches per state block. */
  private def walkChunks(task: Int, chunks: Array[SlotChunks],
                         walker: RandomWalks.Walker, bp: Int)
      : Iterator[(Int, MassBatch)] = {
    val slots = new Prim.LongSlotMap(1024)
    val acc = new Prim.Rows3(1024)
    var walks = 0L
    var steps = 0L
    chunks.foreach { b =>
      var c = 0
      while (c < b.keys.length) {
        val vid = b.keys(c) & ForwardPush.VidMask
        val qbits = b.keys(c) & ~ForwardPush.VidMask
        var slot = b.firsts(c)
        val end = slot + b.counts(c)
        while (slot < end) {
          val key = qbits | walker.walk(vid, slot, vid)
          val s = slots.getOrInsert(key, acc.n)
          if (s == acc.n) acc.append(key, 0.0, 0.0)
          acc.a(s) += b.mass(c)
          steps += walker.steps
          walks += 1
          slot += 1
        }
        c += 1
      }
    }
    massByDest(task, acc, bp, walks, steps)
  }

  /** Split `rows` (key, mass) into one MassBatch per state block by the
    * VidPartitioner rule. Block 0 always gets one, carrying the walk and
    * step counts, so the merge sees every task's counts exactly once. */
  private def massByDest(task: Int, rows: Prim.Rows3, bp: Int, walks: Long,
                         steps: Long): Iterator[(Int, MassBatch)] = {
    val kb = Array.fill(bp)(new mutable.ArrayBuilder.ofLong)
    val mb = Array.fill(bp)(new mutable.ArrayBuilder.ofDouble)
    var i = 0
    while (i < rows.n) {
      val d = ForwardPush.vidPartOf(rows.keys(i), bp)
      kb(d) += rows.keys(i); mb(d) += rows.a(i)
      i += 1
    }
    Iterator.range(0, bp).filter(d => d == 0 || kb(d).length > 0).map(d =>
      (d, MassBatch(task, kb(d).result(), mb(d).result(),
        if (d == 0) walks else 0L, if (d == 0) steps else 0L)))
  }

  /** Merge routed walk mass into the state blocks (`mergeBlock` per
    * block): the one estimate merge of both block-path shapes. */
  private def mergeBlocks(blocks: RDD[ForwardPush.StateBlock],
                          mass: RDD[(Int, MassBatch)], bp: Int)
      : RDD[ScoreBlock] =
    blocks.zipPartitions(ForwardPush.routeToParts(mass, bp)) { (bIt, mIt) =>
      val blk = if (bIt.hasNext) bIt.next()
        else ForwardPush.StateBlock(Array.emptyLongArray,
          Array.emptyDoubleArray, Array.emptyDoubleArray)
      Iterator.single(mergeBlock(blk,
        mIt.flatMap(_._2).toArray.sortBy(_.task)))
    }

  /** score = reserve + Σ mass for one block, with a two-pointer scan over
    * the sorted block keys and the key-sorted mass sums. A key's mass is
    * summed over `batches` in the given order. */
  private def mergeBlock(blk: ForwardPush.StateBlock,
                         batches: Array[MassBatch]): ScoreBlock = {
    val slots = new Prim.LongSlotMap(1024)
    val mass = new Prim.Rows3(1024)
    var walks = 0L
    var steps = 0L
    batches.foreach { b =>
      var i = 0
      while (i < b.keys.length) {
        val s = slots.getOrInsert(b.keys(i), mass.n)
        if (s == mass.n) mass.append(b.keys(i), 0.0, 0.0)
        mass.a(s) += b.mass(i)
        i += 1
      }
      walks += b.walks
      steps += b.steps
    }
    if (mass.n > 1) Prim.sort3(mass.keys, mass.a, mass.b, 0, mass.n - 1)
    val keys = new Array[Long](blk.keys.length + mass.n)
    val scores = new Array[Double](keys.length)
    var i = 0 // block cursor
    var j = 0 // mass cursor
    var n = 0
    while (i < blk.keys.length || j < mass.n) {
      val takeBlock = j >= mass.n ||
        (i < blk.keys.length && blk.keys(i) <= mass.keys(j))
      val key = if (takeBlock) blk.keys(i) else mass.keys(j)
      var s = 0.0
      if (takeBlock) { s += blk.reserve(i); i += 1 }
      if (j < mass.n && mass.keys(j) == key) { s += mass.a(j); j += 1 }
      keys(n) = key; scores(n) = s; n += 1
    }
    ScoreBlock(java.util.Arrays.copyOf(keys, n),
      java.util.Arrays.copyOf(scores, n), walks, steps)
  }

  private def scoreRows(spark: SparkSession, merged: RDD[ScoreBlock])
      : DataFrame = {
    import spark.implicits._
    spark.createDataset(merged.flatMap { b =>
      Iterator.range(0, b.keys.length).map(i => ScoreRow(
        (b.keys(i) >>> 40).toInt, b.keys(i) & ForwardPush.VidMask,
        b.scores(i)))
    }).toDF()
  }

  /** Monte-Carlo baseline (SURVEY.md O14; [KDD17 §2.3]): ω pure walks from
    * the source, π̂(t) = hits(t)/ω. Correctness cross-check operator. */
  def montecarlo(graph: LinkGraph, sources: Map[Int, Long],
                 p: Params = Params()): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val n = graph.numVertices
    val delta = if (p.delta.isNaN) 1.0 / n else p.delta
    val pfail = if (p.pfail.isNaN) 1.0 / n else p.pfail
    val omega = math.ceil(
      3.0 * math.log(2.0 / pfail) / (p.eps * p.eps * delta)).toLong
    val seeds = expandSlots(sources.toSeq.sortBy(_._1).toDF("qid", "src")
      .withColumn("nwalks", lit(omega)),
      estWalks = omega * math.max(sources.size, 1))
      .select($"qid", $"src".as("origin"), $"slot", $"src".as("cur"),
        lit(1.0 / omega).as("mass"))
    // preSpread: expandSlots just spread the seeds at the data-derived
    // width — a second full-width exchange here would be pure waste
    RandomWalks.runCounted(graph, seeds, p.alpha, p.seed, preSpread = true)
      .endpoints
      .groupBy($"qid", $"vid").agg(sum($"mass").as("score"))
  }

  /** Deterministic exact top-k (SURVEY.md O12 re-expressed without RNG):
    * reserves are monotone lower bounds and π ≤ π° + rsum, so once the
    * kth lower bound separates from the (k+1)th upper bound the top-k
    * SET is provably exact.
    *
    * Default mode is a WARM-STARTED refinement ladder: each round
    * continues pushing from the previous round's (reserve, residue)
    * state at a ×16 finer rmax — push is incremental by construction,
    * so total work ≈ one push at the finest level reached, not the
    * round-1 cold-restart sum — and exits at the separation bound.
    *
    * @param exactScores when true, reported scores must equal π to
    *        within `floor` (6-dp-stable, the DuckDB-oracle mode), which
    *        forbids the early separation exit — so run ONE push at the
    *        final threshold rmax = floor/(m+n) instead of paying the
    *        ladder's per-round chain/collect overhead for no exit.
    *
    * Rows are padded with zero-score vertices when fewer than k are
    * reachable. Tie-break: (score desc, vid asc), deterministic. */
  def topk(graph: LinkGraph, source: Long, k: Int, alpha: Double = 0.2,
           floor: Double = 1e-9, maxRounds: Int = 40,
           exactScores: Boolean = false): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    // the packed-key ladder is sound only under ForwardPush.run's own
    // fast-path gate (vids < 2^40, graph within the broadcast budget);
    // outside it, degrade to one exact join-path push at the final
    // threshold — same top-k set, no silent VidMask key corruption on
    // hash-vid graphs and no whole-graph broadcast OOM (ADVICE r2 #1)
    if (graph.numEdges > ForwardPush.fastPathMaxEdges ||
        !ForwardPush.packableKeys(graph, Map(0 -> source))) {
      val rmaxFine = floor / (graph.numEdges + graph.numVertices).toDouble
      val res = ForwardPush.run(graph, Map(0 -> source), alpha, rmaxFine)
      return graph.vertices.toDF("vid")
        .join(res.state.select($"vid", $"reserve".as("score")), Seq("vid"),
          "left")
        .select($"vid", coalesce($"score", lit(0.0)).as("score"))
        .orderBy(desc("score"), asc("vid")).limit(k)
    }
    if (exactScores) {
      // score accuracy (rsum < floor) is required regardless of when the
      // set separates, so the refinement ladder cannot exit early — one
      // push at the final threshold does the same work without paying
      // per-round chain/collect overhead (rmax = floor/(m+n) ⇒ rsum ≤
      // floor, as deterministicPpr)
      val rmaxFine = floor / (graph.numEdges + graph.numVertices).toDouble
      val fr = ForwardPush.runFastK(graph,
        Seq(ForwardPush.KRow(source, 0.0, 1.0)).toDF(), alpha, rmaxFine)
      val touched = fr.kstate
        .select(($"key".bitwiseAND(lit(ForwardPush.VidMask))).as("vid"),
          $"reserve".as("score"))
      return graph.vertices.toDF("vid")
        .join(touched, Seq("vid"), "left")
        .select($"vid", coalesce($"score", lit(0.0)).as("score"))
        .orderBy(desc("score"), asc("vid")).limit(k)
    }
    var rmax = 1.0 / math.max(graph.numEdges, 1L).toDouble
    var round = 0
    var state: DataFrame = Seq(ForwardPush.KRow(source, 0.0, 1.0)).toDF()
    var result: Option[DataFrame] = None
    while (result.isEmpty && round < maxRounds) {
      val fr = ForwardPush.runFastK(graph, state, alpha, rmax)
      state = fr.kstate
      // qid=0 ⇒ key == vid, so (reserve desc, key asc) is the pinned order
      val top = state.orderBy(desc("reserve"), asc("key"))
        .limit(k + 1).select($"key", $"reserve").as[(Long, Double)].collect()
      val kth = if (top.length >= k) top(k - 1)._2 else 0.0
      val next = if (top.length > k) top(k)._2 else 0.0
      val separated = kth > next + fr.rsum
      if (fr.rsum < floor || separated) {
        // pad with zero-score vertices: when fewer than k vertices are
        // reachable, top-k still returns k rows (ties at 0 break by vid)
        val touched = state
          .select(($"key".bitwiseAND(lit(ForwardPush.VidMask))).as("vid"),
            $"reserve".as("score"))
        result = Some(graph.vertices.toDF("vid")
          .join(touched, Seq("vid"), "left")
          .select($"vid", coalesce($"score", lit(0.0)).as("score"))
          .orderBy(desc("score"), asc("vid")).limit(k))
      }
      rmax /= 16.0
      round += 1
    }
    result.getOrElse(throw new IllegalStateException("topk did not separate"))
  }
}
