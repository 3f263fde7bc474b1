package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.LinkGraph

/** HubPPR-style hub index for single-source PPR (SURVEY.md O18).
  *
  * Public design source: Wang et al., "HubPPR: Effective Indexing for
  * Approximate Personalized PageRank" (VLDB 2016) — the comparison
  * baseline the FORA paper carries. Its core idea: precompute, for a
  * chosen set of hub vertices, auxiliary forward/backward structures so
  * that queries involving hubs skip the expensive prefix of the online
  * computation; hubs are picked highest-benefit-first (degree-ordered
  * here).
  *
  * Spark-native re-expression (NOT a port): a hub's forward oracle IS a
  * coarse forward-push state — the (reserve, residue) pair at
  * `rmaxCoarse`, stored as one parquet table for the whole hub set.
  * Forward push is incremental by construction (any state satisfying the
  * invariant π = reserve + Σ_v residue(v)·π_v is a valid warm start —
  * the same property the top-k refinement ladder relies on), so a query
  * whose source is a hub resumes from the stored rows and pays only the
  * rmaxCoarse → rmaxFine refinement; the cold prefix, which does the
  * bulk of a deterministic-accuracy push's work, is amortized into the
  * one-time build. Non-hub sources fall through to the cold path
  * unchanged.
  *
  * The build runs ALL hubs as one packed-key batch push (qid ↦ hub), so
  * the index costs one multi-source push job, not |hubs| sequential runs.
  *
  * Scale note: this object is the broadcast-fast-path form (gated by
  * ForwardPush.run's own fast-path conditions via runFastK's packed
  * keys). At beyond-memory scale the identical artifact already exists
  * as an N9 checkpoint: ForwardPush.runJoin with a CheckpointStore
  * commits every superstep's unmerged (qid, vid, reserve, residue) rows
  * from its pinned-CSR loop and resumes from the latest commit — hub
  * indexing there is "keep the hubs' checkpoints" — so no second
  * join-path implementation is warranted.
  */
object HubPpr {

  /** `table` columns: (hub: Long, key: Long, reserve: Double,
    * residue: Double) with key = vid (qid rebased away at build time). */
  case class Index(table: DataFrame, hubs: Set[Long], alpha: Double,
                   rmaxCoarse: Double)

  /** Degree-ordered hub choice (ties by vid — deterministic), the
    * paper's highest-benefit-first heuristic with out-degree as the
    * benefit proxy: a high-out-degree source spreads residue widest,
    * so its cold prefix is the most expensive to repeat per query. */
  def pickHubs(graph: LinkGraph, nHubs: Int): Seq[Long] = {
    import graph.spark.implicits._
    graph.outDegrees.toDF("vid", "deg")
      .orderBy(desc("deg"), asc("vid")).limit(nHubs)
      .select($"vid").as[Long].collect().toSeq
  }

  /** One batched coarse push over all hubs → one parquet artifact.
    * qids pack into the key's high bits (< 2^23 hubs, the packed-key
    * budget); stored rows are rebased to plain vids so a query can
    * feed them straight back into runFastK as a qid=0 state. */
  /** The packed-key budget this object's fast-path build/query rely on:
    * runFastK encodes qid<<40|vid, so vids must sit in [0, 2^40) and the
    * graph inside the broadcast budget — fail loudly instead of
    * corrupting keys on a hash-vid graph or broadcasting an over-budget
    * CSR (ADVICE r5 #1). At beyond-memory scale the hub artifact is the
    * N9 checkpoint of a join-path push (see object scaladoc). */
  private def requireFastPath(graph: LinkGraph, qids: Int): Unit = {
    val (lo, hi) = graph.vidBounds
    require(lo >= 0 && hi < (1L << 40),
      s"HubPpr fast path needs vids in [0, 2^40): bounds ($lo, $hi) — " +
        "use join-path checkpoints as the hub artifact at hash-vid scale")
    require(qids < (1 << 23), s"hub count $qids outside packed-qid budget")
    require(graph.numEdges <= ForwardPush.fastPathMaxEdges,
      s"HubPpr fast path needs numEdges <= " +
        s"${ForwardPush.fastPathMaxEdges} (got ${graph.numEdges}) — " +
        "use join-path checkpoints as the hub artifact beyond memory")
  }

  def build(graph: LinkGraph, hubs: Seq[Long], alpha: Double = 0.2,
            rmaxCoarse: Double = 1e-6,
            storageDir: Option[String] = None): Index = {
    val spark = graph.spark
    import spark.implicits._
    require(hubs.nonEmpty, "empty hub set")
    requireFastPath(graph, hubs.size)
    val sorted = hubs.distinct.sorted
    val init = sorted.zipWithIndex
      .map { case (h, q) => ForwardPush.KRow((q.toLong << 40) | h, 0.0, 1.0) }
      .toDF()
    // qidShard: each hub's coarse cascade drains in its own task, state
    // bit-identical per hub (runFastK); the build never reads fr.rsum
    val fr = ForwardPush.runFastK(graph, init, alpha, rmaxCoarse,
      qidShard = sorted.size)
    val hubByQid = typedLit(sorted.toArray)
    val packed = fr.kstate.select(
      element_at(hubByQid,
        shiftrightunsigned($"key", 40).cast("int") + 1).as("hub"),
      ($"key".bitwiseAND(lit(ForwardPush.VidMask))).as("key"),
      $"reserve", $"residue")
    // materialize-then-write-from-cache, like the graph tables; with no
    // storageDir the cache IS the index — the old unconditional write
    // leaked one orphan temp dir per build (ADVICE r5 #5)
    val cached = packed.repartition($"hub")
      .persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    storageDir.foreach(dir =>
      cached.write.mode("overwrite").parquet(dir))
    Index(cached, sorted.toSet, alpha, rmaxCoarse)
  }

  /** Deterministic-accuracy PPR (per-vertex |π̂−π| ≤ tol, as
    * ForwardPush.deterministicPpr): warm-starts from the hub state when
    * `source` is indexed, cold-starts otherwise. Returns
    * (state, rsum, pushes) — pushes is the measured query cost, which a
    * hub hit shrinks by the cold prefix's share. */
  def query(graph: LinkGraph, idx: Index, source: Long,
            tol: Double = 1e-9): ForwardPush.Result = {
    val spark = graph.spark
    import spark.implicits._
    requireFastPath(graph, qids = 1)
    val rmaxFine = tol / (graph.numEdges + graph.numVertices).toDouble
    require(rmaxFine <= idx.rmaxCoarse,
      s"query rmax $rmaxFine coarser than index rmax ${idx.rmaxCoarse}: " +
        "the stored state is already finer than the request")
    val init: DataFrame =
      if (idx.hubs.contains(source))
        idx.table.where($"hub" === source)
          .select($"key", $"reserve", $"residue")
      else Seq(ForwardPush.KRow(source, 0.0, 1.0)).toDF()
    val fr = ForwardPush.runFastK(graph, init, idx.alpha, rmaxFine)
    ForwardPush.Result(ForwardPush.unpackK(spark, fr.kstate), fr.rsum,
      fr.supersteps, fr.pushes)
  }
}
