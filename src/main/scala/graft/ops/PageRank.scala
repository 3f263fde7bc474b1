package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.ckpt.CheckpointStore

/** Global PageRank by power iteration (SURVEY.md N4).
  *
  * Conventions (pinned): damping d (default 0.85; FORA's α=0.2 corresponds
  * to d=0.8 — caller's choice); dangling mass redistributed uniformly over
  * all n vertices each iteration; scores sum to 1.
  *
  * Two physical plans, chosen by size (measured — see git history for
  * the alternatives that lost):
  *   - dense ([[runDense]]): up to [[DenseMaxVertices]] vertices every
  *     iteration runs inside ONE executor task against the broadcast
  *     CSR — one Spark job in total;
  *   - distributed ([[runJoinRdd]]): rank blocks pinned per content part
  *     next to LinkGraph.csrZip; per iteration ONE two-stage job routes
  *     per-part contribution arrays to their destination part (the one
  *     row-level exchange) and a driver fold of per-part partial sums
  *     gives the dangling mass 1 − Σcontrib (Σrank = 1 invariant). With
  *     a CheckpointStore attached this plan runs at any size and commits
  *     at every convergence check;
  *   - convergence (L∞ between consecutive iterations) tested every
  *     `checkEvery` iterations to amortize the compare.
  *
  * Convergence: the iteration contracts by d per step, so per-iteration
  * L∞ delta < tol implies true error ≤ tol·d/(1−d); tol=1e-8 clears the
  * 1e-6 allclose gate [BASELINE.json] with ~50× margin.
  */
object PageRank {

  case class Result(ranks: DataFrame, iterations: Int, delta: Double)

  /** Dense-subgraph gate: below this vertex count the whole power
    * iteration is one executor task's work (rank vector ≤ 512 KB;
    * ~100 iterations × m edge-ops ≈ tens of ms at the gate) while the
    * distributed path pays ~1 fixed-cost job per iteration — two orders
    * of magnitude in wall time on a 1000-vertex community block. The
    * distributed plan remains the unconditional plan for real graphs
    * (its per-iteration cost scales with cores; see BENCH/BASELINE.md
    * pagerank20). */
  private[graft] var DenseMaxVertices = 65536L // var: specs force the join path

  /** Power iteration to L∞ delta ≤ `tol` (or `maxIter` iterations).
    * Small graphs without a store run the dense one-task plan; everything
    * else runs the distributed plan ([[runJoinRdd]]).
    *
    * @param ckpt   optional durable checkpoint store (N9): the distributed
    *               plan commits (vid, rank) at every convergence check
    * @param resume when true and `ckpt` has commits, continue from the
    *               latest one instead of the uniform start; ignored
    *               without a store
    */
  def run(graph: LinkGraph, damping: Double = 0.85, tol: Double = 1e-8,
          maxIter: Int = 300, checkEvery: Int = 5,
          ckpt: Option[CheckpointStore] = None,
          resume: Boolean = false): Result =
    if (ckpt.isEmpty && graph.numVertices <= DenseMaxVertices &&
        graph.numEdges <= ForwardPush.fastPathMaxEdges)
      runDense(graph, damping, tol, maxIter, checkEvery)
    else runJoinRdd(graph, damping, tol, maxIter, checkEvery, ckpt, resume)

  /** Distributed power iteration over the pinned per-part CSR (round 6):
    * rank blocks aligned to `vidBlocks` (one sorted vertex-id block per
    * content part, zipped with LinkGraph.csrZip), so an iteration is ONE
    * two-stage job — contributions routed to their destination part,
    * merged there — plus a tiny driver fold for the dangling mass
    * (1 − Σcontrib)/n. Profiling showed the earlier Dataset join+agg
    * form spent about half its wall time in per-iteration Catalyst/AQE
    * replanning (guide §1.2/§7.3).
    *
    * Determinism: per-destination contributions accumulate in
    * (ascending src, slab-order dst) order, messages merge sorted by
    * source part, and the global Σcontrib folds per-part partials in
    * ascending part order — a pure function of content at any
    * parallelism.
    *
    * Durability (N9): with a store attached, every convergence check
    * commits the (vid, rank) rows and the delta under the number of
    * completed iterations; `resume` re-aligns the latest commit's rows
    * to `vidBlocks` and continues from there, bitwise equal to the
    * uninterrupted run. */
  private def runJoinRdd(graph: LinkGraph, damping: Double, tol: Double,
                         maxIter: Int, checkEvery: Int,
                         ckpt: Option[CheckpointStore],
                         resume: Boolean): Result = {
    val spark = graph.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val p = graph.numParts
    val n = graph.numVertices
    val d = damping
    val vpart = new graft.graph.LinkGraph.PartIdPartitioner(p)
    val csrZip = graph.csrZip

    // pinned sorted vertex-id block per content part, aligned to csrZip
    val vidBlocks: org.apache.spark.rdd.RDD[Array[Long]] =
      graph.registerRdd("vidBlocks") {
        val r = graph.vertices.rdd
          .map(v => (graft.util.Hashing.partOf(v, p), v))
          .partitionBy(vpart).values
          .mapPartitions { it =>
            val a = it.toArray
            java.util.Arrays.sort(a)
            Iterator.single(a)
          }
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
      }

    def rankRows(ranks: org.apache.spark.rdd.RDD[Array[Double]]): DataFrame =
      spark.createDataset(vidBlocks.zipPartitions(ranks) { (vIt, rIt) =>
        val vids = vIt.next(); val rks = rIt.next()
        Iterator.range(0, vids.length).map(i => (vids(i), rks(i)))
      }).toDF("vid", "rank")

    val resumeStep = if (resume) ckpt.flatMap(_.latestSuperstep()) else None
    var ranks: org.apache.spark.rdd.RDD[Array[Double]] = resumeStep match {
      case Some(k) =>
        val rows = ckpt.get.loadState(k).select($"vid", $"rank")
          .as[(Long, Double)].rdd
          .map(t => (graft.util.Hashing.partOf(t._1, p), t))
          .partitionBy(vpart).values
        vidBlocks.zipPartitions(rows) { (vIt, rIt) =>
          val vids = vIt.next()
          val rks = new Array[Double](vids.length)
          rIt.foreach { case (v, r) =>
            rks(java.util.Arrays.binarySearch(vids, v)) = r }
          Iterator.single(rks)
        }
      case None => vidBlocks.map(vs => Array.fill(vs.length)(1.0 / n))
    }
    var pinnedMerged: Option[org.apache.spark.rdd.RDD[(Array[Double], Double)]] =
      None
    var prevRanks: org.apache.spark.rdd.RDD[Array[Double]] = null
    // a commit's index is its number of completed iterations
    var iter = resumeStep.getOrElse(0)
    var delta = resumeStep.flatMap(ckpt.get.scalar(_, "delta"))
      .getOrElse(Double.MaxValue)

    while (delta > tol && iter < maxIter) {
      // contribution messages: per (source part → destination part),
      // dst-sorted primitive arrays of partial sums
      val msgs = vidBlocks.zipPartitions(ranks, csrZip) { (vIt, rIt, bIt) =>
        val vids = vIt.next(); val rks = rIt.next()
        val myPart = org.apache.spark.TaskContext.getPartitionId()
        if (!bIt.hasNext) Iterator.empty
        else {
          val blk = bIt.next()
          val accMap = new graft.util.Prim.LongSlotMap(1024)
          var dsts = new Array[Long](1024)
          var vals = new Array[Double](1024)
          var nAcc = 0
          var i = 0
          while (i < blk.srcIds.length) {
            val src = blk.srcIds(i)
            val deg = blk.offsets(i + 1) - blk.offsets(i)
            val share =
              rks(java.util.Arrays.binarySearch(vids, src)) / deg
            var e = blk.offsets(i)
            while (e < blk.offsets(i + 1)) {
              val dst = blk.dsts(e)
              val s = accMap.getOrInsert(dst, nAcc)
              if (s == nAcc) {
                if (nAcc == dsts.length) {
                  dsts = java.util.Arrays.copyOf(dsts, nAcc * 2)
                  vals = java.util.Arrays.copyOf(vals, nAcc * 2)
                }
                dsts(nAcc) = dst; vals(nAcc) = 0.0; nAcc += 1
              }
              vals(s) += share
              e += 1
            }
            i += 1
          }
          // emit per destination part, dst-sorted (deterministic payload)
          graft.util.Prim.sort3(dsts,
            vals, new Array[Double](nAcc max 1) // reuse 3-array sorter
            , 0, nAcc - 1)
          val out = scala.collection.mutable.Map
            .empty[Int, (scala.collection.mutable.ArrayBuilder.ofLong,
              scala.collection.mutable.ArrayBuilder.ofDouble)]
          i = 0
          while (i < nAcc) {
            val dp = graft.util.Hashing.partOf(dsts(i), p)
            val b = out.getOrElseUpdate(dp,
              (new scala.collection.mutable.ArrayBuilder.ofLong,
                new scala.collection.mutable.ArrayBuilder.ofDouble))
            b._1 += dsts(i); b._2 += vals(i)
            i += 1
          }
          out.iterator.map { case (dp, (db, vb)) =>
            (dp, (myPart, db.result(), vb.result()))
          }
        }
      }
      // sort-writer exchange (see ForwardPush.routeBatches): a plain
      // partitionBy picks the bypass-merge writer (p temp files per map
      // task per iteration); a map-side list combiner forces the
      // single-file sort writer. The merge below sorts messages by
      // source part, so combination order is immaterial — results
      // bitwise unchanged.
      val routedMsgs = {
        import org.apache.spark.rdd.RDD.rddToPairRDDFunctions
        type Msg = (Int, Array[Long], Array[Double])
        msgs.combineByKeyWithClassTag[List[Msg]](
          (m: Msg) => List(m),
          (acc: List[Msg], m: Msg) => m :: acc,
          (a: List[Msg], b: List[Msg]) => a ::: b,
          vpart, mapSideCombine = true)
      }

      // merge: sorted by source part, added in ascending dst order
      val merged = vidBlocks.zipPartitions(routedMsgs) { (vIt, mIt) =>
        val vids = vIt.next()
        val contrib = new Array[Double](vids.length)
        val inc = mIt.flatMap(_._2).toArray.sortBy(_._1)
        var k = 0
        while (k < inc.length) {
          val (_, ds, vs) = inc(k)
          var i = 0
          while (i < ds.length) {
            contrib(java.util.Arrays.binarySearch(vids, ds(i))) += vs(i)
            i += 1
          }
          k += 1
        }
        var s = 0.0
        var i = 0
        while (i < contrib.length) { s += contrib(i); i += 1 }
        Iterator.single((contrib, s))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      val partials = merged
        .mapPartitionsWithIndex((i, it) => it.map(x => (i, x._2)))
        .collect().sortBy(_._1)
      var csum = 0.0
      partials.foreach(csum += _._2)

      prevRanks = ranks
      val dang = (1.0 - csum) / n
      ranks = merged.map { case (contrib, _) =>
        val out = new Array[Double](contrib.length)
        var i = 0
        while (i < contrib.length) {
          out(i) = (1.0 - d) / n + d * (dang + contrib(i))
          i += 1
        }
        out
      }
      iter += 1
      if (iter % checkEvery == 0 || iter >= maxIter) {
        delta = ranks.zipPartitions(prevRanks) { (nIt, oIt) =>
          val nv = nIt.next(); val ov = oIt.next()
          var mx = 0.0
          var i = 0
          while (i < nv.length) {
            val df = math.abs(nv(i) - ov(i))
            if (df > mx) mx = df
            i += 1
          }
          Iterator.single(mx)
        }.collect().foldLeft(0.0)(math.max)
        ckpt.foreach(_.commit(iter, rankRows(ranks), Map("delta" -> delta),
          Nil, Map("damping" -> d.toString, "tol" -> tol.toString)))
      }
      // previous iteration's merged cache is no longer referenced once
      // this one is materialized (the collect above materialized it)
      pinnedMerged.foreach(_.unpersist(blocking = false))
      pinnedMerged = Some(merged)
    }

    val out = rankRows(ranks).localCheckpoint(true)
    pinnedMerged.foreach(_.unpersist(blocking = false))
    Result(out, iter, delta)
  }

  /** Dense-subgraph path (see [[DenseMaxVertices]]): every iteration of
    * the pinned semantics (dangling mass uniform over n; Σrank = 1) runs
    * against the broadcast whole-graph CSR inside ONE executor task —
    * one Spark job total instead of one per iteration. Same formula and
    * same consecutive-iteration L∞ convergence test as the distributed
    * plan, so the two agree to the convergence tolerance. */
  private def runDense(graph: LinkGraph, damping: Double, tol: Double,
                       maxIter: Int, checkEvery: Int): Result = {
    val spark = graph.spark
    import spark.implicits._
    val verts = graph.vertices.collect().sorted // gated: ≤ 64k rows
    val csrB = graph.flatCsr
    val d = damping
    val out = spark.range(0L, 1L, 1L, 1).mapPartitions { _ =>
      val csr = csrB.value
      val n = verts.length
      var ranks = Array.fill(n)(1.0 / n)
      // vertex i's CSR row (or -1 when dangling), resolved once
      val csrIdx = new Array[Int](n)
      var i = 0
      while (i < n) { csrIdx(i) = csr.fastIndexOf(verts(i)); i += 1 }
      // dst vid → dense index for contribution deposits
      val vidIdx = new graft.util.Prim.LongSlotMap(n)
      i = 0
      while (i < n) { vidIdx.getOrInsert(verts(i), i); i += 1 }
      var iter = 0
      var delta = Double.MaxValue
      while (delta > tol && iter < maxIter) {
        val next = new Array[Double](n)
        var csum = 0.0
        i = 0
        while (i < n) {
          val ci = csrIdx(i)
          if (ci >= 0) {
            val deg = csr.degOf(ci)
            val share = ranks(i) / deg
            csum += ranks(i)
            var e = csr.offsets(ci)
            val end = csr.offsets(ci + 1)
            while (e < end) {
              next(vidIdx.get(csr.dsts(e))) += share
              e += 1
            }
          }
          i += 1
        }
        val base = (1.0 - d) / n + d * (1.0 - csum) / n
        i = 0
        while (i < n) { next(i) = base + d * next(i); i += 1 }
        iter += 1
        if (iter % checkEvery == 0 || iter >= maxIter) {
          var mx = 0.0
          i = 0
          while (i < n) {
            val df = math.abs(next(i) - ranks(i))
            if (df > mx) mx = df
            i += 1
          }
          delta = mx
        }
        ranks = next
      }
      Iterator.single((ranks, iter, delta))
    }.collect().head
    val rows = verts.zip(out._1).toSeq
    Result(spark.createDataset(rows).toDF("vid", "rank"), out._2, out._3)
  }

  /** Personalized PageRank by power iteration (teleport α to source;
    * dangling vertices absorb via self-loop semantics — matching
    * ForwardPush's pinned dangling convention). Distributed oracle /
    * cross-check for ForwardPush (SURVEY.md §5.2). Per-iteration lineage
    * truncation makes the second scan of `r` (dangling self rows) cheap. */
  def personalized(graph: LinkGraph, source: Long, alpha: Double = 0.2,
                   tol: Double = 1e-12, maxIter: Int = 400,
                   checkEvery: Int = 10): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val adj = graph.adj
    val base = graph.outDegrees

    def step(r: DataFrame): DataFrame = {
      val spread = r.where($"outDeg" > 0 && $"score" > 0)
        .join(adj, r("vid") === adj("src"))
        .select(explode($"dsts").as("vid"), ($"score" / $"outDeg").as("c"))
      val selfLoops = r.where($"outDeg" === 0 && $"score" > 0)
        .select($"vid", $"score".as("c"))
      val contribs = spread.unionByName(selfLoops)
        .groupBy($"vid").agg(sum($"c").as("contrib"))
      base.join(contribs, Seq("vid"), "left")
        .select($"vid", $"outDeg",
          (when($"vid" === source, lit(alpha)).otherwise(lit(0.0)) +
            lit(1 - alpha) * coalesce($"contrib", lit(0.0))).as("score"))
    }

    var scores: DataFrame = base.withColumn("score",
      when($"vid" === source, lit(1.0)).otherwise(lit(0.0)))
    var iter = 0
    var delta = Double.MaxValue
    while (delta > tol && iter < maxIter) {
      val prev = scores
      scores = step(scores).localCheckpoint(true)
      iter += 1
      if (iter % checkEvery == 0 || iter >= maxIter) {
        delta = scores.as("n")
          .join(prev.as("o"), col("n.vid") === col("o.vid"))
          .agg(max(abs(col("n.score") - col("o.score")))).as[Double].head()
      }
    }
    scores.select($"vid", $"score")
  }
}
