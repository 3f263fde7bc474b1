package graft

import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.ops._

object TestGraphs {
  def graph(edges: Seq[(Int, Int)], parts: Int = 4): LinkGraph = {
    val spark = TestSpark.spark
    import spark.implicits._
    LinkGraph.fromEdges(spark,
      edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst"),
      parts)
  }

  def scores(df: org.apache.spark.sql.DataFrame, vidCol: String,
             valCol: String): Map[Long, Double] =
    df.select(vidCol, valCol).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** 40-vertex random graph of the forward fast/join equivalence case. */
  lazy val equivForward: Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(5)
    (Seq.tabulate(80)(i => (i % 40, (i * 11 + 3) % 40)) ++
      Seq.fill(120)((rnd.nextInt(40), rnd.nextInt(40))))
      .filter(e => e._1 != e._2).distinct
  }

  /** 35-vertex random graph of the backward fast/join equivalence case. */
  lazy val equivBackward: Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(17)
    (Seq.tabulate(70)(i => (i % 35, (i * 13 + 5) % 35)) ++
      Seq.fill(100)((rnd.nextInt(35), rnd.nextInt(35))))
      .filter(e => e._1 != e._2).distinct
  }

  /** Order-free fingerprint of a push state's raw IEEE bits: any change
    * in a reserve or residue, down to the last ulp, moves it. */
  def stateBits(state: org.apache.spark.sql.DataFrame): Int =
    scala.util.hashing.MurmurHash3.seqHash(
      state.select("qid", "vid", "reserve", "residue").collect()
        .map(r => (r.getInt(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
        .sorted.toSeq)
}

class ForwardPushSpec extends SparkSpec {
  import TestGraphs._

  def checkPpr(edges: Seq[(Int, Int)], n: Int, source: Int,
               alpha: Double = 0.2): Unit = {
    val g = graph(edges)
    try {
      val res = ForwardPush.deterministicPpr(g, Map(0 -> source.toLong),
        alpha, tol = 1e-7)
      val got = scores(res.state, "vid", "reserve")
      val want = DenseOracle.pprFix(n, edges, source, alpha)
      (0 until n).foreach { v =>
        val gv = got.getOrElse(v.toLong, 0.0)
        assert(math.abs(gv - want(v)) < 1e-6,
          s"v=$v got=$gv want=${want(v)}")
      }
      // mass conservation: Σ reserve + rsum = 1
      val total = got.values.sum + res.rsum
      assert(math.abs(total - 1.0) < 1e-9, s"mass=$total")
    } finally g.unpersistAll()
  }

  test("ppr matches dense oracle: triangle3") {
    checkPpr(HandGraphs.triangle3, 3, 0)
  }
  test("ppr matches dense oracle: star5 from leaf") {
    checkPpr(HandGraphs.star5, 5, 2)
  }
  test("ppr matches dense oracle: chain with dangling end") {
    checkPpr(HandGraphs.chain4, 4, 0)
  }
  test("ppr matches dense oracle: two components (cross-component = 0)") {
    val g = graph(HandGraphs.twocomp)
    try {
      val res = ForwardPush.deterministicPpr(g, Map(0 -> 0L), 0.2, 1e-7)
      val got = scores(res.state, "vid", "reserve")
      assert(got.getOrElse(3L, 0.0) == 0.0 && got.getOrElse(4L, 0.0) == 0.0)
    } finally g.unpersistAll()
  }

  test("batched multi-source run equals single-source runs") {
    val edges = HandGraphs.complete6
    val g = graph(edges)
    try {
      val batch = ForwardPush.deterministicPpr(g,
        Map(0 -> 0L, 1 -> 3L, 2 -> 5L), 0.2, 1e-7)
      val rows = batch.state.select("qid", "vid", "reserve").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      Seq(0 -> 0, 1 -> 3, 2 -> 5).foreach { case (qid, src) =>
        val want = DenseOracle.pprFix(6, edges, src, 0.2)
        (0 until 6).foreach { v =>
          assert(math.abs(rows.getOrElse((qid, v.toLong), 0.0) - want(v)) < 1e-6)
        }
      }
    } finally g.unpersistAll()
  }

  test("qid-sharded multi-source push is bitwise equal to the serial batch") {
    // the sharded small-regime routing (runFastK qidShard) must yield
    // per-source state EXACTLY equal to the unsharded batch — reserve
    // AND residue, every touched key
    val g = graph(HandGraphs.complete6)
    try {
      def rows(qidShard: Int) = ForwardPush.deterministicPpr(g,
        Map(0 -> 0L, 1 -> 3L, 2 -> 5L), 0.2, 1e-9, qidShard = qidShard)
        .state.orderBy("qid", "vid").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSeq
      assert(rows(3) == rows(1))
    } finally g.unpersistAll()
  }

  test("ppr on synthetic pages graph matches dense oracle at 1e-6") {
    val spark2 = spark
    import spark2.implicits._
    val pages = graft.sources.SyntheticPages.generate(spark, 200L, 42L)
    val (g, dict) = LinkGraph.fromPages(spark, pages.toDF(), 4)
    try {
      val n = g.numVertices.toInt
      val edges = g.edges.collect().map(e => (e.src.toInt, e.dst.toInt)).toSeq
      val res = ForwardPush.deterministicPpr(g, Map(0 -> 0L), 0.2, 1e-7)
      val got = scores(res.state, "vid", "reserve")
      val want = DenseOracle.pprFix(n, edges, 0, 0.2)
      (0 until n).foreach { v =>
        assert(math.abs(got.getOrElse(v.toLong, 0.0) - want(v)) < 1e-6)
      }
    } finally { g.unpersistAll(); dict.unpersist() }
  }

  test("two runs are bitwise identical (deterministic cascade)") {
    val g = graph(HandGraphs.star5)
    try {
      def run() = ForwardPush
        .deterministicPpr(g, Map(0 -> 1L), 0.2, 1e-7)
        .state.orderBy("vid").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      assert(run() == run())
    } finally g.unpersistAll()
  }
}

class PageRankSpec extends SparkSpec {
  import TestGraphs._

  def checkPr(edges: Seq[(Int, Int)], n: Int, damping: Double = 0.85): Unit = {
    val g = graph(edges)
    try {
      val res = PageRank.run(g, damping, tol = 1e-10, checkEvery = 10)
      val got = scores(res.ranks, "vid", "rank")
      val want = DenseOracle.pageRank(n, edges, damping)
      (0 until n).foreach { v =>
        assert(math.abs(got.getOrElse(v.toLong, 0.0) - want(v)) < 1e-6,
          s"v=$v got=${got.getOrElse(v.toLong, 0.0)} want=${want(v)}")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    } finally g.unpersistAll()
  }

  test("pagerank matches dense oracle: chain with dangling") {
    checkPr(HandGraphs.chain4, 4)
  }
  test("pagerank matches dense oracle: star5") {
    checkPr(HandGraphs.star5, 5)
  }
  test("pagerank matches dense oracle: two components, d=0.8") {
    checkPr(HandGraphs.twocomp, 5, damping = 0.8)
  }

  test("dense one-task path equals distributed join path") {
    // random-ish 60-vertex digraph with dangling vertices; both physical
    // plans must agree to the convergence tolerance
    val edges = (for {
      u <- 0 until 60; v <- 0 until 60
      if u != v && u % 7 != 6 && java.lang.Math.floorMod(
        graft.util.Hashing.h64(11L, u.toLong * 60 + v, 5L), 9L) == 0L
    } yield (u, v))
    val g = graph(edges)
    try {
      val dense = scores(PageRank.run(g, 0.85, tol = 1e-10).ranks,
        "vid", "rank")
      val saved = PageRank.DenseMaxVertices
      PageRank.DenseMaxVertices = 0 // force the join path
      val dist =
        try scores(PageRank.run(g, 0.85, tol = 1e-10).ranks, "vid", "rank")
        finally PageRank.DenseMaxVertices = saved
      assert(dense.keySet == dist.keySet)
      dense.foreach { case (v, r) =>
        assert(math.abs(r - dist(v)) < 1e-8, s"v=$v dense=$r dist=${dist(v)}")
      }
    } finally g.unpersistAll()
  }

  test("checkpointed run resumed from a mid-run commit equals the uninterrupted run") {
    val g = graph(HandGraphs.complete6 ++ HandGraphs.chain4.map {
      case (a, b) => (a + 6, b + 6) } ++ Seq((5, 6)))
    try {
      def rows(r: PageRank.Result) = r.ranks.orderBy("vid").collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      val root = java.nio.file.Files.createTempDirectory("ckpt-pr-").toString
      def run(resume: Boolean) = PageRank.run(g, 0.85, tol = 0.0,
        maxIter = 10, checkEvery = 2,
        ckpt = Some(new graft.ckpt.CheckpointStore(spark, root, "pr")),
        resume = resume)
      val full = run(resume = false)
      val fullRows = rows(full)
      // cut the run back to its commit at iteration 4
      val mdir = java.nio.file.Paths.get(root, "pr", "_manifests")
      java.nio.file.Files.list(mdir).iterator().forEachRemaining { p =>
        val v = p.getFileName.toString.stripPrefix("v").stripSuffix(".json")
        if (v.toInt > 4) java.nio.file.Files.delete(p)
      }
      assert(new graft.ckpt.CheckpointStore(spark, root, "pr")
        .latestSuperstep().contains(4))
      assert(full.iterations == 10)
      // from the cut, then again from the final commit (nothing left to run)
      Seq(run(resume = true), run(resume = true)).foreach { resumed =>
        assert(resumed.iterations == full.iterations)
        assert(resumed.delta == full.delta)
        assert(rows(resumed) == fullRows)
      }
    } finally g.unpersistAll()
  }

  test("personalized power iteration agrees with forward push") {
    val g = graph(HandGraphs.chain4)
    try {
      val pi = scores(PageRank.personalized(g, 0L, 0.2, tol = 1e-12),
        "vid", "score")
      val fp = scores(ForwardPush.deterministicPpr(g, Map(0 -> 0L), 0.2, 1e-8)
        .state, "vid", "reserve")
      (0 until 4).foreach { v =>
        assert(math.abs(pi.getOrElse(v.toLong, 0.0) -
          fp.getOrElse(v.toLong, 0.0)) < 1e-6)
      }
    } finally g.unpersistAll()
  }
}

class ComponentsSpec extends SparkSpec {
  import TestGraphs._

  test("dense union-find path equals star-contraction path") {
    // sparse random graph with several components and isolated vertices
    val edges = (for {
      u <- 0 until 120; v <- 0 until 120
      if u != v && java.lang.Math.floorMod(
        graft.util.Hashing.h64(19L, u.toLong * 120 + v, 3L), 97L) == 0L
    } yield (u, v))
    val g = graph(edges)
    try {
      def labels() = ConnectedComponents.run(g).components.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dense = labels() // gate routes dense
      val saved = ConnectedComponents.DenseMaxUndEdges
      ConnectedComponents.DenseMaxUndEdges = 0 // force star contraction
      val stars = try labels()
        finally ConnectedComponents.DenseMaxUndEdges = saved
      assert(dense == stars)
    } finally g.unpersistAll()
  }

  test("two components get min labels") {
    val g = graph(HandGraphs.twocomp)
    try {
      val got = scores(ConnectedComponents.run(g).components
        .withColumn("component", col("component").cast("double")),
        "vid", "component")
      assert(got == Map(0L -> 0.0, 1L -> 0.0, 2L -> 0.0, 3L -> 3.0, 4L -> 3.0))
    } finally g.unpersistAll()
  }

  test("long path contracts to one component") {
    val path = (0 until 40).map(i => (i, i + 1))
    val g = graph(path)
    try {
      val comp = ConnectedComponents.run(g)
      val got = scores(comp.components
        .withColumn("component", col("component").cast("double")),
        "vid", "component")
      assert(got.values.toSet == Set(0.0))
      assert(comp.rounds <= 10)
    } finally g.unpersistAll()
  }

  test("random graph matches BFS oracle") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = Seq.fill(70)((rnd.nextInt(n), rnd.nextInt(n)))
      .filter(e => e._1 != e._2).distinct
    val g = graph(edges)
    try {
      val got = scores(ConnectedComponents.run(g).components
        .withColumn("component", col("component").cast("double")),
        "vid", "component")
      // BFS oracle
      val present = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val nbrs = scala.collection.mutable.Map.empty[Int, List[Int]]
        .withDefaultValue(Nil)
      edges.foreach { case (a, b) =>
        nbrs(a) = b :: nbrs(a); nbrs(b) = a :: nbrs(b) }
      val label = scala.collection.mutable.Map.empty[Int, Int]
      present.foreach { s =>
        if (!label.contains(s)) {
          var frontier = List(s)
          while (frontier.nonEmpty) {
            val nf = frontier.flatMap(v =>
              if (label.contains(v)) Nil else { label(v) = s; nbrs(v) })
            frontier = nf.filterNot(label.contains)
          }
        }
      }
      present.foreach { v =>
        assert(got(v.toLong) == label(v).toDouble, s"v=$v")
      }
    } finally g.unpersistAll()
  }
}

class TrianglesSpec extends SparkSpec {
  import TestGraphs._

  test("triangle3 has exactly 1 triangle") {
    val g = graph(HandGraphs.triangle3)
    try assert(Triangles.count(g) == 1L) finally g.unpersistAll()
  }
  test("star5 has no triangles") {
    val g = graph(HandGraphs.star5)
    try assert(Triangles.count(g) == 0L) finally g.unpersistAll()
  }
  test("K6 has 20 triangles; every vertex in 10") {
    val g = graph(HandGraphs.complete6)
    try {
      assert(Triangles.count(g) == 20L)
      val pv = Triangles.perVertex(g).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(pv == (0 until 6).map(i => i.toLong -> 10L).toMap)
    } finally g.unpersistAll()
  }

  test("dense bitset path equals wedge-join path on a random dense graph") {
    // ~180 vertices, edge iff h(u,v) hits — dense enough that both paths
    // see thousands of triangles and every orientation branch is hit
    val n = 180
    val edges = for {
      u <- 0 until n; v <- 0 until n
      if u != v && java.lang.Math.floorMod(
        graft.util.Hashing.h64(3L, u.toLong * n + v, 9L), 7L) == 0L
    } yield (u, v)
    val g = graph(edges, parts = 4)
    try {
      val tris = Triangles.triangles(g) // wedge join, explicitly
      val wedgePv = Triangles.perVertex(g, Some(tris)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val densePv = Triangles.perVertex(g).collect() // gate routes dense
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(densePv == wedgePv)
      assert(Triangles.count(g) * 3 == wedgePv.values.sum)
    } finally g.unpersistAll()
  }
}

class LabelPropagationSpec extends SparkSpec {
  import TestGraphs._

  /** In-driver simulation of the pinned LPA semantics. */
  def simulate(n: Int, edges: Seq[(Int, Int)], rounds: Int): Map[Long, Long] = {
    val und = edges.map { case (a, b) => (a.min(b), a.max(b)) }
      .filter(e => e._1 != e._2).distinct
    val nbrs = Array.fill(n)(Set.empty[Int])
    und.foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    var label = Array.tabulate(n)(i => i.toLong)
    (0 until rounds).foreach { _ =>
      val next = label.clone()
      (0 until n).foreach { v =>
        if (nbrs(v).nonEmpty) {
          val counts = nbrs(v).toSeq.map(label)
            .groupBy(identity).map { case (l, xs) => (l, xs.size) }
          val best = counts.toSeq.map { case (l, c) => (c, -l) }.max
          next(v) = -best._2
        }
      }
      label = next
    }
    (0 until n).map(i => i.toLong -> label(i)).toMap
  }

  test("LPA matches in-driver simulation on star5") {
    val g = graph(HandGraphs.star5)
    try {
      val got = LabelPropagation.run(g, rounds = 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == simulate(5, HandGraphs.star5, 4))
    } finally g.unpersistAll()
  }

  test("LPA matches in-driver simulation on a random graph") {
    val rnd = new scala.util.Random(11)
    val n = 40
    val edges = Seq.fill(80)((rnd.nextInt(n), rnd.nextInt(n)))
      .filter(e => e._1 != e._2).distinct
    val g = graph(edges)
    try {
      val got = LabelPropagation.run(g, rounds = 5).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = simulate(n, edges, 5)
      val present = edges.flatMap(e => Seq(e._1.toLong, e._2.toLong)).toSet
      present.foreach(v => assert(got(v) == want(v), s"v=$v"))
    } finally g.unpersistAll()
  }

  test("dense and distributed LPA plans agree bit-for-bit") {
    val rnd = new scala.util.Random(13)
    val n = 30
    val edges = Seq.fill(70)((rnd.nextInt(n), rnd.nextInt(n)))
      .filter(e => e._1 != e._2).distinct
    val g = graph(edges)
    try {
      def labels(): Map[Long, Long] =
        LabelPropagation.run(g, rounds = 5).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dense = labels() // small graph ⇒ dense-gated path
      val saved = LabelPropagation.DenseMaxUndEdges
      LabelPropagation.DenseMaxUndEdges = 0L
      try assert(labels() == dense) // forced distributed rounds
      finally LabelPropagation.DenseMaxUndEdges = saved
    } finally g.unpersistAll()
  }
}

class PushPathEquivalenceSpec extends SparkSpec {
  import TestGraphs._

  test("fast (broadcast-CSR) and join paths agree within the rsum bound") {
    val g = graph(equivForward)
    try {
      val rmax = 1e-6 / (g.numEdges + g.numVertices)
      def rows(r: graft.ops.ForwardPush.Result) =
        r.state.orderBy("qid", "vid").collect()
          .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
          .toSeq
      val fast = graft.ops.ForwardPush.runFast(g, Map(0 -> 0L, 1 -> 7L), 0.2, rmax)
      val join = graft.ops.ForwardPush.runJoin(g, Map(0 -> 0L, 1 -> 7L), 0.2, rmax)
      // different partition-ownership functions push in different orders,
      // so leftover residue lands differently — but both honor the same
      // threshold contract: reserves agree within rsum_fast + rsum_join
      val (fr, jr) = (rows(fast), rows(join))
      val jm = jr.map(t => (t._1, t._2) -> t._3).toMap
      val bound = fast.rsum + join.rsum + 1e-12
      fr.foreach { a =>
        val b = jm.getOrElse((a._1, a._2), 0.0)
        assert(math.abs(a._3 - b) <= bound, s"$a vs $b bound=$bound")
      }
      assert(fast.rsum <= 2e-6 && join.rsum <= 2e-6)
    } finally g.unpersistAll()
  }

  test("both directions keep their pinned supersteps, pushes and raw-bit state on both paths") {
    // the equivalence cases only bound fast-vs-join differences by rsum,
    // so a cascade that reordered its float operations would pass them;
    // the pins are the values of the per-direction cascades this engine
    // replaced, and moving one means the float operations moved
    def pin(r: ForwardPush.Result) =
      (r.supersteps, r.pushes, stateBits(r.state))
    val fwd = graph(equivForward)
    try {
      val rmax = 1e-6 / (fwd.numEdges + fwd.numVertices)
      val sources = Map(0 -> 0L, 1 -> 7L)
      assert(pin(ForwardPush.runFast(fwd, sources, 0.2, rmax)) ==
        ((1, 3270L, 1133504589)))
      assert(pin(ForwardPush.runJoin(fwd, sources, 0.2, rmax)) ==
        ((64, 8694L, 1592774730)))
    } finally fwd.unpersistAll()
    val bwd = graph(equivBackward)
    try {
      val targets = Map(0 -> 1L, 1 -> 5L)
      assert(pin(BackwardPush.runFast(bwd, targets, 0.2, 1e-7)) ==
        ((1, 2572L, 294248057)))
      assert(pin(BackwardPush.runJoin(bwd, targets, 0.2, 1e-7)) ==
        ((80, 6068L, 252338991)))
    } finally bwd.unpersistAll()
  }

  test("every push entry point answers an empty source map with an empty state and rsum 0") {
    val g = graph(HandGraphs.triangle3 ++ Seq((0, 3), (3, 1), (1, 4)))
    try {
      val none = Map.empty[Int, Long]
      Seq[(String, () => ForwardPush.Result)](
        "ForwardPush.runFast" -> (() => ForwardPush.runFast(g, none, 0.2, 1e-6)),
        "ForwardPush.runJoin" -> (() => ForwardPush.runJoin(g, none, 0.2, 1e-6)),
        "BackwardPush.runFast" -> (() => BackwardPush.runFast(g, none, 0.2, 1e-6)),
        "BackwardPush.runJoin" -> (() => BackwardPush.runJoin(g, none, 0.2, 1e-6))
      ).foreach { case (name, run) =>
        val r = run()
        assert((r.state.count(), r.rsum) == ((0L, 0.0)), name)
      }
    } finally g.unpersistAll()
  }

  test("walk kernel and hop-join walk path produce identical endpoints") {
    // the counter-RNG (origin, slot, step) makes the two execution
    // shapes bitwise comparable: same draws regardless of whether a walk
    // runs to termination in one task (broadcast CSR kernel) or hops
    // epoch-by-epoch through adjacency joins (the beyond-memory shape)
    val spark = TestSpark.spark
    import spark.implicits._
    val edges = (for {
      u <- 0 until 50; v <- 0 until 50
      if u != v && u % 9 != 8 && java.lang.Math.floorMod(
        graft.util.Hashing.h64(13L, u.toLong * 50 + v, 2L), 6L) == 0L
    } yield (u, v))
    val g = graph(edges)
    try {
      val seeds = (0 until 50).flatMap(v => (0 until 4).map(s =>
        (0, v.toLong, s.toLong, v.toLong, 0.25))) // every vertex, 4 slots
        .toDF("qid", "origin", "slot", "cur", "mass")
      def ends(r: graft.ops.RandomWalks.WalkResult) =
        r.endpoints.select("qid", "origin", "slot", "vid")
          .as[(Int, Long, Long, Long)].collect().sorted.toSeq
      val fast = graft.ops.RandomWalks.runCounted(g, seeds, 0.2, 42L)
      val saved = graft.ops.ForwardPush.fastPathMaxEdges
      graft.ops.ForwardPush.fastPathMaxEdges = 0 // force the hop-join path
      val join =
        try graft.ops.RandomWalks.runCounted(g, seeds, 0.2, 42L)
        finally graft.ops.ForwardPush.fastPathMaxEdges = saved
      assert(ends(fast) == ends(join))
      assert(fast.walks == join.walks && fast.steps == join.steps)
    } finally g.unpersistAll()
  }
}
