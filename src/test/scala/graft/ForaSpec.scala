package graft

import org.apache.spark.sql.functions._
import graft.ops._

class ForaSpec extends SparkSpec {
  import TestGraphs._

  lazy val edges: Seq[(Int, Int)] = {
    // deterministic ~150-edge digraph with a dangling vertex and a hub
    val rnd = new scala.util.Random(3)
    (Seq.tabulate(60)(i => (i % 30, (i * 7 + 1) % 30)) ++
      Seq.tabulate(90)(_ => (rnd.nextInt(30), rnd.nextInt(30))) ++
      Seq((0, 29))) // 29 has no out-edges unless random gave it some
      .filter(e => e._1 != e._2).filter(_._1 != 29).distinct
  }
  val n = 30

  test("fora (eps,delta) query: mass conservation + error within budget") {
    val g = graph(edges)
    try {
      val res = Fora.query(g, Map(0 -> 0L, 1 -> 7L),
        Fora.Params(eps = 0.5, seed = 42L))
      val rows = res.scores.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // Σ over targets = 1 exactly-ish per query (reserve + walk mass)
      Seq(0, 1).foreach { q =>
        val tot = rows.collect { case ((`q`, _), s) => s }.sum
        assert(math.abs(tot - 1.0) < 1e-9, s"q=$q tot=$tot")
      }
      val want0 = DenseOracle.pprFix(n, edges, 0, 0.2)
      val delta = 1.0 / g.numVertices
      (0 until n).foreach { v =>
        val got = rows.getOrElse((0, v.toLong), 0.0)
        val err = math.abs(got - want0(v))
        assert(err <= 0.5 * math.max(want0(v), delta) + 1e-12,
          s"v=$v got=$got want=${want0(v)} err=$err")
      }
    } finally g.unpersistAll()
  }

  test("expandSlots emits exactly [0, nwalks) per row, nothing else") {
    // the chunked expansion must be slot-for-slot identical to a direct
    // explode(sequence(0, nwalks-1)) — counter-RNG walk identity depends
    // on it; covers nwalks below, at, above and at multiples of the
    // 4096 chunk size
    val spark = TestSpark.spark
    import spark.implicits._
    val counts = Seq(1L, 2L, 4095L, 4096L, 4097L, 8192L, 10000L)
    val rows = counts.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("id", "nwalks")
    val got = Fora.expandSlots(rows)
      .select($"id", $"slot").as[(Long, Long)].collect().toSet
    val want = counts.zipWithIndex
      .flatMap { case (c, i) => (0L until c).map(s => (i.toLong, s)) }.toSet
    assert(got == want)
  }

  test("walk-index reproduces live-walk endpoints exactly") {
    val g = graph(edges)
    try {
      val sp = spark
      import sp.implicits._
      val p = Fora.Params(eps = 0.5, seed = 7L)
      val idx = WalkIndex.build(g, p)

      // endpoint-level: the counter-based RNG makes index == live, exactly
      val seeds = Seq((0, 3L, 0L, 3L, 0.5), (0, 11L, 1L, 11L, 0.25),
        (0, 29L, 0L, 29L, 0.125), (0, 5L, 3L, 5L, 0.125))
        .toDF("qid", "origin", "slot", "cur", "mass")
      def ends(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "origin", "slot", "vid", "mass").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4))).sorted.toSeq
      assert(ends(WalkIndex.lookup(g, idx, seeds, 0.2, 7L)) ==
        ends(RandomWalks.run(g, seeds, 0.2, 7L)))

      // query-level: scores equal up to float summation order
      def rows(r: Fora.QueryResult) = r.scores.orderBy("qid", "vid")
        .collect().map(x => (x.getInt(0), x.getLong(1), x.getDouble(2))).toSeq
      val live = rows(Fora.query(g, Map(0 -> 3L), p))
      val indexed = rows(Fora.query(g, Map(0 -> 3L), p, walkIndex = Some(idx)))
      assert(live.map(t => (t._1, t._2)) == indexed.map(t => (t._1, t._2)))
      live.zip(indexed).foreach { case (a, b) =>
        assert(math.abs(a._3 - b._3) < 1e-12, s"$a vs $b") }
      idx.table.unpersist()
    } finally g.unpersistAll()
  }

  /** Pieces of `Fora.query` rebuilt from the public operators: the
    * push, ω, the column pipeline's walk seeds and their walks. */
  private case class Column(rsum: Double, omega: Double,
                            maxWalks: Long, walks: Long, steps: Long,
                            scores: Map[(Int, Long), Double])

  private def column(g: graft.graph.LinkGraph, sources: Map[Int, Long],
                     p: Fora.Params): Column = {
    val sp = spark
    import sp.implicits._
    val n = g.numVertices
    val delta = if (p.delta.isNaN) 1.0 / n else p.delta
    val pfail = if (p.pfail.isNaN) 1.0 / n else p.pfail
    val rmax = Fora.rmaxOf(p, g.numEdges, delta, pfail)
    val push = ForwardPush.run(g, sources, p.alpha, rmax)
    assert(push.fastBlocks.isDefined, "the spec graph must take the fast path")
    val omega = Fora.omegaOf(p, push.rsum, delta, pfail)
    val slots = push.state.where($"residue" > 0)
      .withColumn("nwalks",
        ceil($"residue" * lit(omega) / lit(math.max(push.rsum, 1e-300)))
          .cast("long"))
    val maxWalks = slots.agg(max($"nwalks")).as[Long].head()
    val seeds = Fora.expandSlots(slots)
      .select($"qid", $"vid".as("origin"), $"slot", $"vid".as("cur"),
        ($"residue" / $"nwalks").as("mass"))
    val w = RandomWalks.runCounted(g, seeds, p.alpha, p.seed)
    val scores = push.state.select($"qid", $"vid", $"reserve".as("mass"))
      .unionByName(w.endpoints.select($"qid", $"vid", $"mass"))
      .groupBy($"qid", $"vid").agg(sum($"mass"))
      .as[(Int, Long, Double)].collect()
      .map { case (q, v, s) => (q, v) -> s }.toMap
    Column(push.rsum, omega, maxWalks, w.walks, w.steps, scores)
  }

  private def scoreMap(r: Fora.QueryResult): Map[(Int, Long), Double] =
    r.scores.collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getDouble(2))
      .toMap

  /** The broadcast-path walk phase against the column pipeline: same
    * walks, steps, rsum and ω, the same keys with scores within 1e-12,
    * unit mass per qid, and bitwise-equal scores on a second call. */
  private def checkBlockWalks(g: graft.graph.LinkGraph,
                              sources: Map[Int, Long],
                              p: Fora.Params): (Fora.QueryResult, Column) = {
    val res = Fora.query(g, sources, p)
    val col = column(g, sources, p)
    assert(res.rsum == col.rsum && res.omega == col.omega)
    assert(res.walks == col.walks && res.walkSteps == col.steps,
      s"walks ${res.walks}/${col.walks} steps ${res.walkSteps}/${col.steps}")
    val got = scoreMap(res)
    assert(got.keySet == col.scores.keySet)
    got.foreach { case (k, s) =>
      assert(math.abs(s - col.scores(k)) < 1e-12, s"$k: $s vs ${col.scores(k)}")
    }
    sources.keys.foreach { q =>
      val tot = got.collect { case ((`q`, _), s) => s }.sum
      assert(math.abs(tot - 1.0) < 1e-9, s"q=$q tot=$tot")
    }
    val again = scoreMap(Fora.query(g, sources, p))
    assert(again.keySet == got.keySet)
    got.foreach { case (k, s) =>
      assert(java.lang.Double.doubleToRawLongBits(s) ==
        java.lang.Double.doubleToRawLongBits(again(k)), s"$k not bitwise")
    }
    (res, col)
  }

  test("broadcast-path walk phase equals the indexed query and column walks") {
    val g = graph(edges)
    try {
      val p = Fora.Params(eps = 0.5, seed = 7L)
      val sources = Map(0 -> 0L, 1 -> 7L, 2 -> 13L)
      val (res, _) = checkBlockWalks(g, sources, p)
      val idx = WalkIndex.build(g, p)
      val indexed = scoreMap(Fora.query(g, sources, p, walkIndex = Some(idx)))
      val got = scoreMap(res)
      assert(got.keySet == indexed.keySet)
      got.foreach { case (k, s) =>
        assert(math.abs(s - indexed(k)) < 1e-12, s"$k: $s vs ${indexed(k)}")
      }
      idx.table.unpersist()
    } finally g.unpersistAll()
  }

  test("broadcast-path walk phase splits a hot vertex over chunks and tasks") {
    val g = graph(edges)
    try {
      val p = Fora.Params(eps = 0.5, delta = 3e-8, seed = 11L)
      val (res, col) = checkBlockWalks(g, Map(0 -> 0L, 1 -> 7L, 2 -> 13L), p)
      assert(col.maxWalks > 4096,
        s"max walks per vertex ${col.maxWalks}, omega ${res.omega}")
      assert(Fora.walkTasks(res.omega) > 1, s"omega ${res.omega}")
    } finally g.unpersistAll()
  }

  test("monte-carlo baseline approximates dense oracle") {
    val g = graph(HandGraphs.star5)
    try {
      val mc = Fora.montecarlo(g, Map(0 -> 1L),
        Fora.Params(eps = 0.3, seed = 1L))
      val got = mc.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      val want = DenseOracle.pprFix(5, HandGraphs.star5, 1, 0.2)
      (0 until 5).foreach { v =>
        assert(math.abs(got.getOrElse(v.toLong, 0.0) - want(v)) < 0.05,
          s"v=$v")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    } finally g.unpersistAll()
  }

  test("deterministic top-k matches oracle ranking exactly") {
    val g = graph(edges)
    try {
      val got = Fora.topk(g, 0L, k = 5).collect()
        .map(r => r.getLong(0)).toSeq
      val want = DenseOracle.pprFix(n, edges, 0, 0.2).zipWithIndex
        .map { case (s, v) => (-s, v) }.sorted.take(5).map(_._2.toLong).toSeq
      assert(got == want)
    } finally g.unpersistAll()
  }
}
