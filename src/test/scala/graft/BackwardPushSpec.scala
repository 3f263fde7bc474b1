package graft

import graft.ops._

class BackwardPushSpec extends SparkSpec {
  import TestGraphs._

  val edges: Seq[(Int, Int)] =
    HandGraphs.triangle3 ++ Seq((0, 3), (3, 1), (1, 4)) // 4 dangling
  val n = 5

  test("backward push reserves estimate pi(.,t) within rmax per pair") {
    val g = graph(edges)
    try {
      val rmax = 1e-6
      val t = 1L
      val res = BackwardPush.run(g, Map(0 -> t), 0.2, rmax)
      val got = scores(res.state.select(org.apache.spark.sql.functions.col("vid"),
        org.apache.spark.sql.functions.col("reserve")), "vid", "reserve")
      (0 until n).foreach { v =>
        val want = DenseOracle.pprFix(n, edges, v, 0.2)(t.toInt)
        val have = got.getOrElse(v.toLong, 0.0)
        assert(math.abs(want - have) <= rmax + 1e-12,
          s"v=$v want=$want have=$have")
      }
    } finally g.unpersistAll()
  }

  test("backward fast (broadcast) and pinned-CSR join paths agree within rsum") {
    // mirror of the forward PushPathEquivalenceSpec: the two paths route
    // state by different partition functions (murmur3 vs xxhash64), so
    // they push in different orders and leftover residue lands
    // differently, but reserves must agree within the two rsum bounds
    val g = graph(equivBackward)
    try {
      val rmax = 1e-7
      val fast = BackwardPush.runFast(g, Map(0 -> 1L, 1 -> 5L), 0.2, rmax)
      val join = BackwardPush.runJoin(g, Map(0 -> 1L, 1 -> 5L), 0.2, rmax)
      def rows(r: ForwardPush.Result) =
        r.state.orderBy("qid", "vid").collect()
          .map(x => ((x.getInt(0), x.getLong(1)), x.getDouble(2))).toMap
      val (fr, jr) = (rows(fast), rows(join))
      val bound = fast.rsum + join.rsum + 1e-12
      (fr.keySet ++ jr.keySet).foreach { k =>
        assert(math.abs(fr.getOrElse(k, 0.0) - jr.getOrElse(k, 0.0)) <= bound,
          s"$k fast=${fr.getOrElse(k, 0.0)} join=${jr.getOrElse(k, 0.0)}")
      }
    } finally g.unpersistAll()
  }

  test("backward push handles dangling target (absorb self-loop)") {
    val g = graph(edges)
    try {
      val res = BackwardPush.run(g, Map(0 -> 4L), 0.2, 1e-7)
      val got = scores(res.state.select(org.apache.spark.sql.functions.col("vid"),
        org.apache.spark.sql.functions.col("reserve")), "vid", "reserve")
      (0 until n).foreach { v =>
        val want = DenseOracle.pprFix(n, edges, v, 0.2)(4)
        assert(math.abs(want - got.getOrElse(v.toLong, 0.0)) <= 1e-6, s"v=$v")
      }
    } finally g.unpersistAll()
  }

  test("biPPR pair estimate close to dense oracle") {
    val g = graph(edges)
    try {
      val want = DenseOracle.pprFix(n, edges, 0, 0.2)(1)
      val got = BackwardPush.biPprPair(g, 0L, 1L, rmaxB = 1e-3,
        omega = 20000)
      assert(math.abs(got - want) < 0.02, s"got=$got want=$want")
    } finally g.unpersistAll()
  }
}

class MultimodalSpec extends SparkSpec {
  import graft.media.Multimodal

  test("synthetic media table has the pinned schema and is deterministic") {
    val m1 = Multimodal.synthetic(spark, 50).collect().sortBy(_.media_id)
    val m2 = Multimodal.synthetic(spark, 50).collect().sortBy(_.media_id)
    assert(m1.map(_.kind).toSeq == m2.map(_.kind).toSeq)
    assert(m1.map(_.payload.toSeq) sameElements m2.map(_.payload.toSeq))
    assert(m1.forall(r => r.payload.length >= 256))
  }

  test("feature extraction is partition-count independent") {
    val media = Multimodal.synthetic(spark, 40)
    def feats(parts: Int) =
      Multimodal.extractFeatures(media.repartition(parts), dim = 16)
        .collect().sortBy(_.media_id).map(_.features.toSeq).toSeq
    assert(feats(2) == feats(8))
    assert(feats(2).head.length == 16)
  }

  test("frame sampling + meta stats") {
    val media = Multimodal.synthetic(spark, 60)
    val frames = Multimodal.sampleFrames(media.toDF(), stride = 10).collect()
    assert(frames.nonEmpty)
    frames.foreach { r =>
      val ids = r.getSeq[Int](1)
      assert(ids.head == 0 && ids.forall(_ % 10 == 0))
    }
    val stats = Multimodal.metaStats(media.toDF()).collect()
    assert(stats.map(_.getLong(1)).sum == 60)
  }
}
