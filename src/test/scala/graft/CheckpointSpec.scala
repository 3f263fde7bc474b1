package graft

import java.nio.file.Files
import graft.ckpt.CheckpointStore
import graft.ops.ForwardPush
import graft.graph.PartMetrics

class CheckpointSpec extends SparkSpec {
  import TestGraphs._

  test("manifest commit is atomic and readable back") {
    val root = Files.createTempDirectory("ckpt-test-").toString
    val store = new CheckpointStore(spark, root, "run1")
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, 0.5), (2L, 0.25)).toDF("vid", "reserve")
    val back = store.commit(0, df, Map("rsum" -> 0.75),
      Seq(PartMetrics(0, 2, 5, 0, 0.75)), Map("alpha" -> "0.2"))
    assert(back.count() == 2)
    assert(store.latestSuperstep().contains(0))
    assert(store.scalar(0, "rsum").contains(0.75))
    assert(store.params(0) == Map("alpha" -> "0.2", "phase" -> "push"))
    val t = store.manifestText(0)
    assert(t.contains(""""pushes":5"""))
  }

  test("walk-phase commits live in their own namespace (ADVICE r2)") {
    val root = Files.createTempDirectory("ckpt-phase-").toString
    val store = new CheckpointStore(spark, root, "run1")
    val sp = spark
    import sp.implicits._
    val push = Seq((1L, 0.5, 0.1)).toDF("vid", "reserve", "residue")
    store.commit(3, push, Map("rsum" -> 0.1), Nil, Map.empty)
    // a Fora walk commit at a HIGHER superstep index, different schema
    val scores = Seq((0, 1L, 0.42)).toDF("qid", "vid", "score")
    store.commit(4, scores, Map("omega" -> 10.0), Nil, Map.empty,
      phase = "walk")
    // the push resume chain must not see the walk commit
    assert(store.latestSuperstep().contains(3))
    assert(store.latestSuperstep("walk").contains(4))
    assert(store.loadState(3).columns.toSeq ==
      Seq("vid", "reserve", "residue"))
    assert(store.loadState(4, "walk").columns.toSeq ==
      Seq("qid", "vid", "score"))
    assert(store.scalar(4, "omega", "walk").contains(10.0))
    assert(store.params(4, "walk") == Map("phase" -> "walk"))
  }

  test("resume after interruption equals uninterrupted run (bitwise)") {
    val g = graph(HandGraphs.complete6 ++ HandGraphs.chain4.map {
      case (a, b) => (a + 6, b + 6) } ++ Seq((5, 6)))
    try {
      def collectState(r: ForwardPush.Result) =
        r.state.orderBy("qid", "vid").collect()
          .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
          .toSeq
      def partitionsListed(store: CheckpointStore, k: Int) =
        store.manifestText(k).contains(""""partitions":[{""")

      // with a store, ForwardPush.run takes the pinned-CSR join path with
      // one committed superstep per epoch; the reference is that same
      // checkpointed run left uninterrupted
      val rmax = 1e-5 / (g.numEdges + g.numVertices)
      val root = Files.createTempDirectory("ckpt-ppr-").toString
      val store = new CheckpointStore(spark, root, "ppr")
      val full = ForwardPush.run(g, Map(0 -> 0L), 0.2, rmax,
        ckpt = Some(store))
      val fullRows = collectState(full)
      assert(store.latestSuperstep().contains(full.supersteps - 1))
      assert(partitionsListed(store, 2))
      assert(partitionsListed(store, full.supersteps - 1))
      // simulate a crash at superstep 2 by dropping later manifests
      val mdir = java.nio.file.Paths.get(root, "ppr", "_manifests")
      Files.list(mdir).iterator().forEachRemaining { p =>
        val v = p.getFileName.toString.stripPrefix("v").stripSuffix(".json")
        if (v.toInt > 2) Files.delete(p)
      }
      val cut = new CheckpointStore(spark, root, "ppr")
      assert(cut.latestSuperstep().contains(2))
      val resumed = ForwardPush.run(g, Map(0 -> 0L), 0.2, rmax,
        ckpt = Some(cut), resume = true)

      assert(collectState(resumed) == fullRows)
      assert(resumed.supersteps == full.supersteps)
      assert(resumed.pushes == full.pushes)
      assert(partitionsListed(cut, full.supersteps - 1))
      // resuming from the final (fixpoint) commit has nothing left to push
      val again = ForwardPush.run(g, Map(0 -> 0L), 0.2, rmax,
        ckpt = Some(cut), resume = true)
      assert(collectState(again) == fullRows)
      assert(again.supersteps == full.supersteps)
      assert(again.pushes == full.pushes)
      // the chained, uncheckpointed join path reaches the same state
      assert(collectState(ForwardPush.runJoin(g, Map(0 -> 0L), 0.2, rmax)) ==
        fullRows)
    } finally g.unpersistAll()
  }
}
