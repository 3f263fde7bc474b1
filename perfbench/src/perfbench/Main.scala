package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ckpt.CheckpointStore
import graft.graph.{LinkGraph, VertexUrl}
import graft.ops.{BackwardPush, ConnectedComponents, Fora, ForwardPush, HubPpr,
  LabelPropagation, PageRank, Triangles, WalkIndex}
import graft.sources.SyntheticPages
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run in a fresh JVM: build the workload's graph
  * `SetupReps` times (set-up), with the untimed warm-up after the first
  * and after the last build, then run the workload's operation in a closed
  * loop with one client for `seconds` on the last build's graph, then
  * check every result.
  * Writes one JSON record to `--out`; `perfbench/run.py` turns it into
  * metrics.
  *
  * Only public engine entry points are called, so the engine's internals
  * can change without touching this file. Plans are whatever the engine
  * picks for the input size.
  *
  * Usage: Main --workload ppr_query|graph_batch --seed N
  *   --seconds S --trace 0|1 --cores C --cache DIR --work DIR --out FILE
  */
object Main {
  /** Synthetic pages per graph: 10,000 vertices, about 177,000 edges. */
  val Pages = 10000L
  /** Minimum CSR block count requested at ingest. */
  val Parts = 8
  /** Graph builds per run. The first runs in a cold JVM and is followed by
    * a warm-up, so the others run in a warmer one; `setup_s` is the median
    * of the others, `mem_mb` what the first added to the empty block
    * manager (perfbench/summary.py). */
  val SetupReps = 4
  val Alpha = 0.2
  val Eps = 0.5
  val BatchSize = 16
  /** Generator seed of the pages. The graph is the same for every run, so
    * runs with different seeds measure the same graph: at 10,000 pages the
    * generator's hub count, and with it the edge count, varies by ±10%
    * between generator seeds. The run seed draws the sources and seeds the
    * walks. */
  val PagesSeed = 42L
  val DurableSources = 4
  /** The durable push runs this many supersteps of the FORA-threshold push
    * (a full run to convergence takes about 40 at these graph sizes). */
  val DurableSupersteps = 4
  val DurablePageRankIterations = 2
  val DurablePageRankCommitEvery = 2
  /** HubPPR index over the top out-degree vertices, built at a coarse
    * rmax; the query from the first hub refines to `HubTol`. */
  val Hubs = 4
  val HubRmaxCoarse = 1e-6
  val HubTol = 1e-3
  val BackwardRmax = 1e-5

  final class Ctx(val spark: SparkSession, val tr: Tracer,
                  val args: Map[String, String]) {
    val seed: Long = args("seed").toLong
    val work: Path = Paths.get(args("work"))
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def fail(what: String): Unit = failures += what
    def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = args("cores").toInt
    val work = Paths.get(args("work"))
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext, args("trace") == "1",
      s"${args("workload")}-${args("seed")}-${System.currentTimeMillis()}")
    val c = new Ctx(spark, tr, args)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> args("workload"), "seed" -> c.seed, "run_id" -> tr.runId,
      "spark_version" -> spark.version, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20))
    try {
      val (pagesPath, pagesS) = tr.timed("pages") { ensurePages(c, args("cache")) }
      out("pages_s") = pagesS
      val workload = args("workload") match {
        case "ppr_query" => new PprQuery(c)
        case "graph_batch" => new GraphBatch(c)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      // the second warm-up runs on the operations' graph, so that they do
      // not pay its first-use costs
      val first = setupOnce(c, workload, pagesPath)
      val warm1 = tr.timed("warmup") { workload.warmup() }._2
      out("setup") = first +: (2 to SetupReps)
        .map(_ => setupOnce(c, workload, pagesPath))
      out("warmup_s") = warm1 + tr.timed("warmup") { workload.warmup() }._2
      val deadline = System.nanoTime() + (args("seconds").toDouble * 1e9).toLong
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      tr.span("timed") {
        while (ops.isEmpty || System.nanoTime() < deadline) {
          c.attempted += 1
          ops += (try workload.op(ops.size) catch { case e: Exception =>
            c.fail(s"op ${ops.size} threw ${e.getClass.getName}: ${e.getMessage}")
            Map("failed" -> true)
          })
        }
      }
      out("ops") = ops
      workload.checkAll()
      out("oracle") = workload.oracle
      out("storage_end_mb") = storageUsedMb(spark)
    } catch { case e: Throwable =>
      c.fail(s"run aborted: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    } finally {
      out("attempted") = c.attempted
      out("failures") = c.failures
      if (tr.enabled) {
        tr.drain()
        val attributed = tr.sparkBySpan()
        out("spans") = tr.spans.map { s =>
          val t = attributed.get(s.id)
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "run_id" -> tr.runId, "start_ms" -> tr.epochMs(s.startNs),
            "end_ms" -> tr.epochMs(s.endNs),
            "spark" -> t.map(x => Map("jobs" -> x.jobs, "tasks" -> x.tasks,
              "busy_s" -> x.busyS, "gc_s" -> x.gcS,
              "fetch_wait_s" -> x.fetchWaitS,
              "shuffle_write_mb" -> x.shuffleWriteMb,
              "shuffle_read_mb" -> x.shuffleReadMb, "spill_mb" -> x.spillMb,
              "stage_intervals_ms" -> x.stageIntervalsMs.map(p =>
                Seq(p._1, p._2)))).orNull)
        }
      }
      Files.writeString(Paths.get(args("out")),
        new ObjectMapper().registerModule(DefaultScalaModule)
          .writeValueAsString(out))
      spark.stop()
    }
  }

  /** The generated pages, written once to the cache and read back by every
    * run. Generation is not part of set-up. */
  def ensurePages(c: Ctx, cacheDir: String): String = {
    val dir = Paths.get(cacheDir, s"pages-n$Pages-s$PagesSeed")
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val tmp = Paths.get(cacheDir, s"tmp-${dir.getFileName}-${ProcessHandle.current().pid()}")
      SyntheticPages.generate(c.spark, Pages, PagesSeed, Parts)
        .write.mode("overwrite").parquet(tmp.toString)
      deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6

  /** One set-up repetition: ingest, table materialization, the broadcast
    * CSR and the artifact writes, timed as a whole and per phase. The
    * operations run on the last repetition's graph. */
  def setupOnce(c: Ctx, w: Workload, pagesPath: String): Map[String, Any] = {
    val base = storageUsedMb(c.spark)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val dir = c.work.resolve(s"graph-${System.nanoTime()}")
    val (_, total) = c.tr.timed("setup") {
      val ((g, dict), ingest) = c.tr.timed("setup.ingest") {
        LinkGraph.fromPagesHashVids(c.spark,
          c.spark.read.parquet(pagesPath), Parts, dir.toString,
          onPhase = (k, s) => phases(k) = s)
      }
      phases("ingest") = ingest
      phases("tables") = c.tr.timed("setup.tables") {
        g.numEdges; g.numVertices; g.vidBounds; w.tables(g)
      }._2
      phases("flatcsr") = c.tr.timed("setup.flatcsr") { g.flatCsr }._2
      // the graph build writes its durable parquet artifacts in the
      // background; the build is complete once they are on disk
      phases("artifacts") = c.tr.timed("setup.artifacts") {
        g.awaitArtifacts() }._2
      phases("mem_mb") = storageUsedMb(c.spark) - base
      phases("vertex_count") = g.numVertices.toDouble
      phases("edge_count") = g.numEdges.toDouble
      w.adopt(g, dict)
    }
    // earlier builds stay cached until the session stops: releasing a
    // graph (LinkGraph.unpersistAll) first builds every table it has not
    // built yet
    Map("total_s" -> total, "phases" -> phases.toMap)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** `n` page indices per batch, distinct within a batch, drawn from the
    * run seed; `stream` separates warm-up draws from timed draws. */
  def sampleBatches(c: Ctx, stream: Long, batches: Int, n: Int): Seq[Seq[Long]] = {
    val rng = new java.util.SplittableRandom(c.seed * 1000003L + stream)
    Seq.fill(batches) {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < n) s += rng.nextLong(Pages)
      s.toSeq
    }
  }

  /** Map page indices to the graph's vertex ids through its dictionary. */
  def vidsOf(c: Ctx, dict: Dataset[VertexUrl], idx: Seq[Long]): Map[Long, Long] = {
    val byUrl = idx.map(i => SyntheticPages.urlOf(i, Pages, PagesSeed) -> i).toMap
    val found = dict.where(col("url").isin(byUrl.keys.toSeq: _*)).collect()
      .map(v => byUrl(v.url) -> v.vid).toMap
    require(found.size == byUrl.size,
      s"${byUrl.size - found.size} sampled pages missing from the dictionary")
    found
  }

  def asDouble(r: Row, i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)

  /** Order-independent bitwise checksum of a frame's rows. */
  def checksum(df: DataFrame): Column =
    bit_xor(xxhash64(df.columns.map(col): _*))

  trait Workload {
    protected var graph: LinkGraph = _
    protected var dict: Dataset[VertexUrl] = _
    var oracle: Map[String, Long] = Map.empty
    /** Tables the operations read beyond edges, vertices and the broadcast
      * CSR, forced during set-up. */
    def tables(g: LinkGraph): Unit = ()
    /** Keep the graph the operations run on. */
    def adopt(g: LinkGraph, d: Dataset[VertexUrl]): Unit = {
      graph = g; dict = d
    }
    /** Untimed, after the first and after the last build: draw the
      * operations' sources, and warm up where the run budget allows. */
    def warmup(): Unit
    def op(k: Int): Map[String, Any]
    def checkAll(): Unit
  }

  /** FORA single-source PPR, 16 sources per `Fora.query` call. */
  final class PprQuery(c: Ctx) extends Workload {
    import c.spark.implicits._
    val params = Fora.Params(alpha = Alpha, eps = Eps, delta = 3e-4,
      pfail = 1e-3, seed = c.seed)
    /** Distinct source batches per run; the closed loop cycles through
      * them. */
    val maxBatches = 64
    /** Untimed batches per warm-up: a run's first batch still compiles
      * code and takes up to twice as long as later ones, and the first
      * batch on a graph pays its first-use costs. */
    val warmBatches = 1
    private var sources: IndexedSeq[Map[Int, Long]] = IndexedSeq.empty
    private val results = mutable.ArrayBuffer.empty[Array[Row]]

    def warmup(): Unit = {
      val batches = sampleBatches(c, 2L, maxBatches + warmBatches, BatchSize)
      val vids = vidsOf(c, dict, batches.flatten.distinct)
      sources = batches.map(b => b.indices.map(q => q -> vids(b(q))).toMap)
        .toIndexedSeq
      (maxBatches until maxBatches + warmBatches)
        .foreach(i => force(Fora.query(graph, sources(i), params)))
    }

    private def force(r: Fora.QueryResult): Array[Row] =
      r.scores.groupBy($"qid").agg(sum($"score"), min($"score"),
        sum(when(!($"score" >= -Double.MaxValue && $"score" <= Double.MaxValue),
          1).otherwise(0)), count(lit(1)), checksum(r.scores))
        .orderBy($"qid").collect()

    def op(k: Int): Map[String, Any] = {
      val ((r, rows), wall) = c.tr.timed("ppr.batch") {
        val r = Fora.query(graph, sources(k % maxBatches), params)
        (r, force(r))
      }
      results += rows
      Map("wall_s" -> wall, "sources" -> BatchSize, "push_s" -> r.tPushSec,
        "walk_s" -> r.tWalkSec, "supersteps" -> r.pushSupersteps,
        "pushes" -> r.pushes, "walks" -> r.walks, "walk_steps" -> r.walkSteps,
        "rsum" -> r.rsum, "rmax" -> r.rmax, "omega" -> r.omega,
        "epoch_s" -> r.pushEpochSecs, "tail_s" -> r.pushTailSec,
        "checksum" -> rows.map(_.getLong(5)).foldLeft(0L)(_ ^ _))
    }

    def checkAll(): Unit = results.zipWithIndex.foreach { case (rows, k) =>
      c.check(rows.length == BatchSize,
        s"batch $k: ${rows.length} of $BatchSize qids have scores")
      rows.foreach { r =>
        val q = r.getInt(0)
        c.check(math.abs(asDouble(r, 1) - 1.0) <= 1e-6,
          s"batch $k qid $q: score sum ${asDouble(r, 1)} != 1 within 1e-6")
        c.check(asDouble(r, 2) >= 0.0, s"batch $k qid $q: negative score")
        c.check(r.getLong(3) == 0L, s"batch $k qid $q: non-finite scores")
      }
    }
  }

  /** The batch side of the engine, one pass per operation: PageRank,
    * connected components, label propagation and triangle count, each
    * forced by an action; then a checkpointed forward push, a resume of it
    * from its middle committed superstep, and a checkpointed PageRank;
    * then the precomputed indexes: a HubPPR index and a query from a hub,
    * a backward push, and a FORA+ walk index with one indexed query. */
  final class GraphBatch(c: Ctx) extends Workload {
    import c.spark.implicits._
    private val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val stores = mutable.ArrayBuffer.empty[(CheckpointStore, CheckpointStore)]
    private var lastComponents: DataFrame = _
    private var sources: Map[Int, Long] = Map.empty
    private var hubs: Seq[Long] = Seq.empty
    private var rmax = 0.0
    private val ckRoot = c.work.resolve("ckpt")
    private val foraParams = Fora.Params(alpha = Alpha, eps = Eps,
      delta = 3e-4, pfail = 1e-3, seed = c.seed)

    override def tables(g: LinkGraph): Unit = {
      g.outDegrees.count(); g.undirectedEdges.count()
    }

    /** No warm-up pass: a pass is too long to repeat in the run budget, so
      * the first timed pass runs cold. */
    def warmup(): Unit = {
      val idx = sampleBatches(c, 3L, 1, DurableSources).head
      val vids = vidsOf(c, dict, idx)
      sources = idx.indices.map(q => q -> vids(idx(q))).toMap
      rmax = Fora.rmaxOf(Fora.Params(alpha = Alpha, eps = Eps), graph.numEdges,
        1e-3, 1e-3)
      hubs = HubPpr.pickHubs(graph, Hubs)
    }

    def op(k: Int): Map[String, Any] = {
      val a = analytics()
      val (d, stored) = durable(k)
      val x = indexes(k)
      val m = a ++ d ++ x + ("wall_s" -> Seq(a("analytics_s"), d("durable_s"),
        x("index_s")).map(_.asInstanceOf[Double]).sum)
      results += m
      stores += stored
      m
    }

    private def analytics(): Map[String, Any] = {
      val ((pr, prRow), prS) = c.tr.timed("analytics.pagerank") {
        val r = PageRank.run(graph, damping = 0.85, tol = 0.0, maxIter = 20)
        (r, r.ranks.agg(sum($"rank"), checksum(r.ranks)).head())
      }
      val ((cc, ccRow), ccS) = c.tr.timed("analytics.cc") {
        val r = ConnectedComponents.run(graph)
        (r, r.components.agg(countDistinct($"component"),
          checksum(r.components)).head())
      }
      val (lpaRow, lpaS) = c.tr.timed("analytics.lpa") {
        val l = LabelPropagation.run(graph, rounds = 10)
        l.agg(countDistinct($"label"), checksum(l)).head()
      }
      val (tri, triS) = c.tr.timed("analytics.triangles") {
        Triangles.count(graph)
      }
      lastComponents = cc.components
      Map("analytics_s" -> (prS + ccS + lpaS + triS), "pagerank_s" -> prS,
        "cc_s" -> ccS, "lpa_s" -> lpaS, "triangles_s" -> triS,
        "pagerank_iterations" -> pr.iterations,
        "rank_sum" -> asDouble(prRow, 0), "cc_rounds" -> cc.rounds,
        "components" -> ccRow.getLong(0), "labels" -> lpaRow.getLong(0),
        "triangles" -> tri,
        "checksum" -> (prRow.getLong(1) ^ ccRow.getLong(1) ^ lpaRow.getLong(1)))
    }

    /** Rows, Σ residue, checksum, Σ reserve, min reserve, max residue. */
    private def stateSummary(df: DataFrame): Row =
      df.agg(count(lit(1)), sum($"residue"), checksum(df), sum($"reserve"),
        min($"reserve"), max($"residue")).head()

    private def bytesUnder(p: Path): Long = if (!Files.exists(p)) 0L else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

    private def durable(k: Int)
        : (Map[String, Any], (CheckpointStore, CheckpointStore)) = {
      val storeA = new CheckpointStore(c.spark, ckRoot.toString, s"push$k")
      val ((full, fullRow), pushS) = c.tr.timed("durable.push") {
        val r = ForwardPush.run(graph, sources, Alpha, rmax, Some(storeA),
          maxSupersteps = DurableSupersteps)
        (r, stateSummary(r.state))
      }
      // the interrupted run: a second store holding only the manifests up
      // to the middle committed superstep and that superstep's state
      val last = storeA.latestSuperstep().getOrElse(-1)
      val mid = last / 2
      val storeB = new CheckpointStore(c.spark, ckRoot.toString, s"resume$k")
      val manA = ckRoot.resolve(s"push$k").resolve("_manifests")
      val manB = ckRoot.resolve(s"resume$k").resolve("_manifests")
      Files.createDirectories(manB)
      (0 to mid).map(s => s"v$s.json").filter(f => Files.exists(manA.resolve(f)))
        .foreach(f => Files.copy(manA.resolve(f), manB.resolve(f)))
      copyTree(Paths.get(storeA.stateDir(mid)), Paths.get(storeB.stateDir(mid)))
      val ((resumed, resRow), resumeS) = c.tr.timed("durable.resume") {
        val r = ForwardPush.run(graph, sources, Alpha, rmax, Some(storeB),
          resume = true, maxSupersteps = DurableSupersteps)
        (r, stateSummary(r.state))
      }
      val storeC = new CheckpointStore(c.spark, ckRoot.toString, s"pagerank$k")
      val (prRow, prS) = c.tr.timed("durable.pagerank") {
        val r = PageRank.run(graph, damping = 0.85, tol = 0.0,
          maxIter = DurablePageRankIterations,
          checkEvery = DurablePageRankCommitEvery, ckpt = Some(storeC))
        r.ranks.agg(sum($"rank")).head()
      }
      (Map("durable_s" -> (pushS + resumeS + prS), "push_s" -> pushS,
        "resume_s" -> resumeS, "ckpt_pagerank_s" -> prS,
        "supersteps" -> full.supersteps, "pushes" -> full.pushes,
        "rsum" -> full.rsum, "last_committed" -> last, "resumed_from" -> mid,
        "resume_supersteps" -> (last - mid),
        "commits" -> Files.list(manA).count(),
        "bytes" -> bytesUnder(ckRoot.resolve(s"push$k")),
        "ckpt_rank_sum" -> asDouble(prRow, 0),
        "push_checksum" -> fullRow.getLong(2),
        "resume_checksum" -> resRow.getLong(2)), (storeA, storeB))
    }

    private def indexes(k: Int): Map[String, Any] = {
      val (hubIdx, hubBuildS) = c.tr.timed("index.hubppr_build") {
        HubPpr.build(graph, hubs, Alpha, rmaxCoarse = HubRmaxCoarse)
      }
      val ((hub, hubRow), hubQueryS) = c.tr.timed("index.hubppr_query") {
        val r = HubPpr.query(graph, hubIdx, hubs.head, tol = HubTol)
        (r, stateSummary(r.state))
      }
      hubIdx.table.unpersist()
      val target = hubs.head
      val ((back, backRow, backAtTarget), backS) = c.tr.timed("index.backward") {
        val r = BackwardPush.run(graph, Map(0 -> target), Alpha, BackwardRmax)
        (r, stateSummary(r.state),
          r.state.where($"vid" === target).agg(sum($"reserve")).head())
      }
      val (walkIdx, walkBuildS) = c.tr.timed("index.walkindex_build") {
        WalkIndex.build(graph, foraParams,
          storageDir = Some(c.work.resolve(s"walkindex$k").toString))
      }
      val ((fq, fqRows), fqS) = c.tr.timed("index.fora_indexed") {
        val r = Fora.query(graph, sources, foraParams, walkIndex = Some(walkIdx))
        (r, r.scores.groupBy($"qid").agg(sum($"score"), min($"score"),
          sum(when(!($"score" >= -Double.MaxValue && $"score" <= Double.MaxValue),
            1).otherwise(0))).collect())
      }
      walkIdx.table.unpersist()
      Map("index_s" -> (hubBuildS + hubQueryS + backS + walkBuildS + fqS),
        "hubppr_build_s" -> hubBuildS, "hubppr_query_s" -> hubQueryS,
        "hubppr_pushes" -> hub.pushes,
        "hubppr_mass" -> (asDouble(hubRow, 3) + hub.rsum),
        "hubppr_min_reserve" -> asDouble(hubRow, 4),
        "hubppr_checksum" -> hubRow.getLong(2),
        "backward_s" -> backS, "backward_pushes" -> back.pushes,
        "backward_supersteps" -> back.supersteps,
        "backward_target_reserve" -> asDouble(backAtTarget, 0),
        "backward_min_reserve" -> asDouble(backRow, 4),
        "backward_max_residue" -> asDouble(backRow, 5),
        "backward_checksum" -> backRow.getLong(2),
        "walkindex_build_s" -> walkBuildS, "indexed_query_s" -> fqS,
        "indexed_walks" -> fq.walks,
        "indexed_qids" -> fqRows.length,
        "indexed_score_sums" -> fqRows.map(asDouble(_, 1)).toSeq,
        "indexed_min_score" -> fqRows.map(asDouble(_, 2)).foldLeft(0.0)(math.min),
        "indexed_nonfinite" -> fqRows.map(_.getLong(3)).sum)
    }

    private def copyTree(from: Path, to: Path): Unit = {
      val s = Files.walk(from)
      try s.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      } finally s.close()
    }

    private def sortedState(df: DataFrame): Array[(Int, Long, Long, Long)] =
      df.select($"qid", $"vid", $"reserve", $"residue")
        .as[(Int, Long, Double, Double)].collect()
        .map { case (q, v, a, b) => (q, v,
          java.lang.Double.doubleToRawLongBits(a),
          java.lang.Double.doubleToRawLongBits(b)) }
        .sorted

    def checkAll(): Unit = {
      val o = Oracle(Pages, PagesSeed)
      oracle = Map("edges" -> o.edges, "vertices" -> o.vertices,
        "components" -> o.components, "triangles" -> o.triangles)
      c.check(graph.numEdges == o.edges,
        s"graph has ${graph.numEdges} edges, generator ${o.edges}")
      c.check(graph.numVertices == o.vertices,
        s"graph has ${graph.numVertices} vertices, generator ${o.vertices}")
      results.zipWithIndex.foreach { case (m, k) =>
        for (key <- Seq("rank_sum", "ckpt_rank_sum")) {
          val rs = m(key).asInstanceOf[Double]
          c.check(math.abs(rs - 1.0) <= 1e-6, s"pass $k: $key $rs != 1")
        }
        c.check(m("components") == o.components,
          s"pass $k: ${m("components")} components, oracle ${o.components}")
        c.check(m("triangles") == o.triangles,
          s"pass $k: ${m("triangles")} triangles, oracle ${o.triangles}")
        val mass = m("hubppr_mass").asInstanceOf[Double]
        c.check(math.abs(mass - 1.0) <= 1e-6,
          s"pass $k: HubPPR reserve + residue mass $mass != 1 within 1e-6")
        c.check(m("hubppr_min_reserve").asInstanceOf[Double] >= 0.0,
          s"pass $k: HubPPR negative reserve")
        c.check(m("backward_target_reserve").asInstanceOf[Double] >= Alpha,
          s"pass $k: backward reserve at the target below alpha")
        c.check(m("backward_min_reserve").asInstanceOf[Double] >= 0.0,
          s"pass $k: backward push negative reserve")
        c.check(m("backward_max_residue").asInstanceOf[Double] <= BackwardRmax,
          s"pass $k: backward push stopped with a residue above rmax")
        c.check(m("indexed_qids") == sources.size,
          s"pass $k: ${m("indexed_qids")} of ${sources.size} indexed qids have scores")
        m("indexed_score_sums").asInstanceOf[Seq[Double]].foreach { t =>
          c.check(math.abs(t - 1.0) <= 1e-6,
            s"pass $k: indexed FORA score sum $t != 1 within 1e-6")
        }
        c.check(m("indexed_min_score").asInstanceOf[Double] >= 0.0,
          s"pass $k: indexed FORA negative score")
        c.check(m("indexed_nonfinite") == 0L,
          s"pass $k: indexed FORA non-finite scores")
      }
      stores.zipWithIndex.foreach { case ((a, b), k) =>
        val la = a.latestSuperstep(); val lb = b.latestSuperstep()
        c.check(la.isDefined && la == lb,
          s"pass $k: resumed run committed up to $lb, uninterrupted $la")
        if (la.isDefined && la == lb)
          c.check(sortedState(a.loadState(la.get))
            .sameElements(sortedState(b.loadState(lb.get))),
            s"pass $k: resumed push state is not bitwise-equal")
      }
      if (lastComponents != null) {
        val comp = lastComponents.select($"vid", $"component")
        val crossing = graph.undirectedEdges.toDF()
          .join(comp.toDF("src", "cs"), "src")
          .join(comp.toDF("dst", "cd"), "dst")
          .where($"cs" =!= $"cd").count()
        c.check(crossing == 0L, s"$crossing edges cross components")
      }
    }
  }
}
