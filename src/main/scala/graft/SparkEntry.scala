package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import graft.graph.LinkGraph
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Graph operators run over a deterministic edge table derived in pure SQL
  * from lineitem (FIXTURES.md §4), identical in Spark and the DuckDB
  * oracle; text/dedup operators run over the documents table.
  */
object SparkEntry {

  /** Flagship: full ingest pipeline — synthetic Common-Crawl-style pages →
    * link extraction → dense vids → edge table → deterministic PPR (forward
    * push) + PageRank — reported per url. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = graft.sources.SyntheticPages.generate(spark, 400L, seed = 42L)
    val (g, dict) = LinkGraph.fromPages(spark, pages.toDF(), numParts = 8)
    val ppr = ForwardPush.deterministicPpr(g, Map(0 -> 0L), alpha = 0.2,
      tol = 1e-7)
    val pr = PageRank.run(g, damping = 0.85, tol = 1e-9).ranks
    ppr.state.select($"vid", $"reserve".as("ppr"))
      .join(pr, Seq("vid"))
      .join(dict.toDF(), Seq("vid"))
      .select($"url", $"vid", round($"ppr", 8).as("ppr"),
        round($"rank", 8).as("pagerank"))
      .orderBy(desc("pagerank"), asc("vid"))
      .limit(50)
  }

  // --- shared derived inputs ------------------------------------------------

  /** Deterministic arithmetic edge table — identical SQL in DuckDB oracle. */
  def derivedEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.select((col("l_partkey") % 1000).as("src"),
        (col("l_suppkey") % 1000).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** SQL text of the derived edge table, shared by every graph oracle. */
  val edgesSql: String =
    """SELECT DISTINCT l_partkey % 1000 AS src, l_suppkey % 1000 AS dst
      |FROM lineitem WHERE l_partkey % 1000 <> l_suppkey % 1000""".stripMargin

  private val graphCache = TrieMap.empty[String, LinkGraph]
  def derivedGraph(spark: SparkSession, sfDir: String): LinkGraph =
    graphCache.getOrElseUpdate(sfDir, {
      val g = LinkGraph.fromEdges(spark, derivedEdges(spark, sfDir),
        numParts = 16)
      // prefetch the SIBLING derived input on a second thread: every
      // driver surface that builds the dense graph also needs the
      // sparse one (bench build block, verify's g_tri_wedge), and the
      // two ingests are independent — overlapping them back-fills the
      // scheduler gaps of the dense build's serial table chain
      // (guide §2.6). Same-keyed getOrElseUpdate returns this same
      // in-flight instance to the eventual caller.
      import scala.concurrent.ExecutionContext.Implicits.global
      scala.concurrent.Future {
        try { val sg = sparseGraph(spark, sfDir); sg.numEdges; () }
        catch { case _: Throwable => () } // caller rebuilds on demand
      }
      g
    })

  // g_tri_count and g_tri_pervertex share one triangle scan per sfDir.
  // The cached artifact is the per-vertex table (1 row/vertex), not the
  // triangle enumeration: the derived graph is DENSE (1000 vids, ~450k
  // edges at sf0.1 ⇒ ~50M triangles), so Triangles routes to its bitset
  // path and the count is Σ per-vertex / 3 — enumeration would
  // materialize 50M rows to answer two aggregate-shaped queries.
  private val triCache = TrieMap.empty[String, DataFrame]
  private def triangleTable(spark: SparkSession, sfDir: String): DataFrame =
    triCache.getOrElseUpdate(sfDir,
      Triangles.perVertex(derivedGraph(spark, sfDir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // g_ppr and b_bippr both need the SAME source-1 push at tol=1e-9;
  // memoize it per sfDir (the triCache pattern — VERDICT r2 #5: b_bippr
  // was recomputing a 13.9s push g_ppr had already paid for)
  private val pprCache = TrieMap.empty[String, ForwardPush.Result]
  private def sourceOnePush(spark: SparkSession, sfDir: String)
      : ForwardPush.Result =
    pprCache.getOrElseUpdate(sfDir,
      ForwardPush.deterministicPpr(derivedGraph(spark, sfDir),
        Map(0 -> 1L), alpha = 0.2, tol = 1e-9))

  // exact multi-source PPR (sources 1,2,3 at tol 1e-9) backing the ε-δ
  // guarantee checks of the randomized operators (g_fora_err)
  private val ppr3Cache = TrieMap.empty[String, ForwardPush.Result]
  private def threeSourcePush(spark: SparkSession, sfDir: String)
      : ForwardPush.Result =
    ppr3Cache.getOrElseUpdate(sfDir,
      // qidShard: the three sources' cascades run in parallel tasks with
      // per-source state bit-identical to the serial batch (see
      // runFastK); only rsum's cross-qid fold order changes, and this
      // result's rsum is never read (g_fora_err consumes .state only)
      ForwardPush.deterministicPpr(derivedGraph(spark, sfDir),
        Map(0 -> 1L, 1 -> 2L, 2 -> 3L), alpha = 0.2, tol = 1e-9,
        qidShard = 3))

  // memoized READ PLANS (not results): every text/dedup query re-ran
  // spark.read.parquet's footer/schema resolution for the same path;
  // the returned frame is a lazy scan — nothing is persisted, every
  // query still computes from the parquet input
  private val readCache = TrieMap.empty[String, DataFrame]
  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    readCache.getOrElseUpdate(s"$sfDir/documents.parquet",
      spark.read.parquet(s"$sfDir/documents.parquet"))

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    readCache.getOrElseUpdate(s"$sfDir/embeddings.parquet",
      spark.read.parquet(s"$sfDir/embeddings.parquet"))

  // --- shared derived results (round 6, guide §1.2 "don't compute things
  // twice": several registered queries declare the SAME operator
  // invocation — one computes scores, the other an aggregate/audit over
  // them. The triCache/pprCache pattern (VERDICT r2 #5) extends to each
  // such pair: the shared invocation is memoized per sfDir and persisted,
  // so the pair pays for one computation, not two. Within-session reuse
  // only — nothing is keyed on the data dir across processes. -----------

  private def memo(cache: TrieMap[String, DataFrame], key: String)
                  (build: => DataFrame): DataFrame =
    cache.getOrElseUpdate(key,
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // g_fora + g_fora_mass: identical Fora.query(g, sources 1,2,3) call
  private val foraCache = TrieMap.empty[String, DataFrame]
  private def foraScores(spark: SparkSession, sfDir: String): DataFrame =
    memo(foraCache, sfDir) {
      Fora.query(derivedGraph(spark, sfDir),
        Map(0 -> 1L, 1 -> 2L, 2 -> 3L)).scores
    }

  // g_montecarlo + g_mc_mass: identical montecarlo(g, source 1) call
  private val mcCache = TrieMap.empty[String, DataFrame]
  private def mcScores(spark: SparkSession, sfDir: String): DataFrame =
    memo(mcCache, sfDir) {
      Fora.montecarlo(derivedGraph(spark, sfDir), Map(0 -> 1L),
        Fora.Params(eps = 0.5, delta = 0.01))
    }

  // d_near_dup + d_neardup_audit: identical nearDuplicates(sample, 0.8)
  private val nearDupCache = TrieMap.empty[String, DataFrame]
  private def nearDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    memo(nearDupCache, sfDir) {
      graft.text.Dedup.nearDuplicates(
        docs(spark, sfDir).where(col("doc_id") % 10 === 0), threshold = 0.8)
    }

  // d_simhash_pairs + d_simhash_audit: identical simhashPairs(sample, 8)
  private val simhashCache = TrieMap.empty[String, DataFrame]
  private def simhashPairsShared(spark: SparkSession, sfDir: String): DataFrame =
    memo(simhashCache, sfDir) {
      graft.text.Dedup.simhashPairs(
        docs(spark, sfDir).where(col("doc_id") % 10 === 0), maxDist = 8)
    }

  // e_cos_neardup + e_ann_lsh_audit scan the same derived planted corpus
  private val nearDupEmbCache = TrieMap.empty[String, DataFrame]
  private def nearDupEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    memo(nearDupEmbCache, sfDir) { derivedNearDupEmbeddings(spark, sfDir) }

  // --- scale-plan variants (VERDICT r3 next-round #1) ----------------------

  /** Temporarily zero the small-graph plan gates so the registered
    * join/stars variant queries execute the beyond-memory physical plans
    * (runJoin / hop-join walks / join backward / star contraction /
    * distributed PageRank) against the SAME oracles as the gated queries.
    * Safe to scope around the operator call: every iterative operator
    * runs its driver loop eagerly (each superstep is an action), and the
    * DataFrame it returns only has shallow lazy work left (scans of
    * checkpointed state), so the gate values no longer matter once the
    * call returns. Synchronized because the gates are process-global.
    *
    * SINGLE-THREADED-DRIVER ASSUMPTION (ADVICE r4 #4): the synchronized
    * block only excludes other forcingScalePlans callers — a normal gated
    * query evaluated CONCURRENTLY in the same JVM would observe the
    * zeroed gates and silently take the forced scale plan (same values,
    * different physical plan). The Verify/Bench drivers and the sbt
    * suite evaluate queries sequentially, which is the supported mode; a
    * concurrent library entry point must instead thread gate overrides
    * as operator parameters. */
  private def forcingScalePlans[A](body: => A): A = synchronized {
    val savedFast = ForwardPush.fastPathMaxEdges
    val savedPr = PageRank.DenseMaxVertices
    val savedCc = ConnectedComponents.DenseMaxUndEdges
    ForwardPush.fastPathMaxEdges = 0L
    PageRank.DenseMaxVertices = 0L
    ConnectedComponents.DenseMaxUndEdges = 0L
    try body finally {
      ForwardPush.fastPathMaxEdges = savedFast
      PageRank.DenseMaxVertices = savedPr
      ConnectedComponents.DenseMaxUndEdges = savedCc
    }
  }

  /** Sparser pseudo-random derived edge table for the wedge-join
    * triangle variant: the dense 1000-vid table has ~50M triangles at
    * sf0.1, which the wedge plan would materialize as rows to answer an
    * aggregate — the bitset gate exists precisely for that shape. The
    * wedge plan's home turf is a sparse web-like graph, so the variant
    * runs on one. `l_orderkey <= 6000` keeps the row sample (and the
    * wedge-join cost) ~constant across scale factors while mod 800
    * keeps enough density for nonzero triangles even at sf0.001
    * (measured: 15/1024/997 triangles at sf0.001/0.01/0.1). Same
    * arithmetic derivation in DuckDB. */
  def sparseEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.where(col("l_orderkey") <= 6000)
      .select(((col("l_partkey") * 7919 + col("l_suppkey")) % 800).as("src"),
        ((col("l_suppkey") * 104729 + col("l_partkey")) % 800).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** SQL text of the sparse derived edge table (DuckDB). */
  val sparseEdgesSql: String =
    """SELECT DISTINCT (l_partkey*7919 + l_suppkey) % 800 AS src,
      |  (l_suppkey*104729 + l_partkey) % 800 AS dst
      |FROM lineitem
      |WHERE l_orderkey <= 6000
      |  AND (l_partkey*7919 + l_suppkey) % 800
      |   <> (l_suppkey*104729 + l_partkey) % 800""".stripMargin

  private val sparseGraphCache = TrieMap.empty[String, LinkGraph]
  def sparseGraph(spark: SparkSession, sfDir: String): LinkGraph =
    sparseGraphCache.getOrElseUpdate(sfDir,
      LinkGraph.fromEdges(spark, sparseEdges(spark, sfDir), numParts = 16))

  // --- unrolled-iteration oracle SQL builders (DuckDB chained CTEs) --------

  /** Shared CTE chain for the PPR oracle: `iters` unrolled power-iteration
    * steps with the engine's pinned conventions (teleport α to source,
    * dangling absorbs). 0.8^100 ≈ 2e-10 residual ⇒ 6-decimal rounding is
    * stable on both sides. Callers append their own final SELECT. */
  private def pprCtes(source: Long, alpha: Double, iters: Int): String = {
    val a = alpha
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED ($edgesSql),
              |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
              |v AS MATERIALIZED (SELECT DISTINCT vid FROM
              |  (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
              |it0 AS MATERIALIZED (SELECT vid,
              |  CASE WHEN vid = $source THEN 1.0 ELSE 0.0 END AS score
              |  FROM v)""".stripMargin
    (1 to iters).foreach { k =>
      sb ++= s""",
        |it$k AS MATERIALIZED (
        |  SELECT v.vid,
        |    $a * (CASE WHEN v.vid = $source THEN 1.0 ELSE 0.0 END)
        |    + (1-$a) * COALESCE(f.c, 0.0)
        |    + (1-$a) * (CASE WHEN dg.src IS NULL THEN p.score ELSE 0.0 END)
        |    AS score
        |  FROM v
        |  LEFT JOIN (SELECT e.dst AS vid, SUM(p.score / deg.d) AS c
        |             FROM it${k - 1} p
        |             JOIN e ON p.vid = e.src
        |             JOIN deg ON deg.src = p.vid
        |             GROUP BY e.dst) f ON v.vid = f.vid
        |  LEFT JOIN it${k - 1} p ON p.vid = v.vid
        |  LEFT JOIN deg dg ON dg.src = v.vid)""".stripMargin
    }
    sb.toString
  }

  def pprOracleSql(source: Long, alpha: Double, iters: Int): String =
    pprCtes(source, alpha, iters) +
      s"\nSELECT vid, round(score, 6) AS ppr FROM it$iters"

  /** Top-k oracle: order by FULL-precision score, round only in the
    * output — matches topk's (reserve desc, vid asc) selection. */
  def topkOracleSql(source: Long, alpha: Double, iters: Int, k: Int): String =
    pprCtes(source, alpha, iters) +
      s"""\nSELECT vid, round(score, 6) AS score FROM it$iters
         |ORDER BY score DESC, vid LIMIT $k""".stripMargin

  /** Top-k SET oracle (vids only) — for the ladder mode, whose set is
    * provably exact at separation while its scores are only bounds. */
  def topkVidsOracleSql(source: Long, alpha: Double, iters: Int,
                        k: Int): String =
    pprCtes(source, alpha, iters) +
      s"""\nSELECT vid FROM (SELECT vid FROM it$iters
         |ORDER BY score DESC, vid LIMIT $k)""".stripMargin

  /** Per-vertex triangle-count oracle over an arbitrary derived edge
    * table (three-way self-join on the canonicalized undirected set). */
  def triPerVertexSql(eSql: String): String =
    s"""WITH u AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
       |           FROM ($eSql)),
       |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |      FROM u e1 JOIN u e2 ON e1.b = e2.a JOIN u e3
       |        ON e3.a = e1.a AND e3.b = e2.b),
       |c AS (SELECT x AS vid FROM t UNION ALL SELECT y FROM t
       |      UNION ALL SELECT z FROM t)
       |SELECT vid, count(*) AS triangles FROM c GROUP BY vid""".stripMargin

  /** Exact-CC oracle (recursive reachability → min label) over an
    * arbitrary derived edge table; shared by g_cc and g_cc_stars. */
  def ccOracleSql(eSql: String): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT least(src,dst) AS a, greatest(src,dst) AS b FROM ($eSql)
       |), sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
       |v AS (SELECT DISTINCT a AS vid FROM sym
       |      UNION SELECT DISTINCT src FROM ($eSql)
       |      UNION SELECT DISTINCT dst FROM ($eSql)),
       |reach(vid, r) AS (
       |  SELECT vid, vid FROM v
       |  UNION
       |  SELECT reach.vid, sym.b FROM reach JOIN sym ON reach.r = sym.a
       |)
       |SELECT vid, min(r) AS component FROM reach GROUP BY vid""".stripMargin

  /** BiPPR pair oracle: the forward CTE's value at the target vertex. */
  def bipprOracleSql(source: Long, target: Long, alpha: Double,
                     iters: Int): String =
    pprCtes(source, alpha, iters) +
      s"""\nSELECT CAST($source AS BIGINT) AS s, CAST($target AS BIGINT) AS t,
         |  round(score, 6) AS bippr FROM it$iters WHERE vid = $target""".stripMargin

  /** Backward-push oracle: reverse power iteration for π(·, target) with
    * the absorb convention (dangling u keeps its own mass: π(u,·)=δ_u). */
  def backwardOracleSql(target: Long, alpha: Double, iters: Int): String = {
    val a = alpha
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED ($edgesSql),
              |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
              |v AS MATERIALIZED (SELECT DISTINCT vid FROM
              |  (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
              |it0 AS MATERIALIZED (SELECT vid, 0.0 AS score FROM v)""".stripMargin
    (1 to iters).foreach { k =>
      sb ++= s""",
        |it$k AS MATERIALIZED (
        |  SELECT v.vid,
        |    $a * (CASE WHEN v.vid = $target THEN 1.0 ELSE 0.0 END)
        |    + (1-$a) * (CASE WHEN dg.src IS NULL THEN p.score
        |                ELSE COALESCE(f.c, 0.0) END) AS score
        |  FROM v
        |  LEFT JOIN (SELECT e.src AS vid, SUM(p.score / deg.d) AS c
        |             FROM it${k - 1} p
        |             JOIN e ON p.vid = e.dst
        |             JOIN deg ON deg.src = e.src
        |             GROUP BY e.src) f ON v.vid = f.vid
        |  LEFT JOIN it${k - 1} p ON p.vid = v.vid
        |  LEFT JOIN deg dg ON dg.src = v.vid)""".stripMargin
    }
    sb ++= s"\nSELECT vid, round(score, 6) AS bppr FROM it$iters"
    sb.toString
  }

  /** LPA oracle: `rounds` unrolled plurality steps over the symmetrized
    * undirected edge set, tie-break (count desc, label asc) — exactly
    * ops.LabelPropagation's max_by(label, struct(cnt, -label)). */
  def lpaOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED ($edgesSql),
              |und AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS a,
              |  greatest(src,dst) AS b FROM e),
              |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
              |  UNION ALL SELECT b, a FROM und),
              |v AS MATERIALIZED (SELECT DISTINCT src AS vid FROM sym),
              |l0 AS MATERIALIZED (SELECT vid, vid AS label FROM v)""".stripMargin
    (1 to rounds).foreach { k =>
      sb ++= s""",
        |l$k AS MATERIALIZED (
        |  SELECT vid, label FROM (
        |    SELECT s.dst AS vid, p.label, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY s.dst
        |        ORDER BY count(*) DESC, p.label ASC) AS rn
        |    FROM sym s JOIN l${k - 1} p ON p.vid = s.src
        |    GROUP BY s.dst, p.label)
        |  WHERE rn = 1)""".stripMargin
    }
    sb ++= s"\nSELECT vid, label FROM l$rounds"
    sb.toString
  }

  /** Global PageRank oracle: `iters` unrolled steps, uniform dangling
    * redistribution, matching ops.PageRank semantics. */
  def pagerankOracleSql(damping: Double, iters: Int): String = {
    val d = damping
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED ($edgesSql),
              |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),
              |v AS MATERIALIZED (SELECT DISTINCT vid FROM
              |  (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e)),
              |nn AS MATERIALIZED (SELECT count(*) AS n FROM v),
              |it0 AS MATERIALIZED (SELECT vid, 1.0 / nn.n AS score FROM v CROSS JOIN nn)""".stripMargin
    (1 to iters).foreach { k =>
      sb ++= s""",
        |it$k AS MATERIALIZED (
        |  SELECT v.vid,
        |    (1-$d) / nn.n
        |    + $d * (COALESCE(f.c, 0.0) + ds.dsum / nn.n) AS score
        |  FROM v CROSS JOIN nn
        |  CROSS JOIN (SELECT COALESCE(SUM(p.score), 0.0) AS dsum
        |              FROM it${k - 1} p LEFT JOIN deg ON deg.src = p.vid
        |              WHERE deg.src IS NULL) ds
        |  LEFT JOIN (SELECT e.dst AS vid, SUM(p.score / deg.d) AS c
        |             FROM it${k - 1} p
        |             JOIN e ON p.vid = e.src
        |             JOIN deg ON deg.src = p.vid
        |             GROUP BY e.dst) f ON v.vid = f.vid)""".stripMargin
    }
    sb ++= s"\nSELECT vid, round(score, 6) AS pagerank FROM it$iters"
    sb.toString
  }

  // --- the registered operator queries -------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_edges" -> ((s, d) => derivedEdges(s, d)),

    // both aggregate over the SAME edge rows g_edges declares; serving
    // them from the graph's cached edge table (identical content by
    // construction — fromEdges is select+distinct of derivedEdges) drops
    // a full lineitem re-scan + re-distinct per query (guide §1.2)
    "g_deg_hist" -> ((s, d) => {
      derivedGraph(s, d).edges.toDF().groupBy(col("src"))
        .agg(count(lit(1)).as("outdeg"))
        .groupBy(col("outdeg")).agg(count(lit(1)).as("n_vertices"))
    }),

    "g_mutual_edges" -> ((s, d) => {
      val e = derivedGraph(s, d).edges.toDF()
      val r = e.select(col("dst").as("src"), col("src").as("dst"))
      e.intersect(r).agg((count(lit(1)) / 2).cast("long").as("mutual_pairs"))
    }),

    "g_two_hop" -> ((s, d) => {
      val e = derivedGraph(s, d).edges.toDF()
      e.select(col("src").as("a"), col("dst").as("mid"))
        .join(derivedGraph(s, d).edges.toDF()
          .select(col("src").as("mid"), col("dst").as("c")), Seq("mid"))
        .where(col("a") =!= col("c"))
        .select(col("a"), col("c")).distinct()
        .agg(count(lit(1)).as("two_hop_pairs"))
    }),

    "g_tri_count" -> ((s, d) =>
      triangleTable(s, d)
        .agg((sum(col("triangles")) / 3).cast("long").as("tri_cnt"))),

    "g_tri_pervertex" -> ((s, d) =>
      triangleTable(s, d)
        .where(col("triangles") > 0)
        .select(col("vid"), col("triangles"))),

    "g_cc" -> ((s, d) =>
      ConnectedComponents.run(derivedGraph(s, d)).components
        .select(col("vid"), col("component"))),

    "g_cc_sizes" -> ((s, d) =>
      ConnectedComponents.run(derivedGraph(s, d)).components
        .groupBy(col("component")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_components"))),

    "g_pagerank" -> ((s, d) => {
      val g = derivedGraph(s, d)
      PageRank.run(g, damping = 0.8, tol = 1e-9).ranks
        .select(col("vid"), round(col("rank"), 6).as("pagerank"))
    }),

    "g_ppr" -> ((s, d) => {
      val g = derivedGraph(s, d)
      val res = sourceOnePush(s, d)
      // oracle reports every vertex; fill untouched ones with 0
      g.vertices.toDF("vid")
        .join(res.state.select(col("vid"), col("reserve")), Seq("vid"), "left")
        .select(col("vid"),
          round(coalesce(col("reserve"), lit(0.0)), 6).as("ppr"))
    }),

    // randomized operators: rows-only driver check on the raw scores, but
    // the *_mass invariants below are DuckDB-oracled (Σ_t π̂(s,t) = 1)
    "g_fora" -> ((s, d) => foraScores(s, d)),
    "g_fora_mass" -> ((s, d) =>
      foraScores(s, d)
        .groupBy(col("qid"))
        .agg(round(sum(col("score")), 6).as("mass"))),
    "g_fora_topk" -> ((s, d) =>
      // exactScores: refine until rsum < 1e-9 so score == π to 6 dp —
      // DuckDB-oracled against the 100-iter CTE (desc limit 20)
      Fora.topk(derivedGraph(s, d), 1L, k = 20, exactScores = true)
        .select(col("vid"), round(col("score"), 6).as("score"))),
    "g_montecarlo" -> ((s, d) => mcScores(s, d)),
    // ε-δ guarantee as a driver-checked invariant (VERDICT r2 "what's
    // missing" #3): for every vertex with exact π(s,t) ≥ δ, the
    // randomized estimate must sit within ε relative error. The exact
    // side is the engine's own deterministic push at tol=1e-9 (whose
    // raw scores g_ppr separately proves against the DuckDB CTE), so a
    // zero violation count is real evidence, not self-confirmation.
    // pfail=1e-4 per source makes a legitimate statistical miss
    // (~6·10⁻⁴ over 6 checks) effectively impossible, and the outcome
    // is deterministic per corpus anyway (counter-based RNG).
    "g_fora_err" -> ((s, d) => {
      import s.implicits._
      val g = derivedGraph(s, d)
      val p = Fora.Params(eps = 0.5, delta = 0.01, pfail = 1e-4)
      val srcs = Map(0 -> 1L, 1 -> 2L, 2 -> 3L)
      val exact = threeSourcePush(s, d).state
        .select($"qid", $"vid", $"reserve".as("pi"))
      def violations(scores: DataFrame, method: String): DataFrame =
        exact.where($"pi" >= p.delta)
          .join(scores.select($"qid", $"vid", $"score"),
            Seq("qid", "vid"), "left")
          .groupBy($"qid")
          .agg(sum(when(abs(coalesce($"score", lit(0.0)) - $"pi") >
            $"pi" * p.eps, 1L).otherwise(0L)).as("n_bad"))
          .select(lit(method).as("method"), $"qid", $"n_bad")
      violations(Fora.query(g, srcs, p).scores, "fora")
        .unionByName(violations(Fora.montecarlo(g, srcs, p), "mc"))
    }),
    "g_mc_mass" -> ((s, d) =>
      mcScores(s, d)
        .groupBy(col("qid"))
        .agg(round(sum(col("score")), 6).as("mass"))),
    "g_lpa" -> ((s, d) =>
      LabelPropagation.run(derivedGraph(s, d), rounds = 5)),

    // -- scale-plan variants: the SAME queries routed through the
    // beyond-memory physical plans (VERDICT r3 #1 — the r3 gated plans
    // left every green graph row certifying the small-graph path; these
    // rows put runJoin / distributed PageRank / star contraction /
    // hop-join walks / the wedge join back on the DuckDB board) --

    "g_ppr_join" -> ((s, d) => {
      val g = derivedGraph(s, d)
      val res = forcingScalePlans {
        ForwardPush.deterministicPpr(g, Map(0 -> 1L), alpha = 0.2,
          tol = 1e-9)
      }
      g.vertices.toDF("vid")
        .join(res.state.select(col("vid"), col("reserve")), Seq("vid"), "left")
        .select(col("vid"),
          round(coalesce(col("reserve"), lit(0.0)), 6).as("ppr"))
    }),

    // fixed 12 iterations on BOTH sides (engine tol=0 ⇒ exactly maxIter
    // steps; oracle CTE unrolled 12×): iteration-for-iteration the same
    // function, so partial iterates compare exactly at 6 dp without
    // paying ~95 distributed jobs for full 1e-9 convergence. 12 (was 40,
    // VERDICT r4 #6: this row is plan-shape verification, and 12
    // distributed iterations exercise the identical per-iteration plan
    // at a third of the job count)
    "g_pagerank_join" -> ((s, d) => {
      val g = derivedGraph(s, d)
      val pr = forcingScalePlans {
        PageRank.run(g, damping = 0.8, tol = 0.0, maxIter = 12,
          checkEvery = 12)
      }
      pr.ranks.select(col("vid"), round(col("rank"), 6).as("pagerank"))
    }),

    "g_cc_stars" -> ((s, d) =>
      forcingScalePlans { ConnectedComponents.run(derivedGraph(s, d)) }
        .components.select(col("vid"), col("component"))),

    // wedge-join triangles on the SPARSE derived graph (the plan's design
    // regime — see sparseEdges); precomputed=Some(...) bypasses the
    // dense-bitset gate so the oracled plan IS the oriented wedge join
    "g_tri_wedge" -> ((s, d) => {
      val g = sparseGraph(s, d)
      Triangles.perVertex(g, precomputed = Some(Triangles.triangles(g)))
        .where(col("triangles") > 0)
        .select(col("vid"), col("triangles"))
    }),

    "b_push_join" -> ((s, d) => {
      val g = derivedGraph(s, d)
      val res = forcingScalePlans {
        BackwardPush.run(g, Map(0 -> 1L), alpha = 0.2, rmax = 1e-11)
      }
      g.vertices.toDF("vid")
        .join(res.state.select(col("vid"), col("reserve")), Seq("vid"), "left")
        .select(col("vid"),
          round(coalesce(col("reserve"), lit(0.0)), 6).as("bppr"))
    }),

    // Monte-Carlo through the hop-join walk path (the beyond-memory walk
    // shape), pinned by the same Σ-mass=1 invariant oracle as g_mc_mass
    "g_mc_mass_join" -> ((s, d) => forcingScalePlans {
      Fora.montecarlo(derivedGraph(s, d), Map(0 -> 1L),
        Fora.Params(eps = 0.5, delta = 0.01))
        .groupBy(col("qid"))
        .agg(round(sum(col("score")), 6).as("mass"))
    }),

    // HubPPR (O18): hub index = batched coarse push states; a hub-source
    // query warm-starts from the stored state and refines to tol. The
    // query source (1, the oracle's fixed source) is added to the
    // degree-picked hub set explicitly so the ORACLED path is the warm
    // one — hub membership is a policy input, and pinning it makes the
    // row deterministic across sf dirs. Scores at tol=1e-9 are 6-dp
    // stable, so the row shares g_ppr's 100-iter CTE oracle verbatim.
    "g_hubppr" -> ((s, d) => {
      val g = derivedGraph(s, d)
      val idx = HubPpr.build(g, HubPpr.pickHubs(g, 4) :+ 1L,
        alpha = 0.2, rmaxCoarse = 1e-6)
      val res =
        try HubPpr.query(g, idx, source = 1L, tol = 1e-9)
        finally idx.table.unpersist()
      g.vertices.toDF("vid")
        .join(res.state.select(col("vid"), col("reserve")), Seq("vid"), "left")
        .select(col("vid"),
          round(coalesce(col("reserve"), lit(0.0)), 6).as("ppr"))
    }),

    // the refinement LADDER (the mode a user actually runs — VERDICT r3
    // #5): warm-started pushes at ×16-finer rmax until the kth lower
    // bound separates. The top-k SET is provably exact at separation
    // (π(v) ≤ reserve(v)+rsum < kth reserve ≤ π(kth) for any outsider),
    // so the oracle pins the vid set; internal order/scores are not
    // separation-guaranteed and are not reported
    "g_fora_topk_ladder" -> ((s, d) =>
      Fora.topk(derivedGraph(s, d), 1L, k = 20).select(col("vid"))),

    // -- backward push / BiPPR (SURVEY.md O15/O16) --

    // rmax=1e-11: estimate error must sit well below the oracle's own
    // 0.8^140 residual so 6-dp rounding can't flip on knife-edge values
    // (observed at sf0.01: a true π exactly 8e-10 above a boundary)
    "b_push" -> ((s, d) => {
      val g = derivedGraph(s, d)
      val res = BackwardPush.run(g, Map(0 -> 1L), alpha = 0.2, rmax = 1e-11)
      g.vertices.toDF("vid")
        .join(res.state.select(col("vid"), col("reserve")), Seq("vid"), "left")
        .select(col("vid"),
          round(coalesce(col("reserve"), lit(0.0)), 6).as("bppr"))
    }),

    "b_bippr" -> ((s, d) => {
      import s.implicits._
      val g = derivedGraph(s, d)
      val (sVid, tVid) = (1L, 5L)
      // deterministic BiPPR: π̂(s,t) = π°_t(s) + Σ_v r_t(v)·π̂_fwd(s,v),
      // backward at coarse rmax (real residuals exercise the combine),
      // forward reserves at tol=1e-9 ⇒ |est−π| ≤ rsum_b·tol.
      // sVid == 1 so the forward push is g_ppr's, shared via sourceOnePush
      val back = BackwardPush.run(g, Map(0 -> tVid), alpha = 0.2, rmax = 1e-5)
      val fwd = sourceOnePush(s, d)
      val reserveAtS = back.state.where(col("vid") === sVid)
        .agg(coalesce(sum(col("reserve")), lit(0.0))).as[Double].head()
      val cross = back.state.select(col("vid"), col("residue"))
        .join(fwd.state.select(col("vid"), col("reserve").as("fppr")), Seq("vid"))
        .agg(coalesce(sum(col("residue") * col("fppr")), lit(0.0)))
        .as[Double].head()
      Seq((sVid, tVid, reserveAtS + cross)).toDF("s", "t", "raw")
        .select(col("s"), col("t"), round(col("raw"), 6).as("bippr"))
    }),

    // -- documents: text analysis / dedup --

    "d_token_count" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))),

    "d_exact_dup" -> ((s, d) =>
      docs(s, d).groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .where(col("n_docs") > 1)),

    "d_quality" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        length(col("text")).as("n_chars_text"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .as("n_punct"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("avg_token_len",
          round(col("n_chars_text").cast("double") / col("n_tokens"), 6))),

    // avg as exact-integer sum / count: a single fp division rounds
    // identically in Spark and DuckDB, unlike avg() whose accumulation
    // order differs at the 6th decimal (round-1 hash mismatch)
    "d_lang_agg" -> ((s, d) =>
      docs(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(sum(length(col("text"))).cast("double") / count(lit(1)), 6)
            .as("avg_len"))),

    // -- text analysis (graft.text.TextFunctions) --

    "d_lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.text.TextFunctions.langId(col("text")).as("lang_id"))),

    "d_quality_score" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.text.TextFunctions.qualityScore(col("text")).as("quality"))),

    "d_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.text.TextFunctions.fingerprint(col("text")).as("fp"))),

    // -- dedup (graft.text.Dedup) --

    "d_jaccard_pairs" -> ((s, d) =>
      graft.text.Dedup.jaccardPairs(
        docs(s, d).where(col("doc_id") % 50 === 0), threshold = 0.05)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))),

    "d_near_dup" -> ((s, d) => // sampled: template corpora near-dup heavily
      nearDupPairs(s, d)),

    "d_ngram_jaccard" -> ((s, d) =>
      graft.text.Dedup.ngramJaccardPairs(
        docs(s, d).where(col("doc_id") % 50 === 0), n = 5, threshold = 0.1)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))),

    "d_token_regex" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .cast("long").as("n_tokens_re"))),

    "d_simhash_pairs" -> ((s, d) => simhashPairsShared(s, d)),

    // Driver-checked audits of the two xxhash64-signature dedup paths
    // (VERDICT r2 "what's missing" #3): DuckDB cannot reproduce the
    // signatures, but it CAN pin their contracts. Pattern follows
    // g_fora_err — Spark computes both the sketch path and its ground
    // truth, outputs the discrepancy counts, and the oracle pins them.

    "d_neardup_audit" -> ((s, d) => {
      // n_exact: brute-force count of sampled pairs at token-Jaccard
      //   >= 0.8 — fully replicated in the DuckDB oracle.
      // n_false_pos: LSH pairs below threshold — 0 is a THEOREM (banded
      //   candidates are exact-verified before emission), so it stays
      //   pinned.
      // Recall, by contrast, is NOT a theorem: banded MinHash at J=0.8
      //   hits ~1−(1−J^4)^8 ≈ 0.985 per pair, so a small corpus is
      //   EXPECTED to miss the odd pair (observed: 1 miss at sf0.001,
      //   0 at sf0.01 — exactly the data-dependence ADVICE r3 #3
      //   flagged). The audit therefore pins a TOLERANCE contract:
      //   n_missed ≤ miss_budget = max(1, 2% of n_exact), with the
      //   budget derived from the per-pair miss rate and computed from
      //   n_exact identically on both sides.
      val sample = docs(s, d).where(col("doc_id") % 10 === 0)
      val lsh = nearDupPairs(s, d).select(col("a"), col("b"))
      // exact feeds THREE consumers (count + both except directions);
      // un-pinned it recomputed the all-pairs token self-join each time
      val exact = graft.text.Dedup.jaccardPairs(sample, threshold = 0.8)
        .select(col("a"), col("b")).localCheckpoint(true)
      exact.agg(count(lit(1)).cast("long").as("n_exact"))
        .crossJoin(lsh.except(exact)
          .agg(count(lit(1)).cast("long").as("n_false_pos")))
        .crossJoin(exact.except(lsh)
          .agg(count(lit(1)).cast("long").as("n_missed")))
        .select(col("n_exact"), col("n_false_pos"),
          greatest(lit(1L), floor(col("n_exact") * 0.02).cast("long"))
            .as("miss_budget"),
          (col("n_missed") <= greatest(lit(1L),
            floor(col("n_exact") * 0.02).cast("long"))).as("miss_ok"))
    }),

    "d_simhash_audit" -> ((s, d) => {
      // Multi-index Hamming candidates vs brute-force all-pairs at
      // hamming <= 8: both directions of the symmetric difference are
      // THEOREMS (pigeonhole recall; shared final hamming filter), so
      // the oracle pins both to zero — the recall proof moves from
      // spec-only to the driver gate.
      val sample = docs(s, d).where(col("doc_id") % 10 === 0)
      val mi = simhashPairsShared(s, d).select(col("a"), col("b"))
      val sigs = sample.select(col("doc_id").as("id"),
        graft.text.Dedup.simhash(col("text")).as("sh"))
      // bf feeds both except directions; pin so the brute-force
      // signature self-join runs once, not twice
      val bf = sigs.as("x").join(sigs.as("y"),
          col("x.id") < col("y.id") &&
            bit_count(col("x.sh").bitwiseXOR(col("y.sh"))) <= 8)
        .select(col("x.id").as("a"), col("y.id").as("b"))
        .localCheckpoint(true)
      mi.except(bf).agg(count(lit(1)).cast("long").as("n_extra"))
        .crossJoin(bf.except(mi)
          .agg(count(lit(1)).cast("long").as("n_missed")))
    }),

    // -- similarity search (graft.text.Ann) --

    "e_ann_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      graft.text.Ann.bruteForceTopK(emb,
        emb.where(col("vec_id") < 3).select(col("vec_id").as("qid"),
          col("embedding")), k = 10)
    }),

    "e_ann_lsh" -> ((s, d) => {
      val emb = embeddings(s, d)
      graft.text.Ann.lshTopK(emb,
        emb.where(col("vec_id") < 3).select(col("vec_id").as("qid"),
          col("embedding")), k = 10)
    }),

    // LSH-vs-brute-force audit at the design point (VERDICT r3 #4; the
    // e_cos_neardup planted-pair pattern): queries are 3 planted base
    // vectors whose partners sit at cos ≈ 0.998, where one 8-bit table
    // collides w.p. ≈ 0.85, so missing the partner across 8 tables has
    // probability < 3e-7 — and the outcome is deterministic anyway
    // (fixed hyperplanes, fixed corpus; observed: found). The query
    // vector itself shares every bucket (identical signature), so the
    // LSH top-2 rows equal the brute-force top-2 rows exactly; DuckDB
    // recomputes n_bf by brute force and pins both discrepancies to 0.
    "e_ann_lsh_audit" -> ((s, d) => {
      val corpus = nearDupEmbeddings(s, d)
      val queries = corpus
        .where(col("vec_id") % 10 === 0 && col("vec_id") < 30)
        .select(col("vec_id").as("qid"), col("embedding"))
      // each side feeds two consumers (agg/except) — pin both so the
      // scan+window pipelines run once each
      val lsh = graft.text.Ann.lshTopK(corpus, queries, k = 2)
        .localCheckpoint(true)
      val bf = graft.text.Ann.bruteForceTopK(corpus, queries, k = 2)
        .localCheckpoint(true)
      bf.agg(count(lit(1)).cast("long").as("n_bf"))
        .crossJoin(lsh.except(bf)
          .agg(count(lit(1)).cast("long").as("n_lsh_only")))
        .crossJoin(bf.except(lsh)
          .agg(count(lit(1)).cast("long").as("n_bf_only")))
    }),

    "e_ann_ivf" -> ((s, d) => {
      val emb = embeddings(s, d)
      graft.text.Ann.ivfTopK(emb,
        emb.where(col("vec_id") < 3).select(col("vec_id").as("qid"),
          col("embedding")), k = 10)
    }),

    // LSH path at its DESIGN POINT (threshold 0.9, where the recall spec
    // applies — r2 ran it at 0.2 where hyperplane collision prob is ~8%).
    // The corpus plants a deterministic near-dup partner (cos ≈ 0.998)
    // for every 10th vector via integer-arithmetic perturbation, so the
    // whole operator is DuckDB-oracle-able: the oracle recomputes pairs
    // by brute force; miss probability per planted pair is < 1e-7 at the
    // auto-chosen (bits, tables), so LSH output == exact output.
    "e_cos_neardup" -> ((s, d) =>
      graft.text.Ann.cosineNearDuplicates(
        nearDupEmbeddings(s, d), threshold = 0.9)),

    // -- multimodal columns (graft.media.Multimodal) --

    "mm_meta" -> ((s, d) =>
      graft.media.Multimodal.metaStats(derivedMedia(s, d))),

    "mm_frames" -> ((s, d) =>
      graft.media.Multimodal.sampleFrames(derivedMedia(s, d), stride = 7)
        .select(col("media_id"), explode(col("frame_ids")).as("fi"))
        .select(col("media_id"), col("fi").cast("long").as("frame_id")))
  )

  /** Embeddings corpus with PLANTED near-duplicates: every 10th vector
    * gets a partner at vec_id+1000000 perturbed by
    * eps_i = ((vec_id·31 + i·7) mod 13 − 6) · 0.002 — pure integer
    * arithmetic scaled by one double constant, so Spark and DuckDB
    * compute bit-identical doubles and the planted pairs land at
    * cos ≈ 0.998 (unit-norm corpus). Gives the cosine near-dup operator
    * true positives to find (the raw embeddings table is random: zero
    * pairs above cos 0.8) and makes it fully oracle-able. */
  def derivedNearDupEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val perturbed = base.where(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + ((col("vec_id") * 31 + i * 7) % 13 - 6) * lit(0.002))
          .as("embedding"))
    base.unionByName(perturbed
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  /** SQL text of the planted near-dup corpus (DuckDB dialect). */
  val nearDupEmbSql: String =
    """SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |UNION ALL
      |SELECT vec_id + 1000000 AS vec_id,
      |  list_transform(range(len(v)),
      |    i -> v[i+1] + ((vec_id*31 + i*7) % 13 - 6) * 0.002) AS v
      |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |      WHERE vec_id % 10 = 0)""".stripMargin

  /** Deterministic media table derived from documents in pure arithmetic —
    * identical derivation in the DuckDB oracle, so the multimodal metadata
    * operators are driver-checkable without real codecs. */
  def derivedMedia(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      (lit(16) * (col("doc_id") % 64 + 1)).cast("int").as("width"),
      (lit(16) * (col("doc_id") % 48 + 1)).cast("int").as("height"),
      lit(16000).as("sample_rate"),
      (col("doc_id") % 300 + 1).cast("int").as("n_frames"))

  /** SQL text of the derived media table (DuckDB dialect). */
  val mediaSql: String =
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  encode(text) AS payload,
      |  CAST(16 * (doc_id % 64 + 1) AS INTEGER) AS width,
      |  CAST(16 * (doc_id % 48 + 1) AS INTEGER) AS height,
      |  CAST(16000 AS INTEGER) AS sample_rate,
      |  CAST(doc_id % 300 + 1 AS INTEGER) AS n_frames
      |FROM documents""".stripMargin

  /** DuckDB-runnable oracle SQL; column names match the Spark results. */
  def oracleSql: Map[String, String] = Map(
    "g_edges" -> edgesSql,

    "g_deg_hist" ->
      s"""SELECT outdeg, count(*) AS n_vertices FROM (
         |  SELECT src, count(*) AS outdeg FROM ($edgesSql) GROUP BY src
         |) GROUP BY outdeg""".stripMargin,

    "g_mutual_edges" ->
      s"""SELECT CAST(count(*) / 2 AS BIGINT) AS mutual_pairs
         |FROM ($edgesSql) e1 JOIN ($edgesSql) e2
         |  ON e1.src = e2.dst AND e1.dst = e2.src""".stripMargin,

    "g_two_hop" ->
      s"""SELECT count(*) AS two_hop_pairs FROM (
         |  SELECT DISTINCT e1.src AS a, e2.dst AS c
         |  FROM ($edgesSql) e1 JOIN ($edgesSql) e2 ON e1.dst = e2.src
         |  WHERE e1.src <> e2.dst)""".stripMargin,

    "g_tri_count" ->
      s"""WITH u AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
         |           FROM ($edgesSql))
         |SELECT count(*) AS tri_cnt
         |FROM u e1 JOIN u e2 ON e1.b = e2.a JOIN u e3
         |  ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    "g_tri_pervertex" -> triPerVertexSql(edgesSql),
    // same oracle text, different physical plan on the Spark side
    // (oriented wedge join over the sparse graph vs gated bitset)
    "g_tri_wedge" -> triPerVertexSql(sparseEdgesSql),

    "g_cc" -> ccOracleSql(edgesSql),
    "g_cc_stars" -> ccOracleSql(edgesSql),

    "g_cc_sizes" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT least(src,dst) AS a, greatest(src,dst) AS b FROM ($edgesSql)
         |), sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |v AS (SELECT DISTINCT a AS vid FROM sym
         |      UNION SELECT DISTINCT src FROM ($edgesSql)
         |      UNION SELECT DISTINCT dst FROM ($edgesSql)),
         |reach(vid, r) AS (
         |  SELECT vid, vid FROM v
         |  UNION
         |  SELECT reach.vid, sym.b FROM reach JOIN sym ON reach.r = sym.a
         |),
         |comp AS (SELECT vid, min(r) AS component FROM reach GROUP BY vid),
         |sizes AS (SELECT component, count(*) AS csize FROM comp
         |          GROUP BY component)
         |SELECT csize, count(*) AS n_components FROM sizes
         |GROUP BY csize""".stripMargin,

    "g_pagerank" -> pagerankOracleSql(damping = 0.8, iters = 100),
    "g_ppr" -> pprOracleSql(source = 1L, alpha = 0.2, iters = 100),
    "g_fora_topk" -> topkOracleSql(source = 1L, alpha = 0.2, iters = 100,
      k = 20),
    "g_lpa" -> lpaOracleSql(rounds = 5),

    // scale-plan variants: g_ppr_join/b_push_join reuse their gated
    // twins' oracle text VERBATIM; g_pagerank_join pins exactly 12
    // iterations on both sides; the ladder pins the provably-exact set
    "g_ppr_join" -> pprOracleSql(source = 1L, alpha = 0.2, iters = 100),
    // O18: same fixpoint, reached via the hub warm start — the oracle is
    // exactly g_ppr's (tol 1e-9 ⇒ 6-dp-stable regardless of path)
    "g_hubppr" -> pprOracleSql(source = 1L, alpha = 0.2, iters = 100),
    "g_pagerank_join" -> pagerankOracleSql(damping = 0.8, iters = 12),
    "b_push_join" -> backwardOracleSql(target = 1L, alpha = 0.2, iters = 140),
    "g_fora_topk_ladder" -> topkVidsOracleSql(source = 1L, alpha = 0.2,
      iters = 100, k = 20),
    "g_mc_mass_join" ->
      """SELECT CAST(0 AS INTEGER) AS qid, CAST(1.0 AS DOUBLE) AS mass""",

    // mass-conservation invariants: FORA deposits exactly the pushed-out
    // residual mass, so Σ_t π̂(s,t) = 1 per query to fp accumulation noise
    "g_fora_mass" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS INTEGER), CAST(1.0 AS DOUBLE)),
        |  (CAST(1 AS INTEGER), CAST(1.0 AS DOUBLE)),
        |  (CAST(2 AS INTEGER), CAST(1.0 AS DOUBLE))) t(qid, mass)""".stripMargin,
    "g_mc_mass" ->
      """SELECT CAST(0 AS INTEGER) AS qid, CAST(1.0 AS DOUBLE) AS mass""",
    // ε-δ accuracy invariant: the Spark side counts vertices with exact
    // π ≥ δ whose randomized estimate misses by more than ε·π (exact side
    // = the deterministic push g_ppr separately proves against the CTE
    // oracle); the contract is zero violations for both estimators
    "g_fora_err" ->
      """SELECT * FROM (VALUES
        |  ('fora', CAST(0 AS INTEGER), CAST(0 AS BIGINT)),
        |  ('fora', CAST(1 AS INTEGER), CAST(0 AS BIGINT)),
        |  ('fora', CAST(2 AS INTEGER), CAST(0 AS BIGINT)),
        |  ('mc',   CAST(0 AS INTEGER), CAST(0 AS BIGINT)),
        |  ('mc',   CAST(1 AS INTEGER), CAST(0 AS BIGINT)),
        |  ('mc',   CAST(2 AS INTEGER), CAST(0 AS BIGINT)))
        |  t(method, qid, n_bad)""".stripMargin,

    "b_push" -> backwardOracleSql(target = 1L, alpha = 0.2, iters = 140),
    "b_bippr" -> bipprOracleSql(source = 1L, target = 5L, alpha = 0.2,
      iters = 100),

    "mm_meta" ->
      s"""WITH media AS ($mediaSql)
         |SELECT kind, count(*) AS n_items,
         |  CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
         |  round(CAST(sum(octet_length(payload)) AS DOUBLE) / count(*), 6)
         |    AS avg_bytes,
         |  max(width) AS max_width, max(n_frames) AS max_frames
         |FROM media GROUP BY kind""".stripMargin,

    "mm_frames" ->
      s"""WITH media AS ($mediaSql)
         |SELECT media_id, CAST(unnest(range(0, CAST(n_frames AS BIGINT), 7))
         |  AS BIGINT) AS frame_id
         |FROM media WHERE kind = 'video'""".stripMargin,

    "d_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,

    "d_exact_dup" ->
      """SELECT md5(text) AS text_md5, count(*) AS n_docs,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1""".stripMargin,

    "d_quality" ->
      """SELECT doc_id, length(text) AS n_chars_text,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |    AS n_punct,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  round(CAST(length(text) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS avg_token_len
        |FROM documents""".stripMargin,

    // CAST: DuckDB sum(int) is HUGEINT, which the driver renders as float
    // while Spark's LongType renders integral — hash-mismatch on equal
    // values (the g_mutual_edges/mm_meta gotcha; round-2's only red row)
    "d_lang_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(CAST(sum(length(text)) AS DOUBLE) / count(*), 6) AS avg_len
        |FROM documents GROUP BY lang""".stripMargin,

    "d_lang_id" -> graft.text.TextFunctions.SqlText.langIdSql,
    "d_quality_score" -> graft.text.TextFunctions.SqlText.qualitySql,
    "d_fingerprint" -> graft.text.TextFunctions.SqlText.fingerprintSql,

    "d_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |t AS (SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' ')))
        |        AS tok FROM d),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
        |cm AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM t x JOIN t y ON x.tok = y.tok AND x.doc_id < y.doc_id
        |       GROUP BY x.doc_id, y.doc_id)
        |SELECT a, b, round(j, 6) AS jaccard FROM (
        |  SELECT cm.a, cm.b,
        |    CAST(cm.common AS DOUBLE) / (sa.sz + sb.sz - cm.common) AS j
        |  FROM cm JOIN sz sa ON sa.doc_id = cm.a
        |          JOIN sz sb ON sb.doc_id = cm.b)
        |WHERE j >= 0.05""".stripMargin,

    "d_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |t AS (SELECT DISTINCT doc_id,
        |        substr(text, CAST(i AS INTEGER), 5) AS tok
        |      FROM d, unnest(range(1, greatest(length(text) - 4, 0) + 1))
        |        AS u(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
        |cm AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM t x JOIN t y ON x.tok = y.tok AND x.doc_id < y.doc_id
        |       GROUP BY x.doc_id, y.doc_id)
        |SELECT a, b, round(j, 6) AS jaccard FROM (
        |  SELECT cm.a, cm.b,
        |    CAST(cm.common AS DOUBLE) / (sa.sz + sb.sz - cm.common) AS j
        |  FROM cm JOIN sz sa ON sa.doc_id = cm.a
        |          JOIN sz sb ON sb.doc_id = cm.b)
        |WHERE j >= 0.1""".stripMargin,

    "d_token_regex" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
        |    AS n_tokens_re
        |FROM documents""".stripMargin,

    // n_exact recomputed from raw text; n_false_pos=0 is a theorem
    // (per-pair exact verification); recall is pinned as a tolerance
    // contract (miss_ok with a 2%-of-n_exact budget, floor 1) because
    // banded-MinHash recall is probabilistic, not guaranteed (ADVICE r3
    // #3 — and indeed sf0.001 misses exactly one pair)
    "d_neardup_audit" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |t AS (SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' ')))
        |        AS tok FROM d),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
        |cm AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM t x JOIN t y ON x.tok = y.tok AND x.doc_id < y.doc_id
        |       GROUP BY x.doc_id, y.doc_id),
        |ex AS (SELECT a, b FROM cm JOIN sz sa ON sa.doc_id = cm.a
        |                           JOIN sz sb ON sb.doc_id = cm.b
        |       WHERE CAST(cm.common AS DOUBLE)
        |             / (sa.sz + sb.sz - cm.common) >= 0.8)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(0 AS BIGINT) AS n_false_pos,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST(floor(count(*) * 0.02) AS BIGINT)) AS miss_budget,
        |  TRUE AS miss_ok FROM ex""".stripMargin,

    "d_simhash_audit" ->
      """SELECT CAST(0 AS BIGINT) AS n_extra,
        |  CAST(0 AS BIGINT) AS n_missed""".stripMargin,

    "e_ann_ivf" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cell_id, v AS cvec FROM c
        |         ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
        |         LIMIT 16),
        |cs AS (SELECT c.vec_id, c.v, cent.cell_id,
        |         list_dot_product(c.v, cent.cvec) /
        |         (greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12) *
        |          greatest(sqrt(list_dot_product(cent.cvec, cent.cvec)),
        |                   1e-12)) AS csim
        |       FROM c CROSS JOIN cent),
        |assign AS (SELECT vec_id, v, cell_id AS cell FROM (
        |    SELECT vec_id, v, cell_id, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY csim DESC, cell_id ASC) AS rn
        |    FROM cs) WHERE rn = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, cell_id AS cell FROM (
        |    SELECT vec_id, v, cell_id, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY csim DESC, cell_id ASC) AS rn
        |    FROM cs WHERE vec_id < 3) WHERE rn <= 4),
        |s AS (SELECT p.qid, a.vec_id,
        |        list_dot_product(a.v, p.qv) /
        |        (greatest(sqrt(list_dot_product(a.v, a.v)), 1e-12) *
        |         greatest(sqrt(list_dot_product(p.qv, p.qv)), 1e-12)) AS cos
        |      FROM assign a JOIN probes p ON a.cell = p.cell),
        |r AS (SELECT qid, vec_id, cos, row_number() OVER
        |        (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
        |      FROM s)
        |SELECT qid, rank, vec_id, round(cos, 6) AS cos FROM r
        |WHERE rank <= 10""".stripMargin,

    // brute-force recomputation of the LSH near-dup query: sound because
    // the planted pairs sit at cos ≈ 0.998 where the auto-sized LSH's
    // per-pair miss probability is < 1e-7, and the background corpus has
    // no pairs above cos 0.8 — so LSH output == exact output
    "e_cos_neardup" ->
      s"""WITH c AS ($nearDupEmbSql),
         |p AS (SELECT x.vec_id AS a, y.vec_id AS b,
         |        list_dot_product(x.v, y.v) /
         |        (greatest(sqrt(list_dot_product(x.v, x.v)), 1e-12) *
         |         greatest(sqrt(list_dot_product(y.v, y.v)), 1e-12)) AS cos
         |      FROM c x JOIN c y ON x.vec_id < y.vec_id)
         |SELECT a, b, round(cos, 6) AS cos FROM p
         |WHERE cos >= 0.9""".stripMargin,

    // n_bf recomputed by brute force over the planted corpus; the two
    // discrepancy counts are pinned to 0 (see the query registration:
    // partner cos ≈ 0.998 ⇒ per-pair LSH miss probability < 3e-7, and
    // the outcome is deterministic for the fixed corpus+hyperplanes —
    // observed 0 at every shipped sf, an e_cos_neardup-style contract,
    // not a theorem)
    "e_ann_lsh_audit" ->
      s"""WITH c AS ($nearDupEmbSql),
         |q AS (SELECT vec_id AS qid, v AS qv FROM c
         |      WHERE vec_id % 10 = 0 AND vec_id < 30),
         |s AS (SELECT q.qid, c.vec_id,
         |        list_dot_product(c.v, q.qv) /
         |        (greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12) *
         |         greatest(sqrt(list_dot_product(q.qv, q.qv)), 1e-12)) AS cos
         |      FROM c CROSS JOIN q),
         |r AS (SELECT qid, vec_id, cos, row_number() OVER
         |        (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
         |      FROM s)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM r WHERE rank <= 2)
         |    AS n_bf,
         |  CAST(0 AS BIGINT) AS n_lsh_only,
         |  CAST(0 AS BIGINT) AS n_bf_only""".stripMargin,

    "e_ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT q.qid, c.vec_id,
        |        list_dot_product(c.v, q.qv) /
        |        (greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12) *
        |         greatest(sqrt(list_dot_product(q.qv, q.qv)), 1e-12)) AS cos
        |      FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, cos, row_number() OVER
        |        (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
        |      FROM s)
        |SELECT qid, rank, vec_id, round(cos, 6) AS cos FROM r
        |WHERE rank <= 10""".stripMargin
  )
}
