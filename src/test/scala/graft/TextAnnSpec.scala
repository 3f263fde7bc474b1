package graft

import org.apache.spark.sql.functions._
import graft.text.{Ann, Dedup}
import graft.util.Hashing

/** Recall contracts for the dedup / similarity operators (VERDICT r1
  * items 5–6): SimHash candidate generation must be pigeonhole-sound,
  * and multi-table LSH must hit a measured recall floor vs brute force. */
class TextAnnSpec extends SparkSpec {

  /** Seeded corpus: 12 template families × small word substitutions —
    * plenty of near-dup pairs at assorted Hamming/Jaccard distances. */
  private def corpus: Seq[(Long, String)] = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    (0L until 60L).map { i =>
      val fam = (i % 12).toInt
      val toks = (0 until 30).map { j =>
        // mutate ~2 positions per doc within a family
        val mutate = Hashing.uniformInt(15, 5L, i, j.toLong) == 0
        if (mutate) words(Hashing.uniformInt(12, 6L, i, j.toLong))
        else words((fam + j) % 12)
      }
      (i, toks.mkString(" "))
    }
  }

  test("compiled cosine UDF is bit-identical to the HOF expression form") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // assorted magnitudes/signs, incl. a zero vector (norm floor path)
    val vecs = Seq(
      (1L, Array(0.1, -2.5, 3.75, 1e-9)),
      (2L, Array(4.0, 4.0, -1.25, 0.125)),
      (3L, Array(0.0, 0.0, 0.0, 0.0)),
      (4L, Array(1e150, -1e150, 2.0, 3.0)),
      (5L, Array(0.3333333333333333, 0.1, -0.7, 2.2))).toDF("id", "v")
    val pairs = vecs.as("x").crossJoin(vecs.as("y"))
    val got = pairs.select(
        graft.text.Ann.cosine(col("x.v"), col("y.v")).as("udf"),
        graft.text.Ann.cosineExpr(col("x.v"), col("y.v")).as("expr"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("one-pass simhash UDF is bit-identical to the expression form") {
    val sp = spark
    import sp.implicits._
    // corpus plus edge shapes: empty string, punctuation-only, repeats,
    // and NULL text (ADVICE r4 #3: the expression form yields 0L there)
    val docs = (corpus ++ Seq((1000L, ""), (1001L, "x"),
      (1002L, "a a a b"), (1003L, "..,;!"),
      (1004L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val both = docs.select($"doc_id",
      graft.text.Dedup.simhash($"text").as("u"),
      graft.text.Dedup.simhashExpr($"text").as("e"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) &&
        (r.isNullAt(1) || r.getLong(1) == r.getLong(2)),
        s"doc ${r.getLong(0)}: udf=${r.get(1)} expr=${r.get(2)}")
    }
  }

  test("one-pass minhash UDF is bit-identical to the expression form") {
    val sp = spark
    import sp.implicits._
    // NULL text row: the expression form yields an array of 32 NULL
    // elements (not a NULL array) — ADVICE r4 #3
    val docs = (corpus ++ Seq((1000L, ""), (1001L, "x"),
      (1002L, "a a a b"), (1004L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val both = docs.select($"doc_id",
      graft.text.Dedup.minhashSignature($"text", 32).as("u"),
      graft.text.Dedup.minhashSignatureExpr($"text", 32).as("e"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) &&
        (r.isNullAt(1) ||
          r.getSeq[java.lang.Long](1) == r.getSeq[java.lang.Long](2)),
        s"doc ${r.getLong(0)}: udf=${r.get(1)} expr=${r.get(2)}")
    }
  }

  test("simhashPairs returns EXACTLY all pairs at Hamming dist <= maxDist") {
    val sp = spark
    import sp.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val maxDist = 8
    val got = Dedup.simhashPairs(docs, maxDist).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute force: simhash every doc, all-pairs popcount
    val sigs = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= maxDist
    } yield (a, b)).toSet

    assert(want.nonEmpty, "fixture must contain close pairs")
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("minhash nearDuplicates finds high-jaccard template pairs") {
    val sp = spark
    import sp.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.nearDuplicates(docs, threshold = 0.7)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // verification is exact: every returned pair really is >= threshold
    val textOf = corpus.toMap
    rows.foreach { case (a, b, j) =>
      def toks(s: String) = s.toLowerCase.split(" ").toSet
      val (ta, tb) = (toks(textOf(a)), toks(textOf(b)))
      val exact = ta.intersect(tb).size.toDouble / ta.union(tb).size
      assert(math.abs(exact - j) < 1e-6, s"pair ($a,$b)")
      assert(j >= 0.7)
    }
  }

  /** Planted embeddings: 3 query centers, 12 close neighbors each
    * (cos ≈ 0.99), 400 background vectors. */
  private def plantedEmbeddings: (Seq[(Long, Array[Float])], Seq[(Long, Array[Float])]) = {
    val dim = 16
    def unit(seedA: Long, seedB: Long): Array[Double] = {
      val v = Array.tabulate(dim)(d =>
        Hashing.u01(seedA, seedB, d.toLong) * 2.0 - 1.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = (0 until 3).map(q => unit(100L, q.toLong))
    val planted = for {
      q <- 0 until 3; j <- 0 until 12
    } yield {
      val noise = unit(200L, (q * 100 + j).toLong)
      val v = centers(q).zip(noise).map { case (c, e) => c + 0.08 * e }
      ((q * 12 + j).toLong, v.map(_.toFloat))
    }
    val background = (0 until 400).map(i =>
      ((100 + i).toLong, unit(300L, i.toLong).map(_.toFloat)))
    val queries = centers.zipWithIndex.map { case (c, q) =>
      (q.toLong, c.map(_.toFloat)) }
    (planted ++ background, queries)
  }

  test("lshTopK recall@10 >= 0.9 vs bruteForceTopK on planted neighbors") {
    val sp = spark
    import sp.implicits._
    val (corp, qs) = plantedEmbeddings
    val corpusDf = corp.toDF("vec_id", "embedding")
    val queryDf = qs.toDF("qid", "embedding")
    def topIds(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topIds(Ann.bruteForceTopK(corpusDf, queryDf, k = 10))
    val approx = topIds(Ann.lshTopK(corpusDf, queryDf, k = 10))
    (0L until 3L).foreach { q =>
      val recall = exact(q).intersect(approx.getOrElse(q, Set.empty)).size / 10.0
      assert(recall >= 0.9, s"q=$q recall=$recall")
    }
  }

  test("ivfTopK recall@10 >= 0.9 vs bruteForceTopK on planted neighbors") {
    val sp = spark
    import sp.implicits._
    val (corp, qs) = plantedEmbeddings
    val corpusDf = corp.toDF("vec_id", "embedding")
    val queryDf = qs.toDF("qid", "embedding")
    def topIds(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topIds(Ann.bruteForceTopK(corpusDf, queryDf, k = 10))
    val approx = topIds(Ann.ivfTopK(corpusDf, queryDf, k = 10,
      numCells = 16, nProbe = 6))
    (0L until 3L).foreach { q =>
      val recall = exact(q).intersect(approx.getOrElse(q, Set.empty)).size / 10.0
      assert(recall >= 0.9, s"q=$q recall=$recall")
    }
  }

  test("ngramJaccardPairs matches a driver-side shingle recomputation") {
    val sp = spark
    import sp.implicits._
    val docs = corpus.take(20).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, n = 5, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def shingles(s: String) =
      (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet
    val rows = corpus.take(20)
    val want = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      sa = shingles(ta); sb = shingles(tb)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.1
    } yield (a, b) -> j).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-9, s"$k") }
  }

  test("jaccard pairs skip null and empty token arrays under any size(null)") {
    val sp = spark
    import sp.implicits._
    // two null-text docs, two texts too short for a 5-gram, one real pair
    val docs = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String]), (3L, "ab"), (4L, "cd"),
      (5L, "same words here"), (6L, "same words here")).toDF("doc_id", "text")
    val conf = sp.conf
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      Seq(Seq("true", "false"), Seq("false", "true")).foreach { vals =>
        keys.zip(vals).foreach { case (k, v) => conf.set(k, v) }
        def pairs(df: org.apache.spark.sql.DataFrame) =
          df.select("a", "b").as[(Long, Long)].collect().toSet
        assert(pairs(Dedup.jaccardPairs(docs.where($"doc_id" <= 2), 0.5))
          .isEmpty, s"null-text pair under $vals")
        assert(pairs(Dedup.jaccardPairs(docs, 0.5)) == Set((5L, 6L)),
          s"word pairs under $vals")
        assert(pairs(Dedup.ngramJaccardPairs(docs, 5, 0.5)) == Set((5L, 6L)),
          s"5-gram pairs under $vals")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("cosineNearDuplicates recall >= 0.9 vs brute force at 0.95") {
    val sp = spark
    import sp.implicits._
    val (corp, _) = plantedEmbeddings
    val corpusDf = corp.toDF("vec_id", "embedding")
    val got = Ann.cosineNearDuplicates(corpusDf, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force pairs
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    val vecs = corp.toMap
    val want = (for {
      (a, va) <- corp; (b, vb) <- corp if a < b
      if cos(va, vb) >= 0.95
    } yield (a, b)).toSet
    assert(want.size >= 30, s"fixture too sparse: ${want.size}")
    val recall = got.intersect(want).size.toDouble / want.size
    assert(recall >= 0.9, s"recall=$recall want=${want.size} got=${got.size}")
    // precision is exact by construction (threshold re-checked on pairs)
    assert(got.subsetOf(want.union(want)), "threshold filter violated")
  }
}

/** metaStats exactness vs a driver-side recomputation (the registered
  * mm_meta query depends on these aggregates being value-exact). */
class MultimodalStatsSpec extends SparkSpec {
  import graft.media.Multimodal

  test("metaStats matches driver-side recomputation") {
    val media = Multimodal.synthetic(spark, 300L, seed = 11L)
    val rows = media.collect()
    val got = Multimodal.metaStats(media.toDF()).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_.kind).foreach { case (kind, items) =>
      val (n, bytes) = got(kind)
      assert(n == items.length, s"$kind n")
      assert(bytes == items.map(_.payload.length.toLong).sum, s"$kind bytes")
    }
  }
}
