package graft

import graft.operators.{Dedup, Multimodal, SimSearch, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different content entirely here now"),
    (5L, "unrelated words nothing shared with others")
  ).toDF("doc_id", "text")

  test("exact dedup groups duplicates under min doc_id") {
    val g = Dedup.exact(docs).filter(col("n_dups") > 1).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n_dups") == 2 && g.head.getAs[Long]("keep_id") == 1L)
  }

  test("simhash: identical text → identical hash; near dup within hamming") {
    val sh = Dedup.simhashesPortable(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <
      java.lang.Long.bitCount(sh(1L) ^ sh(4L)),
      "near dup must be closer in hamming space than unrelated text")
  }

  test("ngram jaccard pairs: integer threshold arithmetic") {
    // docs 1/3: 7 shared of 8∪8 distinct words → jaccard 7/9 ≈ 0.78
    val at70 = Dedup.ngramJaccardPairs(docs, minSharedPct = 70)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at70 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val at80 = Dedup.ngramJaccardPairs(docs, minSharedPct = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at80 == Set((1L, 2L)), "7/9 < 0.8 must be excluded")
  }

  test("brute-force cosine top-k: self is the best match") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = SimSearch.bruteForceTopK(emb, Seq(1.0f, 0.0f, 0.0f), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L, 1L, 2L))
  }

  test("quantized dot ranking agrees with cosine ranking on unit-ish vectors") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.7f, 0.7f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top = SimSearch.quantizedDotTopK(emb, Seq(1.0f, 0.0f), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L, 1L, 2L))
  }

  val sfEmb = "/root/testdata/sf0.01/embeddings.parquet"

  test("LSH ANN multi-probe: recall@20 >= 0.9 on clustered embeddings") {
    // the regime LSH is FOR: directionally clustered vectors (what real
    // embedding corpora look like). 10 tight clusters, query near cluster 0.
    val rng = new java.util.Random(7)
    val dim = 64
    val centers = Array.fill(10)(Array.fill(dim)(rng.nextGaussian() * 0.1))
    val rows = (0 until 500).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.005).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val query = centers(0).map(v => (v + rng.nextGaussian() * 0.005).toFloat).toSeq
    val brute = SimSearch.quantizedDotTopK(emb, query, 20)
      .collect().map(_.getLong(0)).toSet
    val lsh = SimSearch.lshTopK(emb, query, 20, bits = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = (lsh & brute).size / 20.0
    assert(recall >= 0.9, s"multi-probe LSH recall@20 = $recall")
  }

  test("LSH ANN on isotropic embeddings: recall beats the probed-fraction baseline") {
    // the driver testdata vectors are isotropic — no locality structure, so
    // NO sublinear method can reach 0.9 recall at a small probe fraction;
    // the honest gate is that bucketing captures directional signal: recall
    // must beat scanning a random subset of the same size by >= 1.5x
    val emb = spark.read.parquet(sfEmb)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val bits = 4
    val brute = SimSearch.quantizedDotTopK(emb, q, 20)
      .collect().map(_.getLong(0)).toSet
    val lsh = SimSearch.lshTopK(emb, q, 20, bits = bits)
      .collect().map(_.getLong(0)).toSet
    val recall = (lsh & brute).size / 20.0
    val qq = SimSearch.quantizeQuery(q)
    val qBucket = SimSearch.intBucketOf(qq, bits)
    val probes = qBucket +: (0 until bits).map(b => qBucket ^ (1L << b))
    val bucketed = emb.select(col("embedding"))
      .withColumn("bucket", SimSearch.intLshBucket(col("embedding"), q.length, bits))
    val frac = bucketed.filter(col("bucket").isin(probes: _*)).count().toDouble /
      bucketed.count()
    assert(recall >= 1.5 * frac && recall >= 0.5,
      s"recall@20 = $recall vs probed fraction $frac — no signal above random")
  }

  test("IVF ANN: probed-cell results recall >= 0.75 of brute-force top-20") {
    val emb = spark.read.parquet(sfEmb)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val brute = SimSearch.bruteForceTopK(emb, q, 20)
      .collect().map(_.getLong(0)).toSet
    val ivf = SimSearch.ivfTopK(emb, q, 20, nCells = 16, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (ivf & brute).size / 20.0
    assert(recall >= 0.75, s"IVF recall@20 = $recall")
  }

  test("prefix-filtered jaccard join equals the naive all-pairs form") {
    // prefix filtering is exact for ANY global token order — equality with
    // the naive quadratic form on random corpora is the whole contract
    val rng = new scala.util.Random(5)
    val vocabW = ('a' to 'z').map(_.toString)
    val docs = (0 until 120).map { i =>
      val n = 3 + rng.nextInt(12)
      (i.toLong, Seq.fill(n)(vocabW(rng.nextInt(vocabW.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (pct <- Seq(50, 60, 80)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val naive = rows(Dedup.ngramJaccardPairs(docs, pct))
      val prefix = rows(Dedup.ngramJaccardPairsPrefix(docs, pct))
      assert(prefix == naive,
        s"pct=$pct: prefix-filtered join diverged from the naive form " +
          s"(missing=${(naive -- prefix).take(3)}, extra=${(prefix -- naive).take(3)})")
    }
  }

  test("portable minhash-LSH candidates are verification-sound and find dups") {
    val pairs = Dedup.minhashLshCandidatesPortable(docs, shingleN = 3,
        bands = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup must collide in every band")
    assert(!pairs.contains((4L, 5L)), "unrelated docs must not be candidates")
    // verified output ⊆ the exact all-pairs jaccard qualifiers
    val verified = Dedup.lshVerifiedDupsPortable(docs, minSharedPct = 70)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, minSharedPct = 70)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((1L, 2L)), "exact dup must survive verification")
    assert(verified.subsetOf(exact), s"unsound pairs: ${verified -- exact}")
  }

  test("portable simhash: identical text → identical hash; near dup closer") {
    val sh = Dedup.simhashesPortable(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <
      java.lang.Long.bitCount(sh(1L) ^ sh(4L)),
      "near dup must be closer in hamming space than unrelated text")
  }

  test("portable fingerprint is order-sensitive; portable simhash is bag-of-words") {
    import graft.operators.TextAnalysis
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta alpha gamma delta"), // adjacent swap — fp must differ
      (3L, "delta gamma beta alpha"), // reversal — fp differs, simhash equal
      (4L, "alpha beta gamma delta")  // identical — fp equal
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprintsPortable(d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L) != fp(2L), "a fingerprint blind to token order is a bag hash")
    assert(fp(1L) != fp(3L))
    val sh = Dedup.simhashesPortable(d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L) && sh(1L) == sh(3L),
      "simhash is defined on the distinct word SET — order must not matter")
  }

  test("quantized cosine pairs: symmetric-threshold integer filter is exact") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // tau^2 = 81/100 (tau = 0.9): only (0,1) qualifies of the same-bucket pairs
    val got = SimSearch.quantizedCosinePairs(emb, tauNum = 81L, tauDen = 100L, bits = 2)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (a, b) => a < b })
    assert(got.contains((0L, 1L)), s"high-cosine pair missing from $got")
    assert(!got.contains((0L, 2L)) && !got.contains((0L, 3L)))
  }

  test("multimodal plumbing: deterministic stub decode, schema intact") {
    val media = Multimodal.fromDocuments(docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 5)
    val f1 = feats.find(_.doc_id == "1").get
    val f2 = feats.find(_.doc_id == "2").get
    assert(f1.n_bytes == 43 && f1.width == 64 + 43 % 640)
    assert(f1.feature.toSeq == f2.feature.toSeq, "same bytes → same features")
    assert(f1.feature.length == 8)
  }

  test("quantized_dot expression: floor semantics, HOF agreement, SQL registration") {
    import graft.functions.QuantizedDot
    val emb = Seq((0L, Seq(0.0015f, -0.9995f)), (1L, Seq(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val got = emb.select(col("vec_id"),
        QuantizedDot.quantized_dot(col("embedding"), col("embedding")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // floor(0.0015f→double ·1000)=1, floor(-0.9995f·1000)=-1000 (floor, not trunc)
    assert(got(0L) == 1L * 1L + 1000L * 1000L, s"got ${got(0L)}")
    assert(got(1L) == 1000L * 1000L + 2000L * 2000L)
    // agreement with the interpreted HOF formulation on real data
    val real = spark.read.parquet(sfEmb).limit(50)
    val q = transform(col("embedding"), x => floor(x.cast("double") * 1000).cast("long"))
    val hof = real.select(col("vec_id"),
        aggregate(zip_with(q, q, (x, y) => x * y), lit(0L), (a, v) => a + v).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expr = real.select(col("vec_id"),
        QuantizedDot.quantized_dot(col("embedding"), col("embedding")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr == hof, "fused expression must equal the HOF form exactly")
    // SQL registration path
    QuantizedDot.register(spark)
    emb.createOrReplaceTempView("qd_emb")
    val viaSql = spark.sql(
      "SELECT quantized_dot(embedding, embedding) FROM qd_emb WHERE vec_id = 1")
      .head().getLong(0)
    assert(viaSql == got(1L))
  }

  test("rolling hash expression: codegen and interpreted agree, distinct texts differ") {
    val out = docs.select(col("doc_id"),
      graft.functions.RollingHash.rolling_hash(col("text")).as("fp")).collect()
    val m = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(4L))
    // matches the reference implementation run driver-side
    val expected = graft.functions.RollingHashExpr.hash(
      "the quick brown fox jumps over the lazy dog".getBytes("UTF-8"))
    assert(m(1L) == expected)
    // SQL registration path
    graft.functions.RollingHash.register(spark)
    docs.createOrReplaceTempView("rh_docs")
    val viaSql = spark.sql("SELECT rolling_hash(text) AS fp FROM rh_docs WHERE doc_id = 1")
      .head().getLong(0)
    assert(viaSql == expected)
  }

  test("decontaminate flags 8-gram overlap and whole-doc containment for short docs") {
    val evalSet = Seq(
      (100L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),
      (101L, "tiny dup")).toDF("doc_id", "text")
    val corpus = Seq(
      // carries eval 100's window e2..e9 — exactly one shared 8-gram
      (1L, "x1 x2 e2 e3 e4 e5 e6 e7 e8 e9 y1 y2"),
      (2L, "clean words only nothing shared here at all okay sure"),
      // sub-8-word exact dup of eval 101
      (3L, "tiny dup"),
      // short EVAL doc embedded in a long corpus doc — containment branch
      (4L, "tiny dup plus six more filler words here"),
      // short CORPUS doc embedded in eval 100 — symmetric containment
      (5L, "e3 e4 e5")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, evalSet, shingleN = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 3L, 4L, 5L), "doc 2 is clean and must not flag")
    assert(out(1L) == ((1L, 1L)), "one eval doc, one shared 8-gram")
    assert(out(3L) == ((1L, 1L)), "short exact dup flags")
    assert(out(4L) == ((1L, 1L)), "short eval doc contained in long corpus doc flags")
    assert(out(5L) == ((1L, 1L)), "short corpus doc contained in eval doc flags")
    // the shuffled-join fallback for oversized eval sets is semantically
    // identical — only the physical join strategy changes
    val unhinted = Dedup.decontaminate(corpus, evalSet, shingleN = 8,
        broadcastEval = false)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(unhinted == out)
  }

  test("decontaminateBloom equals decontaminate (prefilter is lossless)") {
    val evalSet = Seq(
      (100L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),
      (101L, "tiny dup")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x1 x2 e2 e3 e4 e5 e6 e7 e8 e9 y1 y2"),
      (2L, "clean words only nothing shared here at all okay sure"),
      (3L, "tiny dup"),
      (4L, "tiny dup plus six more filler words here"),
      (5L, "e3 e4 e5")).toDF("doc_id", "text")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = toMapOf(Dedup.decontaminate(corpus, evalSet, shingleN = 8))
    val bloom = toMapOf(Dedup.decontaminateBloom(corpus, evalSet, shingleN = 8))
    assert(bloom == exact)
    // a deliberately saturated filter (64 bits for every eval gram →
    // near-100% fpp) must still be EXACT: false positives only cost the
    // downstream join work the prefilter would have saved
    val saturated = toMapOf(Dedup.decontaminateBloom(corpus, evalSet,
      shingleN = 8, expectedGrams = 4L, numBits = 64L))
    assert(saturated == exact)
  }

  test("decontaminateBloom: eval set with no full-length grams (null filter path)") {
    // every eval doc is sub-8-word → zero 8-grams → BloomFilterAggregate
    // yields null; the full branch is provably empty and only the
    // containment branches can fire
    val evalSet = Seq((100L, "tiny dup")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "tiny dup plus six more filler words here"),
      (2L, "clean words only nothing shared here at all okay sure"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateBloom(corpus, evalSet, shingleN = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((1L, 1L))))
  }

  test("repetition: duplicate n-gram fractions match hand-computed values") {
    val d = Seq((1L, "a b a b c"), (2L, "x"), (3L, "w w w w")).toDF("doc_id", "text")
    val m = TextAnalysis.repetition(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Int]("bi_total") == 4 && m(1L).getAs[Int]("bi_distinct") == 3)
    assert(m(1L).getAs[Double]("bi_dup_frac") == 0.25)
    assert(m(1L).getAs[Int]("tri_total") == 3 &&
      m(1L).getAs[Double]("tri_dup_frac") == 0.0)
    assert(m(2L).getAs[Int]("bi_total") == 0 &&
      m(2L).getAs[Double]("bi_dup_frac") == 0.0, "sub-n doc: zero windows, frac 0")
    assert(m(3L).getAs[Int]("bi_total") == 3 && m(3L).getAs[Int]("bi_distinct") == 1)
    assert(m(3L).getAs[Double]("bi_dup_frac") == 1.0 - 1.0 / 3.0)
    assert(m(3L).getAs[Int]("tri_total") == 2 &&
      m(3L).getAs[Double]("tri_dup_frac") == 0.5)
    // each window array must be BUILT once (staged projections): a
    // collapsed plan would instantiate the transform+concat_ws tree ~4x
    // per n (HOF trees escape subexpression elimination). repartition
    // blocks ConvertToLocalRelation from pre-evaluating the projections.
    val plan = TextAnalysis.repetition(d.repartition(2))
      .queryExecution.optimizedPlan.toString
    val nBuilds = "concat_ws".r.findAllIn(plan).size
    assert(nBuilds == 2, s"expected 2 window-array builds, found $nBuilds:\n$plan")
  }

  test("stratified sample: exact LCG keep rule, nominal rates, repartition-stable") {
    import graft.operators.Sampling
    val ids = 0L until 2000L
    val df = ids.map(i => (i, if (i % 2 == 0) "a b" else "a b c")).toDF("doc_id", "text")
    val stratum = when(col("doc_id") % 2 === 0, "even").otherwise("odd")
    val out = Sampling.stratifiedSample(df, col("doc_id"), stratum,
      Seq("even" -> 100, "odd" -> 900)).select("doc_id", "stratum", "coin").collect()
    // exact keep rule vs direct evaluation of the same integer arithmetic
    val (a, b, p) = (Dedup.HashA(0), Dedup.HashB(0), Dedup.HashP)
    def coin(i: Long) = ((a * i + b) % p) % 1000
    val expected = ids.filter(i => coin(i) < (if (i % 2 == 0) 100 else 900)).toSet
    assert(out.map(_.getLong(0)).toSet == expected)
    // kept fractions near nominal (the LCG coin is uniform over ids)
    val evenKept = out.count(_.getString(1) == "even")
    val oddKept = out.count(_.getString(1) == "odd")
    assert(math.abs(evenKept - 100) < 40 && math.abs(oddKept - 900) < 40,
      s"evenKept=$evenKept oddKept=$oddKept")
    // the sample is a pure function of the row: repartitioning changes nothing
    // (rand(seed) fails exactly this)
    val again = Sampling.stratifiedSample(df.repartition(7), col("doc_id"), stratum,
      Seq("even" -> 100, "odd" -> 900)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == expected)
    // a stratum with no listed rate keeps everything (defaultPermille 1000)
    val defaulted = Sampling.stratifiedSample(df, col("doc_id"), stratum,
      Seq("even" -> 100)).select("doc_id", "stratum", "coin").collect()
    assert(defaulted.count(_.getString(1) == "odd") == 1000,
      "unlisted stratum must fall back to keep-all")
    assert(defaulted.count(_.getString(1) == "even") == evenKept)
  }

  /** Naive reference for the decontamination match rule: n-gram overlap
    * for docs ≥ n words, whole-doc window containment when either side is
    * shorter. Same distinct-gram-string counting as the operator. */
  private def naiveDecontam(corpus: Seq[(Long, String)], evalSet: Seq[(Long, String)],
                            n: Int): Map[Long, (Long, Long)] = {
    def w(s: String) = s.split(" ", -1).toSeq
    def windows(ws: Seq[String], l: Int): Set[String] =
      if (ws.length >= l) ws.sliding(l).map(_.mkString(" ")).toSet else Set.empty
    corpus.flatMap { case (cid, ct) =>
      val cws = w(ct)
      val perEval = evalSet.map { case (eid, et) =>
        val ews = w(et)
        var shared = Set.empty[String]
        if (cws.length >= n && ews.length >= n)
          shared ++= (windows(cws, n) intersect windows(ews, n))
        if (ews.length < n && cws.length >= ews.length) {
          val g = ews.mkString(" ")
          if (windows(cws, ews.length).contains(g)) shared += g
        }
        if (cws.length < n && ews.length >= cws.length) {
          val g = cws.mkString(" ")
          if (windows(ews, cws.length).contains(g)) shared += g
        }
        (eid, shared)
      }
      val hits = perEval.filter(_._2.nonEmpty)
      if (hits.isEmpty) None
      else Some(cid -> ((hits.size.toLong, hits.flatMap(_._2).toSet.size.toLong)))
    }.toMap
  }

  test("decontaminate equals the naive containment reference on randomized corpora") {
    val vocab = Vector("a", "b", "c", "d")
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      def mkText() =
        Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val corpus = (1L to 30L).map(i => (i, mkText()))
      val evalSet = (101L to 108L).map(i => (i, mkText()))
      val expected = naiveDecontam(corpus, evalSet, n = 4)
      val got = Dedup.decontaminate(corpus.toDF("doc_id", "text"),
          evalSet.toDF("doc_id", "text"), shingleN = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected, s"seed $seed: got $got\nexpected $expected")
    }
  }

  test("count-min sketch: estimates equal the brute-force cells, est >= exact") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "aa bb aa cc dd"), (2L, "aa bb ee ff gg hh"), (3L, "aa ii jj"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.cmsTokenCounts(docs, depth = 3, width = 8)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // brute-force reference with the same constants
    val toks = Seq("aa","bb","aa","cc","dd","aa","bb","ee","ff","gg","hh",
      "aa","ii","jj")
    val exact = toks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tid = exact.keys.toSeq.sorted.zipWithIndex
      .map { case (t, i) => t -> (i + 1L) }.toMap
    def bucket(j: Int, t: String): Long =
      ((Dedup.HashA(j) * tid(t) + Dedup.HashB(j)) % Dedup.HashP) % 8
    // keys.toSeq: a Set inner generator would DEDUP equal ((j,b),n) pairs
    val cells = (for { j <- 0 until 3; t <- exact.keys.toSeq } yield
      ((j, bucket(j, t)), exact(t))).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sum }
    val est = exact.keys.map(t =>
      t -> (0 until 3).map(j => cells((j, bucket(j, t)))).min).toMap
    assert(got == exact.map { case (t, n) => t -> ((n, est(t))) })
    assert(got.forall { case (t, (ex, es)) => es >= ex })
    // pigeonhole: depth 1, width 2, 10 tokens -> collisions must overcount
    val tight = TextAnalysis.cmsTokenCounts(docs, depth = 1, width = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(tight.forall { case (ex, es) => es >= ex })
    assert(tight.exists { case (ex, es) => es > ex },
      "2 buckets over 10 tokens must collide somewhere")
  }

  test("KMV distinct sketch: exact below k, reference-equal estimate above") {
    import graft.operators.TextAnalysis
    // lang "aa": 3 distinct tokens (< k=16) -> the exact fallback;
    // lang "bb": 200 distinct tokens -> the (k-1)*P/h_k estimator
    val big = (1 to 200).map(i => ("bb", s"tok$i bridge")).toSeq
    val docs = (Seq(("aa", "x y z"), ("aa", "x y")) ++ big)
      .toDF("lang", "text")
    val got = TextAnalysis.kmvDistinctTokens(docs, k = 16)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got("aa") == ((3L, 3L)), "small set must fall back to exact")
    // brute-force reference: same vocab rank, same hash, same estimator
    val allToks = (Seq("x y z", "x y") ++ big.map(_._2))
      .flatMap(_.split(" ")).distinct.sorted
    val tid = allToks.zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap
    val bbToks = (big.map(_._2).flatMap(_.split(" "))).distinct
    val hashes = bbToks.map(t =>
      (Dedup.HashA(4) * tid(t) + Dedup.HashB(4)) % Dedup.HashP)
      .distinct.sorted
    val hk = hashes(15) // 16th smallest
    val want = 15L * Dedup.HashP / hk
    assert(got("bb") == ((201L, want)), s"got ${got("bb")}, want (201, $want)")
    // estimator sanity: within the expected KMV error band for k=16
    assert(want > 201 / 2 && want < 201 * 2,
      s"estimate $want implausibly far from 201")
  }

  test("keyTerms: integer idf ranking, ties by term, null docs excluded") {
    val kt = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common"),
      (3L, "common common date"),
      (5L, "x y"),
      (6L, null)).toDF("doc_id", "text")
    val got = TextAnalysis.keyTerms(kt, k = 2)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    // n_docs = 4 (null excluded); idf surrogate = 4000 // df
    assert(got == Set(
      (1L, 1L, "apple", 2L, 1L, 8000L), // tf 2 beats every idf-4000 term
      (1L, 2L, "banana", 1L, 2L, 2000L),
      (2L, 1L, "cherry", 1L, 1L, 4000L),
      (2L, 2L, "banana", 1L, 2L, 2000L),
      (3L, 1L, "date", 1L, 1L, 4000L),
      (3L, 2L, "common", 2L, 3L, 2666L), // 2 * (4000 div 3 = 1333)
      (5L, 1L, "x", 1L, 1L, 4000L), // score tie with y -> term ascending
      (5L, 2L, "y", 1L, 1L, 4000L)))
    // k larger than a doc's vocabulary returns the whole vocabulary
    assert(TextAnalysis.keyTerms(kt, k = 10)
      .filter(col("doc_id") === 5L).count() == 2)
  }

  test("weighted exact-k: A-ES priorities match the brute-force reference") {
    import graft.operators.Sampling
    // 40 docs across 2 langs, weights 1..12 cycling; k=5
    val docs = (1 to 40).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de",
        Seq.fill(1 + i % 12)("w").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val got = Sampling.weightedExactK(docs, col("doc_id"), col("lang"),
        size(split(col("text"), " ")), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = (1 to 40).map { i =>
      val w = (1 + i % 12).toLong
      val h = java.lang.Math.floorMod(
        Dedup.HashA(5) * i + Dedup.HashB(5), Dedup.HashP)
      (if (i % 2 == 0) "en" else "de", i.toLong, h / w)
    }.groupBy(_._1).flatMap { case (lang, rows) =>
      rows.sortBy(r => (r._3, r._2)).take(5).zipWithIndex
        .map { case ((l, id, _), j) => (l, id, (j + 1).toLong) }
    }.toSet
    assert(got == want)
    // a null-text (weight-less) doc competes at weight 1, never crashes
    val withNull = docs.unionByName(
      Seq((99L, "en", null.asInstanceOf[String])).toDF("doc_id", "lang", "text"))
    val n = Sampling.weightedExactK(withNull, col("doc_id"), col("lang"),
      size(split(col("text"), " ")), k = 5).count()
    assert(n == 10L)
  }

  test("decontaminate never shuffle-joins the corpus (every join is broadcast)") {
    val plan = Dedup.decontaminate(docs, docs.limit(2), shingleN = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus side must never be shuffle-joined:\n$plan")
  }
}
