package graft

import graft.operators.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 curation-depth operators: PII redaction, repeated-passage
  * detection, cross-source overlap census, mixture rebalancing, and the
  * hashed linear classifier — each against hand-computed expectations.
  */
class CurationDepthSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  // ------------------------------ PII redaction -----------------------------

  private def redact(texts: (Long, String)*): Map[Long, (String, Long, Long, Long)] =
    TextAnalysis.piiRedact(texts.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("piiRedact masks emails, IPs and phones with sequential counts") {
    val out = redact(
      1L -> "reach user123@m3.example.com now",
      2L -> "host 10.34.102.170 up",
      3L -> "call +3 512 298 4032 ok",
      4L -> "multi a@b.co and c@d.org end",
      5L -> "plain words only here")
    assert(out(1L) == (("reach <EMAIL> now", 1L, 0L, 0L)))
    assert(out(2L) == (("host <IP> up", 0L, 1L, 0L)))
    assert(out(3L) == (("call <PHONE> ok", 0L, 0L, 1L)))
    assert(out(4L) == (("multi <EMAIL> and <EMAIL> end", 2L, 0L, 0L)))
    assert(out(5L) == (("plain words only here", 0L, 0L, 0L)))
  }

  test("piiRedact pass order: an @IP address is an IP hit, not a double count") {
    // x@10.1.2.3 is NOT an email (no alpha TLD), so the email pass leaves
    // it and the IP pass redacts the host part — exactly once.
    val out = redact(1L -> "x@10.1.2.3 tricky", 2L -> "1.2.3.4.5 chain")
    assert(out(1L) == (("x@<IP> tricky", 0L, 1L, 0L)))
    // leftmost-first: the first four octets match, the tail survives
    assert(out(2L) == (("<IP>.5 chain", 0L, 1L, 0L)))
  }

  test("piiRedact: null text stays null with zero counts") {
    val out = TextAnalysis.piiRedact(
      Seq((1L, Option.empty[String])).toDF("doc_id", "text")).collect()
    assert(out.length == 1 && out(0).isNullAt(1) &&
      out(0).getLong(2) == 0L && out(0).getLong(3) == 0L && out(0).getLong(4) == 0L)
  }

  test("withPlantedPii plants on the doc_id residues and propagates null") {
    val planted = TextAnalysis.withPlantedPii(
      Seq((2L, Some("base")), (4L, Some("base")), (6L, Some("base")),
        (0L, Some("base")), (9L, Option.empty[String])).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(planted(2L).get == "base contact user2@m2.example.com now")
    assert(planted(4L).get == "base host 10.4.12.20 up")
    assert(planted(6L).get == "base call +7 106 118 1006 ok")
    assert(planted(0L).get == "base")
    assert(planted(9L).isEmpty) // 9 % 7 == 2 but null text stays null
  }

  // ------------------------- repeated-passage detection ----------------------

  private def toks(p: String, n: Int): String = (1 to n).map(p + _).mkString(" ")

  test("dupPassages merges cross-doc duplicated windows into maximal intervals") {
    val shared12 = toks("S", 12)
    val docs = Seq(
      1L -> s"${toks("x", 5)} $shared12 ${toks("y", 5)}", // S at pos 5..16
      2L -> s"$shared12 ${toks("z", 8)}",                 // S at pos 0..11
      3L -> toks("u", 30),                                // nothing shared
      4L -> toks("S", 8)                                  // first 8 of S only
    ).toDF("doc_id", "text")
    val out = Dedup.dupPassages(docs, k = 8, minDocs = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // five windows fit inside the 12-token run; they merge into one span
    assert(out == Set((1L, 5L, 17L, 5L), (2L, 0L, 12L, 5L), (4L, 0L, 8L, 1L)))
  }

  test("dupPassages ignores intra-doc self-repetition and short docs") {
    val rep = toks("R", 8)
    val docs = Seq(
      5L -> s"$rep $rep ${toks("q", 4)}", // the same window twice, ONE doc
      6L -> toks("w", 7)                  // < k tokens, no windows
    ).toDF("doc_id", "text")
    assert(Dedup.dupPassages(docs, k = 8, minDocs = 2L).count() == 0L)
  }

  test("removePassages strips flagged spans; full duplicates empty out") {
    val shared12 = toks("S", 12)
    val docs = Seq(
      1L -> s"${toks("x", 5)} $shared12 ${toks("y", 5)}",
      2L -> s"$shared12 ${toks("z", 8)}",
      3L -> toks("u", 30),
      4L -> toks("S", 8)
    ).toDF("doc_id", "text")
    val out = Dedup.removePassages(docs, Dedup.dupPassages(docs, k = 8, minDocs = 2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, s"${toks("x", 5)} ${toks("y", 5)}", 12L),
      (2L, toks("z", 8), 12L),
      (3L, toks("u", 30), 0L),   // untouched: canonical token stream back
      (4L, "", 8L)))             // fully duplicated -> empty, not dropped
  }

  test("removePassages conserves tokens: kept + removed == original, every doc") {
    // seeded random word soup over a 9-word vocabulary — plenty of shared
    // 8-gram runs across 60 docs, none hand-placed
    val rng = new scala.util.Random(4242)
    val vocab = ('a' to 'i').map(_.toString)
    val docs = (1L to 60L).map(id =>
      id -> Seq.fill(5 + rng.nextInt(40))(vocab(rng.nextInt(vocab.size))).mkString(" "))
      .toDF("doc_id", "text")
    val orig = docs.collect().map(r =>
      r.getLong(0) -> r.getString(1).split(" ").length.toLong).toMap
    val cleaned = Dedup.removePassages(docs, Dedup.dupPassages(docs, k = 8, minDocs = 2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(cleaned.length == 60)
    cleaned.foreach { case (id, clean, removed) =>
      val kept = if (clean.isEmpty) 0L else clean.split(" ").length.toLong
      assert(kept + removed == orig(id),
        s"doc $id: kept $kept + removed $removed != ${orig(id)}")
    }
  }

  test("piiRedact is idempotent: a redacted corpus has nothing left to redact") {
    val once = TextAnalysis.piiRedact(TextAnalysis.withPlantedPii(
      Queries.table(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("clean_text").as("text"))
    val twice = TextAnalysis.piiRedact(once).collect()
    twice.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == 0L && r.getLong(4) == 0L,
        s"doc ${r.getLong(0)}: masks must not re-match")
    }
    val pairs = once.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    twice.foreach(r =>
      assert(Option(r.getString(1)) == pairs(r.getLong(0)), "text must be a fixed point"))
  }

  test("urlFlags matches on the registered domain, subdomains included") {
    val docs = Seq(
      1L -> "visit https://ads.bad.org/x now",     // subdomain of blocked
      2L -> "visit https://bad.org plain",         // apex, no path
      3L -> "visit https://good.net/ok fine",      // not blocked
      4L -> "two https://a.bad.org/1 and https://b.bad.org/2", // both flagged
      5L -> "no urls at all here",
      6L -> "see https://ads.bad.org. next",       // sentence-final dot
      7L -> "end of line https://bad.org.").toDF("doc_id", "text")
    val bl = Seq("bad.org").toDF("domain")
    val out = TextAnalysis.urlFlags(docs, bl).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set(
      (1L, "https://ads.bad.org/x"),
      (2L, "https://bad.org"),
      (4L, "https://a.bad.org/1"),
      (4L, "https://b.bad.org/2"),
      (6L, "https://ads.bad.org"),  // terminal punctuation stays outside
      (7L, "https://bad.org")))
  }

  test("tokenDrift ranks by exact ppm divergence with a deterministic cut") {
    // A: x x y (tot 3) vs B: y z (tot 2). ppm: x 666666↔0 (diff 666666),
    // z 0↔500000 (500000), y 333333↔500000 (166667)
    val a = Seq(1L -> "x x y").toDF("doc_id", "text")
    val b = Seq(2L -> "y z").toDF("doc_id", "text")
    val all = TextAnalysis.tokenDrift(a, b, topN = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(all.toSeq == Seq(
      ("x", 2L, 0L, 666666L, 0L, 666666L),
      ("z", 0L, 1L, 0L, 500000L, 500000L),
      ("y", 1L, 1L, 333333L, 500000L, 166667L)))
    // topN cuts deterministically
    assert(TextAnalysis.tokenDrift(a, b, topN = 2).collect()
      .map(_.getString(0)).toSeq == Seq("x", "z"))
  }

  test("corpusAuditOver reports volumes, dup and quality counts per lang") {
    val good = (1 to 60).map(i => f"wrd$i%03d").mkString(" ")
    val docs = Seq(
      (1L, Some("en"), Some(good)),            // passes both gates
      (2L, Some("en"), Some("tiny")),           // fails word count
      (3L, Some("de"), Some("dup words here")), // cluster rep
      (4L, Some("de"), Some("dup words here")), // duplicate of 3
      (5L, Option.empty[String], Option.empty[String]))
      .toDF("doc_id", "lang", "text")
    val keep = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "keep_id")
    val out = Queries.corpusAuditOver(docs, keep).collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(out(Some("en")) == ((2L, 0L, 1L, 61L)))
    assert(out(Some("de")) == ((2L, 1L, 0L, 6L)))
    assert(out(None) == ((1L, 0L, 0L, -1L)), "all-null-text group: null tokens")
  }

  test("clusterSizeHistogram counts clusters by size, singletons included") {
    val keepList = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // one cluster of 3
      (4L, 4L), (5L, 4L),             // one of 2
      (6L, 6L), (7L, 7L)              // two singletons
    ).toDF("doc_id", "keep_id")
    val out = Dedup.clusterSizeHistogram(keepList).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(3L -> 1L, 2L -> 1L, 1L -> 2L))
  }

  // ------------------------- cross-source overlap census ---------------------

  test("crossSourceOverlap counts shared distinct grams per source pair") {
    val a8 = toks("A", 8)
    val docs = Seq(
      (1L, Some("s1"), s"$a8 f1 f2"),   // 3 windows
      (2L, Some("s2"), s"$a8 g1"),      // 2 windows
      (3L, Some("s2"), toks("h", 8)),   // 1 window, unique
      (4L, Some("s3"), a8),             // 1 window
      (5L, Option.empty[String], a8)    // null source: excluded
    ).toDF("doc_id", "source", "text")
    val out = Dedup.crossSourceOverlap(docs, k = 8).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      ("s1", "s2") -> ((1L, 3L, 3L)),
      ("s1", "s3") -> ((1L, 3L, 1L)),
      ("s2", "s3") -> ((1L, 3L, 1L))))
  }

  // ----------------------------- mixture rebalance ---------------------------

  test("mixtureSample caps minority rates at 1000 and cuts the majority") {
    val docs = ((1L to 8L).map(i => (i, Some("en"))) ++
      Seq((9L, Some("de")), (10L, Some("de")),
        (11L, Option.empty[String]), (12L, Option.empty[String])))
      .toDF("doc_id", "lang")
    val out = Sampling.mixtureSample(docs, col("doc_id"), col("lang"))
      .select(col("doc_id"), col("rate_pm"), col("coin")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // total 12, 3 groups: en 12000/(3*8)=500; de and null cap at 1000
    assert(Seq(9L, 10L, 11L, 12L).forall(id => out(id)._1 == 1000L))
    val coin = (id: Long) => Math.floorMod(
      Math.floorMod(Dedup.HashA(1) * id + Dedup.HashB(1), Dedup.HashP), 1000L)
    (1L to 8L).foreach { id =>
      assert(out.contains(id) == (coin(id) < 500L))
      out.get(id).foreach { case (r, c) => assert(r == 500L && c == coin(id)) }
    }
  }

  test("mixtureSample is stable under repartitioning and broadcasts the rates") {
    val docs = (1L to 40L).map(i => (i, if (i % 4 == 0L) "de" else "en"))
      .toDF("doc_id", "lang")
    val once = Sampling.mixtureSample(docs, col("doc_id"), col("lang"))
    val again = Sampling.mixtureSample(docs.repartition(7), col("doc_id"), col("lang"))
    assert(once.select("doc_id").collect().map(_.getLong(0)).toSet ==
      again.select("doc_id").collect().map(_.getLong(0)).toSet)
    // the rates join must be broadcast — a data-sized shuffle there would
    // defeat the operator's no-shuffle contract
    val plan = once.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast rates join in:\n$plan")
  }

  test("piiRedact composes with a stream: ingestion-time scrubbing") {
    // a pure projection needs no state or watermark — the same expression
    // tree runs per micro-batch, which is how a production ingest scrubs
    // PII before anything lands on disk
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = TextAnalysis.piiRedact(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_pii_stream").start()
    try {
      input.addData(1L -> "reach user1@m.example.com now", 2L -> "plain words")
      q.processAllAvailable()
      input.addData(3L -> "host 10.1.2.3 up")
      q.processAllAvailable()
      val rows = spark.table("graft_pii_stream").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2) + r.getLong(3))).toMap
      assert(rows(1L) == (("reach <EMAIL> now", 1L)))
      assert(rows(2L) == (("plain words", 0L)))
      assert(rows(3L) == (("host <IP> up", 1L)))
    } finally q.stop()
  }

  test("mixtureSampleTo rebalances toward weighted targets; unlisted groups drop") {
    // a:4 docs, b:12, c:2 (unlisted) — total 18. target a=750000ppm →
    // rate (750000·18) div (1000·4) = 3375 → cap 1000 (upsample-capped);
    // target b=250000ppm → (250000·18) div (1000·12) = 375‰.
    val docs = ((1L to 4L).map((_, "a")) ++ (5L to 16L).map((_, "b")) ++
      Seq((17L, "c"), (18L, "c"))).toDF("doc_id", "lang")
    val targets = Seq("a" -> 750000L, "b" -> 250000L).toDF("grp", "target_ppm")
    val out = Sampling.mixtureSampleTo(docs, col("doc_id"), col("lang"), targets)
      .select(col("doc_id"), col("lang"), col("rate_pm")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(!out.values.exists(_._1 == "c"), "unlisted groups must drop")
    assert((1L to 4L).forall(id => out(id) == (("a", 1000L))))
    val coin = (id: Long) => Math.floorMod(
      Math.floorMod(Dedup.HashA(1) * id + Dedup.HashB(1), Dedup.HashP), 1000L)
    (5L to 16L).foreach { id =>
      assert(out.contains(id) == (coin(id) < 375L))
      out.get(id).foreach(v => assert(v == (("b", 375L))))
    }
  }

  test("urlFlags composes with a stream: ingestion-time blocklist guard") {
    // the blocklist side is static, so the stream-static broadcast join
    // runs per micro-batch — the production shape of an ingest-time
    // domain filter
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = TextAnalysis.urlFlags(
        input.toDF().toDF("doc_id", "text"),
        Seq("bad.org").toDF("domain"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_url_stream").start()
    try {
      input.addData(1L -> "see https://x.bad.org/1 now", 2L -> "clean doc")
      q.processAllAvailable()
      input.addData(3L -> "late https://bad.org. arrival")
      q.processAllAvailable()
      val flagged = spark.table("graft_url_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(flagged == Set(
        (1L, "https://x.bad.org/1"), (3L, "https://bad.org")))
    } finally q.stop()
  }

  // --------------------------- hashed linear classifier ----------------------

  test("classifierScore computes the LCG-weighted logit over dense token ids") {
    import TextAnalysis.{ClsA, ClsB, ClsDim}
    val docs = Seq((1L, Some("a b")), (2L, Some("c")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val w = (tid: Long) => Math.floorMod(
      Math.floorMod(ClsA * (tid % ClsDim) + ClsB, Dedup.HashP), 2001L) - 1000L
    // sorted distinct vocabulary: a->1, b->2, c->3
    val out = TextAnalysis.classifierScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out.keySet == Set(1L, 2L)) // null-text doc carries no features
    assert(out(1L)._1 == w(1) + w(2))
    assert(out(2L)._1 == w(3))
    out.foreach { case (_, (logit, keep)) =>
      assert(keep == (if (logit > 0) 1 else 0))
    }
  }

  // --------------------------- exact-k sampling -----------------------------

  /** The LCG coin stratifiedExactK ranks by, reproduced in Scala. */
  private def h3(id: Long): Long = Math.floorMod(
    Dedup.HashA(3) * id + Dedup.HashB(3), Dedup.HashP)

  /** Naive reference: per stratum, the min(k, n) smallest (h, id) rows. */
  private def naiveExactK(rows: Seq[(Long, Option[String])], k: Int)
      : Set[(Option[String], Long, Long)] =
    rows.groupBy(_._2).flatMap { case (s, g) =>
      g.map(_._1).sortBy(id => (h3(id), id)).take(k)
        .zipWithIndex.map { case (id, i) => (s, id, i + 1L) }
    }.toSet

  private def runExactK(rows: Seq[(Long, Option[String])], k: Int)
      : Set[(Option[String], Long, Long)] = {
    val df = rows.map { case (id, s) => (id, s.orNull) }
      .toDF("doc_id", "stratum")
      .repartition(5) // defeat ConvertToLocalRelation; exercise the joins
    Sampling.stratifiedExactK(df, col("doc_id"), col("stratum"), k)
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
  }

  test("stratifiedExactK equals the naive top-k: mixed strata, null stratum, n < k") {
    val rows =
      (1L to 400L).map(i => (i, Some("big"))) ++          // n >> k
      (401L to 407L).map(i => (i, Some("small"))) ++       // n < k
      (501L to 560L).map(i => (i, Option.empty[String]))   // null stratum
    val got = runExactK(rows, k = 10)
    assert(got == naiveExactK(rows, 10))
    assert(got.count(_._1.contains("small")) == 7, "n < k keeps the whole stratum")
    assert(got.count(_._1.isEmpty) == 10, "null stratum samples like any other")
  }

  test("stratifiedExactK fallback: a stratum whose smallest hashes all miss the threshold") {
    // adversarial ids — every row of the stratum hashes into the TOP
    // quarter of [0, P), so the ~(2k+64)/n-quantile threshold keeps zero
    // survivors and the per-stratum full-rank fallback must fire; the
    // result must still be exact
    val adversarial = Iterator.from(1)
      .map(_.toLong).filter(id => h3(id) > Dedup.HashP * 3 / 4)
      .take(300).toSeq
    val rows = adversarial.map(id => (id, Some("adv"))) ++
      (100001L to 100200L).map(i => (i, Some("normal")))
    val got = runExactK(rows, k = 5)
    assert(got == naiveExactK(rows, 5))
    assert(got.count(_._1.contains("adv")) == 5)
  }
}
