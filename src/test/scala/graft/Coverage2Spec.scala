package graft

import graft.eval.Evalsorel
import graft.operators.SimSearch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Coverage2Spec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  test("evalsorel equiv-representative resolution before matching") {
    // gold says (T1, T5); prediction found the equivalent (T2, T5) — the
    // doc's Equiv line T1~T2 must make them match via representative T1
    val gold = Seq(("d1", "Complex_formation", "T1", "T5"))
      .toDF("doc_id", "rel_type", "arg1_norm", "arg2_norm")
    val pred = Seq(("d1", "Complex_formation", "T2", "T5"))
      .toDF("doc_id", "pred", "subj", "obj")
    val equivs = Seq(("d1", "T1", "T1"), ("d1", "T2", "T1"))
      .toDF("doc_id", "member", "representative")
    val g = Evalsorel.resolveWithEquivs(gold, equivs, Seq("arg1_norm", "arg2_norm"))
    val p = Evalsorel.resolveWithEquivs(pred, equivs, Seq("subj", "obj"))
    val r = Evalsorel.evaluate(g, p)
    assert(r.tp == 1 && r.fp == 0 && r.fn == 0)
    // without resolution they would not match
    val r0 = Evalsorel.evaluate(gold, pred)
    assert(r0.tp == 0 && r0.fp == 1 && r0.fn == 1)
  }

  test("IVF ANN: probing finds the exact top hit; touches only probed cells") {
    val emb = Queries.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val ivf = SimSearch.ivfTopK(emb, q, k = 5, nCells = 8, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf.head == 0L, "self must be the IVF top hit")
    val exact = SimSearch.bruteForceTopK(emb, q, 5).collect().map(_.getLong(0)).toSeq
    assert(ivf.toSet.intersect(exact.toSet).size >= 2,
      s"IVF recall too low: ivf=$ivf exact=$exact")
  }

  test("dedup keep list: transitive clusters collapse to the min doc id") {
    // 30-word docs. 3 replaces two of 1's words: J(1,3) = 28/32 = 0.875
    // >= 0.8. 7 is 3 plus four appended words: J(3,7) = 30/34 = 0.88 >=
    // 0.8, but J(1,7) = 28/36 = 0.78 < 0.8 — linked only through 3.
    val base = (1 to 30).map(i => s"w$i")
    def txt(repl: Map[Int, String]) =
      base.zipWithIndex.map { case (w, i) => repl.getOrElse(i, w) }.mkString(" ")
    val docs = Seq(
      1L -> txt(Map.empty),
      2L -> txt(Map.empty), // exact dup of 1
      3L -> txt(Map(0 -> "x1", 1 -> "x2")),
      7L -> (txt(Map(0 -> "x1", 1 -> "x2")) + " x3 x4 x5 x6"),
      9L -> ((1 to 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    // sanity on the arithmetic above: the verified PAIRS are exactly
    // (1,2),(1,3),(2,3),(3,7) — (1,7)/(2,7) miss the threshold...
    val pairs = graft.operators.Dedup.lshVerifiedDupsPortable(docs, minSharedPct = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((3L, 7L)) &&
      !pairs.contains((1L, 7L)), s"unexpected verified pairs: $pairs")
    // ...yet the KEEP LIST collapses {1,2,3,7} to 1 — transitive closure
    val keep = graft.operators.Dedup.keepList(docs, minSharedPct = 80)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 9L -> 9L), s"$keep")
  }

  test("keep-list exact edges: no Window in the plan, equal to the window form") {
    // the hot-hash-safe construction (groupBy min + equi-join back) must
    // never plan a Window — a window partition is one task, so a 10^8-way
    // duplicated boilerplate text would serialize through one straggler
    val docs = Seq(1L -> "a a", 2L -> "a a", 3L -> "a a", 4L -> "b b", 5L -> "c")
      .toDF("doc_id", "text").repartition(3)
    val edges = graft.operators.Dedup.exactDupEdges(docs)
    assert(!edges.queryExecution.optimizedPlan.toString.contains("Window"),
      "exact-dup edges must not use a Window")
    assert(!edges.queryExecution.executedPlan.toString.contains("WindowExec"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val windowForm = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("m", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("m"))
      .select(col("doc_id").as("a"), col("m").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == windowForm && got == Set((2L, 1L), (3L, 1L)))
  }

  test("semantic edges union into the keep list across edge sources") {
    // docs 10/20 share no surface text (LSH finds nothing); 25 is an exact
    // dup of 20. A semantic (embedding-space) pair (10,20) must merge all
    // three transitively — the cluster closes across edge SOURCES.
    val docs = Seq(
      10L -> "alpha beta gamma delta epsilon",
      20L -> "totally unrelated surface words here",
      25L -> "totally unrelated surface words here",
      30L -> "another separate document entirely now").toDF("doc_id", "text")
    def run(sem: Option[org.apache.spark.sql.DataFrame]) =
      graft.operators.Dedup.keepList(docs, minSharedPct = 80, semanticPairs = sem)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(None) == Map(10L -> 10L, 20L -> 20L, 25L -> 20L, 30L -> 30L),
      "text-only baseline: the semantic pair must be invisible to LSH")
    val sem = Seq((10L, 20L)).toDF("vec_a", "vec_b")
    assert(run(Some(sem)) == Map(10L -> 10L, 20L -> 10L, 25L -> 10L, 30L -> 30L))
  }

  test("semantic edges resolve through an explicit vec→doc id map") {
    // same geometry as the identity-convention test above, but the
    // embedding table's ids are its own (1000, 2000) — the map joins them
    // back to doc ids; an unmapped pair (3000, 4000) contributes nothing
    val docs = Seq(
      10L -> "alpha beta gamma delta epsilon",
      20L -> "totally unrelated surface words here",
      30L -> "another separate document entirely now").toDF("doc_id", "text")
    val sem = Seq((1000L, 2000L), (3000L, 4000L)).toDF("vec_a", "vec_b")
    val idMap = Seq((1000L, 10L), (2000L, 20L)).toDF("vec_id", "doc_id")
    val keep = graft.operators.Dedup.keepList(docs, minSharedPct = 80,
        semanticPairs = Some(sem), semanticIdMap = Some(idMap))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep == Map(10L -> 10L, 20L -> 10L, 30L -> 30L), s"$keep")
  }

  test("incremental keep-list: a new doc merges two old clusters; delta == full") {
    // old corpus: {1, 2} exact dups of base, {10} = base + 8 appended
    // words (J(1,10) = 30/38 ≈ 0.789 < 0.8 → SEPARATE old clusters). The
    // delta brings a two-doc bridge CHAIN: 20 = base+4z (J(1,20) ≈ 0.88,
    // links cluster A), 21 = base+6z (J(10,21) ≈ 0.95, links cluster B),
    // and J(20,21) ≈ 0.94 links the bridges — 1—20—21—10 merges the two
    // old clusters only through NEW docs, the case incremental dedup must
    // get right. (Appended, not scattered, edits keep shingle overlap
    // high; with one 16-minhash signature per doc a SINGLE midway bridge
    // deterministically bands with only one side, so the chain is also
    // the realistic shape.)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val apx = (1 to 8).map(i => s"z$i")
    val old = Seq(1L -> base, 2L -> base, 10L -> (base + " " + apx.mkString(" ")))
    val all = (old ++ Seq(
        20L -> (base + " " + apx.take(4).mkString(" ")),
        21L -> (base + " " + apx.take(6).mkString(" "))))
      .toDF("doc_id", "text")
    val oldDf = old.toDF("doc_id", "text")
    val oldKeep = graft.operators.Dedup.keepList(oldDf, minSharedPct = 80)
    assert(oldKeep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 10L), "old clusters must start separate")
    val newIds = Seq(20L, 21L).toDF("doc_id")
    val delta = graft.operators.Dedup.keepListDelta(oldKeep, all, newIds,
        minSharedPct = 80)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delta == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 20L -> 1L, 21L -> 1L),
      s"the bridge chain must merge the old clusters: $delta")
    val full = graft.operators.Dedup.keepList(all, minSharedPct = 80)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delta == full, "incremental closure must equal the full recompute")
  }

  test("line dedup removes cross-doc boilerplate lines, preserving order") {
    val docs = Seq(
      1L -> "COOKIE BANNER\nalpha one\nFOOTER",
      2L -> "COOKIE BANNER\nbeta two\nFOOTER",
      3L -> "gamma three\nunique line here").toDF("doc_id", "text")
    val out = graft.operators.Dedup.lineDedup(docs, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // the banner + footer appear in 2 docs → removed everywhere; doc 3's
    // lines are unique → untouched, original order kept
    assert(out(1L) == ((3L, 2L, "alpha one")))
    assert(out(2L) == ((3L, 2L, "beta two")))
    assert(out(3L) == ((2L, 0L, "gamma three\nunique line here")))
  }
}
