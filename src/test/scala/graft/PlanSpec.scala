package graft

import graft.score.LexiconScorer
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality guards: the physical-plan properties the engine relies on
  * at scale, asserted so refactors can't silently regress them. */
class PlanSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q9: filters and projection reach the parquet scan") {
    val plan = physical("q9_filter_pushdown")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"missing pushdown:\n$plan")
    // 5 columns referenced (3 projected + 2 filter-only); plan toString
    // truncates ReadSchema, so assert on the scan's column list instead
    assert(plan.contains("FileScan parquet [l_orderkey#"),
      "scan must start at the projected columns")
    assert(!plan.contains("l_extendedprice"),
      "scan must not read unreferenced columns")
    // "*(n)" prefixes mark whole-stage-codegen spans in the simple plan string
    assert(plan.contains("*(1) Filter"), "filter+project must be codegen'd")
  }

  test("q2: dimension joins broadcast (no shuffle of the fact side)") {
    val plan = physical("q2_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q1: aggregation is map-side partial") {
    val plan = physical("q1_agg")
    assert(plan.contains("partial_sum"), "expected partial aggregation")
  }

  test("extraction hot path is a single narrow pass: no shuffle exchange") {
    val p = core.CorpusGen.Params(nDocs = 30)
    val docs = core.CorpusGen.generate(spark, p).map(_.doc)
    val dict = graft.nlp.MentionDetector.broadcastDict(spark, core.CorpusGen.dictionary(p))
    val scored = KgPipeline.scoreCandidates(docs, dict, LexiconScorer.default,
      core.TaskConfig.complexTome)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the fused extract->score pass must not shuffle:\n$plan")
  }

  test("text_pii is one narrow codegen pass: no Exchange anywhere") {
    // three regex replaces + three counts must stay a pure projection —
    // a shuffle here would mean the operator stopped being per-row
    val plan = physical("text_pii")
    assert(!plan.contains("Exchange"), s"PII redaction must not shuffle:\n$plan")
    assert(plan.contains("*(1)"), "the projection must be whole-stage codegen'd")
  }

  test("kg_triples / kg_mentions scan the documents table exactly once") {
    for (q <- Seq("kg_triples", "kg_mentions", "kg_cooccur_pairs",
                  "kg_typed_triples")) {
      val plan = physical(q)
      val scans = "FileScan parquet".r.findAllIn(plan).length
      assert(scans == 1,
        s"$q reads the table $scans times — flag-projection + literal-array " +
          s"explode must keep it to ONE FileScan:\n$plan")
    }
  }

  test("multimodal decode moves zero media bytes: no Exchange in the plan") {
    val plan = physical("multimodal_features")
    assert(!plan.contains("Exchange"),
      s"media bytes must decode at scan partitions, never shuffle:\n$plan")
  }

  test("ANN queries prune partitions of the materialized index") {
    // the catalog queries serve LSH/IVF from the stored bucket/cell layout;
    // the probe must reach the scan as a PartitionFilter (directories are
    // skipped before any byte is read), not as a recomputed expression
    for (q <- Seq("simsearch_lsh", "simsearch_ivf")) {
      val plan = physical(q)
      val key = if (q == "simsearch_lsh") "bucket" else "cell"
      val pf = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(plan)
        .getOrElse(fail(s"$q scan carries no PartitionFilters:\n$plan"))
      assert(pf.contains(s"$key#") && pf.contains("IN ("),
        s"$q must prune on the stored $key column, got: $pf")
      // and the full-corpus bucket/cell recomputation is gone: the ranking
      // needs at most 2 quantized dots (qdot, qna), each printed twice in
      // the plan string (Project + TakeOrderedAndProject); the recompute
      // form evaluated `bits`=4 plane dots / `nCells`=16 centroid dots on
      // every row, i.e. 10+ occurrences
      val dots = "quantized_dot".r.findAllIn(plan).length
      assert(dots <= 4,
        s"$q still computes $dots quantized dots per row — index not used")
    }
  }

  test("minhash signatures compute shingles once (no k-fold re-split)") {
    val docs = Queries.table(spark, dir, "documents")
    val plan = graft.operators.Dedup.minhashSignaturesPortable(docs, 3, 16)
      .queryExecution.optimizedPlan.toString
    // the single shingle construction mentions split() a few times (inside
    // transform + size); the broken form had 2 per hash = 32+ for k=16
    val splits = "split\\(".r.findAllIn(plan).length
    assert(splits <= 4, s"text re-split $splits times — shingle construction inlined")
  }

  test("delta dedup reuses the signature exchange across both join sides") {
    import spark.implicits._
    val docs = (1L to 200L)
      .map(i => (i, (1 to 20).map(j => s"w${(i * j) % 37}").mkString(" ")))
      .toDF("doc_id", "text").repartition(4)
    val newIds = (150L to 200L).map(Tuple1(_)).toDF("doc_id")
    val d = graft.operators.Dedup.lshVerifiedDupsPortableDelta(docs, newIds)
    d.collect() // finalize the adaptive plan
    val plan = d.queryExecution.executedPlan.toString
    // the banded-new side is banded + a semi-join: the expensive signature
    // aggregation under BOTH sides is one shared exchange, not two full
    // minhash passes — at 100 TB the second pass would double the delta's
    // dominant narrow-stage cost
    assert("ReusedExchange".r.findAllIn(plan).nonEmpty,
      "signature exchange not reused — the delta computes signatures twice")
  }
}
