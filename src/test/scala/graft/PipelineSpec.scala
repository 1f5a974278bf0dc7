package graft

import graft.core._
import graft.eval.Evalsorel
import graft.nlp.MentionDetector
import graft.score.{LexiconScorer, WindowEncoder}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end correctness: the BASELINE micro-P/R ≥ 0.95 gate, pair
  * semantics, window-fit FN accounting, determinism across parallelism. */
class PipelineSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  val params: CorpusGen.Params = CorpusGen.Params(nDocs = 525)
  lazy val gen = CorpusGen.generate(spark, params).cache()
  lazy val output = KgPipeline.run(
    CorpusGen.docs(gen),
    CorpusGen.dictionary(params),
    spark.createDataset(CorpusGen.equivEdges(params)),
    LexiconScorer.default)

  test("generator is deterministic and parallelism-independent") {
    val p = params.copy(nDocs = 50) // local: keeps the closure free of `this`
    val a = CorpusGen.generate(spark, p).map(_.doc)
      .collect().sortBy(_.doc_id)
    val b = spark.range(50).repartition(7).map(i => CorpusGen.genDoc(p, i).doc)
      .collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
  }

  test("mention detection recovers exactly the planted gold mentions") {
    val dict = MentionDetector.broadcastDict(spark, CorpusGen.dictionary(params))
    val detected = CorpusGen.docs(gen).flatMap { d =>
      MentionDetector.detect(d, dict.value, graft.nlp.SentenceSplitter.split(d))
        .map(m => (m.doc_id, m.bgn, m.end, m.text, m.norm_id))
    }.collect().toSet
    val planted = CorpusGen.goldMentions(gen)
      .map(g => (g.doc_id, g.bgn, g.end, g.text, g.norm_id))
      .collect().toSet
    assert(detected == planted)
  }

  test("pair generation: each unordered valid pair at most once, pruned at k") {
    val dict = MentionDetector.broadcastDict(spark, CorpusGen.dictionary(params))
    val pairs = CorpusGen.docs(gen).flatMap(d =>
      new KgPipeline.DocExtraction(d, dict.value, TaskConfig.complexTome).pairs)
      .collect()
    val keys = pairs.map(p => (p.doc_id, p.e1, p.e2))
    assert(keys.distinct.length == keys.length, "duplicate candidate pair")
    assert(pairs.forall(p => p.sent_dist < 7), "distance prune violated")
    assert(pairs.forall(p => p.e1 != p.e2))
    assert(pairs.forall(p => p.e1_bgn <= p.e2_bgn), "e1 must be first-occurring")
  }

  test("persistPass strategies agree: same outputs as multisets") {
    val p = params.copy(nDocs = 200)
    val g = CorpusGen.generate(spark, p).cache()
    def outputs(persist: Boolean): Seq[Map[Any, Int]] = {
      val o = KgPipeline.run(CorpusGen.docs(g), CorpusGen.dictionary(p),
        spark.createDataset(CorpusGen.equivEdges(p)), LexiconScorer.default,
        persistPass = persist)
      Seq[Seq[Any]](o.triples.collect().toSeq, o.triggers.collect().toSeq,
        o.unfitted.collect().toSeq, o.nodes.collect().toSeq, o.scoredAll.collect().toSeq)
        .map(_.groupBy(identity).map { case (k, v) => k -> v.length })
    }
    val (cached, lazily) = (outputs(persist = true), outputs(persist = false))
    Seq("triples", "triggers", "unfitted", "nodes", "scoredAll").zipWithIndex.foreach {
      case (name, i) =>
        assert(cached(i).nonEmpty, s"$name is empty: the comparison would be vacuous")
        val (onlyCached, onlyLazy) =
          (cached(i).toSet diff lazily(i).toSet, lazily(i).toSet diff cached(i).toSet)
        assert(onlyCached.isEmpty && onlyLazy.isEmpty, s"$name differs between " +
          s"persistPass = true ${onlyCached.take(3)} and false ${onlyLazy.take(3)}")
    }
    g.unpersist()
  }

  test("a valid doc ending in a null-text media span runs through the pipeline") {
    // DocValidator accepts a media span with null text; docText must size
    // the buffer from it without dereferencing the null
    val doc = Doc("m1", Seq(Span("text", "<A> binds <B>.", "", 0),
      Span("media", null, "m://1", 40)))
    val dict = Seq(DictEntry("<A>", "nA", "Protein"), DictEntry("<B>", "nB", "Protein"))
    val out = KgPipeline.run(spark.createDataset(Seq(doc)), dict,
      spark.emptyDataset[EquivEdge], LexiconScorer.default)
    assert(out.quarantine.count() == 0)
    assert(out.scoredAll.count() == 1, "the one candidate pair must be scored")
    assert(out.triples.collect().map(t => (t.subj, t.obj)).toSeq == Seq(("nA", "nB")))
  }

  test("window-fit predicate routes over-length pairs to the FN side output") {
    assert(output.unfitted.count() > 0, "expected some unfitted pairs (F5)")
    // every unfitted pair's token distance exceeds the budget
    val bad = output.unfitted.filter(
      org.apache.spark.sql.functions.col("tokenDistance") +
        WindowEncoder.MaskReserve <= TaskConfig.complexTome.maxSeqLen).count()
    assert(bad == 0)
  }

  test("micro-P/R >= 0.95 vs gold (the BASELINE correctness gate)") {
    val res = Evalsorel.evaluate(
      CorpusGen.goldRelations(gen).toDF(), output.triples.toDF())
    info(f"tp=${res.tp} fp=${res.fp} fn=${res.fn} " +
      f"P=${res.precision}%.4f R=${res.recall}%.4f F1=${res.f1}%.4f")
    assert(res.precision >= 0.95, s"precision ${res.precision} below gate")
    assert(res.recall >= 0.95, s"recall ${res.recall} below gate")
    assert(res.tp > 100, "suspiciously few true positives")
  }

  test("triples are canonicalized: subj <= obj, canonical ids only") {
    val ts = output.triples.collect()
    assert(ts.nonEmpty)
    assert(ts.forall(t => t.subj <= t.obj))
    val groupSize = params.equivGroupSize
    val canonicalIds = (0 until params.nEntities)
      .map(i => CorpusGen.canonicalOf(i, groupSize)).toSet
    assert(ts.forall(t => canonicalIds.contains(t.subj) && canonicalIds.contains(t.obj)))
  }

  test("trigger detection emits the planted lexicon word for positives") {
    val trig = output.triggers.collect()
    assert(trig.nonEmpty)
    assert(trig.forall(t => CorpusGen.triggerLexicon.contains(t.text)),
      s"non-lexicon trigger emitted: ${trig.filterNot(t => CorpusGen.triggerLexicon.contains(t.text)).take(3).toSeq}")
  }

  test("span-sequence invariant: validator passthrough preserves spans") {
    val docs = CorpusGen.docs(gen)
    val (good, bad) = graft.ingest.DocValidator.split(docs)
    assert(bad.count() == 0)
    val before = docs.collect().map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref))).toMap
    val after = good.collect().map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref))).toMap
    assert(before == after)
  }

  test("validator quarantines malformed docs with reasons") {
    val badDocs = Seq(
      Doc("", Seq(Span("text", "x", "", 0))),
      Doc("d1", Nil),
      Doc("d2", Seq(Span("media", "", "", 0))),
      Doc("d3", Seq(Span("text", "abc", "", 5), Span("text", "def", "", 2))),
      Doc("d4", Seq(Span("weird", "x", "", 0))),
      Doc("ok", Seq(Span("text", "fine.", "", 0))))
    val (good, bad) = graft.ingest.DocValidator.split(spark.createDataset(badDocs))
    assert(good.collect().map(_.doc_id).toSeq == Seq("ok"))
    assert(bad.count() == 5)
  }

  test("pipeline output is identical at different parallelism (scaling sanity)") {
    val small = params.copy(nDocs = 80)
    def runAt(parts: Int): Set[(String, String, String)] = {
      val g = spark.range(small.nDocs).repartition(parts)
        .map(i => CorpusGen.genDoc(small, i))
      KgPipeline.run(g.map(_.doc), CorpusGen.dictionary(small),
        spark.createDataset(CorpusGen.equivEdges(small)), LexiconScorer.default)
        .triples.collect().map(t => (t.doc_id, t.subj, t.obj)).toSet
    }
    assert(runAt(2) == runAt(8))
  }
}
