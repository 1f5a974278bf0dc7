package graft

import graft.core._
import graft.eval.InternalMetrics
import graft.ingest.BratParser
import graft.materialize.GraphMaterializer
import graft.pairs.PairGenerator
import graft.score.{Decode, LexiconScorer}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Coverage for the SURVEY §2 rows added after the core pipeline: S4 brat
  * parsing, S5/S6 TSV exports, A6 FN-aware metrics, C3 direction decode,
  * J2 equiv expansion, §2.8 streaming ingestion. */
class CoverageSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  test("brat parser: T/R/*/# lines, span equality check, note linking") {
    val txt = "AKT1 binds MTOR in cells. AKT2 too."
    val ann = Seq(
      "T1\tProtein 0 4\tAKT1",
      "T2\tProtein 11 15\tMTOR",
      "T3\tProtein 26 30\tAKT2",
      "#1\tAnnotatorNotes T1\t9606.ENSP00000270202",
      "#2\tAnnotatorNotes T2\t9606.ENSP00000354558",
      "*\tEquiv T1 T3",
      "R1\tComplex_formation Arg1:T1 Arg2:T2").mkString("\n")
    val doc = BratParser.parse("10212000", ann, txt)
    assert(doc.mentions.map(_.t_id) == Seq("T1", "T2", "T3"))
    assert(doc.mentions.head.norm_id == "9606.ENSP00000270202")
    assert(doc.relations == Seq(GoldRelation("10212000", "Complex_formation",
      "9606.ENSP00000270202", "9606.ENSP00000354558")))
    assert(doc.equivs == Seq(Set("T1", "T3")))
    assert(doc.multiSpanIds.isEmpty)
  }

  test("brat parser: multi-span flag, integrity halt, bad span halt") {
    val txt = "AKT1 binds MTOR here."
    val multi = BratParser.parse("d", "T1\tProtein 0 4;11 15\tAKT1", txt)
    assert(multi.multiSpanIds == Set("T1")) // rejected downstream, like ann_io:56-61
    intercept[IllegalArgumentException] {
      BratParser.parse("d", "R1\tComplex_formation Arg1:T1 Arg2:T9", txt)
    }
    intercept[IllegalArgumentException] {
      BratParser.parse("d", "T1\tProtein 0 4\tWRONG", txt)
    }
  }

  test("internal metrics: confusion matrix with unfitted-FN accounting") {
    val scored = Seq(
      ("d1", "a", "b", "Complex_formation", "Complex_formation"), // TP
      ("d1", "a", "c", "neg", "Complex_formation"), // FP
      ("d1", "b", "c", "neg", "neg"), // TN
      ("d2", "a", "b", "Complex_formation", "neg")) // FN (classifier miss)
      .toDF("doc_id", "e1", "e2", "gold_label", "pred_label")
    val unfitted = Seq(("d3", "x", "y", "Complex_formation")) // FN (didn't fit)
      .toDF("doc_id", "e1", "e2", "gold_label")
    val r = InternalMetrics.compute(scored, unfitted)
    val pos = r.perClass.find(_.label == "Complex_formation").get
    assert(pos.tp == 1 && pos.fp == 1 && pos.fn == 2) // unfitted counted as FN
    assert(math.abs(pos.precision - 0.5) < 1e-9)
    assert(math.abs(pos.recall - 1.0 / 3) < 1e-9)
    assert(math.abs(r.accuracy - 2.0 / 5) < 1e-9)
  }

  test("direction decode: strip, swap, identity (C3/C6)") {
    assert(Decode.argmax(1.0, 2.0, "Complex_formation") == "Complex_formation")
    assert(Decode.argmax(2.0, 1.0, "Complex_formation") == "neg")
    assert(Decode.direction("Regulation>", "e1", "e2") == ("Regulation", "e1", "e2"))
    assert(Decode.direction("Regulation<", "e1", "e2") == ("Regulation", "e2", "e1"))
    assert(Decode.direction("Complex_formation", "e1", "e2") ==
      ("Complex_formation", "e1", "e2"))
  }

  test("equiv expansion: in-group closure + positive replication (J2)") {
    val closed = PairGenerator.unionEquivSets(Seq(Set("T1", "T2"), Set("T2", "T3"), Set("T7", "T8")))
    assert(closed.toSet == Set(Set("T1", "T2", "T3"), Set("T7", "T8")))
    val expanded = PairGenerator.expandPositives(
      Seq(("T1", "T7")), Seq(Set("T1", "T2"), Set("T7", "T8")))
    assert(expanded.toSet == Set(("T1", "T7"), ("T1", "T8"), ("T2", "T7"), ("T2", "T8")))
    // self-pairs are dropped when closures overlap
    val self = PairGenerator.expandPositives(Seq(("T1", "T2")), Seq(Set("T1", "T2")))
    assert(self.toSet == Set(("T1", "T2")))
  }

  test("TSV exports: 5-col triples with R-numbering, 9-col triggers") {
    val p = CorpusGen.Params(nDocs = 60)
    val gen = CorpusGen.generate(spark, p)
    val out = KgPipeline.run(CorpusGen.docs(gen), CorpusGen.dictionary(p),
      spark.createDataset(CorpusGen.equivEdges(p)), LexiconScorer.default)
    val tsv = GraphMaterializer.triplesToTsv(out.triples.toDF()).collect()
    assert(tsv.nonEmpty)
    assert(tsv.forall(_.getAs[String]("tsv_row").split('\t').length == 5))
    assert(tsv.map(_.getAs[String]("r_id")).forall(_.startsWith("R")))
    val trigTsv = GraphMaterializer.triggersToTsv(
      out.triggers.toDF(), out.scoredAll.toDF()).collect()
    assert(trigTsv.nonEmpty)
    assert(trigTsv.forall(_.getAs[String]("tsv_row").split('\t').length == 9))
  }

  test(".ann writeback round-trips through the brat parser (S7/S8)") {
    val txt = "AA binds BB."
    val mentions = Seq(
      Mention("d9", "T1", "Protein", 0, 2, "AA", "nA", 0),
      Mention("d9", "T2", "Protein", 9, 11, "BB", "nB", 0)).toDF()
    val triples = Seq(
      Triple("d9", "nA", "Complex_formation", "nB", "T1", "T2", 0.0, 2.0)).toDF()
    val ann = GraphMaterializer.toAnn(mentions, triples,
      Seq(("d9", txt)).toDF("doc_id", "text")).collect()
    assert(ann.length == 1)
    val annText = ann.head.getAs[String]("ann_text")
    assert(annText ==
      "T1\tProtein 0 2\tAA\nT2\tProtein 9 11\tBB\nR1\tComplex_formation Arg1:T1 Arg2:T2")
    // round-trip: the parser accepts the writeback byte-for-byte
    val parsed = graft.ingest.BratParser.parse("d9", annText, txt)
    assert(parsed.mentions.map(_.t_id) == Seq("T1", "T2"))
    assert(parsed.relations.head.rel_type == "Complex_formation")
  }

  test("TSV export header matches the reference's confidence-indices line") {
    // byte shape per large_scale_prediction_pipeline_tf.py:240-244 —
    // "# confidence indices:" TAB Python-dict-literal
    assert(GraphMaterializer.confidenceHeader() ==
      "# confidence indices:\t{0: 'neg', 1: 'Complex_formation'}")
    val triples = Seq(
      Triple("d9", "nA", "Complex_formation", "nB", "T1", "T2", 0.0, 2.0)).toDF()
    val rows = GraphMaterializer.triplesToTsvWithHeader(triples)
      .orderBy("ord", "doc_id").collect().map(_.getAs[String]("tsv_row"))
    assert(rows.head.startsWith("# confidence indices:\t{0: 'neg'"))
    assert(rows.length == 2 && rows(1).split('\t').length == 5)
  }

  test("trigger .ann writeback round-trips through the brat parser") {
    val txt = "AA binds BB and CC."
    val triggers = Seq(
      Trigger("d9", "T1", "T2", 3, 8, "binds", 2.0),
      Trigger("d9", "T1", "T3", 12, 15, "and", 1.0)).toDF()
    val ann = GraphMaterializer.triggersToAnn(triggers,
      Seq(("d9", txt)).toDF("doc_id", "text")).collect()
    assert(ann.length == 1)
    val annText = ann.head.getAs[String]("ann_text")
    assert(annText == "T1\tTrigger 3 8\tbinds\nT2\tTrigger 12 15\tand")
    val parsed = graft.ingest.BratParser.parse("d9", annText, txt)
    assert(parsed.mentions.map(m => (m.t_id, m.tag, m.bgn, m.end, m.text)) ==
      Seq(("T1", "Trigger", 3, 8, "binds"), ("T2", "Trigger", 12, 15, "and")))
  }

  test("trigger TSV keeps every scored pair: negatives AND triggerless positives") {
    val triggers = Seq(Trigger("d1", "T1", "T2", 3, 8, "binds", 2.0)).toDF()
    val scored = Seq(
      ScoredPair("d1", "T1", "T2", "nA", "nB", 0, Nil, Nil, Nil, 0.0, 2.0),
      ScoredPair("d1", "T1", "T3", "nA", "nC", 1, Nil, Nil, Nil, 1.0, 0.0),
      // POSITIVE pair whose trigger selection produced nothing — the
      // reference still writes it scores-only (explanation_pipeline.py
      // :413-427, :433-449); it must not vanish from the export
      ScoredPair("d1", "T1", "T4", "nA", "nD", 2, Nil, Nil, Nil, 0.0, 3.0)).toDF()
    val rows = GraphMaterializer.triggersToTsvAll(triggers, scored)
      .collect().map(_.getAs[String]("tsv_row"))
    assert(rows.length == 3)
    // split with limit -1: trailing empty fields must survive
    assert(rows.forall(_.split("\t", -1).length == 9))
    for (id <- Seq("T3", "T4")) {
      val r = rows.find(_.contains(id)).get
      assert(r.split("\t", -1).drop(5).forall(_.isEmpty),
        s"scores-only row carries trigger cols: $r")
    }
  }

  test("streaming ingestion: AvailableNow drain equals the batch pipeline") {
    val p = CorpusGen.Params(nDocs = 120)
    val tmp = Files.createTempDirectory("graft_stream").toString
    val docsDir = s"$tmp/docs"
    CorpusGen.generate(spark, p).map(_.doc)
      .repartition(4).write.parquet(docsDir)
    // one more file holding a malformed doc (a text span with null text):
    // the stream must quarantine it as the batch path does, not fail
    Seq(Doc("bad", Seq(Span("text", null, "", 0)))).toDS()
      .write.mode("append").parquet(docsDir)

    val dict = graft.nlp.MentionDetector.broadcastDict(spark, CorpusGen.dictionary(p))
    val canonMap = graft.canon.ConnectedComponents.canonicalizeAuto(
      spark.createDataset(CorpusGen.equivEdges(p)))
    val (stream, quarantine) = StreamingIngest.triples(spark, docsDir, dict,
      LexiconScorer.default, canonMap)
    val q = StreamingIngest.runAvailableNow(stream, s"$tmp/sink", s"$tmp/ckpt")
    q.awaitTermination()
    val qq = StreamingIngest.runAvailableNow(quarantine.toDF(),
      s"$tmp/quarantine", s"$tmp/qckpt")
    qq.awaitTermination()

    val streamed = spark.read.parquet(s"$tmp/sink")
      .select("doc_id", "subj", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val batchOut = KgPipeline.run(spark.read.parquet(docsDir).as[Doc],
      CorpusGen.dictionary(p), spark.createDataset(CorpusGen.equivEdges(p)),
      LexiconScorer.default)
    val batchQuarantine = batchOut.quarantine.collect().toSeq
    assert(batchQuarantine.map(_.doc_id) == Seq("bad"))
    assert(spark.read.parquet(s"$tmp/quarantine").as[QuarantineRow].collect().toSeq ==
      batchQuarantine, "the streamed quarantine carries the batch path's reason")
    val batch = batchOut.triples.collect()
      .map(t => (t.doc_id, t.subj, t.obj)).toSet
    assert(streamed == batch, "stream/batch parity")
    assert(streamed.nonEmpty)

    // exactly-once per file: re-running with the same checkpoint adds nothing
    val q2 = StreamingIngest.runAvailableNow(
      StreamingIngest.triples(spark, docsDir, dict, LexiconScorer.default, canonMap)._1,
      s"$tmp/sink", s"$tmp/ckpt")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$tmp/sink").count() == streamed.size ||
      spark.read.parquet(s"$tmp/sink")
        .select("doc_id", "subj", "obj").distinct().count() == streamed.size)
  }
}
