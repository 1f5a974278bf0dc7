package graft

import graft.core._
import graft.ingest.{DocValidator, ShardReader}
import graft.materialize.GraphMaterializer
import graft.nlp.SentenceSplitter
import graft.score.LexiconScorer
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** brat tar.gz shard ingestion on shards built here: CorpusGen documents
  * written through the engine's own `.ann` writer (GraphMaterializer.toAnn
  * and triggersToAnn), `#` AnnotatorNotes lines in both the corpus's
  * space form and standard brat's tab form, and hand-written edge cases (a
  * multi-span entity, codepoint offsets past an astral character, corrupt
  * members). Every expected count is read off the written members. */
class ShardIngestSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  type Members = Seq[(String, String)] // (archive member name, content)

  val params: CorpusGen.Params = CorpusGen.Params(nDocs = 90, seed = 11)
  lazy val gen: Seq[CorpusGen.GenDoc] =
    CorpusGen.generate(spark, params).collect().toSeq.sortBy(_.doc.doc_id)
  lazy val docs: Seq[Doc] = gen.map(_.doc)
  lazy val normOf: Map[(String, String), String] =
    gen.flatMap(_.goldMentions).map(m => (m.doc_id, m.t_id) -> m.norm_id).toMap
  /** The KG pipeline's output over the generated docs: its triples make
    * the RE-output shard, its triggers the trigger shard. */
  lazy val out: KgPipeline.Output = KgPipeline.run(docs.toDS(),
    CorpusGen.dictionary(params), spark.emptyDataset[EquivEdge], LexiconScorer.default)

  /** `.ann` per doc from the engine's writer (empty for a doc with no
    * line), each T line followed by its AnnotatorNotes STRING id. */
  def annByDoc(triples: DataFrame): Map[String, String] = {
    val mentions = gen.flatMap(_.goldMentions).toDF().withColumnRenamed("t_id", "mention_id")
    val written = GraphMaterializer.toAnn(mentions, triples, texts)
      .as[(String, String)].collect().toMap
    docs.map { d =>
      val lines = written.getOrElse(d.doc_id, "").split('\n').filter(_.nonEmpty)
      val notes = lines.filter(_.startsWith("T")).zipWithIndex.map { case (line, i) =>
        val tid = line.takeWhile(_ != '\t')
        val norm = normOf((d.doc_id, tid))
        if (i % 2 == 0) s"#${i + 1}\tAnnotatorNotes $tid $norm"
        else s"#${i + 1}\tAnnotatorNotes $tid\t$norm"
      }
      d.doc_id -> (lines ++ notes).mkString("\n")
    }.toMap
  }

  def txtOf(d: Doc): String = SentenceSplitter.docText(d)
  /** (doc_id, text) of the generated docs: what the `.ann` offsets index. */
  lazy val texts: DataFrame = docs.map(d => (d.doc_id, txtOf(d))).toDF("doc_id", "text")

  def docMembers(ids: Seq[String], ann: Map[String, String]): Members =
    docs.filter(d => ids.contains(d.doc_id))
      .flatMap(d => Seq(s"./${d.doc_id}.txt" -> txtOf(d), s"./${d.doc_id}.ann" -> ann(d.doc_id)))

  /** Hand-written: a discontinuous (multi-span) entity, and brat codepoint
    * offsets after an astral character (U+1D700 is two JVM chars). */
  val edgeCases: Members = Seq(
    "ms1.txt" -> "ABC1 binds the XYZ2 protein.",
    "ms1.ann" -> ("T1\tProtein 0 4\tABC1\nT2\tProtein 15 19;20 27\tXYZ2 protein\n" +
      "#1\tAnnotatorNotes T1 9606.ENSP90000001\n#2\tAnnotatorNotes T2\t9606.ENSP90000002"),
    "astral1.txt" -> "𝜀 ABC1 binds XYZ2.",
    "astral1.ann" -> ("T1\tProtein 2 6\tABC1\nT2\tProtein 13 17\tXYZ2\n" +
      "#1\tAnnotatorNotes T1 9606.ENSP90000001\n#2\tAnnotatorNotes T2 9606.ENSP90000002"))
  val edgeNorms: Set[(String, String, String)] = Set(
    ("ms1", "T1", "9606.ENSP90000001"), ("ms1", "T2", "9606.ENSP90000002"),
    ("astral1", "T1", "9606.ENSP90000001"), ("astral1", "T2", "9606.ENSP90000002"))

  def writeShard(path: Path, members: Members): Unit = {
    Files.createDirectories(path.getParent)
    val tar = new TarArchiveOutputStream(new GZIPOutputStream(Files.newOutputStream(path)))
    members.foreach { case (name, body) =>
      val bytes = body.getBytes(UTF_8)
      val entry = new TarArchiveEntry(name)
      entry.setSize(bytes.length)
      tar.putArchiveEntry(entry)
      tar.write(bytes)
      tar.closeArchiveEntry()
    }
    tar.close()
  }

  lazy val root: Path = Files.createTempDirectory("graft_shards")
  /** Three NER-input shards (docs dealt round-robin, edge cases in the
    * first), the RE-output shard, the trigger shard, and a shard with
    * corrupt members, written once. */
  lazy val shards: Map[String, Members] = {
    val ids = docs.map(_.doc_id)
    val inputAnn = annByDoc(spark.emptyDataset[Triple].toDF())
    val input = (0 until 3).map { k =>
      s"input/0000$k.tar.gz" -> (docMembers(ids.zipWithIndex.collect {
        case (id, i) if i % 3 == k => id }, inputAnn) ++ (if (k == 0) edgeCases else Nil))
    }
    val triggerAnn = GraphMaterializer.triggersToAnn(out.triggers.toDF(), texts)
      .as[(String, String)].collect().toMap
    val corrupt = docMembers(ids.take(2), inputAnn) ++ Seq(
      "bad.txt" -> "ab", "bad.ann" -> "T1\tProtein 0 2\tZZ", // span text mismatch
      "orphan.ann" -> "T1\tProtein 0 1\tx") // no .txt twin
    val all = input.toMap ++ Map(
      "re/06000.tar.gz" -> docMembers(ids, annByDoc(out.triples.toDF())),
      "trigger/1.tar.gz" -> docs.filter(d => triggerAnn.contains(d.doc_id)).flatMap(d =>
        Seq(s"${d.doc_id}.txt" -> txtOf(d), s"${d.doc_id}.ann" -> triggerAnn(d.doc_id))),
      "corrupt/c.tar.gz" -> corrupt)
    all.foreach { case (name, members) => writeShard(root.resolve(name), members) }
    all
  }
  def path(name: String): String = { shards; root.resolve(name).toString }

  /** Docs with both twins, and `.ann` lines of one kind, in the fixture. */
  def nDocs(ms: Members): Long = {
    val stems = ms.map(_._1).groupBy(n => n.substring(0, n.lastIndexOf('.')))
    stems.count(_._2.size == 2).toLong
  }
  def nLines(ms: Members, kind: Char): Long =
    ms.filter(_._1.endsWith(".ann")).map(_._2.split('\n').count(l => l.nonEmpty && l.head == kind)).sum.toLong

  lazy val shard = ShardReader.parseShardDir(spark, path("input/00000.tar.gz"))

  test("input shard parity: doc and T-entity counts of the fixture, zero quarantine") {
    val ms = shards("input/00000.tar.gz")
    assert(shard.docs.count() == nDocs(ms))
    assert(shard.goldMentions.count() == nLines(ms, 'T'))
    assert(shard.quarantine.count() == 0, shard.quarantine.take(3).mkString("; "))
    assert(shard.multiSpan.collect().toSeq == Seq(("ms1", "T2")))
    // codepoint offsets: the astral doc's spans reconstruct to the annotated text
    assert(shard.goldMentions.filter(col("doc_id") === "astral1")
      .select("text").as[String].collect().toSeq.sorted == Seq("ABC1", "XYZ2"))
    // and gold offsets come out in the UTF-16 unit of the ingested text:
    // every single-span mention sits at [bgn, end) of its doc, astral1 too
    val text = shard.docs.collect().map(d => d.doc_id -> d.spans.head.text).toMap
    val multi = shard.multiSpan.collect().toSet
    val golds = shard.goldMentions.collect().filterNot(m => multi((m.doc_id, m.t_id)))
    assert(golds.count(_.doc_id == "astral1") == 2)
    golds.foreach(m => assert(text(m.doc_id).substring(m.bgn, m.end) == m.text,
      s"${m.doc_id}/${m.t_id} at [${m.bgn}, ${m.end})"))
  }

  test(".ann writers emit codepoint offsets: an astral-prefixed doc round-trips") {
    // "𝜀" is one codepoint but two UTF-16 units: the engine's ABC1 sits at
    // 3..7, brat's at 2..6
    val txt = "𝜀 ABC1 binds XYZ2."
    val doc = Seq(("astral2", txt)).toDF("doc_id", "text")
    val mentions = Seq(
      Mention("astral2", "T1", "Protein", 3, 7, "ABC1", "nA", 0),
      Mention("astral2", "T2", "Protein", 14, 18, "XYZ2", "nB", 0)).toDF()
    val triples = Seq(
      Triple("astral2", "nA", "Complex_formation", "nB", "T1", "T2", 0.0, 2.0)).toDF()
    val ann = GraphMaterializer.toAnn(mentions, triples, doc).head().getString(1)
    assert(ann.split('\n').take(2).toSeq ==
      Seq("T1\tProtein 2 6\tABC1", "T2\tProtein 13 17\tXYZ2"))
    val parsed = graft.ingest.BratParser.parse("astral2", ann, txt)
    assert(parsed.mentions.map(m => (m.t_id, m.bgn, m.end, m.text)) ==
      Seq(("T1", 3, 7, "ABC1"), ("T2", 14, 18, "XYZ2")))
    assert(parsed.relations.map(r => (r.rel_type, r.arg1_norm, r.arg2_norm)) ==
      Seq(("Complex_formation", "T1", "T2")))
    val triggers = Seq(Trigger("astral2", "T1", "T2", 8, 13, "binds", 2.0)).toDF()
    val tAnn = GraphMaterializer.triggersToAnn(triggers, doc).head().getString(1)
    assert(tAnn == "T1\tTrigger 7 12\tbinds")
    assert(graft.ingest.BratParser.parse("astral2", tAnn, txt).mentions
      .map(m => (m.bgn, m.end, m.text)) == Seq((8, 13, "binds")))
  }

  test("AnnotatorNotes STRING ids are captured as norm_ids") {
    // the corpus's entity-linking ground truth rides in '#' notes
    // (brat_json_converter.py:77-78 skips them; the engine keeps them),
    // written here in both the space and the tab form
    val got = shard.goldMentions.select("doc_id", "t_id", "norm_id")
      .as[(String, String, String)].collect().toSet
    val first = docs.map(_.doc_id).zipWithIndex.collect { case (id, i) if i % 3 == 0 => id }.toSet
    val expected = normOf.collect { case ((d, t), n) if first.contains(d) => (d, t, n) }.toSet ++
      edgeNorms
    assert(got == expected)
    assert(got.size.toLong == nLines(shards("input/00000.tar.gz"), '#'))
  }

  test("ingested docs pass DocValidator and keep the span invariant") {
    val (good, bad) = DocValidator.split(shard.docs)
    assert(good.count() == nDocs(shards("input/00000.tar.gz")) && bad.count() == 0)
    // span-sequence shape: exactly one text span at offset 0, no media
    val shapes = shard.docs.map { d =>
      (d.spans.length, d.spans.head.kind, d.spans.head.offset,
        d.spans.head.media_ref.isEmpty)
    }.distinct().collect()
    assert(shapes.toSeq == Seq((1, "text", 0, true)))
    // and the text span is the written .txt member, byte for byte
    val txt = shards("input/00000.tar.gz").collect {
      case (n, c) if n.endsWith(".txt") => n.stripPrefix("./").stripSuffix(".txt") -> c }.toMap
    assert(shard.docs.collect().map(d => d.doc_id -> d.spans.head.text).toMap == txt)
  }

  test("directory scan ingests every shard of a folder in one pass") {
    // the shard FOLDER is the reference's SLURM job unit; the engine's
    // binaryFile scan covers it in one distributed pass, shards extracted
    // independently per task
    val inputs = shards.collect { case (n, ms) if n.startsWith("input/") => ms }
    val expected = inputs.map(nDocs).sum
    val all = ShardReader.parseShardDir(spark, path("input"))
    assert(all.docs.count() == expected)
    assert(all.quarantine.count() == 0)
    // shard provenance survives into per-doc rows via distinct doc ids
    assert(all.docs.select("doc_id").distinct().count() == expected)
    // release the shared parse cache once the outputs are materialized —
    // the documented ShardDocs contract
    all.unpersist()
  }

  lazy val reShard = ShardReader.parseShardDir(spark, path("re/06000.tar.gz"))

  test("RE-output shard: R relations parse and round-trip evalsorel at P=R=1") {
    // the trigger pipeline's input IS the RE pipeline's output — .ann
    // files with Complex_formation R lines, written by the engine's writer
    val ms = shards("re/06000.tar.gz")
    assert(nLines(ms, 'R') > 0)
    assert(reShard.docs.count() == nDocs(ms))
    assert(reShard.goldMentions.count() == nLines(ms, 'T'))
    assert(reShard.goldRelations.count() == nLines(ms, 'R'))
    assert(reShard.quarantine.count() == 0, reShard.quarantine.take(3).mkString("; "))
    // representation round-trip: feeding the parsed relations back as
    // predictions must score perfectly (symmetric matching + duplicate
    // dropping must not lose or invent pairs)
    val gold = reShard.goldRelations.toDF()
    val pred = gold.select(col("doc_id"), col("rel_type").as("pred"),
      col("arg1_norm").as("subj"), col("arg2_norm").as("obj"),
      lit(0.0).as("score_neg"), lit(1.0).as("score_pos"))
    val r = graft.eval.Evalsorel.evaluate(gold, pred)
    assert(r.fp == 0 && r.fn == 0 && r.precision == 1.0 && r.recall == 1.0,
      s"round-trip must be exact: $r")
    // and the triples the shard was written from score P=R=1 against it
    val w = graft.eval.Evalsorel.evaluate(gold, out.triples.toDF())
    assert(w.fp == 0 && w.fn == 0 && w.tp > 0, s"writer round-trip must be exact: $w")
  }

  test("trigger detection on RE-output positives: junk-free, offset-exact") {
    // window-encode each R pair of the RE-output shard and run trigger
    // detection; every emitted trigger must be non-junk and its (bgn, end,
    // text) must reconstruct exactly from the document (the C2 invariant on
    // the trigger TSV columns)
    val docById = reShard.docs.collect().map(d => d.doc_id -> d).toMap
    val mentionsByDoc = reShard.goldMentions.collect().groupBy(_.doc_id)
    val rLine = """R\d+\tComplex_formation Arg1:(T\d+) Arg2:(T\d+)""".r
    val rels = shards("re/06000.tar.gz").collect { case (n, c) if n.endsWith(".ann") =>
      val id = n.stripPrefix("./").stripSuffix(".ann")
      c.split('\n').toSeq.collect { case rLine(a, b) => (id, a, b) }
    }.flatten
    val maxSeqLen = TaskConfig.complexTome.maxSeqLen
    val found = rels.flatMap { case (docId, a1, a2) =>
      val text = docById(docId).spans.head.text
      val ms = mentionsByDoc(docId)
      val (e1, e2) = (ms.find(_.t_id == a1).get, ms.find(_.t_id == a2).get)
      val pair = CandidatePair(docId, e1.t_id, e2.t_id, e1.norm_id, e2.norm_id,
        e1.bgn, e1.end, e2.bgn, e2.end, 0, 0, 0, cross_sentence = false)
      val asMentions = ms.map(m =>
        Mention(m.doc_id, m.t_id, m.tag, m.bgn, m.end, m.text, m.norm_id, 0)).toSeq
      val enc = graft.score.WindowEncoder
        .encodeDoc(graft.nlp.Tokenizer.tokenize(text), Seq(pair), asMentions, maxSeqLen).head
      // every R line is a scored positive, so its window fitted
      assert(enc.fitted, s"$docId $a1-$a2 must fit")
      val sp = ScoredPair(docId, e1.t_id, e2.t_id, e1.norm_id, e2.norm_id,
        0, enc.tokens, enc.tokenBgns, enc.tokenEnds, 0.0, 1.0)
      graft.triggers.TriggerDetector.triggersFor(sp).map { t =>
        assert(!graft.triggers.TriggerDetector.isJunk(t.text))
        assert(text.substring(t.bgn, t.end) == t.text,
          s"trigger span must reconstruct: '${text.substring(t.bgn, t.end)}' vs '${t.text}'")
        (t.doc_id, t.e1, t.e2, t.bgn, t.end, t.text)
      }
    }
    assert(rels.length.toLong == nLines(shards("re/06000.tar.gz"), 'R'))
    // the same triggers the pipeline found on the documents before writing
    assert(found.sorted == out.triggers.collect()
      .map(t => (t.doc_id, t.e1, t.e2, t.bgn, t.end, t.text)).toSeq.sorted)
  }

  test("trigger shard: written trigger spans parse back offset-exact") {
    val ms = shards("trigger/1.tar.gz")
    val trig = ShardReader.parseShardDir(spark, path("trigger/1.tar.gz"))
    // BratParser checks every span against the .txt: zero quarantine means
    // every trigger offset reconstructs its text
    assert(trig.quarantine.count() == 0, trig.quarantine.take(3).mkString("; "))
    assert(trig.docs.count() == nDocs(ms))
    val parsed = trig.goldMentions.collect()
    assert(parsed.length.toLong == nLines(ms, 'T') && parsed.forall(_.tag == "Trigger"))
    assert(parsed.map(m => (m.doc_id, m.bgn, m.end, m.text)).toSeq.sorted ==
      out.triggers.collect().map(t => (t.doc_id, t.bgn, t.end, t.text)).toSeq.sorted)
  }

  test("corrupt members quarantine with their errors, the shard's good docs survive") {
    val ms = shards("corrupt/c.tar.gz")
    val c = ShardReader.parseShardDir(spark, path("corrupt/c.tar.gz"))
    val goodIds = docs.take(2).map(_.doc_id)
    assert(c.docs.map(_.doc_id).collect().toSeq.sorted == goodIds)
    assert(c.goldMentions.count() ==
      nLines(ms.filter(m => goodIds.exists(id => m._1.contains(id))), 'T'))
    val q = c.quarantine.collect().map(r => r.doc_id -> r.reason).toMap
    assert(q.keySet == Set("bad", "orphan"))
    assert(q("bad").contains("span text") && q("orphan").contains("missing .txt"))
    c.unpersist()
  }

  test("member-integrity check quarantines unpaired members, keeps the rest") {
    // synthesize a shard stream with a missing twin: the reference HALTS
    // the whole shard here (tf.py:308-322); the engine isolates the doc
    val members = Seq(
      ShardReader.ShardMember("s1", "a.ann", "T1\tProtein 0 2\tab"),
      ShardReader.ShardMember("s1", "a.txt", "ab"),
      ShardReader.ShardMember("s1", "orphan.ann", "T1\tProtein 0 1\tx"),
      ShardReader.ShardMember("s1", "readme.md", "ignored")
    ).toDS()
    val (docs, quarantine) = ShardReader.pairMembers(members)
    assert(docs.collect().map(_.doc_id).toSeq == Seq("a"))
    val q = quarantine.collect()
    assert(q.length == 1 && q.head.doc_id == "orphan" &&
      q.head.reason.contains("missing .txt"))
  }

  test("a doc failing brat validation quarantines with its error, shard survives") {
    val members = Seq(
      ShardReader.ShardMember("s1", "good.ann", "T1\tProtein 0 2\tab"),
      ShardReader.ShardMember("s1", "good.txt", "abc"),
      ShardReader.ShardMember("s1", "bad.ann", "T1\tProtein 0 2\tZZ"), // recon mismatch
      ShardReader.ShardMember("s1", "bad.txt", "ab")
    ).toDS()
    val (raw, _) = ShardReader.pairMembers(members)
    // route through the same parse-or-quarantine map parseShardDir uses
    val parsed = raw.map { d =>
      try { graft.ingest.BratParser.parse(d.doc_id, d.ann, d.txt); (d.doc_id, "") }
      catch { case e: Exception => (d.doc_id, e.getMessage) }
    }.collect().toMap
    assert(parsed("good") == "")
    assert(parsed("bad").contains("span text"))
  }

  test("full KG pipeline runs end-to-end on the ingested shard's documents") {
    // dictionary from the shard's own gold surfaces and STRING ids — the
    // ingested Doc shape drives the actual extraction pass, and finds the
    // triples the pipeline found on the same documents before they were
    // written out
    val dict = shard.goldMentions.select("text", "norm_id").distinct()
      .as[(String, String)].collect().map { case (s, n) => DictEntry(s, n, "Protein") }.toSeq
    val ingested = KgPipeline.run(shard.docs, dict, spark.emptyDataset[EquivEdge],
      LexiconScorer.default)
    assert(ingested.scoredAll.count() > 0)
    assert(ingested.nodes.count() > 0)
    val ids = shard.docs.map(_.doc_id).collect().toSet
    def keys(ts: Array[Triple]) = ts.filter(t => gen.exists(_.doc.doc_id == t.doc_id))
      .map(t => (t.doc_id, t.subj, t.obj)).toSeq.sorted
    val expected = keys(out.triples.collect().filter(t => ids.contains(t.doc_id)))
    assert(expected.nonEmpty)
    assert(keys(ingested.triples.collect()) == expected)
  }
}
