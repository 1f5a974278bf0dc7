package graft.ingest

import graft.core.{GoldMention, GoldRelation}

/** brat standoff (.ann) parser for gold fixtures and eval parity
  * (SURVEY.md S4 — reference: helpers/brat_json_converter.py:61-191 and its
  * twin helpers/brat_ann_helper.py:30-179).
  *
  * Line dispatch on the id's first char, as the reference does:
  *   T  entity/trigger: `T1\tProtein 10 15\ttext` (multi-span `10 15;20 25`
  *      is parsed but flagged — the reference rejects multi-span entities
  *      downstream, ann_io_generator_cross_sentence_MD.py:56-61)
  *   R  binary relation: `R1\tComplex_formation Arg1:T1 Arg2:T2`
  *   *  equiv: `*\tEquiv T1 T2 T3`
  *   #  AnnotatorNotes — the note body is captured as the entity's norm_id
  *      when it looks like a STRING id (`#1\tAnnotatorNotes T1\t9606.ENSP…`);
  *      the reference's parser skips '#' lines (brat_json_converter.py:77-78)
  *      but the notes are the corpus's entity-linking ground truth
  *   E/A  events/attributes: parsed and ignored (unused by ComplexTome,
  *      brat_json_converter.py:90-94,109-134)
  *
  * Referential integrity (relation args and equiv members must name parsed
  * T ids — reference :138-160) raises IllegalArgumentException, the engine
  * analog of `program_halt`.
  */
object BratParser {

  case class AnnDoc(docId: String,
                    mentions: Seq[GoldMention],
                    multiSpanIds: Set[String],
                    relations: Seq[GoldRelation],
                    equivs: Seq[Set[String]])

  /** brat offsets are Unicode CODEPOINT offsets (the corpus is produced by
    * Python, where len/slicing count codepoints); Java Strings index UTF-16
    * code units, which diverge as soon as a document contains an astral
    * character (the shipped sample's 26904000.txt has U+1D700 twice —
    * naive substring shifts every later span by +2). This maps a codepoint
    * span to the UTF-16 span the engine's doc text is indexed in;
    * BMP-only documents take the identity fast path. */
  private def utf16Span(s: String, bmpOnly: Boolean, b: Int, e: Int): (Int, Int) =
    if (bmpOnly) (b, e)
    else {
      val bi = s.offsetByCodePoints(0, b)
      (bi, s.offsetByCodePoints(bi, e - b))
    }

  def parse(docId: String, annContent: String, txtContent: String): AnnDoc = {
    val bmpOnly =
      txtContent.codePointCount(0, txtContent.length) == txtContent.length
    val mentions = Seq.newBuilder[(String, String, Int, Int, String)]
    var multiSpan = Set.empty[String]
    val relations = Seq.newBuilder[(String, String, String)]
    val equivs = Seq.newBuilder[Set[String]]
    val notes = scala.collection.mutable.HashMap.empty[String, String]

    annContent.split('\n').filter(_.nonEmpty).foreach { line =>
      val parts = line.split('\t')
      line.charAt(0) match {
        case 'T' =>
          val Array(tid, header) = parts.take(2)
          val spanPart = header.substring(header.indexOf(' ') + 1)
          val tag = header.substring(0, header.indexOf(' '))
          val spans = spanPart.split(';').map { s =>
            val Array(b, e) = s.trim.split(' ').map(_.toInt); (b, e)
          }
          if (spans.length > 1) multiSpan += tid
          val text = if (parts.length > 2) parts(2) else ""
          val (b, e) = utf16Span(txtContent, bmpOnly, spans.head._1, spans.head._2)
          // span-text reconstruction equality — program_halt analog
          // (brat_json_converter.py:228-242); single-span only
          if (spans.length == 1) {
            val recon = txtContent.substring(b, e)
            require(recon == text,
              s"$docId/$tid: span text '$recon' != annotated '$text'")
          }
          mentions += ((tid, tag, b, e, text))
        case 'R' =>
          val Array(rtype, a1, a2) = parts(1).split(' ')
          relations += ((rtype, a1.split(':')(1), a2.split(':')(1)))
        case '*' =>
          val members = parts(1).split(' ').drop(1) // drop the "Equiv" keyword
          equivs += members.toSet
        case '#' =>
          // standard brat puts the note body after a second TAB; the
          // ComplexTome corpus writes `#1\tAnnotatorNotes T1 <note>` with a
          // SPACE (verified on sample_data/input_1/00000.tar.gz) — accept both
          if (parts(1).startsWith("AnnotatorNotes ")) {
            val rest = parts(1).stripPrefix("AnnotatorNotes ")
            val sp = rest.indexOf(' ')
            val target = if (sp < 0) rest else rest.substring(0, sp)
            val note =
              if (parts.length > 2) parts(2)
              else if (sp >= 0) rest.substring(sp + 1)
              else ""
            if (note.nonEmpty) notes(target) = note
          }
        case 'E' | 'A' | 'M' => // parsed-and-ignored (ComplexTome uses none)
        case c =>
          throw new IllegalArgumentException(s"$docId: unknown line type '$c'")
      }
    }

    val ms = mentions.result()
    val tids = ms.map(_._1).toSet
    val rels = relations.result()
    rels.foreach { case (_, a1, a2) =>
      require(tids.contains(a1) && tids.contains(a2),
        s"$docId: relation references unknown entity ($a1, $a2)")
    }
    val eqs = equivs.result()
    eqs.foreach(set => require(set.subsetOf(tids),
      s"$docId: equiv references unknown entity"))

    val tidToNorm = ms.map(m => m._1 -> notes.getOrElse(m._1, "")).toMap
    AnnDoc(docId,
      ms.map { case (tid, tag, b, e, text) =>
        GoldMention(docId, tid, tag, b, e, text, tidToNorm(tid)) },
      multiSpan,
      rels.map { case (t, a1, a2) =>
        GoldRelation(docId, t,
          if (tidToNorm(a1).nonEmpty) tidToNorm(a1) else a1,
          if (tidToNorm(a2).nonEmpty) tidToNorm(a2) else a2) },
      eqs)
  }
}
