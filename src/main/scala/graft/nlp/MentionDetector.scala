package graft.nlp

import graft.core.{DictEntry, Doc, Mention, Sentence}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Mention detection + entity linking (SURVEY.md §7.1 `nlp` module).
  *
  * The engine analog of the corpus's precomputed `T` entity lines and
  * `#`-AnnotatorNotes STRING ids (brat_json_converter.py:77-88): a
  * broadcast Aho-Corasick automaton over the entity dictionary scans each
  * document's text spans in one pass; each hit is a `Mention` already
  * *linked* (norm_id from the dictionary). The scan runs inside a narrow
  * `flatMap` — no shuffle; at cluster scale the broadcast is the only data
  * movement, matching the reference's dict-lookup join (SURVEY.md §2.3,
  * broadcast-join row).
  *
  * Mention ids are `T{n}` in char order per document — the reference's
  * sequential `T` numbering (SURVEY.md W2) via a deterministic natural
  * ordering, not a global counter.
  *
  * Sentence assignment (J1, brat_json_converter.py:200-226) happens here by
  * binary search over the doc's sentence boundaries — per-doc bounded work,
  * avoiding the O(n·m) theta-join a DataFrame range join would plan.
  */
object MentionDetector extends Serializable {

  /** Detect + link + sentence-assign mentions of one document.
    * `sent_id` = the first sentence whose [bgn,end) contains the mention's
    * bgn (cross-sentence mentions keep their head sentence, like the
    * reference keeps a sentence_id per entity). Mentions outside every
    * sentence (e.g. inside media placeholders — impossible by construction)
    * get sent_id -1 and are dropped by the valid-entity filter downstream. */
  def detect(doc: Doc, ac: AhoCorasick, sentences: Seq[Sentence]): Seq[Mention] = {
    val sentBgns = sentences.map(_.bgn).toArray
    val sentEnds = sentences.map(_.end).toArray
    def sentOf(pos: Int): Int = {
      // greatest sentence with bgn <= pos, if it still contains pos
      var lo = 0; var hi = sentBgns.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sentBgns(mid) <= pos) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (ans >= 0 && pos < sentEnds(ans)) ans else -1
    }
    val hits = doc.spans.iterator.filter(s => s.kind == "text" && s.text.nonEmpty)
      .flatMap(s => ac.findAll(s.text, s.offset))
      .toSeq.sortBy(m => (m.bgn, m.end, m.norm_id))
    hits.zipWithIndex.map { case (m, i) =>
      Mention(doc.doc_id, s"T${i + 1}", m.tag, m.bgn, m.end, m.surface,
        m.norm_id, sentOf(m.bgn))
    }
  }

  /** Compile + broadcast the dictionary automaton once per job. */
  def broadcastDict(spark: SparkSession, dict: Seq[DictEntry]): Broadcast[AhoCorasick] =
    spark.sparkContext.broadcast(
      AhoCorasick.build(dict.map(d => (d.surface, d.norm_id, d.tag))))
}
