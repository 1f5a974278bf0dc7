package perfbench

import graft.core._
import graft.ingest.DocValidator
import graft.nlp.{AhoCorasick, MentionDetector, SentenceSplitter, Tokenizer}
import graft.pairs.PairGenerator
import graft.score.{LexiconScorer, WindowEncoder}
import graft.triggers.TriggerDetector
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset

/** One task's totals of the per-doc layers: busy nanoseconds per layer
  * and the work each did. */
final class LayerTotals(val startNs: Long) extends Serializable {
  var docs, chars, sentences, mentions, candidates, tokens = 0L
  var fitted, unfitted, positives, triggerRows = 0L
  var validateNs, splitNs, detectNs, pairsNs, tokenizeNs, scoreNs, triggersNs = 0L
}

/** Replays, doc by doc, the call sequence of `KgPipeline.extractAll`
  * (validate, split, detect, pairs, tokenize, window fit, score, triggers)
  * in a `mapPartitions` on the job's session, timing each call. One row
  * per task: the traced run turns each into one span per layer. */
object Replay {

  val Layers: Seq[(String, LayerTotals => Long)] = Seq(
    "ingest.validate" -> (_.validateNs), "nlp.split" -> (_.splitNs),
    "nlp.detect" -> (_.detectNs), "pairs.gen" -> (_.pairsNs),
    "nlp.tokenize" -> (_.tokenizeNs), "score.score" -> (_.scoreNs),
    "triggers.detect" -> (_.triggersNs))

  def run(docs: Dataset[Doc], dict: Broadcast[AhoCorasick]): Seq[LayerTotals] = {
    val config = TaskConfig.complexTome
    val scorer = LexiconScorer.default
    docs.rdd.mapPartitions { it =>
      val t = new LayerTotals(System.nanoTime())
      var last = 0L
      def lap(): Long = { val now = System.nanoTime(); val d = now - last; last = now; d }
      it.foreach { doc =>
        t.docs += 1
        t.chars += doc.spans.iterator.map(s => if (s.text == null) 0 else s.text.length).sum
        last = System.nanoTime()
        val valid = DocValidator.validate(doc).isEmpty
        t.validateNs += lap()
        if (valid) {
          val sentences = SentenceSplitter.split(doc)
          t.splitNs += lap()
          val mentions = MentionDetector.detect(doc, dict.value, sentences)
          t.detectNs += lap()
          val pairs = PairGenerator.forDoc(mentions, config)
          t.pairsNs += lap()
          t.sentences += sentences.length; t.mentions += mentions.length
          t.candidates += pairs.length
          if (pairs.nonEmpty) {
            last = System.nanoTime()
            val tokens = Tokenizer.tokenize(SentenceSplitter.docText(doc))
            t.tokenizeNs += lap()
            val (fitted, unfitted) = pairs.partition(p =>
              WindowEncoder.geometry(tokens, p, config.maxSeqLen)._6)
            unfitted.foreach(p => WindowEncoder.geometry(tokens, p, config.maxSeqLen))
            val scored = scorer.scoreDoc(tokens, mentions, fitted, config.maxSeqLen).toVector
            t.scoreNs += lap()
            val positives = scored.filter(sp => sp.score_pos > sp.score_neg)
            val triggers = positives.map(TriggerDetector.triggersFor(_).length).sum
            t.triggersNs += lap()
            t.tokens += tokens.length; t.fitted += fitted.length; t.unfitted += unfitted.length
            t.positives += positives.length; t.triggerRows += triggers
          }
        }
      }
      Iterator.single(t)
    }.collect().toSeq
  }
}
