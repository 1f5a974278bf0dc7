package graft.sources

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** MATERIALIZED minhash-signature store — the dedup analog of [[AnnIndex]].
  *
  * [[Dedup.keepListDelta]] restricts the QUADRATIC stage of a daily dedup
  * delta to new-vs-all, but without a store the LINEAR stage — minhash
  * signatures of the old corpus — is recomputed on every delta: a full
  * re-shingle of 100 TB of old text per day. This object persists the
  * signature table once (one narrow k×8-byte row per doc, written next to
  * the keep-list), and serves the stored rows back to every delta; the
  * delta then shingles ONLY the new batch (spec-asserted in SigStoreSpec:
  * the old text is never re-shingled).
  *
  * The portable LCG signatures are functions of the token VOCABULARY, so
  * the vocabulary is part of the artifact: `build` takes the exact (sh,
  * tid) table the signatures are computed under, persists it in the
  * `_vocab` subdir (underscore-prefixed → invisible to the signature
  * parquet scan), and records fingerprints of BOTH the source corpus and
  * the vocabulary in the meta sidecar. A delta run reprimes its session
  * cache from [[loadVocab]] (via Dedup.primeVocabCache) so the new
  * batch's signatures rank tokens exactly as the stored ones did;
  * new-batch tokens absent from the stored vocabulary contribute no
  * shingle hash (bounded recall loss — rebuild the store when the
  * vocabulary drifts far). `forCorpus` validates both fingerprints on
  * reopen, so a changed corpus OR a changed vocabulary triggers a
  * rebuild — never a silently incomparable signature set.
  *
  * Same durability pattern as AnnIndex: the atomic meta sidecar doubles
  * as the commit marker (a crashed build is invisible), and a missing/
  * corrupt/stale sidecar means rebuild — never a stale serve, never a
  * permanent failure.
  */
object SigStore {

  val MetaFile = "_graft_sig_meta.txt"
  val VocabDir = "_vocab"

  /** Content fingerprint of the source corpus: one narrow aggregation,
    * no shuffle beyond the final combine. bit_xor is order-independent
    * and overflow-free under ANSI; hashing (doc_id, text) together
    * catches both text edits and id reassignment. */
  def fingerprint(docs: DataFrame): (Long, Long, Long, Long) = {
    val r = docs.agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")),
      bit_xor(xxhash64(col("doc_id"), col("text")))).head
    (r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** Fingerprint of a (sh, tid) vocabulary — any rank reassignment
    * changes some (sh, tid) pair and flips the XOR term. */
  def vocabFingerprint(vocab: DataFrame): (Long, Long) = {
    val r = vocab.agg(count(lit(1)),
      bit_xor(xxhash64(col("sh"), col("tid")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Compute the portable signatures of `docs` UNDER `vocab`, persist
    * signatures + vocabulary + meta; returns the READ-BACK signature
    * table (a parquet scan — consumers never re-derive from text). */
  def build(docs: DataFrame, path: String, vocab: DataFrame,
            shingleN: Int = 3, k: Int = 16): DataFrame = {
    Dedup.minhashSignaturesWithVocab(docs, shingleN, k, vocab)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    vocab.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/$VocabDir")
    val sigRows = load(docs.sparkSession, path).count() // parquet-footer count
    writeMeta(path, shingleN, k, fingerprint(docs), vocabFingerprint(vocab),
      sigRows)
    load(docs.sparkSession, path)
  }

  /** Reopen a previously built store (no validation — production callers
    * that own the write path skip the fingerprint scans). */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The persisted (sh, tid) vocabulary the stored signatures rank under
    * — prime it into the session cache (Dedup.primeVocabCache) before
    * computing delta-batch signatures. */
  def loadVocab(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/$VocabDir")

  /** Stored signature row count from the meta sidecar — metrics without
    * any re-scan of the written table. */
  def storedRows(path: String): Option[Long] =
    storedMeta(path).map(_._4)

  /** Build-or-reopen with staleness validation: reopen only when the meta
    * sidecar exists, parses, matches (shingleN, k) and BOTH stored
    * fingerprints (source corpus, vocabulary) equal the live ones.
    * Anything else → rebuild. */
  def forCorpus(docs: DataFrame, path: String, vocab: DataFrame,
                shingleN: Int = 3, k: Int = 16): DataFrame = {
    val fresh = storedMeta(path).exists { case (sn, kk, (fp, vfp), _) =>
      sn == shingleN && kk == k && fp == fingerprint(docs) &&
        vfp == vocabFingerprint(vocab)
    }
    if (fresh) load(docs.sparkSession, path)
    else build(docs, path, vocab, shingleN, k)
  }

  /** Injective tmp-dir name for a corpus key (same prefix-free escaping
    * as AnnIndex.dirName). */
  private[graft] def dirName(key: String, shingleN: Int, k: Int): String =
    "graft_sig_" + key.flatMap(c =>
      if (c.isLetterOrDigit && c < 0x80) c.toString else f"_${c.toInt}%04x") +
      s"_n${shingleN}k$k"

  private def storedMeta(path: String)
      : Option[(Int, Int, ((Long, Long, Long, Long), (Long, Long)), Long)] =
    scala.util.Try {
      val h = Files.readAllLines(Paths.get(path, MetaFile),
        StandardCharsets.UTF_8).get(0).split(' ')
      (h(0).toInt, h(1).toInt,
        ((h(2).toLong, h(3).toLong, h(4).toLong, h(5).toLong),
          (h(6).toLong, h(7).toLong)),
        h(8).toLong)
    }.toOption

  /** Atomic (temp + rename) — the sidecar is the commit marker. */
  private def writeMeta(path: String, shingleN: Int, k: Int,
                        fp: (Long, Long, Long, Long), vfp: (Long, Long),
                        sigRows: Long): Unit = {
    val body = s"$shingleN $k ${fp._1} ${fp._2} ${fp._3} ${fp._4} " +
      s"${vfp._1} ${vfp._2} $sigRows\n"
    Sidecar.commit(path, MetaFile, body)
  }
}
