package graft.streaming

import graft.KgPipeline
import graft.core._
import graft.ingest.DocValidator
import graft.nlp.AhoCorasick
import graft.score.RelationScorer
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingestion veneer (SURVEY.md §2.8).
  *
  * The reference is strictly batch — its "incremental" unit is the shard,
  * independently processed and resumable (large_scale_prediction_pipeline_
  * tf.py:199, :273-286). The streaming veneer gives the same contract with
  * Spark-native machinery: new document files appearing under a directory
  * are picked up by the file stream source, flow through the IDENTICAL
  * fused extraction pass (stateless — no watermark/state needed for
  * extraction), and append to the triple table; checkpointing makes
  * ingestion exactly-once per file, the streaming analog of the lineage
  * table's exact resume. `Trigger.AvailableNow` drains everything present
  * and stops — shard-batch semantics on streaming rails.
  */
object StreamingIngest {

  /** Streaming triples from a documents directory: the batch validity
    * filter, then the batch extraction and triple builder. Invalid docs
    * are dropped, as the batch path quarantines them, instead of failing
    * the query. Canonicalization joins the (static, broadcast) canonical
    * map against the stream — a stream-static join, supported in append
    * mode. */
  def triples(spark: SparkSession, docsDir: String,
              dict: Broadcast[AhoCorasick], scorer: RelationScorer,
              canonMap: DataFrame,
              config: TaskConfig = TaskConfig.complexTome): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val docSchema = implicitly[org.apache.spark.sql.Encoder[Doc]].schema
    val docs: Dataset[Doc] = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "64") // bound micro-batch size
      .parquet(docsDir)
      .as[Doc]
    val scored = KgPipeline.scoreCandidates(DocValidator.split(docs)._1, dict, scorer, config)
    KgPipeline.canonicalTriples(scored.filter(KgPipeline.isPositive _), canonMap).toDF()
  }

  /** Stateful streaming dedup: emit each document the FIRST time its text
    * fingerprint is seen, across micro-batches — `flatMapGroupsWithState`
    * keyed by the fingerprint, a Boolean "seen" state per key. The
    * streaming analog of `Dedup.exact` for continuous ingestion: state is
    * checkpointed with the query, so resume keeps the dedup exact. */
  def dedupStream(docs: Dataset[Doc])(implicit spark: SparkSession): Dataset[Doc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    docs.groupByKey(d => graft.functions.RollingHashExpr.hash(
        d.spans.filter(_.kind == "text").map(_.text).mkString("\u0000")
          .getBytes("UTF-8")))
      .flatMapGroupsWithState[Boolean, Doc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Doc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1) }
      }
  }

  /** Streaming SimHash near-dup CANDIDATES: per-row simhash (a stateless
    * column — Dedup.withSimhash), the 4 16-bit blocks exploded as bucket
    * keys, and per-bucket state of previously seen (doc_id, sh); each
    * arriving doc emits a candidate pair for every stored neighbor within
    * `maxHamming`. The streaming analog of Dedup.simhashCandidates for
    * continuous ingestion — candidates accumulate across micro-batches and
    * survive restarts via the checkpointed state.
    *
    * Differences from the batch form, by design: a pair colliding in k
    * blocks is emitted once per colliding block and per direction of
    * arrival (batch distinct()s; downstream exact verification is
    * idempotent, so duplicates are harmless). Null-text docs carry a null
    * simhash (Dedup.withSimhash) and are filtered before state, matching
    * the batch operator, which never emits them.
    *
    * State per bucket grows with bucket occupancy; `stateTtl` bounds it
    * with a processing-time timeout: a bucket idle longer than the TTL is
    * evicted wholesale, at the documented cost of missing duplicates
    * whose earlier copy arrived more than a TTL before the later one —
    * the standard trade for a long-running deployment whose state must
    * not grow without bound. Unset (the default) keeps exact
    * candidate-set parity with the batch operator. */
  def nearDupCandidatesStream(docs: DataFrame, maxHamming: Int = 3,
                              stateTtl: Option[java.time.Duration] = None)
      (implicit spark: SparkSession): Dataset[(Long, Long, Int)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val hamming = math.min(maxHamming, 3)
    val ttlMs = stateTtl.map(_.toMillis)
    val timeoutKind = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    val blocked = graft.operators.Dedup.withSimhash(docs)
      .filter(col("sh").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"), col("sh"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("blk"),
            shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
        }: _*)).as("bb"))
      .select(col("bb.blk").as[Int], col("bb.key").as[Long],
        col("doc_id").as[Long], col("sh").as[Long])
    blocked.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Long, Int)](
        OutputMode.Append, timeoutKind) {
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
         state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.Buffer.empty[(Long, Long, Int)]
            rows.foreach { case (_, _, id, sh) =>
              seen.foreach { case (pid, psh) =>
                val d = java.lang.Long.bitCount(sh ^ psh)
                if (d <= hamming && pid != id)
                  out += (if (pid < id) (pid, id, d) else (id, pid, d))
              }
              seen = (id, sh) :: seen
            }
            state.update(seen)
            ttlMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Ingestion-time DECONTAMINATION GUARD: emit the doc_ids of streaming
    * documents that the batch rule ([[graft.operators.Dedup.decontaminate]])
    * would flag against a STATIC eval/benchmark set — n-gram overlap,
    * whole-doc containment below n words in both directions. Flag-set
    * parity with the batch operator is spec-asserted.
    *
    * The static side pregenerates eval windows at EVERY sub-n length
    * (bounded: benchmark suites are tiny, and n−1 extra window passes
    * over them stay tiny), so a short stream doc's whole text can match
    * without knowing the stream's lengths in advance; the stream side
    * emits its n-grams, windows at the short-EVAL lengths (collected once
    * from the static side), and its own whole text when sub-n. Per batch
    * the work is ONE stream-static LEFT SEMI join on a (branch, gram)
    * key — stateless, no watermark; the dropDuplicates state grows only
    * with contaminated ids (the rare case by construction). */
  def decontamStream(docs: DataFrame, evalSet: DataFrame, shingleN: Int = 8)
      (implicit spark: SparkSession): DataFrame = {
    import graft.operators.Dedup
    // grams carry a branch tag so the three batch branches stay separate:
    // a sub-n window shared with the INTERIOR of a long eval doc is not
    // contamination, so pooling all windows into one untagged set would
    // over-flag (stream bigram × eval-doc bigram). Tags mirror the batch
    // joins exactly: "full" n-gram × n-gram; "swhole" stream windows at a
    // short-EVAL length × that whole short eval doc; "win" sub-n stream
    // WHOLE doc × eval windows at its length.
    val ew = Dedup.decontamWords(evalSet, "eval_id")
    val eFull = Dedup.windowsAt(ew, "eval_id", lit(shingleN))
      .select(lit("full").as("k"), col("g"))
    val eSwhole = ew.filter(size(col("ws")) < shingleN)
      .select(lit("swhole").as("k"), concat_ws(" ", col("ws")).as("g"))
    val eWin = (1 until shingleN).map(l =>
      Dedup.windowsAt(ew, "eval_id", lit(l)).select(lit("win").as("k"), col("g")))
    val evalGrams = (Seq(eFull, eSwhole) ++ eWin).reduce(_ unionByName _).distinct()
    val shortLens = evalSet.select(size(split(col("text"), " ")).as("l"))
      .filter(col("l") < shingleN).distinct().collect().map(_.getInt(0)).toSeq
    val cw = Dedup.decontamWords(docs, "doc_id")
    val sFull = Dedup.windowsAt(cw, "doc_id", lit(shingleN))
      .select(col("doc_id"), lit("full").as("k"), col("g"))
    val sSwhole = shortLens.map(l =>
      Dedup.windowsAt(cw, "doc_id", lit(l))
        .select(col("doc_id"), lit("swhole").as("k"), col("g")))
    val sWin = cw.filter(size(col("ws")) < shingleN)
      .select(col("doc_id"), lit("win").as("k"), concat_ws(" ", col("ws")).as("g"))
    (Seq(sFull) ++ sSwhole ++ Seq(sWin)).reduce(_ unionByName _)
      .join(evalGrams, Seq("k", "g"), "left_semi")
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** Streaming session windows: the q14 batch aggregation on streaming
    * rails — watermarked event time + the native `session_window`
    * generator. In append mode Spark finalizes and emits a session only
    * once the watermark passes its end (no late event can merge into it
    * anymore) — exactly-once session rows without a line of custom state
    * code, where the reference has no streaming story at all. */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
                       watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start"),
        unix_timestamp(col("sw.end")).as("session_end"),
        col("n_events"))

  /** Drain-everything-and-stop run (AvailableNow): writes the streaming
    * triples to a parquet sink with a checkpoint, returns the query for
    * the caller to await. Restarting with the same checkpoint skips
    * already-ingested files — exactly-once per file. */
  def runAvailableNow(out: DataFrame, sinkDir: String, checkpointDir: String): StreamingQuery =
    out.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
