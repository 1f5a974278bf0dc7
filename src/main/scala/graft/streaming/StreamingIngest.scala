package graft.streaming

import graft.KgPipeline
import graft.core._
import graft.ingest.DocValidator
import graft.nlp.AhoCorasick
import graft.score.RelationScorer
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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

  /** Streaming (triples, quarantine) from a documents directory: the
    * batch validity split, then the batch extraction and triple builder on
    * the valid docs. Invalid docs go to the quarantine stream with the
    * batch path's reason strings instead of failing the query; each stream
    * is started on its own (`runAvailableNow`, its own checkpoint).
    * Canonicalization joins the (static, broadcast) canonical map against
    * the stream — a stream-static join, supported in append mode. */
  def triples(spark: SparkSession, docsDir: String,
              dict: Broadcast[AhoCorasick], scorer: RelationScorer,
              canonMap: DataFrame,
              config: TaskConfig = TaskConfig.complexTome)
      : (DataFrame, Dataset[QuarantineRow]) = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val docSchema = implicitly[org.apache.spark.sql.Encoder[Doc]].schema
    val docs: Dataset[Doc] = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "64") // bound micro-batch size
      .parquet(docsDir)
      .as[Doc]
    val (valid, quarantine) = DocValidator.split(docs)
    val scored = KgPipeline.scoreCandidates(valid, dict, scorer, config)
    (KgPipeline.canonicalTriples(scored.filter(KgPipeline.isPositive _), canonMap).toDF(),
      quarantine)
  }

  /** Drain-everything-and-stop run (AvailableNow): writes one of the
    * streams (triples or quarantine) to a parquet sink with a checkpoint,
    * returns the query for the caller to await. Restarting with the same
    * checkpoint skips already-ingested files — exactly-once per file. */
  def runAvailableNow(out: DataFrame, sinkDir: String, checkpointDir: String): StreamingQuery =
    out.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
