package graft.materialize

import graft.core.LineageRow
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8

/** Graph materialization + lineage/resume (SURVEY.md S5-S9, W2; §7.1
  * modules 8 & 10).
  *
  * Iceberg-shaped tables are emulated as `bucket`-partitioned Parquet with
  * dynamic partition overwrite (no iceberg runtime jar ships in the image;
  * SURVEY.md §7 head note) — swapping in real Iceberg is a format string.
  *
  * Resume contract (the engine analog of the reference's per-shard
  * skip-on-error + `.err.log` fault isolation,
  * large_scale_prediction_pipeline_tf.py:202-236, :273-286):
  *  - output rows are bucketed by `pmod(hash(key), nBuckets)`; the layout
  *    is recorded in `<table>/_layout` before the first data commit, and a
  *    write under another (or an unrecorded) layout is refused;
  *  - one Spark job writes all pending buckets via dynamic partition
  *    overwrite; a `rebalance` hint on the bucket sends each bucket to one
  *    writer, so a bucket is one file, not one per input partition — a
  *    re-run of a bucket replaces it in full;
  *  - lineage rows (bucket, counts, status) are appended only AFTER the
  *    data commit, so a crash between data and lineage re-processes the
  *    bucket — safe because the overwrite is idempotent;
  *  - on restart the lineage (≤ nBuckets rows per run) is collected once,
  *    and its ok buckets are filtered out of the input by value.
  */
object GraphMaterializer {

  val BucketCol = "graft_bucket"

  private def lineagePath(table: String) = s"$table/_lineage"

  /** A table's lineage rows. Only a missing (or, by the explicit schema,
    * a crashed first append's `_temporary`-only) lineage reads as empty;
    * a corrupt or unreadable one fails, never reads as "nothing done". */
  private def readLineage(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val p = new Path(lineagePath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(Encoders.product[LineageRow].schema).parquet(p.toString)
    else Seq.empty[LineageRow].toDF()
  }

  /** Row count of each bucket recorded ok in a table's lineage, in one
    * collect. A bucket re-processed after a crash between data commit and
    * lineage append re-appends the same idempotent counts, so duplicates
    * collapse with max. */
  private def okBucketRows(spark: SparkSession, table: String): Map[Int, Long] =
    readLineage(spark, table).as(Encoders.product[LineageRow]).collect().toSeq
      .filter(_.status == "ok").groupMapReduce(_.bucket)(_.n_triples)(math.max)

  /** Refuses a write whose bucket layout differs from the table's record
    * in `<table>/_layout` (its buckets would hold two hash layouts), or to
    * a table with lineage but no record (its layout is unknown). A new
    * table's record is committed by a rename on its own file system. */
  private def claimLayout(spark: SparkSession, table: String, nBuckets: Int,
                          key: String, recorded: Iterable[Int]): Unit = {
    val want = s"nBuckets=$nBuckets key=$key"
    val file = new Path(table, "_layout")
    val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(file)) {
      val in = fs.open(file)
      val have = try new String(in.readAllBytes(), UTF_8) finally in.close()
      if (have != want) throw new IllegalStateException(
        s"$table was written with layout [$have]; refusing to resume it with " +
          s"[$want], which would mix two bucket layouts in one table")
    } else if (recorded.nonEmpty) throw new IllegalStateException(
      s"$table has lineage but no layout record; refusing to resume it with " +
        s"[$want] (if it was written with [$want], put that line in $file)")
    else {
      val tmp = new Path(table, s"_layout.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, false)
      try out.write(want.getBytes(UTF_8)) finally out.close()
      require(fs.rename(tmp, file), s"could not commit the layout record $file")
    }
  }

  /** Buckets recorded ok in a table's lineage. Kept for perfbench and the
    * tests; the writer itself reads them with the counts, in one collect. */
  def completedBuckets(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    okBucketRows(spark, table).keys.toSeq.toDF("bucket")
  }

  /** What one resumable write did: the buckets it wrote, and the table's
    * cumulative row count after it (what [[lineageRowCount]] reads). */
  final case class Written(buckets: Long, rows: Long)

  /** [[write]], returning only the number of buckets written. Kept only
    * for perfbench and the tests, which compile against it. */
  def writeResumable(spark: SparkSession, df: DataFrame, table: String,
                     nBuckets: Int = 32, key: String = "doc_id"): Long =
    write(spark, df, table, nBuckets, key).buckets

  /** Write `df` (must carry `key`) bucketed, skipping buckets whose
    * lineage row says ok; append lineage for newly written buckets. The
    * table's cumulative row count is summed from the lineage rows it
    * collected and the ones it appended — no re-read of either. */
  def write(spark: SparkSession, df: DataFrame, table: String,
            nBuckets: Int = 32, key: String = "doc_id"): Written = {
    import spark.implicits._
    val done = okBucketRows(spark, table)
    claimLayout(spark, table, nBuckets, key, done.keys)
    val pending = df.withColumn(BucketCol, pmod(hash(col(key)), lit(nBuckets)))
      .filter(!col(BucketCol).isin(done.keys.toSeq: _*))
      .hint("rebalance", col(BucketCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-write option, NOT a session conf mutation: a session-level
      // partitionOverwriteMode=dynamic would silently change the semantics
      // of every later overwrite write in the same shared session
      pending.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol)
        .parquet(s"$table/data")
      // lineage after the data commit, derived from the PENDING rows (one
      // cached pass) — never by re-reading the output table, which at
      // 100 TB would be a second full scan of every bucket ever written
      val lineage = pending
        .groupBy(col(BucketCol).as("bucket"))
        .agg(countDistinct(col(key)).as("n_docs"), count(lit(1)).as("n_triples"))
        .withColumn("status", lit("ok")).withColumn("error", lit(""))
        .as[LineageRow].collect().toSeq
      if (lineage.nonEmpty)
        lineage.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(lineagePath(table))
      Written(lineage.length, done.values.sum + lineage.map(_.n_triples).sum)
    } finally pending.unpersist()
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$table/data").drop(BucketCol)

  /** Cumulative row count of a table from its LINEAGE — one tiny read,
    * never a re-scan of `<table>/data` (at 100 TB, another full pass). */
  def lineageRowCount(spark: SparkSession, table: String): Long =
    okBucketRows(spark, table).values.sum

  /** TSV export with the reference's per-file sequential ids (W2):
    * `R{n}` assigned by row_number over (doc_id) ordered by the natural key
    * (large_scale_prediction_pipeline_pt.py:457-516 writeback numbering).
    * 5-col RE format per LargeScaleRelationExtractionPipeline/README.md:36.
    */
  def triplesToTsv(triples: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("subj"), col("obj"), col("e1"), col("e2"))
    triples
      .withColumn("r_id", concat(lit("R"), row_number().over(w)))
      .select(col("doc_id"), col("r_id"),
        concat_ws("\t", col("doc_id"), col("e1"), col("e2"), col("pred"),
          format_number(col("score_pos"), 4)).as("tsv_row"))
  }

  /** brat .ann writeback (S7/S8 byte-format parity — reference:
    * large_scale_prediction_pipeline_pt.py:457-531): one row per doc whose
    * `ann_text` is the standoff content — `T` entity lines
    * (`T{n}\t{tag} {bgn} {end}\t{text}`) followed by `R` relation lines
    * (`R{n}\t{type} Arg1:{e1} Arg2:{e2}`), R-numbering per doc in natural
    * key order (W2). `texts` holds the (doc_id, text) the mention offsets
    * index; see [[bratOffsets]]. Round-trips through BratParser (tested). */
  def toAnn(mentions: DataFrame, triples: DataFrame, texts: DataFrame): DataFrame = {
    val tLines = bratOffsets(mentions, texts).select(col("doc_id"),
      struct(col("bgn"), col("mention_id")).as("ord"),
      concat_ws("\t", col("mention_id"),
        concat(col("tag"), lit(" "), col("bgn"), lit(" "), col("end")),
        col("text")).as("line"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("subj"), col("obj"), col("e1"), col("e2"))
    val rLines = triples
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"),
        struct(lit(Int.MaxValue).as("bgn"), concat(lit("R"), col("rn")).as("mention_id")).as("ord"),
        concat_ws("\t", concat(lit("R"), col("rn")),
          concat(col("pred"), lit(" Arg1:"), col("e1"), lit(" Arg2:"), col("e2")))
          .as("line"))
    tLines.unionByName(rLines)
      .groupBy(col("doc_id"))
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("ord"), col("line")))),
          s => s.getField("line"))).as("ann_text"))
  }

  /** `spans` with `bgn`/`end` in brat's unit: brat offsets count
    * CODEPOINTS, the engine's count UTF-16 units of the doc text, and the
    * two differ after an astral character. The codepoint offset of UTF-16
    * offset `o` is the character count of the text's first 2·o UTF-16BE
    * bytes. `texts` (doc_id, text) must hold every doc the spans name — a
    * brat `.ann` is only valid next to its `.txt`; a span of a missing doc
    * is not written. */
  private def bratOffsets(spans: DataFrame, texts: DataFrame): DataFrame = {
    val utf16 = encode(col("doc_text"), "UTF-16BE")
    def codepoints(o: String): Column =
      length(decode(utf16.substr(lit(1), col(o) * 2), "UTF-16BE"))
    spans.join(texts.select(col("doc_id"), col("text").as("doc_text")), "doc_id")
      .withColumn("bgn", codepoints("bgn"))
      .withColumn("end", codepoints("end"))
  }

  /** The reference's per-output-file TSV header line
    * (large_scale_prediction_pipeline_tf.py:240-244): the task's
    * confidence-index mapping rendered exactly as Python's str(dict) —
    * `# confidence indices:\t{0: 'neg', 1: 'Complex_formation'}`. */
  def confidenceHeader(labels: Seq[String] = Seq("neg", "Complex_formation")): String =
    "# confidence indices:\t" + labels.zipWithIndex
      .map { case (l, i) => s"$i: '$l'" }.mkString("{", ", ", "}")

  /** RE TSV export WITH the header as row 0 — the first thing a user
    * diffing exports against reference shards hits. `ord` is the export
    * sort key (header < every data row); doc_id widens to string so the
    * header row unions cleanly. */
  def triplesToTsvWithHeader(triples: DataFrame,
                             labels: Seq[String] = Seq("neg", "Complex_formation")): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val header = Seq((0, "", confidenceHeader(labels))).toDF("ord", "doc_id", "tsv_row")
    val rows = triplesToTsv(triples)
      .select(lit(1).as("ord"), col("doc_id").cast("string").as("doc_id"),
        col("tsv_row"))
    header.unionByName(rows)
  }

  /** Trigger .ann writeback (the reference re-emits best-trigger spans as
    * standoff T lines — large_scale_explanation_pipeline.py:514-519, with
    * per-file numbering from 1 in example order, :370/:463):
    * `T{n}\tTrigger {bgn} {end}\t{text}`, n per doc over the natural pair
    * key. `texts` as in [[toAnn]]. Round-trips through BratParser (Trigger
    * parses as an entity tag). */
  def triggersToAnn(triggers: DataFrame, texts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("e1"), col("e2"), col("bgn"), col("end"))
    bratOffsets(triggers, texts)
      .withColumn("tn", row_number().over(w))
      .select(col("doc_id"), col("tn"),
        concat_ws("\t", concat(lit("T"), col("tn")),
          concat(lit("Trigger "), col("bgn"), lit(" "), col("end")),
          col("text")).as("line"))
      .groupBy(col("doc_id"))
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("tn"), col("line")))),
          s => s.getField("line"))).as("ann_text"))
  }

  /** 9-col trigger TSV (S6 / trigger-row format per
    * LargeScaleTriggerDetectionPipeline/README.MD:26 and
    * large_scale_explanation_pipeline.py:490-502):
    * pmid e1 e2 neg_logit pos_logit trigger_score bgn end text.
    * Scores come from the pair's ScoredPair row joined on identity. */
  def triggersToTsv(triggers: DataFrame, scored: DataFrame): DataFrame =
    triggers.join(
        scored.select(col("doc_id"), col("e1"), col("e2"),
          col("score_neg"), col("score_pos")),
        Seq("doc_id", "e1", "e2"))
      .select(col("doc_id"),
        concat_ws("\t", col("doc_id"), col("e1"), col("e2"),
          format_number(col("score_neg"), 4), format_number(col("score_pos"), 4),
          format_number(col("score"), 4),
          col("bgn"), col("end"), col("text")).as("tsv_row"))

  /** Full trigger TSV: every scored pair gets a row. Pairs WITH triggers
    * get the 9-col rows (one per trigger); every other pair — negatives
    * (large_scale_explanation_pipeline.py:383-389) AND positives whose
    * trigger selection failed (invalid explanation :413-427, no valid
    * trigger :433-449 — the reference writes those scores-only too) —
    * gets a scores-only row with empty trigger columns. Expressed as an
    * anti-join against the trigger pairs, so no scored example ever
    * vanishes from the export. */
  def triggersToTsvAll(triggers: DataFrame, scored: DataFrame): DataFrame = {
    val scoreOnly = scored
      .join(triggers.select(col("doc_id"), col("e1"), col("e2")).distinct(),
        Seq("doc_id", "e1", "e2"), "left_anti")
      .select(col("doc_id"),
        concat_ws("\t", col("doc_id"), col("e1"), col("e2"),
          format_number(col("score_neg"), 4), format_number(col("score_pos"), 4),
          lit(""), lit(""), lit(""), lit("")).as("tsv_row"))
    triggersToTsv(triggers, scored).unionByName(scoreOnly)
  }
}
