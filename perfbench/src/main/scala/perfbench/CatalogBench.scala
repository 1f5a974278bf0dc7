package perfbench

import graft.{Bench, Queries, SparkEntry}

import scala.util.Random
import Main._

/** catalog_mix: one pass over a seed-shuffled order of the catalog entries
  * per timed run, on the session the catalog's own entry points use
  * (`Bench.buildSession`, as `RunQuery` and `Bench` do), starting cold right after set-up. Each query's
  * result is written to parquet, which computes every column; run.py
  * compares every result with the DuckDB oracle after the JVM exits. */
object CatalogBench {

  /** The heavy iterative families (user graph, dedup closure, KG over the
    * catalog tables) and the curation composition, which carry the open
    * regressions and most of the hand-placed pins and checkpoints. */
  val Entries: Seq[String] = Seq(
    "curation_pipeline", "dedup_keep_list", "dedup_ngram_jaccard",
    "user_nf", "user_ppr", "user_sssp", "user_temporal_reach",
    "user_betweenness", "user_truss", "kg_entity_merge", "kg_pagerank")

  def run(a: Args, r: Report): Unit = {
    val dir = a.data.getOrElse(sys.error("catalog_mix needs --data")).toString
    val (spark, sessionS) = timed {
      val s = Bench.buildSession(a.cpus.toString)
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val (_, stageS) = timed(Queries.stageCorpusArtifacts(spark, dir))
    r.metrics("setup_s") = sessionS + stageS
    phase(f"set up: session ${sessionS}%.2fs, staging ${stageS}%.2fs")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val order = new Random(a.seed).shuffle(Entries)
    println(s"ORDER ${order.mkString(",")}")

    /** One mix pass: per-entry seconds (None when the query threw). */
    def pass(tag: String, tracer: Option[Tracer]): Map[String, Option[Double]] =
      order.map { name =>
        val out = a.work.resolve(s"results/$tag/$name").toString
        val fn = SparkEntry.queries(name)
        r.attempted += 1
        name -> (try {
          val (_, sec) = timed(tracer match {
            case Some(t) => t.span(s"query.$name")(fn(spark, dir).write.parquet(out))
            case None => fn(spark, dir).write.parquet(out)
          })
          r.results += ((tag, name, out))
          Some(sec)
        } catch { case e: Exception => r.fail(s"$tag $name: $e"); None })
      }.toMap

    if (!a.trace) {
      // no warm-up pass: `RunQuery` runs its query in a fresh JVM,
      // so the JIT and code generation of the first pass are paid on every
      // run; with a window shorter than a pass, a run times one cold pass
      val secs = closedLoop(a.seconds) { k =>
        val q = pass(s"t$k", None)
        if (q.values.forall(_.isDefined)) Some(q.values.flatten.sum) else None
      }
      println(s"RUNS catalog_mix job_s n=${secs.length} values=${fmt(secs)}")
      r.metrics("job_s") = median(secs)
      r.metrics("docs_per_s") = nDocs / median(secs)
    } else {
      // the same cold first pass the untraced run times, traced; no
      // untraced baseline in this run (a second cold pass needs a second
      // JVM), so `trace.overhead_s` is not measured here
      val tracer = new Tracer
      val collector = new Collector
      spark.sparkContext.addSparkListener(collector)
      resetPeakRss()
      val runs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      val traced = closedLoop(a.seconds) { k =>
        tracer.startRun(s"catalog_mix-seed${a.seed}-pass$k")
        collector.quiesce()
        collector.reset()
        val gc0 = gcSeconds()
        val q = tracer.span("pass")(pass(s"traced$k", Some(tracer)))
        val gc = gcSeconds() - gc0
        collector.quiesce()
        if (!q.values.forall(_.isDefined)) None
        else {
          val sec = q.values.flatten.sum
          runs += collector.sparkMetrics(a.cpus, sec, gc) ++
            q.map { case (name, s) => s"query.${name}_s" -> s.get }
          Some(sec)
        }
      }
      spark.sparkContext.removeSparkListener(collector)
      r.metrics("jvm.peak_rss_mb") = peakRssMib()
      runs.flatMap(_.keys).distinct.foreach { k => r.metrics(k) = median(runs.flatMap(_.get(k)).toSeq) }
      println(s"RUNS catalog_mix traced=${fmt(traced)}")
      a.traceOut.foreach { out =>
        tracer.write(out)
        java.nio.file.Files.writeString(out.resolveSibling(out.getFileName.toString + ".stages"),
          collector.stageLines.mkString("", "\n", "\n"))
      }
    }
    phase("passes done")
    spark.stop()
  }
}
