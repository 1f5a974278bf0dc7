package perfbench

import graft.{GraftSession, KgPipeline, RunJob}
import graft.canon.ConnectedComponents
import graft.core._
import graft.eval.Evalsorel
import graft.materialize.GraphMaterializer
import graft.nlp.MentionDetector
import graft.score.LexiconScorer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import Main._

/** kg_dense: one `RunJob.run(docs, "synthetic:400", freshOutDir, 32)` per
  * timed run, on the session `RunJob.main` builds. */
object KgBench {

  /** Sized so a whole benchmark run (set-up, warm-up, two timed runs,
    * checks) takes about a minute on a contended 4-core box. */
  val NDocs = 8000
  val NBuckets = 32
  /** Entities of the dictionary `RunJob` builds for `synthetic:<n>`; the
    * corpus draws its mentions from the same entities. */
  val Entities = 400
  val DictSpec = s"synthetic:$Entities"
  /** Set-up repetitions; the median is reported. */
  val SetupReps = 3
  val Tables = Seq("triples", "nodes", "triggers")

  /** What a run wrote: its lineage row counts (and quarantine count) and an
    * order-insensitive digest (row count, sum of row hashes) per table. */
  final case class Outcome(counts: Map[String, Long], digests: Map[String, (Long, BigDecimal)])

  def run(a: Args, r: Report): Unit = {
    val (spark, sessionS) = timed {
      val s = GraftSession.production(a.cpus.toString, "graft-runjob")
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // set-up: stage the seeded corpus and its gold; repeated, median kept
    val stageS = (1 to SetupReps).map(i => timed(stage(spark, a.seed, a.work.resolve(s"input$i")))._2)
    r.metrics("setup_s") = sessionS + median(stageS)
    phase(f"set up: session $sessionS%.2fs, staging ${fmt(stageS)}s")
    (2 to SetupReps).foreach(i => deleteTree(a.work.resolve(s"input$i")))
    val kg = new KgBench(a, r, spark, a.work.resolve("input1"))
    if (a.trace) kg.traced() else kg.untraced()
    phase("runs done")
    spark.stop()
  }

  /** The seeded corpus, staged the way a production job reads it: a
    * multi-file docs table (64 files, like `Bench.stageCorpus`), plus the
    * generator's gold relations for the P/R check. */
  private def stage(spark: SparkSession, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    val gen = CorpusGen.generate(spark, CorpusGen.Params(NDocs, nEntities = Entities, seed = seed))
    gen.map(_.doc).repartition(64).write.parquet(dir.resolve("docs").toString)
    gen.flatMap(_.goldRelations).write.parquet(dir.resolve("gold").toString)
  }

  /** Java-serialized size of the automaton: what the broadcast ships. */
  private def serializedBytes(o: AnyRef): Long = {
    var n = 0L
    val sink = new java.io.OutputStream {
      override def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
    }
    val out = new java.io.ObjectOutputStream(sink)
    out.writeObject(o)
    out.close()
    n
  }
}

private final class KgBench(a: Args, r: Report, spark: SparkSession, input: Path) {
  import KgBench._
  import spark.implicits._
  private implicit val s: SparkSession = spark

  private val docsPath = input.resolve("docs").toString
  private val params = CorpusGen.Params(nDocs = 0, nEntities = Entities)

  private def outDir(tag: String): Path = a.work.resolve(s"out-$tag")

  /** A production job's process ends after its run, and RunJob leaves its
    * pass cached: drop every cached block, waiting until they are gone. */
  private def dropCaches(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def job(dir: Path): Map[String, Long] =
    RunJob.run(spark, docsPath, DictSpec, dir.toString, NBuckets)

  private def outcome(dir: Path, counts: Map[String, Long]): Outcome = {
    val digests = Tables.map { t =>
      val df = GraphMaterializer.readTable(spark, dir.resolve(t).toString)
      val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")
      val row = df.agg(count(lit(1)), sum(h)).head()
      t -> (row.getLong(0), BigDecimal(row.getDecimal(1)))
    }.toMap
    Outcome(counts.filter(kv => digests.contains(kv._1) || kv._1 == "quarantined"), digests)
  }

  /** One untimed warm-up run: the first `RunJob.run` of a JVM pays for
    * the JIT and code generation of its jobs (~15 s against ~9 s). Its
    * output is not checked; the timed runs' outputs are. */
  private def warmUp(): Unit = {
    val dir = outDir("warm")
    r.attempted += 1
    try job(dir)
    catch { case e: Exception => r.fail(s"warm-up: $e") }
    finally { deleteTree(dir); dropCaches() }
    phase("warm-up run done")
  }

  /** The outcome of the first full run; every later run must equal it. */
  private var ref: Option[Outcome] = None

  /** '' when a run's output at `dir` is right, else why not: its lineage
    * counts equal its tables' rows, and it equals the first run's outcome.
    * The first run's output must also reach the P/R gate. */
  private def check(dir: Path, o: Outcome): String = {
    val bad = Tables.filter(t => o.digests(t)._1 != o.counts(t))
    if (bad.nonEmpty) s"lineage counts differ from the tables for ${bad.mkString(",")}"
    else ref match {
      case Some(want) => if (o == want) "" else s"output differs from the first run: $o vs $want"
      case None =>
        ref = Some(o)
        val e = Evalsorel.evaluate(spark.read.parquet(input.resolve("gold").toString),
          GraphMaterializer.readTable(spark, dir.resolve("triples").toString))
        println(f"EVAL kg_dense tp=${e.tp} fp=${e.fp} fn=${e.fn} P=${e.precision}%.4f R=${e.recall}%.4f")
        if (e.precision < 0.95 || e.recall < 0.95) f"P=${e.precision}%.4f R=${e.recall}%.4f below 0.95"
        else ""
    }
  }

  /** One timed run of `body`; `inspect` runs right after the timing, then
    * the output is checked and removed. */
  private def once(tag: String, body: Path => Map[String, Long],
                   inspect: Path => Unit = _ => ()): Option[Double] = {
    val dir = outDir(tag)
    r.attempted += 1
    try {
      val (counts, sec) = timed(body(dir))
      inspect(dir)
      val why = check(dir, outcome(dir, counts))
      if (why.nonEmpty) { r.fail(s"run $tag: $why"); None }
      else Some(sec)
    } catch {
      case e: Exception => r.fail(s"run $tag: $e"); None
    } finally {
      deleteTree(dir)
      dropCaches()
    }
  }

  def untraced(): Unit = {
    warmUp()
    val secs = closedLoop(a.seconds)(k => once(s"t$k", job))
    println(s"RUNS kg_dense job_s n=${secs.length} values=${fmt(secs)}")
    r.metrics("job_s") = median(secs)
    r.metrics("docs_per_s") = NDocs / median(secs)
  }

  /** Two untraced runs (the overhead baseline) around two traced ones,
    * then one per-doc layer replay over the same docs. */
  def traced(): Unit = {
    val tracer = new Tracer
    val collector = new Collector
    val runs = mutable.ArrayBuffer.empty[Map[String, Double]]
    var stageLines = Seq.empty[String]

    /** RunJob.run's sequence of public calls, with a span around each. */
    def tracedJob(dir: Path): Map[String, Long] = tracer.span("job") {
      val docs = spark.read.parquet(docsPath).as[Doc]
      val dict = CorpusGen.dictionary(params)
      val edges = spark.createDataset(CorpusGen.equivEdges(params))
      val out = tracer.span("kg.run") {
        KgPipeline.run(docs, dict, edges, LexiconScorer.default, persistPass = true)
      }
      tracer.span("materialize.triples") {
        GraphMaterializer.writeResumable(spark, out.triples.toDF(), s"$dir/triples", NBuckets)
      }
      tracer.span("materialize.nodes") {
        GraphMaterializer.writeResumable(spark, out.nodes, s"$dir/nodes", NBuckets, key = "node_id")
      }
      tracer.span("materialize.triggers") {
        GraphMaterializer.writeResumable(spark, out.triggers.toDF(), s"$dir/triggers", NBuckets)
      }
      tracer.span("materialize.quarantine") {
        out.quarantine.toDF().write.mode("overwrite").parquet(s"$dir/quarantine")
      }
      tracer.span("materialize.lineage") {
        Tables.map(t => t -> GraphMaterializer.lineageRowCount(spark, s"$dir/$t")).toMap +
          ("quarantined" -> out.quarantine.count())
      }
    }

    /** One traced run, with the listener attached only while it runs. */
    def tracedRun(k: Int): Option[Double] = {
      val runId = s"kg_dense-seed${a.seed}-run$k"
      tracer.startRun(runId)
      // the two eager steps KgPipeline.run makes before any job, timed on their own
      val dict = CorpusGen.dictionary(params)
      tracer.span("nlp.dict_build") { MentionDetector.broadcastDict(spark, dict).destroy() }
      val edges = CorpusGen.equivEdges(params)
      tracer.span("canon.canonicalize") {
        ConnectedComponents.canonicalizeAuto(spark.createDataset(edges))
      }
      collector.reset()
      spark.sparkContext.addSparkListener(collector)
      val gc0 = gcSeconds()
      var counts = Map.empty[String, Long]
      var figures = Map.empty[String, Double]
      val sec = once(s"traced$k", { dir => counts = tracedJob(dir); counts }, { dir =>
        val gc = gcSeconds() - gc0
        collector.quiesce()
        // RunJob leaves only the fused pass cached (the writes unpersist theirs)
        val info = spark.sparkContext.getRDDStorageInfo
        def spanS(name: String) = tracer.seconds(runId, name)
        figures = collector.sparkMetrics(a.cpus, spanS("job"), gc) ++ Map(
          "kg.pass_s" -> collector.cachingStagesSeconds(info.map(_.id).toSet),
          "kg.cached_mb" -> info.map(i => i.memSize + i.diskSize).sum / 1024.0 / 1024.0,
          "ingest.quarantined" -> counts("quarantined").toDouble,
          "nlp.dict_build_s" -> spanS("nlp.dict_build"),
          "canon.canonicalize_s" -> spanS("canon.canonicalize"),
          "canon.edges" -> edges.length.toDouble,
          "materialize.triples_s" -> spanS("materialize.triples"),
          "materialize.nodes_s" -> spanS("materialize.nodes"),
          "materialize.triggers_s" -> spanS("materialize.triggers"),
          "materialize.quarantine_s" -> spanS("materialize.quarantine"),
          "materialize.rows" -> counts.values.sum.toDouble,
          "materialize.written_mb" -> treeBytes(dir) / 1024.0 / 1024.0)
        stageLines = collector.stageLines
      })
      spark.sparkContext.removeSparkListener(collector)
      sec.foreach(_ => runs += figures)
      sec
    }

    // untraced, traced, traced, untraced: the JIT is still warming after
    // the warm-up run, and this order gives both sides the same share of it
    val base = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    warmUp()
    resetPeakRss()
    Seq(false, true, true, false).zipWithIndex.foreach {
      case (true, k) => tracedS ++= tracedRun(k)
      case (false, k) => base ++= once(s"u$k", job)
    }
    r.metrics("jvm.peak_rss_mb") = peakRssMib()
    // per-run figures: the median of each over the traced runs
    runs.flatMap(_.keys).distinct.foreach { k => r.metrics(k) = median(runs.flatMap(_.get(k)).toSeq) }
    r.metrics("trace.overhead_s") = median(tracedS.toSeq) - median(base.toSeq)
    println(s"RUNS kg_dense untraced=${fmt(base.toSeq)} traced=${fmt(tracedS.toSeq)}")

    // per-doc layers: one replay of the extraction pass's calls
    tracer.startRun(s"kg_dense-seed${a.seed}-replay")
    val dict = CorpusGen.dictionary(params)
    val bc = MentionDetector.broadcastDict(spark, dict)
    val rows = tracer.span("replay") {
      val parent = tracer.currentSpan
      val rows = Replay.run(spark.read.parquet(docsPath).as[Doc], bc)
      for (row <- rows; (layer, ns) <- Replay.Layers)
        tracer.add(layer, parent, row.startNs, row.startNs + ns(row))
      rows
    }
    val dictBytes = serializedBytes(bc.value)
    bc.destroy()
    def total(f: LayerTotals => Long): Double = rows.map(f).sum.toDouble
    val layerS = Replay.Layers.map { case (name, f) => name -> total(f) / 1e9 }.toMap
    r.metrics ++= Seq(
      "ingest.validate_s" -> layerS("ingest.validate"),
      "nlp.split_s" -> layerS("nlp.split"), "nlp.sentences" -> total(_.sentences),
      "nlp.detect_s" -> layerS("nlp.detect"), "nlp.mentions" -> total(_.mentions),
      "nlp.dict_bytes" -> dictBytes.toDouble,
      "nlp.tokenize_s" -> layerS("nlp.tokenize"), "nlp.tokens" -> total(_.tokens),
      "pairs.gen_s" -> layerS("pairs.gen"), "pairs.candidates" -> total(_.candidates),
      "score.score_s" -> layerS("score.score"), "score.fitted" -> total(_.fitted),
      "score.unfitted" -> total(_.unfitted), "score.positives" -> total(_.positives),
      "score.positive_ratio" -> total(_.positives) / math.max(1.0, total(_.fitted)),
      "triggers.detect_s" -> layerS("triggers.detect"), "triggers.rows" -> total(_.triggerRows),
      "trace.pass_coverage" -> layerS.values.sum / r.metrics.getOrElse("kg.pass_s", Double.NaN))
    val docs = total(_.docs)
    println(f"INPUT kg_dense seed=${a.seed} docs=$docs%.0f " +
      f"chars_per_doc=${total(_.chars) / docs}%.1f mentions_per_doc=${total(_.mentions) / docs}%.3f " +
      f"pairs_per_doc=${total(_.candidates) / docs}%.3f " +
      f"positive_share=${total(_.positives) / math.max(1.0, total(_.candidates))}%.4f " +
      f"dict_surfaces=${dict.length} automaton_bytes=$dictBytes")
    println("LAYERS kg_dense " + Replay.Layers.map { case (name, _) =>
      f"$name=${layerS(name)}%.3fs(${100 * layerS(name) / layerS.values.sum}%.1f%%)" }.mkString(" "))

    // the frozen graded headline's shape (Bench.kgRun: triples only, no
    // persisted pass, no writes) on the same docs and session, best of 3
    // after a warm-up as BenchLeg takes it, against RunJob's median
    def triplesOnly(): Double = timed {
      KgPipeline.run(spark.read.parquet(docsPath).as[Doc], dict,
        spark.createDataset(CorpusGen.equivEdges(params)), LexiconScorer.default).triples.count()
    }._2
    triplesOnly()
    val headline = NDocs / Seq.fill(3)(triplesOnly()).min
    val runJob = NDocs / median(base.toSeq)
    println(f"HEADLINE triples_only_docs_per_s=$headline%.0f runjob_docs_per_s=$runJob%.0f " +
      f"ratio=${headline / runJob}%.2f")

    a.traceOut.foreach { out =>
      tracer.write(out)
      Files.writeString(out.resolveSibling(s"${out.getFileName}.stages"),
        stageLines.mkString("", "\n", "\n"))
    }
  }
}
