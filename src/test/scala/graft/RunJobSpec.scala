package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end job semantics: materialization of all three tables with
  * lineage, idempotent re-run, quarantine output. */
class RunJobSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  test("RunJob writes triples/nodes/triggers with lineage; re-run is a no-op") {
    val tmp = Files.createTempDirectory("graft_job").toString
    val docsDir = s"$tmp/docs"
    val p = core.CorpusGen.Params(nDocs = 150)
    core.CorpusGen.generate(spark, p).map(_.doc)
      .repartition(4).write.parquet(docsDir)

    val c1 = RunJob.run(spark, docsDir, s"synthetic:${p.nEntities}", s"$tmp/out", 8)
    assert(c1("triples") > 0 && c1("nodes") > 0 && c1("triggers") > 0)
    assert(c1("buckets_written_triples") == 8)
    assert(c1("quarantined") == 0)

    val c2 = RunJob.run(spark, docsDir, s"synthetic:${p.nEntities}", s"$tmp/out", 8)
    assert(c2("buckets_written_triples") == 0, "completed buckets must be skipped")
    assert(c2("triples") == c1("triples") && c2("nodes") == c1("nodes"))

    // lineage counts agree with the data, and come from lineage ALONE:
    // after the data files are gone the count still answers — proof the
    // metrics job never scans <table>/data
    val fromData = materialize.GraphMaterializer
      .readTable(spark, s"$tmp/out/triples").count()
    assert(c1("triples") == fromData)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$tmp/out/triples/data")).deleteRecursively()
    assert(materialize.GraphMaterializer
      .lineageRowCount(spark, s"$tmp/out/triples") == fromData)
  }

  test("RunJob: a crash between the triples' data commit and its lineage resumes exactly") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    import scala.reflect.io.Directory
    val tmp = Files.createTempDirectory("graft_crash").toString
    val p = core.CorpusGen.Params(nDocs = 150)
    core.CorpusGen.generate(spark, p).map(_.doc).repartition(4).write.parquet(s"$tmp/docs")
    def job(out: String) = RunJob.run(spark, s"$tmp/docs", s"synthetic:${p.nEntities}", out, 8)
    /** Order-insensitive digest of each table: row count and sum of row hashes. */
    def digests(out: String) = Seq("triples", "nodes", "triggers").map { t =>
      val df = materialize.GraphMaterializer.readTable(spark, s"$out/$t")
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
      t -> (r.getLong(0), r.getDecimal(1))
    }.toMap

    val (clean, jobs) = org.apache.spark.JobProbe.jobs(spark.sparkContext)(job(s"$tmp/clean"))
    // RunJob.run on this input ran 39 Spark jobs before the positives-only
    // cache, the collected lineage and the observed quarantine count
    val jobsBefore = 39
    info(s"RunJob.run Spark jobs: $jobs (was $jobsBefore)")
    assert(jobs < jobsBefore)

    // the state after the triples' data committed but before its lineage
    // was appended: no triples lineage, no later table
    job(s"$tmp/out")
    Seq("triples/_lineage", "nodes", "triggers", "quarantine")
      .foreach(d => new Directory(new java.io.File(s"$tmp/out/$d")).deleteRecursively())
    val resumed = job(s"$tmp/out")
    assert(resumed == clean)
    assert(digests(s"$tmp/out") == digests(s"$tmp/clean"))
    assert(clean("triples") == digests(s"$tmp/clean")("triples")._1)
  }

  test("RunJob: one failing concurrent write fails the job; the others commit and the re-run writes only it") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    import materialize.GraphMaterializer.{lineageRowCount, readTable}
    val tmp = Files.createTempDirectory("graft_write_fail").toString
    val p = core.CorpusGen.Params(nDocs = 150)
    core.CorpusGen.generate(spark, p).map(_.doc).repartition(4).write.parquet(s"$tmp/docs")
    def job(out: String) = RunJob.run(spark, s"$tmp/docs", s"synthetic:${p.nEntities}", out, 8)
    def digests(out: String) = Seq("triples", "nodes", "triggers").map { t =>
      val df = readTable(spark, s"$out/$t")
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
      t -> (r.getLong(0), r.getDecimal(1))
    }.toMap
    val clean = job(s"$tmp/clean")

    // a regular file where the nodes table goes: its write cannot start
    val out = s"$tmp/out"
    val obstacle = java.nio.file.Paths.get(out, "nodes")
    Files.createDirectories(obstacle.getParent)
    Files.writeString(obstacle, "not a table")
    val err = intercept[java.io.IOException](job(out))
    assert(err.getMessage.contains("nodes"), err.toString)
    assert(err.getSuppressed.isEmpty, "only the nodes write failed")
    // the other writes finished before the job failed: each is committed,
    // with lineage counts equal to its data
    for (t <- Seq("triples", "triggers")) {
      assert(lineageRowCount(spark, s"$out/$t") == readTable(spark, s"$out/$t").count(), t)
      assert(lineageRowCount(spark, s"$out/$t") == clean(t), t)
    }
    assert(Files.exists(java.nio.file.Paths.get(out, "quarantine", "_SUCCESS")))

    Files.delete(obstacle)
    val resumed = job(out)
    assert(resumed("buckets_written_nodes") == 8)
    assert(resumed("buckets_written_triples") == 0 && resumed("buckets_written_triggers") == 0,
      "the committed tables are not written again")
    assert(resumed.filterNot(_._1.startsWith("buckets_")) ==
      clean.filterNot(_._1.startsWith("buckets_")))
    assert(digests(out) == digests(s"$tmp/clean"))
  }

  test("a bucketed write through the engine's file:// has the stock tree and permission bits") {
    import materialize.GraphMaterializer.{readTable, write}
    import java.nio.file.{Path => JPath}
    import java.nio.file.attribute.PosixFilePermissions
    val tmp = Files.createTempDirectory("graft_fs_write")
    val rows = (0 until 300).map(i => (s"doc$i", i.toLong))
    // the shared test session writes through the stock file system; this
    // one resolves file:// to the engine's, counting its chmods. The
    // writer's Hadoop conf carries the session's confs; without the cache
    // switch, file:/// would resolve to the instance already cached
    val engine = spark.newSession()
    engine.conf.set("fs.file.impl", classOf[CountingChmodFileSystem].getName)
    engine.conf.set("fs.file.impl.disable.cache", "true")
    write(spark, rows.toDF("doc_id", "v"), tmp.resolve("stock").toString, 8)
    CountingChmodFileSystem.chmods.set(0)
    write(engine, engine.createDataFrame(rows).toDF("doc_id", "v"),
      tmp.resolve("engine").toString, 8)
    assert(CountingChmodFileSystem.chmods.get > 0, "the write went through the engine's chmod")

    /** Each path under `root`, part-file ids dropped, with its bits. */
    def tree(root: JPath): Seq[(String, String)] = {
      val walk = Files.walk(root)
      try walk.toArray.toSeq.map(_.asInstanceOf[JPath]).map { f =>
        root.relativize(f).toString.replaceAll("part-[0-9a-f-]+(\\.c[0-9]+)?", "part") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      }.distinct.sorted
      finally walk.close()
    }
    val engineTree = tree(tmp.resolve("engine"))
    assert(engineTree == tree(tmp.resolve("stock")))
    assert(engineTree.exists(_._1.endsWith(".parquet.crc")) &&
      engineTree.exists(_._1 == "_lineage/_SUCCESS"), engineTree.mkString("\n"))
    assert(engineTree.forall { case (f, bits) =>
      bits == (if (Files.isDirectory(tmp.resolve("engine").resolve(f))) "rwxr-xr-x" else "rw-r--r--")
    }, engineTree.mkString("\n"))
    assert(readTable(engine, tmp.resolve("engine").toString).as[(String, Long)].collect().sorted
      .sameElements(rows.sorted))
  }

  test("RunJob: an absent <dict>_equiv runs uncanonicalized; a malformed one fails") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val tmp = Files.createTempDirectory("graft_equiv").toString
    val p = core.CorpusGen.Params(nDocs = 80)
    val docs = core.CorpusGen.generate(spark, p).map(_.doc)
    docs.write.parquet(s"$tmp/docs")
    val dict = core.CorpusGen.dictionary(p)
    dict.toDS().write.parquet(s"$tmp/dict")

    // absent: the job runs, and its triples are the raw (uncanonicalized) ones
    val c = RunJob.run(spark, s"$tmp/docs", s"$tmp/dict", s"$tmp/out", 4)
    assert(c("triples") > 0)
    def keys(ts: org.apache.spark.sql.DataFrame) =
      ts.select("doc_id", "subj", "obj").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val written = keys(materialize.GraphMaterializer.readTable(spark, s"$tmp/out/triples"))
    def direct(edges: Seq[core.EquivEdge]) =
      keys(KgPipeline.run(docs, dict, edges.toDS(), score.LexiconScorer.default).triples.toDF())
    assert(written == direct(Nil))
    assert(written != direct(core.CorpusGen.equivEdges(p)),
      "canonicalization must change some triple, or the check above shows nothing")

    // present but with the wrong columns, or corrupt: the job fails
    // instead of silently switching canonicalization off
    dict.toDS().write.parquet(s"$tmp/dict2")
    Seq(("a", "b")).toDF("from", "to").write.parquet(s"$tmp/dict2_equiv")
    intercept[org.apache.spark.sql.AnalysisException] {
      RunJob.run(spark, s"$tmp/docs", s"$tmp/dict2", s"$tmp/out2", 4)
    }
    dict.toDS().write.parquet(s"$tmp/dict3")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/dict3_equiv"))
    Files.writeString(java.nio.file.Paths.get(s"$tmp/dict3_equiv/part-0.parquet"), "not parquet")
    intercept[Exception] {
      RunJob.run(spark, s"$tmp/docs", s"$tmp/dict3", s"$tmp/out3", 4)
    }
  }

  test("CurationJob materializes keep-list + packed resumably; re-run no-op") {
    val tmp = Files.createTempDirectory("graft_cjob").toString
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    // no-eval run: decontamination SKIPPED (a production corpus is never
    // decontaminated against a slice of itself)
    val c1 = CurationJob.run(spark, docsPath, s"$tmp/out", 4)
    assert(c1("keep_list") > 0 && c1("packed") > 0)
    assert(c1("buckets_written_keep_list") == 4)
    val c2 = CurationJob.run(spark, docsPath, s"$tmp/out", 4)
    assert(c2("buckets_written_keep_list") == 0 &&
      c2("buckets_written_packed") == 0, "completed buckets must be skipped")
    assert(c2("keep_list") == c1("keep_list") && c2("packed") == c1("packed"))
    // the rollup landed too (the testdata corpus carries lang/source)
    assert(spark.read.parquet(s"$tmp/out/stats").count() > 0)
    // the signature store rode along with the keep-list: one row per doc,
    // and the re-run REOPENED it (fingerprint match → meta untouched)
    val nDocs = spark.read.parquet(docsPath).count()
    assert(c1("signatures") == nDocs && c2("signatures") == nDocs)
    val meta = java.nio.file.Paths.get(s"$tmp/out/signatures",
      sources.SigStore.MetaFile)
    assert(java.nio.file.Files.exists(meta), "the sidecar is the commit marker")
    // the packed table matches the pipeline over the same corpus + config
    val direct = Queries.curationPipelineOver(
      spark.read.parquet(docsPath), evalSet = None).count()
    assert(c1("packed") == direct)
  }

  test("CurationJob with an EXTERNAL eval table decontaminates against it") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_cjob_eval").toString
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(docsPath)
    // baseline without eval, then pick three packed survivors and publish
    // their exact texts as the external benchmark suite
    val base = CurationJob.run(spark, docsPath, s"$tmp/base", 4)
    val survivors = materialize.GraphMaterializer
      .readTable(spark, s"$tmp/base/packed")
      .select("doc_id").limit(3).collect().map(_.getLong(0))
    assert(survivors.length == 3)
    docs.filter(col("doc_id").isin(survivors: _*))
      .select(col("doc_id"), col("text"))
      .write.parquet(s"$tmp/eval")
    val withEval = CurationJob.run(spark, docsPath, s"$tmp/out", 4,
      evalSet = Some(spark.read.parquet(s"$tmp/eval")))
    assert(withEval("packed") == base("packed") - 3,
      "every doc matching the external eval suite must be dropped")
    val packedIds = materialize.GraphMaterializer
      .readTable(spark, s"$tmp/out/packed")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    survivors.foreach(id => assert(!packedIds.contains(id),
      s"contaminated doc $id must not be packed"))
    // the keep-list deliverable is decontamination-independent
    assert(withEval("keep_list") == base("keep_list"))
  }
}

/** The engine's `file://` with a count of its raw file system's chmods. */
class CountingChmodFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
  new graft.io.InJvmChmodRawFileSystem {
    override def setPermission(p: org.apache.hadoop.fs.Path,
                               permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
      CountingChmodFileSystem.chmods.incrementAndGet()
      super.setPermission(p, permission)
    }
  })

object CountingChmodFileSystem {
  val chmods = new java.util.concurrent.atomic.AtomicInteger
}
