package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions.col

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the formatted physical plans of the lazy builders a refactor
  * must leave unchanged to one text file, on the catalog's session:
  *  - the user-graph edge builders (`Queries.userGraphEdges` with and
  *    without `spread`, `userWeightedEdges`, `userTemporalEdges`);
  *  - the near-dup operators of `Dedup` on the `documents` table
  *    (`lshVerifiedDupsPortable`, `lshVerifiedDupsPortableDelta` with every
  *    fourth doc new, `ngramJaccardPairsPrefix`, `simhashCandidates`,
  *    `simhashCandidatesPortable`), uncached (no vocabulary key);
  *  - the lazy KG pipeline (`KgPipeline.run` with `persistPass = false`,
  *    the graded headline's path) through `Queries.kgPipelineTriples` and
  *    `Queries.kgNodes`.
  * Compiled into the test classpath by
  * `tools/plan_diff.sh`, which runs it on two checkouts and diffs the
  * id-normalized output.
  *
  * usage: PlanDump <sfDir> <outFile> */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    lazy val docs = Queries.table(spark, sfDir, "documents")
    val builders = Seq(
      "userGraphEdges" -> (() => Queries.userGraphEdges(spark, sfDir)),
      "userGraphEdges(spread)" ->
        (() => Queries.userGraphEdges(spark, sfDir, spread = true)),
      "userWeightedEdges" -> (() => Queries.userWeightedEdges(spark, sfDir)),
      "userTemporalEdges" -> (() => Queries.userTemporalEdges(spark, sfDir)),
      "lshVerifiedDupsPortable" -> (() => Dedup.lshVerifiedDupsPortable(docs)),
      "lshVerifiedDupsPortableDelta" -> (() => Dedup.lshVerifiedDupsPortableDelta(
        docs, docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")))),
      "ngramJaccardPairsPrefix" -> (() => Dedup.ngramJaccardPairsPrefix(docs)),
      "simhashCandidates" -> (() => Dedup.simhashCandidates(docs)),
      "simhashCandidatesPortable" -> (() => Dedup.simhashCandidatesPortable(docs)),
      "kgPipelineTriples" -> (() => Queries.kgPipelineTriples(spark, sfDir)),
      "kgNodes" -> (() => Queries.kgNodes(spark, sfDir)))
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    for ((name, df) <- builders) {
      out.println(s"=== $name")
      Console.withOut(out)(df().explain("formatted"))
    }
    Files.write(Paths.get(outFile), buf.toString("UTF-8").getBytes(UTF_8))
    spark.stop()
  }
}
