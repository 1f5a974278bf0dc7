package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the formatted physical plans of the user-graph edge builders
  * (`Queries.userGraphEdges` with and without `spread`,
  * `userWeightedEdges`, `userTemporalEdges`) to one text file, on the
  * catalog's session. Compiled into the test classpath by
  * `tools/plan_diff.sh`, which runs it on two checkouts and diffs the
  * id-normalized output: a refactor of a lazy builder must leave these
  * plans unchanged.
  *
  * usage: PlanDump <sfDir> <outFile> */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val builders = Seq(
      "userGraphEdges" -> (() => Queries.userGraphEdges(spark, sfDir)),
      "userGraphEdges(spread)" ->
        (() => Queries.userGraphEdges(spark, sfDir, spread = true)),
      "userWeightedEdges" -> (() => Queries.userWeightedEdges(spark, sfDir)),
      "userTemporalEdges" -> (() => Queries.userTemporalEdges(spark, sfDir)))
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
