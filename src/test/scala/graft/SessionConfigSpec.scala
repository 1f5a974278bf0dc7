package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench-tuned file-split overrides must never reach a production
  * session: `spark.sql.files.maxPartitionBytes=1m` is right for saturating
  * 32 local threads on a few-hundred-MB staged corpus and plans ~10^8 scan
  * tasks at 100 TB. GraftSession quarantines the overrides in
  * `benchOnlyOptions`; production jobs get planner defaults. */
class SessionConfigSpec extends AnyFunSuite {

  test("production options carry no file-split overrides (planner defaults)") {
    val prod = GraftSession.commonOptions("32").map(_._1).toSet
    val benchOnly = GraftSession.benchOnlyOptions.map(_._1).toSet
    assert(benchOnly == Set("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes"))
    assert(prod.intersect(benchOnly).isEmpty,
      "production session must leave scan split sizing at planner defaults")
    assert(!prod.exists(_.startsWith("spark.sql.files.")),
      "no spark.sql.files.* tuning in the production option set")
    // AQE stays on in production — runtime coalesce + skew-join handling
    assert(GraftSession.commonOptions("32").toMap
      .get("spark.sql.adaptive.enabled").contains("true"))
    // every entry point's session writes file:// with the in-JVM chmod
    assert(GraftSession.commonOptions("32").toMap.get("spark.hadoop.fs.file.impl")
      .contains(classOf[graft.io.LocalChmodFileSystem].getName))
  }

  test("a live production-shaped session resolves the 128 MB split default") {
    // apply the production option set to a fresh session over the shared
    // test context (SQL confs are session-scoped) and read the resolved
    // split size — must be the planner default, not the bench 1 MB
    val s = TestSpark.spark.newSession()
    GraftSession.commonOptions("4").foreach { case (k, v) =>
      if (k.startsWith("spark.sql.")) s.conf.set(k, v)
    }
    val untouched = TestSpark.spark.newSession()
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") ==
      untouched.conf.get("spark.sql.files.maxPartitionBytes"),
      "production sessions must keep the planner's scan split default")
    // and the bench override set would NOT resolve to the default
    val bench = TestSpark.spark.newSession()
    GraftSession.benchOnlyOptions.foreach { case (k, v) => bench.conf.set(k, v) }
    assert(bench.conf.get("spark.sql.files.maxPartitionBytes") !=
      untouched.conf.get("spark.sql.files.maxPartitionBytes"))
  }

  test("an external master (spark-submit) is respected; local is a fallback") {
    assert(GraftSession.externalMaster.isEmpty,
      "the test JVM must not carry spark.master")
    sys.props("spark.master") = "yarn"
    try assert(GraftSession.externalMaster.contains("yarn"),
      "builder must not override a submit-provided master with local[*]")
    finally sys.props.remove("spark.master")
    sys.props("spark.master") = ""
    try assert(GraftSession.externalMaster.isEmpty, "empty string is no master")
    finally sys.props.remove("spark.master")
  }
}
