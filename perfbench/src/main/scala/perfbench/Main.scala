package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `perfbench/run.py` builds it and starts it:
  *
  *   Main --workload <kg_dense|catalog_mix> --seed <n>
  *        --seconds <s> --trace <0|1> --cpus <n> --work <dir>
  *        [--data <dir>] [--trace-out <file>]
  *
  * It sets up the workload, runs it closed-loop (one client) for about
  * `--seconds`, checks every run's output outside the timed region, and
  * writes `<work>/result.json`: the metrics, the attempted and failed
  * operation counts, and (catalog_mix) where each query's result is. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cpus: Int, work: Path,
                        data: Option[Path], traceOut: Option[Path])

  /** What one benchmark run reports. */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    /** catalog_mix: (pass, entry, result dir) of every query that returned */
    val results = mutable.ArrayBuffer.empty[(String, String, String)]

    def fail(what: String): Unit = { failed += 1; failures += what; System.err.println(s"[perfbench] FAILED $what") }

    def toJson: String = {
      def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
      val m = metrics.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")
      val f = failures.map(Json.str).mkString("[", ",", "]")
      val r = results.map { case (p, e, d) => s"[${Json.str(p)},${Json.str(e)},${Json.str(d)}]" }
        .mkString("[", ",", "]")
      s"""{"metrics":$m,"attempted":$attempted,"failed":$failed,"failures":$f,"results":$r}"""
    }
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, Paths.get(need("work")),
      kv.get("data").map(Paths.get(_)), kv.get("trace-out").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = new Report
    a.workload match {
      case "kg_dense" => KgBench.run(a, report)
      case "catalog_mix" => CatalogBench.run(a, report)
      case w => sys.error(s"unknown workload '$w'")
    }
    Files.writeString(a.work.resolve("result.json"), report.toJson)
  }

  // ------------------------------------------------------------ measuring

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def fmt(secs: Seq[Double]): String = secs.map(s => f"$s%.3f").mkString(",")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Total GC time of this JVM so far; in local mode the scheduler and the
    * executors share it, so per-task GC figures would count a pause once
    * per running task. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Resets the kernel's peak resident set of this process (VmHWM) to its
    * current resident set. Where /proc/self/clear_refs is not writable
    * the peak stays the one since the JVM started. */
  def resetPeakRss(): Unit =
    scala.util.Try(Files.writeString(Paths.get("/proc/self/clear_refs"), "5"))

  /** Peak resident set of this process since `resetPeakRss`, in MiB. */
  def peakRssMib(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Runs `once` back to back while its timed seconds so far, plus their
    * mean per run, stay within `seconds` (always at least once); returns
    * the seconds of the runs that succeeded. A failed run counts with its
    * wall time. */
  def closedLoop(seconds: Double)(once: Int => Option[Double]): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    var spent = 0.0
    var k = 0
    while (k == 0 || spent + spent / k <= seconds) {
      val t0 = System.nanoTime()
      val sec = once(k)
      out ++= sec
      spent += sec.getOrElse((System.nanoTime() - t0) / 1e9)
      k += 1
    }
    out.toSeq
  }

  private val started = System.nanoTime()

  /** Progress on stderr, with the seconds since the JVM started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2fs $what")
}
