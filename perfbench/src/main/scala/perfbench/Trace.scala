package perfbench

import scala.collection.mutable.ArrayBuffer

/** Spans recorded by the benchmark around its calls into the engine: name,
  * start, end, parent span and run id. They stay in memory and are written
  * out as JSON lines when the benchmark ends. Single-threaded use only. */
final class Tracer {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0 // 0 = no parent
  private var run = ""

  /** Starts a new run: later spans carry this id. */
  def startRun(id: String): Unit = { run = id; current = 0 }

  def currentSpan: Int = current

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(run, id, parent, name, t0, System.nanoTime())
      current = parent
    }
  }

  /** Records a span measured elsewhere, e.g. inside a Spark task. */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Unit = {
    spans += Span(run, nextId, parent, name, startNs, endNs)
    nextId += 1
  }

  /** Summed seconds of the spans called `name` in run `runId`. */
  def seconds(runId: String, name: String): Double =
    spans.iterator.filter(s => s.run == runId && s.name == name).map(_.seconds).sum

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"run":${Json.str(s.run)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Span(run: String, id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
