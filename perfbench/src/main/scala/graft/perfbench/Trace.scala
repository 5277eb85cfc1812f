package graft.perfbench

import scala.collection.mutable

/** One finished span: wall-clock interval in milliseconds (the clock
  * Spark stamps its listener events with), its parent and its run. */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long, parent: Int, runId: String) {
  def seconds: Double = (endMs - startMs) / 1e3
  def json: String =
    s"""{"id":$id,"name":"$name","start_ms":$startMs,"end_ms":$endMs,"parent":$parent,"run":"$runId"}"""
}

/** In-memory span recorder for the driver thread. Spans are kept until
  * the run ends and then written out in one go. */
final class Tracer(runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, t0, System.currentTimeMillis(), parent, runId)
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** Self time of every span (its time minus its children's), summed
    * by span name. */
  def selfSeconds(of: Seq[Span] = spans): Map[String, Double] = {
    val childTime = of.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    of.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
