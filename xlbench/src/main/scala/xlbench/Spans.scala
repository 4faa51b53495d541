package xlbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into a layer's public function.
  * `parent` is the index of the enclosing span in the recorder, or -1. */
final case class Span(name: String, op: String, startNs: Long, endNs: Long, parent: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans nest by call
  * structure (single client thread); they are only written out when the
  * run ends, so recording costs two `nanoTime` calls and one append. */
final class Spans(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil // indices into `done` of open spans
  private var op = ""

  def setOp(id: String): Unit = op = id

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val idx = done.size
      done += Span(name, op, System.nanoTime(), 0L, open.headOption.getOrElse(-1))
      open = idx :: open
      try f
      finally {
        done(idx) = done(idx).copy(endNs = System.nanoTime())
        open = open.tail
      }
    }

  def all: Seq[Span] = done.toSeq

  /** Self time per span: its duration minus the time its direct children
    * cover (children of one parent never overlap on one thread). */
  def selfSeconds: Seq[(Span, Double)] = Spans.selfSeconds(done.toSeq)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = done.map { s =>
      s"""{"name":${Json.str(s.name)},"op":${Json.str(s.op)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Spans {
  def selfSeconds(spans: Seq[Span]): Seq[(Span, Double)] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.zipWithIndex.map { case (s, i) => s -> (s.endNs - s.startNs - childNs(i)) / 1e9 }
  }
}
