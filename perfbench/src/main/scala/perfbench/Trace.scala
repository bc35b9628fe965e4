package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans around the calls the benchmark makes into the engine's layers.
  * Each span holds a name, start, end, parent and op id; they are kept in
  * memory and written out once, at the end of the run. A span's layer is
  * the part of its name before the first dot. Spans nest on the calling
  * thread only, so the self times of an op's spans (a span's time minus
  * its children's) add up to the op's wall time.
  *
  * Disabled (an untraced run), `span` is a plain call. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var op = -1

  /** Ops numbered from 0; warm-up ops use negative ids. */
  def beginOp(id: Int): Unit = op = id

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(name, System.nanoTime(), 0L, parent, op)
      open = id :: open
      try f
      finally {
        spans(id) = spans(id).copy(end = System.nanoTime())
        open = open.tail
      }
    }

  /** Self seconds per span name, per timed op (op id >= 0). */
  def selfByOp(): Map[Int, Map[String, Double]] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.indices.filter(i => spans(i).op >= 0).groupBy(i => spans(i).op)
      .map { case (op, ids) =>
        op -> ids.groupBy(i => spans(i).name).map { case (n, is) =>
          n -> is.map(i => spans(i).end - spans(i).start - childNs(i)).sum / 1e9
        }
      }
  }

  /** Wall seconds of each timed op's root span named `root`. */
  def rootWall(root: String): Map[Int, Double] =
    spans.filter(s => s.op >= 0 && s.parent < 0 && s.name == root)
      .map(s => s.op -> (s.end - s.start) / 1e9).toMap

  /** One JSON object per line: name, start/end in ns from the first span,
    * parent index (-1 = root) and op id. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.iterator.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":${Json.str(s.name)},"start_ns":${s.start - t0},""" +
        s""""end_ns":${s.end - t0},"parent":${s.parent},"op":${s.op}}"""
    }
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

object Trace {
  final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)
}

/** The few JSON shapes the benchmark prints. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
