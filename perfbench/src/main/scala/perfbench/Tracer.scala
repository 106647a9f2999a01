package perfbench

import scala.collection.mutable

/** In-memory spans recorded by the benchmark around each call into a
  * layer, plus per-layer samples taken at the same boundaries. Nothing
  * is written until [[write]] at the end of the run. A disabled tracer
  * runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, op, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Records one observation of a per-layer metric. */
  def sample(metric: String, value: Double): Unit =
    if (enabled) samples.getOrElseUpdate(metric, mutable.ArrayBuffer()) += value

  def samplesOf(metric: String): Seq[Double] =
    samples.get(metric).map(_.toSeq).getOrElse(Nil)

  /** Span duration minus the part of it covered by its child spans. */
  def selfMs: Map[String, Seq[Double]] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).toSeq
    }
  }

  def write(path: java.nio.file.Path, header: String): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"info\":" ++= header ++= ",\"spans\":[\n"
    sb ++= spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"op":${s.op},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString(",\n")
    sb ++= "\n],\"samples\":" ++= Json.obj(samples.map { case (k, v) =>
      k -> v.map(Json.num).mkString("[", ",", "]")
    }.toSeq) ++= "}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, op: Long, parent: Int,
      startNs: Long, endNs: Long)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** An object from already-encoded values. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
