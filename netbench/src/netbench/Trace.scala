package netbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Each span wraps one
  * public library call the benchmark makes (name, start, end, parent
  * span, operation id); spans are written out once, at exit. With
  * tracing off, [[apply]] only runs its body.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: Long,
      startNs: Long, endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  /** Record `body` as span `name`; `op` defaults to the parent's. */
  def apply[T](name: String, op: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { nextId += 1; nextId }
    val (parent, parentOp) = stack.get.headOption.getOrElse((0, 0L))
    val myOp = if (op >= 0) op else parentOp
    stack.set((id, myOp) :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, name, parent, myOp, t0, t1) }
    }
  }

  def toJson: Seq[Map[String, Any]] = synchronized(spans.toList).map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
