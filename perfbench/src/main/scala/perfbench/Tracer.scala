package perfbench

import scala.collection.mutable.ArrayBuffer

/** One call into a layer, timed on the calling thread. `parent` is the id
  * of the enclosing span, -1 for the root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Times the benchmark's own calls into the engine. Every call is timed;
  * spans are kept in memory only while `keep` is on (the traced run) and
  * written out once the run ends. The calls come from one thread, so
  * spans nest strictly: a parent's self time is its duration minus its
  * children's, and the self times of a run's spans add up to its root. */
final class Tracer(val runId: String, val keep: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** run `body` inside a span called `name`; returns its result and wall
    * seconds. The span is closed even when `body` throws. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (keep) spans += Span(id, parent, name, t0, t1)
    }
  }

  def span[A](name: String)(body: => A): A = timed(name)(body)._1

  def toJsonLines: Seq[String] = spans.sortBy(_.id).map { s =>
    Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }.toSeq
}
