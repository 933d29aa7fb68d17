package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. A span has a name, a
  * start and end (ns, monotonic), an optional parent and the run id.
  * Spans opened on one thread nest under the innermost open span of
  * that thread; nothing is written until `writeJson`.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Option[Int], runId: String) {
  def durNs: Long = endNs - startNs
}

final class Spans(val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def time[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.get.headOption
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      synchronized { done += Span(id, name, t0, t1, parent, runId) }
    }
  }

  def all: Seq[Span] = synchronized(done.toList.sortBy(_.startNs))

  def writeJson(path: java.nio.file.Path): Unit = {
    val spans = all
    val self = Spans.selfTimes(spans)
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "run_id" -> s.runId,
        "parent" -> s.parent.getOrElse(-1),
        "start_ms" -> (s.startNs - spans.head.startNs) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id) / 1e6)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Spans {

  /** Self time of each span: its duration minus the part of it covered
    * by its children. Children that overlap each other (spans opened on
    * several threads) are merged first, and a child running past its
    * parent only counts inside the parent's interval, so self time is
    * never negative.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(Some(s.id), Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- ivs) {
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
