package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced call: `layer` is the graft module the call enters
  * (sources, flatten, curation, dedup, packing, sink) or `other` for
  * the iteration root, whose self time is everything no layer span
  * covers. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, iter: Int, name: String, layer: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {
  /** Self time of every span: its duration minus the union of its
    * children's intervals (children may overlap each other). Self times
    * of one tree sum to the root's duration. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - Stats.covered(cs, s.start, s.end))
    }.toMap
  }

  /** Self time per layer of one iteration's spans. */
  def layerSelf(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Span recorder. Disabled, it runs the body and nothing else, so an
  * untraced run pays no tracing cost. Enabled, every span sets a job
  * group named after its id through `setGroup` (Spark's job group, so
  * [[Collector]] can attribute the jobs, stages and tasks a span starts;
  * None clears it); spans stay in memory until the run writes them out.
  * Single-threaded, like the closed loop that drives it. */
final class Tracer(val enabled: Boolean, setGroup: Option[String] => Unit = _ => (),
                   onEnd: Span => Unit = _ => ()) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var nextId = 1
  private var stack: List[(Int, String)] = Nil
  var iter: Int = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      // children inherit the parent's layer unless they name their own
      val lyr = if (layer.nonEmpty) layer else stack.headOption.map(_._2).getOrElse("other")
      stack = (id, lyr) :: stack
      setGroup(Some(s"perfbench-$id"))
      val start = System.nanoTime()
      try body
      finally {
        val s = Span(id, parent, iter, name, lyr, start, System.nanoTime())
        stack = stack.tail
        setGroup(stack.headOption.map { case (pid, _) => s"perfbench-$pid" })
        spans += s
        onEnd(s)
      }
    }

  /** A child of the current span with its layer: the plan (call) or
    * execute (action) half of a public call. */
  def plan[T](body: => T): T = span("plan", "")(body)
  def execute[T](body: => T): T = span("execute", "")(body)
}
