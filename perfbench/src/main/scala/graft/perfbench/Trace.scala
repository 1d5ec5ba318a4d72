package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans (name, start, end, parent) opened by the benchmark
  * around its calls into the engine's layers. Spans are opened from one
  * thread and nest strictly, so "the innermost span whose interval holds
  * time t" is well defined; [[Meter]] uses it to attribute each Spark job
  * to the span that was open when the job was submitted, whichever thread
  * (for instance a `Par.fork` pool thread) submitted it. */
final class Trace {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, name, open.headOption.getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime(), Long.MaxValue, Long.MaxValue)
      spans += sp
      open = sp.id :: open
      sp
    }
    try body
    finally synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (s.parent < 0) System.err.println(f"[perfbench] span ${s.name} ${s.seconds}%.2fs")
    }
  }

  /** Innermost span open at wall-clock time `ms` (ties go to the later
    * span: a job cannot be submitted and finished within the millisecond
    * its span closes). "-" when no span holds `ms`. */
  def nameAt(ms: Long): String = synchronized {
    var best: Span = null
    spans.foreach { s =>
      if (s.startMs <= ms && ms <= s.endMs && (best == null || s.startMs >= best.startMs)) best = s
    }
    if (best == null) "-" else best.name
  }

  /** Summed wall of every closed span with this name, in seconds. */
  def seconds(name: String): Double = synchronized {
    spans.filter(s => s.name == name && s.endNs != Long.MaxValue).map(_.seconds).sum
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int,
                        startMs: Long, startNs: Long, var endMs: Long, var endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
