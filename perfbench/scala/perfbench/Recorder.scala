package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A correctness gate that did not hold; it fails the op it is raised in. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** One interval of a traced run. Each op has one root span (parent -1);
  * each public call inside it is a child span carrying the counter
  * growth taken across it. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One op: a week's load, a report tile, a feed increment, a query. */
final case class OpRec(id: Int, phase: String, cycle: Int, name: String,
    seconds: Double, traced: Boolean, error: Option[String])

/** Times ops and the public calls inside them. While tracing is on, the
  * probe listeners are registered and every op and call becomes a span;
  * spans stay in memory until the run ends. */
final class Recorder(spark: SparkSession) {
  val probe = new Probe(spark)
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  var phase = "setup"
  var cycle = -1
  private var tracing = false
  private var nextSpan = 0

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) probe.attach() else probe.detach()
    tracing = on
  }

  def isTracing: Boolean = tracing

  /** Runs `body` as one op. A throw, or a [[Mismatch]], fails the op and
    * records the exception class and the first line of its message. */
  def op(name: String)(body: Call => Unit): OpRec = {
    val call = new Call(ops.size, nextId())
    val t0 = System.nanoTime()
    val s0 = if (tracing) Some(probe.snapshot()) else None
    val error =
      try { body(call); None }
      catch { case NonFatal(e) => Some(Recorder.describe(e)) }
    val t1 = System.nanoTime()
    s0.foreach(a => spans += Span(call.opId, call.rootId, -1, name, t0, t1,
      probe.delta(a, probe.snapshot())))
    val rec = OpRec(call.opId, phase, cycle, name, (t1 - t0) / 1e9, tracing, error)
    error.foreach(e => System.err.println(s"[perfbench] op $name failed: $e"))
    ops += rec
    rec
  }

  private def nextId(): Int = { nextSpan += 1; nextSpan - 1 }

  final class Call(val opId: Int, val rootId: Int) {
    private var parent = rootId

    /** Times one public call as a child span of the current op. */
    def apply[T](name: String)(f: => T): T = {
      if (!tracing) return f
      val id = nextId()
      val outer = parent
      parent = id
      val t0 = System.nanoTime()
      val s0 = probe.snapshot()
      try f
      finally {
        parent = outer
        val t1 = System.nanoTime()
        spans += Span(opId, id, outer, name, t0, t1, probe.delta(s0, probe.snapshot()))
      }
    }
  }
}

object Recorder {
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    s"${e.getClass.getName}: ${msg.take(300)}"
  }
}
