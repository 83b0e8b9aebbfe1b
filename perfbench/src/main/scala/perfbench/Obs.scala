package perfbench

import scala.collection.mutable.ArrayBuffer

/** One clock for everything the harness records: epoch milliseconds as a
  * double, derived from `nanoTime` so op and span durations keep sub-ms
  * precision while staying comparable with the millisecond timestamps
  * Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A timed operation of the closed loop (one public call, one query, one
  * CDC apply): `kind` groups ops for percentiles. */
final case class Op(id: Int, kind: String, name: String, startMs: Double,
    endMs: Double, ok: Boolean, error: String)

/** A harness-side span around one call into a layer, nested under its op. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startMs: Double, endMs: Double)

/** Records ops always and layer spans only when tracing. Single client
  * thread: the loop issues one op at a time, so the current op and the
  * span stack are plain fields. */
final class Recorder(val tracing: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  /** Named counters (bytes written, partitions found, ...). */
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Named per-call samples in ms, kept with or without tracing: the
    * workload-level metrics (write, ddl, job, build) are read from them. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var nextSpan = 1
  private var stack: List[Int] = Nil
  private var currentOp = -1
  var firstOpMs: Double = Double.NaN

  def count(name: String, v: Long): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v.toDouble

  def sample(name: String, ms: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += ms

  /** Run `body` as op `name`; an exception marks it failed and is not
    * rethrown (the loop goes on and the op counts against the error
    * rate). */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    val id = ops.size
    val t0 = Clock.nowMs
    if (firstOpMs.isNaN) firstOpMs = t0
    currentOp = id
    val opSpan = if (tracing) openSpan() else 0
    val err = try { body; "" } catch {
      case e: Throwable =>
        val m = Option(e.getMessage).getOrElse(e.getClass.getName)
        s"${e.getClass.getSimpleName}: ${m.take(300)}"
    }
    val t1 = Clock.nowMs
    if (tracing) closeSpan(opSpan, s"op.$kind", t0, t1)
    currentOp = -1
    ops += Op(id, kind, name, t0, t1, err.isEmpty, err)
    err.isEmpty
  }

  /** Time one call into layer `name` (e.g. `catalog.register`): always
    * sampled, and a span when tracing. */
  def layer[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    val id = if (tracing) openSpan() else 0
    try body
    finally {
      val t1 = Clock.nowMs
      sample(name, t1 - t0)
      if (tracing) closeSpan(id, name, t0, t1)
    }
  }

  private def openSpan(): Int = {
    val id = nextSpan
    nextSpan += 1
    stack = id :: stack
    id
  }

  private def closeSpan(id: Int, name: String, t0: Double, t1: Double): Unit = {
    stack = stack.tail
    spans += Span(id, stack.headOption.getOrElse(0), currentOp, name, t0, t1)
  }

  /** Mark the ops so far as failed when a check outside the timed region
    * rejects their output. */
  def failOps(pred: Op => Boolean, why: String): Unit =
    for (i <- ops.indices if pred(ops(i)) && ops(i).ok)
      ops(i) = ops(i).copy(ok = false, error = why)
}
