package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed client operation: its kind ("query", "batch", "read"), name, the pass
  * (workload iteration) it belongs to, latency, the JVM's CPU and JIT-compile time
  * during it, whether it was the first run of its name, and whether it succeeded. */
final case class Op(id: Int, kind: String, name: String, pass: Int, ms: Double,
    cpuMs: Double, jitMs: Double, cold: Boolean, ok: Boolean, error: String)

/** A span around one call into a layer of the program. `parent` is the enclosing
  * span's id (-1 at the root) and `op` the operation it served (-1 during set-up).
  * Times are nanoseconds since the recorder was created. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/**
 * Operation log and span recorder. Spans are kept in memory and written out once,
 * when the run ends. With `tracing` off, [[span]] only runs its body, so the
 * untraced run pays nothing for the hooks.
 */
final class Recorder(val tracing: Boolean) {
  private val t0 = System.nanoTime()
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var currentOp = -1
  /** The workload's current pass; set by the workload's loop. */
  var pass = 0

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, s - t0, System.nanoTime() - t0, parent, currentOp)
        stack = stack.tail
      }
    }

  /** Time one client operation. A failure is recorded, not thrown: the run goes on
    * and the failure counts against the operations attempted. */
  def op[T](kind: String, name: String, cold: Boolean)(body: => T): Option[T] = {
    val id = ops.size
    currentOp = id
    val s = System.nanoTime()
    val (c, j) = (Recorder.processCpuNs, Recorder.jitMs)
    val (res, err) =
      try (Some(span(s"bench.$kind")(body)), null)
      catch { case NonFatal(e) => (None, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val op = Op(id, kind, name, pass, (System.nanoTime() - s) / 1e6,
      (Recorder.processCpuNs - c) / 1e6, Recorder.jitMs - j, cold, err == null,
      if (err == null) "" else err.take(300))
    ops += op
    System.err.println(f"[perfbench] $kind $name ${op.ms}%.0f ms${if (op.ok) "" else " FAILED " + op.error}")
    currentOp = -1
    res
  }
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads: tasks, planning, JIT, GC). */
  def processCpuNs: Long = os.getProcessCpuTime

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Time the JIT compilers have spent compiling, summed over their threads. */
  def jitMs: Double = jit.getTotalCompilationTime.toDouble
}

/** Just enough JSON output for the run report, so the harness depends on no JSON
  * library the program happens to ship. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
