package graftbench

/** One benchmark workload. [[Main]] times [[setup]], runs [[warm]] once
  * untimed, then runs ops in whole cycles of [[cycleLength]] until the
  * measuring time is used up. */
trait Workload {
  def setup(): Unit
  /** Untimed warm-up between set-up and measuring. */
  def warm(ctx: Ctx): Unit = ()
  def cycleLength: Int
  /** Run op `i`. Only the part inside `ctx.timed` is measured; output
    * checks run after it and throw [[CheckFailed]]. */
  def op(i: Long, ctx: Ctx): Op
  /** Checks on the state the run left behind (outside any timing). */
  def finalChecks(): Unit
  /** The workload's own breakdown of the untraced ops (name, value, unit). */
  def details(ops: Seq[Op]): Seq[(String, Double, String)]
  /** Per-layer metrics of the layers this workload drives, from a traced
    * run (name -> value); run.py reports every other one as 0. */
  def layers(tr: Tracer, ops: Seq[Op]): Seq[(String, Double)]
}

/** One measured op: its timed seconds, the work it did (rows, queries or
  * documents), its kind, and the Spark counters of its timed part
  * (zero when untraced). */
final case class Op(id: Long, seconds: Double, work: Double, kind: String,
    counters: Counters.Snap = Counters.Zero)

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** What an op gets from [[Main]]: the tracer and a timer that also reads
  * the Spark counters around the timed part when tracing. */
final class Ctx(val tr: Tracer, counters: Counters) {
  def timed[T](body: => T): (T, Double, Counters.Snap) = {
    val c0 = if (tr.on) counters.snapshot() else Counters.Zero
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    val c1 = if (tr.on) counters.snapshot() else Counters.Zero
    (r, dt, c1 - c0)
  }
}
