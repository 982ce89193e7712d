package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An output check that did not hold; counted as a failed op. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** One executed op: a query, an RPC step or an artifact step. `counts`
  * and the named sub-intervals exist only on traced passes.
  */
final case class OpSample(
    pass: Int, id: Int, kind: String, label: String, seconds: Double,
    error: Option[String], traced: Boolean, counts: Counts, idleMs: Long,
    marks: Map[String, Counts], values: Map[String, Double]) {
  def value(k: String): Double = values.getOrElse(k, 0.0)
}

/** Run state shared by the harness and the workloads. */
final class Ctx(val spark: SparkSession, val fixtures: String, val work: String,
                val seed: Long) {
  val samples = mutable.ArrayBuffer.empty[OpSample]
  private var tracer: Option[Tracer] = None
  private var pass = -1
  private var marks = Map.empty[String, Counts]
  private var values = Map.empty[String, Double]

  def cores: Int = spark.sparkContext.defaultParallelism

  def beginPass(p: Int, traceWith: Option[Tracer]): Unit = {
    pass = p
    tracer = traceWith
  }

  /** Time one op. A thrown exception or failed check is recorded as a
    * failure of this op and never escapes: the run goes on.
    */
  def op(kind: String, label: String)(body: => Unit): Boolean = {
    val id = samples.size
    marks = Map.empty
    values = Map.empty
    tracer.foreach(_.beginOp(id))
    val before = tracer.map(_.snapshot()).getOrElse(Counts())
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error =
      try { span(s"op.$kind")(body); None }
      catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
          Some(s"${e.getClass.getSimpleName}: ${msg.take(300)}")
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    val (counts, idle) = tracer match {
      case Some(t) => (t.snapshot() - before, t.idleMs(wall0, wall1))
      case None => (Counts(), 0L)
    }
    samples += OpSample(pass, id, kind, label, secs, error, tracer.isDefined,
      counts, idle, marks, values)
    error.isEmpty
  }

  /** A span at a layer boundary inside the current op (traced only). */
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** A span whose listener counts are also kept on the op under `name`. */
  def counted[A](name: String)(body: => A): A = tracer match {
    case Some(t) =>
      val before = t.snapshot()
      val r = t.span(name)(body)
      marks += name -> (t.snapshot() - before)
      r
    case None => body
  }

  /** A figure the workload knows about the current op (rows moved,
    * bytes on disk), kept for the per-layer report.
    */
  def note(name: String, v: Double): Unit = values += name -> v

  /** Records a failed output check against an op that already ran. */
  def failOp(id: Int, msg: String): Unit =
    if (samples(id).error.isEmpty) samples(id) = samples(id).copy(error = Some(s"CheckFailed: $msg"))

  /** Drop what a finished op left cached, as `graft.Bench` does. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

/** A named client workload: a closed loop of passes, one client. */
trait Workload {
  /** The fixture scale the workload reads (a directory of the fixtures). */
  def scale: String = "sf0.01"
  /** Fewest measured passes of a run (per kind, in a traced run). */
  def minPasses: Int = 2
  /** Prepares the inputs; run several times, each timed. */
  def setup(ctx: Ctx): Unit
  /** One pass of ops through `ctx.op`. */
  def pass(ctx: Ctx, n: Int): Unit
  /** Untimed work before the measured passes: one pass by default. */
  def warmup(ctx: Ctx): Unit = pass(ctx, 0)
  /** Workload-specific end-to-end figures from measured untraced ops:
    * name -> (value, unit).
    */
  def extraEndToEnd(ops: Seq[OpSample]): Seq[(String, Double, String)] = Nil
  /** Per-layer figures from traced ops, totals per traced pass. */
  def layers(ops: Seq[OpSample], passes: Int): Map[String, Double] = Map.empty
  /** Micro-probes run once in the traced run. */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
  def close(ctx: Ctx): Unit = ()
}
