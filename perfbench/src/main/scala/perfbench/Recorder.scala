package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One timed call into the engine, as the workload saw it. */
final case class OpSample(kind: String, pass: Int, ms: Double)

/** Runs every operation of a workload: tags the Spark jobs it starts with
  * the op id and phase (local properties the tracer reads), times it from
  * outside, checks its output and counts failures. A failed op is counted
  * and reported, never dropped: its exception or check message goes to
  * stderr and into the result file. */
final class Recorder {
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  private var nextId = 0L
  /** The id of the op running now. */
  def currentOp: Long = nextId
  var measuring = false
  var pass = -1
  var attempted = 0L
  val failures = ArrayBuffer.empty[String]
  val samples = ArrayBuffer.empty[OpSample]

  /** Runs one phase of the current op under its job tag. */
  final class Phases(opId: Long) {
    def apply[T](name: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(Recorder.PhaseKey, name)
      val t0 = System.nanoTime()
      try body
      finally tracer.foreach(_.phase(opId, name, t0, System.nanoTime()))
    }
  }

  /** Runs `body`, times it, then checks its result. `rows` gives the number
    * of rows the op returned (for rows read per row returned); `check`
    * returns an error message when the output is wrong. */
  def op[R](kind: String, module: String)(body: Phases => R)(
      rows: R => Long, check: R => Option[String]): Option[R] = {
    nextId += 1
    val id = nextId
    attempted += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.OpKey, id.toString)
    val t0 = System.nanoTime()
    val result =
      try Right(body(new Phases(id)))
      catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    sc.setLocalProperty(Recorder.OpKey, null)
    sc.setLocalProperty(Recorder.PhaseKey, null)
    result match {
      case Left(e) =>
        fail(s"$kind#$id threw ${e.getClass.getName}: ${e.getMessage}")
        None
      case Right(r) =>
        val n = rows(r)
        if (measuring) {
          samples += OpSample(kind, pass, (t1 - t0) / 1e6)
          tracer.foreach(_.op(id, kind, module, pass, t0, t1, n))
        }
        check(r) match {
          case Some(msg) => fail(s"$kind#$id wrong output: $msg"); None
          case None => Some(r)
        }
    }
  }

  /** Records a failed output check that is not tied to one op. */
  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
