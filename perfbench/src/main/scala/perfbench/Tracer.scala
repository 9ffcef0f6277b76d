package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: spans op -> phase (build / plan / execute)
  * -> Spark job, plus per-op task counters, all held in memory and written
  * out when the run ends. A job belongs to the op and phase named by the
  * local properties [[Recorder]] sets before the call that starts it;
  * stages and tasks belong to their job's op. Catalyst phase times come
  * from each op's QueryExecution trackers: the final plan's, and those of
  * plans run while the op was being built (reported by the listener and
  * tied to the op through their SQL execution id). */
final class Tracer(cores: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private final class JobRec(val op: Long, val phase: String,
                             val start: Double, val tables: Boolean) {
    var end = start
  }
  private final class Acc {
    var stages, tasks = 0.0
    var schedDelayMs, runMs, cpuMs, gcMs = 0.0
    var shuffleWrite, shuffleRead, spill, inBytes, inRows, outBytes = 0.0
    var peakMem = 0L
  }

  private val ops = mutable.LinkedHashMap.empty[Long, OpRec]
  private val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val execOp = mutable.Map.empty[Long, Long]
  // SQL execution id -> (analysis, optimization, planning) ms
  private val trackers = mutable.Map.empty[Long, (Double, Double, Double)]
  private val acc = mutable.Map.empty[Long, Acc]
  // jobs no op claimed, by id and stage names, to find a call site that
  // escapes the op and phase tags
  private val untagged = mutable.ArrayBuffer.empty[String]

  def op(id: Long, kind: String, module: String, pass: Int, t0: Long,
         t1: Long, rows: Long): Unit = synchronized {
    ops(id) = OpRec(kind, module, pass, epochMs(t0), epochMs(t1), rows)
  }

  def phase(op: Long, name: String, t0: Long, t1: Long): Unit = synchronized {
    phases += PhaseRec(op, name, epochMs(t0), epochMs(t1))
  }

  /** The final plan of op `op`, after it has run. */
  def plan(op: Long, qe: QueryExecution): Unit = synchronized {
    execOp(qe.id) = op
    record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def d(name: String) = p.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    trackers(qe.id) = (d("analysis"), d("optimization"), d("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized(record(qe))
  override def onFailure(funcName: String, qe: QueryExecution,
                         e: Exception): Unit = synchronized(record(qe))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Recorder.OpKey))).foreach { o =>
      val op = o.toLong
      val phase = props.flatMap(p => Option(p.getProperty(Recorder.PhaseKey)))
        .getOrElse("execute")
      jobs(e.jobId) = new JobRec(op, phase, e.time.toDouble,
        e.stageInfos.exists(_.name.contains(TablesSite)))
      e.stageIds.foreach(stageOp(_) = op)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execOp(x.toLong) = op)
    }
    if (!props.exists(_.getProperty(Recorder.OpKey) != null))
      untagged += s"job ${e.jobId}: ${e.stageInfos.map(_.name).mkString("; ")}"
  }

  def untaggedJobs: Seq[String] = synchronized(untagged.toSeq)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => accOf(op).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = accOf(op)
      val info = e.taskInfo
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  private def accOf(op: Long) = acc.getOrElseUpdate(op, new Acc)

  /** Length of the union of `spans` clipped to [lo, hi]. */
  private def covered(spans: Iterable[(Double, Double)], lo: Double,
                      hi: Double): Double = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total, end = 0.0
    var start = Double.NaN
    clipped.foreach { case (s, e) =>
      if (start.isNaN || s > end) {
        if (!start.isNaN) total += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (!start.isNaN) total += end - start
    total
  }

  /** Per-layer totals over the measured ops, divided by `passes`: each value
    * is the cost of one pass of the workload. */
  def layers(passes: Int, modules: Seq[String]): Map[String, Double] =
    synchronized {
      val n = math.max(1, passes).toDouble
      val opJobs = jobs.values.groupBy(_.op)
      val opPhases = phases.groupBy(_.op)
      val opTrackers = execOp.toSeq.groupBy(_._2)
        .map { case (op, xs) => op -> xs.flatMap(x => trackers.get(x._1)) }
      val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var peak = 0L
      var readRows, returned = 0.0
      ops.foreach { case (id, o) =>
        val js = opJobs.getOrElse(id, Nil)
        val spans = js.map(j => (j.start, j.end))
        val a = acc.getOrElse(id, new Acc)
        def add(k: String, v: Double): Unit = sums(k) += v
        opPhases.getOrElse(id, Nil).filter(_.name == "build").foreach { b =>
          add("build_ms", (b.end - b.start) -
            covered(js.filter(_.phase == "build").map(j => (j.start, j.end)),
              b.start, b.end))
        }
        add("build_jobs", js.count(_.phase == "build"))
        val loads = js.filter(j => j.phase == "build" && j.tables)
        add("relation_load_jobs", loads.size)
        add("relation_load_ms", covered(loads.map(j => (j.start, j.end)),
          o.start, o.end))
        opTrackers.getOrElse(id, Nil).foreach { case (an, opt, pl) =>
          add("analysis_ms", an); add("optimization_ms", opt)
          add("planning_ms", pl)
        }
        add("jobs", js.size)
        add("job_wall_ms", covered(spans, o.start, o.end))
        add("outside_jobs_ms", (o.end - o.start) - covered(spans, o.start, o.end))
        add("stages", a.stages); add("tasks", a.tasks)
        add("scheduler_delay_ms", a.schedDelayMs)
        add("task_run_ms", a.runMs); add("task_cpu_ms", a.cpuMs)
        add("gc_ms", a.gcMs)
        add("shuffle_write_bytes", a.shuffleWrite)
        add("shuffle_read_bytes", a.shuffleRead)
        add("spill_bytes", a.spill)
        add("input_bytes", a.inBytes); add("input_rows", a.inRows)
        add("output_bytes", a.outBytes)
        add("op_ms", o.end - o.start)
        add(s"module.${o.module}_s", (o.end - o.start) / 1000.0)
        peak = math.max(peak, a.peakMem)
        if (o.rows > 0) { readRows += a.inRows; returned += o.rows }
      }
      val perPass = Tracer.PassMetrics.map(k => k -> sums(k) / n).toMap ++
        modules.map(m => s"module.${m}_s" -> sums(s"module.${m}_s") / n)
      perPass ++ Map(
        "core_busy_frac" -> sums("task_run_ms") / (sums("op_ms") * cores),
        "peak_exec_mem_bytes" -> peak.toDouble,
        "rows_read_per_row_returned" ->
          (if (returned > 0) readRows / returned else 0.0))
    }

  /** Every span as one JSON object per line: op, phase and job spans, each
    * with its name, start and end (epoch ms), parent and op id. */
  def spanLines(): Seq[String] = synchronized {
    def j(m: Seq[(String, Any)]) = Json.obj(m)
    ops.toSeq.map { case (id, o) =>
      j(Seq("id" -> s"op:$id", "name" -> o.kind, "start" -> o.start,
        "end" -> o.end, "parent" -> null, "op" -> id, "pass" -> o.pass))
    } ++ phases.map { p =>
      j(Seq("id" -> s"op:${p.op}/${p.name}", "name" -> p.name,
        "start" -> p.start, "end" -> p.end, "parent" -> s"op:${p.op}",
        "op" -> p.op))
    } ++ jobs.toSeq.map { case (jid, r) =>
      j(Seq("id" -> s"job:$jid", "name" -> "job", "start" -> r.start,
        "end" -> r.end, "parent" -> s"op:${r.op}/${r.phase}", "op" -> r.op))
    }
  }
}

object Tracer {
  private final case class OpRec(kind: String, module: String, pass: Int,
                                 start: Double, end: Double, rows: Long)
  private final case class PhaseRec(op: Long, name: String, start: Double,
                                    end: Double)
  /** The call site of jobs that `graft.Tables` starts: parquet footer reads
    * for schema inference when a table is opened, and its row statistics. */
  val TablesSite = " at Tables.scala:"
  /** Layer metrics summed over a pass (the rest are ratios or maxima). */
  val PassMetrics: Seq[String] = Seq(
    "build_ms", "build_jobs", "relation_load_jobs", "relation_load_ms",
    "analysis_ms", "optimization_ms",
    "planning_ms", "jobs", "stages", "tasks", "scheduler_delay_ms",
    "job_wall_ms", "outside_jobs_ms", "task_run_ms", "task_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "input_rows", "output_bytes")
}
