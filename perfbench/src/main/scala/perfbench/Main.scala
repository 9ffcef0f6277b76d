package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a workload sees of the run. */
final class Ctx(val work: File, val bench: File, val seed: Long,
                val cores: Int, val rec: Recorder) {
  def spark: SparkSession = rec.spark
}

trait Workload {
  /** The op kind whose latency the end-to-end percentiles report. */
  def readKind: String
  /** Generates the inputs and builds what the timed ops read. Runs several
    * times per run, each time on a new session. */
  def setup(ctx: Ctx): Unit
  /** Untimed ops on the final session, so the passes start warm. */
  def warmUp(ctx: Ctx): Unit
  /** One pass: a fixed sequence of timed ops drawn from the seed. */
  def pass(ctx: Ctx, i: Int): Unit
  /** Input description for the result's context stamp. */
  def data: String
  /** Workload-specific numbers for the result file (not the summary line). */
  def extra(ctx: Ctx): Map[String, Double] = Map.empty
  /** Per-pass storage-layer counts the workload measures on disk. */
  def storageLayer(passes: Int): Map[String, Double] = Map.empty
}

/** One benchmark run in one JVM, started by run.py with `--workload w
  * --seed n --seconds s --trace 0|1 --cores c --work dir --bench dir --out
  * file`. Sets up [[Main.SetupReps]] times (the median is `setup_s`), warms
  * up, then runs passes until `seconds` have gone by, and writes the result
  * file. With `--trace 1` the tracer listens to the measured passes, and the
  * per-layer numbers and the spans are written as well. */
object Main {
  val SetupReps = 5

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(s)
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = new File(opts("work"))
    val wl: Workload = opts("workload") match {
      case "search" => new SearchWorkload(seed)
      case "suite" => new SuiteWorkload
      case "ingest" => new IngestWorkload(seed)
      case other => sys.error(s"unknown workload $other")
    }
    val rec = new Recorder
    val ctx = new Ctx(work, new File(opts("bench")), seed, cores, rec)

    val setupTimes = (0 until SetupReps).map { _ =>
      Recorder.time {
        if (rec.spark != null) rec.spark.stop()
        rec.spark = session(cores, work)
        wl.setup(ctx)
      }._2
    }
    val warmSeconds = Recorder.time(wl.warmUp(ctx))._2
    val tracer = if (traced) Some(new Tracer(cores)) else None
    tracer.foreach { t =>
      rec.tracer = Some(t)
      rec.spark.sparkContext.addSparkListener(t)
      rec.spark.listenerManager.register(t)
    }
    rec.measuring = true
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      rec.pass = passes
      wl.pass(ctx, passes)
      passes += 1
    }
    rec.measuring = false
    tracer.foreach(_ => org.apache.spark.PerfbenchBridge.drain(rec.spark.sparkContext))

    // latency percentiles pool the read ops of every measured pass: every
    // pass runs the same ops, so they hardly depend on how many passes fit
    val byPass = rec.samples.groupBy(_.pass).values.toSeq
    val reads = rec.samples.filter(_.kind == wl.readKind).map(_.ms).toSeq
    require(reads.nonEmpty, s"no ${wl.readKind} op completed")
    val e2e = Map(
      "setup_s" -> median(setupTimes),
      "p50_ms" -> median(reads),
      "p90_ms" -> quantile(reads, 0.90),
      "pass_s" -> median(byPass.map(_.map(_.ms).sum / 1000.0)),
      "peak_rss_mb" -> peakRssMb())
    val layers = tracer.map(_.layers(passes, SuiteWorkload.moduleNames) ++
      wl.storageLayer(passes))
    val result = Seq(
      "workload" -> opts("workload"), "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced,
      "context" -> Map(
        "cores" -> cores, "master" -> rec.spark.sparkContext.master,
        "data" -> wl.data,
        "jvm" -> System.getProperty("java.vm.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "attempted" -> rec.attempted, "failed" -> rec.failures.size,
      "failures" -> rec.failures.take(20).toSeq,
      "passes" -> passes, "read_ops" -> reads.size,
      "pass_runs_s" -> rec.samples.groupBy(_.pass).toSeq.sortBy(_._1)
        .map(_._2.map(_.ms).sum / 1000.0),
      "setup_runs_s" -> setupTimes,
      "end_to_end" -> e2e,
      "extra" -> (wl.extra(ctx) ++ Map("warm_up_s" -> warmSeconds,
        "fail_frac" -> rec.failures.size.toDouble / math.max(1L, rec.attempted))),
      "per_layer" -> layers.orNull,
      "untagged_jobs" -> tracer.map(_.untaggedJobs).orNull,
      "dropped_events" -> tracer.map(_ =>
        org.apache.spark.PerfbenchBridge.droppedEvents(rec.spark.sparkContext))
        .getOrElse(null))
    Files.writeString(Paths.get(opts("out")), Json.obj(result) + "\n")
    tracer.foreach { t =>
      Files.write(Paths.get(opts("out") + ".spans.jsonl"), t.spanLines().asJava)
    }
    rec.spark.stop()
  }
}
